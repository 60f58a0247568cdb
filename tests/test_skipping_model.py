"""Property test: manifest data skipping is SOUND -- a file whose rows
contain any match for the predicate set is never pruned. (Completeness
-- skipping as much as possible -- is a performance property; soundness
is correctness and must hold for every stats/predicate combination.)"""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    _PRUNE_OPS,
    _build_bloom,
    _entry_may_match,
)

_OPS = {
    "=": lambda a, b: a == b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}

_values = st.one_of(
    st.integers(min_value=-1000, max_value=1000),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)


@given(
    rows=st.lists(_values, min_size=1, max_size=20),
    preds=st.lists(
        st.tuples(st.sampled_from(sorted(_PRUNE_OPS)), _values),
        min_size=1,
        max_size=4,
    ),
)
def test_pruning_is_sound(rows, preds):
    # keep the row type homogeneous like a real column
    rows = [type(rows[0])(v) for v in rows]
    entry = {"stats": {"c": [min(rows), max(rows)]}}
    predicates = [("c", op, v) for op, v in preds]
    any_match = any(
        all(_OPS[op](row, v) for _c, op, v in predicates) for row in rows
    )
    may = _entry_may_match(entry, predicates)
    if any_match:
        assert may, f"sound pruning violated: {rows} {predicates}"


def test_missing_stats_never_prune():
    assert _entry_may_match({"stats": {}}, [("c", "=", 5)])
    assert _entry_may_match({}, [("c", ">", 5)])
    assert _entry_may_match({"stats": {"c": [1, 2]}}, [("c", "=", None)])


def test_bloom_cross_type_predicate_never_prunes():
    """A typed predicate against a differently-typed bloom must NOT
    prune: the row filter may still match via implicit cast, so pruning
    would silently drop matching files ('prune only when provably no
    match'). Mirrors the min/max path's type-compatibility guard."""
    str_bloom = _build_bloom(["7", "8"])
    assert str_bloom["type"] == "str"
    entry = {"blooms": {"c": str_bloom}}
    # int predicate vs str bloom: kept, even though int 7 hashes differently
    assert _entry_may_match(entry, [("c", "=", 7)])
    int_bloom = _build_bloom([7, 8])
    assert int_bloom["type"] == "int"
    entry = {"blooms": {"c": int_bloom}}
    assert _entry_may_match(entry, [("c", "=", "7")])  # str vs int bloom: kept
    # same-type semantics still prune/keep correctly
    assert _entry_may_match(entry, [("c", "=", 7)])
    assert not _entry_may_match(entry, [("c", "=", 999)])


def test_bloom_canonicalizes_int_str_subclasses():
    """IntEnum / str-subclass predicate values hash like the plain
    values read back from parquet -- no false-negative prune."""
    import enum

    class Status(enum.IntEnum):
        OK = 7

    class MyStr(str):
        pass

    int_bloom = _build_bloom([7])
    assert _entry_may_match({"blooms": {"c": int_bloom}}, [("c", "=", Status.OK)])
    str_bloom = _build_bloom(["x"])
    assert _entry_may_match({"blooms": {"c": str_bloom}}, [("c", "=", MyStr("x"))])
    # and building FROM subclass values matches plain probes
    assert _entry_may_match({"blooms": {"c": _build_bloom([Status.OK])}}, [("c", "=", 7)])


def test_bloom_unsafe_or_mixed_columns_yield_no_bloom():
    assert _build_bloom([1.5, 2.5]) is None  # floats: lossy canonicalization
    assert _build_bloom([1, "a"]) is None  # mixed types
    assert _build_bloom([True, False]) is None  # bool: distinct SQL type
    assert _build_bloom([None, None]) is None  # all-null: no information


def test_bulk_key_probe_matches_scalar():
    """_BulkKeyProbe (vectorized pruning, the one key prune) must keep
    exactly the entries the scalar any(_entry_may_match) loop keeps,
    across: str, int, float and date keys, 1- to 4,000-key batches,
    range-prunable and bloom-prunable entries, missing stats/blooms,
    legacy bare-hex blooms, cross-type blooms, None keys (keep-all),
    the empty batch (prune-all), and mixed-type batches (bloom
    no-prune) -- with the Blooms inline and moved into Bloom packs,
    and through Warehouse._prune_entries_by_keys."""
    import copy
    import datetime
    import os
    import random
    import shutil
    import tempfile

    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
        Warehouse,
        _BulkKeyProbe,
        _build_bloom,
        _entry_may_hold_any,
        _pack_blooms,
    )

    rng = random.Random(7)

    def entry(vals, with_stats=True, with_bloom=True, legacy=False):
        e = {}
        svals = [v for v in vals if v is not None]
        if with_stats and svals:
            e["stats"] = {"k": [min(svals), max(svals)]}
        if with_bloom:
            b = _build_bloom(vals)
            if b is not None:
                e["blooms"] = {"k": "deadbeef" if legacy else b}
        return e

    str_entries = [
        entry([f"TXN_{i}" for i in range(lo, lo + 50)])
        for lo in range(0, 1000, 50)
    ] + [
        entry([f"TXN_{i}" for i in range(0, 1000, 7)], with_stats=False),
        entry([f"TXN_{i}" for i in range(3, 60)], with_bloom=False),
        entry(["TXN_1", "TXN_2"], legacy=True),
        {"stats": {"other": [0, 9]}},  # no info on k at all
        entry([5, 6, 7]),  # int bloom vs str batch: cross-type keep
        # date keys: manifests hold their stats as ISO strings
        {"stats": {"k": ["2024-01-01", "2024-01-31"]}},
        {"stats": {"k": ["2024-03-01", "2024-03-31"]}},
    ]
    int_entries = [
        entry(list(range(lo, lo + 50))) for lo in range(0, 1000, 50)
    ] + [entry(list(range(0, 5000, 13)), with_stats=False)]

    batches = [
        {f"TXN_{i}" for i in rng.sample(range(5000), 3000)},
        {f"TXN_{i}" for i in range(4000, 7000)},  # all-miss batch
        set(rng.sample(range(20000), 4000)),
        set(rng.sample(range(100), 50)) | {None},  # None -> keep all
        {f"TXN_{i}" for i in range(2500)} | set(range(100)),  # mixed
        # trigger-sized uniform batches: 1, 10 and 1,300 keys
        {"TXN_517"},
        {f"TXN_{i}" for i in rng.sample(range(5000), 10)},
        {f"TXN_{i}" for i in rng.sample(range(5000), 1300)},
        set(rng.sample(range(5000), 10)),
        {float(v) + 0.5 for v in rng.sample(range(2000), 10)},  # no bloom
        {datetime.date(2024, 3, d) for d in range(1, 11)},  # no bloom
        set(),  # no key: every entry pruned
    ]
    # the same entries with their Blooms moved into per-commit packs,
    # as every writer stores them: one pack per commit dir, here one
    # commit dir per entry (partitioned like a real table's files)
    tdir = tempfile.mkdtemp()
    packed: dict[int, list[dict]] = {}
    for group, entries in enumerate((str_entries, int_entries)):
        copies = copy.deepcopy(entries)
        for i, e in enumerate(copies):
            e["path"] = f"data/c{group}-{i}/_p=d{i % 3}/f.parquet"
            os.makedirs(os.path.join(tdir, f"data/c{group}-{i}"))
        _pack_blooms(tdir, copies)
        packed[id(entries)] = copies
    assert not any(
        "bits" in b
        for es in packed.values()
        for e in es
        for b in (e.get("blooms") or {}).values()
        if isinstance(b, dict)
    )
    wh = Warehouse.__new__(Warehouse)  # driver-side pruning needs no session
    for batch in batches:
        probe = _BulkKeyProbe(batch)
        pack_probe = _BulkKeyProbe(batch, tdir)
        uniform = len({type(v) for v in batch if v is not None}) <= 1
        for entries in (str_entries, int_entries):
            in_packs = packed[id(entries)]
            pack_bulk = pack_probe.entries_may_hold_any(in_packs, "k")
            kept = wh._prune_entries_by_keys(tdir, in_packs, "k", batch)
            assert [id(e) for e in kept] == [
                id(pe) for pe, pb in zip(in_packs, pack_bulk) if pb
            ]
            if uniform:
                assert [id(e) for e in kept] == [
                    id(pe) for pe in in_packs
                    if _entry_may_hold_any(pe, "k", batch, tdir)
                ]
            for e, pe, pb in zip(entries, in_packs, pack_bulk):
                scalar = _entry_may_hold_any(e, "k", batch)
                bulk = probe.entry_may_hold_any(e, "k")
                # pack-backed entries decide exactly as inline ones
                assert _entry_may_hold_any(pe, "k", batch, tdir) == scalar
                assert pack_probe.entry_may_hold_any(pe, "k") == bulk
                assert pb == bulk
                # exact parity, except bulk may be conservative (keep)
                # where scalar pruned ONLY for mixed-type batches
                if uniform:
                    assert bulk == scalar, (e.keys(), sorted(batch)[:3])
                else:
                    assert bulk or not scalar
    shutil.rmtree(tdir)
