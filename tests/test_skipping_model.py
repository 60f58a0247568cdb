"""Property test: manifest data skipping is SOUND -- a file whose rows
contain any match for the predicate set is never pruned. (Completeness
-- skipping as much as possible -- is a performance property; soundness
is correctness and must hold for every stats/predicate combination.)"""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    _PRUNE_OPS,
    Warehouse,
    _BulkKeyProbe,
    _bloom_positions,
    _build_bloom,
    _entry_may_hold_any,
    _entry_may_match,
    _pack_blooms,
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


# -- the file-metrics column policy and Bloom pack sizing -------------------


def _bloom_with(values, m: int, k: int) -> dict:
    """A str-key Bloom of the given (m, k) with the engine's positions:
    what an earlier sizing rule, which made m a power of two, wrote."""
    bits = bytearray(m // 8)
    for v in values:
        for p in _bloom_positions(v, m, k):
            bits[p // 8] |= 1 << (p % 8)
    return {"type": "str", "bits": bytes(bits).hex(), "m": m, "k": k}


def test_bulk_probe_matches_scalar_on_every_pack_size(tmp_path):
    """The bulk probe takes positions mod m as the scalar probe does, so
    it decides exactly as the scalar loop over Blooms whose m is not a
    power of two (the 1/4-octave sizing) and over the power-of-two Blooms
    of earlier packs, inline and moved into packs, more than 64 of one
    (m, k) to a group."""
    import copy
    import random

    rng = random.Random(11)
    entries = []
    for i in range(140):
        n = (21, 40, 300, 1000)[i % 4]
        keys = [f"TXN_{i * 10_000 + j}" for j in rng.sample(range(3 * n), n)]
        if i % 3 == 0:  # written before: m the next power of two
            bloom = _bloom_with(keys, max(512, 1 << (24 * n - 1).bit_length()), 16)
        else:
            bloom = _build_bloom(keys)
        # no stats: only the Bloom can prune
        entries.append({"blooms": {"k": bloom}, "keys": keys})
    sizes = {e["blooms"]["k"]["m"] for e in entries}
    assert any(m & (m - 1) for m in sizes) and 32768 in sizes and 24576 in sizes
    packed = copy.deepcopy(entries)
    for i, e in enumerate(packed):
        e["path"] = f"data/c{i}/f.parquet"
        (tmp_path / "data" / f"c{i}").mkdir(parents=True)
    _pack_blooms(str(tmp_path), packed)
    # hits in every fourth file, plus 1,500 keys that no file holds
    batch = {e["keys"][0] for e in entries[::4]}
    batch |= {f"TXN_{v}" for v in rng.sample(range(10**7, 2 * 10**7), 1500)}
    scalar = [_entry_may_hold_any(e, "k", batch) for e in entries]
    assert scalar[::4] == [True] * len(entries[::4]) and not all(scalar)
    probe = _BulkKeyProbe(batch)
    assert probe.entries_may_hold_any(entries, "k") == scalar
    assert [probe.entry_may_hold_any(e, "k") for e in entries] == scalar
    pack_probe = _BulkKeyProbe(batch, str(tmp_path))
    assert pack_probe.entries_may_hold_any(packed, "k") == scalar


WIDE = StructType(
    [StructField(f"c{i}", LongType()) for i in range(8)]
    + [
        StructField("wo", LongType()),
        StructField("id", StringType(), False),
        StructField("day", StringType()),
        StructField("late", LongType()),
    ]
)
# the policy's columns of WIDE keyed on id, partitioned by day and
# written in wo order: all but ``late``
WIDE_STATS = {f"c{i}" for i in range(8)} | {"wo", "id", "day"}


def _wide_table(spark, tmp_path, write_order=None):
    """Three commits into two day partitions of the 12-column WIDE table:
    c0 (= row number) and ``late`` rise across commits, ``wo`` does not."""
    wh = Warehouse(spark, str(tmp_path))
    wh.create_namespace("ns")
    wh.create_table("ns", "w", WIDE, key="id", partition_by="day")
    if write_order:
        wh.set_write_order("ns", "w", write_order)
    for c in range(3):
        rows = [
            (*(j * (i + 1) for i in range(8)), j % 7, f"k{j:04d}", f"d{j % 2}", j)
            for j in range(c * 100, c * 100 + 100)
        ]
        wh.insert("ns", "w", spark.createDataFrame(rows, WIDE).coalesce(1))
    return wh


def _phys(wh, cols) -> set[str]:
    phys = wh.table_meta("ns", "w").get("physical") or {}
    return {phys.get(c, c) for c in cols}


def test_stats_columns_policy():
    """Partition sources of every spec, key, write order, identity
    columns, the caller's sort columns and the first 8 columns, resolved
    to physical names; a spec naming a column no longer in the schema
    contributes nothing."""
    schema = StructType(
        WIDE.fields
        + [StructField("ident", LongType()), StructField("zc", LongType())]
    )
    meta = {
        "schema": schema.jsonValue(),
        "key": "id",
        "partition_specs": ["gone", "day", "bucket(4, late)"],
        "partition_by": "bucket(4, late)",
        "write_order": ["wo"],
        "identity": {"ident": {"start": 1, "step": 1}},
        "physical": {"id": "id_p1", "late": "late_p2", "c0": "c0_p3"},
    }
    wh = Warehouse.__new__(Warehouse)  # the policy reads only the meta
    base = {"c0_p3", *(f"c{i}" for i in range(1, 8))}
    base |= {"wo", "id_p1", "day", "late_p2", "ident"}
    assert wh._stats_columns(meta) == base
    assert wh._stats_columns(meta, ("zc",)) == base | {"zc"}
    assert wh._stats_columns({"schema": WIDE.jsonValue()}) == {
        f"c{i}" for i in range(8)
    }


def test_files_keep_min_max_only_for_policy_columns(spark, tmp_path):
    wh = _wide_table(spark, tmp_path, write_order=["wo"])
    files = wh.plan_files("ns", "w")[0]
    assert len(files) == 6
    assert all(set(e["stats"]) == _phys(wh, WIDE_STATS) for e in files)
    # no stats on `late`: a predicate on it keeps every file, and the
    # row filter still returns exactly the matching rows
    for preds in ([("late", "=", 150)], [("late", ">=", 290)]):
        assert len(wh.plan_files("ns", "w", predicates=preds)[0]) == len(files)
    rows = wh.read("ns", "w", predicates=[("late", ">=", 290)]).collect()
    assert sorted(r.late for r in rows) == list(range(290, 300))
    # a policy column prunes as before
    assert len(wh.plan_files("ns", "w", predicates=[("c0", ">=", 200)])[0]) == 2


def test_zorder_bounds_share_one_aggregate(spark, tmp_path, monkeypatch):
    """Z-order columns the files keep no stats for (wo and late here)
    are bounded by ONE min/max aggregate over the rewrite set; a policy
    column keeps its manifest stats."""
    wh = _wide_table(spark, tmp_path)
    rewrite = wh.plan_files("ns", "w")[0]
    df = wh.read("ns", "w")
    calls = []
    agg = type(df).agg
    monkeypatch.setattr(
        type(df), "agg", lambda self, *a: calls.append(len(a)) or agg(self, *a)
    )
    bounds = Warehouse._zorder_bounds(
        ["c0", "wo", "late"], wh.schema("ns", "w"),
        wh.table_meta("ns", "w").get("physical") or {}, rewrite, df,
    )
    assert calls == [4]  # min and max of wo and late, one pass
    assert bounds["wo"] == [[0, 6]] and bounds["late"] == [[0, 299]]
    assert len(bounds["c0"]) == len(rewrite)


def test_renamed_partition_source_keeps_its_stats(spark, tmp_path):
    """A rename updates partition_by but not the spec history: files
    written after renaming the partition source (past the first 8
    columns) still carry its min/max and prune on a range predicate."""
    wh = Warehouse(spark, str(tmp_path))
    wh.create_namespace("ns")
    wh.create_table("ns", "w", WIDE, key="id", partition_by="bucket(2, late)")
    wh.rename_column("ns", "w", "late", "later")
    schema = wh.schema("ns", "w")
    for c in range(3):
        rows = [
            (*(j % 3 for _ in range(8)), j % 7, f"k{j:04d}", f"d{j % 2}", j)
            for j in range(c * 100, c * 100 + 100)
        ]
        wh.insert("ns", "w", spark.createDataFrame(rows, schema).coalesce(1))
    files = wh.plan_files("ns", "w")[0]
    (later,) = _phys(wh, ["later"])
    assert all(later in e["stats"] for e in files)
    kept = wh.plan_files("ns", "w", predicates=[("later", ">=", 250)])[0]
    assert 0 < len(kept) < len(files)
    rows = wh.read("ns", "w", predicates=[("later", ">=", 250)]).collect()
    assert sorted(r.later for r in rows) == list(range(250, 300))


def test_compact_sort_by_late_column_records_and_prunes_on_it(spark, tmp_path):
    wh = _wide_table(spark, tmp_path)
    assert not any(
        _phys(wh, ["late"]) & set(e["stats"]) for e in wh.plan_files("ns", "w")[0]
    )
    # the z-order axis of a column the files keep no stats for scales
    # by one aggregate over the rewrite set instead
    wh.compact("ns", "w", sort_by=["late"], target_files=3)
    files = wh.plan_files("ns", "w")[0]
    (late,) = _phys(wh, ["late"])
    assert all(late in e["stats"] for e in files)
    assert min(e["stats"][late][0] for e in files) == 0
    assert max(e["stats"][late][1] for e in files) == 299
    kept = wh.plan_files("ns", "w", predicates=[("late", "<", 50)])[0]
    assert 0 < len(kept) < len(files)
    rows = wh.read("ns", "w", predicates=[("late", "<", 50)]).collect()
    assert sorted(r.late for r in rows) == list(range(50))
