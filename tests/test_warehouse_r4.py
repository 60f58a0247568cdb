"""Round-4 warehouse behaviors: manifest-pruned row-level DML
(file-level copy-on-write), rebase conflict validation table-wide,
append schema rebase, snapshot-bound column mapping across drop+re-add,
string/date Z-order, serialized schema swaps, legacy bloom tolerance,
and grant row-filter pushdown into manifest pruning.
"""

from __future__ import annotations

import os
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


# ---------------------------------------------------------------------------
# VERDICT r3 #1: row-level DML probe is manifest-pruned + file-level CoW
# ---------------------------------------------------------------------------


def _ranged_table(spark, wh, n_chunks=4, rows_per_chunk=10):
    """A table whose commits have disjoint v-ranges (and key blooms), so
    selective predicates are provably prunable from the manifest."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    for c in range(n_chunks):
        rows = [
            (f"k{c * rows_per_chunk + i}", f"d{c % 2}", c * 100 + i)
            for i in range(rows_per_chunk)
        ]
        wh.insert("ns", "t", _df(spark, rows).coalesce(1))
    return wh


def test_delete_where_probe_is_manifest_pruned(spark, wh):
    """DELETE with tuple predicates probes strictly fewer files than the
    manifest total (min/max skipping) and rewrites only files that hold
    matches -- not whole partitions."""
    _ranged_table(spark, wh)
    res = wh.delete_where("ns", "t", [("v", ">=", 300)])
    assert res["deleted_rows"] == 10
    assert res["manifest_files"] >= 4
    assert 0 < res["probed_files"] < res["manifest_files"]
    assert res["rewritten_files"] < res["manifest_files"]
    got = {r.id for r in wh.read("ns", "t").collect()}
    assert got == {f"k{i}" for i in range(30)}


def test_delete_where_key_bloom_prunes_probe(spark, wh):
    """A point DELETE on the bloom'd key column probes only files whose
    bloom may contain the key."""
    _ranged_table(spark, wh)
    res = wh.delete_where("ns", "t", [("id", "=", "k5")])
    assert res["deleted_rows"] == 1
    assert res["probed_files"] < res["manifest_files"]
    assert res["rewritten_files"] == 1
    assert wh.read("ns", "t").count() == 39


def test_delete_file_level_carryover_within_partition(spark, wh):
    """Files of a TOUCHED partition that hold no matching rows carry
    over by reference (file-level CoW, not partition-level)."""
    _ranged_table(spark, wh)  # d0 holds chunks 0,2; d1 holds chunks 1,3
    tdir = wh._table_dir("ns", "t")
    before = {
        e["path"] for e in wh._manifest(tdir, wh.current_version("ns", "t"))
    }
    # matches only chunk-0 rows (v in [0,9]), all in partition d0;
    # chunk-2 files (v in [200,209]) share partition d0 and must survive
    res = wh.delete_where("ns", "t", [("v", "<", 10)])
    assert res["deleted_rows"] == 10
    after = {
        e["path"] for e in wh._manifest(tdir, wh.current_version("ns", "t"))
    }
    carried = before & after
    # chunks 1,2,3 files all carried -- including chunk 2 in partition d0
    assert len(carried) == res["manifest_files"] - res["rewritten_files"]
    vals = {r.v for r in wh.read("ns", "t").collect()}
    assert vals == {c * 100 + i for c in (1, 2, 3) for i in range(10)}


def test_update_where_tuple_predicates(spark, wh):
    _ranged_table(spark, wh)
    res = wh.update_where(
        "ns", "t", {"v": F.col("v") + 1000}, [("v", ">=", 300)]
    )
    assert res["updated_rows"] == 10
    assert res["probed_files"] < res["manifest_files"]
    assert wh.read("ns", "t").filter(F.col("v") >= 1300).count() == 10


def test_merge_small_batch_bloom_prunes_probe(spark, wh):
    """A small MERGE batch collects its key set and prunes the match
    probe via per-file key blooms: files that provably hold none of the
    batch keys never reach the probe scan."""
    _ranged_table(spark, wh)
    src = _df(spark, [("k5", "d9", 999)])  # key k5 lives in chunk 0 (d0)
    wh.merge_upsert("ns", "t", src)
    stats = wh.last_merge_stats
    assert stats["probed_files"] < stats["manifest_files"]
    assert stats["rewritten_files"] == 1  # file-level CoW: only k5's file
    row = wh.read("ns", "t").filter(F.col("id") == "k5").collect()
    assert [(r.day, r.v) for r in row] == [("d9", 999)]
    assert wh.read("ns", "t").count() == 40


# ---------------------------------------------------------------------------
# ADVICE r3: rebase validation of concurrent out-of-scope files
# ---------------------------------------------------------------------------


def _steal_commit(wh, ns, table):
    """Simulate a concurrent commit landing first: returns a function
    that publishes the given df at the current tip."""
    tdir = wh._table_dir(ns, table)
    meta = wh.table_meta(ns, table)

    def commit(df):
        files = wh._write_files(
            tdir, wh._validated(df, meta), meta["partition_by"],
            bloom_col=meta.get("key"),
        )
        v = wh._versions(tdir)[-1]
        wh._publish(tdir, v + 1, wh._manifest(tdir, v) + files,
                    schema=meta["schema"])

    return commit


def test_merge_rebase_conflicts_on_matching_key_in_untouched_partition(
    spark, wh, monkeypatch
):
    """A concurrent append of a MATCHING key into an untouched partition
    must fail the rebase (blind carry-over would duplicate the key)."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1), ("b", "d2", 2)]))
    commit = _steal_commit(wh, "ns", "t")
    orig = Warehouse._publish
    fired = {"n": 0}

    def racing_publish(self, tdir, version, files, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            # concurrent writer appends key 'a' into untouched d3 first
            commit(_df(spark, [("a", "d3", 77)]))
        return orig(self, tdir, version, files, **kw)

    monkeypatch.setattr(Warehouse, "_publish", racing_publish)
    with pytest.raises(CommitConflictError):
        wh.merge_upsert("ns", "t", _df(spark, [("a", "d1", 10)]))


def test_merge_rebase_accepts_nonmatching_concurrent_append(
    spark, wh, monkeypatch
):
    """A concurrent append of UNRELATED keys into another partition
    rebases cleanly (fast-append compatibility preserved)."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1), ("b", "d2", 2)]))
    commit = _steal_commit(wh, "ns", "t")
    orig = Warehouse._publish
    fired = {"n": 0}

    def racing_publish(self, tdir, version, files, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            commit(_df(spark, [("z", "d3", 77)]))
        return orig(self, tdir, version, files, **kw)

    monkeypatch.setattr(Warehouse, "_publish", racing_publish)
    wh.merge_upsert("ns", "t", _df(spark, [("a", "d1", 10)]))
    got = {(r.id, r.day, r.v) for r in wh.read("ns", "t").collect()}
    assert got == {("a", "d1", 10), ("b", "d2", 2), ("z", "d3", 77)}


def test_delete_rebase_conflicts_on_matching_concurrent_append(
    spark, wh, monkeypatch
):
    """DELETE rebase raises when a concurrent commit appended rows that
    match the delete predicate outside the touched scope."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 5), ("b", "d2", 1)]))
    commit = _steal_commit(wh, "ns", "t")
    orig = Warehouse._publish
    fired = {"n": 0}

    def racing_publish(self, tdir, version, files, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            commit(_df(spark, [("c", "d3", 50)]))  # v=50 matches v>=5
        return orig(self, tdir, version, files, **kw)

    monkeypatch.setattr(Warehouse, "_publish", racing_publish)
    with pytest.raises(CommitConflictError):
        wh.delete_where("ns", "t", [("v", ">=", 5)])


# ---------------------------------------------------------------------------
# ADVICE r3: append retry adopts the tip's schema (no evolution rollback)
# ---------------------------------------------------------------------------


def test_append_losing_race_to_rename_keeps_rename(spark, wh, monkeypatch):
    """An insert that loses the version race to a concurrent
    rename_column must republish under the TIP's schema: the rename
    stays visible and the new rows read correctly through the mapping."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    orig = Warehouse._publish
    fired = {"n": 0}

    def racing_publish(self, tdir, version, files, **kw):
        # let the rename's own internal publish through untouched
        if fired["n"] == 0 and files:
            fired["n"] = 1
            monkeypatch.setattr(Warehouse, "_publish", orig)
            wh.rename_column("ns", "t", "v", "val")
        return orig(self, tdir, version, files, **kw)

    monkeypatch.setattr(Warehouse, "_publish", racing_publish)
    wh.insert("ns", "t", _df(spark, [("b", "d2", 2)]))
    cur = wh.read("ns", "t")
    assert cur.columns == ["id", "day", "val"]
    assert {(r.id, r.val) for r in cur.collect()} == {("a", 1), ("b", 2)}


def test_concurrent_schema_swaps_serialized(spark, wh):
    """Two schema ops racing from the same base: the loser raises
    CommitConflictError instead of silently erasing the winner."""
    from pyspark.sql.types import StructField as SF2

    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    tdir = wh._table_dir("ns", "t")
    meta1 = wh.table_meta("ns", "t")
    # first swap wins
    meta_a = dict(meta1)
    meta_a["schema"] = StructType([*SCHEMA.fields, SF2("x", LongType())]).jsonValue()
    wh._swap_table_meta(tdir, meta_a)
    # second swap from the SAME stale base must conflict
    meta_b = dict(meta1)
    meta_b["schema"] = StructType([*SCHEMA.fields, SF2("y", LongType())]).jsonValue()
    with pytest.raises(CommitConflictError):
        wh._swap_table_meta(tdir, meta_b)
    assert "x" in wh.schema("ns", "t").fieldNames()


# ---------------------------------------------------------------------------
# ADVICE r3: snapshot-bound mapping across drop + re-add (time travel)
# ---------------------------------------------------------------------------


def test_time_travel_after_drop_and_readd(spark, wh):
    """drop_column('v') then add_column('v'): time travel to the
    PRE-MAPPING snapshot must read the HISTORICAL v values (identity
    physical name), not NULLs from the fresh physical column."""
    from pyspark.sql.types import StructField as SF2

    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA)
    v1 = wh.insert("ns", "t", _df(spark, [("a", "d1", 11), ("b", "d2", 22)]))
    wh.drop_column("ns", "t", "v")
    wh.add_column("ns", "t", SF2("v", LongType()))
    # current read: v is the FRESH column -> all NULL
    assert {r.v for r in wh.read("ns", "t").collect()} == {None}
    # time travel: historical v values must survive
    hist = {(r.id, r.v) for r in wh.read("ns", "t", version=v1).collect()}
    assert hist == {("a", 11), ("b", 22)}
    # and predicate pushdown on the historical snapshot translates to
    # the identity physical name (would silently return 0 rows if the
    # CURRENT mapping leaked into the old snapshot)
    assert wh.read("ns", "t", version=v1, predicates=[("v", ">=", 20)]).count() == 1


# ---------------------------------------------------------------------------
# ADVICE r3: legacy (hex-string) bloom entries degrade to no-prune
# ---------------------------------------------------------------------------


def test_legacy_string_bloom_tolerated():
    assert whmod._bloom_may_contain("deadbeef", "k1") is True


def test_legacy_bloom_in_manifest_keeps_file():
    entry = {"stats": {}, "blooms": {"id": "ff00ff00"}}
    assert whmod._entry_may_match(entry, [("id", "=", "anything")]) is True


# ---------------------------------------------------------------------------
# ADVICE r3 + VERDICT #4: z-order bit budget and string/date columns
# ---------------------------------------------------------------------------


def test_zorder_four_columns_stays_nonnegative(spark):
    """4 columns x 16 bits would hit the sign bit; the per-column
    resolution must shrink so every key is non-negative."""
    axes = [(F.col(c), 0.0, 100.0) for c in ("a", "b", "c", "d")]
    df = spark.createDataFrame(
        [(100.0, 100.0, 100.0, 100.0), (0.0, 0.0, 0.0, 0.0)],
        "a double, b double, c double, d double",
    ).select(whmod._zorder_expr(axes).alias("z"))
    vals = [r.z for r in df.collect()]
    assert all(v >= 0 for v in vals)
    assert vals[0] == (1 << 60) - 1  # 15 bits x 4 cols, all ones


def test_zorder_too_many_columns_raises():
    with pytest.raises(ValueError):
        whmod._zorder_expr([(F.col(f"c{i}"), 0.0, 1.0) for i in range(64)])


def test_zorder_string_numeric_pair_prunes_both(spark, wh):
    """compact(sort_by=[string, numeric]) clusters so a predicate on
    EITHER column prunes files (mirrors the numeric 2-D grid test)."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    rows = [
        (f"k{i}", chr(ord("a") + (i % 8)) + "x", (i * 7) % 64)
        for i in range(512)
    ]
    # two interleaved halves -> every file spans both full domains
    wh.insert("ns", "t", _df(spark, rows[0::2]).coalesce(1))
    wh.insert("ns", "t", _df(spark, rows[1::2]).coalesce(1))
    wh.compact("ns", "t", sort_by=["day", "v"], target_files=8)
    all_files, _ = wh.plan_files("ns", "t")
    s_files, _ = wh.plan_files("ns", "t", predicates=[("day", "<", "c")])
    n_files, _ = wh.plan_files("ns", "t", predicates=[("v", "<", 16)])
    assert 0 < len(s_files) < len(all_files)
    assert 0 < len(n_files) < len(all_files)
    # correctness of the pruned read
    assert wh.read("ns", "t", predicates=[("day", "<", "c")]).count() == sum(
        1 for _i, d, _v in rows if d < "c"
    )


def test_zorder_date_column(spark, wh):
    import datetime

    from pyspark.sql.types import DateType

    schema = StructType(
        [
            StructField("id", StringType(), False),
            StructField("d", DateType()),
            StructField("v", LongType()),
        ]
    )
    wh.create_namespace("ns")
    wh.create_table("ns", "t", schema)
    rows = [
        (f"k{i}", datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 32), (i * 5) % 32)
        for i in range(256)
    ]
    df = spark.createDataFrame(rows, schema)
    wh.insert("ns", "t", df.filter(F.col("v") % 2 == 0).coalesce(1))
    wh.insert("ns", "t", df.filter(F.col("v") % 2 == 1).coalesce(1))
    wh.compact("ns", "t", sort_by=["d", "v"], target_files=8)
    all_files, _ = wh.plan_files("ns", "t")
    d_files, _ = wh.plan_files(
        "ns", "t", predicates=[("d", "<", datetime.date(2024, 1, 9))]
    )
    assert 0 < len(d_files) < len(all_files)
    got = wh.read(
        "ns", "t", predicates=[("d", "<", datetime.date(2024, 1, 9))]
    ).count()
    assert got == sum(1 for _i, d, _v in rows if d < datetime.date(2024, 1, 9))


# ---------------------------------------------------------------------------
# VERDICT #5: grant row filters push into manifest pruning
# ---------------------------------------------------------------------------


def test_grant_row_filter_prunes_files(spark, wh):
    """A simple-comparison row filter on a governed read skips files at
    the manifest level, same as an ungoverned read(predicates=...)."""
    _ranged_table(spark, wh)
    wh.grant("consumer", "ns", "t", permissions=("SELECT",), row_filter="v >= 300")
    pushed = Warehouse._row_filter_predicates("v >= 300")
    assert pushed == [("v", ">=", 300)]
    all_files, _ = wh.plan_files("ns", "t")
    pruned, _ = wh.plan_files("ns", "t", predicates=pushed)
    assert 0 < len(pruned) < len(all_files)
    got = wh.read_as("consumer", "ns", "t")
    assert got.count() == 10
    assert {r.v for r in got.collect()} == {300 + i for i in range(10)}


def test_row_filter_translation_rules():
    t = Warehouse._row_filter_predicates
    assert t("a = 'x'") == [("a", "=", "x")]
    assert t("a >= 3 AND b < 2.5") == [("a", ">=", 3), ("b", "<", 2.5)]
    assert t("a % 3 = 0") is None  # complex: falls back to post-scan
    assert t("a = 1 OR b = 2") is None


# ---------------------------------------------------------------------------
# Snapshot tags (Iceberg refs) + orphan-file cleanup
# ---------------------------------------------------------------------------


def test_tags_time_travel_and_expire(spark, wh):
    """A tagged snapshot stays readable by name and survives
    expire_snapshots; untagged history is reclaimed."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    v1 = wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    wh.create_tag("ns", "t", "audit", v1)
    wh.insert("ns", "t", _df(spark, [("b", "d2", 2)]))
    wh.merge_upsert("ns", "t", _df(spark, [("a", "d1", 10)]))
    assert wh.refs("ns", "t") == {"audit": v1}
    # time travel by name
    got = {(r.id, r.v) for r in wh.read("ns", "t", version="audit").collect()}
    assert got == {("a", 1)}
    res = wh.expire_snapshots("ns", "t", keep_last=1)
    assert v1 not in res["expired_versions"]  # tagged snapshot retained
    assert len(res["expired_versions"]) >= 2  # v0 + the middle insert
    # still readable after expiration
    assert {(r.id, r.v) for r in wh.read("ns", "t", version="audit").collect()} == {
        ("a", 1)
    }
    # current read unaffected
    assert {(r.id, r.v) for r in wh.read("ns", "t").collect()} == {
        ("a", 10),
        ("b", 2),
    }
    wh.drop_tag("ns", "t", "audit")
    with pytest.raises(ValueError):
        wh.read("ns", "t", version="audit")


def test_rollback_to_tag(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    wh.create_tag("ns", "t", "good")
    wh.insert("ns", "t", _df(spark, [("b", "d2", 2)]))
    wh.rollback_to("ns", "t", "good")
    assert {r.id for r in wh.read("ns", "t").collect()} == {"a"}


def test_remove_orphan_files(spark, wh):
    """Unreferenced parquet debris older than the horizon is deleted;
    live files and young files survive."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1), ("b", "d2", 2)]))
    tdir = wh._table_dir("ns", "t")
    # simulate a crashed write: staged files that never published
    orphan_dir = os.path.join(tdir, "data", "deadc0ffee")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    young = os.path.join(orphan_dir, "part-young.parquet")
    with open(young, "wb") as f:
        f.write(b"in-flight commit")
    os.utime(orphan, (0, 0))  # ancient
    res = wh.remove_orphan_files("ns", "t", older_than_seconds=3600)
    assert res == {"removed_files": 1}
    assert not os.path.exists(orphan)
    assert os.path.exists(young)  # within the in-flight horizon
    # table still fully readable
    assert wh.read("ns", "t").count() == 2
    # second pass with horizon 0 reclaims the young debris too
    res2 = wh.remove_orphan_files("ns", "t", older_than_seconds=0)
    assert res2 == {"removed_files": 1}
    assert wh.read("ns", "t").count() == 2


def test_partitions_df(spark, wh):
    """Per-partition metadata table sums files/records/bytes from the
    manifest alone."""
    _ranged_table(spark, wh)  # 4 commits: d0 x2 files, d1 x2 files
    rows = {r.partition: (r.n_files, r.records) for r in
            wh.partitions_df("ns", "t").collect()}
    assert rows == {"d0": (2, 20), "d1": (2, 20)}
    wh.delete_where("ns", "t", [("v", ">=", 300)])  # kills chunk 3 (d1)
    rows2 = {r.partition: (r.n_files, r.records) for r in
             wh.partitions_df("ns", "t").collect()}
    assert rows2 == {"d0": (2, 20), "d1": (1, 10)}


# ---------------------------------------------------------------------------
# Write-audit-publish (Iceberg WAP stage-only commits)
# ---------------------------------------------------------------------------


def test_wap_stage_audit_publish(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    sid = wh.insert_staged("ns", "t", _df(spark, [("b", "d2", 2)]))
    assert wh.list_staged("ns", "t") == [sid]
    # invisible to normal reads (any version)
    assert {r.id for r in wh.read("ns", "t").collect()} == {"a"}
    # audit sees the staged batch alone and the would-be table
    assert {r.id for r in wh.read_staged("ns", "t", sid, only_staged=True).collect()} == {"b"}
    assert {r.id for r in wh.read_staged("ns", "t", sid).collect()} == {"a", "b"}
    v = wh.publish_staged("ns", "t", sid)
    assert wh.current_version("ns", "t") == v
    assert {r.id for r in wh.read("ns", "t").collect()} == {"a", "b"}
    assert wh.list_staged("ns", "t") == []
    with pytest.raises(ValueError):
        wh.publish_staged("ns", "t", sid)  # consumed


def test_wap_discard_deletes_files(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    sid = wh.insert_staged("ns", "t", _df(spark, [("bad", "d9", 666)]))
    res = wh.discard_staged("ns", "t", sid)
    assert res["removed_files"] >= 1
    assert wh.list_staged("ns", "t") == []
    assert {r.id for r in wh.read("ns", "t").collect()} == {"a"}
    # no debris: orphan scan finds nothing left to reclaim
    assert wh.remove_orphan_files("ns", "t", older_than_seconds=0) == {
        "removed_files": 0
    }


def test_wap_publish_survives_concurrent_append(spark, wh):
    """Publishing a staged batch is a fast-append: a concurrent insert
    between stage and publish rebases cleanly, keeping both."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    sid = wh.insert_staged("ns", "t", _df(spark, [("s", "d1", 1)]))
    wh.insert("ns", "t", _df(spark, [("c", "d2", 2)]))  # lands first
    wh.publish_staged("ns", "t", sid)
    assert {r.id for r in wh.read("ns", "t").collect()} == {"s", "c"}


def test_merge_empty_batch_is_noop(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    v = wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    assert wh.merge_upsert("ns", "t", _df(spark, []).limit(0)) == v
    assert wh.current_version("ns", "t") == v


def test_orphan_cleanup_spares_staged_batches(spark, wh):
    """WAP staged files are pinned by their staging record -- orphan
    cleanup must not reclaim them before publish/discard."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    sid = wh.insert_staged("ns", "t", _df(spark, [("s", "d2", 2)]))
    assert wh.remove_orphan_files("ns", "t", older_than_seconds=0) == {
        "removed_files": 0
    }
    wh.publish_staged("ns", "t", sid)
    assert {r.id for r in wh.read("ns", "t").collect()} == {"a", "s"}


# ---------------------------------------------------------------------------
# CHECK constraints + mergeSchema writes
# ---------------------------------------------------------------------------


def test_check_constraint_blocks_bad_writes(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 5)]))
    wh.add_constraint("ns", "t", "v_positive", "v > 0")
    v = wh.current_version("ns", "t")
    # bad insert raises BEFORE any commit
    with pytest.raises(ValueError, match="v_positive|CHECK"):
        wh.insert("ns", "t", _df(spark, [("b", "d1", -3)]))
    assert wh.current_version("ns", "t") == v
    # bad MERGE raises too
    with pytest.raises(ValueError, match="CHECK"):
        wh.merge_upsert("ns", "t", _df(spark, [("a", "d1", -1)]))
    # bad UPDATE raises too
    with pytest.raises(ValueError, match="CHECK"):
        wh.update_where("ns", "t", {"v": F.lit(-9)}, [("id", "=", "a")])
    # good writes still flow; NULL passes (SQL-standard CHECK)
    wh.insert("ns", "t", _df(spark, [("c", "d2", 7), ("d", "d2", None)]))
    assert wh.read("ns", "t").count() == 3
    wh.drop_constraint("ns", "t", "v_positive")
    wh.insert("ns", "t", _df(spark, [("e", "d1", -5)]))
    assert wh.read("ns", "t").count() == 4


def test_add_constraint_rejects_violating_existing_data(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    wh.insert("ns", "t", _df(spark, [("a", "d1", -1)]))
    with pytest.raises(ValueError, match="existing rows violate"):
        wh.add_constraint("ns", "t", "v_positive", "v > 0")


def test_insert_merge_schema(spark, wh):
    """mergeSchema write: a batch with a new column evolves the table
    (metadata-only); old rows read the column as NULL."""
    from pyspark.sql.types import StructField as SF2

    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d1", 1)]))
    wide = spark.createDataFrame(
        [("b", "d2", 2, "extra")],
        StructType([*SCHEMA.fields, SF2("note", StringType())]),
    )
    # without merge_schema the align fails; with it the table evolves
    with pytest.raises(Exception):
        wh.insert("ns", "t", wide)
    wh.insert("ns", "t", wide, merge_schema=True)
    got = {(r.id, r.note) for r in wh.read("ns", "t").collect()}
    assert got == {("a", None), ("b", "extra")}


def test_auto_maintain(spark, wh):
    """Policy maintenance: compacts accumulated small files, expires old
    snapshots (keeping tags), reclaims orphans -- one call."""
    _ranged_table(spark, wh)  # 4 commits -> 2 small files per partition
    wh.create_tag("ns", "t", "keep_me", 1)
    tdir = wh._table_dir("ns", "t")
    orphan = os.path.join(tdir, "data", "junk.parquet")
    with open(orphan, "wb") as f:
        f.write(b"debris")
    os.utime(orphan, (0, 0))
    rep = wh.auto_maintain("ns", "t", min_files_per_partition=2, keep_last=1)
    assert rep["compacted"] is True
    assert rep["removed_orphan_files"] == 1
    assert 1 not in rep["expired_versions"]  # tagged snapshot kept
    # table content unchanged, now 1 file per partition
    assert wh.read("ns", "t").count() == 40
    parts = {r.partition: r.n_files for r in wh.partitions_df("ns", "t").collect()}
    assert parts == {"d0": 1, "d1": 1}
    # idempotent second run: nothing left to do
    rep2 = wh.auto_maintain("ns", "t", min_files_per_partition=2, keep_last=1)
    assert rep2["compacted"] is False
    assert rep2["removed_orphan_files"] == 0
