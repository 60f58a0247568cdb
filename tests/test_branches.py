"""Audit branches (Iceberg branch refs + fast_forward): branch commits
leave main untouched, fast-forward replays them metadata-only when main
hasn't moved, conflicts otherwise; maintenance treats branch-referenced
files as live until the branch is dropped.
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


def _base(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    rows = [(f"k{i}", f"d{i % 2}", i) for i in range(10)]
    wh.insert("ns", "t", _df(spark, rows).coalesce(1))
    return {r[0]: r for r in rows}


def _state(wh, branch=None):
    return {
        r.id: (r.id, r.day, r.v)
        for r in wh.read("ns", "t", branch=branch).collect()
    }


def test_branch_commits_leave_main_untouched(spark, wh):
    expect_main = _base(spark, wh)
    fork = wh.create_branch("ns", "t", "audit")
    assert wh.list_branches("ns", "t") == ["audit"]
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 100)]).coalesce(1), branch="audit")
    wh.merge_upsert("ns", "t", _df(spark, [("k1", "d1", 999)]), branch="audit")
    assert _state(wh) == expect_main
    got = _state(wh, branch="audit")
    assert got["b1"] == ("b1", "d0", 100) and got["k1"] == ("k1", "d1", 999)
    assert wh.current_version("ns", "t") == fork
    assert wh.current_version("ns", "t", branch="audit") == fork + 2
    # branch time travel: the fork snapshot is readable on the branch
    assert _state(wh, branch="audit") != expect_main
    assert {
        r.id for r in wh.read("ns", "t", version=fork, branch="audit").collect()
    } == set(expect_main)


def test_fast_forward_replays_and_consumes_branch(spark, wh):
    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 100)]).coalesce(1), branch="audit")
    wh.merge_upsert("ns", "t", _df(spark, [("k2", "d0", 222)]), branch="audit")
    want = _state(wh, branch="audit")
    tip = wh.fast_forward("ns", "t", "audit")
    assert _state(wh) == want
    assert wh.current_version("ns", "t") == tip
    assert wh.list_branches("ns", "t") == []
    # replayed snapshots are time-travelable on main
    assert len(wh.history("ns", "t")) >= 3


def test_fast_forward_conflicts_if_main_moved(spark, wh):
    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 100)]).coalesce(1), branch="audit")
    wh.insert("ns", "t", _df(spark, [("m1", "d0", 50)]).coalesce(1))  # main moves
    with pytest.raises(CommitConflictError, match="fast-forward"):
        wh.fast_forward("ns", "t", "audit")
    # branch left intact for inspection
    assert wh.list_branches("ns", "t") == ["audit"]
    assert "b1" in _state(wh, branch="audit")
    assert "b1" not in _state(wh)


def test_mor_branch_fast_forward_carries_deletes(spark, wh):
    expect = _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    gone = _df(spark, [("k3", "d1", 0)]).withColumn("_del", F.lit(True))
    wh.merge_upsert(
        "ns", "t", gone, delete_col="_del", strategy="mor", branch="audit"
    )
    wh.merge_upsert(
        "ns", "t", _df(spark, [("k4", "d0", 444)]), strategy="mor", branch="audit"
    )
    assert wh.deletes_df("ns", "t", branch="audit").count() >= 2
    del expect["k3"]
    expect["k4"] = ("k4", "d0", 444)
    assert _state(wh, branch="audit") == expect
    wh.fast_forward("ns", "t", "audit")
    assert _state(wh) == expect
    assert wh.count_rows("ns", "t") == len(expect)
    # compaction folds the carried backlog on main
    wh.compact("ns", "t", min_files_per_partition=1)
    assert wh.deletes_df("ns", "t").collect() == []
    assert _state(wh) == expect


def test_drop_branch_then_orphan_cleanup_reclaims_files(spark, wh):
    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 100)]).coalesce(1), branch="audit")
    # while the branch lives, its files are NOT orphans
    assert wh.remove_orphan_files("ns", "t", older_than_seconds=0)[
        "removed_files"
    ] == 0
    wh.drop_branch("ns", "t", "audit")
    assert wh.remove_orphan_files("ns", "t", older_than_seconds=0)[
        "removed_files"
    ] >= 1
    assert set(_state(wh)) == {f"k{i}" for i in range(10)}


def test_expire_on_main_spares_branch_files(spark, wh):
    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.merge_upsert("ns", "t", _df(spark, [("k0", "d0", 7)]), branch="audit")
    # churn main so expiration has something to drop
    for i in range(3):
        wh.insert("ns", "t", _df(spark, [(f"m{i}", "d0", i)]).coalesce(1))
    wh.expire_snapshots("ns", "t", keep_last=1)
    got = _state(wh, branch="audit")
    assert got["k0"] == ("k0", "d0", 7)


def test_branch_validation(spark, wh):
    _base(spark, wh)
    with pytest.raises(ValueError, match="bad branch name"):
        wh.create_branch("ns", "t", "bad/name")
    wh.create_branch("ns", "t", "audit")
    with pytest.raises(ValueError, match="already exists"):
        wh.create_branch("ns", "t", "audit")
    with pytest.raises(ValueError, match="unknown branch"):
        wh.read("ns", "t", branch="nope")
    with pytest.raises(ValueError, match="unknown branch"):
        wh.fast_forward("ns", "t", "nope")
    with pytest.raises(ValueError, match="schema evolution"):
        wh.insert(
            "ns", "t",
            _df(spark, [("x", "d0", 1)]),
            merge_schema=True, branch="audit",
        )


def test_fast_forward_resumes_after_partial_replay(spark, wh, monkeypatch):
    """A fast-forward that crashed after replaying some commits leaves
    main holding a branch PREFIX; re-running completes the replay
    instead of conflicting (main is still an ancestor-or-prefix)."""
    import sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse as whmod

    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 1)]).coalesce(1), branch="audit")
    wh.insert("ns", "t", _df(spark, [("b2", "d0", 2)]).coalesce(1), branch="audit")
    want = _state(wh, branch="audit")

    orig_link = whmod.os.link
    calls = {"n": 0}

    def crashing_link(src, dst):
        # replay now hard-links branch manifests; crash on the second
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-replay")
        return orig_link(src, dst)

    monkeypatch.setattr(whmod.os, "link", crashing_link)
    with pytest.raises(RuntimeError, match="crash"):
        wh.fast_forward("ns", "t", "audit")
    monkeypatch.setattr(whmod.os, "link", orig_link)
    # main has the first branch commit only; branch intact
    assert "b1" in _state(wh) and "b2" not in _state(wh)
    assert wh.list_branches("ns", "t") == ["audit"]
    wh.fast_forward("ns", "t", "audit")
    assert _state(wh) == want
    assert wh.list_branches("ns", "t") == []
    # history: gap-free and matching the version set
    tdir = wh._table_dir("ns", "t")
    idx = wh._commit_index(tdir)
    assert [r["version"] for r in idx] == wh._versions(tdir)


def test_fast_forward_still_conflicts_on_real_divergence(spark, wh, monkeypatch):
    import sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse as whmod

    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 1)]).coalesce(1), branch="audit")
    wh.insert("ns", "t", _df(spark, [("m1", "d0", 9)]).coalesce(1))  # diverge
    with pytest.raises(CommitConflictError, match="fast-forward"):
        wh.fast_forward("ns", "t", "audit")


def test_fast_forward_preserves_branch_commit_timestamps(spark, wh):
    """Replayed commits keep the BRANCH manifest's original wall clock
    (Iceberg fast_forward preserves snapshot timestamps), so
    ``FOR TIMESTAMP AS OF`` on main resolves to fork-time stamps, not
    replay time."""
    import time

    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 1)]).coalesce(1), branch="audit")
    v_branch = wh.current_version("ns", "t", branch="audit")
    tdir = wh._table_dir("ns", "t")
    branch_ts = wh._manifest_doc(tdir, v_branch, "audit")["ts"]
    after_commit = time.time()
    time.sleep(0.05)
    wh.fast_forward("ns", "t", "audit")
    main_ts = wh._manifest_doc(tdir, v_branch)["ts"]
    assert main_ts == branch_ts  # replay carried the original stamp
    # timestamp travel on main sees the branch commit as of fork time
    assert wh.snapshot_as_of("ns", "t", after_commit) == v_branch


def test_snapshot_as_of_uses_commit_index_o1_opens(spark, wh, monkeypatch):
    """Timestamp resolution reads each version's header line only: it
    builds ZERO manifest docs."""
    import time

    import sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse as whmod

    _base(spark, wh)
    wh.insert("ns", "t", _df(spark, [("x1", "d0", 1)]).coalesce(1))
    now = time.time()
    tip = wh.current_version("ns", "t")
    assert wh.snapshot_as_of("ns", "t", now) == tip  # warms/validates idx

    calls = {"n": 0}
    orig = whmod.Warehouse._manifest_doc

    def counting(self, tdir, version, branch=None):
        calls["n"] += 1
        return orig(self, tdir, version, branch)

    monkeypatch.setattr(whmod.Warehouse, "_manifest_doc", counting)
    assert wh.snapshot_as_of("ns", "t", now) == tip
    assert calls["n"] == 0
    # bare-digit epoch string resolves too (Delta/Trino unquoted epoch)
    assert wh.snapshot_as_of("ns", "t", str(now)) == tip


def test_snapshot_as_of_epoch_millis_micros_and_yyyymmdd(spark, wh):
    """Delta/Trino users paste epoch MILLIS (13 digits) or MICROS (16);
    both must land on the intended instant, not parse as far-future
    seconds and silently resolve to the newest snapshot. Digit-only
    8-char strings are YYYYMMDD dates, not epochs."""
    import time

    import pytest as _pytest

    _base(spark, wh)
    v1 = wh.current_version("ns", "t")
    time.sleep(0.05)  # > 1ms so millis TRUNCATION stays above v1's ts
    t_between = time.time()
    time.sleep(0.05)
    wh.insert("ns", "t", _df(spark, [("z1", "d0", 99)]).coalesce(1))
    tip = wh.current_version("ns", "t")
    assert tip > v1
    # millis / micros strings between the two commits -> v1, not tip
    assert wh.snapshot_as_of("ns", "t", str(int(t_between * 1e3))) == v1
    assert wh.snapshot_as_of("ns", "t", str(int(t_between * 1e6))) == v1
    # seconds string still works
    assert wh.snapshot_as_of("ns", "t", str(t_between)) == v1
    # YYYYMMDD takes the ISO-date path: far future -> tip, 1970 -> raises
    assert wh.snapshot_as_of("ns", "t", "99990101") == tip
    with _pytest.raises(ValueError, match="no snapshot"):
        wh.snapshot_as_of("ns", "t", "19700101")


def test_cherrypick_single_branch_commit(spark, wh):
    """WAP publish primitive: pick ONE audited branch commit onto main
    without fast-forwarding the branch; the branch stays intact and
    main gains exactly that commit's rows (metadata-only re-reference
    of the same physical files)."""
    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    wh.insert("ns", "t", _df(spark, [("b1", "d0", 1)]).coalesce(1), branch="audit")
    v2 = wh.insert("ns", "t", _df(spark, [("b2", "d0", 2)]).coalesce(1), branch="audit")
    wh.cherrypick("ns", "t", v2, branch_from="audit")
    main = _state(wh)
    assert "b2" in main and "b1" not in main
    assert wh.list_branches("ns", "t") == ["audit"]
    # audit branch unchanged
    assert {r.id for r in wh.read("ns", "t", branch="audit").collect()} >= {"b1", "b2"}


def test_cherrypick_refuses_removal_commits(spark, wh):
    _base(spark, wh)
    wh.insert("ns", "t", _df(spark, [("x", "d0", 9)]).coalesce(1))
    wh.delete_where("ns", "t", [("id", "=", "k0")])
    v_del = wh.current_version("ns", "t")
    with pytest.raises(ValueError, match="cherry-pick"):
        wh.cherrypick("ns", "t", v_del)


def test_cherrypick_mor_merge_reapplies_equality_delete(spark, wh):
    """A MoR merge commit (data + equality-delete files, nothing
    removed) cherry-picks onto main and its delete re-applies there:
    the upsert-publish shape."""
    _base(spark, wh)
    wh.create_branch("ns", "t", "audit")
    src = _df(spark, [("k1", "d1", 999)])
    v = wh.merge_upsert("ns", "t", src, strategy="mor", branch="audit")
    # main still has the old k1
    assert _state(wh)["k1"][2] != 999
    wh.cherrypick("ns", "t", v, branch_from="audit")
    assert _state(wh)["k1"] == ("k1", "d1", 999)
