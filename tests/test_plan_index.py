"""Selective planning over the transaction log's checkpoints.

Predicate planning must cost O(candidate partitions), not O(table): a
checkpoint groups the entries by partition value with merged min/max
stats per group, so a selective plan parses ONLY surviving partitions'
entries, plus the commits since the checkpoint. These tests pin:

- result parity: checkpoint plans == full-state plans (paths + schema)
- the counting invariant: entries parsed == surviving partitions'
  entries, and zero full-state loads
- a commit after the checkpoint is planned from its log entry
- historical versions plan from their own checkpoint and tail
- conservative stats merge: a group with ANY stats-less entry never
  prunes on that column
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources import txlog
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    Warehouse,
    _entry_may_match,
)

N_PARTS = 8
FILES_PER_PART = 50


def _entries(n_parts=N_PARTS, files_per_part=FILES_PER_PART, stats=True):
    out = []
    i = 0
    for p in range(n_parts):
        for j in range(files_per_part):
            e = {
                "path": f"data/day=d{p}/f{i:05d}.parquet",
                "partition": f"d{p}",
                "spec": 0,
                "bytes": 1 << 20,
                "records": 100,
            }
            if stats:
                # id ranges are partition-disjoint: partition p's file j
                # holds ids [p*100000 + j*10, p*100000 + j*10 + 9]
                e["stats"] = {
                    "id": [p * 100_000 + j * 10, p * 100_000 + j * 10 + 9],
                    "v": [i, i + 5],
                }
            out.append(e)
            i += 1
    return out


@pytest.fixture()
def wh(spark):
    with tempfile.TemporaryDirectory() as root:
        w = Warehouse(spark, root)
        # every version checkpointed: version 1's entries sit in groups
        w._CHECKPOINT_INTERVAL = 1
        w.create_namespace("ns")
        schema = StructType(
            [
                StructField("id", LongType(), False),
                StructField("day", StringType()),
                StructField("v", LongType()),
            ]
        )
        w.create_table("ns", "t", schema, key="id", partition_by="day")
        tdir = w._table_dir("ns", "t")
        meta = w.table_meta("ns", "t")
        w._publish(tdir, 1, _entries(), schema=meta["schema"], op="append")
        w._CHECKPOINT_INTERVAL = 10
        yield w


def _paths(entries):
    return sorted(e["path"] for e in entries)


def test_idx_plan_matches_full_parse(wh):
    tdir = wh._table_dir("ns", "t")
    vdir = wh._vdir(tdir)
    assert os.path.exists(txlog.checkpoint_path(vdir, 1))
    for preds in (
        [("id", "=", 300_005)],          # one partition
        [("id", "<", 150_000)],          # two partitions
        [("v", ">=", 0)],                # keeps everything
        [("id", ">", 10**9)],            # keeps nothing
        [("nope", "=", 1)],              # unknown column -> keep all
    ):
        got, schema = wh.plan_files("ns", "t", predicates=preds)
        # ground truth: the entry-level filter over the full state
        doc = wh._manifest_doc(tdir, 1)
        want = [e for e in doc["files"] if _entry_may_match(e, preds)]
        assert _paths(got) == _paths(want), preds
        assert schema is not None


def test_idx_plan_partition_filter_matches(wh):
    got, _ = wh.plan_files("ns", "t", partition_filter=["d3", "d5"])
    assert len(got) == 2 * FILES_PER_PART
    assert {e["partition"] for e in got} == {"d3", "d5"}


def test_counting_invariant_entries_parsed(wh, monkeypatch):
    """Selective plan: entries parsed == surviving partitions' entries;
    ZERO full-state loads."""
    calls = {"n": 0}
    orig = Warehouse._manifest_doc

    def counting(self, tdir, version, branch=None):
        calls["n"] += 1
        return orig(self, tdir, version, branch)

    monkeypatch.setattr(Warehouse, "_manifest_doc", counting)
    monkeypatch.setattr(txlog, "read_checkpoint", None)  # no full load
    wh._plan_counters.update(groups_loaded=0, entries_loaded=0)
    # partition-disjoint id ranges: this predicate survives exactly one
    # partition group
    got, _ = wh.plan_files("ns", "t", predicates=[("id", "=", 300_005)])
    assert calls["n"] == 0, "a selective plan must not build the full state"
    assert wh._plan_counters["groups_loaded"] == 1
    assert wh._plan_counters["entries_loaded"] == FILES_PER_PART
    assert len(got) >= 1
    assert all(e["partition"] == "d3" for e in got)


def test_idx_rebuilds_after_commit(wh):
    """A commit after the checkpoint is planned from its log entry (the
    checkpoint is not rebuilt per commit)."""
    tdir = wh._table_dir("ns", "t")
    meta = wh.table_meta("ns", "t")
    # new commit: one more partition, and one file of d3 dropped
    extra = [
        {
            "path": "data/day=d9/fx.parquet",
            "partition": "d9",
            "spec": 0,
            "bytes": 1,
            "records": 1,
            "stats": {"id": [10**7, 10**7], "v": [0, 0]},
        }
    ]
    doc = wh._manifest_doc(tdir, 1)
    gone = "data/day=d3/f00150.parquet"
    wh._publish(
        tdir, 2, [e for e in doc["files"] if e["path"] != gone] + extra,
        schema=meta["schema"], op="append",
    )
    vdir = wh._vdir(tdir)
    assert not os.path.exists(txlog.checkpoint_path(vdir, 2))
    assert txlog.read_version(vdir, 2)["add"] == extra
    got, _ = wh.plan_files("ns", "t", predicates=[("id", "=", 10**7)])
    assert _paths(got) == ["data/day=d9/fx.parquet"]
    got, _ = wh.plan_files("ns", "t", partition_filter=["d3"])
    assert len(got) == FILES_PER_PART - 1 and gone not in _paths(got)


def test_historical_version_falls_back(wh):
    """A historical version plans from its own checkpoint and tail."""
    tdir = wh._table_dir("ns", "t")
    meta = wh.table_meta("ns", "t")
    doc = wh._manifest_doc(tdir, 1)
    wh._publish(
        tdir, 2, doc["files"][: FILES_PER_PART], schema=meta["schema"],
        op="overwrite",
    )
    # time-traveled selective plan: correct at either version
    got, _ = wh.plan_files(
        "ns", "t", version=1, predicates=[("id", "=", 300_005)]
    )
    assert got and all(e["partition"] == "d3" for e in got)
    got2, _ = wh.plan_files("ns", "t", version=2, predicates=[("v", ">=", 0)])
    assert len(got2) == FILES_PER_PART


def test_statsless_entry_keeps_group_column(spark):
    """One stats-less entry in a partition poisons that column's group
    bound: the group must be KEPT for any predicate on it."""
    with tempfile.TemporaryDirectory() as root:
        w = Warehouse(spark, root)
        w._CHECKPOINT_INTERVAL = 1
        w.create_namespace("ns")
        schema = StructType([StructField("id", LongType(), False)])
        w.create_table("ns", "t", schema, key="id")
        tdir = w._table_dir("ns", "t")
        meta = w.table_meta("ns", "t")
        entries = [
            {"path": "a.parquet", "partition": "p", "spec": 0,
             "stats": {"id": [0, 9]}},
            {"path": "b.parquet", "partition": "p", "spec": 0},  # no stats
        ]
        w._publish(tdir, 1, entries, schema=meta["schema"], op="append")
        got, _ = w.plan_files("ns", "t", predicates=[("id", "=", 10**6)])
        # group survives (unprovable bound); entry-level filter then
        # keeps only the stats-less file
        assert _paths(got) == ["b.parquet"]


def test_merge_group_stats_rules():
    m = txlog.merge_group_stats
    assert m([{"stats": {"a": [1, 5]}}, {"stats": {"a": [3, 9]}}]) == {
        "a": [1, 9]
    }
    # column missing from one entry -> dropped
    assert m([{"stats": {"a": [1, 5], "b": [0, 1]}}, {"stats": {"a": [2, 3]}}]) == {
        "a": [1, 5]
    }
    # column appearing only later -> dropped
    assert m([{"stats": {"a": [1, 5]}}, {"stats": {"a": [2, 3], "b": [0, 1]}}]) == {
        "a": [1, 5]
    }
    # mixed incomparable types -> dropped
    assert m([{"stats": {"a": [1, 5]}}, {"stats": {"a": ["x", "y"]}}]) == {}
    # stats-less entry drops everything
    assert m([{"stats": {"a": [1, 5]}}, {}]) == {}
