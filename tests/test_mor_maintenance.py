"""Merge-on-read maintenance costs O(change): ``auto_maintain`` turns
equality deletes into position deletes on the files that hold their keys
(one ``replace`` commit, no data rewritten) and rewrites a partition only
past the delete ratio, past the per-file delete-file cap, or in the
small-file shape. An explicit ``compact`` still folds every delete."""

from __future__ import annotations

import random
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    Warehouse,
    _delete_applies,
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


def _table(spark, wh, name="t", per_part=20, parts=2, change_feed=False):
    """One file per partition; returns the rows by key."""
    wh.create_namespace("ns", if_not_exists=True)
    wh.create_table("ns", name, SCHEMA, key="id", partition_by="day")
    if change_feed:
        wh.set_change_feed("ns", name, True)
    rows = [(f"k{i}", f"d{i % parts}", i) for i in range(per_part * parts)]
    wh.insert("ns", name, _df(spark, rows).coalesce(1))
    return {r[0]: r for r in rows}


def _state(wh, name="t", version=None):
    return {
        r.id: (r.id, r.day, r.v)
        for r in wh.read("ns", name, version=version).collect()
    }


def _paths(wh, name="t"):
    return {r.path for r in wh.files_df("ns", name).collect()}


def _doc(wh, name="t"):
    tdir = wh._table_dir("ns", name)
    return wh._manifest_doc(tdir, wh.current_version("ns", name))


def test_under_ratio_resolves_without_rewrite(spark, wh):
    expect = _table(spark, wh)
    batch = [("k0", "d0", 100), ("k2", "d0", 102)]
    wh.merge_upsert("ns", "t", _df(spark, batch), strategy="mor")
    expect.update({r[0]: r for r in batch})
    before = _paths(wh)
    v_mor = wh.current_version("ns", "t")
    res = wh.auto_maintain("ns", "t")
    assert res["compacted"] is False and res["compacted_to_version"] is None
    # same data files; the equality delete became one position delete
    # that counts the two rows it removes from the base d0 file
    assert _paths(wh) == before
    dels = _doc(wh)["deletes"]
    assert [d["kind"] for d in dels] == ["pos"]
    (base_d0,) = [
        e["path"] for e in _doc(wh)["files"] if e["partition"] == "d0" and e["seq"] == 1
    ]
    assert dels[0]["targets"] == {base_d0: 2}
    assert _doc(wh)["op"] == "replace"
    assert _state(wh) == expect
    assert wh.count_rows("ns", "t") == len(expect)
    assert _state(wh, version=v_mor) == expect


def test_over_ratio_rewrites_the_partition(spark, wh):
    expect = _table(spark, wh)
    batch = [(f"k{i}", "d0", 1000 + i) for i in range(0, 20, 2)]  # half of d0
    wh.merge_upsert("ns", "t", _df(spark, batch), strategy="mor")
    expect.update({r[0]: r for r in batch})
    d1_files = {e["path"] for e in _doc(wh)["files"] if e["partition"] == "d1"}
    res = wh.auto_maintain("ns", "t")
    assert res["compacted"] is True
    assert res["compacted_to_version"] == wh.current_version("ns", "t")
    assert wh.deletes_df("ns", "t").collect() == []
    parts = Counter(e["partition"] for e in _doc(wh)["files"])
    assert parts == {"d0": 1, "d1": 1}
    # the partition under the ratio kept its file
    assert {e["path"] for e in _doc(wh)["files"] if e["partition"] == "d1"} == d1_files
    assert _state(wh) == expect


def test_one_row_pos_delete_does_not_force_a_rewrite(spark, wh):
    expect = _table(spark, wh)
    r = wh.delete_where("ns", "t", [("id", "=", "k3")], strategy="mor-pos")
    del expect["k3"]
    (d,) = _doc(wh)["deletes"]
    assert list(d["targets"].values()) == [1] and d["records"] == 1
    assert r["delete_files"] == 1
    before = _paths(wh)
    assert wh.auto_maintain("ns", "t")["compacted"] is False
    assert _paths(wh) == before
    assert _state(wh) == expect


@pytest.mark.parametrize("in_process", [True, False])
def test_resolution_addresses_each_row_once(spark, wh, monkeypatch, in_process):
    """A key deleted twice has its older copies addressed once each, and a
    row a position delete already removed is not addressed again; the
    Spark join that resolves candidate sets above the driver cap gives
    the same addresses as the in-process resolution."""
    expect = _table(spark, wh)
    wh.delete_where("ns", "t", [("id", "=", "k4")], strategy="mor-pos")
    batch = [("k0", "d0", 100), ("k4", "d0", 104), ("k3", "d1", 103), ("kN", "d1", 7)]
    wh.merge_upsert("ns", "t", _df(spark, batch), strategy="mor")
    wh.merge_upsert("ns", "t", _df(spark, [("k0", "d0", 200)]), strategy="mor")
    expect.update({r[0]: r for r in batch})
    expect["k0"] = ("k0", "d0", 200)
    if not in_process:
        monkeypatch.setattr(Warehouse, "_MERGE_COLLECT_KEYS_MAX", 0)
    assert wh.auto_maintain("ns", "t")["compacted"] is False
    doc = _doc(wh)
    seq = {e["path"]: (e["partition"], e["seq"]) for e in doc["files"]}
    new = [d for d in doc["deletes"] if d["seq"] == doc["version"]]
    # k0 in the base d0 file and in the first MERGE's file, k3 in the
    # base d1 file; k4's base row was gone already and kN is new
    hits = Counter()
    for d in new:
        hits.update({seq[p]: n for p, n in d["targets"].items()})
    assert hits == {("d0", 1): 1, ("d0", 3): 1, ("d1", 1): 1}
    assert sum(d["records"] for d in new) == 3
    assert len(new) == 1 or not in_process
    assert all(d["kind"] == "pos" for d in doc["deletes"])
    assert _state(wh) == expect


def test_maintain_rewrites_only_the_partitions_it_picks(spark, wh):
    """Four large files in one partition stay untouched while four
    small files in another are compacted."""
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    expect = {}
    for c in range(4):
        big = [(f"b{c}-{i}", "big", i * 7919 + c) for i in range(3000)]
        small = [(f"s{c}", "small", c)]
        for rows in (big, small):
            wh.insert("ns", "t", _df(spark, rows).coalesce(1))
            expect.update({r[0]: r for r in rows})
    files = _doc(wh)["files"]
    big_files = {e["path"]: e["bytes"] for e in files if e["partition"] == "big"}
    small_max = max(e["bytes"] for e in files if e["partition"] == "small")
    assert len(big_files) == 4 and small_max < min(big_files.values())
    res = wh.auto_maintain("ns", "t", small_file_bytes=min(big_files.values()))
    assert res["compacted"] is True
    files = _doc(wh)["files"]
    assert {e["path"] for e in files if e["partition"] == "big"} == set(big_files)
    assert len([e for e in files if e["partition"] == "small"]) == 1
    assert _state(wh) == expect
    # nothing left to pick: no rewrite is reported
    assert wh.auto_maintain("ns", "t", small_file_bytes=min(big_files.values()))[
        "compacted"
    ] is False


def _most_deletes_per_file(doc):
    dels = doc.get("deletes") or []
    return max(
        (sum(_delete_applies(d, e, d.get("col", "")) for d in dels) for e in doc["files"]),
        default=0,
    )


def test_maintenance_periods_match_the_fold(spark, wh):
    """Six MoR commit + maintenance periods of uniform MODIFYs: after
    every period the table is the latest-wins fold, no file carries more
    live delete files than the cap, time travel before each maintenance
    reads the same rows, and the change feed across the maintenance
    commits nets to that of a twin table that was never maintained."""
    cap = Warehouse._MAINTAIN_MAX_FILE_DELETES
    expect = _table(spark, wh, per_part=60, parts=3)
    _table(spark, wh, name="twin", per_part=60, parts=3)
    v0 = wh.current_version("ns", "t")
    v0_twin = wh.current_version("ns", "twin")
    rng = random.Random(7)
    fresh = {p: [k for k, r in expect.items() if r[1] == p] for p in ("d0", "d1", "d2")}
    compacted = []
    for period in range(6):
        # one never-modified base row per partition: each period hits
        # the base files, whose delete-file count then grows by one
        batch = [
            (k, p, 10_000 * (period + 1) + int(k[1:]))
            for p, ks in fresh.items()
            for k in [ks.pop(rng.randrange(len(ks)))]
        ]
        for name in ("t", "twin"):
            wh.merge_upsert("ns", name, _df(spark, batch), strategy="mor")
        expect.update({r[0]: r for r in batch})
        v_before = wh.current_version("ns", "t")
        res = wh.auto_maintain("ns", "t", min_files_per_partition=99, keep_last=50)
        compacted.append(res["compacted"])
        assert _state(wh) == expect, f"period {period}"
        assert _state(wh, version=v_before) == expect
        assert all(d["kind"] == "pos" for d in _doc(wh).get("deletes") or [])
        assert _most_deletes_per_file(_doc(wh)) <= cap
    # 3 of 60 rows per period stays under the ratio: only the delete-file
    # cap rewrites, once the base files carry cap + 1 delete files
    assert compacted == [False] * cap + [True] + [False] * (5 - cap)
    assert _state(wh, name="twin") == expect

    def changes(name, v):
        return Counter(
            (r.id, r.day, r.v, r._change_type)
            for r in wh.changelog("ns", name, v).collect()
        )

    assert changes("t", v0) == changes("twin", v0_twin)
    # an explicit compact still folds everything
    wh.compact("ns", "t")
    assert wh.deletes_df("ns", "t").collect() == []
    assert _state(wh) == expect


def test_resolution_keeps_the_stored_change_feed(spark, wh):
    """With the change feed on, the resolution commit adds no change
    rows: the feed across it is the MoR commit's own."""
    expect = _table(spark, wh, change_feed=True)
    v0 = wh.current_version("ns", "t")
    wh.merge_upsert("ns", "t", _df(spark, [("k1", "d1", 11)]), strategy="mor")
    expect["k1"] = ("k1", "d1", 11)
    v1 = wh.current_version("ns", "t")
    wh.auto_maintain("ns", "t")
    assert wh.current_version("ns", "t") == v1 + 1

    def rows(to):
        return sorted(
            (r.id, r.v, r._change_type)
            for r in wh.changelog("ns", "t", v0, to).collect()
        )

    assert rows(v1 + 1) == rows(v1) == [("k1", 1, "delete"), ("k1", 11, "insert")]
    assert _state(wh) == expect
    assert (
        wh.read("ns", "t").where(F.col("id") == "k1").collect()[0].v == 11
    )
