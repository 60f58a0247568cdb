"""Key Blooms live in one binary pack per commit dir, not in the JSON
metadata.

Every writer of file entries writes the Bloom bits once, as raw bytes,
to ``data/<commit_id>/_blooms.bin``; the entry's bloom keeps only
``{"type", "m", "k", "off"}``. These tests pin:

- no log entry or checkpoint carries ``bits``;
- pack-backed pruning decides exactly as the in-memory ``_build_bloom``
  over the same keys (point lookup, CoW MERGE probe, bulk probe);
- the pack lifetime: it lives while any data file remains in its
  commit dir (expire, orphan cleanup with its age horizon);
- the pack follows its data: shallow clone, renamed clone, branch, and
  time travel to a version before compaction all prune through it;
- no Hadoop sidecar (``_SUCCESS``, ``.crc``) outlives a write.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    _BLOOM_PACK,
    Warehouse,
    _BulkKeyProbe,
    _build_bloom,
    _entry_may_hold_any,
    _entry_may_match,
    _pack_rel,
)

SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType()),
        StructField("v", LongType()),
    ]
)
COMMITS = 4
KEYS = 400  # key j lands in commit j % COMMITS: every file spans ~all keys


@pytest.fixture()
def wh(spark):
    with tempfile.TemporaryDirectory() as d:
        yield Warehouse(spark, d)


def _key(j: int) -> str:
    return f"k{j:05d}"


def _table(spark, wh, ns="ns", name="t"):
    """COMMITS inserts into two partitions. Key sets interleave, so every
    file's [min, max] covers nearly the whole key space and only the
    Bloom can prune a point lookup."""
    wh.create_namespace(ns)
    wh.create_table(ns, name, SCHEMA, key="id", partition_by="day")
    for c in range(COMMITS):
        rows = [(_key(j), f"d{j % 2}", j) for j in range(c, KEYS, COMMITS)]
        wh.insert(ns, name, spark.createDataFrame(rows, SCHEMA).coalesce(1))
    return wh._table_dir(ns, name)


def _inline(tdir: str, entry: dict) -> dict:
    """The entry with the in-memory Bloom ``_build_bloom`` gives over the
    file's own keys, instead of its pack reference."""
    col = entry.get("col", "id")
    keys = pq.read_table(os.path.join(tdir, entry["path"]), columns=[col])
    return dict(entry, blooms={col: _build_bloom(keys.column(0).to_pylist())})


def _paths(entries) -> list[str]:
    return sorted(e["path"] for e in entries)


def _abs(tdir: str, entries) -> list[str]:
    return sorted(os.path.normpath(os.path.join(tdir, e["path"])) for e in entries)


def test_no_bits_in_manifest_or_plan_index(spark, wh):
    wh._CHECKPOINT_INTERVAL = 2  # checkpoints among the log's files
    tdir = _table(spark, wh)
    # the other entry writers: MoR MERGE (in-process delete file), CoW
    # MERGE, MoR DELETE (distributed delete file) and compaction
    wh.merge_upsert(
        "ns", "t", spark.createDataFrame([(_key(1), "d1", -1)], SCHEMA),
        strategy="mor",
    )
    wh.merge_upsert("ns", "t", spark.createDataFrame([(_key(2), "d0", -2)], SCHEMA))
    wh.delete_where("ns", "t", [("id", "=", _key(3))], strategy="mor")
    wh.compact("ns", "t", min_files_per_partition=2)
    meta_files = glob.glob(os.path.join(tdir, "_v", "*.json")) + glob.glob(
        os.path.join(tdir, "_v", "*.ckpt")
    )
    # the log's version files and at least one checkpoint
    assert any(f.endswith(".ckpt") for f in meta_files)
    for f in meta_files:
        with open(f, "rb") as fh:
            assert b'"bits"' not in fh.read(), f
    entries = {}
    for v in wh._versions(tdir):
        doc = wh._manifest_doc(tdir, v)
        for e in doc["files"] + (doc.get("deletes") or []):
            entries[e["path"]] = e
    assert any(e.get("content") == "deletes" for e in entries.values())
    for e in entries.values():
        (bloom,) = e["blooms"].values()
        assert set(bloom) == {"type", "m", "k", "off"}
        # the pack holds exactly the bits _build_bloom gives the file
        want = next(iter(_inline(tdir, e)["blooms"].values()))
        assert {k: bloom[k] for k in ("type", "m", "k")} == {
            k: want[k] for k in ("type", "m", "k")
        }
        with open(os.path.join(tdir, _pack_rel(e["path"])), "rb") as fh:
            fh.seek(bloom["off"])
            assert fh.read(bloom["m"] // 8) == bytes.fromhex(want["bits"])


def test_point_lookup_and_cow_merge_prune_like_inline_blooms(spark, wh):
    tdir = _table(spark, wh)
    files = wh._manifest_doc(tdir, wh.current_version("ns", "t"))["files"]
    inline = {e["path"]: _inline(tdir, e) for e in files}
    for j in (0, 7, 123, 399, 10_000):
        preds = [("id", "=", _key(j))]
        got, _ = wh.plan_files("ns", "t", predicates=preds)
        want = [e for e in files if _entry_may_match(inline[e["path"]], preds)]
        assert _paths(got) == _paths(want)
        assert len(got) < len(files)
    # the bulk probe (large key sets) over packs == over inline blooms
    big = {_key(j) for j in range(0, 20_000, 5)}
    keep = _BulkKeyProbe(big).entries_may_hold_any(list(inline.values()), "id")
    want = [e for e, k in zip(files, keep) if k]
    assert _paths(wh._prune_entries_by_keys(tdir, files, "id", big)) == _paths(want)
    # past the driver cap, each Spark partition runs the same probe
    wh._PLAN_DISTRIBUTE_THRESHOLD = 0
    assert _paths(wh._prune_entries_by_keys(tdir, files, "id", big)) == _paths(want)
    one = {_key(7)}
    want_one = [e for e in files if _entry_may_hold_any(inline[e["path"]], "id", one)]
    assert _paths(wh._prune_entries_by_keys(tdir, files, "id", one)) == _paths(want_one)
    del wh._PLAN_DISTRIBUTE_THRESHOLD
    # CoW MERGE: the probe's candidates are the inline-Bloom candidates
    keys = {_key(1), _key(6), "new-1", "new-2"}
    want = [e for e in files if _entry_may_hold_any(inline[e["path"]], "id", keys)]
    batch = spark.createDataFrame([(k, "d1", 0) for k in sorted(keys)], SCHEMA)
    wh.merge_upsert("ns", "t", batch)
    assert wh.last_merge_stats["probed_files"] == len(want) < len(files)
    assert wh.read("ns", "t", predicates=[("id", "=", "new-2")]).count() == 1


def test_expire_keeps_pack_while_commit_dir_has_live_file(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    rows = [(_key(j), f"d{j % 2}", j) for j in range(40)]
    wh.insert("ns", "t", spark.createDataFrame(rows, SCHEMA).coalesce(1))
    tdir = wh._table_dir("ns", "t")
    (commit_dir,) = glob.glob(os.path.join(tdir, "data", "*"))
    pack = os.path.join(commit_dir, _BLOOM_PACK)
    assert os.path.exists(pack)
    # empty one partition's file: the commit dir keeps d1's file
    wh.delete_where("ns", "t", [("day", "=", "d0")])
    wh.expire_snapshots("ns", "t", keep_last=1)
    assert glob.glob(os.path.join(commit_dir, "_p=d1", "*.parquet"))
    assert not glob.glob(os.path.join(commit_dir, "_p=d0", "*.parquet"))
    assert os.path.exists(pack)
    got, _ = wh.plan_files("ns", "t", predicates=[("id", "=", _key(1))])
    assert len(got) == 1
    assert wh.read("ns", "t", predicates=[("id", "=", _key(1))]).count() == 1
    # the dir's last data file goes: so does its pack
    wh.delete_where("ns", "t", [("day", "=", "d1")])
    res = wh.expire_snapshots("ns", "t", keep_last=1)
    assert res["removed_files"] == 1
    assert not glob.glob(os.path.join(commit_dir, "**", "*.parquet"), recursive=True)
    assert not os.path.exists(pack)


def test_orphan_cleanup_sweeps_crashed_pack_past_horizon(spark, wh):
    tdir = _table(spark, wh)
    meta = wh.table_meta("ns", "t")
    df = spark.createDataFrame([(_key(j), "d0", j) for j in range(10)], SCHEMA)
    # two crashed writes: files and pack on disk, never published
    old = wh._write_table_files(tdir, df, meta)
    young = wh._write_table_files(tdir, df, meta)
    old_pack = os.path.join(tdir, _pack_rel(old[0]["path"]))
    young_pack = os.path.join(tdir, _pack_rel(young[0]["path"]))
    assert os.path.exists(old_pack) and os.path.exists(young_pack)
    for dirpath, _dirs, fns in os.walk(os.path.dirname(old_pack)):
        for fn in fns:
            os.utime(os.path.join(dirpath, fn), (0, 0))
    live_packs = set(glob.glob(os.path.join(tdir, "data", "*", _BLOOM_PACK)))
    live_packs -= {old_pack, young_pack}
    assert len(live_packs) == COMMITS
    res = wh.remove_orphan_files("ns", "t", older_than_seconds=3600)
    assert res == {"removed_files": len(old)}  # data files only
    assert not os.path.exists(old_pack)
    assert os.path.exists(young_pack)  # inside the in-flight horizon
    assert all(os.path.exists(p) for p in live_packs)
    assert wh.read("ns", "t").count() == KEYS
    res = wh.remove_orphan_files("ns", "t", older_than_seconds=0)
    assert res == {"removed_files": len(young)}
    assert not os.path.exists(young_pack)
    assert all(os.path.exists(p) for p in live_packs)


def test_clone_rename_branch_and_time_travel_prune_through_packs(spark, wh):
    tdir = _table(spark, wh)
    preds = [("id", "=", _key(9))]
    all_files, _ = wh.plan_files("ns", "t")
    src, _ = wh.plan_files("ns", "t", predicates=preds)
    assert 0 < len(src) < len(all_files)
    want = _abs(tdir, src)
    # shallow clone: '..'-relative entries resolve the source's packs
    wh.clone_table("ns", "t", "ns", "c")
    got, _ = wh.plan_files("ns", "c", predicates=preds)
    assert _abs(wh._table_dir("ns", "c"), got) == want
    # renamed clone: the rebased paths still find the packs
    wh.create_namespace("other")
    wh.rename_table("ns", "c", "other", "c2")
    got, _ = wh.plan_files("other", "c2", predicates=preds)
    assert _abs(wh._table_dir("other", "c2"), got) == want
    assert wh.read("other", "c2", predicates=preds).count() == 1
    # a branch shares the files and so the packs; its own commit
    # writes a pack of its own
    wh.create_branch("ns", "t", "b")
    wh.insert(
        "ns", "t", spark.createDataFrame([("zz", "d0", 1)], SCHEMA), branch="b"
    )
    got, _ = wh.plan_files("ns", "t", predicates=preds, branch="b")
    assert _abs(tdir, got) == want
    got, _ = wh.plan_files("ns", "t", predicates=[("id", "=", "zz")], branch="b")
    assert len(got) == 1
    # time travel to before compaction reads the pre-compaction packs
    before = wh.current_version("ns", "t")
    wh.compact("ns", "t", min_files_per_partition=2)
    got, _ = wh.plan_files("ns", "t", version=before, predicates=preds)
    assert _abs(tdir, got) == want
    assert wh.read("ns", "t", version=before, predicates=preds).count() == 1
    compacted, _ = wh.plan_files("ns", "t")
    got, _ = wh.plan_files("ns", "t", predicates=preds)
    assert len(got) == 1 < len(compacted)


def test_writes_leave_no_hadoop_sidecars(spark, wh):
    tdir = _table(spark, wh)
    # the change feed on: the MoR DELETE also writes change files
    wh.set_change_feed("ns", "t", True)
    wh.merge_upsert("ns", "t", spark.createDataFrame([(_key(2), "d0", 0)], SCHEMA))
    wh.delete_where("ns", "t", [("id", "=", _key(3))], strategy="mor")
    wh.compact("ns", "t", min_files_per_partition=2)
    names = {
        fn
        for _d, _s, fns in os.walk(os.path.join(tdir, "data"))
        for fn in fns
    }
    assert names and all(
        fn.endswith(".parquet") or fn == _BLOOM_PACK for fn in names
    ), sorted(names)
