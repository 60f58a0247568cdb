"""The transaction log: per-version action deltas plus checkpoints.

- reconstruction parity: every version rebuilt from the log (deltas,
  replayed from checkpoints) equals the state its writer published, and
  a twin whose every version is a checkpoint (the full-state layout)
  reads, plans and diffs the same at every version, every history row
  (a version file's header line) matches its version's doc, and the
  ``txn`` and COPY ledgers outlive expiry;
- a table written entirely as legacy full manifest docs still reads;
- crash and replay: a writer dying between any two commit steps leaves a
  consistent snapshot, a missing checkpoint only lengthens the replay,
  and a replayed ``txn`` epoch stays a no-op;
- Bloom sizing for small files.
"""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources import txlog
from sample_for_transactional_datalake_using_s3tables_spark.sources import (
    warehouse as whmod,
)
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    Warehouse,
    _bloom_params,
    _bloom_positions,
    _build_bloom,
)

SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType()),
        StructField("v", LongType()),
    ]
)


def _df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema).coalesce(1)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _canon_entries(entries) -> list[str]:
    """Entries without their paths (twins write differently named files;
    a position-delete file's bytes and stats hold its targets' paths)."""
    out = []
    for e in entries:
        drop = ("path", "blooms", "targets") + (
            ("bytes", "stats") if e.get("kind") == "pos" else ()
        )
        c = {k: v for k, v in e.items() if k not in drop}
        out.append(json.dumps(c, sort_keys=True, default=str))
    return sorted(out)


def _canon_doc(doc: dict) -> dict:
    return {
        "files": _canon_entries(doc["files"]),
        "deletes": _canon_entries(doc.get("deletes") or []),
        "change_files": len(doc.get("change_files") or []),
        **{k: doc.get(k) for k in ("schema", "physical", "op", "txn", "copied")},
    }


def _drive(spark, wh: Warehouse, landing: str) -> dict:
    """One operation of every kind that publishes; returns named versions."""
    at = {}
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    for i in range(3):
        wh.insert("ns", "t", _df(spark, [(f"k{i}{j}", f"d{j % 3}", i * 10 + j)
                                         for j in range(6)]), txn=("app", i))
    wh.copy_into("ns", "t", landing)
    wh.merge_upsert("ns", "t", _df(spark, [("k01", "d1", 101), ("kn", "d0", 5)]))
    wh.merge_upsert("ns", "t", _df(spark, [("k02", "d2", 102), ("km", "d1", 6)]),
                    strategy="mor")
    wh.delete_where("ns", "t", F.col("id") == "k00")
    wh.delete_where("ns", "t", F.col("id") == "k10", strategy="mor")
    wh.delete_where("ns", "t", F.col("id") == "k11", strategy="mor-pos")
    wh.update_where("ns", "t", {"v": F.lit(7)}, F.col("id") == "k12")
    wh.update_where("ns", "t", {"v": F.lit(8)}, F.col("id") == "k13", strategy="mor")
    at["pre_maintain"] = wh.current_version("ns", "t")
    wh.create_tag("ns", "t", "audit", at["pre_maintain"])
    wh.auto_maintain("ns", "t", keep_last=3)  # resolution + expiry
    wh.merge_upsert("ns", "t", _df(spark, [("k03", "d0", 103)]), strategy="mor")
    wh.compact("ns", "t", min_files_per_partition=2)
    wh.add_column("ns", "t", StructField("w", LongType()))
    wh.rename_column("ns", "t", "v", "val")
    wh.insert("ns", "t", _df(spark, [("kz", "d0", 1, 2)],
                             "id string, day string, val long, w long"))
    wh.drop_column("ns", "t", "w")
    at["rollback_target"] = wh.current_version("ns", "t")
    wh.insert("ns", "t", _df(spark, [("kr", "d2", 4)],
                             "id string, day string, val long"))
    wh.rollback_to("ns", "t", at["rollback_target"])
    wh.create_branch("ns", "t", "b")
    wh.insert("ns", "t", _df(spark, [("kb", "d1", 9)],
                             "id string, day string, val long"), branch="b")
    wh.fast_forward("ns", "t", "b")
    wh.expire_snapshots("ns", "t", keep_last=6)
    wh.clone_table("ns", "t", "ns", "c")
    wh.insert("ns", "c", _df(spark, [("kc", "d2", 3)],
                             "id string, day string, val long"))
    return at


def test_reconstruction_parity(spark, tmp_path, monkeypatch):
    published: dict[tuple, dict] = {}
    real = txlog.publish

    def recording(vdir, version, files, deletes, schema, physical, commit,
                  interval, max_tail):
        doc = real(vdir, version, files, deletes, schema, physical, commit,
                   interval, max_tail)
        published[(vdir, version)] = {
            "files": sorted(json.dumps(e, sort_keys=True) for e in files),
            "deletes": sorted(json.dumps(d, sort_keys=True)
                              for d in deletes or ()),
            "schema": schema, "physical": physical or None,
        }
        return doc

    monkeypatch.setattr(txlog, "publish", recording)
    landing = str(tmp_path / "landing")
    _df(spark, [("kl", "d1", 11)]).write.parquet(landing)
    wh = Warehouse(spark, str(tmp_path / "a"))  # checkpoints every 10
    twin = Warehouse(spark, str(tmp_path / "b"))
    twin._CHECKPOINT_INTERVAL = 1  # every version a full state
    at = _drive(spark, wh, landing)
    _drive(spark, twin, landing)
    monkeypatch.undo()
    txlog.clear_memo()
    # the log is the only metadata store: no commit-index sidecar
    assert not list(tmp_path.rglob("_commits.idx"))

    tdir, tdir_b = wh._table_dir("ns", "t"), twin._table_dir("ns", "t")
    vdir = wh._vdir(tdir)
    versions = wh._versions(tdir)
    assert versions == twin._versions(tdir_b)
    assert at["pre_maintain"] in versions  # tagged: survives both expiries
    ckpts = [f for f in os.listdir(vdir) if f.endswith(".ckpt")]
    assert len(ckpts) < len(versions)
    for v in versions:
        # 1. the log's state IS what the writer published
        doc = wh._manifest_doc(tdir, v)
        # fast_forward links the branch's own version files into main
        want = published.get((vdir, v)) or published[(vdir + "@b", v)]
        assert sorted(json.dumps(e, sort_keys=True) for e in doc["files"]) == want["files"], v
        assert sorted(json.dumps(d, sort_keys=True)
                      for d in doc.get("deletes") or ()) == want["deletes"], v
        assert doc.get("schema") == want["schema"], v
        assert (doc.get("physical") or None) == want["physical"], v
        # 2. the twin reads, plans and diffs the same
        assert _canon_doc(doc) == _canon_doc(twin._manifest_doc(tdir_b, v)), v
        assert _rows(wh.read("ns", "t", version=v)) == _rows(
            twin.read("ns", "t", version=v)), v
        for kw in ({"predicates": [("id", "=", "k02")]},
                   {"partition_filter": ["d1"]}):
            got, sch = wh.plan_files("ns", "t", version=v, **kw)
            got_b, sch_b = twin.plan_files("ns", "t", version=v, **kw)
            assert _canon_entries(got) == _canon_entries(got_b), (v, kw)
            assert sch == sch_b
    # 3. each history row (the version file's header line) is its doc's
    _assert_history_matches_docs(wh, tdir)
    _assert_history_matches_docs(twin, tdir_b)
    # the ledgers cover expired commits too
    assert wh.last_txn_version("ns", "t", "app") == 2
    assert twin._copied_sources(tdir_b) == wh._copied_sources(tdir) != set()
    live = [v for v in versions if v - 1 in versions]
    for v in live[-6:]:
        assert _rows(wh.changelog("ns", "t", v - 1, v)) == _rows(
            twin.changelog("ns", "t", v - 1, v)), v
    assert _rows(wh.read("ns", "t", version="audit")) == _rows(
        twin.read("ns", "t", version="audit"))
    # the clone (its first version holds the source's whole state), then
    # renamed: its '..'-relative entries are rebased in log and checkpoints
    assert _rows(wh.read("ns", "c")) == _rows(twin.read("ns", "c"))
    want_c = _rows(wh.read("ns", "c"))
    wh.create_namespace("ns2")
    wh.rename_table("ns", "c", "ns2", "c")
    txlog.clear_memo()
    assert _rows(wh.read("ns2", "c")) == want_c
    _assert_history_matches_docs(wh, wh._table_dir("ns2", "c"))
    assert _rows(wh.read("ns2", "c", version=0)) == _rows(twin.read("ns", "c", version=0))


def _assert_history_matches_docs(wh: Warehouse, tdir: str) -> None:
    """Every ``_commit_index`` row (ts, op, txn and the five summary
    totals) equals what the version's full doc yields."""
    rows = wh._commit_index(tdir)
    assert [r["version"] for r in rows] == wh._versions(tdir)
    for row in rows:
        doc = wh._manifest_doc(tdir, row["version"])
        files = doc["files"]
        want = {
            "version": row["version"], "ts": doc["ts"],
            "op": doc.get("op") or "append",
            "n_files": len(files),
            "records": sum(e.get("records", 0) for e in files),
            "bytes": sum(e.get("bytes", 0) for e in files),
            "n_partitions": len({(e.get("spec", 0), str(e["partition"]))
                                 for e in files}),
            "n_deletes": len(doc.get("deletes") or []),
        }
        if doc.get("txn"):
            want["txn"] = doc["txn"]
        assert row == want, tdir


def test_legacy_full_doc_table_still_reads(spark, tmp_path):
    """A table whose version files are all full manifest docs (the layout
    before the log) reads, plans, diffs and takes new commits."""
    wh = Warehouse(spark, str(tmp_path))
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    for i in range(3):
        wh.insert("ns", "t", _df(spark, [(f"k{i}", f"d{i % 2}", i)]))
    wh.delete_where("ns", "t", F.col("id") == "k1")
    tdir = wh._table_dir("ns", "t")
    vdir = wh._vdir(tdir)
    docs = {v: wh._manifest_doc(tdir, v) for v in wh._versions(tdir)}
    reads = {v: _rows(wh.read("ns", "t", version=v)) for v in docs}
    for f in os.listdir(vdir):  # rewrite the log as legacy full docs
        if f.endswith(".ckpt"):
            os.remove(os.path.join(vdir, f))
    for v, d in docs.items():
        with open(txlog.version_path(vdir, v), "w") as f:
            json.dump(d, f)
    txlog.clear_memo()
    for v, d in docs.items():
        assert wh._manifest_doc(tdir, v) == d
        assert _rows(wh.read("ns", "t", version=v)) == reads[v]
    got, _ = wh.plan_files("ns", "t", predicates=[("id", "=", "k2")])
    assert [e["path"] for e in got] == [
        e["path"] for e in docs[max(docs)]["files"] if e["partition"] == "d0"
        and e["stats"]["id"][0] <= "k2" <= e["stats"]["id"][1]
    ]
    assert _rows(wh.changelog("ns", "t", 2, 4).select("id", "_change_type")) == [
        ("k1", "delete"), ("k2", "insert")
    ]
    v = wh.insert("ns", "t", _df(spark, [("k9", "d1", 9)]))
    assert "files" not in txlog.read_version(vdir, v)  # new commits: deltas
    assert len(txlog.read_version(vdir, v)["add"]) == 1
    assert _rows(wh.read("ns", "t").select("id")) == [("k0",), ("k2",), ("k9",)]


# -- crash and replay ---------------------------------------------------------


class Crash(Exception):
    pass


def _crash_at(monkeypatch, step: str) -> None:
    if step == "data_write":  # files written, no Bloom pack
        def boom(*a, **k):
            raise Crash(step)
        monkeypatch.setattr(whmod, "_pack_blooms", boom)
    elif step == "bloom_pack":  # pack written, version never linked
        real_link = os.link

        def link(src, dst, *a, **k):
            if dst.endswith(".json") and os.sep + "_v" in dst:
                raise Crash(step)
            return real_link(src, dst, *a, **k)
        monkeypatch.setattr(txlog.os, "link", link)
    elif step == "version_link":  # linked, checkpoint being written
        def ckpt(*a, **k):
            raise Crash(step)
        monkeypatch.setattr(txlog, "write_checkpoint", ckpt)
    elif step == "checkpoint":  # checkpoint written, state not memoized
        real_ckpt = txlog.write_checkpoint

        def ckpt_then_die(*a, **k):
            real_ckpt(*a, **k)
            raise Crash(step)
        monkeypatch.setattr(txlog, "write_checkpoint", ckpt_then_die)


@pytest.mark.parametrize(
    "step", ["data_write", "bloom_pack", "version_link", "checkpoint"]
)
def test_crash_between_commit_steps_then_replay(spark, tmp_path, monkeypatch, step):
    wh = Warehouse(spark, str(tmp_path))
    wh._CHECKPOINT_INTERVAL = 1  # the crashing commit is due a checkpoint
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert("ns", "t", _df(spark, [("a", "d0", 1)]), txn=("app", 1))
    tdir = wh._table_dir("ns", "t")
    vdir = wh._vdir(tdir)
    before = _rows(wh.read("ns", "t"))
    tip = wh.current_version("ns", "t")
    batch = [("b", "d1", 2), ("a", "d0", 3)]
    _crash_at(monkeypatch, step)
    with pytest.raises(Crash):
        wh.insert("ns", "t", _df(spark, batch), txn=("app", 2))
    monkeypatch.undo()
    txlog.clear_memo()  # the process died: nothing memoized survives
    again = Warehouse(spark, str(tmp_path))
    again._CHECKPOINT_INTERVAL = 1
    linked = step in ("version_link", "checkpoint")
    assert again.current_version("ns", "t") == tip + linked
    after = _rows(again.read("ns", "t"))
    assert after == (sorted(before + batch) if linked else before)
    assert [r["version"] for r in again._commit_index(tdir)] == again._versions(tdir)
    has_ckpt = os.path.exists(txlog.checkpoint_path(vdir, tip + 1))
    assert has_ckpt == (step == "checkpoint")
    if step == "version_link":  # replayed from the previous checkpoint
        assert txlog.state(vdir, tip + 1).depth == 1
    if step == "checkpoint":  # the ledger reads back from its header
        txlog.clear_memo()
        assert again.last_txn_version("ns", "t", "app") == 2
        st = txlog.state(vdir, tip + 1)
        assert (st.depth, st.chain[0][0]) == (0, txlog.checkpoint_path(vdir, tip + 1))
    # the replayed epoch: a no-op once its commit landed, else it lands
    again.insert("ns", "t", _df(spark, batch), txn=("app", 2))
    assert again.current_version("ns", "t") == tip + 1
    assert _rows(again.read("ns", "t")) == sorted(before + batch)
    assert again.last_txn_version("ns", "t", "app") == 2
    # a missing checkpoint only lengthens the replay: the next commit due
    # one writes it, and every version still reads
    again.insert("ns", "t", _df(spark, [("c", "d0", 4)]))
    txlog.clear_memo()
    assert txlog.state(vdir, tip + 2).depth == 0
    for v in again._versions(tdir):
        again.read("ns", "t", version=v).collect()
    if step == "data_write":  # the crashed write's files are orphans
        removed = again.remove_orphan_files("ns", "t", older_than_seconds=0)
        assert removed["removed_files"] >= 1
    assert _rows(again.read("ns", "t")) == sorted(before + batch + [("c", "d0", 4)])


def test_shared_memo_under_thread_stress(tmp_path):
    """Threads committing and reading one table share the module's state
    memo: every version any thread reads holds exactly its commits."""
    import sys
    import threading

    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
        CommitConflictError,
    )

    wh = Warehouse(None, str(tmp_path))
    wh._CHECKPOINT_INTERVAL = 3
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id")
    tdir = wh._table_dir("ns", "t")
    schema = wh.table_meta("ns", "t")["schema"]
    n_threads, per_thread = 8, 12
    errors: list[str] = []

    def worker(w: int) -> None:
        try:
            for i in range(per_thread):
                entry = {"path": f"data/w{w}/f{i}.parquet", "records": 1,
                         "partition": None}
                while True:
                    try:
                        wh._publish_append(
                            tdir, wh._versions(tdir)[-1], [entry], schema
                        )
                        break
                    except CommitConflictError:
                        continue
                v = wh._versions(tdir)[-1]
                if len(wh._manifest_doc(tdir, v)["files"]) != v:
                    errors.append(f"version {v} has the wrong file count")
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    total = n_threads * per_thread
    assert wh._versions(tdir) == list(range(total + 1))
    txlog.clear_memo()
    for v in range(total + 1):
        assert len(wh._manifest_doc(tdir, v)["files"]) == v


# -- Bloom sizing ---------------------------------------------------------------


def test_bloom_params_shapes():
    assert _bloom_params(0) == (512, 16)
    assert _bloom_params(1) == (512, 16)
    assert _bloom_params(21) == (512, 16)  # a merge-on-read commit's file
    assert _bloom_params(22) == (640, 16)
    assert _bloom_params(1000) == (24576, 16)  # a copy-on-write file
    m, k = _bloom_params(10**6)
    assert (m, k) == (262144, 2)  # capped size, k floor
    for n in (1, 5, 21, 22, 100, 1000, 5000, 10_922, 50_000):
        m, k = _bloom_params(n)
        # m: 24 bits/key rounded up to a 1/4-octave step of at least 64
        # bits, so at most 25 % over the target and whole bytes
        q = max(64, 1 << ((24 * n).bit_length() - 3))
        assert m % 64 == 0 and 512 <= m <= 262144 and 2 <= k <= 16
        assert m == min(262144, max(512, -(-24 * n // q) * q))
        assert m >= min(24 * n, 262144)
        assert m <= max(512, 24 * n * 1.25)


def test_small_bloom_false_positive_rate():
    rng = random.Random(7)
    present = [f"key-{rng.getrandbits(48):012x}" for _ in range(21)]
    bloom = _build_bloom(present)
    assert (bloom["m"], bloom["k"]) == (512, 16)
    bits = bytes.fromhex(bloom["bits"])

    def may_contain(v) -> bool:
        return all(bits[p // 8] >> (p % 8) & 1
                   for p in _bloom_positions(v, bloom["m"], bloom["k"]))

    assert all(may_contain(v) for v in present)
    absent = [f"other-{i}" for i in range(10_000)]
    fp = sum(may_contain(v) for v in absent)
    assert fp / len(absent) <= 1e-3
