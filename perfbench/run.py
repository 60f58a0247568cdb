#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_cow_stream --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. The engine package is imported from that
root, every file the run writes stays under ``<root>/.perfbench/`` and is
removed at the end (traces excepted), and the last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Progress goes to standard error. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "sample_for_transactional_datalake_using_s3tables_spark")

# rows seeded into the table before the stream starts: a quarter of sf0.1
# events, so that a run fits the driver's time budget (README.md, "Sizes")
BASE_ROWS = 25_000


def _steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from /proc/stat: the share
    the hypervisor ran other guests explains noisy runs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Bench:
    """Run state shared by a workload: session, tracer, samples, checks."""

    def __init__(self, seed: int, seconds: float, work: str, tracer,
                 base_rows: int = BASE_ROWS):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.base_rows = base_rows
        self.spark = None
        self.peak_rss_mb = 0.0
        self.samples: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.rows_in = 0
        self.bytes_in = 0
        self.bytes_rows = 0
        self.t_start = time.perf_counter()
        self.setup_s = None
        self.t_measure = None
        self.t_measured = None
        self.steal0 = None
        self._deadline = None

    def log_phase(self, what: str) -> None:
        log(f"{time.perf_counter() - self.t_start:7.2f}s {what}")

    def end_setup(self) -> None:
        now = time.perf_counter()
        self.setup_s = now - self.t_start
        self.t_measure = now
        self.steal0 = _steal()
        self._deadline = now + self.seconds
        self.log_phase(f"set up; measuring {self.seconds}s")

    def end_measure(self) -> None:
        self.t_measured = time.perf_counter()
        self.log_phase("measured")

    def time_left(self) -> bool:
        return time.perf_counter() < self._deadline

    def attempt(self, fn):
        """One timed operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the loop must go on, and report
            self.failures.append(traceback.format_exc(limit=3))
            log(self.failures[-1])
            return None

    def check_op(self, ok: bool, reason: str) -> None:
        """A wrong result from an attempted op counts as its failure."""
        if not ok:
            self.failures.append(reason)
            log(f"wrong result: {reason}")

    def check(self, name: str, ok: bool, reason: str | None) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {reason}")
            log(f"check {name} failed: {reason}")


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it. The JVM
    exits when its standard input closes; its Python workers end with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PKG_DIR):
        log(f"engine package not found under {ROOT}; run from a checkout root")
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    import report
    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    tracer.install()
    bench = Bench(args.seed, args.seconds, work, tracer)
    spark = None
    try:
        with tracer.op("session.start"):
            from sample_for_transactional_datalake_using_s3tables_spark.plans import (
                get_spark,
            )

            spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        bench.spark = spark
        bench.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        tracer.bind(spark)
        bench.log_phase("session started")
        WORKLOADS[args.workload](bench)
        st, tot = _steal()
        log(f"steal share while measuring: {(st - bench.steal0[0]) / max(1, tot - bench.steal0[1]):.3f}")
        bench.log_phase("checked")
        for kind, xs in bench.samples.items():
            log(f"{kind}: {[round(x, 3) for x in xs]}")
        import resource

        bench.peak_rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            + _rss_mb(bench.jvm_pid))
        tracer.resolve_jobs(spark)
        if tracer.enabled:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.json"))
        result = report.result(bench)
    finally:
        tracer.uninstall()
        if spark is not None:
            _stop_spark(spark)
            bench.log_phase("spark stopped")
        shutil.rmtree(work, ignore_errors=True)
    bench.log_phase("stopped")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
