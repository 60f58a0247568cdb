"""Turn a finished run into the result line.

End-to-end metrics come from the benchmark's own clocks (tracing off).
Per-layer metrics come from the spans of a traced run that fall inside the
measured window (set-up and the checks after it left out) or belong to the
``ops`` probe, plus the run's storage samples.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from opsprobe import QUERIES
from oracle import TEMPLATES
from spans import self_time


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# the tail is the highest of these percentiles with at least ten samples
# beyond it; a run with fewer than 20 samples reports its p75
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
SHORT_RUN_TAIL = 75


def tail(xs) -> float:
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100) >= 10:
            return percentile(xs, p)
    return percentile(xs, SHORT_RUN_TAIL)


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(bench) -> dict:
    return {
        "setup_s": _m(bench.setup_s, "s"),
        "bytes_written_per_row": _m(
            bench.bytes_in / bench.bytes_rows if bench.bytes_rows else 0.0, "B/row"),
    }


def client_walls(bench) -> dict:
    """What the client saw per operation. On a shared host these walls move
    with the hypervisor's steal, so they are per-layer metrics, without a
    bound (README.md, "Noise")."""
    s = bench.samples
    busy = sum(s.get("batch", ())) + sum(s.get("maintain", ()))
    return {
        "op.ingest_rows_per_s": _m(bench.rows_in / busy if busy else 0.0, "rows/s"),
        "op.batch_p50_s": _m(median(s.get("batch", ())), "s"),
        "op.batch_tail_s": _m(tail(s.get("batch", ())), "s"),
        "op.query_p50_s": _m(median(s.get("query", ())), "s"),
        "op.query_tail_s": _m(tail(s.get("query", ())), "s"),
        "op.batch_samples": _m(len(s.get("batch", ())), "count"),
        "op.query_samples": _m(len(s.get("query", ())), "count"),
        "proc.peak_rss_mb": _m(bench.peak_rss_mb, "MB"),
    }


def per_layer(bench) -> dict:
    spans = bench.tracer.spans
    kids = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)

    def jobs(sp) -> int:
        return sp.attrs.get("jobs_self", 0) + sum(jobs(c) for c in kids[sp.id])

    timed = [sp for sp in spans if sp.name.startswith("ops.")
             or bench.t_measure <= sp.start and sp.end <= bench.t_measured]
    by = defaultdict(list)
    for sp in timed:
        by[sp.name].append(sp)

    def walls(name):
        return [sp.wall for sp in by[name]]

    merges = by["wh.merge_upsert"]
    probed = sum(sp.attrs.get("probed_files", 0) for sp in merges)
    rewritten = sum(sp.attrs.get("rewritten_files", 0) for sp in merges)
    triggers = by["cdc.trigger"]
    overhead = [
        tr.wall - sum(c.wall for c in kids[tr.id] if c.name == "cdc.merge_cdc_batch")
        for tr in triggers
    ]
    # the workload's timed operations (not the storage accounting)
    ops = [sp for sp in timed if sp.parent is None and (
        sp.name in ("cdc.trigger", "cdc.batch", "wh.lookup", "wh.maintain")
        or sp.name.startswith("sql."))]
    s = bench.samples
    out = {
        **client_walls(bench),
        "session.start_s": _m(sum(
            sp.wall for sp in spans if sp.name == "session.start"), "s"),
        "cdc.batch_self_s": _m(median(
            self_time(sp, kids[sp.id]) for sp in by["cdc.merge_cdc_batch"]), "s"),
        "cdc.spark_jobs_per_batch": _m(median(
            jobs(sp) for sp in by["cdc.merge_cdc_batch"]), "count"),
        "cdc.trigger_overhead_s": _m(median(overhead), "s"),
        "wh.merge_upsert_p50_s": _m(median(walls("wh.merge_upsert")), "s"),
        "wh.merge_upsert_tail_s": _m(tail(walls("wh.merge_upsert")), "s"),
        "wh.merge_upsert_self_s": _m(median(
            self_time(sp, kids[sp.id]) for sp in merges), "s"),
        "wh.merge.probed_files": _m(median(
            sp.attrs.get("probed_files", 0) for sp in merges), "count"),
        "wh.merge.rewritten_files": _m(median(
            sp.attrs.get("rewritten_files", 0) for sp in merges), "count"),
        "wh.merge.probe_precision": _m(rewritten / probed if probed else 0.0, "ratio"),
        "wh.plan_files_s": _m(median(walls("wh.plan_files")), "s"),
        "wh.plan_files_calls_per_op": _m(
            len(by["wh.plan_files"]) / len(ops) if ops else 0.0, "count"),
        "wh.read_s": _m(median(walls("wh.read")), "s"),
        "wh.live_files": _m(median(s.get("live_files", ())), "count"),
        "wh.live_delete_files": _m(median(s.get("live_delete_files", ())), "count"),
        "wh.auto_maintain_s": _m(median(walls("wh.auto_maintain")), "s"),
    }
    for kind in ("data", "delete", "meta"):
        xs = s.get(f"{kind}_bytes", ())
        out[f"wh.{kind}_bytes_per_commit_p50"] = _m(median(xs), "B")
        out[f"wh.{kind}_bytes_per_commit_p90"] = _m(percentile(xs, 90), "B")
    for t in TEMPLATES:
        for phase in ("execute", "collect"):
            out[f"sql.{t}.{phase}_s"] = _m(median(walls(f"sql.{t}.{phase}")), "s")
    for phase in ("build", "plan", "exec"):
        out[f"ops.{phase}_s"] = _m(median(walls(f"ops.{phase}")), "s")
    execs = by["ops.exec"]
    out["ops.spark_jobs"] = _m(sum(jobs(sp) for sp in execs), "count")
    out["ops.tasks"] = _m(sum(sp.attrs.get("tasks_self", 0) for sp in execs), "count")
    for q in QUERIES:
        out[f"ops.{q}.exec_s"] = _m(sum(
            c.wall for sp in by[f"ops.{q}"] for c in kids[sp.id]
            if c.name == "ops.exec"), "s")
    out["failed_ops_ratio"] = _m(
        len(bench.failures) / bench.attempted if bench.attempted else 0.0,
        "failed/attempted")
    out["trace.spans"] = _m(len(spans), "count")
    return out


def result(bench) -> dict:
    failed = len(bench.failures)
    return {
        "correct": failed == 0,
        "attempted": max(bench.attempted, 1),
        "failed": failed,
        "metrics": per_layer(bench) if bench.tracer.enabled else end_to_end(bench),
    }
