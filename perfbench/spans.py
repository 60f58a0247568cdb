"""In-memory span tracing around the engine's public entry points.

``Tracer.install`` replaces the entry points named in ``TARGETS`` with
wrappers that record one span per call: name, op id, parent, start and end
(``perf_counter``), plus the Spark job group the span ran its jobs under.
Nothing in the engine changes; ``uninstall`` restores the originals. Spans
stay in memory until ``dump``.

A root span (``Tracer.op``) starts a new op id; every span opened while it
is open shares that id. Each thread keeps its own stack of open spans, as
Spark keeps job groups per thread. A span opened on a thread with no open
span of its own, such as a streaming trigger's ``foreachBatch`` callback on
Spark's thread, nests under the innermost open root span: the op the
closed-loop client is waiting on.

Spark work is counted per span through job groups: each span sets its own
group while it is open, so a job belongs to the innermost open span.
``resolve_jobs`` reads job and task counts from the status tracker after
the listener bus has drained.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time

PKG = "sample_for_transactional_datalake_using_s3tables_spark"

# (module, attribute or Class.method, span name)
TARGETS = (
    (f"{PKG}.streaming.cdc", "stream_cdc_to_table", "cdc.stream_start"),
    (f"{PKG}.streaming.cdc", "merge_cdc_batch", "cdc.merge_cdc_batch"),
    (f"{PKG}.sources.warehouse", "Warehouse.insert", "wh.insert"),
    (f"{PKG}.sources.warehouse", "Warehouse.merge_upsert", "wh.merge_upsert"),
    (f"{PKG}.sources.warehouse", "Warehouse.read", "wh.read"),
    (f"{PKG}.sources.warehouse", "Warehouse.plan_files", "wh.plan_files"),
    (f"{PKG}.sources.warehouse", "Warehouse.auto_maintain", "wh.auto_maintain"),
    (f"{PKG}.sources.warehouse", "Warehouse.files_df", "wh.files_df"),
    (f"{PKG}.sources.warehouse", "Warehouse.deletes_df", "wh.deletes_df"),
    (f"{PKG}.sources.sqlexec", "WarehouseSQL.execute", "sql.execute"),
)


class Span:
    __slots__ = ("id", "name", "op", "parent", "start", "end", "group", "attrs")

    def __init__(self, sid, name, op, parent, start, group):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.start, self.end, self.group = start, None, group
        self.attrs: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "op": self.op,
                "parent": self.parent, "start": self.start, "end": self.end,
                **self.attrs}


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs a call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._roots: list[Span] = []  # open root spans, of any thread
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._sc = None
        self._undo: list = []

    # -- spans -------------------------------------------------------
    def bind(self, spark) -> None:
        """Count Spark jobs per span from now on."""
        self._sc = spark.sparkContext

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, desc)

    def _stack(self) -> list[Span]:
        """This thread's open spans, innermost last."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, root: bool = False) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = None
        if not root:
            parent = stack[-1] if stack else (self._roots[-1] if self._roots else None)
        sid = next(self._ids)
        op = parent.op if parent is not None else next(self._ops)
        span = Span(sid, name, op, None if parent is None else parent.id, 0.0,
                    f"pb-{sid}")
        self._set_group(span.group, name)
        stack.append(span)
        if root:
            self._roots.append(span)
        span.start = time.perf_counter()
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        if span in self._roots:
            self._roots.remove(span)
        self.spans.append(span)
        self._set_group(stack[-1].group if stack else None)

    def span(self, name: str):
        return _SpanCtx(self, name, False)

    def op(self, name: str):
        """A root span: starts a new op id."""
        return _SpanCtx(self, name, True)

    # -- installation -------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr, span_name in TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, span_name))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)
                if span is not None and name == "wh.merge_upsert":
                    stats = args[0].last_merge_stats
                    span.attrs["probed_files"] = stats.get("probed_files", 0)
                    span.attrs["rewritten_files"] = stats.get("rewritten_files", 0)

        return traced

    # -- results ------------------------------------------------------
    def resolve_jobs(self, spark) -> None:
        """Attach ``jobs`` and ``tasks`` run under each span's own group."""
        if not self.enabled:
            return
        jsc = spark.sparkContext._jsc
        try:
            jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - best effort: counts may lag
            pass
        tracker = spark.sparkContext.statusTracker()
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(s.group)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else ()):
                    si = tracker.getStageInfo(st)
                    tasks += si.numTasks if si else 0
            s.attrs["jobs_self"] = len(jobs)
            s.attrs["tasks_self"] = tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


class _SpanCtx:
    __slots__ = ("tracer", "name", "root", "span")

    def __init__(self, tracer, name, root):
        self.tracer, self.name, self.root = tracer, name, root

    def __enter__(self):
        self.span = self.tracer.open(self.name, self.root)
        return self.span

    def __exit__(self, *exc):
        self.tracer.close(self.span)
        return False


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall minus the part of it its children's intervals cover."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end))
                for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall - covered
