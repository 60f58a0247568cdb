"""The benchmark's workloads: closed loops of one client over the engine.

Each workload gets a ``Bench`` (session, tracer, work directory, seed and
time budget), sets itself up, calls ``bench.end_setup()``, loops until
the time is up, and then checks the engine's results. It records walls
per operation kind in ``bench.samples`` and failures
through ``bench.attempt`` and ``bench.check``. The engine is reached only
through its public entry points: the
``streaming.cdc`` functions, ``Warehouse`` methods and
``WarehouseSQL.execute``. They are looked up on their modules at call
time, so the tracer's wrappers, when installed, see every call.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import cdcgen
import opsprobe
import oracle
import storage
from spans import PKG

NS, TABLE, ERRORS = "analytics", "transactions", "transactions_errors"

# untimed copy-on-write commits before measuring (the first one compiles)
COW_WARMUP_COMMITS = 1
# commits whose bytes make bytes_written_per_row: the warm-up one and the
# first measured one, which every run makes
BYTES_COMMITS = 2


def _engine():
    import importlib

    cdc = importlib.import_module(f"{PKG}.streaming.cdc")
    wh_mod = importlib.import_module(f"{PKG}.sources.warehouse")
    sql_mod = importlib.import_module(f"{PKG}.sources.sqlexec")
    return cdc, wh_mod, sql_mod


class CdcTable:
    """The seeded ``analytics.transactions`` table, its CDC stream and the
    per-commit storage bookkeeping shared by both CDC workloads."""

    def __init__(self, bench, skew: str):
        self.bench = bench
        cdc, wh_mod, self.sql_mod = _engine()
        self.cdc = cdc
        spark = bench.spark
        self.gen = cdcgen.CdcStream(bench.seed, base_rows=bench.base_rows,
                                    skew=skew)
        self.base = self.gen.base_table()
        bench.log_phase("generated")
        base_path = os.path.join(bench.work, "base.parquet")
        pq.write_table(self.base, base_path)
        self.wh = wh_mod.Warehouse(spark, os.path.join(bench.work, "wh"))
        cdc.create_transactions_table(self.wh)
        with bench.tracer.op("seed"):
            self.wh.insert(NS, TABLE, spark.read.schema(cdc.TRANSACTIONS_SCHEMA)
                           .parquet(base_path))
        bench.log_phase("seeded")
        self.tdir = os.path.join(bench.work, "wh", NS, TABLE)
        self.src = os.path.join(bench.work, "cdc_src")
        os.makedirs(self.src)
        self.batches: list[list[str]] = []
        self.rows_in = 0  # envelopes in measured commits
        self.bytes_commits = self.bytes_rows = self.bytes_in = 0
        self._counting = False
        self._listing = storage.listing(self.tdir)

    def land(self) -> str:
        """Land the next batch as one file in the source directory."""
        lines = self.gen.next_batch()
        self.batches.append(lines)
        path = os.path.join(self.src, f"batch-{len(self.batches):06d}.json")
        tmp = os.path.join(self.bench.work, "landing.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, path)
        return path

    def account(self, timed: bool, commit: bool = True) -> None:
        """Bytes the last operation added under the table directory.

        ``bytes_written_per_row`` covers a fixed amount of work, the
        run's first ``BYTES_COMMITS`` commits (warm-up included) with the
        maintenance that follows them: per-commit bytes grow as the table
        grows, so a time-bound count would depend on the host's speed. In
        the traced run, each measured commit's bytes are also split by
        kind."""
        after = storage.listing(self.tdir)
        new = storage.added(self._listing, after)
        self._listing = after
        if commit:
            self._counting = self.bytes_commits < BYTES_COMMITS
            self.bytes_commits += self._counting
            self.bytes_rows += cdcgen.BATCH_SIZE * self._counting
            if timed:
                self.rows_in += cdcgen.BATCH_SIZE
        if self._counting:
            self.bytes_in += sum(new.values())
        b = self.bench
        if not (timed and commit and b.tracer.enabled):
            return
        data = [r.path for r in self.wh.files_df(NS, TABLE).select("path").collect()]
        dels = [r.path for r in self.wh.deletes_df(NS, TABLE).select("path").collect()]
        split = storage.classify(new, self.tdir, data, dels)
        for kind, n in split.items():
            b.samples.setdefault(f"{kind}_bytes", []).append(n)
        b.samples.setdefault("live_files", []).append(len(data))
        b.samples.setdefault("live_delete_files", []).append(len(dels))

    def publish(self) -> None:
        """Hand the run's row and byte counts to the bench."""
        b = self.bench
        b.rows_in, b.bytes_in, b.bytes_rows = self.rows_in, self.bytes_in, self.bytes_rows

    def check_table(self) -> oracle.Oracle:
        """Fold the stream latest-wins and compare it with the table."""
        b = self.bench
        folded, bad = cdcgen.fold(self.batches)
        orc = oracle.Oracle(self.base, folded)
        n, keys, digest = orc.table_stats(self.wh.read(NS, TABLE).toArrow())
        want_n, _, want_digest = orc.table_stats()
        files = storage.listing(self.tdir)
        b.log_phase(f"final table: {n} rows, {len(files)} files, "
                    f"{sum(files.values())} bytes under the table directory")
        b.check("row_count", n == want_n, f"{n} rows, fold has {want_n}")
        b.check("duplicate_keys", keys == n, f"{n - keys} duplicate keys")
        b.check("checksum", digest == want_digest,
                "table checksum differs from the fold")
        quarantined = self.wh.read(NS, ERRORS).count()
        b.check("quarantine", quarantined == bad == self.gen.quarantined,
                f"{quarantined} quarantined, {self.gen.quarantined} injected")
        return orc


def _timed(bench, kind: str, op_name: str, fn):
    """Run ``fn`` as one traced op; record its wall under ``kind``."""
    t0 = time.perf_counter()
    with bench.tracer.op(op_name):
        out = fn()
    bench.samples.setdefault(kind, []).append(time.perf_counter() - t0)
    return out


def cdc_cow_stream(bench) -> None:
    """Copy-on-write streaming upsert: one availableNow trigger per landed
    batch (recency-skewed MODIFYs), then a read-your-write point lookup of
    the batch's newest key through ``Warehouse.read``."""
    t = CdcTable(bench, skew="recent")
    ckpt = os.path.join(bench.work, "ckpt")

    def trigger():
        q = t.cdc.stream_cdc_to_table(bench.spark, t.src, t.wh, ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def lookup(key: str):
        return _timed(bench, "query", "wh.lookup", lambda: t.wh.read(
            NS, TABLE, predicates=[("transaction_id", "=", key)]).collect())

    for _ in range(COW_WARMUP_COMMITS):
        t.land()
        trigger()
        lookup(t.gen.keys[-1])
        t.account(timed=False)
    bench.samples.clear()
    bench.end_setup()

    while bench.time_left():
        t.land()
        bench.attempt(lambda: _timed(bench, "batch", "cdc.trigger", trigger))
        t.account(timed=True)
        key = t.gen.keys[-1]
        rows = bench.attempt(lambda: lookup(key))
        if rows is not None:
            bench.check_op(len(rows) == 1 and rows[0]["transaction_id"] == key,
                           f"lookup of {key} returned {len(rows)} rows")
    t.publish()
    bench.end_measure()
    t.check_table()


def cdc_mor_live_sql(bench) -> None:
    """Merge-on-read batches (uniform MODIFYs), each followed by the
    reference's four Athena statements against the live table and then
    ``auto_maintain`` inline."""
    t = CdcTable(bench, skew="uniform")
    sql = t.sql_mod.WarehouseSQL(t.wh)
    anchor = cdcgen.LAST_DATE
    last: dict[str, list] = {}

    def commit(path):
        return t.cdc.merge_cdc_batch(t.wh, bench.spark.read.text(path),
                                     strategy="mor")

    def maintain():
        return t.wh.auto_maintain(NS, TABLE)

    def query(name: str, key: str):
        text = oracle.render(name, anchor, key)

        def run():
            with bench.tracer.span(f"sql.{name}.execute"):
                df = sql.execute(text)
            with bench.tracer.span(f"sql.{name}.collect"):
                return df.collect()

        return _timed(bench, "query", f"sql.{name}", run)

    def period(timed: bool) -> None:
        """One commit, the four statements against the table it leaves
        (its equality deletes not yet folded), then maintenance."""
        path = t.land()
        if timed:
            bench.attempt(lambda: _timed(bench, "batch", "cdc.batch",
                                         lambda: commit(path)))
        else:
            commit(path)
        t.account(timed=timed)
        key = t.gen.keys[-1]
        for name in oracle.TEMPLATES:
            rows = bench.attempt(lambda: query(name, key))
            if rows is not None:
                last[name] = (rows, key)
        if timed:
            bench.attempt(lambda: _timed(bench, "maintain", "wh.maintain", maintain))
        else:
            maintain()
        t.account(timed=timed, commit=False)

    period(timed=False)  # compiles every code path
    bench.samples.clear()
    bench.end_setup()
    while bench.time_left():
        period(timed=True)
    t.publish()
    bench.end_measure()
    orc = t.check_table()
    for name, (rows, key) in last.items():
        reason = orc.check(name, rows, anchor, key)
        bench.check(f"sql_{name}", reason is None, reason)
    if bench.tracer.enabled:
        opsprobe.probe(bench)


WORKLOADS = {
    "cdc_cow_stream": cdc_cow_stream,
    "cdc_mor_live_sql": cdc_mor_live_sql,
}
