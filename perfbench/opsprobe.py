"""The ``ops`` layer: the registry's DataFrame twins of the reference
analytics, measured in traced runs of ``cdc_mor_live_sql``.

``operators.all_queries`` serves Risk Analysis and Hourly Pattern over an
``events`` parquet table, the same analyst questions the workload's SQL
statements ask of the live table. Each query runs once to compile, then
once under spans: ``ops.build`` (DataFrame construction), ``ops.plan``
(the forced ``executedPlan``) and ``ops.exec`` (execution to the noop
sink). Its result is checked against the registry's DuckDB oracle over
the same file. End-to-end runs skip this probe, so it moves no end-to-end
metric; the 20-query suite it samples is not part of this benchmark
(README.md, "Not measured here").
"""

from __future__ import annotations

import datetime as dt
import importlib
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spans import PKG

QUERIES = ("risk_analysis", "hourly_pattern")
EVENTS = 10_000  # the sf0.01 events size
_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def write_events(path: str, seed: int, n: int = EVENTS) -> None:
    """``events`` rows over 30 days: distinct times, 2-decimal values."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.choice(30 * _DAY_US, n, replace=False)) + _START_US
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), n), pa.int64()),
        "event_type": np.array(("click", "error", "purchase", "signup", "view"))[
            rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), path)


def _canon(frame) -> list[tuple]:
    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6f}"
        if isinstance(v, (dt.date, np.datetime64)):
            return pd.Timestamp(v).isoformat()
        return str(v)

    return sorted(tuple(cell(v) for v in row)
                  for row in frame.itertuples(index=False, name=None))


def probe(bench) -> None:
    ops = importlib.import_module(f"{PKG}.operators")
    queries, oracles = ops.all_queries(), ops.all_oracles()
    sf_dir = os.path.join(bench.work, "ops_tables")
    os.makedirs(sf_dir)
    write_events(os.path.join(sf_dir, "events.parquet"), bench.seed)
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, 'events.parquet')}')")
    tracer, spark = bench.tracer, bench.spark
    for name in QUERIES:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        with tracer.op(f"ops.{name}"):
            with tracer.span("ops.build"):
                df = queries[name](spark, sf_dir)
            with tracer.span("ops.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("ops.exec"):
                df.write.format("noop").mode("overwrite").save()
        got = df.toPandas()
        want = con.execute(oracles[name]).df()
        bench.check(f"ops_{name}", _canon(got) == _canon(want[got.columns]),
                    f"{name} differs from its DuckDB oracle")
