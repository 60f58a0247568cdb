"""Loaders for the driver's deterministic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. One parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Normalization performed here (and nowhere else -- every operator goes
through this loader so the rest of the engine sees clean Spark types):

- ``events.ts`` is stored as parquet TIMESTAMP(NANOS). PySpark 4.1+
  reads it natively as ``TIMESTAMP_NTZ`` (truncated to micros); older
  runtimes could only surface it as epoch-nanos ``LongType`` via the
  (now-removed) ``nanosAsLong`` legacy conf. Either way we normalize to
  session-zoned ``TimestampType`` at microsecond precision -- the session
  timezone is pinned to UTC (plans/session.py), so the NTZ -> TZ cast is
  value-preserving and identical to what DuckDB (the correctness oracle)
  yields for the same file.

At 100 TB these loads are partition-pruned, column-pruned parquet scans;
nothing here forces a full materialization or a shuffle.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType

from ..plans.session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def spread(df: DataFrame, *by: str) -> DataFrame:
    """Spread rows across all cores before per-row-expensive compute.

    The local testdata tables are single parquet files == one input
    split, so without this every md5/shingle/Arrow stage runs on one
    core. The partition count is explicit because AQE would coalesce a
    bare ``repartition(col)`` of small data back to one partition. At
    real scale the scan yields thousands of splits and this becomes a
    cheap no-op-ish extra exchange of only the projected columns."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *by) if by else df.repartition(n)


# Schema cache (optimization r13): spark.read.parquet runs a footer-read
# JOB per call for schema inference; the testdata files are immutable
# within a process, so infer once per (path, mtime, size) and pass the
# schema explicitly afterwards. Pure metadata memoization (the same
# caching a table catalog provides) -- never caches data or results; a
# regenerated file (new mtime/size) re-infers.
_SCHEMA_CACHE: dict[tuple[str, float, int], "object"] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized Spark types."""
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime, st.st_size)
    except OSError:
        key = None
    schema = _SCHEMA_CACHE.get(key) if key else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key:
            _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, TimestampNTZType):
            # PySpark 4.1+ native nanos read; UTC session tz makes the
            # NTZ -> TZ cast value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif isinstance(dt, LongType):
            # Legacy epoch-nanos read -> TimestampType (micros).
            # Integer `div`, not `/`: float division loses precision at 1e18.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
