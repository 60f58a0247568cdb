"""CDC envelope ingest: DynamoDB-Streams-shaped JSON -> typed rows -> MERGE.

Re-expresses the reference's ingest operators (SURVEY.md section 2.2) as
vectorized Column expressions over a Structured Streaming source:

- T1 event filter: keep INSERT|MODIFY, drop REMOVE
  (reference lambda/transform/index.py:25, lambda/firehose/index.py:12)
- T6 projection: NewImage only (lambda/transform/index.py:27)
- T2 AttributeValue unwrap: ``{"S": "x"} -> "x"`` generalized per-column
  with type-tag coalesce + cast (lambda/transform/index.py:27-30) --
  the reference's one-liner is schema-oblivious; here the 22-column
  transactions schema drives generated expressions, no UDF.
- T3 derived time columns: epoch-millis -> date/hour/minute
  (lambda/transform/index.py:33-37)
- T4 decimal fidelity: amount -> DECIMAL(12,2) directly (the reference
  loses precision through a float round-trip, lambda/transform/index.py:10-14
  -- deliberate deviation, we keep decimal end-to-end)
- S7 dead-letter: malformed JSON / missing required key -> quarantine
  (reference error_output_prefix="errors/", stack/firehose.py:86-91)
- S5/S6 delivery: micro-batch ``foreachBatch`` with within-batch
  latest-wins dedup + keyed MERGE (stack/firehose.py:92-99,152-159)

The batch transform is a pure function of a DataFrame so the exact same
code runs under ``readStream`` (streaming) and ``read`` (backfill).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.warehouse import Warehouse

# Canonical flat transactions schema: 22 columns
# (reference tabledefinition.json:8-99 == lambda/custom_resource/index.py:92-123).
TRANSACTIONS_SCHEMA = StructType(
    [
        StructField("transaction_id", StringType(), False),  # required
        StructField("timestamp", LongType()),                # epoch millis
        StructField("customer_id", StringType()),
        StructField("date", DateType()),                     # derived
        StructField("hour", IntegerType()),                  # derived
        StructField("minute", IntegerType()),                # derived
        StructField("transaction_type", StringType()),
        StructField("amount", DecimalType(12, 2)),
        StructField("currency", StringType()),
        StructField("merchant_category", StringType()),
        StructField("payment_method", StringType()),
        StructField("region", StringType()),
        StructField("risk_score", StringType()),
        StructField("status", StringType()),
        StructField("processing_timestamp", LongType()),
        StructField("device_type", StringType()),
        StructField("authentication_method", StringType()),
        StructField("merchant_id", StringType()),
        StructField("velocity_check", StringType()),
        StructField("amount_threshold", StringType()),
        StructField("location_risk", StringType()),
        StructField("pattern_match", StringType()),
    ]
)

DERIVED = ("date", "hour", "minute")

# The CDC envelope: NewImage/OldImage map each column to an
# AttributeValue type-tag map ({"S": ..} | {"N": ..} | {"BOOL": ..}).
# Parse-side schema (optimization r13, guide section 1.2 "per-task
# work"): the 22-column transactions schema is known up front, so
# from_json targets a STRUCT naming exactly the attributes the unwrap
# consumes (each as the three possible type tags) instead of
# materializing every attribute into nested UnsafeMapData. Jackson
# skips unlisted attributes; field access replaces per-row map probes.
# Same PERMISSIVE null-row behavior on malformed input, so quarantine
# classification is unchanged -- measured ~2.5x less parse CPU per row.
_ATTR_TYPE = "struct<S: string, N: string, BOOL: string>"


def _image_struct_ddl() -> str:
    return (
        "struct<"
        + ", ".join(
            f"`{f.name}`: {_ATTR_TYPE}"
            for f in TRANSACTIONS_SCHEMA.fields
            if f.name not in DERIVED
        )
        + ">"
    )


CDC_PARSE_DDL = (
    "eventName string, "
    f"dynamodb struct<NewImage: {_image_struct_ddl()}>"
)


def _unwrap_sql(field: StructField) -> str:
    """T2: AttributeValue unwrap for one target column, as a SQL
    fragment (one JVM parse instead of ~10 py4j round trips per column
    -- optimization r14; parse_cdc builds 19 of these PER STREAMING
    TRIGGER, ~0.5 s of driver wall each trigger before). DynamoDB sends
    numbers as {"N": "<string>"} so every tag coalesces to string
    first, then casts to the schema type.

    NULL-tagged attributes ({"NULL": true}) are deliberately NOT in
    the coalesce: from_json into map<string,string> stringifies the
    JSON boolean, so including the tag would write the literal
    string "true" instead of SQL NULL (and a NULL-tagged key would
    dodge the required-key quarantine)."""
    cell = f"e.dynamodb.NewImage.`{field.name}`"
    return (
        f"CAST(coalesce({cell}.S, {cell}.N, {cell}.BOOL)"
        f" AS {field.dataType.simpleString()}) AS `{field.name}`"
    )


def parse_cdc(
    raw: DataFrame, json_col: str = "value", base64_encoded: bool = False
) -> DataFrame:
    """Raw JSON lines -> typed transactions rows + quarantine marker.

    ``base64_encoded=True`` is the Kinesis-source path: records arrive
    base64-wrapped and are decoded first (S3 -- the reference's
    ``base64.b64decode`` + ``json.loads``, lambda/transform/index.py:22-23).

    Output columns: the 22-column schema plus ``_corrupt`` (original
    payload when the record failed to parse or lacked the required key).
    """
    payload = (
        F.unbase64(F.col(json_col)).cast("string")
        if base64_encoded
        else F.col(json_col)
    )
    env = raw.select(
        # quarantine preserves the ORIGINAL record (base64 included) so
        # dead-letter rows replay through the same ingest path verbatim
        # -- storing the decoded text would double-decode on replay and
        # mangle undecodable bytes into replacement chars
        F.col(json_col).alias("_raw"),
        F.from_json(payload, CDC_PARSE_DDL).alias("e"),
    )
    parsed = env.select(
        "_raw",
        F.col("e.eventName").alias("_event"),
        *[
            F.expr(_unwrap_sql(f))
            for f in TRANSACTIONS_SCHEMA.fields
            if f.name not in DERIVED
        ],
    )
    # T3: derive date/hour/minute from epoch-millis in UTC regardless
    # of the session timezone (a foreign session defaulting to a local
    # zone would otherwise land rows in the wrong date partition).
    # Two-arg convert_timezone (source omitted) maps the INSTANT to a
    # UTC wall-clock TIMESTAMP_NTZ; the 3-arg form would reinterpret
    # through the session zone.
    ts = "convert_timezone('UTC', timestamp_millis(timestamp))"
    parsed = parsed.withColumns(
        {
            "date": F.expr(f"CAST({ts} AS DATE)"),
            "hour": F.expr(f"hour({ts})"),
            "minute": F.expr(f"minute({ts})"),
        }
    )
    keep = F.col("_event").isin("INSERT", "MODIFY") & F.col(  # T1 + required key
        "transaction_id"
    ).isNotNull()
    # Quarantine: unparseable envelope, or a kept event missing its key.
    bad = F.col("_event").isNull() | (
        F.col("_event").isin("INSERT", "MODIFY") & F.col("transaction_id").isNull()
    )
    return (
        parsed.withColumn("_corrupt", F.when(bad, F.col("_raw")))
        .withColumn("_keep", keep)
        .drop("_raw")
    )


def good_rows(parsed: DataFrame) -> DataFrame:
    """The clean, typed transactions rows (T5: non-kept rows dropped)."""
    return parsed.filter(F.col("_keep")).select(
        *[f.name for f in TRANSACTIONS_SCHEMA.fields]
    )


def quarantine_rows(parsed: DataFrame) -> DataFrame:
    """Dead-letter rows (S7): malformed or key-less records, original
    payload preserved for replay -- the errors/ prefix analog."""
    return parsed.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw_record")
    )


def create_transactions_table(
    wh: Warehouse, ns: str = "analytics", table: str = "transactions"
) -> None:
    """DDL for the canonical table: namespace + partitioned, keyed table
    (reference lambda/custom_resource/index.py:63-131 + PARTITIONED BY
    (date), scripts/update_metadata.py:114)."""
    wh.create_namespace(ns)
    wh.create_table(
        ns,
        table,
        TRANSACTIONS_SCHEMA,
        key="transaction_id",
        partition_by="date",
        required=("transaction_id",),
    )


def merge_cdc_batch(
    wh: Warehouse,
    batch: DataFrame,
    ns: str = "analytics",
    table: str = "transactions",
    quarantine_table: str = "transactions_errors",
    strategy: str = "cow",
    txn: tuple[str, int] | None = None,
    phase_sink: dict | None = None,
) -> None:
    """One micro-batch: parse -> quarantine split -> latest-wins MERGE.

    Idempotent under replay (at-least-once delivery + keyed upsert ==
    the reference's effectively-once, stack/firehose.py:99). The
    QUARANTINE append is keyless, so its replay protection is the
    Delta-style ``txn=(app_id, epoch)`` stamp -- the streaming entry
    point supplies it; without it a batch replayed after a crash
    between the quarantine commit and the checkpoint would duplicate
    dead-letter rows.

    Single-pass: the parsed batch is cached, one aggregate computes both
    split sizes (fully populating the cache), and the sinks read from
    cache -- ``parse_cdc`` evaluates exactly once per trigger instead of
    once per emptiness probe + sink.

    ``phase_sink`` (optimization r14, driver-visible evidence): a
    mutable dict that accumulates per-trigger phase walls -- parse+agg,
    quarantine append, MERGE, and the warehouse's own merge sub-walls
    (probe / data write / delete write / publish) -- as
    ``{phase: [sec, ...]}`` lists, one element per trigger.
    """
    import time as _time

    def _mark(name: str, t0: float) -> None:
        if phase_sink is not None:
            phase_sink.setdefault(name, []).append(
                round(_time.perf_counter() - t0, 3)
            )

    t0 = _time.perf_counter()
    parsed = parse_cdc(batch).cache()
    try:
        n_bad, n_good = parsed.agg(
            F.count(F.col("_corrupt")).alias("n_bad"),
            F.count(F.when(F.col("_keep"), 1)).alias("n_good"),
        ).first()
        _mark("parse_agg_sec", t0)
        if n_bad:
            t0 = _time.perf_counter()
            # idempotent: create_table defaults if_not_exists=True
            wh.create_table(
                ns,
                quarantine_table,
                StructType([StructField("raw_record", StringType())]),
            )
            wh.insert(ns, quarantine_table, quarantine_rows(parsed), txn=txn)
            _mark("quarantine_sec", t0)
        if n_good:
            t0 = _time.perf_counter()
            wh.merge_upsert(
                ns, table, good_rows(parsed),
                order_col="processing_timestamp", strategy=strategy,
            )
            _mark("merge_sec", t0)
            if phase_sink is not None:
                for k, v in (
                    wh.last_merge_stats.get("walls") or {}
                ).items():
                    phase_sink.setdefault(f"merge_{k}", []).append(v)
    finally:
        parsed.unpersist()


def stream_cdc_to_table(
    spark: SparkSession,
    source_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    ns: str = "analytics",
    table: str = "transactions",
    trigger: dict | None = None,
    strategy: str = "cow",
    quarantine_table: str = "transactions_errors",
    phase_sink: dict | None = None,
):
    """S1/S6: file-source CDC stream (simulating the shard poller,
    reference stack/firehose.py:249-257) -> 60 s-style micro-batches ->
    foreachBatch MERGE. Returns the StreamingQuery.

    ``strategy="mor"`` switches every trigger's MERGE to merge-on-read
    (append data + equality-delete files, zero rewrites per commit) --
    the high-throughput CDC steady state; schedule ``auto_maintain`` to
    keep the delete backlog bounded."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 100)  # reference batch_size=100
        .load(source_dir)
    )
    import hashlib

    app_id = "cdcq-" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    trigger = trigger or {"availableNow": True}
    return (
        raw.writeStream.foreachBatch(
            lambda batch, epoch: merge_cdc_batch(
                wh, batch, ns, table, strategy=strategy,
                quarantine_table=quarantine_table,
                txn=(app_id, epoch), phase_sink=phase_sink,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
