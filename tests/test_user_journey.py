"""The reference's end-to-end user journey on this engine, one test per
stage boundary: catalog bootstrap -> streaming CDC ingest (merge-on-read
with quarantine) -> governed SQL analytics -> table maintenance ->
audit-branch promotion. Each stage uses only the public surface a
migrating reference user would touch (reference README.md architecture:
DynamoDB Streams -> Firehose transform -> S3 Tables MERGE -> Athena).
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from sample_for_transactional_datalake_using_s3tables_spark.sources.sqlexec import WarehouseSQL
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse
from sample_for_transactional_datalake_using_s3tables_spark.streaming.cdc import (
    create_transactions_table,
    stream_cdc_to_table,
)

from .test_streaming import TS, envelope


@pytest.fixture()
def wh(spark):
    with tempfile.TemporaryDirectory() as d:
        w = Warehouse(spark, d)
        create_transactions_table(w)
        yield w


def _ingest(spark, wh, src, ckpt, lines):
    with open(os.path.join(src, f"b{len(os.listdir(src))}.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    q = stream_cdc_to_table(spark, src, wh, ckpt, strategy="mor")
    q.awaitTermination(120)


def test_full_reference_journey(spark, wh):
    sql_admin = WarehouseSQL(wh)
    with tempfile.TemporaryDirectory() as src, tempfile.TemporaryDirectory() as ckpt:
        # -- stage 1: stream two micro-batches of CDC envelopes,
        # including garbage that must dead-letter, as MoR commits --
        _ingest(
            spark, wh, src, ckpt,
            [
                envelope("INSERT", "TXN_1", TS, "10.00"),
                envelope("INSERT", "TXN_2", TS, "20.00"),
                "garbage {{{ not json",
            ],
        )
        _ingest(
            spark, wh, src, ckpt,
            [
                envelope("MODIFY", "TXN_2", TS, "22.00"),
                envelope("INSERT", "TXN_3", TS, "30.00"),
            ],
        )
        assert wh.last_merge_stats["mode"] == "mor"
        assert wh.last_merge_stats["rewritten_files"] == 0

        # -- stage 2: governed analytics over the live table as SQL
        # text (the Athena surface) --
        wh.grant(
            "analyst", "analytics", "transactions",
            permissions=("SELECT", "DESCRIBE"),
            columns=["transaction_id", "amount", "status"],
        )
        analyst = WarehouseSQL(wh, principal="analyst")
        got = analyst.execute(
            "SELECT status, CAST(SUM(amount) AS DOUBLE) AS total, "
            "COUNT(*) AS n FROM analytics.transactions "
            "GROUP BY status ORDER BY status"
        ).collect()
        assert [(r.status, r.total, r.n) for r in got] == [
            ("APPROVED", 62.0, 3)
        ]
        # the dead-letter table holds the garbage, bytes preserved
        bad = wh.read("analytics", "transactions_errors").collect()
        assert [r.raw_record for r in bad] == ["garbage {{{ not json"]
        # column governance really pruned the projection
        cols = analyst.execute(
            "SELECT * FROM analytics.transactions"
        ).columns
        assert sorted(cols) == ["amount", "status", "transaction_id"]

        # -- stage 3: maintenance resolves the MoR backlog (one of four
        # rows deleted stays under the rewrite ratio), an explicit
        # compact folds it; history and time travel survive --
        v_before = wh.current_version("analytics", "transactions")
        assert wh.deletes_df("analytics", "transactions").count() >= 1
        res = wh.auto_maintain(
            "analytics", "transactions", keep_last=10,
            orphan_horizon_seconds=3600,
        )
        assert not res["compacted"]
        tdir = wh._table_dir("analytics", "transactions")
        doc = wh._manifest_doc(tdir, wh.current_version("analytics", "transactions"))
        assert [d["kind"] for d in doc["deletes"]] == ["pos"]
        assert wh.read("analytics", "transactions").count() == 3
        wh.compact("analytics", "transactions")
        assert wh.deletes_df("analytics", "transactions").count() == 0
        v1_rows = wh.read("analytics", "transactions", version=v_before).count()
        assert v1_rows == 3
        meta = sql_admin.execute(
            "SELECT records FROM analytics.transactions$snapshots "
            "ORDER BY version DESC LIMIT 1"
        ).collect()
        assert meta[0].records == 3

        # -- stage 4: audited backfill on a branch, promoted by
        # fast-forward --
        wh.create_branch("analytics", "transactions", "backfill")
        schema = wh.schema("analytics", "transactions")
        fix = wh.read("analytics", "transactions").filter(
            "transaction_id = 'TXN_3'"
        ).selectExpr(
            *[
                "CAST(33.00 AS DECIMAL(12,2)) AS amount"
                if f.name == "amount"
                else f.name
                for f in schema.fields
            ]
        )
        wh.merge_upsert(
            "analytics", "transactions", fix, branch="backfill"
        )
        # main unchanged until promotion
        main_amounts = {
            r.transaction_id: str(r.amount)
            for r in wh.read("analytics", "transactions").collect()
        }
        assert main_amounts["TXN_3"] == "30.00"
        wh.fast_forward("analytics", "transactions", "backfill")
        promoted = {
            r.transaction_id: str(r.amount)
            for r in wh.read("analytics", "transactions").collect()
        }
        assert promoted["TXN_3"] == "33.00"
        assert promoted["TXN_2"] == "22.00"


def test_round6_surface_journey(spark, wh):
    """The round-6 user surface as one story: CTAS a curated table,
    ALTER COLUMN widening, a GDPR-style positional row erasure, the
    audit via table_changes, timestamp time travel to the pre-erasure
    state, a governed VIEW for the analyst, and the medallion hop
    streaming the table into a downstream copy."""
    import tempfile as _tf

    import pyspark.sql.functions as F

    from sample_for_transactional_datalake_using_s3tables_spark.streaming.tables import (
        stream_table_to_table,
    )

    sql = WarehouseSQL(wh)
    spark.createDataFrame(
        [("u1", "eu", 10), ("u2", "us", 20), ("u3", "eu", 30)],
        "user_id string, region string, spend int",
    ).createOrReplaceTempView("raw_users")
    # CTAS with key; then widen spend before big values arrive
    sql.execute(
        "CREATE TABLE analytics.users TBLPROPERTIES "
        "('primary-key' = 'user_id') AS SELECT * FROM raw_users"
    )
    sql.execute("ALTER TABLE analytics.users ALTER COLUMN spend TYPE BIGINT")
    sql.execute(
        "INSERT INTO analytics.users VALUES ('u4', 'eu', 5000000000)"
    )
    import time as _time

    ts_before_erasure = _time.time()
    # GDPR erasure: positional delete -- exact rows, no key required,
    # zero rewrites (the erasure itself must not churn the table)
    r = wh.delete_where(
        "analytics", "users", F.col("user_id") == "u2",
        strategy="mor-pos",
    )
    assert r["deleted_rows"] == 1 and r["rewritten_files"] == 0
    # audit: the CDF shows exactly the erased row
    changes = sql.execute(
        f"SELECT user_id, _change_type FROM "
        f"table_changes('analytics.users', {r['version'] - 1}, "
        f"{r['version']})"
    ).collect()
    assert [(c.user_id, c._change_type) for c in changes] == [
        ("u2", "delete")
    ]
    # compliance snapshot: timestamp travel still sees the pre-erasure
    # state (until expiration policy reclaims it)
    v_old = wh.snapshot_as_of("analytics", "users", ts_before_erasure)
    assert wh.read("analytics", "users", version=v_old).count() == 4
    assert wh.read("analytics", "users").count() == 3
    # governed view: the analyst sees only EU users through it
    sql.execute(
        "CREATE VIEW analytics.eu_spend AS SELECT user_id, spend "
        "FROM analytics.users WHERE region = 'eu'"
    )
    wh.grant(
        "analyst2", "analytics", "users", permissions=("SELECT",),
        row_filter="region = 'eu'",
    )
    analyst = WarehouseSQL(wh, principal="analyst2")
    got = {
        r.user_id: r.spend
        for r in analyst.execute(
            "SELECT * FROM analytics.eu_spend"
        ).collect()
    }
    assert got == {"u1": 10, "u3": 30, "u4": 5000000000}
    # medallion hop: stream the curated table into a downstream copy
    wh.create_table(
        "analytics", "users_silver",
        wh.schema("analytics", "users"), key="user_id",
    )
    ckpt = _tf.mkdtemp()
    q = stream_table_to_table(
        spark, wh, ("analytics", "users"), ("analytics", "users_silver"),
        ckpt, strategy="mor", on_delete="skip",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    silver = {
        r.user_id for r in wh.read("analytics", "users_silver").collect()
    }
    assert {"u1", "u3", "u4"} <= silver


def test_round7_sandbox_journey(spark):
    """The dev-sandbox journey the round-7 surface enables: a
    production table is SHALLOW CLONEd into a dev namespace, reloaded
    with INSERT OVERWRITE (dynamic + replaceWhere), inspected and
    governed through the Iceberg REST catalog (CAS properties commit,
    view, rename), and finally RESTOREd -- all on the public surface a
    migrating user would touch."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from sample_for_transactional_datalake_using_s3tables_spark.sources.restcatalog import (
        IcebergRestCatalogServer,
        RestCatalog,
        RestCatalogError,
    )

    S = StructType(
        [
            StructField("id", StringType(), False),
            StructField("day", StringType()),
            StructField("v", LongType()),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        wh = Warehouse(spark, d)
        sql = WarehouseSQL(wh)
        wh.create_namespace("prod")
        wh.create_namespace("dev")
        wh.create_table("prod", "t", S, key="id", partition_by="day")
        wh.insert(
            "prod", "t",
            spark.createDataFrame(
                [(f"k{i}", f"d{i % 2}", i) for i in range(10)], S
            ),
        )
        # 1. sandbox: zero-copy clone into dev
        sql.execute("CREATE TABLE dev.t SHALLOW CLONE prod.t")
        # 2. experiment: replace one partition, then one row slice
        sql.execute(
            "INSERT OVERWRITE dev.t SELECT 'all', 'dX', 0"
        )  # static mode replaced everything -> restore the clone point
        sql.execute("RESTORE TABLE dev.t TO VERSION AS OF 0")
        assert sql.execute(
            "SELECT COUNT(*) AS n FROM dev.t"
        ).collect()[0].n == 10
        wh.insert_overwrite(
            "dev", "t",
            spark.createDataFrame([("n0", "d0", 100)], S),
        )  # dynamic: replaces d0 only
        sql.execute(
            "INSERT INTO dev.t REPLACE WHERE day = 'd1' AND v >= 9 "
            "VALUES ('n9', 'd1', 900)"
        )
        got = {r.id for r in wh.read("dev", "t").collect()}
        assert got == {"n0", "n9", "k1", "k3", "k5", "k7"}
        # prod untouched by any of it
        assert wh.read("prod", "t").count() == 10
        # 3. govern + inspect through the REST catalog
        with IcebergRestCatalogServer(wh) as server:
            client = RestCatalog(server.uri)
            loaded = client.load_table("dev", "t")["metadata"]
            assert loaded["properties"]["clone_source"].startswith("prod.t@")
            tip = loaded["current-snapshot-id"]
            client.commit_table(
                "dev", "t",
                requirements=[
                    {"type": "assert-ref-snapshot-id", "ref": "main",
                     "snapshot-id": tip}
                ],
                updates=[{"action": "set-properties",
                          "updates": {"stage": "experiment"}}],
            )
            with pytest.raises(RestCatalogError) as e:
                client.commit_table(
                    "dev", "t",
                    requirements=[
                        {"type": "assert-ref-snapshot-id", "ref": "main",
                         "snapshot-id": tip}
                    ],
                    updates=[{"action": "set-properties",
                              "updates": {"stage": "stale"}}],
                )
            assert e.value.code == 409
            client.create_view(
                "dev", "recent", "SELECT id, v FROM dev.t WHERE v >= 100"
            )
            assert {r.id for r in
                    sql.execute("SELECT * FROM dev.recent").collect()} == {
                        "n0", "n9"}
            client.rename_table("dev", "t", "dev", "experiment1")
        props = {
            r.key: r.value
            for r in sql.execute(
                "SHOW TBLPROPERTIES dev.experiment1"
            ).collect()
        }
        assert props["stage"] == "experiment"
        assert sql.execute(
            "SELECT COUNT(*) AS n FROM dev.experiment1"
        ).collect()[0].n == 6
