"""COPY INTO (idempotent bulk file loading, Delta syntax) and column
write-defaults (ANSI SET DEFAULT / Delta column defaults / Iceberg v3
write-default).

The COPY ledger rides the commits (atomic with the data, kept in the
log state across snapshot expiry), so re-runs, crashes, and racing COPYs can
never double-load a source file."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from sample_for_transactional_datalake_using_s3tables_spark.sources.sqlexec import WarehouseSQL
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse


S = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType(), True),
        StructField("v", IntegerType(), True),
    ]
)


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.create_namespace("ns")
    w.create_table("ns", "t", S, key="id")
    return w


def _write_src(spark, path, rows):
    spark.createDataFrame(rows, S).coalesce(1).write.mode("overwrite").parquet(
        path
    )



def test_copy_into_loads_then_skips(wh, spark, tmp_path):
    src = str(tmp_path / "landing")
    _write_src(spark, src, [("a", "d0", 1), ("b", "d0", 2)])
    r1 = wh.copy_into("ns", "t", src)
    assert r1["files_loaded"] >= 1 and r1["rows_loaded"] == 2
    # identical re-run: pure no-op, no new snapshot
    r2 = wh.copy_into("ns", "t", src)
    assert r2 == {
        "files_loaded": 0,
        "rows_loaded": 0,
        "files_skipped": r1["files_loaded"],
        "version": r1["version"],
    }
    assert wh.read("ns", "t").count() == 2


def test_copy_into_loads_only_new_files(wh, spark, tmp_path):
    src = str(tmp_path / "landing")
    _write_src(spark, src, [("a", "d0", 1)])
    wh.copy_into("ns", "t", src)
    # a second delivery lands NEW files next to the old ones
    spark.createDataFrame([("b", "d1", 2)], S).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    r = wh.copy_into("ns", "t", src)
    assert r["files_loaded"] >= 1 and r["rows_loaded"] == 1
    assert r["files_skipped"] >= 1
    got = {(r.id, r.v) for r in wh.read("ns", "t").collect()}
    assert got == {("a", 1), ("b", 2)}


def test_copy_ledger_survives_expiry(wh, spark, tmp_path):
    src = str(tmp_path / "landing")
    _write_src(spark, src, [("a", "d0", 1)])
    wh.copy_into("ns", "t", src)
    # a later non-COPY commit, then expire the COPY's snapshot
    wh.insert("ns", "t", spark.createDataFrame([("b", "d1", 2)], S))
    wh.expire_snapshots("ns", "t", keep_last=1)
    r = wh.copy_into("ns", "t", src)  # the ledger still knows the file
    assert r["files_loaded"] == 0 and wh.read("ns", "t").count() == 2


def test_copy_into_sql_route(wh, spark, tmp_path):
    src = str(tmp_path / "landing")
    _write_src(spark, src, [("a", "d0", 1), ("b", "d1", 2)])
    ex = WarehouseSQL(wh)
    r = ex.execute(
        f"COPY INTO ns.t FROM '{src}' FILEFORMAT = PARQUET "
        "PATTERN = '*.parquet'"
    )
    assert r["rows_loaded"] == 2
    r2 = ex.execute(f"COPY INTO ns.t FROM '{src}' FILEFORMAT = PARQUET")
    assert r2["files_loaded"] == 0
    assert ex.execute("SELECT COUNT(*) AS n FROM ns.t").collect()[0].n == 2


def test_copy_into_missing_column_raises(wh, spark, tmp_path):
    src = str(tmp_path / "landing")
    spark.createDataFrame([("a",)], "id string").write.parquet(src)
    with pytest.raises(ValueError, match="lacks columns"):
        wh.copy_into("ns", "t", src)


def test_copy_into_fills_missing_column_from_default(wh, spark, tmp_path):
    wh.set_column_default("ns", "t", "v", "42")
    src = str(tmp_path / "landing")
    spark.createDataFrame(
        [("a", "d0")], "id string, day string"
    ).write.parquet(src)
    wh.copy_into("ns", "t", src)
    assert [(r.id, r.v) for r in wh.read("ns", "t").collect()] == [("a", 42)]


def test_set_default_validates_and_applies_on_insert(wh, spark):
    wh.set_column_default("ns", "t", "day", "'1970-01-01'")
    with pytest.raises(Exception):
        wh.set_column_default("ns", "t", "nope", "'x'")  # unknown column
    with pytest.raises(Exception):
        wh.set_column_default("ns", "t", "day", "no_such_col + 1")
    # python-API insert of a frame MISSING the defaulted column
    wh.insert("ns", "t", spark.createDataFrame([("a", 7)], "id string, v int"))
    row = wh.read("ns", "t").collect()[0]
    assert row.day == "1970-01-01" and row.v == 7


def test_sql_alter_set_default_and_partial_insert(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("ALTER TABLE ns.t ALTER COLUMN v SET DEFAULT 10 + 1")
    ex.execute("INSERT INTO ns.t (id, day) VALUES ('a', 'd0')")
    assert ex.execute("SELECT v FROM ns.t").collect()[0].v == 11
    ex.execute("ALTER TABLE ns.t ALTER COLUMN v DROP DEFAULT")
    ex.execute("INSERT INTO ns.t (id, day) VALUES ('b', 'd1')")
    got = {(r.id, r.v) for r in ex.execute("SELECT id, v FROM ns.t").collect()}
    assert got == {("a", 11), ("b", None)}


def test_default_on_required_column_allows_partial_insert(wh, spark):
    # a required column with a default no longer blocks partial INSERT
    w2 = Warehouse(spark, wh.root + "_req")
    w2.create_namespace("ns")
    w2.create_table("ns", "r", S, key="id", required=["v"])
    ex = WarehouseSQL(w2)
    with pytest.raises(ValueError, match="required"):
        ex.execute("INSERT INTO ns.r (id, day) VALUES ('a', 'd0')")
    w2.set_column_default("ns", "r", "v", "0")
    ex.execute("INSERT INTO ns.r (id, day) VALUES ('a', 'd0')")
    assert ex.execute("SELECT v FROM ns.r").collect()[0].v == 0


def test_create_table_default_clause_roundtrips(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.d (id STRING NOT NULL, lane STRING DEFAULT 'bulk', "
        "w STRUCT<a: INT, b: INT>, n INT DEFAULT 1 + 2)"
    )
    ex.execute("INSERT INTO ns.d (id) VALUES ('x')")
    row = ex.execute("SELECT id, lane, n FROM ns.d").collect()[0]
    assert (row.id, row.lane, row.n) == ("x", "bulk", 3)
    ddl = ex.execute("SHOW CREATE TABLE ns.d").collect()[0].createtab_stmt
    assert "lane STRING DEFAULT 'bulk'" in ddl and "DEFAULT 1 + 2" in ddl
    # the emitted DDL is re-runnable verbatim against a fresh warehouse
    w2 = Warehouse(spark, wh.root + "_rt")
    w2.create_namespace("ns")
    WarehouseSQL(w2).execute(ddl)
    assert (w2.table_meta("ns", "d").get("defaults") or {}) == {
        "lane": "'bulk'",
        "n": "1 + 2",
    }


def test_copy_conflict_replans_against_winner_ledger(wh, spark, tmp_path):
    """Simulate losing the CAS to a concurrent COPY of the same files:
    the loser must skip them, not double-load."""
    src = str(tmp_path / "landing")
    _write_src(spark, src, [("a", "d0", 1)])
    tdir = wh._table_dir("ns", "t")
    real_publish = wh._publish
    raced = {"done": False}

    def racing_publish(*args, **kwargs):
        if not raced["done"]:
            raced["done"] = True
            # winner lands the same source set first
            wh_b = Warehouse(spark, wh.root)
            wh_b.copy_into("ns", "t", src)
        return real_publish(*args, **kwargs)

    wh._publish = racing_publish
    try:
        r = wh.copy_into("ns", "t", src)
    finally:
        wh._publish = real_publish
    assert r["files_loaded"] == 0  # re-planned: winner already loaded it
    assert wh.read("ns", "t").count() == 1


def test_merge_with_schema_evolution(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("INSERT INTO ns.t VALUES ('a', 'd0', 1)")
    spark.createDataFrame(
        [("a", "d0", 2, "eu"), ("b", "d1", 3, "us")],
        "id string, day string, v int, region string",
    ).createOrReplaceTempView("src_evolve")
    ex.execute(
        "MERGE WITH SCHEMA EVOLUTION INTO ns.t USING src_evolve s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        (r.id, r.v, r.region)
        for r in ex.execute("SELECT id, v, region FROM ns.t").collect()
    }
    assert got == {("a", 2, "eu"), ("b", 3, "us")}
    # WITHOUT the clause, a wider source still raises
    with pytest.raises(Exception, match="not in table schema"):
        ex.execute(
            "MERGE INTO ns.t USING (SELECT 'c' AS id, 'd2' AS day, "
            "4 AS v, 'ap' AS region, 1 AS extra2) s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_create_default_adversarial_literals(wh, spark):
    """DEFAULT expressions containing commas, parens, quotes and
    keyword lookalikes must not confuse the column-def splitter."""
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.adv (id STRING, "
        "a STRING DEFAULT concat('x,y', '(', ''''), "
        "b STRING DEFAULT 'DEFAULT not null, c INT', "
        "c INT)"
    )
    ex.execute("INSERT INTO ns.adv (id, c) VALUES ('k', 5)")
    row = ex.execute("SELECT a, b, c FROM ns.adv").collect()[0]
    assert (row.a, row.b, row.c) == ("x,y('", "DEFAULT not null, c INT", 5)
    # schema kept exactly 4 columns despite the embedded lookalikes
    assert [f.name for f in wh.schema("ns", "adv").fields] == [
        "id", "a", "b", "c",
    ]


def test_update_set_default_keyword(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("INSERT INTO ns.t VALUES ('a', 'd0', 1), ('b', 'd0', 2)")
    ex.execute("ALTER TABLE ns.t ALTER COLUMN v SET DEFAULT 99")
    ex.execute("UPDATE ns.t SET v = DEFAULT WHERE id = 'a'")
    # no default declared on day -> DEFAULT means NULL
    ex.execute("UPDATE ns.t SET day = DEFAULT WHERE id = 'b'")
    got = {(r.id, r.day, r.v) for r in ex.execute("SELECT * FROM ns.t").collect()}
    assert got == {("a", "d0", 99), ("b", None, 2)}
    # a string literal 'DEFAULT' is NOT the keyword
    ex.execute("UPDATE ns.t SET day = 'DEFAULT' WHERE id = 'a'")
    assert (
        ex.execute("SELECT day FROM ns.t WHERE id = 'a'").collect()[0].day
        == "DEFAULT"
    )


def test_metadata_count_matches_scan_and_falls_back(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("INSERT INTO ns.t VALUES ('a', 'd0', 1), ('b', 'd0', 2), ('c', 'd1', 3)")
    assert ex.execute("SELECT COUNT(*) FROM ns.t").collect()[0][0] == 3
    # CoW delete: manifest record counts stay exact
    ex.execute("DELETE FROM ns.t WHERE id = 'b'")
    assert ex.execute("SELECT COUNT(*) AS n FROM ns.t").collect()[0].n == 2
    # MoR equality delete: live delete files -> metadata path must
    # refuse and the scan path must still be exact
    ex.execute("DELETE FROM ns.t WHERE id = 'c'", strategy="mor")
    tdir = wh._table_dir("ns", "t")
    doc = wh._manifest_doc(tdir, wh._versions(tdir)[-1])
    assert doc.get("deletes"), "test setup: expected a live MoR delete file"
    assert ex.execute("SELECT COUNT(*) AS n FROM ns.t").collect()[0].n == 1
    # row-filtered principal sees the FILTERED count (normal scan path)
    wh.grant("ro", "ns", "t", ("SELECT",), row_filter="day = 'd0'")
    exr = WarehouseSQL(wh, principal="ro")
    assert exr.execute("SELECT COUNT(*) AS n FROM ns.t").collect()[0].n == 1


def test_insert_values_default_keyword(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("ALTER TABLE ns.t ALTER COLUMN day SET DEFAULT upper('d')")
    ex.execute(
        "INSERT INTO ns.t VALUES ('a', DEFAULT, 1), ('b', 'x,DEFAULT', 2), "
        "('c', DEFAULT, DEFAULT)"
    )
    got = {(r.id, r.day, r.v) for r in ex.execute("SELECT * FROM ns.t").collect()}
    # v has no default -> DEFAULT is NULL; literal 'x,DEFAULT' is data
    assert got == {("a", "D", 1), ("b", "x,DEFAULT", 2), ("c", "D", None)}
    # partial column list: positional against the LIST, not the table
    ex.execute("INSERT INTO ns.t (id, day) VALUES ('e', DEFAULT)")
    assert (
        ex.execute("SELECT day FROM ns.t WHERE id = 'e'").collect()[0].day
        == "D"
    )


def test_copy_into_force_reloads(wh, spark, tmp_path):
    src = str(tmp_path / "landing")
    _write_src(spark, src, [("a", "d0", 1)])
    ex = WarehouseSQL(wh)
    ex.execute(f"COPY INTO ns.t FROM '{src}' FILEFORMAT = PARQUET")
    r = ex.execute(
        f"COPY INTO ns.t FROM '{src}' FILEFORMAT = PARQUET FORCE = TRUE"
    )
    assert r["files_loaded"] >= 1 and wh.read("ns", "t").count() == 2


def test_rename_drop_follow_defaults_and_guard_constraints(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("ALTER TABLE ns.t ALTER COLUMN v SET DEFAULT 7")
    ex.execute("ALTER TABLE ns.t RENAME COLUMN v TO val")
    # the default FOLLOWED the rename
    ex.execute("INSERT INTO ns.t (id, day) VALUES ('a', 'd0')")
    assert ex.execute("SELECT val FROM ns.t").collect()[0].val == 7
    assert wh.table_meta("ns", "t")["defaults"] == {"val": "7"}
    # a column referenced by a CHECK constraint can be neither renamed
    # nor dropped (Delta semantics); a 'val' inside a literal is data
    ex.execute("ALTER TABLE ns.t ADD CONSTRAINT pos CHECK (val > 0)")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        ex.execute("ALTER TABLE ns.t RENAME COLUMN val TO v2")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        ex.execute("ALTER TABLE ns.t DROP COLUMN val")
    # 'day' appears only INSIDE a string literal -> not a reference
    ex.execute("ALTER TABLE ns.t ADD CONSTRAINT lit CHECK (id != 'day')")
    ex.execute("ALTER TABLE ns.t RENAME COLUMN day TO d")
    ex.execute("ALTER TABLE ns.t DROP CONSTRAINT pos")
    ex.execute("ALTER TABLE ns.t DROP COLUMN val")
    assert wh.table_meta("ns", "t").get("defaults") == {}


def test_create_table_like_clones_shape(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute("ALTER TABLE ns.t ALTER COLUMN v SET DEFAULT 5")
    ex.execute("ALTER TABLE ns.t ADD CONSTRAINT pos CHECK (v > 0)")
    ex.execute("CREATE TABLE ns.t2 LIKE ns.t")
    m = wh.table_meta("ns", "t2")
    assert m["key"] == "id" and m["defaults"] == {"v": "5"}
    assert m["constraints"] == {"pos": "v > 0"}
    assert wh.read("ns", "t2").count() == 0  # shape only, no data
    ex.execute("INSERT INTO ns.t2 (id, day) VALUES ('a', 'd0')")
    assert ex.execute("SELECT v FROM ns.t2").collect()[0].v == 5
    with pytest.raises(Exception, match="constraint"):
        ex.execute("INSERT INTO ns.t2 VALUES ('b', 'd0', -1)")
    ex.execute("CREATE TABLE IF NOT EXISTS ns.t2 LIKE ns.t")  # idempotent
    with pytest.raises(ValueError, match="already exists"):
        ex.execute("CREATE TABLE ns.t2 LIKE ns.t")


def test_stream_copy_into_exactly_once(wh, spark, tmp_path):
    """Auto-loader shape: continuous COPY of a landing directory --
    availableNow drains the backlog; a later run with the same
    checkpoint picks up ONLY new files; the txn stamp makes a replayed
    epoch a no-op."""
    from sample_for_transactional_datalake_using_s3tables_spark.streaming import stream_copy_into

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_src(spark, landing, [("a", "d0", 1), ("b", "d0", 2)])
    q = stream_copy_into(spark, wh, landing, ("ns", "t"), ckpt)
    q.awaitTermination(120)
    assert wh.read("ns", "t").count() == 2
    # second delivery: new files only
    spark.createDataFrame([("c", "d1", 3)], S).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q2 = stream_copy_into(spark, wh, landing, ("ns", "t"), ckpt)
    q2.awaitTermination(120)
    got = {(r.id, r.v) for r in wh.read("ns", "t").collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}
    # idle restart commits nothing (no new files, no new snapshot)
    v = wh._versions(wh._table_dir("ns", "t"))[-1]
    q3 = stream_copy_into(spark, wh, landing, ("ns", "t"), ckpt)
    q3.awaitTermination(120)
    assert wh._versions(wh._table_dir("ns", "t"))[-1] == v
    # a replayed epoch (same app_id + epoch) is a provable no-op
    wh.insert("ns", "t", spark.createDataFrame([("c", "d1", 3)], S),
              txn=(f"copy-{__import__('hashlib').md5(ckpt.encode()).hexdigest()[:12]}", 0))
    assert wh.read("ns", "t").count() == 3


def test_landing_zone_journey(wh, spark, tmp_path):
    """The round-7 ingestion story end to end, public surface only:
    template table (LIKE) -> defaults -> batch COPY backfill ->
    streaming COPY of late files -> wider vendor feed via MERGE WITH
    SCHEMA EVOLUTION -> metadata-only count -> SHOW CREATE round-trip."""
    from sample_for_transactional_datalake_using_s3tables_spark.streaming import stream_copy_into

    ex = WarehouseSQL(wh)
    # 1. template: defaults + constraint, stamped out via LIKE
    ex.execute("ALTER TABLE ns.t ALTER COLUMN day SET DEFAULT 'backfill'")
    ex.execute("ALTER TABLE ns.t ADD CONSTRAINT vnn CHECK (v >= 0)")
    ex.execute("CREATE TABLE ns.daily LIKE ns.t")
    # 2. batch backfill: day column absent in the landing files ->
    #    default fills it
    backfill = str(tmp_path / "backfill")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "id string, v int"
    ).coalesce(1).write.parquet(backfill)
    r = ex.execute(
        f"COPY INTO ns.daily FROM '{backfill}' FILEFORMAT = PARQUET"
    )
    assert r["rows_loaded"] == 2
    # 3. live landing zone drains through the streaming copy
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_src(spark, landing, [("c", "d1", 3)])
    stream_copy_into(spark, wh, landing, ("ns", "daily"), ckpt).awaitTermination(120)
    # 4. a vendor starts shipping a wider feed
    spark.createDataFrame(
        [("c", "d1", 3, "acme")], "id string, day string, v int, vendor string"
    ).createOrReplaceTempView("vendor_feed")
    ex.execute(
        "MERGE WITH SCHEMA EVOLUTION INTO ns.daily t USING vendor_feed s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # 5. metadata-only count agrees with the scan
    assert ex.execute("SELECT COUNT(*) AS n FROM ns.daily").collect()[0].n == 3
    got = {
        (r.id, r.day, r.v, r.vendor)
        for r in ex.execute("SELECT * FROM ns.daily").collect()
    }
    assert got == {
        ("a", "backfill", 1, None),
        ("b", "backfill", 2, None),
        ("c", "d1", 3, "acme"),
    }
    # 6. the evolved table's DDL (defaults included) is re-runnable
    ddl = ex.execute("SHOW CREATE TABLE ns.daily").collect()[0].createtab_stmt
    w2 = Warehouse(spark, wh.root + "_ddl")
    w2.create_namespace("ns")
    WarehouseSQL(w2).execute(ddl)
    assert "vendor" in w2.schema("ns", "daily").fieldNames()


def test_generated_columns(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.g (id STRING NOT NULL, v INT, "
        "v2 INT GENERATED ALWAYS AS (v * 2), "
        "lane STRING DEFAULT 'bulk')"
    )
    # omitted generated column -> computed from the row
    ex.execute("INSERT INTO ns.g (id, v) VALUES ('a', 3)")
    row = ex.execute("SELECT * FROM ns.g").collect()[0]
    assert (row.id, row.v, row.v2, row.lane) == ("a", 3, 6, "bulk")
    # provided AND consistent -> accepted; inconsistent -> batch fails
    ex.execute("INSERT INTO ns.g VALUES ('b', 4, 8, 'x')")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        ex.execute("INSERT INTO ns.g VALUES ('c', 4, 9, 'x')")
    # DEFAULT keyword on a generated cell is a usage error
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        ex.execute("INSERT INTO ns.g VALUES ('d', 4, DEFAULT, 'x')")
    # python API insert without the column computes it too
    wh.insert("ns", "g", spark.createDataFrame(
        [("e", 5, "y")], "id string, v int, lane string"))
    got = {(r.id, r.v2) for r in ex.execute("SELECT id, v2 FROM ns.g").collect()}
    assert got == {("a", 6), ("b", 8), ("e", 10)}
    # rename/drop guards: v is referenced by v2's generation expr
    with pytest.raises(ValueError, match="generation expression"):
        ex.execute("ALTER TABLE ns.g RENAME COLUMN v TO w")
    with pytest.raises(ValueError, match="generation expression"):
        ex.execute("ALTER TABLE ns.g DROP COLUMN v")
    # SHOW CREATE emits the clause and round-trips
    ddl = ex.execute("SHOW CREATE TABLE ns.g").collect()[0].createtab_stmt
    assert "GENERATED ALWAYS AS (v * 2)" in ddl
    w2 = Warehouse(spark, wh.root + "_grt")
    w2.create_namespace("ns")
    WarehouseSQL(w2).execute(ddl)
    assert w2.table_meta("ns", "g")["generated"] == {"v2": "v * 2"}


def test_generated_partition_column(wh, spark):
    """The classic use: partition by a generated derivation."""
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.p (id STRING, amt INT, "
        "bucket3 INT GENERATED ALWAYS AS (amt % 3)) "
        "PARTITIONED BY (bucket3)"
    )
    ex.execute("INSERT INTO ns.p (id, amt) VALUES ('a', 4), ('b', 6), ('c', 7)")
    got = {(r.id, r.bucket3) for r in ex.execute("SELECT id, bucket3 FROM ns.p").collect()}
    assert got == {("a", 1), ("b", 0), ("c", 1)}
    # declaring on a non-empty table refuses
    with pytest.raises(ValueError, match="empty"):
        wh.set_column_generated("ns", "p", "bucket3", "amt % 5")
    # self/chained references refuse at declare time
    ex.execute("CREATE TABLE ns.q2 (a INT, b INT, c INT)")
    wh.set_column_generated("ns", "q2", "b", "a + 1")
    with pytest.raises(ValueError, match="generated columns"):
        wh.set_column_generated("ns", "q2", "c", "b + 1")


def test_update_recomputes_generated_columns(wh, spark):
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.gu (id STRING, v INT, "
        "v2 INT GENERATED ALWAYS AS (v * 2))"
    )
    ex.execute("INSERT INTO ns.gu (id, v) VALUES ('a', 3), ('b', 4)")
    # updating the source column recomputes the generated one
    ex.execute("UPDATE ns.gu SET v = v + 10 WHERE id = 'a'")
    got = {(r.id, r.v, r.v2) for r in ex.execute("SELECT * FROM ns.gu").collect()}
    assert got == {("a", 13, 26), ("b", 4, 8)}
    # assigning the generated column directly refuses
    with pytest.raises(ValueError, match="GENERATED"):
        ex.execute("UPDATE ns.gu SET v2 = 0 WHERE id = 'a'")
    # MoR cannot recompute -> explicit refusal, not silent staleness
    w2 = Warehouse(spark, wh.root + "_gmor")
    w2.create_namespace("ns")
    WarehouseSQL(w2).execute(
        "CREATE TABLE ns.k (id STRING, v INT, "
        "v2 INT GENERATED ALWAYS AS (v * 2)) "
        "TBLPROPERTIES ('primary-key' = 'id')"
    )
    WarehouseSQL(w2).execute("INSERT INTO ns.k (id, v) VALUES ('a', 1)")
    with pytest.raises(ValueError, match="recompute generated"):
        WarehouseSQL(w2).execute(
            "UPDATE ns.k SET v = 9 WHERE id = 'a'", strategy="mor"
        )


def test_identity_columns(wh, spark, tmp_path):
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.i (seq BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 100 INCREMENT BY 10), id STRING, v INT)"
    )
    ex.execute("INSERT INTO ns.i (id, v) VALUES ('a', 1), ('b', 2), ('c', 3)")
    first = {r.seq for r in ex.execute("SELECT seq FROM ns.i").collect()}
    assert first == {100, 110, 120}
    # the next batch continues past the high-water mark
    ex.execute("INSERT INTO ns.i (id, v) VALUES ('d', 4)")
    allv = sorted(r.seq for r in ex.execute("SELECT seq FROM ns.i").collect())
    assert allv == [100, 110, 120, 130]
    # providing the column refuses (ALWAYS semantics)
    with pytest.raises(ValueError, match="IDENTITY"):
        wh.insert("ns", "i", spark.createDataFrame(
            [(999, "x", 9)], "seq bigint, id string, v int"))
    # COPY assigns too
    landing = str(tmp_path / "ident")
    spark.createDataFrame([("e", 5)], "id string, v int").write.parquet(landing)
    wh.copy_into("ns", "i", landing)
    assert sorted(
        r.seq for r in ex.execute("SELECT seq FROM ns.i").collect()
    ) == [100, 110, 120, 130, 140]
    # DDL round-trips
    ddl = ex.execute("SHOW CREATE TABLE ns.i").collect()[0].createtab_stmt
    assert "GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10)" in ddl
    w2 = Warehouse(spark, wh.root + "_irt")
    w2.create_namespace("ns")
    WarehouseSQL(w2).execute(ddl)
    assert w2.table_meta("ns", "i")["identity"] == {
        "seq": {"start": 100, "step": 10}
    }


def test_identity_concurrent_allocation_never_duplicates(wh, spark):
    """A concurrent insert consuming ids between our allocation and our
    publish forces reallocation: all ids stay unique."""
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.ic (seq BIGINT GENERATED ALWAYS AS IDENTITY, "
        "id STRING)"
    )
    real_publish = wh._publish
    raced = {"done": False}

    def racing_publish(*args, **kwargs):
        if not raced["done"]:
            raced["done"] = True
            wh_b = Warehouse(spark, wh.root)
            wh_b.insert("ns", "ic", spark.createDataFrame(
                [("r1",), ("r2",)], "id string"))
        return real_publish(*args, **kwargs)

    wh._publish = racing_publish
    try:
        wh.insert("ns", "ic", spark.createDataFrame([("a",), ("b",)], "id string"))
    finally:
        wh._publish = real_publish
    seqs = sorted(r.seq for r in wh.read("ns", "ic").collect())
    assert seqs == [1, 2, 3, 4]  # unique, dense, no duplicates


def test_identity_negative_step_never_reissues(wh, spark):
    """INCREMENT BY -1 allocates off the MIN committed value (a
    max-based high-water would silently re-issue ids — ADVICE r8)."""
    ex = WarehouseSQL(wh)
    ex.execute(
        "CREATE TABLE ns.neg (seq BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 100 INCREMENT BY -1), id STRING)"
    )
    ex.execute("INSERT INTO ns.neg (id) VALUES ('a'), ('b'), ('c')")
    first = sorted(r.seq for r in ex.execute("SELECT seq FROM ns.neg").collect())
    assert first == [98, 99, 100]
    ex.execute("INSERT INTO ns.neg (id) VALUES ('d'), ('e')")
    allv = sorted(r.seq for r in ex.execute("SELECT seq FROM ns.neg").collect())
    assert allv == [96, 97, 98, 99, 100]  # unique, continues DOWNWARD


def test_stream_auto_compact_bounds_file_count(wh, spark, tmp_path):
    """auto_compact=True (Delta autoCompact analog, round 8): 12
    landing files drained one per trigger produce 12 tiny per-epoch
    commits; post-commit threshold compaction keeps the LIVE file
    count bounded well under one-per-epoch, and the data is intact."""
    from sample_for_transactional_datalake_using_s3tables_spark.streaming import stream_copy_into

    landing = str(tmp_path / "landing_ac")
    ckpt = str(tmp_path / "ckpt_ac")
    rows = [(f"k{i}", "d0", i) for i in range(12)]
    for i, r in enumerate(rows):
        spark.createDataFrame([r], S).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    q = stream_copy_into(
        spark, wh, landing, ("ns", "t"), ckpt,
        max_files_per_trigger=1, auto_compact=True,
        auto_compact_min_files=4,
    )
    q.awaitTermination(300)
    got = {(r.id, r.v) for r in wh.read("ns", "t").collect()}
    assert got == {(f"k{i}", i) for i in range(12)}
    tdir = wh._table_dir("ns", "t")
    doc = wh._manifest_doc(tdir, wh._versions(tdir)[-1])
    # 12 epochs without auto-compact => 12 live files; the threshold
    # (4) keeps the live set strictly below it plus the tail
    assert len(doc["files"]) <= 4, [e["path"] for e in doc["files"]]
    # history: at least one commit classified as a replace/compaction
    idx = wh._commit_index(tdir)
    assert any(r["op"] in ("replace", "compact") for r in idx)


def test_stream_merge_auto_compact(wh, spark, tmp_path):
    """The table-to-table MERGE sink compacts too: 6 single-row source
    commits stream across one-at-a-time; the destination's live file
    count stays bounded."""
    from sample_for_transactional_datalake_using_s3tables_spark.streaming import (
        stream_table_to_table,
    )

    wh.create_table("ns", "dst", S, key="id")
    wh.create_table("ns", "src_t", S, key="id")
    ckpt = str(tmp_path / "ckpt_m")
    for i in range(6):
        wh.insert(
            "ns", "src_t",
            spark.createDataFrame([(f"m{i}", "d0", i)], S).coalesce(1),
        )
    q = stream_table_to_table(
        spark, wh, ("ns", "src_t"), ("ns", "dst"), ckpt,
        trigger={"availableNow": True}, auto_compact=True,
        auto_compact_min_files=3,
    )
    q.awaitTermination(300)
    assert wh.read("ns", "dst").count() == 6
    tdir = wh._table_dir("ns", "dst")
    doc = wh._manifest_doc(tdir, wh._versions(tdir)[-1])
    assert len(doc["files"]) <= 3
