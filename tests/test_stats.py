"""Table statistics (ANALYZE TABLE + the $stats metadata table): NDV +
null counts and min/max from one aggregate pass, snapshot-version
stamping.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from sample_for_transactional_datalake_using_s3tables_spark.sources.sqlexec import WarehouseSQL
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse

S = StructType(
    [
        StructField("id", StringType(), False),
        StructField("v", LongType()),
    ]
)


@pytest.fixture()
def env(spark):
    with tempfile.TemporaryDirectory() as d:
        wh = Warehouse(spark, d)
        wh.create_namespace("ns")
        wh.create_table("ns", "t", S, key="id")
        rows = [(f"k{i}", i % 3 if i % 5 else None) for i in range(10)]
        wh.insert("ns", "t", spark.createDataFrame(rows, S).coalesce(1))
        yield wh, WarehouseSQL(wh), spark


def test_analyze_exact_ndv_nulls_minmax(env):
    wh, sql, _spark = env
    doc = sql.execute("ANALYZE TABLE ns.t COMPUTE STATISTICS")
    c = doc["columns"]
    # v values: None at i=0,5; else i%3 -> {1,2,0,1,2,0,1,2} = 3 distinct
    assert c["id"]["ndv"] == 10 and c["id"]["n_nulls"] == 0
    assert c["v"]["ndv"] == 3 and c["v"]["n_nulls"] == 2
    assert c["id"]["min"] == "k0" and c["id"]["max"] == "k9"
    assert c["v"]["min"] == 0 and c["v"]["max"] == 2
    assert doc["records"] == 10 and doc["as_of_version"] == 1
    # $stats surfaces the same numbers
    got = {
        r.column: (r.ndv, r.n_nulls)
        for r in sql.execute("SELECT * FROM ns.t$stats").collect()
    }
    assert got == {"id": (10, 0), "v": (3, 2)}


def test_analyze_min_max_skip_merge_on_read_deleted_rows(env):
    """min/max describe the live rows: a row removed by a merge-on-read
    equality delete still sits in its data file (and that file's footer
    bounds) but no longer bounds the column."""
    wh, _sql, _spark = env
    wh.delete_where("ns", "t", [("id", "=", "k9")], strategy="mor")
    c = wh.analyze_table("ns", "t")["columns"]
    assert c["id"]["max"] == "k8"
    assert wh.plan_files("ns", "t")[0][0]["stats"]["id"] == ["k0", "k9"]


def test_analyze_approx_mode_and_staleness(env):
    wh, sql, spark = env
    sql.execute("ANALYZE TABLE ns.t COMPUTE STATISTICS WITH APPROX")
    doc = wh.table_stats("ns", "t")
    assert doc["mode"] == "approx"
    # HLL++ is exact at this cardinality
    assert doc["columns"]["id"]["ndv"] == 10
    # stats describe the snapshot they were computed at; a later commit
    # leaves them stamped with the OLD version (readers judge staleness)
    wh.insert("ns", "t", spark.createDataFrame([("z", 9)], S).coalesce(1))
    assert wh.table_stats("ns", "t")["as_of_version"] == 1
    assert wh.current_version("ns", "t") == 2


def test_unanalyzed_table_raises(env):
    wh, sql, _spark = env
    with pytest.raises(ValueError, match="ANALYZE"):
        wh.stats_df("ns", "t")
    with pytest.raises(ValueError, match="ANALYZE"):
        sql.execute("SELECT * FROM ns.t$stats").collect()


def test_analyze_skips_non_atomic_columns(env, spark):
    wh, sql, _spark = env
    from pyspark.sql.types import ArrayType, IntegerType

    s2 = StructType(
        [
            StructField("id", StringType(), False),
            StructField("arr", ArrayType(IntegerType())),
        ]
    )
    wh.create_table("ns", "t2", s2, key="id")
    wh.insert(
        "ns", "t2",
        spark.createDataFrame([("a", [1, 2])], s2).coalesce(1),
    )
    doc = wh.analyze_table("ns", "t2")
    assert set(doc["columns"]) == {"id"}  # arr skipped, no crash


def test_analyze_min_max_of_columns_without_file_stats(spark):
    """Files keep min/max only for the first 8 columns (plus key and
    layout columns); ANALYZE still reports min/max for every column of a
    wider table, taking the rest from its one aggregate pass."""
    wide = StructType(
        [StructField("id", StringType(), False)]
        + [StructField(f"c{i}", LongType()) for i in range(1, 12)]
    )
    with tempfile.TemporaryDirectory() as d:
        wh = Warehouse(spark, d)
        wh.create_namespace("ns")
        wh.create_table("ns", "w", wide, key="id")
        for lo in (0, 10):
            rows = [
                (f"k{j:02d}", *(j * i if j % 4 else None for i in range(1, 12)))
                for j in range(lo, lo + 10)
            ]
            wh.insert("ns", "w", spark.createDataFrame(rows, wide).coalesce(1))
        files = wh.plan_files("ns", "w")[0]
        assert all("c11" not in e["stats"] for e in files)  # past the first 8
        cols = wh.analyze_table("ns", "w")["columns"]
        assert (cols["id"]["min"], cols["id"]["max"]) == ("k00", "k19")
        for i in range(1, 12):
            # rows 0, 4, 8, 12, 16 are NULL; the rest hold j * i
            assert (cols[f"c{i}"]["min"], cols[f"c{i}"]["max"]) == (i, 19 * i)
            assert cols[f"c{i}"]["n_nulls"] == 5
