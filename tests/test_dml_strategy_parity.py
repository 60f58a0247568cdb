"""Row-level DML strategy parity: on a partitioned table, DELETE,
UPDATE and MERGE give the same answer under every write strategy.

``cow`` rewrites the files holding matches, ``mor`` commits an
equality-delete file (plus the updated copies), ``mor-pos`` commits a
position-delete file (plus the updated copies). On a table whose key is
unique the three are interchangeable: the final rows, the reported row
count and the netted changelog from the pre-DML version must agree,
with the change feed off (derived changelog) and on (stored change
files). MERGE (``cow`` and ``mor``) is a keyed upsert: every older copy
of a batch key goes, so the two agree on a key held twice as well."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse

S = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType(), True),
        StructField("v", IntegerType(), True),
    ]
)

ROWS = [(f"k{i}", f"d{i % 3}", i) for i in range(30)]
STRATEGIES = ("cow", "mor", "mor-pos")


def _table(spark, root: str, cdf: bool, dup: bool = False) -> Warehouse:
    wh = Warehouse(spark, root)
    wh.create_namespace("ns")
    wh.create_table("ns", "t", S, key="id", partition_by="day")
    if cdf:
        wh.set_change_feed("ns", "t", True)
    # two inserts: every partition holds two files, so the DML touches
    # some files and carries others over by reference
    wh.insert("ns", "t", spark.createDataFrame(ROWS[:15], S).coalesce(1))
    wh.insert("ns", "t", spark.createDataFrame(ROWS[15:], S).coalesce(1))
    # a pending equality delete (MoR upsert of k4): every strategy's
    # probe must be deletes-aware and never resurrect the old copy
    wh.merge_upsert(
        "ns", "t", spark.createDataFrame([("k4", "d1", 400)], S),
        strategy="mor",
    )
    if dup:
        # k7 held twice: an append of an existing key
        wh.insert("ns", "t", spark.createDataFrame([ROWS[7]], S).coalesce(1))
    return wh


# a MERGE batch: an update of the key held twice (k7), an update that
# moves k10 from d1 to d0, an update of k4 (pending equality delete), a
# delete-marked k5 and an insert of k99
MERGE_BATCH = [
    ("k7", "d1", 700, False),
    ("k10", "d0", 1000, False),
    ("k4", "d1", 4000, False),
    ("k5", "d2", None, True),
    ("k99", "d0", 99, False),
]


def _dml(wh: Warehouse, op: str, strategy: str) -> int | None:
    if op == "merge":
        src = wh.spark.createDataFrame(
            MERGE_BATCH,
            StructType([*S.fields, StructField("del", BooleanType(), True)]),
        )
        wh.merge_upsert("ns", "t", src, delete_col="del", strategy=strategy)
        return None
    if op == "delete":
        r = wh.delete_where(
            "ns", "t", [("day", "=", "d1"), ("v", ">=", 10)],
            strategy=strategy,
        )
        return r["deleted_rows"]
    r = wh.update_where(
        "ns", "t", {"v": F.col("v") + 1000},
        [("day", "=", "d1"), ("v", ">=", 10)], strategy=strategy,
    )
    return r["updated_rows"]


def _changes(df):
    return sorted(
        (r.id, r.day, r.v, r._change_type, r._commit_version)
        for r in df.collect()
    )


@pytest.mark.parametrize("cdf", [False, True], ids=["cdf_off", "cdf_on"])
@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_strategies_agree(spark, tmp_path, op, cdf):
    strategies = STRATEGIES if op != "merge" else ("cow", "mor")
    seen = {}
    for strategy in strategies:
        wh = _table(spark, str(tmp_path / strategy), cdf, dup=op == "merge")
        pre = wh.current_version("ns", "t")
        n = _dml(wh, op, strategy)
        rows = sorted(tuple(r) for r in wh.read("ns", "t").collect())
        seen[strategy] = (rows, n, _changes(wh.changelog("ns", "t", pre)))
    rows, n, changes = seen["cow"]
    if op == "merge":
        # one row per key: k5 gone, k99 new, k7 once
        assert len(rows) == 30 and [r[0] for r in rows].count("k7") == 1
        assert ("k10", "d0", 1000) in rows and ("k4", "d1", 4000) in rows
        assert seen["mor"][0] == rows
        assert seen["mor"][2] == changes
        return
    # k10..k28 in d1 match, and k4 through its upserted copy (v=400)
    # only: the old copy (v=4) is already a ghost
    assert n == 8
    assert len(changes) == (8 if op == "delete" else 16)
    for strategy in ("mor", "mor-pos"):
        assert seen[strategy][0] == rows, strategy
        assert seen[strategy][1] == n, strategy
        assert seen[strategy][2] == changes, strategy
