"""The Parquet files the warehouse adds to a table: every writer (data,
copy-on-write rewrites, compaction, equality, position and change files)
uses one codec, tables that mix codecs read the same, the in-process and
distributed footer builds give the same manifest entries, and partition
values survive Spark's escaping of the ``_p=`` directory name.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sample_for_transactional_datalake_using_s3tables_spark.sources import warehouse as whmod
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse

SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("day", StringType()),
        StructField("v", LongType()),
    ]
)


@pytest.fixture()
def wh(spark):
    with tempfile.TemporaryDirectory() as d:
        yield Warehouse(spark, d)


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


def _create(spark, wh, table="t", n=40):
    wh.create_namespace("ns")
    wh.create_table("ns", table, SCHEMA, key="id", partition_by="day")
    rows = [(f"k{i}", f"d{i % 2}", i) for i in range(n)]
    wh.insert("ns", table, _df(spark, rows).coalesce(1))


def _codecs(tdir: str) -> dict[str, set[str]]:
    """Codecs of every column chunk of every Parquet file under ``tdir``."""
    out = {}
    for path in glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(path).metadata
        out[path] = {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }
    return out


def _spy(monkeypatch, wh, name: str) -> list:
    """Count calls of the instance method ``name``."""
    calls: list = []
    orig = getattr(wh, name)

    def wrapped(*a, **kw):
        calls.append(name)
        return orig(*a, **kw)

    monkeypatch.setattr(wh, name, wrapped)
    return calls


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.select("id", "day", "v").collect())


# ---------------------------------------------------------------------------
# Codec
# ---------------------------------------------------------------------------


def test_every_writer_writes_zstd(spark, wh, monkeypatch):
    _create(spark, wh)
    wh.set_change_feed("ns", "t", True)
    tdir = wh._table_dir("ns", "t")
    local_dels = _spy(monkeypatch, wh, "_write_delete_files_from_keys")
    dist_dels = _spy(monkeypatch, wh, "_write_delete_files")
    local_res = _spy(monkeypatch, wh, "_resolve_in_process")
    dist_res = _spy(monkeypatch, wh, "_resolve_distributed")
    seen: set[str] = set()

    def step(label, fn):
        fn()
        codecs = _codecs(tdir)
        new = codecs.keys() - seen
        assert new, f"{label} added no parquet file"
        # an empty file (no row group) has no column chunk to check
        bad = {p: c for p, c in codecs.items() if not c <= {"ZSTD"}}
        assert not bad, f"{label}: {bad}"
        seen.update(new)

    step("cow merge", lambda: wh.merge_upsert(
        "ns", "t", _df(spark, [("k1", "d1", 100), ("n1", "d0", 1)]),
        strategy="cow"))
    step("mor merge, in-process deletes", lambda: wh.merge_upsert(
        "ns", "t", _df(spark, [("k2", "d0", 200), ("n2", "d1", 2)]),
        strategy="mor"))
    step("resolution, in-process", lambda: wh.auto_maintain("ns", "t"))
    wh._MERGE_COLLECT_KEYS_MAX = 0
    step("mor merge, distributed deletes", lambda: wh.merge_upsert(
        "ns", "t", _df(spark, [("k4", "d0", 400), ("n3", "d1", 3)]),
        strategy="mor"))
    step("resolution, distributed", lambda: wh.auto_maintain("ns", "t"))
    del wh._MERGE_COLLECT_KEYS_MAX
    step("mor-pos delete", lambda: wh.delete_where(
        "ns", "t", F.col("v") == 7, strategy="mor-pos"))
    step("compact", lambda: wh.compact("ns", "t", min_files_per_partition=1))
    assert local_dels and dist_dels and local_res and dist_res
    assert any("/changes-" in p for p in seen), "no change file was written"


def test_mixed_codec_table_reads_like_all_zstd_twin(spark, wh, monkeypatch):
    monkeypatch.setattr(whmod, "_PARQUET_CODEC", "snappy")
    _create(spark, wh, "mixed")
    wh.merge_upsert(
        "ns", "mixed", _df(spark, [("k3", "d1", 300)]), strategy="mor"
    )
    old = {c for cs in _codecs(wh._table_dir("ns", "mixed")).values() for c in cs}
    assert old == {"SNAPPY"}
    monkeypatch.setattr(whmod, "_PARQUET_CODEC", "zstd")
    _create(spark, wh, "twin")
    wh.merge_upsert("ns", "twin", _df(spark, [("k3", "d1", 300)]), strategy="mor")
    for t in ("mixed", "twin"):
        wh.merge_upsert(
            "ns", t, _df(spark, [("k5", "d1", 500), ("n9", "d0", 9)]),
            strategy="cow",
        )
        wh.merge_upsert("ns", t, _df(spark, [("k6", "d0", 600)]), strategy="mor")
    mixed = {c for cs in _codecs(wh._table_dir("ns", "mixed")).values() for c in cs}
    assert mixed == {"SNAPPY", "ZSTD"}
    for version in (None, 1, 2, 3):
        assert _rows(wh.read("ns", "mixed", version=version)) == _rows(
            wh.read("ns", "twin", version=version)
        )
    for t in ("mixed", "twin"):
        wh.compact("ns", t, min_files_per_partition=1)
    assert _rows(wh.read("ns", "mixed")) == _rows(wh.read("ns", "twin"))
    tdir = wh._table_dir("ns", "mixed")
    codecs = _codecs(tdir)
    for e in wh.plan_files("ns", "mixed")[0]:
        assert codecs[os.path.join(tdir, e["path"])] == {"ZSTD"}


# ---------------------------------------------------------------------------
# Footer entries: in-process vs distributed build
# ---------------------------------------------------------------------------


def _comparable(wh, table):
    tdir = wh._table_dir("ns", table)
    out = []
    for e in wh.plan_files("ns", table)[0]:
        blooms = {
            c: (b["type"], b["m"], b["k"], whmod._bloom_bits(b, e["path"], tdir))
            for c, b in (e.get("blooms") or {}).items()
        }
        out.append((e["partition"], e["records"], e["stats"], blooms))
    return sorted(out, key=repr)


@pytest.mark.parametrize(
    "key, bound", [("id", "_META_LOCAL_MAX_BYTES"), (None, "_META_LOCAL_MAX_FOOTERS")]
)
def test_footer_entries_same_in_process_and_distributed(spark, wh, key, bound):
    rows = [(f"k{i}", f"d{i % 3}", i) for i in range(300)]
    wh.create_namespace("ns")
    for table in ("local", "dist"):
        wh.create_table("ns", table, SCHEMA, key=key, partition_by="day")
    assert getattr(Warehouse, bound) > 0
    wh.insert("ns", "local", _df(spark, rows).coalesce(1))
    setattr(wh, bound, 0)
    wh.insert("ns", "dist", _df(spark, rows).coalesce(1))
    local, dist = _comparable(wh, "local"), _comparable(wh, "dist")
    assert len(local) == 3
    # every file of a keyed table carries its key Bloom
    assert all(bool(b) == bool(key) for *_, b in local)
    assert local == dist


# ---------------------------------------------------------------------------
# Partition values that Spark escapes in the directory name
# ---------------------------------------------------------------------------


def test_partition_values_spark_escapes_in_dir_names(spark, wh):
    wh.create_namespace("ns")
    wh.create_table("ns", "t", SCHEMA, key="id", partition_by="day")
    wh.insert(
        "ns", "t",
        _df(spark, [("a", "a:b", 1), ("b", "x/y", 2), ("c", "plain", 3),
                    ("d", None, 4)]),
    )
    for value, key in (("a:b", "a"), ("x/y", "b"), ("plain", "c"), (None, "d")):
        files, _ = wh.plan_files("ns", "t", partition_filter=[value])
        assert len(files) == 1, value
        got = wh.read("ns", "t", partition_filter=[value]).collect()
        assert [r.id for r in got] == [key], value
    parts = {e["partition"] for e in wh.plan_files("ns", "t")[0]}
    assert parts == {"a:b", "x/y", "plain", whmod.txlog.NULL_PARTITION}
    r = wh.insert_overwrite("ns", "t", _df(spark, [("e", "a:b", 5)]))
    assert r["replaced_partitions"] == ["a:b"]
    assert sorted(r.id for r in wh.read("ns", "t").collect()) == ["b", "c", "d", "e"]
