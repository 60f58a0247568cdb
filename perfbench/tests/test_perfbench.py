"""Tests of the benchmark itself: ``python -m pytest perfbench/tests -q``.

The smoke test starts a Spark session and runs both workloads end to end
on a 1,000-row table (the sf0.001 events size) for one second each.
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import cdcgen  # noqa: E402
import report  # noqa: E402

# BENCHMARK.json's rule: a name starts with a letter or digit and has at
# most 64 letters, digits, '_', '.' and '-'; a unit at most 16 of those
# plus '/' and '%'
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic():
    a = cdcgen.CdcStream(5, base_rows=500)
    b = cdcgen.CdcStream(5, base_rows=500)
    assert a.base_table().equals(b.base_table())
    assert [a.next_batch() for _ in range(3)] == [b.next_batch() for _ in range(3)]
    c = cdcgen.CdcStream(6, base_rows=500)
    assert c.next_batch() != cdcgen.CdcStream(5, base_rows=500).next_batch()


def test_batch_mix():
    gen = cdcgen.CdcStream(1, base_rows=2000)
    lines = gen.next_batch()
    assert len(lines) == cdcgen.BATCH_SIZE == 1300
    events = []
    for line in lines:
        try:
            events.append(json.loads(line)["eventName"])
        except (json.JSONDecodeError, KeyError):
            events.append("BAD")
    assert {"INSERT", "MODIFY", "REMOVE"} <= set(events)
    assert 650 <= sum(map(len, lines)) / len(lines) <= 1000  # ~800 B records
    _, bad = cdcgen.fold([lines])
    assert bad == gen.quarantined == cdcgen.N_BAD == 13  # 1% malformed or key-less
    # duplicate keys in the batch, in a different order than their
    # processing timestamps
    seen, out_of_order = {}, 0
    for line in lines:
        try:
            img = json.loads(line)["dynamodb"]["NewImage"]
        except (json.JSONDecodeError, KeyError):
            continue
        key = img.get("transaction_id", {}).get("S")
        pts = int(img["processing_timestamp"]["N"])
        if key in seen and pts < seen[key]:
            out_of_order += 1
        seen[key] = max(pts, seen.get(key, 0))
    assert out_of_order > 0


def test_recency_skew():
    recent = cdcgen.CdcStream(2, base_rows=5000, skew="recent")
    uniform = cdcgen.CdcStream(2, base_rows=5000, skew="uniform")
    for gen in (recent, uniform):
        gen.picks = [gen.keys.index(gen._modify_key()) for _ in range(500)]
    assert sorted(recent.picks)[250] > 4500
    assert 1500 < sorted(uniform.picks)[250] < 3500


def _env(event, key, pts, **attrs):
    image = {"transaction_id": key, "timestamp": "1706572800000",
             "amount": "10.00", "processing_timestamp": str(pts), **attrs}
    if key is None:
        del image["transaction_id"]
    side = "OldImage" if event == "REMOVE" else "NewImage"
    return json.dumps({"eventName": event, "dynamodb": {
        side: {c: ({"N": v} if c in cdcgen._NUMERIC else {"S": v})
               for c, v in image.items()}}})


def test_fold_latest_wins_on_hand_written_stream():
    batch1 = [
        _env("INSERT", "TXN_a", 100, status="PENDING_REVIEW"),
        _env("MODIFY", "TXN_a", 300, status="APPROVED"),
        # out of line order: an older image after the newer one
        _env("MODIFY", "TXN_a", 200, status="DECLINED"),
        _env("INSERT", "TXN_b", 150, status="APPROVED"),
        '{"eventName": "INSERT", "dynamodb": {"NewIm',
        _env("INSERT", None, 160),
    ]
    batch2 = [
        _env("REMOVE", "TXN_a", 400),
        _env("MODIFY", "TXN_b", 120, status="FLAGGED"),
    ]
    rows, bad = cdcgen.fold([batch1, batch2])
    assert bad == 2
    assert set(rows) == {"TXN_a", "TXN_b"}
    # REMOVE is dropped like the engine's T1 filter
    assert rows["TXN_a"]["status"] == "APPROVED"
    assert rows["TXN_a"]["processing_timestamp"] == 300
    # a later batch wins over an earlier one whatever its timestamp
    assert rows["TXN_b"]["status"] == "FLAGGED"
    assert str(rows["TXN_b"]["date"]) == "2024-01-30"
    assert str(rows["TXN_b"]["amount"]) == "10.00"


def test_oracle_checksum_is_order_independent():
    import pyarrow.compute as pc

    from oracle import Oracle

    gen = cdcgen.CdcStream(3, base_rows=300)
    rows, _ = cdcgen.fold([gen.next_batch()])
    orc = Oracle(gen.base_table(), rows)
    want = orc.table_stats()
    table = orc.con.execute("SELECT * FROM transactions").arrow()
    assert want[0] == want[1] > 300  # base rows plus new keys, no duplicates
    shuffled = table.take(pc.sort_indices(table, [("processing_timestamp", "descending")]))
    assert orc.table_stats(shuffled) == want
    changed = table.set_column(
        table.schema.get_field_index("status"), "status",
        pc.if_else(pc.equal(table["transaction_id"], table["transaction_id"][0]),
                   "X", table["status"]))
    assert orc.table_stats(changed)[2] != want[2]


def test_metric_names_follow_the_rule():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        assert valid_unit(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert all(valid_name(n) for n in names)
    assert len(names) == len(set(names))
    assert not valid_name("_x") and not valid_name("a b") and not valid_name("a" * 65)
    assert {"setup_s"} <= {m["name"] for m in spec["end_to_end"]}


def test_report_emits_exactly_the_declared_metrics():
    spec = _spec()
    from spans import Tracer

    bench = SimpleNamespace(
        samples={"batch": [1.0, 2.0], "query": [0.5], "maintain": [1.0]},
        setup_s=3.0, rows_in=2600, bytes_in=10, bytes_rows=2600, peak_rss_mb=100.0,
        failures=[], attempted=3, t_measure=0.0, t_measured=0.0,
        tracer=Tracer(False))
    e2e = report.result(bench)["metrics"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}
    bench.tracer = Tracer(True)
    layers = report.result(bench)["metrics"]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in layers.items()}


def test_self_time_subtracts_covered_child_intervals():
    from spans import Span, self_time

    def sp(start, end):
        s = Span(0, "x", 0, None, start, "g")
        s.end = end
        return s

    parent = sp(0.0, 10.0)
    kids = [sp(1.0, 3.0), sp(2.0, 4.0), sp(6.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 4.0)


def test_callback_thread_span_nests_under_the_open_op():
    """A streaming trigger's callback may open its span on Spark's thread
    before the main thread closes ``cdc.stream_start``."""
    import threading

    from spans import Tracer

    tracer = Tracer(True)
    opened, closed = threading.Event(), threading.Event()
    seen = {}

    def callback():
        with tracer.span("cdc.merge_cdc_batch") as merge:
            seen["merge"] = merge
            opened.set()
            closed.wait()
            with tracer.span("wh.merge_upsert") as upsert:
                seen["upsert"] = upsert

    with tracer.op("cdc.trigger") as trigger:
        start = tracer.open("cdc.stream_start")
        thread = threading.Thread(target=callback)
        thread.start()
        opened.wait()
        tracer.close(start)
        closed.set()
        thread.join()
        with tracer.span("wh.read") as read:
            pass
    merge, upsert = seen["merge"], seen["upsert"]
    assert start.parent == merge.parent == read.parent == trigger.id
    assert upsert.parent == merge.id
    assert {s.op for s in tracer.spans} == {trigger.op}
    assert len(tracer.spans) == 5


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from sample_for_transactional_datalake_using_s3tables_spark.plans import get_spark

    session = get_spark(app_name="perfbench-smoke")
    yield session
    session.stop()


@pytest.mark.parametrize("traced", [False, True])
@pytest.mark.parametrize("workload", ["cdc_cow_stream", "cdc_mor_live_sql"])
def test_smoke_run(spark, tmp_path, workload, traced):
    import run
    from spans import Tracer
    from workloads import WORKLOADS

    tracer = Tracer(traced)
    tracer.install()
    try:
        bench = run.Bench(seed=7, seconds=1, work=str(tmp_path), tracer=tracer,
                          base_rows=1000)
        bench.spark = spark
        bench.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        tracer.bind(spark)
        WORKLOADS[workload](bench)
        tracer.resolve_jobs(spark)
        result = report.result(bench)
    finally:
        tracer.uninstall()
    assert result["correct"], bench.failures
    assert result["failed"] == 0 and result["attempted"] > 0
    section = "per_layer" if traced else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in _spec()[section]}
    names = (("op.batch_p50_s", "op.query_p50_s", "op.ingest_rows_per_s",
              "cdc.spark_jobs_per_batch", "wh.merge_upsert_p50_s")
             if traced else ("setup_s", "bytes_written_per_row"))
    for name in names:
        assert result["metrics"][name]["value"] > 0, name
