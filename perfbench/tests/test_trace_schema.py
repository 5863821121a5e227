"""Pins the traced run's side output and keeps BENCHMARK.json, the metric
catalogue and the workload registry in step."""

import json
import os

import probes

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tracer() -> probes.Tracer:
    t = probes.Tracer(enabled=True)  # no Spark: spans only
    with t.span("pass"):
        with t.span("sources.binlog"):
            pass
        with t.span("operators"):
            with t.span("operators.inner"):
                pass
    return t


def test_trace_document_shape():
    t = _tracer()
    traced = [{"sources.binlog.decode_s": 1.0, "trace.pass_s": 2.0}]
    stream = {
        "batches": 2, "rows_per_batch": 10.0, "generator_late_ms": [0.1, 3.0],
        "progress": [{"batchId": 1, "durationMs": {"addBatch": 5, "triggerExecution": 9}}],
    }
    layers = probes.layer_metrics(
        session=(3.0, 4.0), traced=traced, untraced_walls=[1.9, 1.6],
        check={"expected": 10, "transactions": 2, "bytes": 100},
        stream=stream, pins_end=0, ckpt_bytes=0,
    )
    doc = probes.trace_document(
        workload="w", seed=1, tracer=t, traced=traced, layers=layers,
        untraced_walls=[1.6, 1.6], stream=stream,
    )
    assert set(doc) == {
        "schema", "workload", "seed", "spans", "passes", "layers", "overhead", "streaming",
    }
    assert doc["schema"] == probes.TRACE_SCHEMA == 1
    assert set(doc["overhead"]) == {"untraced_pass_s", "traced_pass_s", "share"}
    assert set(doc["streaming"]) == {"progress", "generator_late_ms"}
    assert set(doc["layers"]) == set(probes.LAYER_UNITS)
    for entry in doc["layers"].values():
        assert set(entry) == {"value", "unit"}
    assert [s["name"] for s in doc["spans"]] == [
        "pass", "sources.binlog", "operators", "operators.inner",
    ]
    for s in doc["spans"]:
        assert set(s) == {"id", "name", "start_s", "end_s", "parent", "self_s", "attrs"}
        assert 0.0 <= s["self_s"] <= s["end_s"] - s["start_s"]
    assert [s["parent"] for s in doc["spans"]] == [None, 0, 0, 2]
    assert layers["trace.overhead_share"] == 2.0 / 1.6 - 1.0
    assert layers["streaming.add_batch_ms"] == 5.0
    assert layers["sinks.kafka_eos.records_per_txn"] == 5.0
    assert layers["session.start_s"] == 3.0


def test_self_time_subtracts_children():
    t = probes.Tracer(enabled=True)
    with t.span("outer") as outer:
        with t.span("child") as child:
            pass
    outer.start, outer.end, child.start, child.end = 0.0, 10.0, 2.0, 5.0
    assert t.self_times() == [7.0, 3.0]


def test_disabled_tracer_records_nothing():
    t = probes.Tracer()
    with t.span("pass") as sp:
        assert sp is None
    assert t.spans == []


def test_benchmark_json_matches_the_code():
    import workloads

    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == probes.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == probes.LAYER_UNITS


def test_metric_parser_and_percentiles():
    assert probes.parse_metric("1,234") == {"total": 1234.0}
    assert probes.parse_metric(
        "total (min, med, max (stageId: taskId))\n8.1 s (1.9 s, 2.1 s, 2.5 s (stage 2.0: task 7))"
    ) == {"total": 8100.0, "min": 1900.0, "med": 2100.0, "max": 2500.0}
    assert probes.parse_metric("1024.0 KiB")["total"] == 1024.0 * 1024
    assert probes.weighted_percentile([(1.0, 98), (5.0, 2)], 99) == 5.0
    assert probes.weighted_percentile([(1.0, 99), (5.0, 1)], 99) == 1.0
    assert probes.percentile(list(range(1, 101)), 50) == 50
