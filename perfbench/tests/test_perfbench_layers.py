"""Per-layer aggregation: span self time by layer, manifest counts, and
ratios recomputed from lap sums rather than summed."""

import pytest

import layers


def _span(id_, layer, name, start, end, parent=None, **extra):
    return {"id": id_, "layer": layer, "name": name, "start": start, "end": end, "parent": parent, **extra}


def test_span_metrics_layer_self_time_and_manifest():
    spans = [
        _span(1, "entry", "k", 0.0, 10.0),
        _span(2, "operators", "m.op", 1.0, 6.0, parent=1),
        _span(3, "sources", "m.load", 2.0, 3.0, parent=2),
        _span(4, "manifest", "m.ManifestTable.publish", 3.5, 5.0, parent=2, commit=True),
        _span(5, "manifest", "m.ManifestTable.read", 3.6, 4.0, parent=4),
        _span(6, "manifest", "m.ManifestTable.publish", 7.0, 7.5, parent=1, commit=False),
        _span(7, "manifest", "m.ManifestTable._retry_rmw", 8.0, 9.0, parent=1),
    ]
    m = layers.span_metrics(spans)
    assert m["operators.self_s"] == pytest.approx(5.0 - 1.0 - 1.5)
    assert m["operators.calls"] == 1
    assert m["sources.self_s"] == pytest.approx(1.0)
    assert m["plans.calls"] == 0
    assert m["manifest.publish_calls"] == 2
    assert m["manifest.commits"] == 1
    assert m["manifest.publish_s"] == pytest.approx(2.0)
    assert m["manifest.read_s"] == pytest.approx(0.4)
    assert m["manifest.rmw_s"] == pytest.approx(1.0)


def test_stream_metrics_by_batch_start():
    progress = [
        {"start": 1.0, "rows": 10, "duration_ms": {"triggerExecution": 300, "addBatch": 200, "walCommit": 10, "commitOffsets": 5}},
        {"start": 2.0, "rows": 0, "duration_ms": {"triggerExecution": 100, "queryPlanning": 20}},
        {"start": 9.0, "rows": 5, "duration_ms": {"triggerExecution": 999}},
    ]
    m = layers.stream_metrics(progress, 0.5, 3.0)
    assert m["stream.batches"] == 2
    assert m["stream.add_batch_s"] == pytest.approx(0.2)
    assert m["stream.commit_s"] == pytest.approx(0.015)
    assert m["stream.planning_s"] == pytest.approx(0.02)
    assert m["stream.input_rows"] == 10


def test_lap_total_recomputes_ratios():
    a = {"spark.task_run_s": 4.0, "_core_seconds": 4.0, "spark.core_util": 1.0, "spark.tasks": 10,
         "_retried_tasks": 1, "spark.task_retry_ratio": 0.1, "stream.batches": 2, "_empty_batches": 1,
         "stream.empty_batch_ratio": 0.5, "_batch_s": [0.3, 0.1]}
    b = {"spark.task_run_s": 0.0, "_core_seconds": 4.0, "spark.core_util": 0.0, "spark.tasks": 0,
         "_retried_tasks": 0, "spark.task_retry_ratio": 0.0, "stream.batches": 0, "_empty_batches": 0,
         "stream.empty_batch_ratio": 0.0, "_batch_s": []}
    t = layers.lap_total([a, b])
    assert t["spark.core_util"] == pytest.approx(0.5)
    assert t["spark.task_retry_ratio"] == pytest.approx(0.1)
    assert t["stream.empty_batch_ratio"] == pytest.approx(0.5)
    assert t["stream.batch_s.p50"] == pytest.approx(0.2)
    assert not any(k.startswith("_") for k in t)
