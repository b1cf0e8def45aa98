"""Per-layer metrics of the traced run: per key execution from its spans,
the event log, the streaming listener and the UDF profiler, then summed
per lap (ratios recomputed from their sums) and reported as the median
over the traced warm laps.
"""

from __future__ import annotations

import eventlog
from stats import median, self_times

SPAN_LAYERS = ("plans", "operators", "sources", "streaming")

# ratios are recomputed from these sums when keys are added up
_RATIOS = {
    "spark.core_util": ("spark.task_run_s", "_core_seconds"),
    "spark.task_retry_ratio": ("_retried_tasks", "spark.tasks"),
    "stream.empty_batch_ratio": ("_empty_batches", "stream.batches"),
}


def span_metrics(spans: list[dict]) -> dict:
    """Layer self time and calls, and the manifest metrics, of one key
    execution's spans (manifest times are inclusive: a publish that reads
    the table counts in both)."""
    own = self_times(spans)
    out = {}
    for layer in SPAN_LAYERS:
        mine = [sp for sp in spans if sp["layer"] == layer]
        out[f"{layer}.self_s"] = sum(own[sp["id"]] for sp in mine)
        out[f"{layer}.calls"] = len(mine)

    def method(sp) -> str:
        return sp["name"].rsplit(".", 1)[-1]

    manifest = [sp for sp in spans if sp["layer"] == "manifest"]
    publish = [sp for sp in manifest if method(sp) == "publish"]
    out["manifest.publish_s"] = sum(sp["end"] - sp["start"] for sp in publish)
    out["manifest.publish_calls"] = len(publish)
    out["manifest.commits"] = sum(bool(sp.get("commit")) for sp in publish)
    out["manifest.rmw_s"] = sum(sp["end"] - sp["start"] for sp in manifest if method(sp) == "_retry_rmw")
    out["manifest.read_s"] = sum(sp["end"] - sp["start"] for sp in manifest if method(sp).startswith("read"))
    return out


def stream_metrics(progress: list[dict], start: float, end: float) -> dict:
    """Micro-batches whose trigger started inside ``[start, end]``."""
    mine = [p for p in progress if start <= p["start"] <= end]
    dur = [p["duration_ms"] for p in mine]
    return {
        "stream.batches": len(mine),
        "_batch_s": [d.get("triggerExecution", 0) / 1000 for d in dur],
        "stream.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000,
        "stream.planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1000,
        "stream.commit_s": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000,
        "stream.input_rows": sum(p["rows"] for p in mine),
        "_empty_batches": sum(p["rows"] == 0 for p in mine),
    }


def key_metrics(exe: dict, spans, jobs, tasks, progress, cores: int) -> dict:
    """Every per-layer value of one key execution ``exe`` (its entry span
    interval, construct/materialize walls and drained UDF profile)."""
    start, end = exe["start"], exe["end"]
    out = {
        "entry.construct_s": exe["construct_s"],
        "entry.materialize_s": exe["materialize_s"],
        "functions.py_udf_s": exe["py_udf_s"],
        "functions.py_udf_calls": exe["py_udf_calls"],
    }
    spark = eventlog.key_metrics(jobs, tasks, start, end, cores)
    out.update(spark)
    out["_core_seconds"] = spark["entry.job_active_s"] * cores
    out["_retried_tasks"] = spark["spark.task_retry_ratio"] * spark["spark.tasks"]
    out.update(span_metrics(spans))
    out.update(stream_metrics(progress, start, end))
    return out


def lap_total(per_key: list[dict]) -> dict:
    """Sum one lap's key executions; ratios and the batch median are
    recomputed over the whole lap."""
    total: dict = {}
    for km in per_key:
        for name, v in km.items():
            if name == "_batch_s":
                total.setdefault(name, []).extend(v)
            elif name not in _RATIOS:
                total[name] = total.get(name, 0) + v
    for name, (num, den) in _RATIOS.items():
        total[name] = total[num] / total[den] if total.get(den) else 0.0
    total["stream.batch_s.p50"] = median(total.pop("_batch_s", []))
    return {k: v for k, v in total.items() if not k.startswith("_")}


def workload_metrics(laps: list[dict], setup: dict, rss_mb: float, overhead_s: float) -> dict:
    """Median over the traced warm laps of each lap total, plus the session
    set-up split, the JVM's peak resident memory and the tracing overhead."""
    out = {name: median([lap[name] for lap in laps]) for name in laps[0]}
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["jvm_peak_rss_mb"] = rss_mb
    out["trace.overhead_s"] = overhead_s
    return out
