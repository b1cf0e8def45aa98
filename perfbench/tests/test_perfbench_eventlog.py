"""Event-log parsing and the per-key job split on a hand-written log."""

import json

import pytest

import eventlog


def _task(stage, launch_ms, run_ms, attempt=0, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Attempt": attempt, "Failed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000 // 2,
            "JVM GC Time": metrics.get("gc", 0),
            "Executor Deserialize Time": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": metrics.get("read", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("write", 0)},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


LOG = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000, "Stage IDs": [0]},
    _task(0, 1_000_100, 400, write=1024 * 1024),
    _task(0, 1_000_100, 600, gc=20),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_001_000},
    # overlaps job 0's tail: the union counts [1000.5, 1002.0] once
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_000_500, "Stage IDs": [1]},
    _task(1, 1_001_200, 800, attempt=1, read=2 * 1024 * 1024),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_000},
    # after the key's span: belongs to the next key
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1_005_000, "Stage IDs": [2]},
    _task(2, 1_005_100, 100),
]


def test_parse():
    jobs, tasks = eventlog.parse(json.dumps(ev) + "\n" for ev in LOG)
    assert [(j.job_id, j.start, j.end) for j in jobs] == [(0, 1000.0, 1001.0), (1, 1000.5, 1002.0), (2, 1005.0, None)]
    assert len(tasks) == 4
    assert tasks[0].run_s == pytest.approx(0.4)
    assert tasks[0].cpu_s == pytest.approx(0.2)
    assert tasks[2].retried and not tasks[0].retried


def test_key_metrics_union_of_job_intervals():
    jobs, tasks = eventlog.parse(json.dumps(ev) for ev in LOG)
    m = eventlog.key_metrics(jobs, tasks, start=999.5, end=1003.0, cores=4)
    assert m["entry.job_active_s"] == pytest.approx(2.0)
    assert m["entry.driver_only_s"] == pytest.approx(1.5)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 3
    assert m["spark.task_run_s"] == pytest.approx(1.8)
    assert m["spark.gc_s"] == pytest.approx(0.02)
    assert m["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert m["spark.core_util"] == pytest.approx(1.8 / (2.0 * 4))
    assert m["spark.task_retry_ratio"] == pytest.approx(1 / 3)


def test_job_open_at_end_of_log_runs_to_the_span_end():
    jobs, tasks = eventlog.parse(json.dumps(ev) for ev in LOG)
    m = eventlog.key_metrics(jobs, tasks, start=1004.0, end=1006.0, cores=4)
    assert m["spark.jobs"] == 1
    assert m["entry.job_active_s"] == pytest.approx(1.0)
