"""Spark event-log parsing for the traced run: job intervals and per-task
metrics, attributed to the benchmark's per-key spans by time.

The benchmark is a closed loop with one client, so every job submitted and
every task launched while a key's span is open belongs to that key; time is
the only attribution needed (streaming micro-batches run on their own
threads and overwrite job groups, so job-group tags would miss them).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from stats import covered

MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float | None = None


@dataclass
class Task:
    stage_id: int
    launch: float  # epoch seconds
    run_s: float
    cpu_s: float
    gc_s: float
    deser_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    retried: bool


def parse(lines) -> tuple[list[Job], list[Task]]:
    """Jobs and finished task attempts from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                Task(
                    stage_id=ev["Stage ID"],
                    launch=info["Launch Time"] / 1000,
                    run_s=m.get("Executor Run Time", 0) / 1000,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000,
                    deser_s=m.get("Executor Deserialize Time", 0) / 1000,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    retried=info.get("Attempt", 0) > 0 or info.get("Failed", False),
                )
            )
    return sorted(jobs.values(), key=lambda j: j.start), tasks


def key_metrics(jobs: list[Job], tasks: list[Task], start: float, end: float, cores: int) -> dict:
    """The ``entry`` job split and ``spark.*`` metrics of one key span."""
    mine = [j for j in jobs if start <= j.start <= end]
    # a job still open when the log ends ran to the end of the span
    intervals = [(j.start, j.end if j.end is not None else end) for j in mine]
    active = covered(intervals, start, end)
    ts = [t for t in tasks if start <= t.launch <= end]
    run_s = sum(t.run_s for t in ts)
    return {
        "entry.job_active_s": active,
        "entry.driver_only_s": (end - start) - active,
        "spark.jobs": len(mine),
        "spark.stages": len({t.stage_id for t in ts}),
        "spark.tasks": len(ts),
        "spark.task_run_s": run_s,
        "spark.jvm_cpu_s": sum(t.cpu_s for t in ts),
        "spark.gc_s": sum(t.gc_s for t in ts),
        "spark.deser_s": sum(t.deser_s for t in ts),
        "spark.shuffle_write_mb": sum(t.shuffle_write for t in ts) / MB,
        "spark.shuffle_read_mb": sum(t.shuffle_read for t in ts) / MB,
        "spark.spill_mb": sum(t.spill for t in ts) / MB,
        "spark.core_util": run_s / (active * cores) if active > 0 else 0.0,
        "spark.task_retry_ratio": sum(t.retried for t in ts) / len(ts) if ts else 0.0,
    }
