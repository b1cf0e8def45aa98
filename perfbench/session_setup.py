"""The engine's set-up, timed for the ``setup_s`` metric: import the program,
``session.get_spark`` (JVM + SparkContext) and a warm-up job that starts a
Python worker on every core with the Arrow path loaded; and the shutdown
that waits for the JVM to exit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def import_program(t0: float) -> tuple[object, dict]:
    """Import the driver contract (and with it the engine and pyspark);
    ``import_s`` counts from ``t0``, the process's first statement. Raises
    ImportError where the program is absent."""
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    import __spark_entry__

    return __spark_entry__, {"import_s": time.perf_counter() - t0}


def start_session(timings: dict):
    """``get_spark`` plus the worker warm-up; adds both, and their sum with
    ``import_s`` as ``setup_s``, to ``timings``."""
    from tinymapreduce_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    timings["get_spark_s"] = time.perf_counter() - t

    def passthrough(batches):  # nested: pickled by value to the workers
        yield from batches

    t = time.perf_counter()
    n = cores()
    spark.range(0, n, numPartitions=n).mapInPandas(passthrough, "id long").collect()
    timings["warmup_s"] = time.perf_counter() - t
    timings["setup_s"] = timings["import_s"] + timings["get_spark_s"] + timings["warmup_s"]
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # the process has gone
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM and the Python workers it
    forked to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = _descendants(jvm_pid(spark))
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(workers, timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
