"""Closed-loop benchmark of the engine's registry keys, one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 10 --trace 0

One run, one client, one driver process on ``local[<cores>]``:

1. writes the seed's row permutation of every sf0.1 table into a directory
   unique to the run (so the engine's scratch tables, keyed by the input
   file's fingerprint, are rebuilt on the cold lap as they would be for new
   data);
2. computes each key's DuckDB oracle result over those tables, once;
3. times the engine's set-up in this process (session_setup.py): import,
   ``get_spark`` and a Python-worker warm-up;
4. runs the workload's keys back to back: a cold lap, ``WARMUP_LAPS``
   discarded warm-up laps, then warm laps until ``--seconds`` have passed
   since the first warm lap began (and at least ``MIN_WARM_LAPS``). Every
   execution builds the key's DataFrame and materialises the whole result
   on the driver; every result is compared with the oracle, and an
   exception or a mismatch counts as failed without stopping the run;
5. deletes the run's directories and every ``.tmp`` entry the run created.

``--trace 1`` adds the event log, span wrappers, a streaming listener and
the UDF profiler (tracing.py), adds traced warm laps beside the untraced ones,
prints the per-layer metrics instead of the end-to-end ones and writes the
per-key layer split and the spans to ``.perfbench/traces/``.

Every metric is printed as ``# name value unit``; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
metric names and units are those ``BENCHMARK.json`` declares.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import secrets  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import eventlog  # noqa: E402
import layers  # noqa: E402
import session_setup  # noqa: E402
import tracing  # noqa: E402
from stats import TAIL_BEYOND, median, percentile, tail_percentile  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = session_setup.ROOT
WORK = os.path.join(ROOT, ".perfbench")
SCALE = "sf0.1"
# Laps after the cold one that are discarded: on both workloads, long runs
# fall until the third lap after the cold one and stay within a few percent
# from there on (README.md, "Warm-up laps").
WARMUP_LAPS = 2
MIN_WARM_LAPS = 2  # run however long they take (traced runs: as many traced again)
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


class RunDirs:
    """The run's private directories under ``.perfbench/`` and the
    bookkeeping that removes everything the run created, ``.tmp`` included."""

    def __init__(self, seed: int) -> None:
        # the input directory's basename names the engine's scratch entries
        self.tag = f"pb{seed}x{os.getpid()}x{secrets.token_hex(3)}"
        self.sf_dir = os.path.join(WORK, self.tag)
        self.work = os.path.join(WORK, f"{self.tag}-work")
        self.scratch = os.path.join(ROOT, ".tmp")
        self._created_work = not os.path.exists(WORK)
        self._created_scratch = not os.path.exists(self.scratch)
        self._scratch_before = set() if self._created_scratch else set(os.listdir(self.scratch))

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p

    def cleanup(self) -> int:
        """Remove the run's directories and the ``.tmp`` entries it created;
        returns how many ``.tmp`` entries were removed."""
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        shutil.rmtree(self.work, ignore_errors=True)
        removed = 0
        if os.path.isdir(self.scratch):
            for name in set(os.listdir(self.scratch)) - self._scratch_before:
                p = os.path.join(self.scratch, name)
                if os.path.isdir(p) and not os.path.islink(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)
                removed += 1
            if self._created_scratch and not os.listdir(self.scratch):
                os.rmdir(self.scratch)
        if self._created_work and os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)
        return removed


def write_inputs(src: str, dst: str, seed: int, tables) -> None:
    """The seed's row permutation of every table in ``src``."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(dst)
    rng = np.random.default_rng(seed)
    for t in tables:
        tbl = pq.read_table(os.path.join(src, f"{t}.parquet"))
        pq.write_table(tbl.take(rng.permutation(tbl.num_rows)), os.path.join(dst, f"{t}.parquet"))


def use_run_environment(run: RunDirs, cores: int) -> None:
    """Environment of this process and every engine process it starts: this
    machine's cores and every temporary file inside the run; the heap is the
    engine's default. Inherited engine settings (``SPARK_GRAFT_*``) are
    dropped so that they cannot change what is measured."""
    for name in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[name]
    tmp = run.path("tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=run.path("local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    )
    tempfile.tempdir = None  # re-read TMPDIR


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Loop:
    """The closed loop: executes keys, checks results, records samples."""

    def __init__(self, spark, queries, keys, sf_dir, want, check, tracer=None) -> None:
        self.spark = spark
        self.queries = queries
        self.keys = keys
        self.sf_dir = sf_dir
        self.want = want
        self.check = check
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.executions: list[dict] = []  # traced executions, for the layer split
        self.modules = tracing.program_modules() if tracer else {}

    def execute(self, lap: int, key: str, traced: bool) -> float:
        """One execution of ``key``: build, materialise, compare. Returns its
        wall (construction plus materialisation)."""
        tracer = self.tracer if traced else None
        self.attempted += 1
        err = None
        with tracer.span("entry", key) if tracer else contextlib.nullcontext() as sp:
            if tracer is not None:
                tracer.key, tracer.active = f"{lap}:{key}", True
            t0 = time.perf_counter()
            t1 = None
            try:
                df = self.queries[key](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                got = df.toPandas()
            except Exception:  # a failed execution is counted, and the loop goes on
                err = traceback.format_exc()
            t2 = time.perf_counter()
            if tracer is not None:
                tracer.key, tracer.active = None, False
        if err is None:
            err = self.check(got, self.want[key])
        if err is not None:
            self.failed += 1
            print(f"# FAILED lap {lap} {key}: {err}", file=sys.stderr, flush=True)
        if tracer is not None:
            py_s, py_calls, by_module = tracing.udf_profile(self.spark, self.modules)
            self.executions.append(
                {
                    "lap": lap,
                    "key": key,
                    "start": sp["start"],
                    "end": sp["end"],
                    "construct_s": (t1 or t2) - t0,
                    "materialize_s": t2 - (t1 or t2),
                    "py_udf_s": py_s,
                    "py_udf_calls": py_calls,
                    "py_udf_by_module": by_module,
                }
            )
        return t2 - t0

    def lap(self, lap: int, traced: bool) -> tuple[float, list[float]]:
        # every lap starts from the same state: no cached frames, a fresh heap
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        if traced:
            self.spark.conf.set(PROFILER_CONF, "perf")
        try:
            walls = [self.execute(lap, key, traced) for key in self.keys]
        finally:
            if traced:
                self.spark.conf.unset(PROFILER_CONF)
        return sum(walls), walls


def run_laps(loop: Loop, seconds: int, trace: bool) -> dict:
    """Cold lap; ``WARMUP_LAPS`` discarded laps; then warm laps until
    ``seconds`` have passed since the first of them began. In a traced run,
    traced laps follow until there are as many as untraced warm laps, and
    from then on the two alternate."""
    cold, _ = loop.lap(0, traced=False)
    warmup = [loop.lap(1 + i, traced=False)[0] for i in range(WARMUP_LAPS)]
    start = time.perf_counter()
    warm: list[tuple[float, list[float]]] = []
    traced: list[float] = []
    while True:
        enough = len(warm) >= MIN_WARM_LAPS and (not trace or len(traced) >= MIN_WARM_LAPS)
        if enough and time.perf_counter() - start >= seconds:
            break
        lap = 1 + WARMUP_LAPS + len(warm) + len(traced)
        if trace and len(traced) < len(warm):
            traced.append(loop.lap(lap, traced=True)[0])
        else:
            warm.append(loop.lap(lap, traced=False))
    return {
        "cold": cold,
        "warmup": warmup,
        "warm": [wall for wall, _ in warm],
        "traced": traced,
        "samples": [w for _, walls in warm for w in walls],
    }


def declared(kind: str, values: dict) -> dict:
    """``values`` of the metrics ``BENCHMARK.json`` declares under ``kind``,
    in its order, as ``{name: (value, unit)}``."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)[kind]
    return {m["name"]: (values[m["name"]], m["unit"]) for m in spec}


def end_to_end(laps: dict, setup: dict) -> dict:
    return declared(
        "end_to_end",
        {
            "setup_s": setup["setup_s"],
            "cold_lap_s": laps["cold"],
            "warm_lap_s": median(laps["warm"]),
            "query_s.p50": median(laps["samples"]),
        },
    )


def per_layer(loop: Loop, tracer, events_dir: str, laps: dict, setup: dict, rss_mb: float, cores: int, out_dir: str, name: str) -> dict:
    """Attribute the event log, spans, stream progress and UDF profiles to
    each traced execution; write the per-key split and the spans."""
    lines = []
    for fn in sorted(os.listdir(events_dir)):
        with open(os.path.join(events_dir, fn), encoding="utf-8") as f:
            lines.extend(f)
    jobs, tasks = eventlog.parse(lines)
    by_key: dict[str, list] = {}
    for sp in tracer.spans:
        by_key.setdefault(sp["key"], []).append(sp)
    per_key = []
    for exe in loop.executions:
        km = layers.key_metrics(exe, by_key.get(f"{exe['lap']}:{exe['key']}", []), jobs, tasks, tracer.progress, cores)
        per_key.append((exe, km))
    lap_ids = sorted({exe["lap"] for exe, _ in per_key})
    lap_totals = [layers.lap_total([km for exe, km in per_key if exe["lap"] == lap]) for lap in lap_ids]
    overhead = median(laps["traced"]) - median(laps["warm"])
    metrics = layers.workload_metrics(lap_totals, setup, rss_mb, overhead)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{name}.layers.json"), "w", encoding="utf-8") as f:
        json.dump(
            {
                "metrics": metrics,
                "laps": {"cold": laps["cold"], "warmup": laps["warmup"], "warm": laps["warm"], "traced": laps["traced"]},
                "per_key": [
                    {"lap": exe["lap"], "key": exe["key"], "py_udf_by_module": exe["py_udf_by_module"], **km}
                    for exe, km in per_key
                ],
            },
            f,
            indent=1,
        )
    with open(os.path.join(out_dir, f"{name}.spans.json"), "w", encoding="utf-8") as f:
        json.dump(tracer.spans, f)
    return declared("per_layer", metrics)


def main(argv=None) -> int:
    args = parse_args(argv)
    keys = WORKLOADS[args.workload]
    # the program first: without it the run fails here, before any output
    entrymod, setup = session_setup.import_program(T0)
    from tinymapreduce_spark.sources.loaders import TABLES

    import oracle

    src = os.path.join(os.path.dirname(entrymod.SF0001), SCALE)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"test data {src} is missing")
    cores = session_setup.cores()
    name = f"{args.workload}-seed{args.seed}"

    run = RunDirs(args.seed)
    spark = None
    try:
        use_run_environment(run, cores)
        write_inputs(src, run.sf_dir, args.seed, TABLES)
        want = oracle.expected(run.sf_dir, keys, TABLES, run.path("duckdb"))
        tracer = None
        if args.trace:
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = run.path("events")
            tracer = tracing.Tracer()
            tracing.install(tracer)
        spark = session_setup.start_session(setup)
        if tracer is not None:
            spark.streams.addListener(tracing.ProgressListener(tracer.progress))
        loop = Loop(spark, entrymod.queries(), keys, run.sf_dir, want, oracle.mismatch, tracer)
        laps = run_laps(loop, args.seconds, bool(args.trace))
        rss_mb = peak_rss_mb(session_setup.jvm_pid(spark))
        session_setup.shutdown(spark)  # closes the event log
        spark = None
        if args.trace:
            metrics = per_layer(loop, tracer, run.path("events"), laps, setup, rss_mb, cores, os.path.join(WORK, "traces"), name)
        else:
            metrics = end_to_end(laps, setup)
    finally:
        if spark is not None:
            session_setup.shutdown(spark)
        removed = run.cleanup()

    print(f"# workload {args.workload} seed {args.seed} keys {','.join(keys)} cores {cores}")
    print(
        f"# laps: cold 1, warm-up {len(laps['warmup'])}, warm {len(laps['warm'])}, traced {len(laps['traced'])};"
        f" {len(laps['samples'])} warm query samples; .tmp entries removed {removed}"
    )
    walls = {kind: [round(w, 3) for w in laps[kind]] for kind in ("warmup", "warm", "traced")}
    print(f"# lap walls (s): cold {laps['cold']:.3f}, {walls}")
    tail_p = tail_percentile(len(laps["samples"]))
    if tail_p is None:
        print(f"# query_s tail unresolved: {len(laps['samples'])} warm samples, a tail needs more than {TAIL_BEYOND}")
    else:
        print(f"# query_s.p{tail_p} {percentile(laps['samples'], tail_p):.6g} s (highest percentile with {TAIL_BEYOND} samples beyond)")
    print(f"# fail_ratio {loop.failed / loop.attempted:.4f} ratio ({loop.failed}/{loop.attempted})")
    for metric, (value, unit) in metrics.items():
        print(f"# {metric} {value:.6g} {unit}")
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {metric: {"value": value, "unit": unit} for metric, (value, unit) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
