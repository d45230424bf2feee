"""Layered benchmark for the Japanese tokenizer engine at local[nproc].

    python3 perfbench/run.py --workload ja_docs_df --seed 1 --seconds 6 --trace 0

Run from the repository root.  One closed loop in a single driver
process: one query in flight, the next submitted when the previous one
finishes, for ``--seconds``.  A run

1. generates its inputs from ``--seed`` (and, for ``ja_docs_df``, the
   expected token counts from ``JapaneseAnalyzer`` without Spark);
2. sets up several times — ``get_spark`` plus the first cold query — and
   reports the median as ``setup_s``;
3. checks outputs outside the timed region;
4. times the loop, then reads peak memory of the JVM and Python workers,
   and probes host contention;
5. stops Spark and waits, on every path out, until no process it started
   is left (``procs.py``), before it prints its result.

With ``--trace 1`` it also measures the tokenizer without Spark, records
spans around every call into the package (written as JSON lines under
``.perfbench_work/``), reads Spark's Python-node metrics from the SQL
status store and alternates traced and untraced iterations to report the
tracing overhead; it then prints the per-layer metrics instead.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is not 0
when a correctness check fails or the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DEADLINE_S = 150.0  # stop iterating after this much wall time since start
DRIVER_MEMORY = "1g"

T0 = time.perf_counter()


def _env(work: str, cpus: int) -> dict:
    """Pin the session to local[cpus] and keep every file it writes in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _redirect_scratch(work: str) -> None:
    """The io and streaming operators stage files under ``sources.scratch_root``,
    which picks ``/dev/shm`` or ``/tmp``.  A run writes only inside its
    checkout, so point it there: those fixtures land on disk, not tmpfs."""
    import hive_udf_neologd_spark.sources as sources

    sources.scratch_root = lambda name, min_free_bytes=0: os.path.join(work, "scratch", name)


def _stop_spark() -> None:
    """Stop Spark, if it was started, and wait for its JVM: it exits when
    its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hive_udf_neologd_spark")):
        print(f"perfbench: no hive_udf_neologd_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]  # the package; check_oracle
    import procs

    procs.become_subreaper()
    try:
        code, lines = _run(args)
    finally:
        # On every path out, Spark's JVM, its Python workers and the
        # resource tracker of the reference pool end before the run does.
        _stop_spark()
        procs.stop_resource_tracker()
        left = procs.reap()
        if left:
            print(f"perfbench: had to signal processes that did not end: {left}", file=sys.stderr)
    for line in lines:
        print(line)
    sys.stdout.flush()
    return code


def _run(args) -> tuple[int, list[str]]:
    """The run itself: its exit code and the lines it prints to stdout."""
    import corpus
    import l0
    from spans import TRACER
    from sparkstats import execution_jobs, jvm_gc_s, probe, sql_metrics, tree_hwm_mb
    from workloads import WORKLOADS, Run, operator_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2, []
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}"
    out_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(out_dir, f"{tag}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(_env(work, cpus))
    _redirect_scratch(work)

    from hive_udf_neologd_spark.session import get_spark

    run = Run(args.seed, work, cpus)
    layers: dict[str, float] = {}
    if args.trace:
        TRACER.enabled, TRACER.run = True, "layer0"
        layers.update(l0.cold_start(dict(os.environ)))
        layers.update(l0.kernel(corpus.pool()))
    TRACER.enabled = False
    laps = {"layer0": time.perf_counter() - T0}
    workload = WORKLOADS[args.workload](run)
    laps["inputs"] = time.perf_counter() - T0

    # Set-up, several times: session start plus the first cold query.
    setup, starts = [], []
    for rep in range(SETUP_REPS):
        TRACER.enabled, TRACER.run = bool(args.trace), f"setup{rep}"
        t0 = time.perf_counter()
        with TRACER.span("setup", rep=rep):
            with TRACER.span("session.get_spark"):
                spark = get_spark("perfbench", cpus=cpus)
            starts.append(time.perf_counter() - t0)
            workload.setup_query(spark)
        setup.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            spark.stop()
    TRACER.enabled = False
    laps["setup"] = time.perf_counter() - T0
    cold_ids = list(execution_jobs(spark))
    workload.check(spark)
    laps["check"] = time.perf_counter() - T0

    for _ in range(workload.warmup_iterations):
        workload.iteration(spark, record=False)
    laps["warmup"] = time.perf_counter() - T0

    # The closed loop.  Traced runs alternate traced and untraced iterations.
    mark = max(execution_jobs(spark), default=-1)
    gc0 = jvm_gc_s(spark)
    walls: dict[bool, list[float]] = {True: [], False: []}
    t_loop, i = time.perf_counter(), 0
    while (
        time.perf_counter() - t_loop < args.seconds
        or len(walls[False]) + len(walls[True]) < workload.min_iterations
    ) and time.perf_counter() - T0 < DEADLINE_S:
        traced = bool(args.trace) and i % 2 == 0
        TRACER.enabled, TRACER.run = traced, i
        with TRACER.span("query", iteration=i):
            wall = workload.iteration(spark)
        TRACER.enabled = False
        if wall is not None:
            walls[traced].append(wall)
        i += 1
    iterations = i
    laps["loop"] = time.perf_counter() - T0
    rss = tree_hwm_mb(spark.sparkContext._gateway.proc.pid)
    host = {"loop_gc_s": jvm_gc_s(spark) - gc0}
    if args.trace:
        cold = sql_metrics(spark, cold_ids)
        warm = sql_metrics(spark, list(execution_jobs(spark, mark)))
    host["probe"] = probe(spark)
    _stop_spark()
    laps["end"] = time.perf_counter() - T0
    if not walls[False]:
        print(f"perfbench: no timed iteration succeeded: {run.failures[-3:]}", file=sys.stderr)
        return 1, []

    run_s = workload.run_s(walls[False], traced=False)
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "run_s": (run_s, "s"),
        "chars_per_s": (workload.chars / run_s, "1/s"),
        "rows_per_s": (workload.rows / run_s, "1/s"),
        "peak_rss_mb": (rss["total"], "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "iterations": iterations,
        "corpus": workload.corpus, "host_probe": host, "rss_mb": rss,
        "elapsed_s": {k: round(v, 2) for k, v in laps.items()},
        "setup_reps_s": setup, "session_start_reps_s": starts, "run_walls_s": walls[False],
        "failed_frac": len(run.failures) / run.attempted,
        "failures": run.failures, "check_errors": run.check_errors,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if hasattr(workload, "passes"):
        detail["catalog_passes_s"] = workload.passes[False]
    if args.trace:
        layers["session.start_s"] = statistics.median(starts)
        layers.update({f"functions.{k}": v / iterations for k, v in warm.items() if k != "shuffle_write_mb"})
        layers["functions.cold_python_boot_time_s"] = cold["python_boot_time_s"]
        layers["functions.cold_python_init_time_s"] = cold["python_init_time_s"]
        queries = workload.query_table()
        layers.update(operator_metrics(queries))
        layers["trace.run_s"] = workload.run_s(walls[True], traced=True)
        layers["trace.overhead_s"] = layers["trace.run_s"] - run_s
        if queries:
            detail["catalog_queries"] = queries
        detail["self_time_s"] = TRACER.self_time_by_name()
        TRACER.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(out_dir, f"{tag}.json"), "w", encoding="utf-8") as f:
        json.dump({**detail, "metrics": metrics}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    correct = not run.check_errors
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    return (0 if correct else 1), [json.dumps(detail), json.dumps(result)]


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s") or name.startswith("trace."):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if name.startswith("tokenizer.ms_per_sentence"):
        return "ms"
    if name == "tokenizer.chars_per_s.normal":
        return "1/s"
    if name == "tokenizer.unknown_token_frac":
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
