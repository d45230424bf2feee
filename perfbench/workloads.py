"""The workloads.  Each one offers the same steps to ``run.py``: run the
cold ``setup_query`` on a fresh session, ``check`` outputs outside the
timed region, and time one ``iteration`` (after ``warmup_iterations``
untimed ones, and at least ``min_iterations`` untraced ones per run).

* ``ja_docs_df`` — ``tokenize_ja()`` NORMAL → explode → count → top-k over
  distinct long documents (DataFrame API, iterator pandas UDF).
* ``catalog``    — a pinned set of catalog queries, one per operator
  module, materialized through the noop sink.
"""

from __future__ import annotations

import collections
import concurrent.futures
import multiprocessing
import os
import statistics
import time

import corpus
from sparkstats import Phase, QueryFailed, execution_jobs, last_execution_id, sql_metrics
from spans import TRACER

TOP_K = 100
QUERY_TIMEOUT_S = 60.0

# Pinned here rather than imported, so the set cannot drift with the
# package.  One query per operator module, chosen for what each exercises
# (see README.md); the full bench.py headline set takes minutes per pass.
CATALOG = (
    "q01_pricing_summary",
    "q22_asof_join",
    "sql01_lateral_view_tokenize",
    "d02_minhash_lsh_pairs",
    "a01_ann_bruteforce",
    "io04_small_file_compaction",
    "u01_applyinpandas_rank",
    "s04_streaming_term_counts_e2e",
)
CATALOG_SF = 0.01
MODULES = ("relational", "temporal", "textops", "dedup", "ann", "io", "pandas_ops", "streaming")


class Run:
    """Attempt and failure accounting shared by every step of one run."""

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus
        self.attempted = 0
        self.failures: list[str] = []
        self.check_errors: list[str] = []

    def phase(self, spark, label: str, fn):
        """Run ``fn`` as one counted attempt; returns (phase, ok, result)."""
        self.attempted += 1
        p = Phase(spark, fn, QUERY_TIMEOUT_S)
        try:
            return p, True, p.run()
        except QueryFailed as exc:
            self.failures.append(f"{label}: {exc}")
            return p, False, None


# --- the Japanese workloads -------------------------------------------------

_REF_ANALYZER = None  # one per reference worker process


def _init_reference() -> None:
    global _REF_ANALYZER
    from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer

    _REF_ANALYZER = JapaneseAnalyzer()


def _count_tokens(texts: list[str]) -> collections.Counter:
    counts: collections.Counter = collections.Counter()
    for t in texts:
        counts.update(_REF_ANALYZER.tokenize(t))
    return counts


def reference_counts(texts: list[str], procs: int) -> collections.Counter:
    """Token counts from ``JapaneseAnalyzer`` with the UDFs' default config,
    computed without Spark in ``procs`` worker processes."""
    chunks = [texts[i::procs] for i in range(procs)]
    ctx = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(
        procs, mp_context=ctx, initializer=_init_reference
    ) as pool:
        parts = list(pool.map(_count_tokens, chunks))
    return sum(parts, collections.Counter())


def top_k(counts: collections.Counter) -> list[tuple[str, int]]:
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]


class JaDocs:
    name = "ja_docs_df"
    size = 1000
    warmup_iterations = 1  # the check query already ran the full pipeline
    min_iterations = 2

    def __init__(self, run: Run):
        self.run = run
        texts = corpus.ja_docs(run.seed, self.size)
        self.data_dir = os.path.join(run.work, self.name)
        self.setup_dir = os.path.join(run.work, self.name + "_setup")
        self.corpus = corpus.write_docs(texts, self.data_dir, run.cpus)
        corpus.write_docs(texts[: 8 * run.cpus], self.setup_dir, run.cpus)
        self.rows, self.chars = self.corpus["rows"], self.corpus["chars"]
        self.expected = reference_counts(texts, run.cpus)
        self.expected_top = top_k(self.expected)

    def _collect(self, spark, path: str, limit: bool) -> list[tuple[str, int]]:
        return [(r[0], r[1]) for r in self.frame(spark, path, limit).collect()]

    def setup_query(self, spark) -> None:
        self.run.phase(spark, "setup", lambda: self._collect(spark, self.setup_dir, True))

    def check(self, spark) -> None:
        _, ok, rows = self.run.phase(
            spark, "check", lambda: self._collect(spark, self.data_dir, False)
        )
        if not ok:
            self.run.check_errors.append(f"{self.name}: check query failed")
        elif dict(rows) != dict(self.expected):
            diff = sorted(set(dict(rows).items()) ^ set(self.expected.items()))[:5]
            self.run.check_errors.append(f"{self.name}: token counts differ from reference: {diff}")

    def frame(self, spark, path: str, limit: bool):
        from pyspark.sql import functions as F

        from hive_udf_neologd_spark.functions.tokenize import tokenize_ja

        with TRACER.span("functions.tokenize_ja"):
            tok = tokenize_ja()
        counts = (
            spark.read.parquet(path)
            .select(F.explode(tok(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("n"))
        )
        return counts.orderBy(F.desc("n"), "token").limit(TOP_K) if limit else counts

    def iteration(self, spark, record: bool = True) -> float | None:
        with TRACER.span("query.collect"):
            p, ok, rows = self.run.phase(
                spark, "query", lambda: self._collect(spark, self.data_dir, True)
            )
        if ok and rows != self.expected_top:
            self.run.check_errors.append(f"{self.name}: top-{TOP_K} differs from reference")
        return p.wall_s if ok else None

    def run_s(self, walls: list[float], traced: bool) -> float:
        return statistics.median(walls)

    def query_table(self) -> list[dict]:
        return []


# --- the catalog ----------------------------------------------------------


def module_of(builder) -> str:
    parts = builder.__module__.split(".")
    return "streaming" if "streaming" in parts else parts[-1]


class Catalog:
    name = "catalog"
    # Passes still speed up, and vary by about 10%, for minutes after the
    # check pass (the only warm-up): a median over several passes does more
    # for steadiness than warm-up passes would in the same time.  Two
    # passes, not more, keep a full comparison (48 runs) inside its time
    # limit when the shared host is busy and every pass slows down.
    warmup_iterations = 0
    min_iterations = 2

    def __init__(self, run: Run):
        from hive_udf_neologd_spark.catalog import QUERIES

        self.run = run
        self.sf_dir = os.path.join(run.work, "catalog")
        self.corpus = corpus.write_catalog(corpus.catalog_tables(run.seed, CATALOG_SF), self.sf_dir)
        self.rows, self.chars = self.corpus["rows"], self.corpus["chars"]
        self.builders = {q: QUERIES[q] for q in CATALOG}
        self.modules = {q: module_of(QUERIES[q]) for q in CATALOG}
        self.per_query: dict[str, list[dict]] = {q: [] for q in CATALOG}
        self.passes: dict[bool, list[dict[str, float]]] = {True: [], False: []}

    def _materialize(self, spark, q: str):
        """One query: build (may launch jobs) then noop write, each a phase."""
        layer = f"operators.{self.modules[q]}"
        with TRACER.span(f"{layer}.query", query=q):
            b, ok, df = self.run.phase(spark, f"{q}-build", lambda: self.builders[q](spark, self.sf_dir))
            TRACER.add(f"{layer}.build", b.start, b.end)
            if not ok:
                return b, None
            e, ok, _ = self.run.phase(
                spark, f"{q}-exec", lambda: df.write.format("noop").mode("overwrite").save()
            )
            TRACER.add(f"{layer}.exec", e.start, e.end)
        return b, e if ok else None

    def setup_query(self, spark) -> None:
        self._materialize(spark, CATALOG[0])

    def check(self, spark) -> None:
        from check_oracle import duck_connection, normalize

        from hive_udf_neologd_spark.catalog import ORACLES

        con = duck_connection(self.sf_dir)
        for q in CATALOG:
            _, ok, got = self.run.phase(
                spark, f"{q}-check", lambda: self.builders[q](spark, self.sf_dir).toPandas()
            )
            if not ok:
                self.run.check_errors.append(f"{q}: check query failed")
                continue
            want = con.execute(ORACLES[q]).fetch_df()
            if sorted(got.columns) != sorted(want.columns) or not normalize(got).equals(
                normalize(want)
            ):
                self.run.check_errors.append(f"{q}: result differs from its DuckDB oracle")
        con.close()

    def iteration(self, spark, record: bool = True) -> float | None:
        mark = last_execution_id(spark) if TRACER.enabled else None
        t0 = time.perf_counter()
        phases = {}
        for q in CATALOG:
            b, e = self._materialize(spark, q)
            if e is None:
                return None
            phases[q] = (b, e)
        wall = time.perf_counter() - t0
        if record:
            self.passes[TRACER.enabled].append({q: e.end - b.start for q, (b, e) in phases.items()})
        if mark is not None:
            self._account(spark, phases, mark)
        return wall

    def run_s(self, walls: list[float], traced: bool) -> float:
        """Sum of per-query medians: steadier than the median pass while
        the JIT is still warming."""
        passes = self.passes[traced]
        return sum(statistics.median(p[q] for p in passes) for q in CATALOG)

    def _account(self, spark, phases: dict, mark: int) -> None:
        """Per-query jobs, stages and SQL metrics of one traced pass
        (read after the pass, outside its wall time)."""
        by_execution = execution_jobs(spark, mark)
        for q, (b, e) in phases.items():
            jobs_b, stages_b = b.jobs_and_stages()
            jobs_e, stages_e = e.jobs_and_stages()
            ids = set(b.jobs) | set(e.jobs)
            sums = sql_metrics(spark, [x for x, jobs in by_execution.items() if jobs & ids])
            self.per_query[q].append({
                "build_s": b.wall_s, "exec_s": e.wall_s, "e2e_s": e.end - b.start,
                "jobs_at_build": jobs_b, "jobs": jobs_b + jobs_e, "stages": stages_b + stages_e,
                "shuffle_write_mb": sums["shuffle_write_mb"],
                "python_total_time_s": sums["python_total_time_s"],
            })

    def query_table(self) -> list[dict]:
        rows = []
        for q in CATALOG:
            runs = self.per_query[q]
            if not runs:
                continue
            med = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
            rows.append({"query": q, "module": self.modules[q], **med})
        return rows


OPERATOR_KEYS = ("build_s", "exec_s", "jobs_at_build", "jobs", "stages", "shuffle_write_mb")


def operator_metrics(query_table: list[dict]) -> dict[str, float]:
    """Per-module sums of the per-query medians; 0 for modules not run."""
    return {
        f"operators.{m}.{k}": float(sum(r[k] for r in query_table if r["module"] == m))
        for m in MODULES
        for k in OPERATOR_KEYS
    }


WORKLOADS = {w.name: w for w in (JaDocs, Catalog)}
