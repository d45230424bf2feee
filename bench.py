"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], materializing each
result via the noop sink (full execution, no driver collect), and prints
ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "steal_frac": F, "idle_steal_frac": F}

Protocol (BASELINE.md): one warm-up pass runs every selected query once,
then each query takes the best of two timed runs; every run is under a
wall-clock timeout.  Warming all rows before timing any keeps the
session's own warm-up (JIT, first Python workers) out of the first rows'
times.  ``value`` is the total, or null when a row failed or
``SPARK_GRAFT_ONLY`` picked a subset; then ``partial_total`` holds the
sum, and ``errors`` maps each failed row to its error ("timeout" for a
hung one); a row that fails its warm-up is not timed.  ``steal_frac`` is the host's share
of CPU time (steal) while the rows ran; above 2% the payload also carries
``"contended": true``.  ``idle_steal_frac`` is the same share over
``IDLE_STEAL_S`` seconds after the session starts and before the first row,
while the guest is idle, so a steal reading that only tracks the rows' own
load shows as a gap between the two.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench.sparkstats import Phase, QueryFailed  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q01_pricing_summary",
    "q03_segment_revenue",
    "q05_topk_orders_per_customer",
    "q16_top_suppliers",
    "t01_token_topk",
    "t05_fingerprint_winnow",
    "d01_dedup_exact",
    "d02_minhash_lsh_pairs",
    "d03_simhash",
    "a01_ann_bruteforce",
    "s02_session_windows",
    "q22_asof_join",
    "q24_small_quantity_revenue",
    "t09_quality_ratios",
    # Heavy late-tier entries, regression-gated from round 2 on:
    "d07_dup_clusters",
    "d05_bucket_jaccard_pairs",
    "d06_embedding_dup_pairs",
    "s04_streaming_term_counts_e2e",
    # Round-4 additions (VERDICT r3 next-round #6): the previously ungated
    # tiers — batch shaping, grouped pandas UDFs, storage patterns, full-SQL.
    "t13_sequence_packing",
    "u01_applyinpandas_rank",
    "u02_grouped_agg_kth",
    "io03_partition_pruned_read",
    "io04_small_file_compaction",
    "sql02_cte_window_sql",
    # Round-4 new operators, gated from birth:
    "t14_repetition_quality",
    "t15_pii_scrub",
    "t16_token_rarity",
    "d10_incremental_near_dup",
    "t17_tokenize_rich",
    "io05_schema_evolution_read",
    # Round-5: Japanese-lattice throughput gate — dictionary growth must
    # not silently regress the hot tokenizer kernel (VERDICT r4 #1).
    "t18_ja_tokenize_throughput",
    # Round-5 capstone: the composed dedup->quality->split->pack pipeline.
    "t19_training_pipeline",
    # Round-5: benchmark decontamination (broadcast eval n-gram screen).
    "d11_benchmark_decontaminate",
    # Round-5: deterministic stratified sampling (broadcast stratum table).
    "t20_stratified_sample",
    # Round-6: connection-matrix goldens (constant frame; gates the
    # fused-カ変 segmentation and the 連用形→助動詞 reward end-to-end).
    "t21_connection_matrix",
    "t22_segmentation_parity",
    "t23_ja_search_throughput",
    "t24_ja_extended_throughput",
    # Round-8: the SQL-surface tokenizer path (row-dispatch Arrow UDF behind
    # the registered Hive name) — pinned vs t18's iterator Arrow UDF path (VERDICT
    # r7 next-round #4).
    "sql03_sql_udf_throughput",
    # Round-9: held-out SEARCH/EXTENDED mode-parity (constant-size frame —
    # the corpus module self-describes its current row/register counts).
    "t25_mode_parity",
    # Round-9: rich-path throughput (per-token structs + JVM-side HOF
    # reduction) — the struct-marshalling cost t18 cannot see.
    "t26_ja_rich_throughput",
    # Round-9: held-out lemma parity (constant-size frame — see
    # tokenizer/lemma_parity.py for the current corpus counts).
    "t27_lemma_parity",
    # Round-10: held-out reading parity (fourth external axis, constant-
    # size frame — see tokenizer/reading_parity.py for corpus counts).
    "t28_reading_parity",
    # Round-10: held-out user-dict parity (fifth external axis — per-
    # sentence inline user dictionaries across all modes).
    "t29_userdict_parity",
    # Round-10: held-out POS parity (sixth external axis — subtype-level
    # row selection, the field every other axis is blind to).
    "t30_pos_parity",
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# A hung query becomes errors[name] = "timeout" and the other rows still
# run.  The heaviest sf1 row in BENCH_SF1.json takes 24 s on 32 cores.
QUERY_TIMEOUT_S = 600.0
# The session is stamped "contended" when the host took more than this
# share of the guest's CPU time (steal) while the rows ran: runs slow down
# with steal, about 5% per point on perfbench's catalog workload
# (perfbench/README.md, "Run-to-run spread").
STEAL_CONTENDED_FRAC = 0.02
# Length of the idle steal reading taken before the first row.
IDLE_STEAL_S = 5.0


def _cpu_line() -> str:
    with open("/proc/stat") as f:
        return f.readline()


def steal_frac(start: str, end: str) -> float:
    """Share of CPU time stolen by the host between two ``/proc/stat``
    ``cpu`` lines.  Ticks: user nice system idle iowait irq softirq steal
    (guest time is already counted in user and nice)."""
    t0, t1 = ([int(v) for v in line.split()[1:9]] for line in (start, end))
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total if total > 0 else 0.0


def _run(spark, builder) -> float:
    """Wall time of one build and run under the timeout."""
    phase = Phase(spark, lambda: _materialize(builder(spark, SF_DIR)), QUERY_TIMEOUT_S)
    phase.run()
    return phase.wall_s


def run_rows(spark, builders: dict) -> tuple[dict[str, float], dict[str, str]]:
    """Warm every row once, then time each as the best of two runs; one
    failing or hung row is recorded, not fatal."""
    errors: dict[str, str] = {}
    for name, builder in builders.items():
        try:
            _run(spark, builder)
        except QueryFailed as exc:
            errors[name] = str(exc)
    timings: dict[str, float] = {}
    for name, builder in builders.items():
        if name in errors:
            continue
        try:
            timings[name] = round(min(_run(spark, builder) for _ in range(2)), 3)
        except QueryFailed as exc:
            errors[name] = str(exc)
    return timings, errors


def build_payload(
    timings: dict[str, float],
    errors: dict[str, str],
    is_subset: bool,
    steal: float,
    idle_steal: float,
) -> dict:
    # A partial total must never be compared against a full one: with any
    # per-query error OR a SPARK_GRAFT_ONLY subset, "value" is null and the
    # partial sum moves to "partial_total".
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_wall_clock",
        "value": total if not errors and not is_subset else None,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "steal_frac": round(steal, 4),
        "idle_steal_frac": round(idle_steal, 4),
    }
    if steal > STEAL_CONTENDED_FRAC:
        payload["contended"] = True
    if is_subset:
        payload["subset"] = True
    if errors:
        payload.update(errors=errors, partial=True)
    if is_subset or errors:
        payload["partial_total"] = total
    return payload


def main() -> None:
    from hive_udf_neologd_spark.catalog import QUERIES
    from hive_udf_neologd_spark.session import get_spark

    # Optional subset (comma-separated names): lets long scale runs (sf1)
    # be split into several shorter sessions and merged — the per-query
    # protocol (warmup + best-of-2) is unchanged, so chunked numbers are
    # directly comparable to one-session numbers.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        wanted = [n for n in (s.strip() for s in only.split(",")) if n]
        unknown = sorted(set(wanted) - set(HEADLINE))
        if unknown:
            # A typo'd subset must fail loudly, not print a 0.0-second
            # "record" (judge ADVICE r9 #1).
            raise SystemExit(
                f"SPARK_GRAFT_ONLY names not in HEADLINE: {unknown}"
            )
        selected = [n for n in HEADLINE if n in set(wanted)]
    else:
        selected = HEADLINE
    # Python workers start from a module of the package, so they need the
    # repository on their path whatever the current directory is.
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    spark = get_spark("bench")
    idle_start = _cpu_line()
    time.sleep(IDLE_STEAL_S)
    cpu_start = _cpu_line()
    timings, errors = run_rows(spark, {name: QUERIES[name] for name in selected})
    steal = steal_frac(cpu_start, _cpu_line())
    payload = build_payload(
        timings,
        errors,
        len(selected) != len(HEADLINE),
        steal,
        steal_frac(idle_start, cpu_start),
    )
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
