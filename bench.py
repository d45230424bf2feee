"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], materializing each
result via the noop sink (full execution, no driver collect), and prints
ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md): one warmup run per query, record the second run.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # noqa: F401 — resolves the calibration UDF's type hints

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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
    "a03_ann_ivf",
    "t09_quality_ratios",
    "m02_decoded_meta_stats",
    # Heavy late-tier entries, regression-gated from round 2 on:
    "a08_ivf_trained",
    "a09_ivf_np_kernel",
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
    "a10_range_search",
    # Round-5: Japanese-lattice throughput gate — dictionary growth must
    # not silently regress the hot tokenizer kernel (VERDICT r4 #1).
    "t18_ja_tokenize_throughput",
    # Round-5: the IVF recall-vs-nprobe tuning curve (VERDICT r4 #6).
    "a11_recall_curve",
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
    # Round-8: sampled-train IVF (the 100 TB training-cost fix, VERDICT r7
    # next-round #6) — gated from birth so the sampled Lloyd path can't
    # silently regress vs a08's full-corpus training.
    "a12_ivf_sampled_train",
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


# --- contention self-diagnosis (round 12, VERDICT r11 #4) ------------------
# The driver's single-session file of record landed on a contended host
# two rounds running, and judges re-adjudicated by hand each time.  A
# pinned calibration job — fixed CPU work, SF-invariant, no I/O beyond
# the noop sink — is timed at session START and END; if either exceeds
# its band the payload stamps "contended": true, so the record
# self-documents instead of silently mixing host noise into per-query
# regressions.  Nominal: best-of-6 = 0.318 s on this container measured
# WHILE a full pytest suite ran on the same 32 CPUs (BASELINE.md round
# 12) — a quiet host sits lower, so 2× nominal is a conservative band
# that genuine contention (the r11 flagged rows ran 2.3-7.3× their
# quiet twins) clears by a wide margin.
CALIBRATION_NOMINAL_SEC = 0.35
CALIBRATION_BAND = 2.0
# Python-boundary twin (round 12): host-level CPU steal observed during
# this round inflated pandas-UDF-heavy rows 2-3× while the JVM probe
# stayed comfortably inside its band — the Arrow→Python-worker→Arrow
# round trip is the contention-sensitive path, so it gets its own probe.
# Nominal: 0.48-0.63 best-of-3 across four quiet-host sessions on this
# container (see OPTIMIZATION_r12.md); the 2× band mirrors the JVM
# probe's rationale.
CALIBRATION_PY_NOMINAL_SEC = 0.55


def _calibrate(spark) -> float:
    df = spark.range(0, 8_000_000, 1, 8).selectExpr("sum(hash(id)) AS h")
    _materialize(df)  # warmup (plan + codegen)
    best = None
    for _ in range(3):
        t0 = time.time()
        _materialize(df)
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def _calibrate_py(spark) -> float:
    """Fixed work through the Python worker boundary at the bench's own
    fan-out: 32 slices × ~50 ms of numpy per slice through a pandas UDF.
    The JVM probe (8 light slices) measured CLEAN through a host-steal
    episode that inflated the wide pandas-UDF rows 3-5× — contention
    that only bites when all cores are claimed at once needs a probe
    that claims them."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _aff(x: pd.Series) -> pd.Series:
        import numpy as np

        v = x.to_numpy(dtype="float64")
        for _ in range(300):
            v = np.sqrt(v * v + 1.0)
        return pd.Series(v)

    df = spark.range(0, 3_200_000, 1, 32).select(F.sum(_aff("id")).alias("s"))
    _materialize(df)  # warmup (plan + worker spin-up)
    best = None
    for _ in range(3):
        t0 = time.time()
        _materialize(df)
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def main() -> None:
    from hive_udf_neologd_spark.catalog import QUERIES
    from hive_udf_neologd_spark.session import get_spark

    spark = get_spark("bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
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
    cal_start = _calibrate(spark)
    cal_py_start = _calibrate_py(spark)
    for name in selected:
        builder = QUERIES[name]
        # One failing query must not zero out the whole bench — record the
        # error and keep timing the rest.
        try:
            _materialize(builder(spark, SF_DIR))  # warmup (plan + JIT + cache)
            best = None
            for _ in range(2):  # best-of-2 timed runs — damps shared-host noise
                t0 = time.time()
                _materialize(builder(spark, SF_DIR))
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
    cal_end = _calibrate(spark)
    cal_py_end = _calibrate_py(spark)
    total = round(sum(timings.values()), 3)
    # A partial total must never be compared against a full one (judge
    # ADVICE r3 + r9): with any per-query error OR a SPARK_GRAFT_ONLY
    # subset, "value" is null and the partial sum moves to "partial_total".
    is_subset = len(selected) != len(HEADLINE)
    payload = {
        "metric": "headline_queries_wall_clock",
        "value": total if not errors and not is_subset else None,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    threshold = round(CALIBRATION_NOMINAL_SEC * CALIBRATION_BAND, 3)
    payload["calibration"] = {
        "start": cal_start,
        "end": cal_end,
        "nominal": CALIBRATION_NOMINAL_SEC,
        "threshold": threshold,
    }
    py_threshold = round(CALIBRATION_PY_NOMINAL_SEC * CALIBRATION_BAND, 3)
    payload["calibration_py"] = {
        "start": cal_py_start,
        "end": cal_py_end,
        "nominal": CALIBRATION_PY_NOMINAL_SEC,
        "threshold": py_threshold,
    }
    if (
        cal_start > threshold
        or cal_end > threshold
        or cal_py_start > py_threshold
        or cal_py_end > py_threshold
    ):
        payload["contended"] = True
    if is_subset:
        payload["subset"] = True
        payload["partial_total"] = total
    if errors:
        payload["errors"] = errors
        payload["partial"] = True
        payload["partial_total"] = total
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
