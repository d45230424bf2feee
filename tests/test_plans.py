"""Physical-plan quality gates (SURVEY.md §4).

Correctness tests prove the answers match; these prove the PLANS are the
ones that survive a 100× scale-up: filters pushed into the parquet scan,
broadcast joins where a side is dimension-sized, exactly one hash-shuffle
where one is expected, and the tokenizer UDF fed by a pruned/filtered
scan rather than the other way around.
"""

from __future__ import annotations

import pytest

from hive_udf_neologd_spark.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan_of(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plan(spark, name: str) -> str:
    return _plan_of(spark, QUERIES[name](spark, SF_DIR))


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached parquet
    assert plan.count("hashpartitioning") == 1  # one agg shuffle, map-side partial


def test_q16_broadcasts_dimension_side(spark):
    plan = _plan(spark, "q16_top_suppliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_t01_filter_below_tokenizer_udf(spark):
    plan = _plan(spark, "t01_token_topk")
    assert "ArrowEvalPython" in plan  # Arrow-batched pandas UDF, not row Python
    # The null filter is pushed into the scan, so the UDF never sees
    # filterable rows (keep UDFs last — SURVEY.md §4).
    assert "IsNotNull(text)" in plan


def test_a01_broadcasts_query_side(spark):
    plan = _plan(spark, "a01_ann_bruteforce")
    # Tiny query set is broadcast; scan side never shuffles for the join.
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("hashpartitioning") == 1  # only the top-k window


def test_q22_asof_single_shuffle(spark):
    plan = _plan(spark, "q22_asof_join")
    # The union+window as-of join shuffles ONCE on user_id; both event_type
    # predicates reach the scans.
    assert plan.count("hashpartitioning") == 1
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_q23_range_join_is_broadcast_nested_loop(spark):
    plan = _plan(spark, "q23_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q31_semi_join_with_residual_condition(spark):
    plan = _plan(spark, "q31_priority_exists")
    # EXISTS plans as a semi join keyed on orderkey equality with the date
    # inequality as a residual condition — never a per-row subquery.
    assert "LeftSemi" in plan
    # The quarter predicate reaches the orders parquet scan.
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q32_scalar_threshold_is_one_row_broadcast(spark):
    plan = _plan(spark, "q32_revenue_share")
    # The global total joins as a broadcast 1-row cross join.
    assert "BroadcastNestedLoopJoin" in plan
    # The static plan duplicates the per-part aggregate subtree (threshold
    # branch + probe branch); at execution ReuseExchange collapses them so
    # the fact table is scanned and shuffled ONCE — the property that
    # matters at 100 TB.
    df = QUERIES["q32_revenue_share"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_d02_band_join_reuses_minhash_exchange(spark):
    # The shuffle_hash hint makes both band-join sides shuffle through
    # canonically-identical exchanges; at execution the whole minhash
    # pipeline (scan → shingle → md5 → min-agg) must run ONCE, with the
    # second side a ReusedExchange — otherwise the build side recomputes
    # the pipeline, which doubles the dominant cost at 100 TB.
    # The public query checkpoints the distinct pairs before its sort
    # (round 12), so execute the pre-checkpoint subtree builder.
    from hive_udf_neologd_spark.operators.dedup import _d02_pairs

    df = _d02_pairs(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_d05_candidate_join_keys_include_prefix_token(spark):
    # Prefix-filter candidate generation: the join key must carry the
    # high-cardinality token, never just the low-cardinality (lang,
    # source) bucket — the thing that made the old all-pairs plan
    # quadratic at scale.
    # The public query checkpoints the scored pairs before its sort
    # (round 12), which truncates the top-level explain — assert on the
    # pre-checkpoint subtree builder instead.
    from hive_udf_neologd_spark.operators.dedup import _d05_scored

    plan = _plan_of(spark, _d05_scored(spark, SF_DIR))
    assert "tok" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d06_candidate_join_keys_include_lsh_bucket(spark):
    # Banded hyperplane LSH: candidates join on (label, band, bucket),
    # not all-pairs within label.
    from hive_udf_neologd_spark.operators.dedup import _d06_scored

    plan = _plan_of(spark, _d06_scored(spark, SF_DIR))
    assert "bucket" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d03_no_bit_row_inflation(spark):
    # SimHash votes travel as 32 columns, not 32 exploded rows: each sims
    # branch has exactly ONE hashpartitioning (the per-doc agg) — the old
    # bit-row plan needed a second (doc_id, bit) shuffle carrying 32× the
    # token count.
    from hive_udf_neologd_spark.operators.dedup import _d03_joined

    plan = _plan_of(spark, _d03_joined(spark, SF_DIR))
    assert plan.count("hashpartitioning") == 2  # one per disjoint branch


def test_io03_partition_pruning(spark):
    # The event_type predicate must prune partitions at the scan (directory
    # listing, not data read) — the cardinal storage pattern at 100 TB.
    plan = _plan(spark, "io03_partition_pruned_read")
    assert "PartitionFilters" in plan
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("purchase" in ln for ln in pf_lines)


def test_t06_no_separate_count_job(spark):
    # Corpus size N joins in as a broadcast 1-row aggregate inside ONE DAG
    # (q32 pattern) — not a driver-side count() that re-scans the corpus.
    plan = _plan(spark, "t06_tfidf")
    assert "BroadcastNestedLoopJoin" in plan


def test_q33_anti_join_with_pushed_filter(spark):
    plan = _plan(spark, "q33_rich_inactive_customers")
    assert "LeftAnti" in plan
    # The high-value filter prunes the anti side at its scan.
    assert "GreaterThan(o_totalprice" in plan


def test_m01_prunes_unread_columns(spark):
    plan = _plan(spark, "m01_binary_meta")
    # Only doc_id + text are read; lang/source/n_chars are pruned at the scan.
    assert "ReadSchema" in plan
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("doc_id" in ln and "text" in ln for ln in read_schema_lines)
    assert not any("n_chars" in ln for ln in read_schema_lines)


@pytest.mark.parametrize(
    "name",
    ["q03_segment_revenue", "d01_dedup_exact", "t05_fingerprint_winnow"],
)
def test_whole_stage_codegen_present(spark, name):
    # Hot expression work stays inside codegen'd stages (SURVEY.md §4).
    # AQE hides codegen spans until execution, so plan this one query with
    # AQE off (the builders' prepare() re-enables it; planning happens at
    # explain time, after we flip the conf back off).
    if name == "t05_fingerprint_winnow":
        # The public t05 checkpoints before its sort (round 12) which
        # truncates the plan; the codegen'd scan/project lives in the
        # pre-checkpoint subtree.
        from hive_udf_neologd_spark.operators.textops import _t05_fingerprints

        df = _t05_fingerprints(spark, SF_DIR)
    else:
        df = QUERIES[name](spark, SF_DIR)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        codegen = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    first = codegen.splitlines()[0]
    assert "WholeStageCodegen subtrees" in first
    assert not first.startswith("Found 0 WholeStageCodegen")


def test_t13_window_partitioned_by_lang_and_shard(spark):
    plan = _plan(spark, "t13_sequence_packing")
    # The packing window must shuffle on (lang, shard), not lang alone —
    # lang-only partitioning serializes one language per task at 100 TB
    # (VERDICT r3).  One shuffle serves both the window and the aggregate.
    assert plan.count("hashpartitioning") == 1
    assert "shard" in plan
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert not any("n_chars" in ln or "source" in ln for ln in read_schema_lines)


def test_t15_single_shuffle_and_pruned_scan(spark):
    plan = _plan(spark, "t15_pii_scrub")
    # Regex detect/redact is a narrow codegen'd projection; the only
    # exchange is the tiny per-lang aggregate (map-side partials first).
    assert plan.count("hashpartitioning") == 1
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("doc_id" in ln and "text" in ln and "lang" in ln for ln in read_schema_lines)
    assert not any("n_chars" in ln for ln in read_schema_lines)


def test_t14_partial_aggregation_before_shuffle(spark):
    plan = _plan(spark, "t14_repetition_quality")
    # The (doc,lang,token) count combines map-side BEFORE its exchange —
    # the shuffle carries (doc,token,cnt) partials, not raw exploded
    # occurrences (the volume that matters on a Zipf corpus).
    assert "partial_count" in plan
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert not any("n_chars" in ln or "source" in ln for ln in read_schema_lines)


def test_t16_joins_tf_model_distributed(spark):
    plan = _plan(spark, "t16_token_rarity")
    # The unigram model joins back by token key (broadcast at test scale,
    # shuffle-hash/SMJ at corpus scale — either way keyed, never collected
    # to the driver), and both scans prune to the used columns.
    assert "Join" in plan
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("n_chars" not in ln for ln in read_schema_lines)


def test_a10_broadcasts_query_side_single_shuffle(spark):
    plan = _plan(spark, "a10_range_search")
    # Same scale shape as a01: broadcast query side, corpus never shuffles
    # for the join; the only exchange is the per-query summary aggregate.
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("hashpartitioning") == 1
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("label" not in ln for ln in read_schema_lines)  # column pruned


def test_d10_band_join_not_all_pairs(spark):
    plan = _plan(spark, "d10_incremental_near_dup")
    # The batch-vs-corpus screen joins on (band, bucket) — candidates only,
    # never a cross join of batch × corpus.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "band" in plan and "bucket" in plan


def test_d07_squaring_join_is_never_broadcast(spark, monkeypatch):
    """The _cc_fixpoint edge-squaring join must stay a shuffle join after
    AQE re-plans it: a broadcast flip would leave the skew guard's u-keyed
    window exchange, which doubles as the join's y-side shuffle, as pure
    overhead.  A small graph is the case where AQE would flip it."""
    import re

    from hive_udf_neologd_spark.operators import dedup as D

    pairs = [(0, i) for i in range(1, 31)] + [(i, i + 1) for i in range(100, 140)]
    edges = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "u long, v long")
    # The squared edge table is the first frame _cc_fixpoint checkpoints.
    checkpointed = []
    frame_cls = type(edges)
    real_checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        checkpointed.append(self)
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    D._cc_fixpoint(edges).collect()
    plan = checkpointed[0]._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    joins = re.findall(r"\b(\w+Join)\b", plan.split("== Initial Plan ==")[0])
    assert joins and set(joins) <= {"SortMergeJoin", "ShuffledHashJoin"}, joins


def test_d11_broadcasts_eval_grams_corpus_unshuffled(spark):
    plan = _plan(spark, "d11_benchmark_decontaminate")
    # Eval n-gram set broadcast; corpus grams flagged map-side.  The
    # contamination join itself must be a broadcast hash join on g, never
    # a shuffle of the exploded corpus grams or an all-pairs shape.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ensure_parallelism_no_exchange_on_multisplit(spark, tmp_path):
    # VERDICT r5 #3: the t01/t18 corpus repartition must be conditional —
    # a multi-split input (the 100 TB case: thousands of scan splits)
    # passes through with NO Exchange; only an under-split scan (the
    # single-file sf fixture) pays the spread.
    from hive_udf_neologd_spark.operators.textops import ensure_parallelism

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, par + 4).selectExpr("id", "'x' AS text")
    path = str(tmp_path / "multisplit")
    wide.write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path)
    if scan.rdd.getNumPartitions() >= par:
        out = ensure_parallelism(spark, scan)
        plan = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan  # pass-through, no shuffle
    narrow = spark.range(0, 10, 1, 1).selectExpr("id", "'x' AS text")
    assert ensure_parallelism(spark, narrow).rdd.getNumPartitions() == par


def test_t20_broadcasts_stratum_table(spark):
    plan = _plan(spark, "t20_stratified_sample")
    # Stratum-size table is tiny → broadcast back onto the corpus; the
    # draw is map-side.  No sort-merge join of corpus-sized sides.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
