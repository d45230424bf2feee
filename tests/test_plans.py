"""Physical-plan quality gates (SURVEY.md §4).

Correctness tests prove the answers match; these prove the PLANS are the
ones that survive a 100× scale-up: filters pushed into the parquet scan,
broadcast joins where a side is dimension-sized, exactly one hash-shuffle
where one is expected, and the tokenizer UDF fed by a pruned/filtered
scan rather than the other way around.  Beside them sit the row-level
checks of the kernels those plan shapes rely on: t05's JVM winnow against
a hashlib reference, and the connected-components fixpoint against
union-find.
"""

from __future__ import annotations

import hashlib

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
    assert "ArrowEvalPython" in plan  # Arrow-batched tokenizer UDF, not row Python
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
    df = QUERIES["d02_minhash_lsh_pairs"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


@pytest.fixture
def checkpointed(spark, monkeypatch):
    """The frames passed to ``DataFrame.localCheckpoint``, in call order."""
    frames = []
    frame_cls = type(spark.range(1))
    real_checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        frames.append(self)
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    return frames


def test_d05_candidate_join_keys_include_prefix_token(spark, checkpointed):
    # Prefix-filter candidate generation: the join key must carry the
    # high-cardinality token, never just the low-cardinality (lang,
    # source) bucket — the thing that made the old all-pairs plan
    # quadratic at scale.  d05 checkpoints its scored pairs before the
    # sort, so inspect the frame it checkpoints.
    QUERIES["d05_bucket_jaccard_pairs"](spark, SF_DIR)
    plan = _plan_of(spark, checkpointed[0])
    assert "tok" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d06_candidate_join_keys_include_lsh_bucket(spark):
    # Banded hyperplane LSH: candidates join on (label, band, bucket),
    # not all-pairs within label.
    plan = _plan(spark, "d06_embedding_dup_pairs")
    assert "bucket" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d03_no_bit_row_inflation(spark):
    # SimHash votes travel as 32 columns, not 32 exploded rows: each sims
    # branch has exactly ONE hashpartitioning (the per-doc agg) — the old
    # bit-row plan needed a second (doc_id, bit) shuffle carrying 32× the
    # token count.
    plan = _plan(spark, "d03_simhash")
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


@pytest.mark.parametrize(
    "name",
    ["q03_segment_revenue", "d01_dedup_exact", "t05_fingerprint_winnow"],
)
def test_whole_stage_codegen_present(spark, name):
    # Hot expression work stays inside codegen'd stages (SURVEY.md §4).
    # AQE hides codegen spans until execution, so plan this one query with
    # AQE off (the builders' prepare() re-enables it; planning happens at
    # explain time, after we flip the conf back off).
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


def test_d10_band_join_not_all_pairs(spark):
    plan = _plan(spark, "d10_incremental_near_dup")
    # The batch-vs-corpus screen joins on (band, bucket) — candidates only,
    # never a cross join of batch × corpus.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "band" in plan and "bucket" in plan


def test_d07_squaring_join_is_never_broadcast(spark, checkpointed):
    """The _cc_fixpoint edge-squaring join must stay a shuffle join after
    AQE re-plans it: a broadcast flip would leave the skew guard's u-keyed
    window exchange, which doubles as the join's y-side shuffle, as pure
    overhead.  A small graph is the case where AQE would flip it."""
    import re

    from hive_udf_neologd_spark.operators import dedup as D

    pairs = [(0, i) for i in range(1, 31)] + [(i, i + 1) for i in range(100, 140)]
    edges = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "u long, v long")
    # The squared edge table is the first frame _cc_fixpoint checkpoints.
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


def test_t05_no_window_exchange(spark):
    plan = _plan(spark, "t05_fingerprint_winnow")
    # The winnowing is per-document inside one narrow kernel: no window
    # operator, no hash exchange carrying shingle rows — only the
    # conditional spread and the presentation sort's range exchange remain.
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


def _reference_counts(rows):
    """t05's winnow count per doc, computed row by row with hashlib:
    md5 of each 3-token shingle, min over each window of 4 hashes,
    distinct mins counted."""
    out = {}
    for doc_id, text in rows:
        ts = text.split(" ") if text is not None else []
        if len(ts) < 3:
            continue
        hs = [
            hashlib.md5(" ".join(ts[i : i + 3]).encode()).hexdigest()
            for i in range(len(ts) - 2)
        ]
        out[doc_id] = len({min(hs[i : i + 4]) for i in range(len(hs))})
    return out


def test_t05_jvm_winnow_matches_reference(spark):
    """t05's JVM winnow projection matches the reference bit for bit:
    ``slice`` truncates like ``hs[i:i+4]``, ``array_min`` over md5 hex
    strings is the same lexicographic min, ``array_distinct``/``size``
    matches ``set``/``len``."""
    from hive_udf_neologd_spark.operators.textops import t05_fingerprint_winnow
    from hive_udf_neologd_spark.sources import read_table

    got = {
        r["doc_id"]: r["n_fingerprints"]
        for r in t05_fingerprint_winnow(spark, SF_DIR).collect()
    }
    rows = [
        (r["doc_id"], r["text"])
        for r in read_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    assert got == _reference_counts(rows)


def test_t05_jvm_winnow_edge_shapes(spark, tmp_path):
    from hive_udf_neologd_spark.operators.textops import t05_fingerprint_winnow

    rows = [
        (1, None),                      # null text -> skipped
        (2, ""),                        # empty -> 1 token -> skipped
        (3, "a b"),                     # 2 tokens -> skipped
        (4, "a b c"),                   # exactly 3 tokens -> 1 shingle
        (5, "a b c d e f"),             # 4 shingles, one full window
        (6, "x x x x x x x x"),         # duplicate shingles collapse
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        path + "/documents.parquet"
    )
    got = {
        r["doc_id"]: r["n_fingerprints"]
        for r in t05_fingerprint_winnow(spark, path).collect()
    }
    assert got == _reference_counts(rows)


@pytest.mark.parametrize("name", ["d05_bucket_jaccard_pairs", "t17_tokenize_rich"])
def test_sort_samples_checkpoint_not_pipeline(spark, name):
    """Materialize-before-sort: each of these queries ends in a global
    orderBy whose range partitioner SAMPLES its child.  Without a
    materialization boundary the sampling pass re-runs the expensive
    subtree (set ops / UDF) once more per action, which measured slower
    for these two (see the comment at each checkpoint).  The public
    query's top-level plan must therefore sort over a checkpointed RDD
    scan, with the heavy subtree absent (it runs exactly once, inside the
    checkpoint)."""
    plan = _plan(spark, name)
    assert "Scan ExistingRDD" in plan
    assert "Sort" in plan
    # The expensive work is below the checkpoint, not re-planned above it.
    for marker in ("MapInPandas", "ArrowEvalPython", "array_intersect", "Join"):
        assert marker not in plan


def test_parity_frames_scan_locally(spark):
    """Every constant-corpus catalog entry plans its frame as a
    LocalTableScan — no applySchemaToPythonRDD deserialization tasks —
    and each parity entry scores its corpus in exactly one
    ArrowEvalPython pass (per-register rows and the __total__ row come
    from one rollup, not a union that re-tokenizes the corpus)."""
    parity = (
        "t22_segmentation_parity",
        "t25_mode_parity",
        "t27_lemma_parity",
        "t28_reading_parity",
        "t29_userdict_parity",
        "t30_pos_parity",
    )
    for name in ("t08_tokenize_modes", "t21_connection_matrix", *parity):
        df = QUERIES[name](spark, SF_DIR)
        plan = _plan_of(spark, df)
        assert "applySchemaToPythonRDD" not in plan, name
        assert "LocalTableScan" in plan, name
        if name in parity:
            tree = df._jdf.queryExecution().executedPlan().toString()
            assert tree.count("ArrowEvalPython") == 1, (name, tree)


def _uf_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_fixpoint_hub_and_chain_with_binding_cap(spark, monkeypatch):
    """Skew guard: the window cap on the squaring y-side must not change
    the fixpoint even when it BINDS (hub degree > cap), and the delayed
    pointer jump must still converge long chains within _MAX_CC_ITERS."""
    from hive_udf_neologd_spark.operators import dedup as D

    monkeypatch.setattr(D, "_CC_SQUARE_CAP", 4)  # far below the hub degree
    # hub 0 with 30 leaves; disjoint chain 100..140; disjoint pair.
    pairs = (
        [(0, i) for i in range(1, 31)]
        + [(i, i + 1) for i in range(100, 140)]
        + [(500, 501)]
    )
    edges = spark.createDataFrame(pairs, "u long, v long").unionByName(
        spark.createDataFrame([(b, a) for a, b in pairs], "u long, v long")
    )
    got = {r["n"]: r["lbl"] for r in D._cc_fixpoint(edges).collect()}
    assert got == _uf_components(pairs)
