"""Text-analysis operators over the ``documents`` table.

t01 is the flagship consumer of the tokenizer UDF (SURVEY.md §7 minimum
slice).  Its oracle is exact: the sf corpus is single-space-separated
``[a-z ]`` text, on which the analyzer chain (latin-run segmentation, no
Japanese stopword hits, lowercase identity) provably reduces to
whitespace splitting — so the DuckDB ``string_split`` oracle gates the whole
UDF plumbing, not just the relational shell.

t02-t05 are the training-data-pipeline text tier: token counting
(whitespace + regex), language-ID (marker-token heuristic), quality
scoring (length/type-token-ratio features), and winnowing document
fingerprints (k-gram rolling hashes + window minima — the local-minima
scheme of Schleimer et al., SIGMOD 2003).

Scale notes: everything is built-in expression work (no Python UDF except
t01's tokenizer); fingerprinting shuffles once on doc_id (the window) and
aggregates map-side first.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_udf_neologd_spark.functions.tokenize import arrow_map, tokenize_ja
from hive_udf_neologd_spark.session import prepare
from hive_udf_neologd_spark.sources import local_frame, read_table
from hive_udf_neologd_spark.tokenizer.parity_harness import AXES, METRICS, values_sql


def ensure_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan yields fewer splits than cores.

    The sf test fixtures are single parquet files → one input split → a
    CPU-bound UDF would run on one core, so the demo path needs a spread.
    At production scale the scan already yields thousands of splits and a
    full shuffle of 100 TB of raw text is NOT noise (VERDICT r5 'What's
    wrong' #3) — so the repartition is conditional: a multi-split input
    passes through untouched (no Exchange in the plan,
    tests/test_plans.py::test_ensure_parallelism_no_exchange_on_multisplit)."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


# --- t01: flagship tokenize → explode → top-k -----------------------------
def t01_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    tok = tokenize_ja()
    # The tokenizer is the expensive stage — spread it across the cluster
    # first if (and only if) the scan under-splits.
    return (
        ensure_parallelism(spark, docs.filter(F.col("text").isNotNull()))
        .select(F.explode(tok("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


T01_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE text IS NOT NULL)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


# --- t02: token counting (whitespace + BPE-ish regex) ---------------------
def t02_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        docs.select(
            "lang",
            F.size(toks).alias("n_ws"),
            F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("n_re"),
            (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_ws"), 4).alias("avg_ws_tokens"),
            F.round(F.avg("n_re"), 4).alias("avg_re_tokens"),
            F.round(F.avg("ttr"), 4).alias("avg_ttr"),
        )
        .orderBy("lang")
    )


T02_SQL = """
WITH per_doc AS (
  SELECT lang,
         len(string_split(text, ' ')) AS n_ws,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS ttr
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(n_ws), 4) AS avg_ws_tokens,
       ROUND(AVG(n_re), 4) AS avg_re_tokens,
       ROUND(AVG(ttr), 4) AS avg_ttr
FROM per_doc GROUP BY lang ORDER BY lang
"""


# --- t03: language identification (marker-token heuristic) ----------------
_LANG_MARKERS = {
    "en": ("the", "of", "and", "to", "in", "is"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "es": ("el", "los", "las", "una", "por", "con"),
    "de": ("der", "die", "und", "das", "ein", "mit"),
}


def _in_list(vals: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in vals)


def t03_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    hits = {
        lang: F.expr(
            f"size(filter(split(text, ' '), t -> t IN ({_in_list(words)})))"
        ).alias(f"{lang}_hits")
        for lang, words in _LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", "lang", *hits.values())
    e, fr, es, de = (F.col(f"{l}_hits") for l in ("en", "fr", "es", "de"))
    pred = (
        F.when((e >= fr) & (e >= es) & (e >= de) & (e > 0), "en")
        .when((fr >= es) & (fr >= de) & (fr > 0), "fr")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )
    return scored.withColumn("lang_pred", pred).orderBy("doc_id")


def _t03_sql() -> str:
    hit_cols = ",\n         ".join(
        f"len(list_filter(string_split(text, ' '), t -> t IN ({_in_list(words)}))) AS {lang}_hits"
        for lang, words in _LANG_MARKERS.items()
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         {hit_cols}
  FROM documents
)
SELECT doc_id, lang, en_hits, fr_hits, es_hits, de_hits,
       CASE WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits
                 AND en_hits > 0 THEN 'en'
            WHEN fr_hits >= es_hits AND fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
            WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
            WHEN de_hits > 0 THEN 'de'
            ELSE 'und' END AS lang_pred
FROM scored ORDER BY doc_id
"""


T03_SQL = _t03_sql()


# --- t04: quality scoring -------------------------------------------------
def t04_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: token count, mean token length,
    type-token ratio — combined into a [0,1]-ish score; low-quality docs
    (short or highly repetitive) filtered out."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    avg_len = (F.length("text") - (n - 1)) / n  # chars minus separators

    # Explicit half-up rounding via floor(x·10⁴ + 0.5): Spark round() and
    # DuckDB round() disagree on exact .00005 ties (caught by the sf1
    # sweep — doc 5's replicas land the quality sum on 0.72125), while
    # floor(+0.5) over the identically-computed double is engine-exact.
    def r4(c):
        return F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0

    score = r4(
        F.least(n / F.lit(50.0), F.lit(1.0)) * 0.4
        + ttr * 0.4
        + F.least(avg_len / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    return (
        docs.select(
            "doc_id",
            n.alias("n_tokens"),
            r4(ttr).alias("ttr"),
            r4(avg_len).alias("avg_token_len"),
            score.alias("quality"),
        )
        .filter(score >= 0.5)
        .orderBy("doc_id")
    )


T04_SQL = """
WITH feat AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS ttr_raw,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
           / len(string_split(text, ' ')) AS avg_len_raw
  FROM documents
)
SELECT doc_id, n_tokens,
       FLOOR(ttr_raw * 10000.0 + 0.5) / 10000.0 AS ttr,
       FLOOR(avg_len_raw * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
       FLOOR((LEAST(n_tokens / 50.0, 1.0) * 0.4 + ttr_raw * 0.4
              + LEAST(avg_len_raw / 8.0, 1.0) * 0.2) * 10000.0 + 0.5) / 10000.0 AS quality
FROM feat
WHERE FLOOR((LEAST(n_tokens / 50.0, 1.0) * 0.4 + ttr_raw * 0.4
             + LEAST(avg_len_raw / 8.0, 1.0) * 0.2) * 10000.0 + 0.5) / 10000.0 >= 0.5
ORDER BY doc_id
"""


# --- t05: winnowing fingerprints (rolling hash + window minima) -----------
def t05_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via winnowing: hash every 3-token shingle,
    take minima over a sliding window of 4 shingles, count distinct minima
    per doc.

    Round 12 (guide §2.4): winnowing is a strictly PER-DOCUMENT
    computation — the pre-r12 shape exploded every shingle hash to a row
    and paid a full (doc_id) window shuffle + sort + re-aggregate for
    state that never crosses document boundaries; at 100 TB that exchange
    carried the entire shingle volume.  Round 13 (VERDICT r12 #1): the
    r12 fix kept the single-pass shape but moved the per-shingle hashing
    into a Python hashlib loop, the exact trade rejections #3/#5 had
    measured as a 10× loss for d02/d03 — the driver duly recorded t05
    1.24→1.66 s.  Now the whole winnow runs as ONE JVM projection:
    codegen ``md5`` per shingle, window minima via
    ``array_min(slice(...))``, distinct count via ``array_distinct`` —
    no Python boundary, no window, no shingle-volume exchange, and the
    hashing is back in native code (guide §4.1 "always prefer
    built-ins").  Only the conditional ``ensure_parallelism`` spread
    remains (round-robin of DOC rows when the local input has fewer
    splits than cores — absent at scale where the scan has many splits).

    Bit-parity with the reference kernel: ``slice`` truncates at the
    array end exactly like the Python ``hs[i:i+4]`` window, ``array_min``
    over md5 hex strings is the same lexicographic min, and
    ``array_distinct``/``size`` matches the ``set(...)``/``len`` count
    (pinned by tests/test_r13_optimizations.py::test_t05_jvm_winnow_
    matches_reference)."""
    prepare(spark)
    docs = ensure_parallelism(
        spark, read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("ts"))
        .filter(F.size("ts") >= 3)
        .select(
            "doc_id",
            # Direct indexing, not slice (round 13, same trade as
            # dedup._minhash_bands): no per-shingle array allocation.
            F.expr(
                "transform(sequence(0, size(ts) - 3),"
                " i -> md5(concat(ts[i], ' ', ts[i+1], ' ', ts[i+2])))"
            ).alias("hs"),
        )
        .select(
            "doc_id",
            F.expr(
                "CAST(size(array_distinct(transform(sequence(1, size(hs)),"
                " i -> array_min(slice(hs, i, 4))))) AS BIGINT)"
            ).alias("n_fingerprints"),
        )
        .orderBy("doc_id")
    )


T05_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
s AS (
  SELECT doc_id, u.i AS i, md5(array_to_string(ts[u.i:u.i+2], ' ')) AS h
  FROM t, unnest(range(1, len(ts) - 1)) AS u(i)
  WHERE len(ts) >= 3
),
w AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
  FROM s
)
SELECT doc_id, COUNT(DISTINCT mh) AS n_fingerprints
FROM w GROUP BY doc_id ORDER BY doc_id
"""


# --- t06: TF-IDF top terms per document -----------------------------------
def t06_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf (term count per doc) × idf = ln((N+1)/(df+1)) over the full
    corpus; top-3 terms per doc for doc_id < 50.  Document frequency is a
    second aggregation over the same exploded tokens — Spark reuses the
    shuffle output (exchange reuse) rather than rescanning.  The corpus
    size N joins in as a broadcast 1-row aggregate (q32 pattern) instead of
    a driver-side ``count()`` — one DAG, no extra full pass at 100 TB."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 4
            ).alias("tfidf"),
        )
        .filter(F.col("doc_id") < 50)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


T06_SQL = """
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * ln((n.n_docs + 1) * 1.0 / (df.df + 1)), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < 50
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rnk FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


# --- t07: bigram extraction -----------------------------------------------
def t07_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i+1]))"
    )
    return (
        docs.select(F.split("text", " ").alias("ts"))
        .filter(F.size("ts") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


T07_SQL = """
WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
b AS (
  SELECT array_to_string(ts[u.i:u.i+1], ' ') AS bigram
  FROM t, unnest(range(1, len(ts))) AS u(i)
  WHERE len(ts) >= 2
)
SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC LIMIT 20
"""


# --- sql02: full CTE + window + join query through the SQL parser ----------
def sql02_cte_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth check on the SQL text surface (not just DataFrame calls):
    a CTE + broadcast-join + window-rank query submitted as one SQL
    string over temp views — the way a Hive user of the reference writes
    everything.  Catalyst plans it identically to the DataFrame twin."""
    from hive_udf_neologd_spark.sources import read_table as _rt

    prepare(spark)
    _rt(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _rt(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        WITH rev AS (
          SELECT o_custkey, COUNT(*) AS n_orders,
                 ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS revenue
          FROM orders_v GROUP BY o_custkey
        ),
        ranked AS (
          SELECT c_mktsegment, c_custkey, n_orders, revenue,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY revenue DESC, c_custkey ASC) AS rnk
          FROM rev JOIN customer_v ON o_custkey = c_custkey
        )
        SELECT c_mktsegment, c_custkey, n_orders, revenue, rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY c_mktsegment, rnk
        """
    )


SQL02_SQL = """
WITH rev AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c_mktsegment, c_custkey, n_orders, revenue,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY revenue DESC, c_custkey ASC) AS rnk
  FROM rev JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, c_custkey, n_orders, revenue, rnk
FROM ranked WHERE rnk <= 5
ORDER BY c_mktsegment, rnk
"""


# --- sql01: the reference's SQL usage pattern, end-to-end ------------------
def sql01_lateral_view_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact usage shape (README.md:22-29: ``create
    temporary function tokenize_ja_neologd`` → ``select tokenize_ja_neologd
    (...)``), executed through Spark SQL: register the UDF + a temp view,
    then ``LATERAL VIEW explode(tokenize_ja_neologd(text))`` — Hive SQL
    that runs unchanged on this engine.  Same oracle as the flagship t01
    (the corpus-equivalence argument)."""
    from hive_udf_neologd_spark.functions.tokenize import register_udfs
    from hive_udf_neologd_spark.sources import read_table as _rt

    prepare(spark)
    register_udfs(spark)
    _rt(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT token, COUNT(*) AS n
        FROM documents_v
        LATERAL VIEW explode(tokenize_ja_neologd(text)) t AS token
        WHERE text IS NOT NULL
        GROUP BY token
        ORDER BY n DESC, token ASC
        LIMIT 20
        """
    )


SQL01_SQL = T01_SQL


# --- t09: stopword/punctuation-ratio quality features ----------------------
_STOP_EN = ("the", "of", "and", "to", "in", "is", "a", "for", "on", "with")


def t09_quality_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ratio-based quality features (stopword ratio, punctuation ratio,
    digit ratio, mean word length) a pretraining filter thresholds on
    (Gopher/C4-style heuristics).  All built-in expression work — one
    narrow pass then a tiny per-lang aggregate."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_list = ", ".join(f"'{w}'" for w in _STOP_EN)
    stop_ratio = F.expr(
        f"size(filter(split(text, ' '), t -> t IN ({stop_list})))"
    ) / n_tok
    punct_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", r"[^a-z0-9 ]", ""))
    ) / F.length("text")
    digit_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", r"[0-9]", ""))
    ) / F.length("text")
    return (
        docs.select(
            "lang",
            stop_ratio.alias("sr"),
            punct_ratio.alias("pr"),
            digit_ratio.alias("dr"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("sr"), 4).alias("avg_stop_ratio"),
            F.round(F.avg("pr"), 4).alias("avg_punct_ratio"),
            F.round(F.avg("dr"), 4).alias("avg_digit_ratio"),
        )
        .orderBy("lang")
    )


T09_SQL = f"""
WITH feat AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ({", ".join(f"'{w}'" for w in _STOP_EN)}))) * 1.0
           / len(string_split(text, ' ')) AS sr,
         (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) * 1.0
           / length(text) AS pr,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
           / length(text) AS dr
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(sr), 4) AS avg_stop_ratio,
       ROUND(AVG(pr), 4) AS avg_punct_ratio,
       ROUND(AVG(dr), 4) AS avg_digit_ratio
FROM feat GROUP BY lang ORDER BY lang
"""


# --- t08: tokenizer mode matrix (constant-golden oracle) -------------------
# Sentences, user dict, and golden token sequences all come from the shared
# goldens module — the same constants the pytest suite asserts against the
# analyzer, so the VALUES oracle and the unit goldens cannot desynchronize.
from hive_udf_neologd_spark.tokenizer.goldens import (  # noqa: E402
    T08_SENTENCES as _MODE_SENTENCES,
    T08_USER_DICT as _USER_DICT,
    T17_SENTENCES as _RICH_SENTENCES,
    t08_values_sql,
    t17_values_sql,
)


def t08_tokenize_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full O3/O6 config surface as data: each golden sentence
    tokenized under NORMAL / SEARCH (decompounding) / EXTENDED (unknown-word
    unigrams) and NORMAL+user-dict (SURVEY.md §2.1-2.2).  Mode and user
    dict are construction-time constants (one UDF per config, like the
    reference's const arguments), so this is four narrow UDF columns over a
    3-row frame — no shuffle at any scale.  Oracle: T08_SQL replays the
    pinned-lexicon golden constants as a VALUES table (full hash check)."""
    prepare(spark)
    df = local_frame(
        spark, list(_MODE_SENTENCES), "sentence_id long, text string"
    )
    configs = {
        "normal": tokenize_ja(mode="normal"),
        "search": tokenize_ja(mode="search"),
        "extended": tokenize_ja(mode="extended"),
        "normal+userdict": tokenize_ja(mode="normal", user_dict=_USER_DICT),
    }
    out = None
    for name, tok in configs.items():
        part = df.select(
            "sentence_id",
            F.lit(name).alias("config"),
            tok("text").alias("tokens"),
        )
        out = part if out is None else out.unionByName(part)
    # The driver's rows-only check hashes each cell; a raw array<string>
    # column is unhashable pandas-side, so flatten to a '|'-joined string
    # (order-preserving, still pins the exact token sequence).
    return (
        out.select(
            "sentence_id",
            "config",
            F.concat_ws("|", "tokens").alias("tokens_str"),
            F.size("tokens").alias("n_tokens"),
        )
        .orderBy("sentence_id", "config")
    )


# t08 outputs are FIXED CONSTANTS under the pinned lexicon: the 3 golden
# sentences × 4 configs always yield the same token sequences (the very same
# constants tests/test_tokenizer.py pins against the reference goldens,
# KuromojiNEologdUDFTest.java:213-299).  DuckDB cannot tokenize Japanese,
# but it can replay the constants — which makes t08 fully hash-checkable by
# the driver instead of rows-only.  The VALUES table is BUILT from
# tokenizer/goldens.py (the same constants the pytest suite asserts), so a
# lexicon change that re-segments these sentences must edit goldens.py and
# is then checked on both sides at once.
T08_SQL = t08_values_sql()


# --- t13: greedy sequence packing ------------------------------------------
_PACK_BIN = 2048  # tokens per packed training sequence
_PACK_SHARD = 128  # doc_ids per packing shard (deterministic integer split)


def t13_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing — the batch-shaping step before
    LLM training: within each (lang, shard) stream, documents in
    deterministic doc_id order are packed into ~2048-token bins; a document
    starts in the bin its running prefix sum falls into.  Pure integer
    window math, so the SQL oracle is bit-exact.

    Scale: the window partitions by (lang, shard) with
    ``shard = doc_id DIV 128`` — a deterministic integer split, so the
    partition-key cardinality grows linearly with the corpus instead of
    being capped at n_languages.  At 100 TB each window partition is a
    bounded ~128-document sort, never "one language = one task"; packing
    restarts per shard, which is exactly what a distributed trainer wants
    (shards are independent, re-runnable units)."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    shard = F.expr(f"doc_id DIV {_PACK_SHARD}")  # exact integer division
    w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    toks = F.size(F.split("text", " "))
    packed = (
        docs.select("doc_id", "lang", shard.alias("shard"), toks.alias("n_toks"))
        .withColumn("cum", F.sum("n_toks").over(w))
        .withColumn("bin", F.floor((F.col("cum") - F.col("n_toks")) / _PACK_BIN))
    )
    return (
        packed.groupBy("lang", "shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "shard", "bin")
    )


T13_SQL = f"""
WITH sized AS (
  SELECT doc_id, lang,
         CAST(FLOOR(doc_id / {_PACK_SHARD}) AS BIGINT) AS shard,
         len(string_split(text, ' ')) AS n_toks
  FROM documents
),
packed AS (
  SELECT doc_id, lang, shard, n_toks,
         SUM(n_toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM sized
)
SELECT lang, shard, CAST(FLOOR((cum - n_toks) / {_PACK_BIN}) AS BIGINT) AS bin,
       COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY lang, shard, bin ORDER BY lang, shard, bin
"""


# --- t10: deterministic train/val/test hash split --------------------------
def t10_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus splitting: md5(doc_id) mod 100 → 80/10/10
    train/val/test.  THE way to split at 100 TB — no sampling state, no
    seed coordination across executors, stable under re-runs and
    incremental ingest (a document's split never changes as the corpus
    grows, unlike fraction-based sample()).  Pure built-ins, one narrow
    pass + one tiny agg shuffle; identical md5 byte semantics in DuckDB
    makes the assignment itself oracle-checked."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = F.expr(
        "pmod(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT), 100)"
    )
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "doc_id", F.size(F.split("text", " ")).alias("n_toks"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


T10_SQL = """
WITH assigned AS (
  SELECT CASE
           WHEN CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 100 < 80 THEN 'train'
           WHEN CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 100 < 90 THEN 'val'
           ELSE 'test'
         END AS split,
         doc_id,
         len(string_split(text, ' ')) AS n_toks
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM assigned GROUP BY split ORDER BY split
"""


# --- t12: language-ID confusion matrix --------------------------------------
def t12_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation of the t03 classifier against the labeled corpus: the
    (actual, predicted) confusion matrix — the QA loop any heuristic
    filter in a training-data pipeline needs before it gates 100 TB of
    documents.  Composition of the t03 operator + one tiny aggregate;
    the corpus-sized work is t03's single narrow pass."""
    pred = t03_langid(spark, sf_dir).select("lang", "lang_pred")
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _t12_sql() -> str:
    return f"""
WITH scored AS ({_t03_sql()})
SELECT lang, lang_pred, COUNT(*) AS n
FROM scored GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


T12_SQL = _t12_sql()


# --- t11: Zipf frequency spectrum ------------------------------------------
def t11_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-of-frequencies (the Zipf spectrum a tokenizer/BPE
    vocabulary build inspects): term → tf over the whole corpus, then how
    many distinct terms share each tf, with the share of total token mass
    per class.  Two aggregations; the second operates on the (tiny)
    distinct-term set — the first shuffle is the only corpus-sized one,
    with map-side partial counts."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    total = tf.agg(F.sum("tf").alias("total_tokens"))
    return (
        tf.groupBy("tf")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .crossJoin(F.broadcast(total))
        .select(
            "tf",
            "n_terms",
            F.round((F.col("tf") * F.col("n_terms")) / F.col("total_tokens"), 6).alias(
                "mass_share"
            ),
        )
        .orderBy(F.desc("tf"))
        .limit(30)
    )


T11_SQL = """
WITH tf AS (
  SELECT term, COUNT(*) AS tf FROM (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> '' GROUP BY term
),
total AS (SELECT SUM(tf) AS total_tokens FROM tf)
SELECT tf, COUNT(*) AS n_terms,
       ROUND((tf * COUNT(*)) * 1.0 / ANY_VALUE(total_tokens), 6) AS mass_share
FROM tf CROSS JOIN total
GROUP BY tf ORDER BY tf DESC LIMIT 30
"""


# --- t17: rich per-token analysis (extension beyond reference parity) ------
# (_RICH_SENTENCES imported from tokenizer/goldens.py above, next to the
# golden rows its oracle replays.)


def t17_tokenize_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine extension the reference cannot offer: per-token structs
    (term, surface, POS, base form) — the reference drains only
    CharTermAttribute (KuromojiNEologdUDF.java:306-316; SURVEY.md §1.1
    subtlety), discarding the morphology its own analyzer computes.  Here
    ``tokenize_ja_rich`` exposes it as array<struct>, posexploded to flat
    rows so the driver hash covers every field.  Outputs are fixed
    constants under the pinned dictionary (sentence 2 exercises the
    MeCab-CSV snapshot), so the oracle replays them as a VALUES table —
    the t08 pattern."""
    prepare(spark)
    from hive_udf_neologd_spark.functions.tokenize import tokenize_ja_rich

    df = local_frame(spark, list(_RICH_SENTENCES), "sentence_id long, text string")
    rich = tokenize_ja_rich()
    return (
        df.select("sentence_id", F.posexplode(rich("text")).alias("pos_idx", "tok"))
        .select(
            "sentence_id",
            "pos_idx",
            F.col("tok.term").alias("term"),
            F.col("tok.surface").alias("surface"),
            F.col("tok.pos").alias("pos"),
            F.col("tok.base_form").alias("base_form"),
            F.col("tok.reading").alias("reading"),
            F.col("tok.unknown").cast("int").alias("is_unknown"),
        )
        # Kept on measurement: without it the sort's range partitioner
        # runs the rich-tokenize Arrow UDF a second time (bench.py
        # protocol, sf0.1, 4 CPUs, 8 interleaved pairs: median 0.344 s
        # with it, 0.432 s without, slower in 8 of 8).
        .localCheckpoint(eager=False)
        .orderBy("sentence_id", "pos_idx")
    )


# Built from tokenizer/goldens.py T17_ROWS — single source with the pytest
# assertions (see T08_SQL note above).
T17_SQL = t17_values_sql()


# --- t14: repetition-based quality gate (Gopher-style) ---------------------
def t14_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters from the Gopher/MassiveText quality rules (Rae et
    al. 2021 §A1.1): a document whose single most-frequent token carries an
    outsized share of its token mass is boilerplate/spam-shaped and gets
    gated before training.  Per doc: top-token count vs total tokens; the
    flag uses integer math (top_cnt*5 >= n ⇔ share ≥ 20%) so the oracle is
    exact; shares are rounded only at the final per-lang aggregate (the t02
    pattern).

    Scale: explode → (doc_id, token) count → (doc_id) max/sum → (lang) tiny
    agg.  Both corpus-sized shuffles are keyed on high-cardinality doc_id
    (+token) with map-side partial aggregation — the same shape as t01, no
    skew risk beyond Zipf tokens already absorbed by partial agg."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    per_token = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = per_token.groupBy("doc_id", "lang").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_toks")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("top_cnt") * 5 >= F.col("n_toks")).cast("long")).alias(
                "n_flagged"
            ),
            F.round(F.avg(F.col("top_cnt") / F.col("n_toks")), 4).alias(
                "avg_top_share"
            ),
            F.max("top_cnt").alias("max_top_cnt"),
        )
        .orderBy("lang")
    )


T14_SQL = """
WITH per_token AS (
  SELECT doc_id, lang, token, COUNT(*) AS cnt
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY doc_id, lang, token
),
per_doc AS (
  SELECT doc_id, lang, MAX(cnt) AS top_cnt, SUM(cnt) AS n_toks
  FROM per_token GROUP BY doc_id, lang
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN top_cnt*5 >= n_toks THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       ROUND(AVG(top_cnt * 1.0 / n_toks), 4) AS avg_top_share,
       MAX(top_cnt) AS max_top_cnt
FROM per_doc GROUP BY lang ORDER BY lang
"""


# --- t15: PII detection / redaction accounting -----------------------------
# The corpus is synthetic [a-z ] text with no PII, so the operator seeds a
# deterministic injection first (doc_id-keyed), then detects and redacts —
# the full scrub pipeline with a non-trivial, fully SQL-replayable oracle.
_EMAIL_RE = "[a-z0-9]+@[a-z]+[.][a-z]+"
_PHONE_RE = "555-[0-9]{4}"


def t15_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every training-data pipeline
    runs before the tokenizer: regex detection + redaction of emails and
    phone-shaped strings, with per-lang accounting of documents touched,
    matches found, and bytes removed.  Patterns use only simple character
    classes so Java regex (Spark) and RE2-ish (DuckDB) agree.

    Scale: one narrow projection pass (regexp built-ins, whole-stage
    codegen, no Python) + a tiny per-lang aggregate; the injection CASE is
    a stand-in for real text and vanishes in production use."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.col("text"), F.lit(" contact "), F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com"))),
    ).when(
        F.col("doc_id") % 10 == 1,
        F.concat(F.col("text"), F.lit(" call 555-0199 now")),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("txt"), _EMAIL_RE, "<email>"), _PHONE_RE, "<phone>"
    )
    per_doc = docs.select("doc_id", "lang", injected.alias("txt")).select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all("txt", F.lit(_EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("txt", F.lit(_PHONE_RE), 0)).alias("n_phone"),
        (F.length("txt") - F.length(scrubbed)).alias("bytes_removed"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_email") + F.col("n_phone") > 0).cast("long")).alias(
                "n_docs_with_pii"
            ),
            F.sum("n_email").alias("total_emails"),
            F.sum("n_phone").alias("total_phones"),
            F.sum("bytes_removed").alias("total_bytes_removed"),
        )
        .orderBy("lang")
    )


T15_SQL = f"""
WITH injected AS (
  SELECT doc_id, lang,
         CASE
           WHEN doc_id % 10 = 0 THEN text || ' contact ' || 'user' || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN doc_id % 10 = 1 THEN text || ' call 555-0199 now'
           ELSE text
         END AS txt
  FROM documents
),
per_doc AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(txt, '{_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(txt, '{_PHONE_RE}')) AS n_phone,
         length(txt) - length(
           regexp_replace(regexp_replace(txt, '{_EMAIL_RE}', '<email>', 'g'),
                          '{_PHONE_RE}', '<phone>', 'g')
         ) AS bytes_removed
  FROM injected
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS total_emails,
       CAST(SUM(n_phone) AS BIGINT) AS total_phones,
       CAST(SUM(bytes_removed) AS BIGINT) AS total_bytes_removed
FROM per_doc GROUP BY lang ORDER BY lang
"""


# --- t16: corpus token-rarity scoring --------------------------------------
def t16_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance/rarity scoring against the corpus unigram model (the
    integer-exact core of a CCNet-style LM filter): every token occurrence
    is weighted by its corpus-wide frequency; documents dominated by
    ultra-common tokens score high (boilerplate), rare-token documents
    score low.  All outputs are integers (total/min/max of corpus tf), so
    the oracle is bit-exact with no rounding anywhere.

    Scale: one corpus tf aggregation (map-side combined), then a keyed
    join token→tf back onto occurrences — vocab is far smaller than the
    corpus, and the join key is the high-cardinality token (skew from
    Zipf heads handled by AQE skew-join), then per-doc and per-lang aggs.
    No driver-side state: the unigram "model" stays distributed."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents")
    occ = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    tf = occ.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = (
        occ.join(tf, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("tf").alias("total_tf"),
            F.min("tf").alias("rarest_tf"),
            F.max("tf").alias("commonest_tf"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("total_tf").alias("sum_total_tf"),
            F.min("rarest_tf").alias("min_rarest_tf"),
            F.max("commonest_tf").alias("max_commonest_tf"),
            F.sum("n_toks").alias("sum_n_toks"),
        )
        .orderBy("lang")
    )


T16_SQL = """
WITH occ AS (
  SELECT doc_id, lang, token
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
),
tf AS (SELECT token, COUNT(*) AS tf FROM occ GROUP BY token),
per_doc AS (
  SELECT o.doc_id, o.lang, COUNT(*) AS n_toks, SUM(t.tf) AS total_tf,
         MIN(t.tf) AS rarest_tf, MAX(t.tf) AS commonest_tf
  FROM occ o JOIN tf t USING (token)
  GROUP BY o.doc_id, o.lang
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(total_tf) AS BIGINT) AS sum_total_tf,
       MIN(rarest_tf) AS min_rarest_tf,
       MAX(commonest_tf) AS max_commonest_tf,
       CAST(SUM(n_toks) AS BIGINT) AS sum_n_toks
FROM per_doc GROUP BY lang ORDER BY lang
"""


# --- t18/t23/t24: Japanese tokenizer throughput, one row per mode ---------
def mode_throughput(mode: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-scale throughput gate for one tokenizer mode (t18
    NORMAL, t23 SEARCH, t24 EXTENDED): every document in the sf corpus is
    mapped to one of 8 pinned Japanese texts (``doc_id % 8``) and run
    through the FULL lattice — Japanese text disables the ASCII fast path,
    so this times the Viterbi engine against the generated MeCab snapshot
    (20k+ entries) at corpus volume.  The bench row divides n_docs by wall
    time for docs/sec; dictionary growth that regresses the hot kernel
    fails a BASELINE gate instead of slipping through (t01's corpus is
    pure-ASCII and never touches the lattice).  SEARCH re-scans
    ``prefix_surfaces`` per chosen node for compound-as-synonym emission;
    EXTENDED lowers decompound thresholds and 1-grams unknown runs, the
    highest-token-count path through the lattice.

    Correctness: the oracle joins per-pid corpus counts (DuckDB-computable)
    with the mode's pinned token sequences from tokenizer/goldens.py —
    token values, per-doc counts, and corpus totals are all hash-checked at
    any sf.

    Scale: one narrow ArrowEvalPython projection + a tiny 8-group
    aggregate with map-side partials; no corpus-sized shuffle."""
    prepare(spark)
    from hive_udf_neologd_spark.tokenizer.goldens import T18_POOL

    docs = read_table(spark, sf_dir, "documents")
    # Single-file sf fixture → one input split → spread the CPU-bound
    # tokenizer; a production scan with enough splits passes through with
    # no shuffle (see ensure_parallelism).
    docs = ensure_parallelism(spark, docs)
    tok = tokenize_ja(mode=mode)
    pool = F.array(*[F.lit(s) for s in T18_POOL])
    toks = docs.select(
        (F.col("doc_id") % len(T18_POOL)).alias("pid"),
        tok(F.element_at(pool, (F.col("doc_id") % len(T18_POOL)).cast("int") + 1)).alias(
            "toks"
        ),
    )
    return (
        toks.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.first(F.concat_ws("|", "toks")).alias("tokens_str"),
            F.first(F.size("toks")).alias("n_tokens_per_doc"),
            F.sum(F.size("toks")).alias("total_tokens"),
        )
        .orderBy("pid")
    )


def _mode_throughput_sql(mode: str) -> str:
    from hive_udf_neologd_spark.tokenizer.goldens import MODE_TOKENS, T18_POOL, values_rows

    return f"""
WITH pool(pid, tokens_str, n_tokens_per_doc) AS (VALUES
{values_rows(MODE_TOKENS[mode])}
),
d AS (SELECT doc_id % {len(T18_POOL)} AS pid FROM documents)
SELECT p.pid, COUNT(*) AS n_docs, ANY_VALUE(p.tokens_str) AS tokens_str,
       ANY_VALUE(p.n_tokens_per_doc) AS n_tokens_per_doc,
       CAST(COUNT(*) * ANY_VALUE(p.n_tokens_per_doc) AS BIGINT) AS total_tokens
FROM d JOIN pool p USING (pid)
GROUP BY p.pid ORDER BY p.pid
"""


T18_SQL = _mode_throughput_sql("normal")
T23_SQL = _mode_throughput_sql("search")
T24_SQL = _mode_throughput_sql("extended")


# --- t19: the composed training-data pipeline, end-to-end ------------------
_T19_MIN_TOKS = 10


def t19_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: the four LLM training-data stages this
    engine exists for, as ONE declarative DataFrame pipeline —

      1. exact dedup (d01 semantics: keep the min doc_id per md5(text));
      2. quality gate (t14's integer-exact repetition rule — top token
         must carry <20% of the doc's mass — plus a ≥{_T19_MIN_TOKS}-token
         floor);
      3. deterministic train/val/test split (t10's md5-mod rule);
      4. greedy sequence packing (t13's windowed prefix sum, per
         (lang, 128-doc shard)).

    Output: per (split, lang) — surviving docs, token mass, and packed
    bin count.  Every stage is integer/hash-exact, so the whole composed
    pipeline is value-hash-gated against DuckDB.

    Scale: the stages compose without materialization — Catalyst plans
    dedup (one keyed shuffle), the token-count aggregate (keyed, map-side
    partials), the split projection (free), and the packing window
    (sharded key) into one job; nothing collects, nothing loops."""
    prepare(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # 1: exact dedup — survivor = min doc_id per content hash.
    wd = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        docs.withColumn("__rn", F.row_number().over(wd))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # 2: quality gate — repetition + minimum length (integer-exact).
    per_token = (
        uniq.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = per_token.groupBy("doc_id").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_toks")
    )
    kept = (
        uniq.join(stats, "doc_id")
        .filter((F.col("top_cnt") * 5 < F.col("n_toks")) & (F.col("n_toks") >= _T19_MIN_TOKS))
    )
    # 3: deterministic split (t10's rule).
    h = F.expr(
        "pmod(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT), 100)"
    )
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    assigned = kept.select(
        split.alias("split"), "lang", "doc_id",
        F.expr(f"doc_id DIV {_PACK_SHARD}").alias("shard"), "n_toks",
    )
    # 4: greedy packing within (split, lang, shard).
    wp = Window.partitionBy("split", "lang", "shard").orderBy("doc_id")
    packed = assigned.withColumn("cum", F.sum("n_toks").over(wp)).withColumn(
        "bin", F.floor((F.col("cum") - F.col("n_toks")) / _PACK_BIN)
    )
    return (
        packed.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.countDistinct("shard", "bin").alias("n_bins"),
        )
        .orderBy("split", "lang")
    )


T19_SQL = f"""
WITH uniq AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
),
tok AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM uniq
  ) WHERE token <> '' GROUP BY doc_id, token
),
stats AS (
  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_toks
  FROM tok GROUP BY doc_id
),
kept AS (
  SELECT u.doc_id, u.lang, s.n_toks
  FROM uniq u JOIN stats s USING (doc_id)
  WHERE s.top_cnt * 5 < s.n_toks AND s.n_toks >= {_T19_MIN_TOKS}
),
assigned AS (
  SELECT CASE
           WHEN CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 100 < 80 THEN 'train'
           WHEN CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 100 < 90 THEN 'val'
           ELSE 'test'
         END AS split,
         lang, doc_id, CAST(FLOOR(doc_id / {_PACK_SHARD}) AS BIGINT) AS shard,
         n_toks
  FROM kept
),
packed AS (
  SELECT split, lang, shard, doc_id, n_toks,
         SUM(n_toks) OVER (PARTITION BY split, lang, shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM assigned
)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT (shard, CAST(FLOOR((cum - n_toks) / {_PACK_BIN}) AS BIGINT))) AS n_bins
FROM packed GROUP BY split, lang ORDER BY split, lang
"""


# --- t20: deterministic stratified sampling --------------------------------
_SAMPLE_TARGET = 40  # target docs per (lang, length-bucket) stratum


def t20_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-balanced corpus sampling: draw ~TARGET documents per
    (lang, length-bucket) stratum with a deterministic hash draw — the
    standard way to build a balanced eval/calibration subset from a skewed
    corpus without an order-dependent RNG.  Per-stratum acceptance
    threshold thr = min(10000, TARGET*10000 DIV stratum_size); a doc is
    drawn iff (first 16 bits of md5(doc_id)) mod 10000 < thr.  All
    arithmetic is integer and the hash is md5, so the draw is bit-identical
    across engines and stable under re-runs and repartitioning.

    Scale: the stratum-size table is tiny (|langs| × 4 rows) → broadcast
    back onto the corpus; the draw itself is map-side.  The two corpus
    aggregates (stratum sizes, final summary) are both low-cardinality
    keys with map-side partial agg — nothing corpus-sized ever shuffles.
    """
    prepare(spark)
    strat = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.expr("least(3, size(split(text, ' ')) DIV 20)").alias("bucket"),
        )
    )
    thr = (
        strat.groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .withColumn(
            "thr",
            F.expr(f"least(10000, {_SAMPLE_TARGET} * 10000 DIV n_total)"),
        )
    )
    picked = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"
        " % 10000"
    ) < F.col("thr")
    return (
        strat.join(F.broadcast(thr), ["lang", "bucket"])
        .groupBy("lang", "bucket")
        .agg(
            F.max("n_total").alias("n_total"),
            F.max("thr").alias("thr"),
            F.sum(picked.cast("long")).alias("n_sampled"),
        )
        .orderBy("lang", "bucket")
    )


T20_SQL = f"""
WITH strat AS (
  SELECT doc_id, lang,
         LEAST(3, len(string_split(text, ' ')) // 20) AS bucket
  FROM documents
),
thr AS (
  SELECT lang, bucket, COUNT(*) AS n_total,
         LEAST(10000, {_SAMPLE_TARGET} * 10000 // COUNT(*)) AS thr
  FROM strat GROUP BY lang, bucket
),
sel AS (
  SELECT s.lang, s.bucket, t.n_total, t.thr,
         (CAST(CAST(concat('0x', substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 4))
               AS UBIGINT) AS BIGINT) % 10000 < t.thr) AS picked
  FROM strat s JOIN thr t USING (lang, bucket)
)
SELECT lang, bucket, MAX(n_total) AS n_total, MAX(thr) AS thr,
       CAST(SUM(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM sel GROUP BY lang, bucket ORDER BY lang, bucket
"""


def t21_connection_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated goldens for the coarse connection-cost matrix
    (tokenizer/connection.py — the matrix.def analog, VERDICT r5
    next-round #2): the flipped negative result きた/きます → くる, the
    できた/できます guard (でき+た must keep winning), and the 連用形-only
    reward scope (済ませて must not re-analyze).  Same shape as t08: a
    constant 6-row frame through one narrow UDF projection, no shuffle at
    any scale; oracle replays the pinned sequences from
    tokenizer/goldens.py as a VALUES table (full hash check)."""
    prepare(spark)
    from hive_udf_neologd_spark.tokenizer.goldens import T21_SENTENCES

    df = local_frame(
        spark, list(T21_SENTENCES), "sentence_id long, text string"
    )
    tok = tokenize_ja()
    return (
        df.select(
            "sentence_id",
            F.concat_ws("|", tok("text")).alias("tokens_str"),
            F.size(tok("text")).alias("n_tokens"),
        )
        .orderBy("sentence_id")
    )


T21_SQL = __import__(
    "hive_udf_neologd_spark.tokenizer.goldens", fromlist=["t21_values_sql"]
).t21_values_sql()


def parity_scorer(axis: str):
    """``parity_query``'s ``arrow_map`` kernel: a corpus row index → the
    axis metric's count columns (``struct<long...>``), resolved and
    scored on the worker by ``parity_harness.score``."""
    from pyspark.sql.types import LongType, StructField, StructType

    cols = list(METRICS[AXES[axis].metric].columns)

    def _scorer():
        from hive_udf_neologd_spark.tokenizer.parity_harness import AXES, score

        ax = AXES[axis]
        return lambda i: dict(zip(cols, score(ax, ax.corpus[i])))

    return arrow_map(StructType([StructField(c, LongType()) for c in cols]), _scorer)


def parity_query(axis: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTERNAL parity metric for one axis of tokenizer/parity_harness.py
    (t22 spans, t25 modes, t27 lemmas, t28 readings, t29 user dict, t30
    POS): per-register counts plus a ``__total__`` row and the axis
    metric, over a held-out corpus whose expectations were hand-derived
    and committed before measurement.

    Shape: a constant (row, register) frame through one narrow
    ``arrow_map`` kernel that resolves the axis on the worker and
    scores each sentence with ``parity_harness.score`` — the same scorer
    the in-process recapture uses — then one rollup aggregate.
    Constant at any cluster scale (the 100 TB shape of this harness is
    broadcast-corpus vs sampled engine output; same plan).  The oracle
    replays the recorded aggregates as a VALUES table with the same IEEE
    metric expression (``parity_harness.values_sql``) — full hash check."""
    prepare(spark)
    a = AXES[axis]
    metric = METRICS[a.metric]
    cols = list(metric.columns)
    df = local_frame(
        spark,
        [(i, row[1]) for i, row in enumerate(a.corpus)],
        "row long, register string",
    )
    per = df.select("register", parity_scorer(axis)("row").alias("s"))
    # rollup: per-register rows AND the grand total from ONE aggregation
    # over ONE ArrowEvalPython pass (a by_reg/total unionByName would embed
    # the scoring subtree twice and re-tokenize the corpus; NULL register =
    # the rollup grand total = __total__; plan-asserted in
    # tests/test_r13_optimizations.py).
    return (
        per.rollup("register")
        .agg(
            F.count(F.lit(1)).alias("n_sent"),
            *[F.sum(f"s.{c}").alias(c) for c in cols],
        )
        .withColumn("register", F.coalesce("register", F.lit("__total__")))
        .withColumn(a.metric, F.expr(metric.sql))
        .orderBy("register")
    )


def t26_ja_rich_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-analysis throughput gate (round 9): t18's twin through
    ``tokenize_ja_rich`` — the per-token struct path (term/surface/POS/
    base_form/reading) was golden-gated on 3 sentences (t17) but never
    throughput-gated at corpus scale, though it is the path a training
    pipeline uses for POS filtering and lemma statistics.  Struct
    construction + Arrow struct marshalling is the cost t18 cannot see.

    Shape: one narrow ArrowEvalPython projection producing
    array<struct>, then JVM-side higher-order functions (size/filter —
    whole-stage codegen, no second Python hop) reduce each array to
    counts, and an 8-group map-side aggregate mirrors t18.  Oracle: the
    pinned per-pid stats (goldens.T26_STATS, recapture protocol) joined
    with DuckDB-computed corpus counts — the t23/t24 pattern."""
    prepare(spark)
    from hive_udf_neologd_spark.functions.tokenize import tokenize_ja_rich
    from hive_udf_neologd_spark.tokenizer.goldens import T18_POOL

    docs = read_table(spark, sf_dir, "documents")
    docs = ensure_parallelism(spark, docs)
    rich = tokenize_ja_rich()
    pool = F.array(*[F.lit(s) for s in T18_POOL])
    # toks stays a raw column through to the aggregate (t18's shape): the
    # HOF reductions live INSIDE the agg expressions, keeping the plan a
    # single ArrowEvalPython below the partial aggregate
    # (plan-asserted: Scan → repartition → ArrowEvalPython → Project →
    # partial/final HashAggregate → Sort, identical to t18).
    toks = docs.select(
        (F.col("doc_id") % len(T18_POOL)).alias("pid"),
        rich(
            F.element_at(pool, (F.col("doc_id") % len(T18_POOL)).cast("int") + 1)
        ).alias("toks"),
    )
    n_nouns = F.size(F.expr("filter(toks, t -> startswith(t.pos, '名詞'))"))
    n_base = F.size(F.expr("filter(toks, t -> t.base_form IS NOT NULL)"))
    n_reading = F.size(F.expr("filter(toks, t -> t.reading IS NOT NULL)"))
    return (
        toks.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.first(F.size("toks")).alias("n_tokens_per_doc"),
            F.first(n_nouns).alias("n_nouns_per_doc"),
            F.first(n_base).alias("n_base_per_doc"),
            F.first(n_reading).alias("n_reading_per_doc"),
            F.sum(F.size("toks")).alias("total_tokens"),
            F.sum(n_nouns).alias("total_nouns"),
        )
        .orderBy("pid")
    )


def _t26_sql() -> str:
    from hive_udf_neologd_spark.tokenizer.goldens import T18_POOL, t26_values_rows

    return f"""
WITH pool(pid, n_tokens_per_doc, n_nouns_per_doc, n_base_per_doc, n_reading_per_doc) AS (VALUES
{t26_values_rows()}
),
d AS (SELECT doc_id % {len(T18_POOL)} AS pid FROM documents)
SELECT p.pid, COUNT(*) AS n_docs,
       ANY_VALUE(p.n_tokens_per_doc) AS n_tokens_per_doc,
       ANY_VALUE(p.n_nouns_per_doc) AS n_nouns_per_doc,
       ANY_VALUE(p.n_base_per_doc) AS n_base_per_doc,
       ANY_VALUE(p.n_reading_per_doc) AS n_reading_per_doc,
       CAST(COUNT(*) * ANY_VALUE(p.n_tokens_per_doc) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) * ANY_VALUE(p.n_nouns_per_doc) AS BIGINT) AS total_nouns
FROM d JOIN pool p USING (pid)
GROUP BY p.pid ORDER BY p.pid
"""


T26_SQL = _t26_sql()


# --- sql03: SQL-registered tokenizer throughput ----------------------------
def sql03_sql_udf_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput gate for the SQL-surface tokenizer (VERDICT r7 next-round
    #4).  ``tokenize_ja_neologd`` as registered for SQL is a row-dispatch
    Arrow UDF (the sentinel-default overload that restores the reference's
    0-arg/1-arg arity split — functions/tokenize.py:register_udfs), NOT the
    iterator-form Arrow UDF kernel that t18 measures.  A Hive-migrating user
    reaches for this name first (reference README.md:22-29), so its cost is
    pinned here with the exact t18 workload: every doc row mapped to one of
    the 8 pinned Japanese texts and pushed through the full lattice, but
    via ``spark.sql`` and the registered name.  Comparing this row to t18's
    in BENCH_r*.json gives the measured row-dispatch overhead.

    Correctness: NORMAL-mode output is identical to t18, so the oracle is
    T18_SQL (the pinned per-pid golden join).

    Scale: same shape as t18 — broadcast 8-row pool join, one
    ArrowEvalPython projection, 8-group partial-agg; no corpus shuffle."""
    prepare(spark)
    from hive_udf_neologd_spark.functions.tokenize import register_udfs
    from hive_udf_neologd_spark.tokenizer.goldens import T18_POOL

    register_udfs(spark)
    docs = read_table(spark, sf_dir, "documents")
    docs = ensure_parallelism(spark, docs)
    docs.createOrReplaceTempView("sql03_docs")
    # SQL-escape unconditionally (an assert would vanish under python -O):
    # a future pool edit containing a quote must not break the query.
    pool_rows = ",\n".join(
        "  ({}, '{}')".format(i, s.replace("'", "''")) for i, s in enumerate(T18_POOL)
    )
    return spark.sql(f"""
WITH pool(pid, line) AS (VALUES
{pool_rows}
),
d AS (SELECT doc_id % {len(T18_POOL)} AS pid FROM sql03_docs),
toks AS (
  SELECT d.pid, tokenize_ja_neologd(p.line) AS toks
  FROM d JOIN pool p ON d.pid = p.pid
)
SELECT pid, COUNT(*) AS n_docs,
       any_value(concat_ws('|', toks)) AS tokens_str,
       any_value(size(toks)) AS n_tokens_per_doc,
       CAST(SUM(size(toks)) AS BIGINT) AS total_tokens
FROM toks GROUP BY pid ORDER BY pid
""")


SQL03_SQL = T18_SQL


TEXT_QUERIES = {
    "t01_token_topk": t01_token_topk,
    "t02_token_stats": t02_token_stats,
    "t03_langid": t03_langid,
    "t04_quality_score": t04_quality_score,
    "t05_fingerprint_winnow": t05_fingerprint_winnow,
    "t06_tfidf": t06_tfidf,
    "t07_bigram_topk": t07_bigram_topk,
    "t08_tokenize_modes": t08_tokenize_modes,
    "t09_quality_ratios": t09_quality_ratios,
    "t10_hash_split": t10_hash_split,
    "t11_zipf_spectrum": t11_zipf_spectrum,
    "t12_langid_confusion": t12_langid_confusion,
    "t13_sequence_packing": t13_sequence_packing,
    "t14_repetition_quality": t14_repetition_quality,
    "t15_pii_scrub": t15_pii_scrub,
    "t16_token_rarity": t16_token_rarity,
    "t17_tokenize_rich": t17_tokenize_rich,
    "sql01_lateral_view_tokenize": sql01_lateral_view_tokenize,
    "sql02_cte_window_sql": sql02_cte_window_sql,
    # Append-only (DRIVER_GATED_50 contract): new entries go at the END.
    "t18_ja_tokenize_throughput": partial(mode_throughput, "normal"),
    "t19_training_pipeline": t19_training_pipeline,
    "t20_stratified_sample": t20_stratified_sample,
    "t21_connection_matrix": t21_connection_matrix,
    "t22_segmentation_parity": partial(parity_query, "t22"),
    "t23_ja_search_throughput": partial(mode_throughput, "search"),
    "t24_ja_extended_throughput": partial(mode_throughput, "extended"),
    "sql03_sql_udf_throughput": sql03_sql_udf_throughput,
    "t25_mode_parity": partial(parity_query, "t25"),
    "t26_ja_rich_throughput": t26_ja_rich_throughput,
    "t27_lemma_parity": partial(parity_query, "t27"),
    "t28_reading_parity": partial(parity_query, "t28"),
    "t29_userdict_parity": partial(parity_query, "t29"),
    "t30_pos_parity": partial(parity_query, "t30"),
}

# t08's oracle is a constant-literal VALUES table (see T08_SQL): DuckDB
# cannot tokenize Japanese, but t08's outputs are fixed constants under the
# pinned lexicon, so replaying them gives the driver a full hash check;
# tests/test_tokenizer.py carries the same exact-token goldens.
TEXT_ORACLES = {
    "t01_token_topk": T01_SQL,
    "t02_token_stats": T02_SQL,
    "t03_langid": T03_SQL,
    "t04_quality_score": T04_SQL,
    "t05_fingerprint_winnow": T05_SQL,
    "t06_tfidf": T06_SQL,
    "t07_bigram_topk": T07_SQL,
    "t08_tokenize_modes": T08_SQL,
    "t09_quality_ratios": T09_SQL,
    "t10_hash_split": T10_SQL,
    "t11_zipf_spectrum": T11_SQL,
    "t12_langid_confusion": T12_SQL,
    "t13_sequence_packing": T13_SQL,
    "t14_repetition_quality": T14_SQL,
    "t15_pii_scrub": T15_SQL,
    "t16_token_rarity": T16_SQL,
    "t17_tokenize_rich": T17_SQL,
    "sql01_lateral_view_tokenize": SQL01_SQL,
    "sql02_cte_window_sql": SQL02_SQL,
    "t18_ja_tokenize_throughput": T18_SQL,
    "t19_training_pipeline": T19_SQL,
    "t20_stratified_sample": T20_SQL,
    "t21_connection_matrix": T21_SQL,
    "t22_segmentation_parity": values_sql("t22"),
    "t23_ja_search_throughput": T23_SQL,
    "t24_ja_extended_throughput": T24_SQL,
    "sql03_sql_udf_throughput": SQL03_SQL,
    "t25_mode_parity": values_sql("t25"),
    "t26_ja_rich_throughput": T26_SQL,
    "t27_lemma_parity": values_sql("t27"),
    "t28_reading_parity": values_sql("t28"),
    "t29_userdict_parity": values_sql("t29"),
    "t30_pos_parity": values_sql("t30"),
}
