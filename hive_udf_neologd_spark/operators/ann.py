"""Similarity search over the ``embeddings`` table (``array<float>``, 64-d).

* a01 — brute-force cosine top-k.  The query set is broadcast (tiny side)
  so the scan side never shuffles; the top-k is a window over query id.

All float math is double-widened before any arithmetic so both engines
fold left-to-right over identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_udf_neologd_spark.operators.dedup import dot_fold, norm_fold
from hive_udf_neologd_spark.session import prepare
from hive_udf_neologd_spark.sources import read_table

_QUERY_MOD = 100  # vec_id % 100 == 0 → query set
_TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norm hoisted into a column: each pairwise cosine then needs only the
    # dot product (higher-order functions are interpreted, so halving the
    # per-pair fold work matters).  It is the norm fold dedup's cosine
    # uses, so dot/(na·nb) is bit-identical to the oracle's
    # list_cosine_similarity.
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    ).withColumn("nrm", norm_fold("e"))


# --- a01: brute-force cosine top-k ----------------------------------------
def a01_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k.  A numpy pairwise-cosine kernel measured
    slower here (0.63 → 1.17 s at sf0.1): with the query side already
    broadcast, every candidate pair would ship two 64-d arrays across the
    Arrow boundary, which costs more than the JVM fold saves at this pair
    volume.  The interpreted-HOF dot product stays deliberately."""
    prepare(spark)
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    scored = emb.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("q_id"))
    cos = dot_fold("qe", "e") / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        scored.select("q_id", "vec_id", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"),
                F.round("cos_raw", 4).alias("cos"), "rank")
        .orderBy("q_id", "rank")
    )


A01_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe FROM emb WHERE vec_id % {_QUERY_MOD} = 0),
scored AS (
  SELECT q.q_id, emb.vec_id,
         list_cosine_similarity(q.qe, emb.e) AS cos_raw
  FROM emb, q WHERE emb.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, ROUND(cos_raw, 4) AS cos, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY q_id, rank
"""


ANN_QUERIES = {"a01_ann_bruteforce": a01_ann_bruteforce}

ANN_ORACLES = {"a01_ann_bruteforce": A01_SQL}
