"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7): tokenize → explode → groupBy(token)
    → count → top-20 on sf0.001 documents — exercises source scan, the
    tokenizer Arrow UDF, explode, aggregation, sort and limit."""
    from pyspark.sql import functions as F

    from hive_udf_neologd_spark import tokenize_ja
    from hive_udf_neologd_spark.session import prepare
    from hive_udf_neologd_spark.sources import read_table

    prepare(spark)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    tok = tokenize_ja()
    return (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tok("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (catalog.py)."""
    from hive_udf_neologd_spark.catalog import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    from hive_udf_neologd_spark.catalog import ORACLES

    return dict(ORACLES)
