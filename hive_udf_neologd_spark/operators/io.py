"""Source/sink format breadth as driver-visible catalog entries.

The reference delegates all storage handling to Hive (SURVEY.md §2.3 row 1:
scans/sources "delegated (Hive tables)") — Hive tables can be text/CSV/JSON
SerDes as well as columnar formats.  These entries prove the Spark engine's
equivalents end-to-end: write a table out through a non-parquet format,
read it back through the format's parser, and aggregate — the oracle runs
on the original parquet, so any fidelity loss in the round-trip (schema,
quoting, timestamp encoding) breaks the value hash.

Scale notes: CSV/JSON are line-splittable, so a 100 TB staged directory
still parallelizes per-file/per-split; their schemas are declared (CSV/JSON
inference is a full extra scan at scale).  The testdata tables are read
with the schemas ``sources.SCHEMAS`` declares.  The parquet round-trips
(io03, io04) read their staged output's footers, and io05 merges footers
on purpose (``mergeSchema``).  Parquet remains the canonical interchange;
these paths exist for ingest interop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hive_udf_neologd_spark.session import prepare
from hive_udf_neologd_spark.sources import read_csv, read_json, read_table, run_dir, stage_once

# Scratch paths come from sources: a write that is the operator under test
# takes a fresh run_dir per run; inputs it only reads are staged once.


ORDERS_CSV_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType(), True),
        StructField("o_custkey", LongType(), True),
        StructField("o_totalprice", DoubleType(), True),
        StructField("o_orderdate", StringType(), True),
        StructField("o_orderpriority", StringType(), True),
    ]
)


def io01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, explicit date formatting) → read back with a
    DECLARED schema → monthly revenue.  Doubles survive CSV via Spark's
    shortest-round-trip float formatting; the oracle aggregates the
    original parquet, so the compare proves lossless round-trip."""
    prepare(spark)
    stage = run_dir(sf_dir, "orders_csv")
    (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .coalesce(4)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(stage)
    )
    return (
        read_csv(spark, stage, schema=ORDERS_CSV_SCHEMA)
        .groupBy(F.substring("o_orderdate", 1, 7).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("month")
    )


IO01_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders GROUP BY month ORDER BY month
"""


EVENTS_JSON_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("epoch_us", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def io02_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines (timestamps as integer micros — JSON has no
    timestamp type, so encode explicitly rather than trusting string
    formatting) → read back with a declared schema → per-type stats over a
    reconstructed event-time column."""
    prepare(spark)
    stage = run_dir(sf_dir, "events_json")
    (
        read_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("epoch_us"),
            "user_id",
            "event_type",
            "value",
        )
        .coalesce(4)
        .write.mode("overwrite")
        .json(stage)
    )
    back = read_json(spark, stage, schema=EVENTS_JSON_SCHEMA)
    return (
        back.withColumn("ts", F.timestamp_micros(F.col("epoch_us")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        .orderBy("event_type")
    )


IO02_SQL = """
SELECT event_type, COUNT(*) AS n,
       MIN(epoch_us(ts)) AS first_us,
       MAX(epoch_us(ts)) AS last_us,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def io03_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned read — THE
    cardinal 100 TB storage pattern: events written partitioned by
    ``event_type``, then a single-type read touches only that partition's
    files (the plan's PartitionFilters prune the rest at planning time;
    directory listing, not data scan — asserted in tests/test_plans.py).
    Hourly revenue for purchases only."""
    prepare(spark)
    stage = stage_once(
        sf_dir,
        "events",
        "events_by_type",
        lambda p: (
            read_table(spark, sf_dir, "events")
            .repartition("event_type")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(p)
        ),
    )
    back = spark.read.parquet(stage)
    return (
        back.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        .select(F.unix_timestamp("h").alias("hour_epoch"), "n", "total_value")
        .orderBy("hour_epoch")
    )


IO03_SQL = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events WHERE event_type = 'purchase'
GROUP BY hour_epoch ORDER BY hour_epoch
"""


def io04_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem, end-to-end: events deliberately sprayed
    into 64 tiny files (the shape a streaming sink leaves behind), then
    compacted back toward ~128 MB files with ``compact_parquet`` and read
    for a daily aggregate.  At 100 TB uncompacted sinks poison listing
    and scan parallelism; this entry makes the hygiene op itself
    driver-checked (the aggregate proves the rewrite lost nothing)."""
    from hive_udf_neologd_spark.sources import compact_parquet

    prepare(spark)
    sprayed = stage_once(
        sf_dir,
        "events",
        "events_sprayed",
        lambda p: (
            read_table(spark, sf_dir, "events")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(p)
        ),
    )
    # The compaction itself is the operator under measurement — its
    # output write stays inside every timed run (per-run unique path).
    compacted = run_dir(sf_dir, "events_compacted")
    compact_parquet(spark, sprayed, compacted, target_mb=128)
    return (
        spark.read.parquet(compacted)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        .select(F.col("day").cast("string").alias("day"), "n", "total_value")
        .orderBy("day")
    )


IO04_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY day ORDER BY day
"""


def io05_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across a table's file history — the ops reality of
    any long-lived 100 TB table: old files lack columns later added.  An
    "old epoch" file is written without the ``value`` column, a "new
    epoch" file with it; ``mergeSchema=true`` reconciles at read (old rows
    surface NULL values), and the aggregate per epoch proves both the
    union and the null semantics.  DuckDB replays with
    ``union_by_name``-equivalent CASE logic on the original table.

    Scale: mergeSchema reads every file footer at planning — acceptable at
    epoch boundaries, so production tables pin the merged schema in a
    metastore after each evolution instead of re-merging per query; the
    read itself stays fully parallel."""
    prepare(spark)
    ev = read_table(spark, sf_dir, "events")

    def _write_epochs(root: str) -> None:
        os.makedirs(root, exist_ok=True)
        # Epoch split on event_id parity — deterministic, oracle-replayable.
        ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "event_type", "ts"
        ).write.mode("overwrite").parquet(os.path.join(root, "epoch=old"))
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "event_type", "ts", "value"
        ).write.mode("overwrite").parquet(os.path.join(root, "epoch=new"))

    root = stage_once(sf_dir, "events", "events_evolved", _write_epochs)
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        merged.groupBy("epoch", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
            F.round(
                F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)")).cast(
                    "double"
                ),
                4,
            ).alias("total_value"),
        )
        .orderBy("epoch", "event_type")
    )


IO05_SQL = """
WITH evolved AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'old' ELSE 'new' END AS epoch,
         event_type,
         CASE WHEN event_id % 2 = 0 THEN NULL ELSE value END AS value
  FROM events
)
SELECT epoch, event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
       ROUND(CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM evolved GROUP BY epoch, event_type ORDER BY epoch, event_type
"""


IO_QUERIES = {
    "io01_csv_roundtrip": io01_csv_roundtrip,
    "io02_json_roundtrip": io02_json_roundtrip,
    "io03_partition_pruned_read": io03_partition_pruned_read,
    "io04_small_file_compaction": io04_small_file_compaction,
    "io05_schema_evolution_read": io05_schema_evolution_read,
}

IO_ORACLES = {
    "io01_csv_roundtrip": IO01_SQL,
    "io02_json_roundtrip": IO02_SQL,
    "io03_partition_pruned_read": IO03_SQL,
    "io04_small_file_compaction": IO04_SQL,
    "io05_schema_evolution_read": IO05_SQL,
}
