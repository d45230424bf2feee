"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM, but every conf here is chosen to
hold on a multi-executor cluster at 100 TB: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), adaptive broadcast thresholds,
Arrow for the Arrow-UDF tokenizer path, UTC session time so timestamp
results are engine-independent.

Python workers start from ``worker_daemon``, not ``pyspark.daemon``.  With
``SPARK_HOME`` set, Spark puts its source-only ``pyspark.zip`` first on the
workers' path, and every daemon start would compile pyspark from source;
``worker_daemon`` drops that zip (and py4j's) when the installed pyspark has
the same version, so workers import byte-compiled pyspark.  On a version
mismatch, or with no installed copy, the path stays as Spark set it.  This
package must therefore be importable on the executors, which every UDF here
already requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hive_udf_neologd_spark import worker_daemon


def get_spark(app_name: str = "hive-udf-neologd-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle parallelism sized to the local core count; on a real
        # cluster AQE coalesces post-shuffle partitions to target size, so a
        # high initial number is safe at 100 TB.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow-batched Python UDFs and Arrow createDataFrame (columnar
        # batches across the Python worker boundary — SURVEY.md §1.3).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics for the DuckDB oracle compare.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Managed-table warehouse (bucketed tables — sources.write_bucketed);
        # static conf, so it must be set at session build time.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # Workers import the installed, byte-compiled pyspark (module doc).
        .config("spark.python.daemon.module", worker_daemon.__name__)
    )
    return builder.getOrCreate()


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply the session confs this engine's queries rely on.

    Used by query builders that receive an externally-created session (the
    driver's harness) — timestamps must render in UTC for oracle parity.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Arrow createDataFrame/toPandas (guide §6); identical values either
    # way — this only picks the path (sources.local_frame also sets it).
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Externally-created sessions (the driver's harness) default to 200
    # shuffle partitions — size to the actual parallelism; AQE coalesces
    # further, so this only removes empty-partition overhead.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark
