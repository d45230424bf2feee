"""Table sources.

The reference delegates all scans to Hive tables whose schemas the
metastore declares (SURVEY.md §2.3); here the scan surface is
``spark.read`` over parquet with the schema declared in :data:`SCHEMAS`
(columnar, predicate-pushdown- and column-pruning-friendly — both verified
via ``.explain`` in tests).  A declared read plans without reading a
parquet footer, so building a DataFrame over these tables runs no Spark
job.  CSV/JSON readers are provided for parity with generic Hive external
tables.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

# One declared schema per testdata table, in DDL.  tests/test_sources.py
# checks each against the parquet footers of every testdata directory.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT,"
        " p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE,"
        " props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TABLES = tuple(SCHEMAS)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (parquet) with its declared schema.

    Columnar scan: Catalyst pushes filters/projections into the parquet
    reader, so callers should filter/select *before* any UDF (SURVEY.md §4).
    The files store timestamps without a timezone annotation (TIMESTAMP_NTZ
    when inferred); the declared ``TIMESTAMP`` reads their microseconds as
    UTC instants, independent of the session timezone.

    Side effect: calls :func:`hive_udf_neologd_spark.session.prepare` on
    every invocation, which pins ``spark.sql.session.timeZone`` to UTC
    (and sets the engine's shuffle-partition/AQE confs).  UTC renders those
    instants as the files' wall-clock values, which is what oracle parity
    with DuckDB's naive timestamps needs — but it means a read permanently
    overwrites a non-UTC timezone an external caller may have set on the
    shared session.  Callers needing a different zone must restore it
    after reading.
    """
    if name not in SCHEMAS:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    from hive_udf_neologd_spark.session import prepare

    prepare(spark)
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def scratch_root(name: str, min_free_bytes: int = 256 << 20) -> str:
    """Scratch directory root for harness fixtures: tmpfs when it exists
    AND has ``min_free_bytes`` free, else /tmp.

    Existence alone is not enough: containers commonly mount a SMALL tmpfs
    at /dev/shm (Docker defaults to 64 MB), where staging a multi-MB
    fixture fails with ENOSPC while /tmp would have worked.  Called once
    per process, at first use of the scratch helpers below, and always as
    this module's attribute with this signature: replacing it before first
    use redirects all scratch."""
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= min_free_bytes:
                return f"/dev/shm/{name}"
        except OSError:
            pass
    return f"/tmp/{name}"


# --- per-process scratch: staged fixtures and stream checkpoints -----------
# One directory, <scratch_root>/<pid>, holds every fixture the io and
# streaming entries stage and every checkpoint their streams keep.  Its root
# is chosen once, at first use, and never again: a resumed stream must find
# its checkpoint, and a fixture staged once must be read back from where it
# was written.  Headroom for that one choice: peak scratch over io01-io05 and
# s03-s11, three runs each (warm-up + best of 2), measured 8.55x (sf0.01)
# and 7.84x (sf0.1) the bytes of the sf_dir they read.
_SCRATCH_RATIO = 9
_scratch: tuple[int, str] | None = None  # (owner pid, directory)
_scratch_lock = threading.Lock()
_run_ids = itertools.count()
_staged: dict[str, tuple[int, int, int] | None] = {}


def _fingerprint(path: str) -> tuple[int, int, int] | None:
    """(file count, total bytes, newest mtime_ns) of a file or directory
    tree; None when it cannot be read."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (1, st.st_size, st.st_mtime_ns)
        n = total = newest = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                n += 1
                total += st.st_size
                newest = max(newest, st.st_mtime_ns)
        return (n, total, newest)
    except OSError:
        return None


def _scratch_dir(sf_dir: str) -> str:
    """This process's scratch directory, resolved on first call."""
    global _scratch
    with _scratch_lock:
        pid = os.getpid()
        if _scratch is None or _scratch[0] != pid:
            if _scratch is None:  # a forked child inherits the handler
                atexit.register(_cleanup_scratch)
            sf_bytes = (_fingerprint(sf_dir) or (0, 0, 0))[1]
            root = scratch_root("spark_graft", max(256 << 20, _SCRATCH_RATIO * sf_bytes))
            path = os.path.join(root, str(pid))
            # Only a killed process with this pid can have left it behind;
            # its checkpoints would make a new stream skip its input.
            shutil.rmtree(path, ignore_errors=True)
            _scratch = (pid, path)
        return _scratch[1]


def _cleanup_scratch() -> None:
    """Remove this process's scratch directory at exit (on tmpfs it is
    RAM).  A no-op in a forked child, which does not own it."""
    if _scratch is not None and _scratch[0] == os.getpid():
        shutil.rmtree(_scratch[1], ignore_errors=True)


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def run_dir(sf_dir: str, name: str) -> str:
    """A path no other call in this process returns:
    ``<scratch>/<sf name>/<name>_<n>``, with ``n`` from one counter shared
    by every caller, so a stream query named after it is unique in the
    session."""
    return f"{_scratch_dir(sf_dir)}/{_sf_name(sf_dir)}/{name}_{next(_run_ids)}"


def stage_once(sf_dir: str, source: str, name: str, write_fn) -> str:
    """Stage an input fixture once per process and return its path.

    For fixtures that are a pure function of ``<sf_dir>/<source>.parquet``
    and never written after staging: re-writing one per run would time
    fixture construction, not the operator that reads it, so a warm-up run
    pays the write and timed runs reuse it.  A change to the source's
    fingerprint (a regenerated sf_dir) restages.  ``write_fn(path)`` must
    leave a complete fixture at ``path`` even over an interrupted earlier
    write (``mode("overwrite")`` writers)."""
    stage = f"{_scratch_dir(sf_dir)}/{_sf_name(sf_dir)}/{name}"
    fp = _fingerprint(os.path.join(sf_dir, f"{source}.parquet"))
    if fp is None or _staged.get(stage) != fp:
        write_fn(stage)
        _staged[stage] = fp
    return stage


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Constant driver-side frame as a true LocalRelation (round 13).

    ``createDataFrame(list_of_tuples, schema)`` parallelizes the rows as a
    pickled Python RDD: the plan scans ``ExistingRDD
    (applySchemaToPythonRDD)`` across defaultParallelism partitions, and
    EVERY task pays a JVM→Python-worker round trip just to unpickle its
    slice — before any UDF in the query runs (measured: t21's 6-row frame
    spent ~1.2 s/run on a 32-way fan-out of this).  Routing the same rows
    through a pandas DataFrame (Arrow) yields a ``LocalTableScan`` — plan-
    embedded rows, zero scan tasks, zero Python boundary — with an
    identical schema and identical values (pinned by the oracle hashes of
    every caller).  Guide §4: eliminate the Python boundary.  Only for
    CONSTANT corpora/centroid frames (bounded size at any scale factor);
    real inputs keep going through read_table.  Sets the Arrow conf
    itself: without it Spark silently falls back to the pickled-RDD path.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    struct = StructType.fromDDL(schema)
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=struct.fieldNames())
    return spark.createDataFrame(pdf, schema=struct)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Sink: parquet, optionally hive-style partitioned (partition pruning)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_partition_overwrite(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Sink: dynamic partition overwrite — replaces ONLY the partitions
    present in ``df``, leaving others untouched (the idempotent
    re-ingest/backfill pattern; static mode would wipe the whole table)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession, in_path: str, out_path: str, target_mb: int = 128
) -> int:
    """Small-file compaction: rewrite a directory into ~``target_mb`` files.

    Long-running ingest (especially streaming sinks) accumulates small
    files that poison scan parallelism and NameNode/listing costs at
    100 TB; periodic compaction back to ~128 MB files is standard
    pipeline hygiene.  File count is computed from actual input bytes —
    no driver-side data collection.  Returns the output file count."""
    import glob as _glob

    total_bytes = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(in_path, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, int(total_bytes / (target_mb * 1024 * 1024)) + 1)
    spark.read.parquet(in_path).repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 32, sort: bool = True
) -> None:
    """Sink: bucketed managed table (parquet) — the co-located-join strategy.

    At 100 TB, repeatedly-joined fact tables should be written bucketed on
    the join key: every subsequent join between tables bucketed on the same
    key with the same bucket count runs WITHOUT a pre-join shuffle (the
    scan itself satisfies the join's required distribution — verified by
    tests/test_bucketing.py on the physical plan).  ``sortBy`` additionally
    removes the pre-merge-join sort."""
    writer = df.write.bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.mode("overwrite").saveAsTable(table)
