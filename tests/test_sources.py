"""Source/sink surface (SURVEY.md §2.3 scans row): parquet with declared
schemas and pruning, CSV/JSON with declared schemas, and the
hive-partitioned parquet sink with partition pruning on read-back."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from hive_udf_neologd_spark.sources import (
    SCHEMAS,
    TABLES,
    local_frame,
    read_csv,
    read_json,
    read_table,
    scratch_root,
    write_parquet,
)

SF_DIR = "/root/testdata/sf0.001"


def test_all_tables_readable(spark):
    for t in TABLES:
        df = read_table(spark, SF_DIR, t)
        assert df.count() > 0, t


def _ntz_as_timestamp(schema: StructType) -> StructType:
    return StructType(
        [
            StructField(
                f.name,
                TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )


SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schemas_match_parquet_footers(spark, sf_dir):
    # A declared schema that drifts from the files would misread them, so
    # each must equal what Spark infers from the footers (the files store
    # naive timestamps, inferred as TIMESTAMP_NTZ and declared TIMESTAMP).
    for t in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
        assert StructType.fromDDL(SCHEMAS[t]) == _ntz_as_timestamp(inferred), (sf_dir, t)


def test_declared_reads_match_inferred_reads(spark):
    for t in TABLES:
        declared = read_table(spark, SF_DIR, t)
        inferred = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        inferred = inferred.select(
            [F.col(f.name).cast(g.dataType) for f, g in zip(inferred.schema, declared.schema)]
        )
        assert declared.exceptAll(inferred).count() == 0, t
        assert inferred.exceptAll(declared).count() == 0, t


def test_unknown_table_rejected(spark):
    with pytest.raises(ValueError, match="unknown table"):
        read_table(spark, SF_DIR, "nope")


def test_events_ts_is_timestamp(spark):
    # The declared TIMESTAMP reads the files' NTZ column directly; epoch
    # functions (unix_micros & friends) need TIMESTAMP, not TIMESTAMP_NTZ.
    df = read_table(spark, SF_DIR, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"


def test_read_table_enforces_utc(spark):
    # Timestamps render as the files' wall-clock values only under UTC;
    # read_table must not depend on the caller having run prepare().  A
    # session arriving with a non-UTC zone gets normalized, and the value
    # read under it is identical to the UTC-session read.
    utc_row = read_table(spark, SF_DIR, "events").select(F.min("ts")).first()[0]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted_row = read_table(spark, SF_DIR, "events").select(F.min("ts")).first()[0]
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert shifted_row == utc_row


def test_csv_roundtrip(spark, tmp_path):
    path = str(tmp_path / "csv")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    df.write.option("header", "true").mode("overwrite").csv(path)
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    back = read_csv(spark, path, schema=schema)
    assert {(r.id, r.name) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_json_roundtrip(spark, tmp_path):
    path = str(tmp_path / "json")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    df.write.mode("overwrite").json(path)
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    back = read_json(spark, path, schema=schema)
    assert {(r.id, r.name) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    path = str(tmp_path / "part")
    docs = read_table(spark, SF_DIR, "documents")
    write_parquet(docs, path, partition_by=["lang"])
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    one = langs[0]
    back = spark.read.parquet(path).filter(F.col("lang") == one)
    plan = spark._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    # Partition pruning: the scan reads ONE partition directory, and the
    # lang predicate is a partition filter, not a data filter.
    assert "PartitionFilters" in plan
    assert back.count() == docs.filter(F.col("lang") == one).count()


def test_dynamic_partition_overwrite(spark, tmp_path):
    from hive_udf_neologd_spark.sources import write_partition_overwrite

    path = str(tmp_path / "dpo")
    full = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr")], "id long, lang string"
    )
    full.write.partitionBy("lang").mode("overwrite").parquet(path)
    # Overwrite ONLY lang=en with new content; fr must survive.
    patch = spark.createDataFrame([(9, "en")], "id long, lang string")
    write_partition_overwrite(patch, path, ["lang"])
    back = {(r.id, r.lang) for r in spark.read.parquet(path).collect()}
    assert back == {(9, "en"), (3, "fr")}


def test_compact_parquet(spark, tmp_path):
    from hive_udf_neologd_spark.sources import compact_parquet

    src = str(tmp_path / "many")
    out = str(tmp_path / "compacted")
    docs = read_table(spark, SF_DIR, "documents")
    docs.repartition(16).write.mode("overwrite").parquet(src)  # 16 small files
    n = compact_parquet(spark, src, out, target_mb=128)
    assert n == 1  # tiny input → single output file
    import glob

    assert len(glob.glob(f"{out}/*.parquet")) == 1
    assert spark.read.parquet(out).count() == docs.count()


def test_local_frame_is_local_relation_and_value_identical(spark):
    """sources.local_frame: constant frames must plan as a LocalTableScan
    (plan-embedded rows, zero scan tasks) instead of the pickled-Python-RDD
    ExistingRDD scan, with schema and values identical to the
    createDataFrame(list, ddl) path."""
    rows = [
        (1, "reg", "normal", "テキスト", ["a", "b"]),
        (2, "reg2", "search", "x y", []),
    ]
    ddl = "sid long, register string, mode string, text string, exp array<string>"
    new = local_frame(spark, rows, ddl)
    old = spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    plan = new._sc._jvm.PythonSQLUtils.explainString(
        new._jdf.queryExecution(), "formatted"
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_local_frame_does_not_rely_on_prepare(spark):
    """local_frame sets the Arrow conf itself: with it switched off (a
    session that never ran prepare), the frame still plans as a
    LocalTableScan instead of silently falling back to a pickled RDD."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a"), (2, "b")], "k long, v string")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set(key, before)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


# --- per-process scratch (sources.run_dir / stage_once) ---------------------
@pytest.fixture
def fresh_scratch(monkeypatch):
    """The scratch state of a process that has not used scratch yet."""
    from hive_udf_neologd_spark import sources

    monkeypatch.setattr(sources, "_scratch", None)
    monkeypatch.setattr(sources, "_staged", {})
    return sources


def _run_io04_s04(spark, io04_runs: int = 1) -> None:
    from hive_udf_neologd_spark.operators.io import io04_small_file_compaction
    from hive_udf_neologd_spark.streaming.e2e import s04_streaming_term_counts_e2e

    for _ in range(io04_runs):
        io04_small_file_compaction(spark, SF_DIR).collect()
    s04_streaming_term_counts_e2e(spark, SF_DIR).collect()


def _scratch_entries(root) -> list[str]:
    base = root / "spark_graft" / str(os.getpid()) / os.path.basename(SF_DIR)
    return sorted(p.name.rstrip("0123456789") for p in base.iterdir())


def test_scratch_root_patch_redirects_io_and_streaming(
    spark, fresh_scratch, monkeypatch, tmp_path
):
    """Replacing sources.scratch_root before first use, with the
    ``(name, min_free_bytes=0)`` signature, moves all of io04's and s04's
    scratch (how a caller keeps scratch inside its own directory)."""
    monkeypatch.setattr(
        fresh_scratch, "scratch_root", lambda name, min_free_bytes=0: str(tmp_path / name)
    )
    _run_io04_s04(spark)
    assert _scratch_entries(tmp_path) == [
        "documents",
        "events_compacted_",
        "events_sprayed",
        "s04_sink_",  # the stream's checkpoint
    ]


def test_scratch_root_is_resolved_once_per_process(
    spark, fresh_scratch, monkeypatch, tmp_path
):
    """A root choice that would change between calls (free space moving
    across the tmpfs threshold) must not move scratch: two io04 runs and
    s04's stage and checkpoint all land under the first root."""
    calls = []

    def moving_root(name, min_free_bytes=0):
        calls.append(min_free_bytes)
        return str(tmp_path / f"root{len(calls)}" / name)

    monkeypatch.setattr(fresh_scratch, "scratch_root", moving_root)
    _run_io04_s04(spark, io04_runs=2)
    assert len(calls) == 1
    assert [p.name for p in tmp_path.iterdir()] == ["root1"]
    assert _scratch_entries(tmp_path / "root1") == [
        "documents",
        "events_compacted_",
        "events_compacted_",
        "events_sprayed",
        "s04_sink_",
    ]


def test_scratch_cleanup_only_in_owning_process(fresh_scratch, monkeypatch, tmp_path):
    """Exit cleanup removes the process directory, and is a no-op in a
    forked child, which inherits the handler but not the directory."""
    monkeypatch.setattr(
        fresh_scratch, "scratch_root", lambda name, min_free_bytes=0: str(tmp_path / name)
    )
    run = fresh_scratch.run_dir(SF_DIR, "x")
    os.makedirs(run)
    own = tmp_path / "spark_graft" / str(os.getpid())
    assert run.startswith(f"{own}/")
    child = os.fork()
    if child == 0:
        code = 1
        try:
            fresh_scratch._cleanup_scratch()
            code = 0
        finally:
            os._exit(code)
    _, status = os.waitpid(child, 0)
    assert os.waitstatus_to_exitcode(status) == 0
    assert os.path.isdir(run)
    fresh_scratch._cleanup_scratch()
    assert not own.exists()


def test_scratch_root_space_gate(tmp_path):
    """tmpfs is only chosen when it has headroom."""
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        assert scratch_root("x", free // 2) == "/dev/shm/x"
        assert scratch_root("x", free * 2 + (1 << 30)) == "/tmp/x"


def test_io_input_fixture_staged_once(spark, monkeypatch):
    """io03-io05 stage their PURE input fixtures once per process through
    sources.stage_once: a second builder invocation must reuse the staged
    layout byte-for-byte (no rewrite — parquet part files keep their
    mtimes) and return identical rows, and a fingerprint change must force
    a restage."""
    from hive_udf_neologd_spark import sources
    from hive_udf_neologd_spark.operators import io as io_ops

    def must_not_write(path):
        raise AssertionError(f"restaged {path}")

    monkeypatch.setattr(sources, "_staged", {})
    df1 = io_ops.io04_small_file_compaction(spark, SF_DIR)
    rows1 = sorted(map(tuple, df1.collect()))
    sprayed = sources.stage_once(SF_DIR, "events", "events_sprayed", must_not_write)
    parts = sorted(glob.glob(f"{sprayed}/*.parquet"))
    assert parts, "sprayed fixture missing after first build"
    mtimes = [os.path.getmtime(p) for p in parts]

    df2 = io_ops.io04_small_file_compaction(spark, SF_DIR)
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows1 == rows2
    parts2 = sorted(glob.glob(f"{sprayed}/*.parquet"))
    assert parts2 == parts
    assert [os.path.getmtime(p) for p in parts2] == mtimes  # no rewrite

    # A fingerprint mismatch (regenerated sf_dir) must restage.
    sources._staged[sprayed] = ("stale",)
    io_ops.io04_small_file_compaction(spark, SF_DIR)
    parts3 = sorted(glob.glob(f"{sprayed}/*.parquet"))
    assert [os.path.getmtime(p) for p in parts3] != mtimes  # rewritten
