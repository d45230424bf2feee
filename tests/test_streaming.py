"""Structured Streaming tests: file-source micro-batches, watermarked
windows, sessionization, and the applyInPandasWithState operator — each
verified against its batch twin on the same bounded input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_udf_neologd_spark.streaming import (
    read_document_stream,
    read_event_stream,
    streaming_event_counts,
    streaming_sessionize,
    streaming_term_counts,
    streaming_user_running_totals,
)
from hive_udf_neologd_spark.streaming import e2e


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Bounded event parquet drops (two files → at least two input splits)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", 1, "click", 1.0, "{}"),
            (2, "2024-01-01 00:20:00", 1, "click", 2.0, "{}"),
            (3, "2024-01-01 01:10:00", 1, "view", 3.0, "{}"),
            (4, "2024-01-01 00:15:00", 2, "click", 4.0, "{}"),
            (5, "2024-01-01 02:00:00", 2, "view", 5.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(2).write.mode("overwrite").parquet(path)
    return path


def _run_to_memory(stream_df, name: str, mode: str = "complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_event_counts_matches_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    _run_to_memory(streaming_event_counts(stream), "ev_counts")
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("select * from ev_counts").collect()
    }
    batch = spark.read.parquet(event_dir)
    expect = {
        (r["w"]["start"].isoformat(), r["event_type"]): (r["n"], r["total_value"])
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    assert got == expect and len(got) == 3


def test_streaming_sessionize(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    _run_to_memory(streaming_sessionize(stream), "sessions")
    rows = {
        (r["user_id"], r["session_start"].isoformat()): r["n_events"]
        for r in spark.sql("select * from sessions").collect()
    }
    # user 1: events at 00:05/00:20 merge (gap 15m < 30m), 01:10 is new.
    # user 2: 00:15 and 02:00 are separate sessions.
    assert rows == {
        (1, "2024-01-01T00:05:00"): 2,
        (1, "2024-01-01T01:10:00"): 1,
        (2, "2024-01-01T00:15:00"): 1,
        (2, "2024-01-01T02:00:00"): 1,
    }


def test_streaming_term_counts(spark, tmp_path):
    path = str(tmp_path / "docs_stream")
    docs = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "spark engine spark"),
            (2, "2024-01-01 00:40:00", "engine test"),
            (3, "2024-01-01 01:10:00", "spark"),
        ],
        "doc_id long, ts string, text string",
    ).withColumn("ts", F.to_timestamp("ts"))
    docs.write.mode("overwrite").parquet(path)
    stream = read_document_stream(spark, path)
    _run_to_memory(streaming_term_counts(stream, window="1 hour"), "term_counts")
    rows = {
        (r["window_start"].isoformat(), r["token"]): r["n"]
        for r in spark.sql("select * from term_counts").collect()
    }
    assert rows[("2024-01-01T00:00:00", "spark")] == 2
    assert rows[("2024-01-01T00:00:00", "engine")] == 2
    assert rows[("2024-01-01T01:00:00", "spark")] == 1


def test_stateful_running_totals(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    _run_to_memory(streaming_user_running_totals(stream), "running", mode="update")
    # availableNow processes all files; final state per user is the total.
    rows = {r["user_id"]: (r["n_events"], r["total_value"]) for r in
            spark.sql("select * from running").collect()}
    assert rows[1] == (3, 6.0)
    assert rows[2] == (2, 9.0)


def test_stream_timeout_stops_query_and_raises(spark, sf_dir, monkeypatch):
    # A stream that outlives its wait is stopped, and the builder raises
    # instead of reading a partial memory sink.
    monkeypatch.setattr(e2e, "STREAM_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="s03_sink"):
        e2e.s03_streaming_event_counts_e2e(spark, sf_dir)
    assert spark.streams.active == []


def test_stream_partition_derivation(tmp_path):
    """Scale-adaptive streaming state partitioning: ceil(bytes/advisory)
    clamped to [1, max] — 1 for a tiny staged snapshot, proportional for
    large ones, and never 0 or unbounded."""
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "part-0.parquet").write_bytes(b"x" * 1024)
    assert e2e._derive_stream_partitions(str(stage)) == 1
    # Non-parquet files are ignored.
    (stage / "_SUCCESS").write_bytes(b"y" * 10**6)
    assert e2e._derive_stream_partitions(str(stage)) == 1
    # ~3.2 advisory chunks → 4 partitions (monkeypatch-free: scale the
    # fixture, not the constant, via a tiny advisory override file count).
    n_bytes = int(3.2 * e2e._STREAM_ADVISORY_BYTES)
    big = stage / "part-1.parquet"
    with open(big, "wb") as f:
        f.truncate(n_bytes)  # sparse — no real 200 MB write
    assert e2e._derive_stream_partitions(str(stage)) == 4
    # Missing dir → floor of 1, not an exception.
    assert e2e._derive_stream_partitions(str(tmp_path / "nope")) == 1


def test_stream_shuffle_scope_restores_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with e2e._stream_shuffle_scope(spark, "/nonexistent"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
