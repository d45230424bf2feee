"""Streaming pipelines: tokenized term counts, windowed event aggregates,
sessionization, and custom stateful running totals.

Design (100 TB stream):
* event-time windows + watermarks bound state (late data beyond the
  watermark is dropped — no unbounded token/window state growth);
* the tokenizer Arrow UDF is narrow, so only the windowed groupBy
  shuffles, keyed by (window, token) — skew-safe because token space is
  wide;
* ``applyInPandasWithState`` implements the custom stateful operator the
  built-ins can't express (monotone per-user running totals emitted per
  micro-batch).

These return unbounded DataFrames — callers attach ``writeStream`` (tests
use ``trigger(availableNow=True)`` into a memory sink and compare against
the batch twin: s01/s02 in operators/relational.py compute the same
semantics on bounded input).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hive_udf_neologd_spark.functions.tokenize import tokenize_ja
from hive_udf_neologd_spark.sources import SCHEMAS

EVENT_SCHEMA = SCHEMAS["events"]

DOCUMENT_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("text", StringType(), True),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of event parquet drops (schema-pinned — streaming
    sources must declare schema up front)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(DOCUMENT_STREAM_SCHEMA).parquet(path)


def streaming_term_counts(
    docs: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """tokenize → explode → watermarked tumbling/sliding window counts —
    the streaming twin of the flagship batch pipeline (SURVEY.md §7)."""
    tok = tokenize_ja()
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        docs.withWatermark("ts", watermark)
        .select("ts", F.explode(tok("text")).alias("token"))
        .groupBy(win.alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "token", "n")
    )


def streaming_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling event counts (batch twin: s01)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def streaming_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (batch twin: s02)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value", DoubleType(), False),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), False),
        StructField("total", DoubleType(), False),
    ]
)


def streaming_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum(value)) across micro-batches — state the built-in
    windowed aggregates can't express (monotone totals, emitted every
    batch)."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
