"""Event-time windowed aggregations: tumbling / sliding / session.

Each builder works identically on a batch DataFrame and a streaming
DataFrame (the Structured Streaming contract); the registry queries in
streaming/queries.py run them in batch mode for the DuckDB oracle, and
tests/test_streaming.py drives the same builders through a real
streaming query (file source → memory sink) asserting equal results —
the batch/stream unification guarantee.

Scale: windowed aggs shuffle on (window, key); watermarks bound state
so a 100 TB/day stream holds only the open windows in the state store.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round

from end_to_end_aws_data_pipeline_spark.functions.aggs import dsum


def _window_aggs() -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("sum_value"),
    ]


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Non-overlapping 1-hour event-time buckets per event_type."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*_window_aggs())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Overlapping 1-hour buckets sliding by 30 minutes (each event
    lands in two windows)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(*_window_aggs())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user, 30-minute gap (dynamic-length
    buckets; window.end = last event + gap)."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(*_window_aggs())
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Streaming-capable 1-hour OHLC bars per event type: open/close via
    min_by/max_by over the (ts, event_id) struct — lexicographic, so
    ties break deterministically like the batch twin's dual
    row_number windows (operators/windows.py q_window_ohlc), but
    expressed as AGGREGATES, which Structured Streaming supports
    (ranking windows never stream). Same integer-cents + decimal-sum
    exactness; identical output schema and values as the batch twin,
    so the one DuckDB oracle verifies both."""
    vc = F.round(F.col("value") * 100).cast("long")
    ord_key = F.struct("ts", "event_id")
    e = events.select("event_type", "ts", "event_id", vc.alias("vc"))
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            (F.floor(F.min_by("vc", ord_key) + 0.5) / 100).alias("open"),
            (F.floor(F.max("vc") + 0.5) / 100).alias("high"),
            (F.floor(F.min("vc") + 0.5) / 100).alias("low"),
            (F.floor(F.max_by("vc", ord_key) + 0.5) / 100).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            stable_round(
                F.sum(F.col("vc").cast("decimal(38,0)")).cast("double")
                / (100.0 * F.count(F.lit(1))),
                6,
            ).alias("mean_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("bar_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "mean_value",
        )
    )
