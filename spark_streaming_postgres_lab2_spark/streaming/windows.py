"""Streaming windowed aggregations: the streaming flavor of the
analytics views (SURVEY §2.4 A4/A5 notes).

- ``windowed_event_counts``: tumbling event-time window x event_type --
  the streaming twin of v_hourly_event_summary.  COUNT(DISTINCT) is not
  supported in streaming aggregation, so unique users map to
  ``approx_count_distinct`` (HLL), the documented mapping.
- ``session_window_rollup``: native gap-based session windows -- the
  streaming twin of v_user_sessions (the batch engine sessionizes with
  lag/cumsum, queries/core.q_sessionization).

Both are watermark-bounded so state is evicted and the operators run
indefinitely at constant memory per key-window.  Both read the
``event_time`` column."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# how late an event may arrive before its window's state is evicted
_WATERMARK_DELAY = "10 minutes"


def windowed_event_counts(stream: DataFrame) -> DataFrame:
    """Hourly tumbling windows per event_type."""
    return (
        stream.withWatermark("event_time", _WATERMARK_DELAY)
        .groupBy(F.window(F.col("event_time"), "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.approx_count_distinct("user_id").alias("approx_unique_users"),
            F.sum("total_amount").alias("total_revenue"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "approx_unique_users",
            "total_revenue",
        )
    )


def session_window_rollup(stream: DataFrame) -> DataFrame:
    """Per-user sessions closed by a 30-minute gap."""
    return (
        stream.withWatermark("event_time", _WATERMARK_DELAY)
        .groupBy(F.session_window(F.col("event_time"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase_count"),
            F.sum("total_amount").alias("total_spent"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "event_count",
            "purchase_count",
            "total_spent",
        )
    )
