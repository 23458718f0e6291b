"""Stream-stream joins: watermarked interval join between two event
streams (the streaming flavor of the as-of/attribution pattern).

Both sides carry watermarks and the join predicate carries the time
bound, so the state store can evict rows once the watermark passes the
interval -- constant state per key regardless of stream length."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import _WATERMARK_DELAY


def purchases_with_recent_views(
    events: DataFrame, lookback: str = "1 hour"
) -> DataFrame:
    """Split one enriched event stream into purchases and views and
    interval-join them on ``event_time``: each purchase pairs with the
    same user's views in the preceding ``lookback``."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", _WATERMARK_DELAY)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_time").alias("purchase_time"),
            "total_amount",
        )
        .withWatermark("purchase_time", _WATERMARK_DELAY)
    )
    return purchases.join(
        views,
        F.expr(
            f"""
            v_user_id = user_id AND
            view_time BETWEEN purchase_time - INTERVAL {lookback} AND purchase_time
            """
        ),
        "inner",
    ).select("user_id", "purchase_time", "view_time", "total_amount")
