"""Enrichment / transformation of validated events.

Parity target: reference spark/spark_streaming_to_postgres.py:151-233
(``transform_and_enrich``).  Steps, in reference order:

1. ``to_timestamp(event_time)`` (M:157-161);
2. string cleanup: ``lower(trim(...))`` on event_type/category, regexp
   cleanup of search_query (M:172-182);
3. lineage: ``input_file_name()`` -> source_file,
   ``current_timestamp()`` -> processed_at (M:163-169);
4. time parts year/month/day/hour/dayofweek (M:184-195);
5. ``total_amount = price * quantity`` for purchase/add_to_cart else
   0.0 -- computed BEFORE quantity is coalesced, so a purchase with
   NULL quantity yields NULL total_amount.  That surprising null
   propagation is reference-observable behaviour (M:198-204 vs
   :213-215) and is preserved;
6. null-coalescing defaults (quantity->0, category->'unknown',
   user_segment->'unknown', search_query->'', session_id->'unknown',
   source_system->'unknown') (M:212-231);
7. ``is_late_arrival``: event_time older than `now - threshold`
   (M:206-210).  ``now`` is injectable for deterministic tests; the
   reference hard-wires ``current_timestamp()``.

Everything is a built-in Column expression -- a single codegen'd
projection, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MONETARY_EVENT_TYPES = ["purchase", "add_to_cart"]

DEFAULTS: dict[str, object] = {
    "quantity": 0,
    "category": "unknown",
    "user_segment": "unknown",
    "search_query": "",
    "session_id": "unknown",
    "source_system": "unknown",
}


def clean_strings(df: DataFrame) -> DataFrame:
    out = df
    if "event_type" in df.columns:
        out = out.withColumn("event_type", F.lower(F.trim(F.col("event_type"))))
    if "category" in df.columns:
        out = out.withColumn("category", F.lower(F.trim(F.col("category"))))
    if "search_query" in df.columns:
        out = out.withColumn(
            "search_query",
            F.lower(F.trim(F.regexp_replace(F.col("search_query"), r"[^\w\s]", ""))),
        )
    return out


def add_time_parts(df: DataFrame) -> DataFrame:
    ts = F.col("event_time")
    return (
        df.withColumn("event_year", F.year(ts))
        .withColumn("event_month", F.month(ts))
        .withColumn("event_day", F.dayofmonth(ts))
        .withColumn("event_hour", F.hour(ts))
        .withColumn("event_dayofweek", F.dayofweek(ts))
    )


def add_total_amount(df: DataFrame) -> DataFrame:
    """price * quantity for monetary events, else 0.0 -- pre-coalesce,
    so NULL quantity propagates to NULL total_amount on purchases."""
    return df.withColumn(
        "total_amount",
        F.when(
            F.col("event_type").isin(MONETARY_EVENT_TYPES),
            F.col("price") * F.col("quantity"),
        ).otherwise(F.lit(0.0)),
    )


def apply_defaults(df: DataFrame) -> DataFrame:
    out = df
    for name, default in DEFAULTS.items():
        if name in df.columns:
            out = out.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return out


# an event older than this at processing time is flagged late
_LATE_THRESHOLD = "5 minutes"


def add_late_arrival_flag(df: DataFrame, now: Column | None = None) -> DataFrame:
    now = F.current_timestamp() if now is None else now
    return df.withColumn(
        "is_late_arrival",
        F.col("event_time") < (now - F.expr(f"INTERVAL {_LATE_THRESHOLD}")),
    )


def add_lineage(df: DataFrame, processed_at: Column | None = None) -> DataFrame:
    return df.withColumn("source_file", F.input_file_name()).withColumn(
        "processed_at", processed_at if processed_at is not None else F.current_timestamp()
    )


def transform_and_enrich(df: DataFrame, now: Column | None = None) -> DataFrame:
    """Full reference enrichment chain over a validated v2 event frame."""
    out = df.withColumn("event_time", F.to_timestamp(F.col("event_time")))
    out = clean_strings(out)
    out = add_lineage(out, processed_at=now)
    out = add_time_parts(out)
    out = add_total_amount(out)
    out = add_late_arrival_flag(out, now=now)
    out = apply_defaults(out)
    return out


ENRICHED_EVENT_COLUMNS = [
    "event_id",
    "user_id",
    "session_id",
    "event_type",
    "product_id",
    "category",
    "price",
    "quantity",
    "user_segment",
    "search_query",
    "event_time",
    "source_system",
    "total_amount",
    "event_year",
    "event_month",
    "event_day",
    "event_hour",
    "event_dayofweek",
    "is_late_arrival",
    "source_file",
    "processed_at",
]

DEAD_LETTER_COLUMNS = [
    "event_id",
    "user_id",
    "event_type",
    "product_id",
    "price",
    "event_time",
    "validation_errors",
    "source_file",
    "processed_at",
]
