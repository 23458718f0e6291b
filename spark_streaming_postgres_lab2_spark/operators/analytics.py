"""The reference's Postgres analytics views, re-expressed in Spark.

Parity target: docker/postgres/postgres_setup.sql:101-151 (the four
views) and the README ad-hoc queries (README.md:368-397).  In the
reference these run in Postgres over B-tree indexes; here they run in
Spark SQL over the engine's own (Parquet) tables, exercising Catalyst:
partial aggregation, hash aggregate, and AQE-coalesced shuffles.

All functions take the *enriched* events frame (operators/enrich.py
output schema) and return DataFrames; ``register_analytics_views``
exposes the three event views as named temp views for SQL users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hourly_event_summary(events: DataFrame) -> DataFrame:
    """v_hourly_event_summary (postgres_setup.sql:101-110):
    DATE_TRUNC hour x event_type; COUNT(*), COUNT(DISTINCT user_id),
    SUM(total_amount)."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("event_time")).alias("event_hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.countDistinct("user_id").alias("unique_users"),
            F.sum("total_amount").alias("total_revenue"),
        )
        .orderBy(F.col("event_hour").desc(), F.col("event_type"))
    )


def user_sessions(events: DataFrame) -> DataFrame:
    """v_user_sessions (postgres_setup.sql:113-125): per (user_id,
    session_id, user_segment) event counts, conditional view/purchase
    counts, spend, first/last event times."""
    return (
        events.groupBy("user_id", "session_id", "user_segment")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("view_count"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase_count"),
            F.sum("total_amount").alias("total_spent"),
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
        )
    )


def category_performance(events: DataFrame) -> DataFrame:
    """v_category_performance (postgres_setup.sql:128-137)."""
    return (
        events.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase_count"),
            F.sum("total_amount").alias("total_revenue"),
            F.avg("price").alias("avg_price"),
        )
        .orderBy(F.col("total_revenue").desc_nulls_last())
    )


def data_quality_summary(metrics: DataFrame, now=None) -> DataFrame:
    """v_data_quality_summary (postgres_setup.sql:140-151): last-24h
    hourly rollup of batch metrics.  ``now`` injectable for
    deterministic tests (reference uses NOW())."""
    now = F.current_timestamp() if now is None else now
    return (
        metrics.filter(F.col("recorded_at") >= now - F.expr("INTERVAL 24 HOURS"))
        .groupBy(F.date_trunc("hour", F.col("recorded_at")).alias("metric_hour"))
        .agg(
            F.sum("total_rows").alias("total_rows"),
            F.sum("valid_rows").alias("valid_rows"),
            F.sum("invalid_rows").alias("invalid_rows"),
            F.sum("late_arrival_count").alias("late_arrivals"),
            F.avg("validity_rate").alias("avg_validity_rate"),
        )
        .orderBy(F.col("metric_hour").desc())
    )


def event_type_distribution(events: DataFrame) -> DataFrame:
    """README ad-hoc analytics (README.md:368-383): per-type counts and
    rounded revenue, ordered by count."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("total_amount"), 2).alias("total_revenue"),
        )
        .orderBy(F.col("event_count").desc())
    )


def verification_counts(valid: DataFrame, dead_letter: DataFrame) -> DataFrame:
    """README verification query (UNION ALL of two scalar counts)."""
    a = valid.agg(F.count(F.lit(1)).alias("row_count")).withColumn(
        "table_name", F.lit("ecommerce_events")
    )
    b = dead_letter.agg(F.count(F.lit(1)).alias("row_count")).withColumn(
        "table_name", F.lit("dead_letter_events")
    )
    return a.unionByName(b).select("table_name", "row_count")


def register_analytics_views(spark: SparkSession, events: DataFrame) -> None:
    hourly_event_summary(events).createOrReplaceTempView("v_hourly_event_summary")
    user_sessions(events).createOrReplaceTempView("v_user_sessions")
    category_performance(events).createOrReplaceTempView("v_category_performance")
