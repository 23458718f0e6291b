"""Deduplication operators: exact batch dedup and its deterministic flavors.

Parity target: reference watermark + ``dropDuplicates(["event_id"])``
(spark_streaming_to_postgres.py:324-329).  NOTE the reference's
streaming dedup is dead code -- the started query streams the
un-deduped frame (M:507) and relies on the Postgres primary key.  Here
the streaming dedup is LIVE (``StreamingPipeline.transformed_stream`` in
streaming/pipeline.py) and batch dedup is a first-class operator.

Scale notes: ``dropDuplicates(keys)`` shuffles on the keys with
map-side partial dedup -- the right plan at any scale.  For
"keep-one-canonical-row" semantics that must be *deterministic* (the
oracle contract), use ``dedup_keep_first``: a groupBy(min(struct))
which is order-insensitive, or the window-based flavor when a tiebreak
ordering is given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Hash-shuffle exact dedup; keys=None means full-row distinct."""
    if keys is None:
        return df.distinct()
    return df.dropDuplicates(keys)


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """Deterministic dedup: keep the first row per key under
    ``order_by`` (ties broken by the full ordering list).  One shuffle
    on ``keys``; row_number is evaluated within each partition."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_counts(df: DataFrame, key: str = "event_id") -> DataFrame:
    """Deterministic per-group dedup accounting: how many physical rows
    vs distinct keys per event_type (used by the oracle-checked query)."""
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct(F.col(key)).alias("unique_events"),
    )
