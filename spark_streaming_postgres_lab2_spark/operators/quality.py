"""Per-batch data-quality metrics in ONE aggregation pass.

Parity target: reference ``calculate_quality_metrics``
(spark_streaming_to_postgres.py:239-276), which issues ~10 separate
actions per batch (count, per-column null counts, late count, groupBy
collect, plus two more counts in the writer M:384-385).  Same observable
metrics here, but computed as ONE grouped aggregation of
``sum(when(...))`` expressions -- one action instead of ten, a single
scan with map-side partial aggregation whose output is one row per
(event_type, validation_errors) pair.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class BatchQualityMetrics:
    batch_id: int
    total_rows: int
    valid_rows: int
    invalid_rows: int
    late_arrival_count: int
    null_counts: dict[str, int] = field(default_factory=dict)
    event_type_distribution: dict[str, int] = field(default_factory=dict)
    error_distribution: dict[str, int] = field(default_factory=dict)
    # the sink's time for the epoch, from the metrics collect through
    # the metrics-row write; 0.0 until the sink sets it
    processing_seconds: float = 0.0

    @property
    def validity_rate(self) -> float:
        return self.valid_rows / self.total_rows if self.total_rows else 1.0

    def to_dict(self) -> dict[str, Any]:
        return {
            "batch_id": self.batch_id,
            "total_rows": self.total_rows,
            "valid_rows": self.valid_rows,
            "invalid_rows": self.invalid_rows,
            "validity_rate": self.validity_rate,
            "late_arrival_count": self.late_arrival_count,
            "null_counts": dict(self.null_counts),
            "event_type_distribution": dict(self.event_type_distribution),
            "error_distribution": dict(self.error_distribution),
            "processing_seconds": self.processing_seconds,
        }


def _count_if(cond) -> F.Column:  # type: ignore[name-defined]
    return F.sum(F.when(cond, 1).otherwise(0))


def calculate_quality_metrics(
    df: DataFrame,
    batch_id: int = 0,
    null_check_columns: list[str] | None = None,
) -> BatchQualityMetrics:
    """Compute the full reference metric set in one action.

    ``df`` must already carry ``is_valid`` (and optionally
    ``is_late_arrival`` / ``validation_errors``).  One grouped
    aggregation per (event_type, validation_errors) carries every
    count; the driver sums the few group rows into the totals and
    reads both distributions off the group keys.
    """
    null_cols = [
        c
        for c in (null_check_columns or ["user_id", "session_id", "category", "quantity"])
        if c in df.columns
    ]
    keys = ["event_type"] + (["validation_errors"] if "validation_errors" in df.columns else [])
    late = (
        _count_if(F.col("is_late_arrival"))
        if "is_late_arrival" in df.columns
        else F.lit(0).cast("bigint")
    )
    groups = (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("total_rows"),
            _count_if(F.col("is_valid")).alias("valid_rows"),
            _count_if(~F.col("is_valid")).alias("invalid_rows"),
            late.alias("late_arrival_count"),
            *[_count_if(F.col(c).isNull()).alias(f"null_{c}") for c in null_cols],
        )
        .collect()
    )
    if not groups:
        return BatchQualityMetrics(batch_id, 0, 0, 0, 0)

    def total(col: str) -> int:
        return sum(int(r[col]) for r in groups)

    event_dist: dict[str, int] = {}
    error_dist: dict[str, int] = {}
    for r in groups:
        et = r["event_type"] if r["event_type"] is not None else "null"
        event_dist[et] = event_dist.get(et, 0) + r["total_rows"]
        tag = r["validation_errors"] if "validation_errors" in keys else None
        if tag is not None:
            error_dist[tag] = error_dist.get(tag, 0) + r["total_rows"]

    return BatchQualityMetrics(
        batch_id=batch_id,
        total_rows=total("total_rows"),
        valid_rows=total("valid_rows"),
        invalid_rows=total("invalid_rows"),
        late_arrival_count=total("late_arrival_count"),
        null_counts={c: total(f"null_{c}") for c in null_cols},
        event_type_distribution=event_dist,
        error_distribution=error_dist,
    )


def metrics_row_df(spark, metrics: BatchQualityMetrics) -> DataFrame:
    """One-row DataFrame matching the reference's data_quality_metrics
    sink schema (spark_streaming_to_postgres.py:449-457).  The row is
    literals over a one-partition range, so it never leaves the JVM and
    writes as one task and one file."""
    return spark.range(1, numPartitions=1).select(
        F.lit(metrics.batch_id).cast("long").alias("batch_id"),
        F.lit(metrics.total_rows).cast("long").alias("total_rows"),
        F.lit(metrics.valid_rows).cast("long").alias("valid_rows"),
        F.lit(metrics.invalid_rows).cast("long").alias("invalid_rows"),
        F.lit(float(metrics.validity_rate)).alias("validity_rate"),
        F.lit(metrics.late_arrival_count).cast("long").alias("late_arrival_count"),
        F.current_timestamp().alias("recorded_at"),
    )
