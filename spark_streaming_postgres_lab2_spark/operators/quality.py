"""Per-batch data-quality metrics in ONE aggregation pass.

Parity target: reference ``calculate_quality_metrics``
(spark_streaming_to_postgres.py:239-276), which issues ~10 separate
actions per batch (count, per-column null counts, late count, groupBy
collect, plus two more counts in the writer M:384-385).  Same observable
metrics here, but computed as ONE grouped aggregation of
``sum(when(...))`` expressions -- one action instead of ten, a single
scan with map-side partial aggregation whose output is one row per
(event_type, validation_errors) pair.

The aggregation is a ``QualityAggregation`` built from a frame's column
names.  Its Columns are unresolved expressions, so one instance serves
every frame with those columns: the stream's sink builds it once and
reuses it on each epoch, instead of rebuilding the same expressions
through py4j every time.

The metrics row (the reference's data_quality_metrics record) has one
definition, ``METRICS_ROW_TYPES`` and ``_metrics_row``, in two forms:
``metrics_row_table``, the Arrow table the sink writes as a parquet file
from the driver, and ``metrics_row_df``, the DataFrame a ``write_fn``
sink gets.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NULL_CHECK_COLUMNS = ("user_id", "session_id", "category", "quantity")

# the reference's data_quality_metrics columns and their Spark types
# (spark_streaming_to_postgres.py:449-457); every field is required, as
# in a Spark-written row of literals
METRICS_ROW_TYPES = {
    "batch_id": "bigint",
    "total_rows": "bigint",
    "valid_rows": "bigint",
    "invalid_rows": "bigint",
    "validity_rate": "double",
    "late_arrival_count": "bigint",
    "recorded_at": "timestamp",
}
_ARROW_TYPES = {
    "bigint": pa.int64(),
    "double": pa.float64(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}
METRICS_ROW_SCHEMA = pa.schema(
    [pa.field(c, _ARROW_TYPES[t], nullable=False) for c, t in METRICS_ROW_TYPES.items()]
)


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


def _count_if(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


# eq=False: Column overloads ==, so field-wise equality is meaningless
@dataclass(frozen=True, eq=False)
class QualityAggregation:
    """The one grouped aggregation for frames with given columns.

    ``df`` must carry ``is_valid`` (and optionally ``is_late_arrival`` /
    ``validation_errors``).  One group per (event_type,
    validation_errors) carries every count."""

    keys: tuple[str, ...]
    null_columns: tuple[str, ...]
    aggregates: tuple[Column, ...]

    @classmethod
    def for_columns(
        cls, columns: list[str], null_check_columns: list[str] | None = None
    ) -> QualityAggregation:
        null_cols = tuple(c for c in (null_check_columns or NULL_CHECK_COLUMNS) if c in columns)
        keys = ("event_type",) + (("validation_errors",) if "validation_errors" in columns else ())
        late = (
            _count_if(F.col("is_late_arrival"))
            if "is_late_arrival" in columns
            else F.lit(0).cast("bigint")
        )
        is_valid = F.col("is_valid")
        aggregates = (
            F.count(F.lit(1)).alias("total_rows"),
            _count_if(is_valid).alias("valid_rows"),
            _count_if(~is_valid).alias("invalid_rows"),
            late.alias("late_arrival_count"),
            *[_count_if(F.col(c).isNull()).alias(f"null_{c}") for c in null_cols],
        )
        return cls(keys, null_cols, aggregates)

    def collect(self, df: DataFrame, batch_id: int = 0) -> BatchQualityMetrics:
        """Run the aggregation on ``df`` (one action); the driver sums
        the few group rows into the totals and reads both distributions
        off the group keys."""
        groups = df.groupBy(*self.keys).agg(*self.aggregates).collect()
        if not groups:
            return BatchQualityMetrics(batch_id, 0, 0, 0, 0)

        def total(col: str) -> int:
            return sum(int(r[col]) for r in groups)

        event_dist: dict[str, int] = {}
        error_dist: dict[str, int] = {}
        for r in groups:
            et = r["event_type"] if r["event_type"] is not None else "null"
            event_dist[et] = event_dist.get(et, 0) + r["total_rows"]
            tag = r["validation_errors"] if "validation_errors" in self.keys else None
            if tag is not None:
                error_dist[tag] = error_dist.get(tag, 0) + r["total_rows"]

        return BatchQualityMetrics(
            batch_id=batch_id,
            total_rows=total("total_rows"),
            valid_rows=total("valid_rows"),
            invalid_rows=total("invalid_rows"),
            late_arrival_count=total("late_arrival_count"),
            null_counts={c: total(f"null_{c}") for c in self.null_columns},
            event_type_distribution=event_dist,
            error_distribution=error_dist,
        )


def calculate_quality_metrics(
    df: DataFrame,
    batch_id: int = 0,
    null_check_columns: list[str] | None = None,
) -> BatchQualityMetrics:
    """Compute the full reference metric set in one action."""
    return QualityAggregation.for_columns(df.columns, null_check_columns).collect(df, batch_id)


def _metrics_row(metrics: BatchQualityMetrics) -> dict[str, Any]:
    """The data_quality_metrics record, stamped with the time it is
    built."""
    return {
        "batch_id": metrics.batch_id,
        "total_rows": metrics.total_rows,
        "valid_rows": metrics.valid_rows,
        "invalid_rows": metrics.invalid_rows,
        "validity_rate": float(metrics.validity_rate),
        "late_arrival_count": metrics.late_arrival_count,
        "recorded_at": datetime.datetime.now(datetime.timezone.utc),
    }


def metrics_row_table(metrics: BatchQualityMetrics) -> pa.Table:
    """The metrics record as a one-row Arrow table, for the driver's
    parquet write."""
    return pa.Table.from_pylist([_metrics_row(metrics)], schema=METRICS_ROW_SCHEMA)


def metrics_row_df(spark, metrics: BatchQualityMetrics) -> DataFrame:
    """The metrics record as a one-row DataFrame, for a sink that writes
    through Spark.  The row is literals over a one-partition range:
    unlike ``createDataFrame``, that leaves the process's active
    session as it was, though ``spark`` is a stream's session."""
    row = _metrics_row(metrics)
    return spark.range(1, numPartitions=1).select(
        *[F.lit(row[c]).cast(t).alias(c) for c, t in METRICS_ROW_TYPES.items()]
    )
