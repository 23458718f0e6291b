"""Single-pass quality metrics + dedup operators."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_streaming_postgres_lab2_spark.operators.dedup import (
    dedup_counts,
    dedup_exact,
    dedup_keep_first,
)
from spark_streaming_postgres_lab2_spark.operators.quality import (
    BatchQualityMetrics,
    calculate_quality_metrics,
    metrics_row_df,
    metrics_row_table,
)
from spark_streaming_postgres_lab2_spark.operators.validate import validate


def events_df(spark):
    rows = [
        Row(event_id="a", user_id=1, event_type="view", product_id=1, price=0.0,
            quantity=0, session_id="s", category="books", user_segment="new",
            search_query="", event_time="2024-01-01T00:00:00", source_system="web"),
        Row(event_id="b", user_id=None, event_type="purchase", product_id=2, price=5.0,
            quantity=1, session_id=None, category=None, user_segment=None,
            search_query="", event_time="2024-01-01T00:01:00", source_system="web"),
        Row(event_id="c", user_id=2, event_type="view", product_id=3, price=-1.0,
            quantity=0, session_id="s", category="books", user_segment="new",
            search_query="", event_time="2024-01-01T00:02:00", source_system="web"),
    ]
    return spark.createDataFrame(rows)


def test_quality_metrics_single_pass(spark):
    """Every field of the one-pass metrics, over a frame with late
    arrivals (one NULL flag), NULLs in each null-checked column and a
    NULL event_type (counted under the "null" key)."""
    extra = [
        Row(event_id="d", user_id=4, event_type=None, product_id=4, price=0.0,
            quantity=None, session_id="s", category=None, user_segment="new",
            search_query="", event_time="2024-01-01T00:03:00", source_system="web"),
        Row(event_id="e", user_id=None, event_type="view", product_id=5, price=0.0,
            quantity=None, session_id="s", category=None, user_segment="new",
            search_query="", event_time="2024-01-01T00:04:00", source_system="web"),
    ]
    base = events_df(spark)
    df = validate(base.unionByName(spark.createDataFrame(extra, base.schema))).withColumn(
        "is_late_arrival",
        F.when(F.col("event_id") == "d", F.lit(None)).otherwise(F.col("event_id").isin("a", "e")),
    )
    m = calculate_quality_metrics(df, batch_id=3)
    assert m.to_dict() == {
        "batch_id": 3,
        "total_rows": 5,
        "valid_rows": 2,
        "invalid_rows": 3,
        "validity_rate": 0.4,
        "late_arrival_count": 2,
        "null_counts": {"user_id": 2, "session_id": 1, "category": 3, "quantity": 2},
        "event_type_distribution": {"view": 3, "purchase": 1, "null": 1},
        "error_distribution": {
            "purchase_without_user": 1,
            "negative_price": 1,
            "null_event_type": 1,
        },
        "processing_seconds": 0.0,
    }


def test_quality_metrics_without_optional_columns(spark):
    """A frame with neither ``is_late_arrival`` nor ``validation_errors``:
    late count 0, no error distribution."""
    df = validate(events_df(spark)).drop("validation_errors")
    m = calculate_quality_metrics(df, batch_id=2, null_check_columns=["category"])
    assert (m.total_rows, m.valid_rows, m.invalid_rows, m.late_arrival_count) == (3, 1, 2, 0)
    assert m.null_counts == {"category": 1}
    assert m.event_type_distribution == {"view": 2, "purchase": 1}
    assert m.error_distribution == {}


def test_quality_metrics_empty(spark):
    df = validate(events_df(spark)).filter("event_id = 'zzz'")
    m = calculate_quality_metrics(df, batch_id=1)
    assert m.total_rows == 0 and m.validity_rate == 1.0


def test_metrics_row_forms_agree(spark):
    """The Arrow table the sink writes and the frame a write_fn gets
    carry the same required columns and values."""
    m = BatchQualityMetrics(5, 4, 3, 1, 2)
    df = metrics_row_df(spark, m)
    table = spark.createDataFrame(metrics_row_table(m))
    assert df.schema == table.schema
    assert all(not f.nullable for f in df.schema.fields)
    assert df.drop("recorded_at").collect() == table.drop("recorded_at").collect()
    assert df.drop("recorded_at").first().asDict() == {
        "batch_id": 5, "total_rows": 4, "valid_rows": 3, "invalid_rows": 1,
        "validity_rate": 0.75, "late_arrival_count": 2,
    }


def test_dedup_exact_by_key(spark):
    df = events_df(spark)
    doubled = df.unionByName(df)
    assert dedup_exact(doubled, ["event_id"]).count() == 3
    assert dedup_exact(doubled).count() == 3  # full-row distinct


def test_dedup_keep_first_deterministic(spark):
    rows = [
        Row(k="a", ts=2, v="late"),
        Row(k="a", ts=1, v="early"),
        Row(k="b", ts=5, v="only"),
    ]
    df = spark.createDataFrame(rows)
    out = {r["k"]: r["v"] for r in dedup_keep_first(df, ["k"], ["ts"]).collect()}
    assert out == {"a": "early", "b": "only"}


def test_dedup_counts(spark):
    df = events_df(spark)
    doubled = df.unionByName(df)
    rows = {r["event_type"]: r for r in dedup_counts(doubled).collect()}
    assert rows["view"]["total_rows"] == 4
    assert rows["view"]["unique_events"] == 2
