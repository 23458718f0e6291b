"""Scale-technique verification: salted joins produce identical
results with finer shuffle granularity; partitioned sinks prune
partitions at read time; bucketed tables join without an exchange."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_streaming_postgres_lab2_spark.operators.skew import (
    salted_distinct_count,
    salted_join,
)
from spark_streaming_postgres_lab2_spark.plans import checks
from spark_streaming_postgres_lab2_spark.sources.bucketing import write_bucketed
from spark_streaming_postgres_lab2_spark.sources.tables import load_tables
from spark_streaming_postgres_lab2_spark.streaming.sinks import write_partitioned_events


def test_salted_join_same_result(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li, part = t["lineitem"], t["part"]
    plain = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type").count().collect()
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_partkey", "p_partkey"),
            part,
            key="p_partkey",
            salt_n=4,
            big_unique_col="l_orderkey",
        )
        .groupBy("p_type").count().collect()
    )
    assert sorted((r["p_type"], r["count"]) for r in plain) == sorted(
        (r["p_type"], r["count"]) for r in salted
    )


def test_salted_distinct_count_matches_exact(spark, sf_dir):
    events = load_tables(spark, sf_dir, ["events"])["events"]
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    salted = {
        r["event_type"]: r["distinct_user_id"]
        for r in salted_distinct_count(events, "event_type", "user_id", salt_n=4).collect()
    }
    assert exact == salted


def test_partitioned_events_prune(spark, sf_dir, tmp_path):
    events = load_tables(spark, sf_dir, ["events"])["events"].select(
        "event_id",
        "value",
        F.year("ts").alias("event_year"),
        F.month("ts").alias("event_month"),
        F.dayofmonth("ts").alias("event_day"),
    )
    out = str(tmp_path / "events_part")
    write_partitioned_events(events, out)
    read = spark.read.parquet(out).filter(
        (F.col("event_month") == 1) & (F.col("event_day") == 5)
    )
    plan = checks.physical_plan(read)
    assert "PartitionFilters" in plan
    # the pruned read returns exactly the day's rows
    expected = events.filter(
        (F.col("event_month") == 1) & (F.col("event_day") == 5)
    ).count()
    assert read.count() == expected > 0


@pytest.mark.slow
def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    write_bucketed(
        t["lineitem"], "b_lineitem", ["l_orderkey"], 8,
        path=str(tmp_path / "b_li"),
    )
    write_bucketed(
        t["orders"], "b_orders", ["o_orderkey"], 8,
        path=str(tmp_path / "b_ord"),
    )
    # force the sort-merge path (with broadcast on, the planner skips
    # bucketing entirely for a small dim -- correct, but not what this
    # test demonstrates)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = checks.physical_plan(joined)
        assert "SortMergeJoin" in plan
        # co-located bucketed join: no hash-partitioning shuffle feeds it
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == t["lineitem"].join(
            t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

def test_salted_join_guards(spark, sf_dir):
    import pytest

    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    renamed = t["lineitem"].withColumnRenamed("l_partkey", "p_partkey")
    with pytest.raises(ValueError, match="join types"):
        salted_join(renamed, t["part"], "p_partkey", big_unique_col="l_orderkey", how="full")
    with pytest.raises(ValueError, match="differ from the join key"):
        salted_join(renamed, t["part"], "p_partkey", big_unique_col="p_partkey")


def test_cut_when_large_stats_percent_encoded_local_uris(spark, tmp_path):
    """A small local input under a directory whose name needs
    percent-encoding stays un-cut: Spark lists it as
    ``file:///...a%20b...``, and the gate must decode the URI to stat
    the file instead of treating it as unknown (and so large) input.
    Non-local schemes still count as unknown."""
    from spark_streaming_postgres_lab2_spark.sources.tables import (
        _local_file_size,
        cut_when_large,
    )

    path = str(tmp_path / "a b%c" / "t.parquet")
    spark.range(10).write.parquet(path)
    base = spark.read.parquet(path)
    assert any("%20" in uri for uri in base.inputFiles())
    slim = base.select("id")
    assert cut_when_large(slim, base) is slim
    assert _local_file_size("hdfs://nn/warehouse/t.parquet") is None
