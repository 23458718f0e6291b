"""SparkSession factory with scale-aware defaults.

Local mode for tests; the same conf block is what a cluster submit
would carry.  AQE handles runtime coalesce + skew-join; shuffle
partitions default to ~cores locally (the 200 default is wrong at both
ends of the scale spectrum).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import SparkConfig


def build_session(cfg: SparkConfig | None = None) -> SparkSession:
    cfg = cfg or SparkConfig()
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else cfg.master
    builder = (
        SparkSession.builder.master(master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # timestamp parity with the oracle is defined in UTC
        .config("spark.sql.session.timeZone", "UTC")
        # Reference semantics are Spark 3.5 (permissive); ANSI also breaks
        # wrapping-multiply hash mixing (MinHash universal hashing).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", str(cfg.ui_enabled).lower())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.join.preferSortMergeJoin",
            str(cfg.prefer_sort_merge_join).lower(),
        )
    )
    if cfg.driver_memory:
        builder = builder.config("spark.driver.memory", cfg.driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
