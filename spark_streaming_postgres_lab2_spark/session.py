"""SparkSession factory with scale-aware defaults.

Local mode for tests; the same conf block is what a cluster submit
would carry.  AQE handles runtime coalesce + skew-join.  Batch queries
run at a constant 32 shuffle partitions (the 200 default is wrong at
both ends of the scale spectrum), which AQE coalesces to the data; the
stream is planned at the core count in ``StreamingPipeline.start``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import SparkConfig


def build_session(cfg: SparkConfig | None = None) -> SparkSession:
    """Build the process's session, or return the active one as it is:
    a builder would otherwise apply its confs to the live session,
    under the code already using it."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cfg = cfg or SparkConfig()
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName("lab2_spark_engine")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # timestamp parity with the oracle is defined in UTC
        .config("spark.sql.session.timeZone", "UTC")
        # Reference semantics are Spark 3.5 (permissive); ANSI also breaks
        # wrapping-multiply hash mixing (MinHash universal hashing).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.join.preferSortMergeJoin",
            str(cfg.prefer_sort_merge_join).lower(),
        )
        # Python workers unpickle UDF closures that reference package
        # functions by module, so they must import the package from any
        # working directory: put the package's parent on their path
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    if cfg.driver_memory:
        builder = builder.config("spark.driver.memory", cfg.driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
