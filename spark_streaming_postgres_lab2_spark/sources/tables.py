"""Batch parquet loaders for the driver-supplied test tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings -- one parquet file per table
under ``{sf_dir}/``.  Loading is a metadata-only operation; Catalyst
prunes columns and pushes filters into the parquet scan.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Benchmark-only DataFrame reuse: keyed on (session id, sf_dir, name).
# Reusing the DataFrame object reuses its InMemoryFileIndex, so parquet
# listing + footer reads happen once per bench run instead of once per
# query (the ~0.4 s per-query floor).  OFF by default -- the driver's
# correctness runs must stay stateless.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE_TABLES", "0") == "1"


# Canonical dtype per table.column (captured from the r2 driver
# fixtures at sf0.01).  load_table casts any drifted column back to
# this shape, so a silent fixture-type change (the r2 TIMESTAMP_NTZ
# incident: 5 queries + the whole bench died per-query instead of
# being normalized at load) degrades to a value-preserving cast -- or,
# for a brand-new column, flows through untouched.
CANONICAL_DTYPES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
        "l_returnflag": "string", "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}


def _normalize_dtypes(df: DataFrame, name: str) -> DataFrame:
    """Cast every drifted column back to its canonical dtype.

    Driver fixtures have shipped ``events.ts`` two ways so far:
    r1: parquet TIMESTAMP(NANOS) -> read as bigint nanos (legacy conf),
    truncated to micros like DuckDB does;
    r2: plain ``timestamp[us]`` with no tz -> Spark 4 TIMESTAMP_NTZ,
    which ``unix_micros``/interval arithmetic reject.  The session tz
    is pinned UTC (load_tables), so casting NTZ -> TIMESTAMP is value-
    preserving and agrees with the UTC-naive DuckDB oracle.  Every
    other column gets the same treatment against CANONICAL_DTYPES;
    columns the map doesn't know (new fixture columns) pass through."""
    canonical = CANONICAL_DTYPES.get(name, {})
    for col, dtype in df.dtypes:
        want = canonical.get(col)
        if want is None or dtype == want:
            continue
        if want == "timestamp" and dtype == "bigint":
            # nanos-as-long shape: truncate to micros like DuckDB does.
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype.startswith("string") and not want.startswith("string"):
            # ADVICE r3: an INCOMPATIBLE drift (e.g. a string date in an
            # unparseable format) must fail loudly at the load boundary,
            # not surface as an all-NULL column downstream.  Non-ANSI
            # cast yields NULL on failure, so guard per row: original
            # non-NULL but cast NULL => raise.  Plan-level (fused into
            # the scan) -- no extra job per table load.  ONLY for casts
            # that can actually fail (string -> typed): wrapping the
            # infallible casts (NTZ -> timestamp, numeric widening) in
            # raise_error would block predicate pushdown past the
            # normalization projection for nothing.
            casted = F.col(col).cast(want)
            df = df.withColumn(
                col,
                F.when(F.col(col).isNull() | casted.isNotNull(), casted).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"incompatible fixture drift: {name}.{col} "
                                f"({dtype}) failed cast to {want}, value="
                            ),
                            F.col(col),
                        )
                    )
                ),
            )
        else:
            df = df.withColumn(col, F.col(col).cast(want))
    return df


def spread_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive input spread for compute-heavy operators
    (guide §2.5 "input skew": one small unsplittable file).

    The bench fixtures are one parquet file per table, small enough
    that the scan planner packs each whole table into ONE split -- so
    every per-row-expensive stage downstream (shingling, md5
    signatures, HOF folds, Arrow/numpy batch workers) runs single-task
    regardless of cluster size.  Round-robin repartition to the
    session's default parallelism when (and only when) the scan
    produced fewer partitions; at real scale the scan already has far
    more splits than cores and this is a planning-time no-op.  The
    explicit numPartitions marks the exchange user-specified, so AQE
    does not re-coalesce the tiny bytes back into one partition.
    Round-robin keeps `spark.sql.execution.sortBeforeRepartition` on
    (default), so the row-to-partition assignment is deterministic
    under retries.  Row-order-sensitive consumers must not use this
    (none of the callers aggregate order-dependently; each caller's
    oracle parity is re-proven after adoption)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# cut_when_large: below this much scanned input, a multi-consumer
# subtree is cheaper to re-run than to materialize (the r15 interleaved
# A/B on lm_surprisal_filter measured orig 1.36 s vs ckpt 1.52 s at
# sf0.1's ~0.6 MB -- fixed checkpoint-job overhead dominates);  above
# it, each extra consumer re-reads the whole input, which at 100 TB is
# the difference between one corpus pass and N.
CUT_MIN_INPUT_BYTES = 4 * 1024 * 1024


def _local_file_size(uri: str) -> int | None:
    """Size of the file behind a ``file:`` URI in any spelling Spark or
    Hadoop produce (``file:/p``, ``file:///p``, percent-encoded), or
    None when the URI is not a statable local file."""
    parsed = urlparse(uri)
    if parsed.scheme != "file":
        return None
    try:
        return os.path.getsize(unquote(parsed.path))
    except OSError:
        return None


def cut_when_large(df: DataFrame, base: DataFrame) -> DataFrame:
    """Scale-gated multi-consumer lineage cut (VERDICT r15 item 5):
    ``df`` (a slim derived frame consumed from >1 side of the plan) is
    localCheckpoint'ed only when ``base``'s scanned input files exceed
    ``CUT_MIN_INPUT_BYTES``.  Below the threshold the un-cut shape is
    the measured local winner (re-running the subtree beats the fixed
    materialization job); above it the cut runs the subtree once
    instead of once per consumer.  The gate reads file sizes from the
    scan's file index (driver-side metadata, no job)."""
    total = 0
    for uri in base.inputFiles():
        size = _local_file_size(uri)
        if size is None:
            # non-local / unstatable input: assume large (the cut is
            # the safe side at unknown scale)
            return df.localCheckpoint(eager=False)
        total += size
    if total >= CUT_MIN_INPUT_BYTES:
        return df.localCheckpoint(eager=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table.  The events table carries TIMESTAMP(NANOS)
    parquet timestamps, which Spark 4 refuses by default
    (PARQUET_TYPE_ILLEGAL); read nanos as long and truncate to
    microsecond timestamps (same truncation DuckDB applies)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if _cache_enabled() and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    df = _normalize_dtypes(df, name)
    if _cache_enabled():
        _TABLE_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the requested tables and pin the session timezone to UTC so
    timestamp semantics agree with the UTC-naive DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark-3.5-style permissive arithmetic (reference parity; MinHash
    # relies on wrapping long multiplication).
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return {name: load_table(spark, sf_dir, name) for name in (names or TABLE_NAMES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each table as a temp view for the SQL entry points."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
