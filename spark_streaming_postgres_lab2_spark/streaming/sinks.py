"""foreachBatch sink router: valid events / dead letter / quality
metrics, with idempotent parquet writes and retry-wrapped IO.

Parity target: reference ``write_to_postgres`` (M:363-441) + the three
JDBC appends (S3-S5).  Differences by design:

- parquet-first: each target table is a directory; JDBC stays
  available via sources/jdbc.py behind the same interface;
- exactly-once: the reference leans on the Postgres primary key to
  absorb replayed micro-batches (SURVEY §2.6 note); with parquet there
  is no PK, so writes go to ``<table>/epoch=N`` subdirectories that
  replace the epoch's earlier output -- a replayed epoch overwrites its
  own output (idempotent), never duplicates it;
- metrics in ONE aggregation pass (operators/quality.py) instead of
  ~10 actions per batch.  With the epoch persisted once, a non-empty
  epoch runs three Spark jobs: the metrics collect alone (it
  materialises the epoch and commits the dedup state), then the events
  and dead-letter writes at the same time on the cached blocks.  A
  table whose count is 0 gets no write.  Each data write is coalesced
  to one partition per ``ROWS_PER_WRITE_PARTITION`` rows of the
  collect's counts (Spark turns AQE off inside ``foreachBatch``, so
  nothing else merges a small epoch's partitions into fewer files);
- the one-row metrics record is written last, by the driver, as the
  epoch's commit marker: an epoch with a metrics row had both data
  writes succeed.  The driver already holds the counts, so the row
  goes to a parquet file through the Hadoop ``FileSystem`` of the
  metrics path (any Hadoop URI) with no Spark job: written under a
  hidden name, then renamed into a fresh ``epoch=N``;
- the epoch's aggregate, filter and projection Columns are built once,
  from the first epoch's columns, and rebuilt only when the columns
  change: a Column is an unresolved expression, valid on every epoch;
- the database retry policy is actually wired around the writes
  (the reference defines C1-C3 but never uses them, SURVEY §2.8).
"""

from __future__ import annotations

import functools
import logging
import math
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators.enrich import DEAD_LETTER_COLUMNS, ENRICHED_EVENT_COLUMNS
from ..operators.quality import (
    BatchQualityMetrics,
    QualityAggregation,
    metrics_row_df,
    metrics_row_table,
)
from ..utils.monitoring import PipelineMonitor
from ..utils.retry import RetryPolicy, database_retry_policy

log = logging.getLogger(__name__)

# rows per output file of a data write: an epoch of up to this many
# rows per table writes one file per table
ROWS_PER_WRITE_PARTITION = 50_000


@dataclass
class SinkConfig:
    events_path: str
    dead_letter_path: str
    metrics_path: str


def write_partitioned_events(df: DataFrame, path: str) -> None:
    """Batch-layout twin of the sink: overwrites ``path`` with the
    events partitioned by date parts,
    so time-ranged analytics (A4/A7) prune whole directories instead of
    scanning history -- the Spark-side replacement for the reference's
    (event_time, event_type) B-tree indexes (postgres_setup.sql:43-52).

    Rows are sorted within each task before the write: parquet row
    groups then carry tight (event_hour, event_type) min/max stats, so
    hour-ranged scans skip row groups inside each date directory --
    the second index level, for free (no extra shuffle; the sort is
    per-task)."""
    sort_cols = [
        c
        for c in ("event_year", "event_month", "event_day", "event_hour", "event_type")
        if c in df.columns
    ]
    (
        df.sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .partitionBy("event_year", "event_month", "event_day")
        .parquet(path)
    )


# eq=False: Column overloads ==, so field-wise equality is meaningless
@dataclass(frozen=True, eq=False)
class _EpochColumns:
    """The router's Columns for epochs with ``names`` columns."""

    names: list[str]
    quality: QualityAggregation
    valid: Column
    invalid: Column
    events: list[Column]
    dead_letters: list[Column]

    @classmethod
    def for_columns(cls, names: list[str]) -> _EpochColumns:
        is_valid = F.col("is_valid")
        return cls(
            names=names,
            quality=QualityAggregation.for_columns(names),
            valid=is_valid,
            invalid=~is_valid,
            events=[F.col(c) for c in ENRICHED_EVENT_COLUMNS if c in names],
            dead_letters=[F.col(c) for c in DEAD_LETTER_COLUMNS if c in names],
        )


def _write_marker_file(spark: SparkSession, table: pa.Table, path: str) -> None:
    """Write ``table`` as the one parquet file of the directory ``path``,
    replacing whatever ``path`` held, through the Hadoop FileSystem of
    ``path``.  The file is written under a hidden name in the parent
    directory (Spark's file listing skips names starting with '.'), so
    a reader never sees a partial file, then renamed into a fresh
    ``path``.  Timestamps are INT96, as Spark writes them."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, use_deprecated_int96_timestamps=True)
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    parent, name = path.rsplit("/", 1)
    final, hidden = Path(path), Path(f"{parent}/.{name}.parquet.tmp")
    fs = final.getFileSystem(sc._jsc.hadoopConfiguration())
    out = fs.create(hidden, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    fs.delete(final, True)
    if not (fs.mkdirs(final) and fs.rename(hidden, Path(final, "part-00000.parquet"))):
        raise OSError(f"could not move the metrics row into {path}")


@dataclass
class BatchRouter:
    """The foreachBatch callback: metrics -> data writes -> metrics row
    -> alerts."""

    sink: SinkConfig
    monitor: PipelineMonitor = field(default_factory=PipelineMonitor)
    retry: RetryPolicy = field(default_factory=database_retry_policy)
    write_fn: Callable[[DataFrame, str, int], None] | None = None
    _columns: _EpochColumns | None = field(default=None, init=False, repr=False)

    def _write(self, df: DataFrame, path: str, batch_id: int) -> None:
        if self.write_fn is not None:
            self.write_fn(df, path, batch_id)
        else:
            # 'epoch' (not 'batch_id') so the dir key never shadows the
            # metrics table's batch_id data column on read
            df.write.mode("overwrite").parquet(f"{path}/epoch={batch_id}")

    def _write_metrics(
        self, spark: SparkSession, q: BatchQualityMetrics, path: str, batch_id: int
    ) -> None:
        if self.write_fn is not None:
            self.write_fn(metrics_row_df(spark, q), path, batch_id)
        else:
            _write_marker_file(spark, metrics_row_table(q), f"{path}/epoch={batch_id}")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # the foreachBatch idiom: the epoch feeds the metrics collect and
        # the data writes, so cache it once, and release it on every
        # exit -- only unpersist drops a cached plan, so a long-running
        # stream would otherwise keep every epoch it has seen
        batch_df.persist()
        try:
            self._route(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _route(self, batch_df: DataFrame, batch_id: int) -> None:
        started = time.monotonic()
        names = batch_df.columns
        if self._columns is None or self._columns.names != names:
            self._columns = _EpochColumns.for_columns(names)
        cols = self._columns
        # the one action that materialises the epoch (and commits the
        # dedup state): it runs alone, as two first actions at once
        # would both run the stateful plan
        q = cols.quality.collect(batch_df, batch_id)
        if q.total_rows == 0:
            return
        # each frame is a filter and projection over the persisted
        # epoch, so every write reads the cached blocks
        writes = [
            (
                batch_df.filter(cond).select(*projection)
                .coalesce(math.ceil(rows / ROWS_PER_WRITE_PARTITION)),
                path,
            )
            for cond, projection, rows, path in (
                (cols.valid, cols.events, q.valid_rows, self.sink.events_path),
                (cols.invalid, cols.dead_letters, q.invalid_rows, self.sink.dead_letter_path),
            )
            if rows
        ]
        # the data writes run at the same time, each in a thread that
        # carries the caller's job group, description and tags (so
        # stopping the query cancels them); leaving the pool waits for
        # every write, as the epoch's cache is released after this;
        # the first error in submission order is raised, any other
        # is logged
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = [
                pool.submit(
                    inheritable_thread_target(batch_df.sparkSession)(self.retry.execute),
                    self._write, df, path, batch_id,
                )
                for df, path in writes
            ]
        errors = [e for e in (f.exception() for f in futures) if e is not None]
        for later in errors[1:]:
            log.error("batch %s: another data write failed too", batch_id, exc_info=later)
        if errors:
            raise errors[0]
        # last, and only after every data write succeeded: the
        # metrics row marks the epoch as committed
        self.retry.execute(
            functools.partial(self._write_metrics, batch_df.sparkSession),
            q, self.sink.metrics_path, batch_id,
        )
        q.processing_seconds = time.monotonic() - started

        for alert in self.monitor.record(q):
            log.log(
                logging.ERROR if alert.level == "ERROR" else logging.WARNING,
                "batch %s alert [%s]: %s", batch_id, alert.kind, alert.message,
            )
