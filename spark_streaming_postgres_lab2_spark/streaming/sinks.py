"""foreachBatch sink router: valid events / dead letter / quality
metrics, with idempotent parquet writes and retry-wrapped IO.

Parity target: reference ``write_to_postgres`` (M:363-441) + the three
JDBC appends (S3-S5).  Differences by design:

- parquet-first: each target table is a directory; JDBC stays
  available via sources/jdbc.py behind the same interface;
- exactly-once: the reference leans on the Postgres primary key to
  absorb replayed micro-batches (SURVEY §2.6 note); with parquet there
  is no PK, so writes go to ``<table>/epoch=N`` subdirectories in
  overwrite mode -- a replayed epoch overwrites its own output
  (idempotent), never duplicates it;
- metrics in ONE aggregation pass (operators/quality.py) instead of
  ~10 actions per batch.  With the epoch persisted once, a non-empty
  epoch runs the metrics collect alone (it materialises the epoch and
  commits the dedup state), then the events and dead-letter writes at
  the same time on the cached blocks, then the one-row metrics write
  last, as the epoch's commit marker: an epoch with a metrics row had
  both data writes succeed;
- the database retry policy is actually wired around the writes
  (the reference defines C1-C3 but never uses them, SURVEY §2.8).
"""

from __future__ import annotations

import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target

from ..operators.enrich import DEAD_LETTER_COLUMNS, ENRICHED_EVENT_COLUMNS
from ..operators.quality import calculate_quality_metrics, metrics_row_df
from ..operators.validate import split_valid_invalid
from ..utils.monitoring import PipelineMonitor
from ..utils.retry import RetryPolicy, database_retry_policy

log = logging.getLogger(__name__)


@dataclass
class SinkConfig:
    events_path: str
    dead_letter_path: str
    metrics_path: str


def write_partitioned_events(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Batch-layout twin of the sink: events partitioned by date parts,
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
        .write.mode(mode)
        .partitionBy("event_year", "event_month", "event_day")
        .parquet(path)
    )


@dataclass
class BatchRouter:
    """The foreachBatch callback: metrics -> data writes -> metrics row
    -> alerts."""

    sink: SinkConfig
    monitor: PipelineMonitor = field(default_factory=PipelineMonitor)
    retry: RetryPolicy = field(default_factory=database_retry_policy)
    write_fn: Callable[[DataFrame, str, int], None] | None = None

    def _write(self, df: DataFrame, path: str, batch_id: int) -> None:
        if self.write_fn is not None:
            self.write_fn(df, path, batch_id)
        else:
            # 'epoch' (not 'batch_id') so the dir key never shadows the
            # metrics table's batch_id data column on read
            df.write.mode("overwrite").parquet(f"{path}/epoch={batch_id}")

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
        # the one action that materialises the epoch (and commits the
        # dedup state): it runs alone, as two first actions at once
        # would both run the stateful plan
        q = calculate_quality_metrics(batch_df, batch_id)
        if q.total_rows == 0:
            return
        valid, dead = split_valid_invalid(batch_df)
        valid = valid.select(*[c for c in ENRICHED_EVENT_COLUMNS if c in batch_df.columns])
        dead = dead.select(*[c for c in DEAD_LETTER_COLUMNS if c in batch_df.columns])
        writes = [(valid, self.sink.events_path)]
        if q.invalid_rows:
            writes.append((dead, self.sink.dead_letter_path))
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
        metrics_df = metrics_row_df(batch_df.sparkSession, q)
        self.retry.execute(self._write, metrics_df, self.sink.metrics_path, batch_id)
        q.processing_seconds = time.monotonic() - started

        for alert in self.monitor.record(q):
            log.log(
                logging.ERROR if alert.level == "ERROR" else logging.WARNING,
                "batch %s alert [%s]: %s", batch_id, alert.kind, alert.message,
            )
