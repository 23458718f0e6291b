"""Shared gap-based session-id derivation.

THE session rule of the engine (30-min inactivity gap, events ordered
by (ts, event_id) within user) -- kept in exactly one place because
three query families consume it: per-user session counts
(queries/core.q_sessionization), session intervals for the range-join
/ sweep-line pair (queries/advanced._session_intervals), and frequent
session paths (queries/advanced.q_session_path_mining).  A gap-rule
change edited here propagates to every consumer; the paired oracle
SQL strings must be updated together (they textually restate this
recurrence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_US = 1_800_000_000  # 30 minutes, in microseconds


def with_session_ids(events: DataFrame) -> DataFrame:
    """Add ``__new`` (1 at each session start) and ``__sid`` (per-user
    session ordinal) to an events frame with ``user_id``, ``ts``,
    ``event_id`` columns; a gap over ``SESSION_GAP_US`` starts a new
    session.  One window pass partitioned by user --
    partition size is bounded by per-user activity, never corpus
    size."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "__new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "__sid",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
