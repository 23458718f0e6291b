"""As-of (most-recent-prior) joins.

Spark has no native as-of join; two compositions cover the semantics
(guide: 'As-of / range join' pattern):

- ``asof_join_window``: same-frame case -> event-time window with
  ``last(..., ignorenulls)`` carrying the most recent marked value
  forward.  Pure Column ops: one shuffle on the key, scales like any
  window (oracle-expressible -- see queries/core.q_purchase_attribution).
- ``asof_join_pandas``: general two-table case -> ``cogroup`` both
  sides by key and run ``pandas.merge_asof`` per group (Arrow-batched
  two-sided co-partition; each key group must fit in memory, the
  standard per-key-state contract).
"""

from __future__ import annotations

from typing import List

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_window(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    mark_col,
    out_col: str = "asof_value",
    tiebreak_cols: List[str] | None = None,
) -> DataFrame:
    """Same-frame as-of: for every row, the most recent prior
    ``value_col`` among rows where ``mark_col`` holds (e.g. 'last view
    before this purchase by the same user').  Pass ``tiebreak_cols`` to
    make the ordering total when timestamps can tie -- without it the
    ROWS frame membership for tied timestamps is shuffle-order
    dependent.

    A marked row whose ``value_col`` is NULL still counts as the most
    recent marked row (its NULL is carried): presence is tracked via a
    struct wrapper so ``ignorenulls`` skips only unmarked rows, not
    marked-but-NULL values."""
    order = [ts_col] + list(tiebreak_cols or [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = F.when(mark_col, F.struct(F.col(value_col).alias("v")))
    carried = F.last(marked, ignorenulls=True).over(w).getField("v")
    return df.withColumn(out_col, carried)


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_values: List[str],
) -> DataFrame:
    """Two-table as-of join: for each left row, the latest right row
    with ``right_ts <= left_ts`` in the same ``key`` group.
    Implemented as a cogrouped ``applyInPandas`` running
    ``pandas.merge_asof`` per key -- both sides shuffle once on ``key``
    and merge Arrow-batched."""
    l_cols = list(left.columns)
    overlap = [c for c in right_values if c in l_cols]
    if overlap:
        raise ValueError(
            f"right_values {overlap} collide with left columns; rename the "
            "right-side columns before the as-of join"
        )
    extra = [c for c in right_values if c not in l_cols]
    out_cols = l_cols + extra
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in list(left.schema.fields)
        + [f for f in right.schema.fields if f.name in extra]
    )

    def merge_group(lf: pd.DataFrame, rf: pd.DataFrame) -> pd.DataFrame:
        if lf.empty:
            return pd.DataFrame({c: [] for c in out_cols})
        # merge_asof raises on null merge keys: route null-ts left rows
        # around the merge (null-filled), drop null-ts right rows (they
        # can never match)
        lf_null = lf[lf[left_ts].isna()].copy()
        lf = lf[lf[left_ts].notna()].sort_values(left_ts)
        rf = rf[rf[right_ts].notna()]
        for c in extra:
            lf_null[c] = None
        if lf.empty:
            return lf_null[out_cols]
        if rf.empty:
            lf = lf.copy()
            for c in extra:
                lf[c] = None
            return pd.concat([lf[out_cols], lf_null[out_cols]])
        rf = rf.sort_values(right_ts)[[right_ts] + right_values]
        if right_ts != left_ts:
            rf = rf.rename(columns={right_ts: left_ts})
        merged = pd.merge_asof(lf, rf, on=left_ts, direction="backward")
        if len(lf_null):
            merged = pd.concat([merged[out_cols], lf_null[out_cols]])
        return merged[out_cols]

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(merge_group, schema=out_schema)
    )
