"""Streaming twin of the batch z-score anomaly detector
(``queries/advanced.q_zscore_anomaly_hours``): per event type, flag
time buckets whose count deviates >= 3 population-sigma from the
trailing ``WINDOW`` buckets -- live, with the trailing history held in
the checkpointed state store instead of recomputed from the full
table.

Same arithmetic as the batch operator: with S/Q the sum and
sum-of-squares of the trailing window (missing buckets count 0), the
flag is the exact integer predicate (c*x - S)^2 >= 9*(c*Q - S^2) and
z is display-only.  Semantics differences inherent to streaming, by
design: the warmup horizon is per TYPE (first bucket this key ever
saw) rather than the global table minimum, and a bucket's row is
re-emitted with updated values if late data arrives for it (update
output mode).  The batch operator remains the oracle-checked truth;
this twin trades edge-exactness for liveness.

Scale shape: bucketing happens JVM-side before the shuffle (the
grouped state operator receives slim (type, bucket) rows); state per
key is one short string (O(WINDOW) buckets, trimmed each batch), and
keys are event types -- state cardinality is vocabulary-sized, not
event-volume-sized.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..queries.advanced import _ZS_SIGMA, _ZS_WINDOW

BUCKET_SECONDS = 3600
# keep a little slack past the window so late buckets can still update
_KEEP = _ZS_WINDOW + 8

OUTPUT_SCHEMA = (
    "event_type string, bucket_id long, cnt long, z double, is_anomaly int"
)
STATE_SCHEMA = "first_bucket long, history string"


def _decode(state: GroupState) -> tuple[int | None, dict]:
    if not state.exists:
        return None, {}
    first, hist_s = state.get
    hist = {}
    for part in (hist_s or "").split(","):
        if part:
            b, c = part.split(":")
            hist[int(b)] = int(c)
    return first, hist


def _update_anomaly(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    first, hist = _decode(state)
    touched: set[int] = set()
    for pdf in pdfs:
        for b, c in pdf["bucket_id"].value_counts().items():
            b = int(b)
            hist[b] = hist.get(b, 0) + int(c)
            touched.add(b)
    if not touched and not hist:
        return
    if first is None:
        first = min(hist)
    first = min(first, min(hist))

    out = {k: [] for k in ("event_type", "bucket_id", "cnt", "z", "is_anomaly")}
    for b in sorted(touched):
        x = hist[b]
        win = range(b - _ZS_WINDOW, b)
        s = sum(hist.get(i, 0) for i in win)
        q = sum(hist.get(i, 0) ** 2 for i in win)
        c = _ZS_WINDOW
        warmup = (b - _ZS_WINDOW) < first
        dev = c * x - s
        varn = c * q - s * s
        if warmup:
            z, flag = None, None
        else:
            z = round(dev / varn**0.5, 4) if varn > 0 else None
            flag = (
                0
                if dev == 0
                else int(dev * dev >= _ZS_SIGMA * _ZS_SIGMA * varn)
            )
        out["event_type"].append(key[0])
        out["bucket_id"].append(b)
        out["cnt"].append(x)
        out["z"].append(z)
        out["is_anomaly"].append(flag)

    # trim state: keep the newest _KEEP buckets (first_bucket remembers
    # the true start so warmup stays correct after trimming)
    newest = max(hist)
    hist = {b: c for b, c in hist.items() if b > newest - _KEEP}
    state.update(
        (int(first), ",".join(f"{b}:{c}" for b, c in sorted(hist.items())))
    )
    yield pd.DataFrame(out)


def zscore_anomaly_stream(
    stream: DataFrame, bucket_seconds: int = BUCKET_SECONDS
) -> DataFrame:
    """Stateful streaming anomaly flags (update mode) over
    ``event_time`` buckets.  Bucketing runs JVM-side so only slim
    (event_type, bucket_id) rows reach the grouped-state shuffle."""
    proj = stream.select(
        "event_type",
        F.expr(f"unix_micros(event_time) div {bucket_seconds * 1_000_000}").alias(
            "bucket_id"
        ),
    )
    return proj.groupBy("event_type").applyInPandasWithState(
        _update_anomaly,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- decayed trending scores ---------------------------------------------------

TREND_DECAY = 0.5  # per-micro-batch exponential decay

TREND_OUTPUT_SCHEMA = "event_type string, score double, batches long"
TREND_STATE_SCHEMA = "score double, batches long"


TREND_IDLE_TIMEOUT_MS = 60_000  # evict keys idle this long


def trending_stream(
    stream: DataFrame, idle_timeout_ms: int | None = TREND_IDLE_TIMEOUT_MS
) -> DataFrame:
    """Per-event_type exponentially-decayed activity score (update mode):
    score <- score * TREND_DECAY + batch_count for every batch the key
    APPEARS in.  The stateful API never invokes absent keys, so a
    silent key cannot decay in place -- with ``idle_timeout_ms`` set
    (the default) it is instead EVICTED via processing-time timeout,
    emitting a zero-score tombstone row, which both honors the 'old
    activity fades' contract at the sink and bounds state-store size
    under high-cardinality keys.  Pass ``idle_timeout_ms=None`` to
    disable eviction (note: with availableNow triggers, pending
    timeouts keep the query scheduling extra micro-batches).  Global
    top-k over the emitted scores belongs in the sink (foreachBatch)
    -- cross-key ranking cannot live inside a per-key stateful
    operator."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            _, batches = state.get if state.exists else (0.0, 0)
            state.remove()
            yield pd.DataFrame(
                {"event_type": [key[0]], "score": [0.0], "batches": [int(batches)]}
            )
            return
        score, batches = state.get if state.exists else (0.0, 0)
        n = sum(len(pdf) for pdf in pdfs)
        score = score * TREND_DECAY + float(n)
        batches += 1
        state.update((float(score), int(batches)))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"event_type": [key[0]], "score": [score], "batches": [batches]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.select("event_type")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=TREND_OUTPUT_SCHEMA,
            stateStructType=TREND_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
