"""Per-layer metrics of the traced run.

Each metric is named after the module it measures.  The JSON result
carries the ``per_layer`` metrics of BENCHMARK.json, which every
workload measures; metrics of a layer a workload does not touch read
0 there.  Metrics that exist on one workload only, and the per-query
and per-epoch tables, are printed and written to the trace file.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime

from . import ckptlog, sparkstats
from .common import cached_block_stats
from .stats import slope

COUNTS_DEFAULT = (
    "spark.checkpoint_rdds", "spark.checkpoint_bytes",
    "functions.python_rows_received", "functions.python_bytes_sent",
    "functions.python_bytes_received", "queries.executions",
    "streaming.epochs", "streaming.backlog_files_max",
    "operators.dedup.state_rows", "operators.dedup.state_bytes",
    "operators.dedup.rows_dropped", "streaming.sinks.output_files",
    "utils.retry.attempts", "utils.retry.failures", "utils.retry.breaker_opens",
    "utils.monitoring.alerts",
)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _add_ratios(m: dict) -> None:
    m["spark.tasks_per_stage"] = m["spark.tasks"] / max(1.0, m["spark.stages"])
    # a share, not seconds: with a fixed heap a short window often sees
    # no collection at all
    run_s = m["spark.executor_run_s"]
    m["spark.gc_share"] = m["spark.gc_s"] / run_s if run_s else 0.0


class BatchLayers:
    """Collects one row per timed query, between queries."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.rows: list[dict] = []
        self.collect_s = 0.0

    def after_query(self, qt) -> None:
        t = time.time()
        jobs = sparkstats.job_ids(self.spark, qt.group)
        row = {"query": qt.name, "pass": qt.pass_no,
               "queries.compose_s": qt.compose_s, "queries.execute_s": qt.execute_s}
        row.update(sparkstats.stage_metrics(self.spark, jobs))
        row.update(sparkstats.python_metrics(self.spark, jobs))
        rdds, nbytes = cached_block_stats(self.spark)
        row["spark.checkpoint_rdds"], row["spark.checkpoint_bytes"] = rdds, nbytes
        self.rows.append(row)
        self.collect_s += time.time() - t

    def metrics(self) -> tuple[dict, dict]:
        """(metrics every workload has, metrics of this workload only)"""
        rows = self.rows
        common = dict.fromkeys(COUNTS_DEFAULT, 0.0)
        summed = [k for k in rows[0] if k.startswith(("spark.", "sources.", "functions."))
                  and k not in ("spark.task_skew",)]
        for k in summed:
            common[k] = sum(r[k] for r in rows)
        common["spark.task_skew"] = max(r["spark.task_skew"] for r in rows)
        _add_ratios(common)
        common["queries.executions"] = len(rows)
        own = {
            "queries.compose_s": sum(r["queries.compose_s"] for r in rows),
            "queries.execute_s": sum(r["queries.execute_s"] for r in rows),
        }
        return common, own


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# order in which a micro-batch runs its phases
_PHASES = (
    ("latestOffset", "sources.csv_stream.offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "sources.csv_stream.offset"),
    ("queryPlanning", "streaming.planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)


def stream_layers(ctx, r, progress: list[dict], run_id: str) -> tuple[dict, dict, list[dict]]:
    """Per-epoch table and layer metrics of the measured stream phases
    (trickle and burst).  Epoch spans are rebuilt from the progress
    events; the sink-call spans recorded live are hung under them."""
    spark = ctx.spark
    tracer = ctx.tracer
    t_collect = time.time()
    measured_from = r.trickle_t0 - 0.2
    epochs = [p for p in progress if p["runId"] == run_id and _ts(p["timestamp"]) >= measured_from]
    file_epoch = {os.path.basename(p): e for p, e in ckptlog.file_epochs(r.checkpoint).items()}
    redelivered = sum(f.redelivered for f in r.inputs.files if f.phase != "warm")
    measured_files = {f.name for f in r.inputs.files if f.phase != "warm"}

    # jobs of the stream, attributed to epochs by their description
    jobs_by_epoch = sparkstats.stream_jobs_by_epoch(spark, run_id)
    calls = {b: (s, e) for b, s, e in r.call_times}
    rows = []
    for p in epochs:
        epoch = p["batchId"]
        start = _ts(p["timestamp"])
        dur = p["durationMs"]
        span = tracer.add("streaming.epoch", start, start + dur.get("triggerExecution", 0) / 1e3,
                          epoch=epoch, rows=p["numInputRows"])
        at = start
        add_batch_span = None
        for key, name in _PHASES:
            if key in dur:
                sid = tracer.add(name, at, at + dur[key] / 1e3, parent=span, epoch=epoch)
                if key == "addBatch":
                    add_batch_span = sid
                at += dur[key] / 1e3
        for s in tracer.spans:
            if s.name == "streaming.sinks.call" and s.attrs.get("epoch") == epoch:
                s.parent = add_batch_span
        state = (p.get("stateOperators") or [{}])[0]
        stage = sparkstats.stage_metrics(spark, jobs_by_epoch.get(epoch, []))
        row = {
            "epoch": epoch,
            "rows": p["numInputRows"],
            "files": sum(1 for e in file_epoch.values() if e == epoch),
            "streaming.epoch_s": dur.get("triggerExecution", 0) / 1e3,
            "sources.csv_stream.offset_ms": dur.get("latestOffset", 0) + dur.get("getBatch", 0),
            "streaming.planning_ms": dur.get("queryPlanning", 0),
            "streaming.add_batch_ms": dur.get("addBatch", 0),
            "streaming.wal_commit_ms": dur.get("walCommit", 0),
            "streaming.commit_offsets_ms": dur.get("commitOffsets", 0),
            "operators.dedup.state_rows": state.get("numRowsTotal", 0),
            "operators.dedup.state_bytes": state.get("memoryUsedBytes", 0),
            "operators.dedup.state_commit_ms": state.get("commitTimeMs", 0),
            "operators.dedup.dropped": (state.get("customMetrics") or {}).get(
                "numDroppedDuplicateRows", 0),
            "streaming.epoch_executor_cpu_s": stage["spark.executor_cpu_s"],
            "streaming.epoch_shuffle_bytes": stage["spark.shuffle_read_bytes"]
            + stage["spark.shuffle_write_bytes"],
            "stage": stage,
        }
        if epoch in calls:
            s, e = calls[epoch]
            row["streaming.sinks.call_s"] = e - s
        rows.append(row)

    data_rows = [row for row in rows if row["rows"] > 0]
    all_jobs = [j for e in (row["epoch"] for row in rows) for j in jobs_by_epoch.get(e, [])]
    common = dict.fromkeys(COUNTS_DEFAULT, 0.0)
    common.update(sparkstats.stage_metrics(spark, all_jobs))
    common.update(sparkstats.python_metrics(spark, all_jobs))
    _add_ratios(common)
    common["streaming.epochs"] = len(rows)
    common["operators.dedup.state_rows"] = max((x["operators.dedup.state_rows"] for x in rows), default=0)
    common["operators.dedup.state_bytes"] = max((x["operators.dedup.state_bytes"] for x in rows), default=0)
    dropped = sum(x["operators.dedup.dropped"] for x in rows)
    common["operators.dedup.rows_dropped"] = dropped / redelivered if redelivered else 0.0

    # backlog when each epoch commits: files released so far that no
    # epoch up to this one has read, so waiting for the next.  Unlike
    # the backlog at an epoch's start it needs no fill-up: the trickle's
    # first epoch leaves as many waiting as any later one.  The slope
    # uses the epochs that commit while the trickle is still released.
    commits = ckptlog.read_commit_times(r.checkpoint)
    trickle_end = max(r.released[f.name]["done"] for f in r.inputs.phase("trickle"))
    backlog_t, backlog_n = [], []
    for row in rows:
        done = commits.get(row["epoch"])
        if done is None:
            continue
        released = sum(1 for n in measured_files if r.released[n]["done"] <= done)
        read = sum(1 for n in measured_files if file_epoch.get(n, 1 << 30) <= row["epoch"])
        row["backlog_files"] = released - read
        if done <= trickle_end:
            backlog_t.append(done)
            backlog_n.append(released - read)
    common["streaming.backlog_files_max"] = max(backlog_n, default=0)
    late = [r.released[n]["done"] - r.released[n]["due"] for n in measured_files]

    # counters of the measured phases: now minus when the trickle started
    stats, (stats0, alerts0) = r.router.retry.breaker.stats(), r.counters_before
    common["utils.retry.attempts"] = stats["total_calls"] - stats0["total_calls"]
    common["utils.retry.failures"] = stats["total_failures"] - stats0["total_failures"]
    common["utils.retry.breaker_opens"] = stats["times_opened"] - stats0["times_opened"]
    common["utils.monitoring.alerts"] = len(r.router.monitor.alerts) - alerts0
    measured = {row["epoch"] for row in rows}
    common["streaming.sinks.output_files"] = sum(
        1
        for table in ("ecommerce_events", "dead_letter_events", "data_quality_metrics")
        for e in measured
        for _, _, names in os.walk(os.path.join(r.output, table, f"epoch={e}"))
        for n in names if n.endswith(".parquet")
    )

    calls_s = [x["streaming.sinks.call_s"] for x in data_rows if "streaming.sinks.call_s" in x]
    writes = {t: _median([s for e, s in v if e in measured]) for t, v in r.write_times.items()}
    own = {
        "streaming.epoch_s": _median([x["streaming.epoch_s"] for x in data_rows]),
        "streaming.planning_ms": _median([x["streaming.planning_ms"] for x in data_rows]),
        "streaming.add_batch_ms": _median([x["streaming.add_batch_ms"] for x in data_rows]),
        "streaming.wal_commit_ms": _median([x["streaming.wal_commit_ms"] for x in data_rows]),
        "streaming.commit_offsets_ms": _median([x["streaming.commit_offsets_ms"] for x in data_rows]),
        "sources.csv_stream.offset_ms": _median(
            [x["sources.csv_stream.offset_ms"] for x in data_rows]),
        "operators.dedup.state_commit_ms": _median(
            [x["operators.dedup.state_commit_ms"] for x in data_rows]),
        "streaming.backlog_slope": slope(backlog_t, backlog_n),
        "streaming.backlog_samples": len(backlog_n),
        "streaming.release_late_s_max": max(late, default=0.0),
        "streaming.epoch_executor_cpu_s": _median(
            [x["streaming.epoch_executor_cpu_s"] for x in data_rows]),
        "streaming.epoch_shuffle_bytes": _median(
            [x["streaming.epoch_shuffle_bytes"] for x in data_rows]),
        "streaming.sinks.call_s": _median(calls_s),
        **{f"streaming.sinks.write_s.{t}": v for t, v in writes.items()},
        "streaming.sinks.other_s": _median(calls_s) - sum(writes.values()),
    }
    ctx.trace_collect_s += time.time() - t_collect
    for row in rows:
        row.pop("stage")
    return common, own, rows
