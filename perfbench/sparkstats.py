"""Per-layer readings from what Spark already publishes: the status
store (jobs, stages, task distributions) keyed by job group, and the
SQL status store's plan metrics.  Used by the traced run only."""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

from .common import drain_listener_bus

# SQL plan nodes that ship rows to Python workers
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowWindowPython",
    "AggregateInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
)
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}

STAGE_FIELDS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "sources.scan_bytes",
    "sources.scan_records",
)


def _iter(scala_collection):
    it = scala_collection.iterator()
    while it.hasNext():
        yield it.next()


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_metrics(spark, jobs: list[int]) -> dict[str, float]:
    """Sum the executor metrics of every stage the jobs ran.  Stages a
    job skipped (shuffle output reused) ran no tasks and add nothing.
    ``spark.task_skew`` is max/median task run time of the worst stage
    with more than one task."""
    sc = spark.sparkContext
    drain_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["spark.task_skew"] = 1.0
    seen: set[int] = set()
    quantiles = None
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["spark.jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            done = int(sd.numCompleteTasks())
            if done == 0:
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += done
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["sources.scan_bytes"] += sd.inputBytes()
            out["sources.scan_records"] += sd.inputRecords()
            if done > 1:
                if quantiles is None:
                    gw = sc._gateway
                    quantiles = gw.new_array(gw.jvm.double, 2)
                    quantiles[0], quantiles[1] = 0.5, 1.0
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, top = float(run.apply(0)), float(run.apply(1))
                    if med > 0:
                        out["spark.task_skew"] = max(out["spark.task_skew"], top / med)
    out["spark.executor_offcpu_s"] = out["spark.executor_run_s"] - out["spark.executor_cpu_s"]
    return out


def parse_metric(text: str) -> float:
    """The total of one SQL metric as the SQL status store formats it:
    ``"1,234"``, ``"12.5 MiB"``, or a ``total (min, med, max ...)``
    header followed by the total on the next line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]iB|B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "B", 1)


def python_metrics(spark, jobs: list[int]) -> dict[str, float]:
    """Rows and bytes exchanged with Python workers by the SQL
    executions that ran the given jobs."""
    out = {
        "functions.python_rows_received": 0.0,
        "functions.python_bytes_sent": 0.0,
        "functions.python_bytes_received": 0.0,
    }
    wanted = set(jobs)
    if not wanted:
        return out
    store = spark._jsparkSession.sharedState().statusStore()
    for execution in _iter(store.executionsList()):
        ids = {int(k) for k in _iter(execution.jobs().keys())}
        if not ids & wanted:
            continue
        exec_id = execution.executionId()
        # keyed by accumulator id; iterate, because a py4j lookup would
        # box a small id as Integer and miss the map's Long keys
        values = {int(kv._1()): kv._2() for kv in _iter(store.executionMetrics(exec_id))}
        for node in _iter(store.planGraph(exec_id).allNodes()):
            if not node.name().startswith(PYTHON_NODES):
                continue
            for metric in _iter(node.metrics()):
                value = values.get(int(metric.accumulatorId()))
                if value is None:
                    continue
                name = metric.name()
                if name == "data sent to Python workers":
                    out["functions.python_bytes_sent"] += parse_metric(value)
                elif name == "data returned from Python workers":
                    out["functions.python_bytes_received"] += parse_metric(value)
                elif name == "number of output rows":
                    out["functions.python_rows_received"] += parse_metric(value)
    return out


def stream_jobs_by_epoch(spark, run_id: str) -> dict[int, list[int]]:
    """Jobs of one streaming query, by epoch.  The query runs its jobs
    (foreachBatch sink jobs included) in job group ``runId`` with a
    description ending ``batch = N``."""
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[int, list[int]] = {}
    for jid in job_ids(spark, run_id):
        try:
            desc = store.job(jid).description()
        except Py4JJavaError:  # evicted from the store
            continue
        m = re.search(r"batch = (\d+)", desc.get() if desc.isDefined() else "")
        if m:
            out.setdefault(int(m.group(1)), []).append(jid)
    return out
