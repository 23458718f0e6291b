"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``stream_ingest`` or ``batch_queries``; ``all``
runs both, one process each) in one driver process (on
``local[$(nproc)]`` or half of that, see ``session_cpus``), checks its
outputs, and prints as its last line
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
BENCHMARK.json.  With ``--trace 1`` they are the ``per_layer`` ones;
the per-query or per-epoch tables and the spans are written to
``.perfbench/trace-<workload>-<seed>.json``.  Exits non-zero when an
output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, host  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("stream_ingest", "batch_queries")


class Context:
    """One run: its arguments, scratch directory, tracer and session."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer() if traced else NullTracer()
        self.workdir = os.path.join(common.WORK, f"run-{os.getpid()}-{workload}")
        shutil.rmtree(self.workdir, ignore_errors=True)
        os.makedirs(self.workdir)
        self.spark = None
        self.build_times: list[float] = []
        self.setup_times: list[float] = []
        self.warmup_s = 0.0
        self.queries: list = []
        self.layers = None
        self.trace_collect_s = 0.0

    def setup_session(self):
        """Build (or rebuild) the Spark session, timed."""
        from spark_streaming_postgres_lab2_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.build"):
            t = time.time()
            self.spark = build_session()
            self.build_times.append(time.time() - t)
        return self.spark

    def on_query_started(self, query) -> None:
        self.queries.append(query)

    def after_query(self, qt) -> None:
        """Traced batch runs: read the layers of the query just run."""
        from perfbench.layers import BatchLayers

        if self.layers is None:
            self.layers = BatchLayers(self.spark)
        self.layers.after_query(qt)

    def close(self) -> None:
        try:
            for q in self.queries:
                q.stop()
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
        finally:
            stop_jvm()
            shutil.rmtree(self.workdir, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM pyspark started and wait for it: it would otherwise
    notice only after this process exits that its stdin closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def benchmark_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_stream(ctx: Context) -> dict:
    from perfbench import layers, stream_ingest

    r = stream_ingest.run(ctx)
    out = {"e2e": stream_ingest.end_to_end(r), "problems": stream_ingest.check(r),
           "attempted": len(r.inputs.files)}
    if ctx.traced:
        shared, own, rows = layers.stream_layers(ctx, r, r.progress, r.run_id)
        out.update(shared=shared, own=own, rows=rows)
        # single-thread baseline of the same job, untraced, with half the
        # trickle and a burst of one small epoch
        kept = (ctx.tracer, ctx.setup_times, ctx.build_times, ctx.warmup_s)
        ctx.tracer, ctx.traced, ctx.setup_times, ctx.build_times = NullTracer(), False, [], []
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            base = stream_ingest.run(
                ctx, setups=1, tag="local1", seconds=ctx.seconds / 2,
                burst_files=stream_ingest.LOCAL1_BURST_FILES,
            )
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(session_cpus(ctx.workload))
            ctx.tracer, ctx.setup_times, ctx.build_times, ctx.warmup_s = kept
            ctx.traced = True
        out["own"].update(
            {f"local1.{k}": v for k, (v, _) in stream_ingest.end_to_end(base).items()}
        )
        out["problems"] += [f"local[1]: {p}" for p in stream_ingest.check(base)]
        out["attempted"] += len(base.inputs.files)
    return out


def run_batch(ctx: Context) -> dict:
    from perfbench import batch

    r = batch.run(ctx)
    out = {"e2e": batch.end_to_end(r), "problems": r.problems,
           "attempted": r.checked + len(r.times)}
    if ctx.traced:
        shared, own = ctx.layers.metrics()
        ctx.trace_collect_s += ctx.layers.collect_s
        out.update(shared=shared, own=own, rows=ctx.layers.rows)
    return out


def measured_window(spans) -> float:
    names = ("run.measured", "run.trickle", "run.burst")
    return sum(s.end - s.start for s in spans if s.name in names)


def session_cpus(workload: str) -> int:
    """Cores of the run's ``local[N]`` session.  The stream gets all of
    them: its epochs wait mostly on state and sink files, and on half
    the cores they ran a third longer and no steadier.  The batch
    queries get half: each curation task also runs an Arrow Python
    worker, and with the JIT and GC threads beside them a run on every
    core measured the scheduler, its spread two to four times wider."""
    cpus = os.cpu_count() or 1
    return cpus if workload == "stream_ingest" else max(1, cpus // 2)


def run_one(args) -> int:
    cpus = session_cpus(args.workload)
    common.prepare_env(cpus)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    cpu0, t0 = host.cpu_times(), time.time()
    try:
        out = run_stream(ctx) if ctx.workload == "stream_ingest" else run_batch(ctx)
        peak = (host.peak_rss_mb(os.getpid()) + host.peak_rss_mb(common.jvm_pid(ctx.spark))
                - common.jvm_heap_committed_mb(ctx.spark))
    finally:
        ctx.close()
    steal = host.steal_share(cpu0, host.cpu_times())

    spec = benchmark_spec()
    units = {w["name"]: w["unit"] for w in spec["end_to_end"]}
    m = dict(out["e2e"])
    m["setup_s"] = (statistics.median(ctx.setup_times), len(ctx.setup_times))
    m["peak_rss_outside_heap_mb"] = (peak, 1)
    # the first set-up starts the JVM; with the warm-up after it, the
    # run's whole cold start
    cold_start_s = ctx.setup_times[0] + ctx.warmup_s
    print(f"workload {ctx.workload} seed {ctx.seed} trace {int(ctx.traced)} "
          f"cpus {cpus} wall {time.time() - t0:.1f}s")
    for name, (value, n) in sorted(m.items()):
        print(f"{name} = {value:.4f} {units[name]} (n={n})")
    print(f"error_rate = {len(out['problems']) / out['attempted']:.4f} "
          f"({len(out['problems'])} failed of {out['attempted']} attempted)")
    print(f"setup_s samples {[round(t, 3) for t in ctx.setup_times]}, "
          f"warmup_s {ctx.warmup_s:.3f}, cold_start_s {cold_start_s:.3f}")
    print(f"host.steal_share = {steal:.4f}  host.loadavg = {os.getloadavg()}")
    for p in out["problems"]:
        print(f"CHECK FAILED: {p}")

    last_untraced = os.path.join(common.WORK, f"last-untraced-{ctx.workload}.json")
    if ctx.traced:
        layer = dict(out["shared"])
        layer["session.build_s"] = statistics.median(ctx.build_times)
        layer["session.warmup_s"] = ctx.warmup_s
        layer["session.cold_start_s"] = cold_start_s
        layer["trace.overhead_share"] = ctx.trace_collect_s / max(
            1e-9, measured_window(ctx.tracer.spans))
        report_layers(ctx, layer, out, m, last_untraced)
        values, wanted = layer, spec["per_layer"]
    else:
        values, wanted = {k: v for k, (v, _) in m.items()}, spec["end_to_end"]
        with open(last_untraced, "w") as fh:
            json.dump({"seed": ctx.seed, "metrics": values}, fh)
    result = {
        "correct": not out["problems"],
        "attempted": out["attempted"],
        "failed": len(out["problems"]),
        "metrics": {w["name"]: {"value": values[w["name"]], "unit": w["unit"]} for w in wanted},
    }
    print(json.dumps(result))
    return 0 if not out["problems"] else 1


def report_layers(ctx: Context, layer: dict, out: dict, e2e: dict, last_untraced: str) -> None:
    """Print the layer metrics and tables; write them and the spans."""
    print("-- per-layer metrics (BENCHMARK.json per_layer) --")
    for k, v in sorted(layer.items()):
        print(f"{k} = {v:.4f}")
    print(f"-- {ctx.workload} only --")
    for k, v in sorted(out["own"].items()):
        print(f"{k} = {v:.4f}")
    print("-- self time by span (s) --")
    self_times = ctx.tracer.self_times()
    for k, v in sorted(self_times.items(), key=lambda kv: -kv[1]):
        print(f"{k:40s} {v:9.3f}")
    key = "query" if ctx.workload == "batch_queries" else "epoch"
    print(f"-- per {key} --")
    for row in out["rows"]:
        print(" ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                       for k, v in row.items()))
    if os.path.exists(last_untraced):
        with open(last_untraced) as fh:
            base = json.load(fh)
        for k, v in sorted(base["metrics"].items()):
            if k in e2e and v:
                print(f"trace overhead vs untraced run (seed {base['seed']}): "
                      f"{k} {100 * (e2e[k][0] / v - 1):+.1f}%")
    path = os.path.join(common.WORK, f"trace-{ctx.workload}-{ctx.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": ctx.workload, "seed": ctx.seed,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "per_layer": layer, "own": out["own"], "rows": out["rows"],
            "self_time_s": self_times,
            "spans": [s.__dict__ for s in ctx.tracer.spans],
        }, fh)
    print(f"trace written to {path}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload != "all":
        return run_one(args)
    status = 0
    for w in WORKLOADS:
        status |= subprocess.call([
            sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
            str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ])
    return status


if __name__ == "__main__":
    raise SystemExit(main())
