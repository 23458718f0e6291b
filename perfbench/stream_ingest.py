"""``stream_ingest``: the streaming pipeline fed open loop.

Events come from ``sources.datagen.EventGenerator`` and are written to
a staging directory before anything is timed; a fixed share of each
file repeats valid events already sent (redeliveries the dedup must
drop).  A separate process (release.py) moves the files into the
watched directory on a fixed schedule, so a slow pipeline builds a
backlog instead of slowing the input.

Phases, after warm-up epochs that absorb the cold start:
- trickle: ``TRICKLE_FILES_PER_S`` files a second for the run's
  seconds.  Each file's latency is its scheduled release to the mtime
  of ``commits/N`` of the epoch that read it.
- burst: ``BURST_FILES`` files released at once.  Drain time is the
  burst's release to the commit of the last epoch that read it.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from . import ckptlog
from .common import BENCH_DIR, ROOT, SETUPS

TRICKLE_FILES_PER_S = 2
TRICKLE_EVENTS = 500
# three times what a trickle epoch reads on a quiet host: the trickle
# is not throttled
MAX_FILES_PER_TRIGGER = 30
# one full epoch at the cap, with about twenty times the rows of a
# trickle epoch, so a change to the cost per row shows in the burst
# first
BURST_FILES = MAX_FILES_PER_TRIGGER
BURST_EVENTS = 3500
WARM_FILES = 4
# the local[1] baseline's burst: one epoch, a third of the cap
LOCAL1_BURST_FILES = 10
REDELIVER_SHARE = 0.02
TRIGGER_SECONDS = 1
# longer than one trigger interval
IDLE_QUIET_S = 1.1
# event clock of the generated data: fixed, so a seed names its inputs
BASE_NOW = datetime(2024, 3, 15, 12, 0, 0, tzinfo=timezone.utc)


@dataclass
class StreamFile:
    name: str
    phase: str  # warm | trickle | burst
    ids: list[str]
    redelivered: int


@dataclass
class Inputs:
    files: list[StreamFile] = field(default_factory=list)

    def phase(self, name: str) -> list[StreamFile]:
        return [f for f in self.files if f.phase == name]


def generate(seed: int, stage: str, trickle_files: int, burst_files: int) -> Inputs:
    """Write every input file to ``stage``; same seed, same files."""
    from spark_streaming_postgres_lab2_spark.sources.datagen import EventGenerator

    gen = EventGenerator(seed=seed, now=BASE_NOW)
    rng = random.Random(seed)
    pool: list[dict] = []  # valid events sent so far
    inputs = Inputs()

    def make(name: str, phase: str, n: int) -> None:
        k = max(1, round(n * REDELIVER_SHARE))
        events = gen.generate_batch(n - k)
        pool.extend(e for e in events if "_anomaly" not in e)
        repeats = [dict(e) for e in rng.sample(pool, k)]
        rows = events + repeats
        rng.shuffle(rows)
        gen.write_csv(rows, stage, name)
        inputs.files.append(StreamFile(name, phase, [e["event_id"] for e in rows], k))

    for i in range(WARM_FILES):
        make(f"w{i:03d}.csv", "warm", TRICKLE_EVENTS)
    for i in range(trickle_files):
        make(f"t{i:04d}.csv", "trickle", TRICKLE_EVENTS)
    for i in range(burst_files):
        make(f"b{i:03d}.csv", "burst", BURST_EVENTS)
    return inputs


class Writer:
    """Runs generate() as its own process, so the inputs are written
    while the first set-up starts the JVM: a thread would hold the GIL
    the driver's py4j calls need."""

    def __init__(self, seed: int, stage: str, trickle_files: int, burst_files: int):
        self.out = stage + ".json"
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.stream_ingest", str(seed), stage,
             str(trickle_files), str(burst_files), self.out],
            cwd=ROOT,
        )

    def wait(self) -> Inputs:
        if self.proc.wait(timeout=300) != 0:
            raise RuntimeError("input generation failed")
        with open(self.out) as fh:
            return Inputs([StreamFile(**f) for f in json.load(fh)])

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


class Releaser:
    """Runs release.py as its own process over one schedule."""

    def __init__(self, workdir: str, tag: str, items: list[tuple[float, str, str]], t0: float):
        self.log = os.path.join(workdir, f"release_{tag}.jsonl")
        schedule = os.path.join(workdir, f"schedule_{tag}.json")
        with open(schedule, "w") as fh:
            json.dump({"t0": t0, "items": items}, fh)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "release.py"), schedule, self.log]
        )

    def wait(self) -> dict[str, dict]:
        if self.proc.wait(timeout=120) != 0:
            raise RuntimeError("releaser failed")
        with open(self.log) as fh:
            return {r["name"]: r for r in map(json.loads, fh)}

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def wait_committed(query, checkpoint: str, names: set[str], timeout: float) -> dict[str, float]:
    """Poll the checkpoint until every named file's epoch has committed."""
    deadline = time.time() + timeout
    while True:
        done = ckptlog.file_commit_times(checkpoint)
        if names <= done.keys():
            return done
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            missing = sorted(names - done.keys())
            raise TimeoutError(f"{len(missing)} files not committed, e.g. {missing[:3]}")
        time.sleep(0.05)


def wait_idle(query, checkpoint: str, timeout: float) -> None:
    """Wait until every started epoch has committed and none has
    started for ``IDLE_QUIET_S`` (the no-data epoch that evicts dedup
    state runs right after the last data epoch)."""
    deadline = time.time() + timeout
    last, since = None, time.time()
    while time.time() < deadline:
        started = max(ckptlog.read_offsets(checkpoint), default=-1)
        done = max(ckptlog.read_commit_times(checkpoint), default=-1)
        if started == done == -1:
            return  # no epoch has run yet
        if (started, done) != last:
            last, since = (started, done), time.time()
        elif started == done and time.time() - since >= IDLE_QUIET_S:
            return
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        time.sleep(0.05)
    raise TimeoutError("stream did not go idle")


@dataclass
class StreamRun:
    """What one measured stream run leaves for metrics and checks."""

    inputs: Inputs
    checkpoint: str
    output: str
    released: dict[str, dict]
    committed: dict[str, float]
    trickle_t0: float
    burst_due: float
    router: object = None
    write_times: dict[str, list[tuple[int, float]]] = field(default_factory=dict)
    call_times: list[tuple[int, float, float]] = field(default_factory=list)
    # retry-breaker stats and alert count when the trickle started
    counters_before: tuple[dict, int] = ({}, 0)
    run_id: str = ""
    progress: list[dict] = field(default_factory=list)


def progress_listener(events: list[dict]):
    """A StreamingQueryListener that keeps every progress event:
    ``recentProgress`` keeps only the last 100."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def start_pipeline(spark, root: str, tracer, trace_sinks: bool):
    from spark_streaming_postgres_lab2_spark.config import StreamingConfig
    from spark_streaming_postgres_lab2_spark.streaming.pipeline import build_pipeline

    cfg = StreamingConfig(
        input_path=os.path.join(root, "in"),
        checkpoint_path=os.path.join(root, "ckpt"),
        output_path=os.path.join(root, "out"),
        trigger_seconds=TRIGGER_SECONDS,
        max_files_per_trigger=MAX_FILES_PER_TRIGGER,
    )
    os.makedirs(cfg.input_path, exist_ok=True)
    pipe = build_pipeline(spark, cfg)
    call_times: list[tuple[int, float, float]] = []
    write_times: dict[str, list[tuple[int, float]]] = {
        "events": [], "dead_letter": [], "metrics": []}
    router = pipe.router
    if trace_sinks:
        policy = router.retry
        execute = policy.execute
        tables = {
            router.sink.events_path: "events",
            router.sink.dead_letter_path: "dead_letter",
            router.sink.metrics_path: "metrics",
        }

        def timed_execute(fn, df, path, batch_id):
            table = tables.get(path, "other")
            with tracer.span(f"streaming.sinks.write.{table}", epoch=batch_id) as s:
                result = execute(fn, df, path, batch_id)
            write_times.setdefault(table, []).append((batch_id, s.end - s.start))
            return result

        policy.execute = timed_execute

        def timed_router(df, batch_id):
            with tracer.span("streaming.sinks.call", epoch=batch_id) as s:
                router(df, batch_id)
            call_times.append((batch_id, s.start, s.end))

        pipe.router = timed_router
    query = pipe.start()
    return cfg, query, router, call_times, write_times


def run(
    ctx, setups: int = SETUPS, tag: str = "stream", seconds: float | None = None,
    burst_files: int = BURST_FILES,
) -> StreamRun:
    """Set up, warm up, and run the trickle (``seconds`` long, the
    run's by default) and burst phases."""
    root = os.path.join(ctx.workdir, tag)
    stage = os.path.join(root, "stage")
    trickle_files = int((seconds or ctx.seconds) * TRICKLE_FILES_PER_S)
    tracer = ctx.tracer
    progress: list[dict] = []

    writer = Writer(ctx.seed, stage, trickle_files, burst_files)
    try:
        # set-up: session build and pipeline start, several times; the
        # last pipeline is the one measured
        for i in range(setups):
            if i:
                # the set-ups in a warm JVM, whose median setup_s is,
                # run alone
                writer.wait()
                query.stop()
            last = i == setups - 1
            t = time.time()
            spark = ctx.setup_session()
            if last and ctx.traced:
                spark.streams.addListener(progress_listener(progress))
            with tracer.span("streaming.pipeline.start"):
                cfg, query, router, call_times, write_times = start_pipeline(
                    spark, os.path.join(root, f"setup{i}"), tracer, ctx.traced and last
                )
            ctx.setup_times.append(time.time() - t)
            ctx.on_query_started(query)
        inputs = writer.wait()
    finally:
        writer.kill()

    def release(tag: str, files: list[StreamFile], spacing: float) -> tuple[Releaser, float]:
        # an idle query triggers on whole seconds of the wall clock:
        # release just before one, so the phase starts the same way
        # in every run
        t0 = math.ceil(time.time() + 0.3) - 0.1
        items = [
            (i * spacing, os.path.join(stage, f.name), os.path.join(cfg.input_path, f.name))
            for i, f in enumerate(files)
        ]
        return Releaser(ctx.workdir, tag, items, t0), t0

    def drain(tag: str, files: list[StreamFile], spacing: float) -> tuple[dict, dict, float]:
        wait_idle(query, cfg.checkpoint_path, timeout=60)
        rel, t0 = release(tag, files, spacing)
        try:
            committed = wait_committed(
                query, cfg.checkpoint_path, {f.name for f in files},
                timeout=len(files) * spacing + 150,
            )
            return committed, rel.wait(), t0
        finally:
            rel.kill()

    try:
        # warm-up: the first epochs pay JIT and codegen
        with tracer.span("session.warmup"):
            t = time.time()
            _, released, _ = drain("warm", inputs.phase("warm"), 0.0)
            ctx.warmup_s = time.time() - t
        counters_before = (router.retry.breaker.stats(), len(router.monitor.alerts))
        with tracer.span("run.trickle"):
            committed, rel, trickle_t0 = drain(
                "trickle", inputs.phase("trickle"), 1 / TRICKLE_FILES_PER_S
            )
            released.update(rel)
        with tracer.span("run.burst"):
            committed, rel, burst_due = drain("burst", inputs.phase("burst"), 0.0)
            released.update(rel)
    finally:
        query.stop()
    return StreamRun(
        inputs=inputs,
        checkpoint=cfg.checkpoint_path,
        output=cfg.output_path,
        released=released,
        committed=committed,
        trickle_t0=trickle_t0,
        burst_due=burst_due,
        router=router,
        write_times=write_times,
        call_times=call_times,
        counters_before=counters_before,
        run_id=str(query.runId),
        progress=progress,
    )


def end_to_end(r: StreamRun) -> dict:
    from .stats import nearest_rank

    trickle = r.inputs.phase("trickle")
    burst = r.inputs.phase("burst")
    lat = [r.committed[f.name] - r.released[f.name]["due"] for f in trickle]
    drain_s = max(r.committed[f.name] for f in burst) - r.burst_due
    burst_events = sum(len(f.ids) for f in burst)
    p50, p90 = nearest_rank(lat, 50), nearest_rank(lat, 90)
    print(f"stream.drain_events_per_s = {burst_events / drain_s:.1f} ({burst_events} events)")
    # printed, not carried: one or two samples lie beyond it
    print(f"stream.latency_s_p90 = {p90.value:.4f} s (n={p90.n})")
    print(f"stream.epochs: {epoch_lines(r)}")
    return {
        "latency_s_p50": (p50.value, p50.n),
        "pass_s": (drain_s, 1),
    }


def epoch_lines(r: StreamRun) -> str:
    """Each measured epoch: files read, start and commit relative to the
    trickle's first release."""
    offsets_dir = os.path.join(r.checkpoint, "offsets")
    commits = ckptlog.read_commit_times(r.checkpoint)
    files: dict[int, int] = {}
    for e in ckptlog.file_epochs(r.checkpoint).values():
        files[e] = files.get(e, 0) + 1
    out = []
    for e in sorted(commits):
        start = os.stat(os.path.join(offsets_dir, str(e))).st_mtime - r.trickle_t0
        if start >= -0.5:
            out.append(f"{e}:{files.get(e, 0)}f@{start:.2f}-{commits[e] - r.trickle_t0:.2f}")
    return " ".join(out)


def check(r: StreamRun) -> list[str]:
    """Reconcile the three sink tables against the released files."""
    import duckdb

    problems: list[str] = []
    sent_ids: set[str] = set()
    for f in r.inputs.files:
        sent_ids.update(f.ids)
    con = duckdb.connect()

    def table(name: str):
        path = os.path.join(r.output, name)
        if not os.path.isdir(path):
            return None
        return f"read_parquet('{path}/*/*.parquet', hive_partitioning=1)"

    events, dead, metrics = (
        table("ecommerce_events"), table("dead_letter_events"), table("data_quality_metrics")
    )
    if events is None or metrics is None:
        return ["sink tables missing"]
    ev_ids = [x for (x,) in con.sql(f"SELECT event_id FROM {events}").fetchall()]
    dead_ids = (
        [x for (x,) in con.sql(f"SELECT event_id FROM {dead}").fetchall()] if dead else []
    )
    if len(ev_ids) != len(set(ev_ids)):
        problems.append(f"{len(ev_ids) - len(set(ev_ids))} duplicate event_ids in ecommerce_events")
    if set(ev_ids) & set(dead_ids):
        problems.append("event_ids in both ecommerce_events and dead_letter_events")
    landed = set(ev_ids) | set(dead_ids)
    if landed != sent_ids:
        problems.append(
            f"{len(sent_ids - landed)} released event_ids missing, "
            f"{len(landed - sent_ids)} unknown event_ids in the sinks"
        )
    m_rows = con.sql(
        f"SELECT epoch, total_rows, valid_rows, invalid_rows FROM {metrics}"
    ).fetchall()
    data_epochs = {e for (e,) in con.sql(f"SELECT DISTINCT epoch FROM {events}").fetchall()}
    if dead:
        data_epochs |= {e for (e,) in con.sql(f"SELECT DISTINCT epoch FROM {dead}").fetchall()}
    m_epochs = [e for e, *_ in m_rows]
    if sorted(m_epochs) != sorted(data_epochs):
        problems.append(
            f"data_quality_metrics rows for epochs {sorted(m_epochs)} "
            f"but data in epochs {sorted(data_epochs)}"
        )
    total = sum(t for _, t, _, _ in m_rows)
    valid = sum(v for _, _, v, _ in m_rows)
    invalid = sum(i for _, _, _, i in m_rows)
    if (total, valid, invalid) != (len(ev_ids) + len(dead_ids), len(ev_ids), len(dead_ids)):
        problems.append(
            f"metrics totals {total}/{valid}/{invalid} != sink rows "
            f"{len(ev_ids) + len(dead_ids)}/{len(ev_ids)}/{len(dead_ids)}"
        )
    con.close()
    return problems


if __name__ == "__main__":
    # python3 -m perfbench.stream_ingest SEED STAGE TRICKLE_FILES BURST_FILES OUT.json
    seed, stage, trickle, burst, out = sys.argv[1:]
    written = generate(int(seed), stage, int(trickle), int(burst))
    with open(out, "w") as fh:
        json.dump([asdict(f) for f in written.files], fh)
