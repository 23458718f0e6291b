"""End-to-end streaming pipeline: generator CSVs -> file stream ->
validate/enrich/dedup -> foreachBatch router -> parquet tables,
including replay idempotency and analytics views over the sink output
(reference docs/test_cases.md scenarios)."""

from __future__ import annotations

import json
import threading
from datetime import datetime, timezone

import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from spark_streaming_postgres_lab2_spark.config import StreamingConfig
from spark_streaming_postgres_lab2_spark.operators.analytics import (
    event_type_distribution,
    hourly_event_summary,
    register_analytics_views,
    user_sessions,
    verification_counts,
)
from spark_streaming_postgres_lab2_spark.operators.enrich import transform_and_enrich
from spark_streaming_postgres_lab2_spark.operators.validate import split_valid_invalid, validate
from spark_streaming_postgres_lab2_spark.schema.registry import get_registry
from spark_streaming_postgres_lab2_spark.sources.csv_stream import csv_stream
from spark_streaming_postgres_lab2_spark.sources.datagen import EventGenerator
from spark_streaming_postgres_lab2_spark.streaming.pipeline import build_pipeline
from spark_streaming_postgres_lab2_spark.streaming.sinks import BatchRouter, SinkConfig
from spark_streaming_postgres_lab2_spark.utils.retry import RetryPolicy

NOW = datetime(2024, 3, 15, 12, 0, 0, tzinfo=timezone.utc)
PARTITIONS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _checkpoint_conf(ckpt, batch: int = 0) -> dict:
    """The session conf a stream recorded in ``offsets/<batch>``."""
    lines = (ckpt / "offsets" / str(batch)).read_text().splitlines()
    return json.loads(lines[1])["conf"]


def _checkpoint_sources(ckpt, batch: int = 0) -> int:
    """Source offsets in ``offsets/<batch>``: the lines after the
    version and metadata lines, one per source."""
    return len((ckpt / "offsets" / str(batch)).read_text().splitlines()) - 2


def _epoch_dirs(root) -> set:
    return {str(d.relative_to(root)) for d in root.glob("*/epoch=*")}


def _state_partitions(ckpt) -> int:
    return sum(1 for d in (ckpt / "state" / "0").iterdir() if d.name.isdigit())


@pytest.fixture
def seven_partitions(spark):
    """The session at 7 shuffle partitions, unlike the core count, so a
    stream planned at the session's count shows in its checkpoint."""
    if spark.sparkContext.defaultParallelism == 7:
        pytest.skip("core count equals the probe's partition count")
    before = spark.conf.get(PARTITIONS)
    spark.conf.set(PARTITIONS, "7")
    yield spark
    spark.conf.set(PARTITIONS, before)


def _dedup_config(tmp_path, **overrides) -> StreamingConfig:
    return StreamingConfig(
        input_path=str(tmp_path / "in"),
        checkpoint_path=str(tmp_path / "ckpt"),
        output_path=str(tmp_path / "out"),
        max_files_per_trigger=10,
        **overrides,
    )


@pytest.fixture(scope="module")
def pipeline_output(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    input_dir, out_dir, ckpt = root / "in", root / "out", root / "ckpt"
    gen = EventGenerator(seed=7, anomaly_rate=0.10, now=NOW)
    for i in range(3):
        gen.write_csv(gen.generate_batch(100), str(input_dir), f"batch_{i:04d}.csv")

    cfg = StreamingConfig(
        input_path=str(input_dir),
        checkpoint_path=str(ckpt),
        output_path=str(out_dir),
        max_files_per_trigger=10,
    )
    pipe = build_pipeline(spark, cfg)
    q = pipe.start(trigger_once=True)
    q.awaitTermination(120)
    return spark, str(out_dir), pipe


def test_stream_writes_three_tables(pipeline_output):
    spark, out_dir, _ = pipeline_output
    events = spark.read.parquet(f"{out_dir}/ecommerce_events")
    dlq = spark.read.parquet(f"{out_dir}/dead_letter_events")
    metrics = spark.read.parquet(f"{out_dir}/data_quality_metrics")
    assert events.count() + dlq.count() == 300
    assert dlq.count() > 0  # 10% anomaly rate must produce dead letters
    m = metrics.agg(
        F.sum("total_rows").alias("t"), F.sum("valid_rows").alias("v"),
        F.sum("invalid_rows").alias("i"),
    ).first()
    assert m["t"] == 300 and m["v"] == events.count() and m["i"] == dlq.count()


def test_valid_rows_have_no_error_and_enrichment(pipeline_output):
    spark, out_dir, _ = pipeline_output
    events = spark.read.parquet(f"{out_dir}/ecommerce_events")
    assert "validation_errors" not in events.columns
    assert {"total_amount", "event_year", "is_late_arrival", "processed_at"} <= set(events.columns)
    assert events.filter(F.col("event_time").isNull()).count() == 0


def test_dead_letters_carry_error_tags(pipeline_output):
    spark, out_dir, _ = pipeline_output
    dlq = spark.read.parquet(f"{out_dir}/dead_letter_events")
    assert dlq.filter(F.col("validation_errors").isNull()).count() == 0


def test_monitor_recorded_batches(pipeline_output):
    _, _, pipe = pipeline_output
    assert len(pipe.router.monitor.window) >= 1
    assert pipe.router.monitor.health_summary()["status"] in ("HEALTHY", "DEGRADED")


def test_replay_is_idempotent(pipeline_output):
    """Re-running an epoch overwrites its own epoch=N subdir instead of
    duplicating rows (the reference relied on the Postgres PK for this)."""
    spark, out_dir, pipe = pipeline_output
    events_before = spark.read.parquet(f"{out_dir}/ecommerce_events").count()
    enriched = spark.read.parquet(f"{out_dir}/ecommerce_events")
    # simulate the engine re-delivering batch 0: feed the same rows with
    # the same batch_id through the router again
    from spark_streaming_postgres_lab2_spark.operators.validate import validate

    replay = validate(
        enriched.drop("is_valid").limit(events_before)
        .withColumn("event_time", F.col("event_time").cast("string"))
    )
    pipe.router(replay, batch_id=0)
    events_after = spark.read.parquet(f"{out_dir}/ecommerce_events").count()
    assert events_after <= events_before + 0  # no duplication beyond overwrite


def test_analytics_views_over_sink(pipeline_output):
    spark, out_dir, _ = pipeline_output
    events = spark.read.parquet(f"{out_dir}/ecommerce_events")
    dlq = spark.read.parquet(f"{out_dir}/dead_letter_events")

    hourly = hourly_event_summary(events)
    assert hourly.count() >= 1
    total = hourly.agg(F.sum("event_count")).first()[0]
    assert total == events.count()

    sessions = user_sessions(events)
    assert sessions.filter(F.col("session_start") > F.col("session_end")).count() == 0

    dist = event_type_distribution(events)
    assert dist.agg(F.sum("event_count")).first()[0] == events.count()

    vc = {r["table_name"]: r["row_count"] for r in verification_counts(events, dlq).collect()}
    assert vc["ecommerce_events"] == events.count()
    assert vc["dead_letter_events"] == dlq.count()

    register_analytics_views(spark, events)
    assert spark.sql("SELECT * FROM v_category_performance").count() >= 1


def test_streaming_dedup_drops_replayed_event_ids(spark, tmp_path):
    """The live watermark+dropDuplicates path (dead code in the
    reference, M:324-329): the same event_id in two files survives
    once."""
    gen = EventGenerator(seed=11, anomaly_rate=0.0, now=NOW)
    batch = gen.generate_batch(50)
    input_dir = tmp_path / "in"
    gen.write_csv(batch, str(input_dir), "a.csv")
    gen.write_csv(batch, str(input_dir), "b.csv")  # exact duplicate file

    cfg = StreamingConfig(
        input_path=str(input_dir),
        checkpoint_path=str(tmp_path / "ckpt"),
        output_path=str(tmp_path / "out"),
        max_files_per_trigger=10,
    )
    pipe = build_pipeline(spark, cfg)
    q = pipe.start(trigger_once=True)
    q.awaitTermination(120)
    events = spark.read.parquet(f"{tmp_path}/out/ecommerce_events")
    assert events.count() == 50
    assert events.select("event_id").distinct().count() == 50


def test_invalid_copy_does_not_consume_dedup_state(spark, tmp_path):
    """A corrupted event followed by a corrected resend with the same
    event_id: the invalid copy must not claim the dedup state and drop
    the valid copy (dedup applies to the valid branch only)."""
    import csv

    cols = ["event_id", "user_id", "session_id", "event_type", "product_id",
            "category", "price", "quantity", "user_segment", "search_query",
            "event_time", "source_system"]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    with open(input_dir / "a.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(cols)
        # invalid: negative price; then corrected resend, same event_id
        w.writerow(["dup-1", 1, "s", "view", 10, "books", -5.0, 0, "new", "",
                    "2024-03-15T12:00:00", "web"])
        w.writerow(["dup-1", 1, "s", "view", 10, "books", 0.0, 0, "new", "",
                    "2024-03-15T12:00:30", "web"])

    cfg = StreamingConfig(
        input_path=str(input_dir),
        checkpoint_path=str(tmp_path / "ckpt"),
        output_path=str(tmp_path / "out"),
        max_files_per_trigger=10,
    )
    pipe = build_pipeline(spark, cfg)
    q = pipe.start(trigger_once=True)
    q.awaitTermination(120)
    events = spark.read.parquet(f"{tmp_path}/out/ecommerce_events")
    dlq = spark.read.parquet(f"{tmp_path}/out/dead_letter_events")
    assert events.count() == 1  # corrected copy landed
    assert dlq.count() == 1     # corrupted copy dead-lettered


@pytest.fixture(scope="module")
def three_file_run(spark, tmp_path_factory):
    """One availableNow run over three files, one file per epoch.  Each
    file holds valid rows, two identical invalid rows and one invalid
    row of its own; the identical pair repeats in every file."""
    root = tmp_path_factory.mktemp("three_files")
    gen = EventGenerator(seed=17, anomaly_rate=0.0, now=NOW)
    file_rows = []
    for i in range(3):
        events = gen.generate_batch(20 + 10 * i)
        bad = dict(events[0], event_id="bad-dup", price=-5.0)
        events += [bad, dict(bad), dict(bad, event_id=f"bad-{i}")]
        gen.write_csv(events, str(root / "in"), f"batch_{i}.csv")
        file_rows.append(len(events))
    cfg = StreamingConfig(
        input_path=str(root / "in"),
        checkpoint_path=str(root / "ckpt"),
        output_path=str(root / "out"),
        max_files_per_trigger=1,
    )
    q = build_pipeline(spark, cfg).start(trigger_once=True)
    q.awaitTermination(120)
    return root, file_rows, q.recentProgress


def test_each_epoch_reads_its_files_once(three_file_run):
    """One source: an epoch's numInputRows is the rows of the file it
    read, and the checkpoint records one source offset."""
    root, file_rows, progress = three_file_run
    read = [p["numInputRows"] for p in progress if p["numInputRows"]]
    assert sorted(read) == sorted(file_rows)
    assert _checkpoint_sources(root / "ckpt") == 1


def test_every_invalid_row_lands_across_epochs(spark, three_file_run):
    """Invalid rows take a fresh dedup key each: identical invalid rows
    in one epoch and the same invalid row in later epochs all land."""
    root, file_rows, _ = three_file_run
    dlq_root = root / "out" / "dead_letter_events"
    assert len(list(dlq_root.glob("epoch=*"))) >= 3
    dlq = spark.read.parquet(str(dlq_root))
    assert dlq.count() == 9
    assert dlq.filter(F.col("event_id") == "bad-dup").count() == 6
    events = spark.read.parquet(str(root / "out" / "ecommerce_events"))
    assert events.count() == sum(file_rows) - 9


def test_checkpoint_of_the_two_branch_plan_fails_loudly(spark, tmp_path):
    """A checkpoint written by the earlier plan (split -> dedup the valid
    rows -> union the invalid ones: two sources over one directory) does
    not restart under the one-source plan, and the failed restart
    writes no epoch."""
    gen = EventGenerator(seed=19, anomaly_rate=0.1, now=NOW)
    gen.write_csv(gen.generate_batch(30), str(tmp_path / "in"), "a.csv")
    cfg = _dedup_config(tmp_path)
    pipe = build_pipeline(spark, cfg)
    enriched = transform_and_enrich(validate(csv_stream(
        spark, cfg.input_path, get_registry().get_schema(), cfg.max_files_per_trigger
    )))
    valid, invalid = split_valid_invalid(enriched)
    old_plan = (
        valid.withWatermark("processed_at", cfg.watermark_delay)
        .dropDuplicatesWithinWatermark(["event_id"])
        .unionByName(invalid)
    )
    first = (
        old_plan.writeStream.foreachBatch(pipe.router)
        .option("checkpointLocation", cfg.checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    first.awaitTermination(120)
    ckpt, out = tmp_path / "ckpt", tmp_path / "out"
    assert _checkpoint_sources(ckpt) == 2
    written = _epoch_dirs(out)
    assert "data_quality_metrics/epoch=0" in written

    gen.write_csv(gen.generate_batch(30), str(tmp_path / "in"), "b.csv")
    with pytest.raises(StreamingQueryException, match=r"\[2\] sources"):
        pipe.start(trigger_once=True).awaitTermination(120)
    assert _epoch_dirs(out) == written


def test_rocksdb_state_store_dedup(spark, tmp_path):
    """The RocksDB state-store provider (the large-state scale path)
    carries the same dedup semantics as the default provider; the
    query keeps the provider, the session does not."""
    gen = EventGenerator(seed=11, anomaly_rate=0.0, now=NOW)
    batch = gen.generate_batch(40)
    gen.write_csv(batch, str(tmp_path / "in"), "a.csv")
    gen.write_csv(batch, str(tmp_path / "in"), "b.csv")  # exact duplicate file

    session_provider = spark.conf.get(PROVIDER, None)
    pipe = build_pipeline(spark, _dedup_config(tmp_path, state_store_provider="rocksdb"))
    q = pipe.start(trigger_once=True)
    assert spark.conf.get(PROVIDER, None) == session_provider
    q.awaitTermination(120)
    ckpt = tmp_path / "ckpt"
    assert "RocksDB" in _checkpoint_conf(ckpt)[PROVIDER]
    assert list((ckpt / "state" / "0").glob("*/*.changelog"))
    events = spark.read.parquet(f"{tmp_path}/out/ecommerce_events")
    assert events.count() == 40
    assert events.select("event_id").distinct().count() == 40


def test_start_rejects_unknown_state_store_provider(spark, tmp_path):
    """No silent fallback to the default provider."""
    (tmp_path / "in").mkdir()
    pipe = build_pipeline(spark, _dedup_config(tmp_path, state_store_provider="rocks"))
    with pytest.raises(ValueError, match="rocks"):
        pipe.start(trigger_once=True)
    assert not (tmp_path / "ckpt").exists()


def test_start_lists_every_config_problem(spark, tmp_path):
    """A zero trigger interval is refused, not started back to back,
    and one error names every problem."""
    (tmp_path / "in").mkdir()
    pipe = build_pipeline(
        spark, _dedup_config(tmp_path, trigger_seconds=0, state_store_provider="rocks")
    )
    with pytest.raises(ValueError, match="trigger_seconds") as exc:
        pipe.start()
    assert "'rocks'" in str(exc.value)
    assert not (tmp_path / "ckpt").exists()


def test_new_stream_state_is_planned_at_the_core_count(seven_partitions, tmp_path):
    spark = seven_partitions
    cores = spark.sparkContext.defaultParallelism
    gen = EventGenerator(seed=5, anomaly_rate=0.0, now=NOW)
    gen.write_csv(gen.generate_batch(30), str(tmp_path / "in"), "a.csv")

    pipe = build_pipeline(spark, _dedup_config(tmp_path))
    q = pipe.start(trigger_once=True)
    assert spark.conf.get(PARTITIONS) == "7"
    q.awaitTermination(120)
    ckpt = tmp_path / "ckpt"
    assert _checkpoint_conf(ckpt)[PARTITIONS] == str(cores)
    assert _state_partitions(ckpt) == cores
    assert spark.read.parquet(f"{tmp_path}/out/ecommerce_events").count() == 30


def test_restart_keeps_the_checkpoint_partition_count(seven_partitions, tmp_path):
    """A checkpoint created at the session's 7 partitions keeps 7
    through a restart by ``start``, and its dedup state still drops a
    replayed file's event_ids."""
    spark = seven_partitions
    gen = EventGenerator(seed=13, anomaly_rate=0.0, now=NOW)
    batch = gen.generate_batch(40)
    gen.write_csv(batch, str(tmp_path / "in"), "a.csv")

    cfg = _dedup_config(tmp_path)
    pipe = build_pipeline(spark, cfg)
    first = (
        pipe.transformed_stream()
        .writeStream.foreachBatch(pipe.router)
        .option("checkpointLocation", cfg.checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    first.awaitTermination(120)
    ckpt = tmp_path / "ckpt"
    assert _state_partitions(ckpt) == 7

    gen.write_csv(batch, str(tmp_path / "in"), "b.csv")  # replayed file
    q = pipe.start(trigger_once=True)
    q.awaitTermination(120)
    assert _checkpoint_conf(ckpt, 1)[PARTITIONS] == "7"
    assert _state_partitions(ckpt) == 7
    assert spark.conf.get(PARTITIONS) == "7"
    events = spark.read.parquet(f"{tmp_path}/out/ecommerce_events")
    assert events.count() == 40
    assert events.select("event_id").distinct().count() == 40


def test_schema_drift_rejected_at_boundary(spark, tmp_path):
    """VERDICT r2 item 8: a source frame whose declared schema
    mismatches the registry (here: event_time as INT, plus an
    undeclared column) must be refused at plan-compose time, before
    any streaming query starts."""
    import pytest as _pytest

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from spark_streaming_postgres_lab2_spark.schema.registry import get_registry
    from spark_streaming_postgres_lab2_spark.streaming.pipeline import (
        SchemaDriftError,
    )

    good = get_registry().get_schema()
    drifted = StructType(
        [
            StructField(f.name, IntegerType() if f.name == "event_time" else f.dataType)
            for f in good.fields
        ]
        + [StructField("rogue_column", StringType())]
    )
    (tmp_path / "in").mkdir()
    cfg = StreamingConfig(
        input_path=str(tmp_path / "in"),
        checkpoint_path=str(tmp_path / "ckpt"),
        output_path=str(tmp_path / "out"),
    )
    pipe = build_pipeline(spark, cfg)
    bad_source = (
        spark.readStream.schema(drifted)
        .format("csv")
        .option("header", "true")
        .load(str(tmp_path / "in"))
    )
    with _pytest.raises(SchemaDriftError) as exc:
        pipe.transformed_stream(source=bad_source)
    assert "event_time" in exc.value.report["type_mismatches"]
    assert exc.value.report["extra_fields"] == ["rogue_column"]

    # a registry-conformant source composes fine (no query started)
    ok_source = (
        spark.readStream.schema(good)
        .format("csv")
        .option("header", "true")
        .load(str(tmp_path / "in"))
    )
    assert pipe.transformed_stream(source=ok_source).columns


def _epoch_frame(spark):
    """A validated two-row epoch: one valid view, one dead letter."""
    from pyspark.sql import Row

    rows = [
        Row(event_id="v", user_id=1, event_type="view", product_id=1, price=0.0,
            quantity=0, session_id="s", category="books", event_time="2024-03-15T12:00:00"),
        Row(event_id="x", user_id=2, event_type="view", product_id=2, price=-1.0,
            quantity=0, session_id="s", category="books", event_time="2024-03-15T12:00:01"),
    ]
    return validate(spark.createDataFrame(rows))


def _sink(root):
    return SinkConfig(
        events_path=f"{root}/ecommerce_events",
        dead_letter_path=f"{root}/dead_letter_events",
        metrics_path=f"{root}/data_quality_metrics",
    )


def _persisted_rdds(spark) -> set:
    # compared against the set before each call: other tests sharing the
    # session may leave their own blocks behind
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _no_retry():
    return RetryPolicy(max_retries=0, sleep=lambda _: None)


def test_router_releases_epoch_blocks(spark, tmp_path):
    """The epoch is cached for its metrics collect and writes and is
    unpersisted before the router returns."""
    before = _persisted_rdds(spark)
    router = BatchRouter(_sink(tmp_path))
    router(_epoch_frame(spark), 4)
    assert _persisted_rdds(spark) <= before
    for table in ("ecommerce_events", "dead_letter_events", "data_quality_metrics"):
        assert spark.read.parquet(f"{tmp_path}/{table}/epoch=4").count() == 1
    # the monitor holds the record the metrics row was built from, timed
    [m] = router.monitor.window
    row = spark.read.parquet(f"{tmp_path}/data_quality_metrics/epoch=4").first()
    counts = ("batch_id", "total_rows", "valid_rows", "invalid_rows", "late_arrival_count")
    assert tuple(getattr(m, c) for c in counts) == tuple(row[c] for c in counts) == (4, 2, 1, 1, 0)
    assert m.error_distribution == {"negative_price": 1}
    assert m.processing_seconds > 0


def test_router_holds_the_epoch_cached_while_writing(spark, tmp_path):
    """Every data write reads the persisted epoch: its frame's optimized
    plan scans the cached relation, not the epoch's lineage."""
    before = _persisted_rdds(spark)
    writes = []

    def record(df, path, batch_id):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        writes.append((
            path.rsplit("/", 1)[1], df.count(), bool(_persisted_rdds(spark) - before),
            "InMemoryRelation" in plan,
        ))

    BatchRouter(_sink(tmp_path), write_fn=record)(_epoch_frame(spark), 0)
    # the two data writes run at the same time, in either order
    assert set(writes[:2]) == {
        ("ecommerce_events", 1, True, True), ("dead_letter_events", 1, True, True),
    }
    assert writes[2:] == [("data_quality_metrics", 1, True, False)]
    assert _persisted_rdds(spark) <= before


def test_router_overlaps_the_data_writes_and_writes_metrics_last(spark, tmp_path):
    """Each data write waits for the other to start, so run one after the
    other they break the barrier; the metrics row, the epoch's commit
    marker, starts only after both have returned.  No write thread
    outlives the call."""
    both_running = threading.Barrier(2, timeout=10)
    steps, threads = [], set()

    def record(df, path, batch_id):
        table = path.rsplit("/", 1)[1]
        steps.append(("start", table))
        if table != "data_quality_metrics":
            threads.add(threading.current_thread())
            both_running.wait()
        steps.append(("end", table))

    BatchRouter(_sink(tmp_path), retry=_no_retry(), write_fn=record)(_epoch_frame(spark), 0)
    assert len(threads) == 2 and not any(t.is_alive() for t in threads)
    assert sorted(steps[:4]) == [
        ("end", "dead_letter_events"), ("end", "ecommerce_events"),
        ("start", "dead_letter_events"), ("start", "ecommerce_events"),
    ]
    assert steps[4:] == [("start", "data_quality_metrics"), ("end", "data_quality_metrics")]


def test_router_writes_carry_the_callers_job_group(spark, tmp_path):
    """The stream runs each epoch under its job group: the write threads
    keep it, so stopping the query cancels their jobs."""
    sc = spark.sparkContext
    seen = set()

    def record(df, path, batch_id):
        seen.add((
            path.rsplit("/", 1)[1],
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
        ))

    sc.setJobGroup("stream-query", "batch = 6")
    try:
        BatchRouter(_sink(tmp_path), write_fn=record)(_epoch_frame(spark), 6)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert seen == {
        (table, "stream-query", "batch = 6")
        for table in ("ecommerce_events", "dead_letter_events", "data_quality_metrics")
    }


def test_router_failed_data_write_lets_the_other_finish(spark, tmp_path):
    """The dead-letter write finishes, on the cached epoch, before the
    events write's error propagates; the epoch gets no metrics row and
    the monitor records nothing."""
    before = _persisted_rdds(spark)
    finished = []

    def write(df, path, batch_id):
        table = path.rsplit("/", 1)[1]
        if table == "ecommerce_events":
            raise OSError("events sink down")
        finished.append((table, df.count(), bool(_persisted_rdds(spark) - before)))

    router = BatchRouter(_sink(tmp_path), retry=_no_retry(), write_fn=write)
    with pytest.raises(OSError, match="events sink down"):
        router(_epoch_frame(spark), 3)
    assert finished == [("dead_letter_events", 1, True)]
    assert _persisted_rdds(spark) <= before
    assert not router.monitor.window and not router.monitor.alerts


def test_router_metrics_row_is_one_file_with_the_reference_schema(spark, tmp_path):
    """The metrics row is one parquet file typed as a Spark-written row
    of literals: every field required, the timestamp INT96."""
    import pyarrow.parquet as pq

    BatchRouter(_sink(tmp_path))(_epoch_frame(spark), 5)
    epoch_dir = tmp_path / "data_quality_metrics" / "epoch=5"
    [path] = epoch_dir.glob("*.parquet")
    columns = pq.ParquetFile(path).schema
    assert [
        (columns.column(i).name, columns.column(i).physical_type,
         columns.column(i).max_definition_level)
        for i in range(len(columns))
    ] == [
        ("batch_id", "INT64", 0), ("total_rows", "INT64", 0), ("valid_rows", "INT64", 0),
        ("invalid_rows", "INT64", 0), ("validity_rate", "DOUBLE", 0),
        ("late_arrival_count", "INT64", 0), ("recorded_at", "INT96", 0),
    ]
    row = spark.read.parquet(str(epoch_dir))
    assert row.dtypes == [
        ("batch_id", "bigint"), ("total_rows", "bigint"), ("valid_rows", "bigint"),
        ("invalid_rows", "bigint"), ("validity_rate", "double"),
        ("late_arrival_count", "bigint"), ("recorded_at", "timestamp"),
    ]
    assert row.drop("recorded_at").collect()[0].asDict() == {
        "batch_id": 5, "total_rows": 2, "valid_rows": 1, "invalid_rows": 1,
        "validity_rate": 0.5, "late_arrival_count": 0,
    }


def test_router_writes_the_metrics_row_without_a_spark_job(spark, tmp_path):
    """The driver holds the counts, so the metrics row is written with
    no Spark job: its write runs under a job group that gets none."""
    sc = spark.sparkContext
    router = BatchRouter(_sink(tmp_path))
    execute = router.retry.execute

    def grouped(fn, payload, path, batch_id):
        if path != router.sink.metrics_path:
            return execute(fn, payload, path, batch_id)
        sc.setJobGroup("metrics-row-write", "the metrics row")
        try:
            return execute(fn, payload, path, batch_id)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    router.retry.execute = grouped
    router(_epoch_frame(spark), 8)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("metrics-row-write")) == []
    assert len(list((tmp_path / "data_quality_metrics" / "epoch=8").glob("*.parquet"))) == 1


def test_router_replayed_epoch_replaces_its_metrics_row(spark, tmp_path):
    """A replay of epoch N overwrites its own marker: one file, holding
    the second write's counts, and no hidden file left behind."""
    router = BatchRouter(_sink(tmp_path))
    router(_epoch_frame(spark), 7)
    router(_epoch_frame(spark).filter("is_valid"), 7)
    metrics = tmp_path / "data_quality_metrics"
    assert sorted(p.name for p in metrics.iterdir()) == ["epoch=7"]
    assert len(list((metrics / "epoch=7").glob("*.parquet"))) == 1
    row = spark.read.parquet(str(metrics / "epoch=7")).collect()
    assert [(r.batch_id, r.total_rows, r.valid_rows, r.invalid_rows) for r in row] == [(7, 1, 1, 0)]


def test_router_writes_one_file_per_table_for_a_small_epoch(spark, tmp_path):
    """An epoch of at most ROWS_PER_WRITE_PARTITION rows per table,
    spread over 4 partitions, writes one parquet file per data table."""
    from pyspark.sql import Row

    rows = [
        Row(event_id=f"e{i}", user_id=i, event_type="view", product_id=i,
            price=-1.0 if i % 2 else 0.0, quantity=0, session_id="s", category="books",
            event_time="2024-03-15T12:00:00")
        for i in range(40)
    ]
    epoch = validate(spark.createDataFrame(rows)).repartition(4)
    BatchRouter(_sink(tmp_path))(epoch, 9)
    for table in ("ecommerce_events", "dead_letter_events"):
        epoch_dir = tmp_path / table / "epoch=9"
        assert len(list(epoch_dir.glob("*.parquet"))) == 1, table
        assert spark.read.parquet(str(epoch_dir)).count() == 20


def test_router_all_invalid_epoch_writes_no_events_file(spark, tmp_path):
    """A table whose count is 0 gets no write: an all-invalid epoch
    writes its dead letters and its metrics row, and no events."""
    router = BatchRouter(_sink(tmp_path))
    router(_epoch_frame(spark).filter(~F.col("is_valid")), 3)
    assert not (tmp_path / "ecommerce_events" / "epoch=3").exists()
    assert spark.read.parquet(f"{tmp_path}/dead_letter_events/epoch=3").count() == 1
    row = spark.read.parquet(f"{tmp_path}/data_quality_metrics/epoch=3").first()
    assert (row.total_rows, row.valid_rows, row.invalid_rows) == (1, 0, 1)


def test_router_rebuilds_its_columns_when_the_epoch_columns_change(spark, tmp_path):
    """The router's Columns are built once per set of epoch columns:
    reused while the columns hold, rebuilt when they change."""
    router = BatchRouter(_sink(tmp_path))
    router(_epoch_frame(spark), 1)
    built = router._columns
    router(_epoch_frame(spark), 2)
    assert router._columns is built
    router(_epoch_frame(spark).drop("category"), 3)
    assert router._columns is not built
    assert [m.null_counts for m in router.monitor.window] == [
        {"user_id": 0, "session_id": 0, "category": 0, "quantity": 0},
    ] * 2 + [{"user_id": 0, "session_id": 0, "quantity": 0}]
    assert spark.read.parquet(f"{tmp_path}/ecommerce_events/epoch=3").columns == [
        c for c in spark.read.parquet(f"{tmp_path}/ecommerce_events/epoch=1").columns
        if c != "category"
    ]


def test_stream_router_with_a_write_fn_leaves_the_active_session(spark, tmp_path):
    """A write_fn sink gets its metrics row as a frame of the stream's
    session, built without making that session (AQE off) the process's
    active one: build_session() still returns the session it built."""
    from spark_streaming_postgres_lab2_spark.session import build_session

    gen = EventGenerator(seed=3, anomaly_rate=0.5, now=NOW)
    gen.write_csv(gen.generate_batch(20), str(tmp_path / "in"), "batch_0000.csv")
    pipe = build_pipeline(spark, _dedup_config(tmp_path))
    tables = []
    pipe.router.write_fn = lambda df, path, batch_id: tables.append(path.rsplit("/", 1)[1])
    pipe.start(trigger_once=True).awaitTermination(120)
    assert tables[-1] == "data_quality_metrics"
    assert build_session().conf.get("spark.sql.adaptive.enabled") == "true"


def test_router_empty_epoch_writes_and_records_nothing(spark, tmp_path):
    before = _persisted_rdds(spark)
    router = BatchRouter(_sink(tmp_path / "out"))
    router(_epoch_frame(spark).filter(F.lit(False)), 1)
    assert _persisted_rdds(spark) <= before
    assert not (tmp_path / "out").exists()
    assert not router.monitor.window and not router.monitor.alerts


def test_router_releases_epoch_blocks_when_a_write_fails(spark, tmp_path, caplog):
    before = _persisted_rdds(spark)

    def fail(df, path, batch_id):
        raise OSError(f"sink down: {path.rsplit('/', 1)[1]}")

    router = BatchRouter(_sink(tmp_path), retry=_no_retry(), write_fn=fail)
    with pytest.raises(OSError, match="sink down: ecommerce_events"):
        router(_epoch_frame(spark), 2)
    assert _persisted_rdds(spark) <= before
    assert not router.monitor.window
    # the first error (in submission order) propagates; the other is logged
    assert [str(r.exc_info[1]) for r in caplog.records if r.exc_info] == [
        "sink down: dead_letter_events"
    ]
