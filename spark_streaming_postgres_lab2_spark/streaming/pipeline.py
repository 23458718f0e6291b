"""Stream assembly: source -> validate -> enrich -> dedup -> sinks.

Parity target: reference main flow (M:320-332, 506-515) with one
deliberate fix: the reference builds a watermark+dropDuplicates frame
and then *doesn't stream it* (dead code, M:324-329 vs :507), relying
on the Postgres PK instead.  Here the dedup path is LIVE: the started
query streams the deduplicated frame, and the parquet sink's
per-epoch overwrite keeps replays idempotent without a PK backstop.

The query is one linear chain over one source, so each input file is
parsed once per epoch: one watermarked dedup runs over the whole
validated frame, and the router then splits it into valid rows and
dead letters.  The dedup key is the event_id of a valid row and a fresh
uuid for an invalid one (reference intent, M:322-332): an invalid row
never takes a valid row's state, so a corrected resend of a rejected
event still lands, and never matches another row, so every dead letter
lands.  Invalid rows do sit in the state until the watermark evicts
them.

The dedup keeps one state store per shuffle partition, and a
checkpoint freezes that count when it is created; AQE does not apply
to stateful plans, so nothing coalesces it later.  ``start`` therefore
plans a new query at the engine's core count (``defaultParallelism``),
not at the session's batch-sized ``spark.sql.shuffle.partitions``; a
restart keeps the count its checkpoint recorded.  Spark refuses a
checkpoint written by the earlier two-source plan.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import STATE_STORE_CONFS, StreamingConfig
from ..operators.enrich import transform_and_enrich
from ..operators.validate import validate
from ..schema.registry import get_registry
from ..sources.csv_stream import csv_stream
from .sinks import BatchRouter, SinkConfig


class SchemaDriftError(ValueError):
    """A source frame's declared schema does not match the registry's
    current schema (missing required fields, extra fields, or type
    mismatches).  Raised at plan-compose time: schema drift is a
    structural property of the frame, not a per-row data error, so it
    must refuse the whole stream at the boundary rather than leak
    mistyped columns into the validation chain (reference
    documentation section 5's schema-drift stance)."""

    def __init__(self, report: dict):
        self.report = report
        super().__init__(
            "source schema does not match registry schema: "
            f"missing_required={report['missing_required_fields']} "
            f"extra={report['extra_fields']} "
            f"type_mismatches={report['type_mismatches']}"
        )


@contextmanager
def _session_conf(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session for the body only, then give
    each key back its previous value (unset if it had none)."""
    previous = {key: spark.conf.get(key, None) for key in settings}
    try:
        for key, value in settings.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in previous.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


@dataclass
class StreamingPipeline:
    spark: SparkSession
    config: StreamingConfig
    router: BatchRouter

    def transformed_stream(self, source: DataFrame | None = None) -> DataFrame:
        """The full logical plan: explicit-schema CSV stream ->
        registry boundary check -> validation rule chain -> enrichment
        -> watermarked dedup.  ``source`` injects an alternative
        streaming frame (kafka, memory, rate); whatever the source, its
        schema must satisfy the registry or SchemaDriftError is raised
        before any query starts."""
        schema = get_registry().get_schema()
        raw = source if source is not None else csv_stream(
            self.spark,
            self.config.input_path,
            schema,
            self.config.max_files_per_trigger,
        )
        report = get_registry().validate_against_schema(raw)
        if not report["is_valid"]:
            raise SchemaDriftError(report)
        validated = validate(raw)
        enriched = transform_and_enrich(validated)
        # Dedup state is watermarked on PROCESSING time, not event
        # time: the dedup guarantee is "drop redeliveries arriving
        # within the watermark horizon", which is a property of
        # arrival, not of the data's own timeline.  Watermarking on
        # event_time is poisonable -- one future-timestamped anomaly
        # (or replaying backdated data) advances the watermark past
        # the rest of the stream and silently drops every subsequent
        # valid row.  processed_at always moves with the wall clock,
        # so state is evicted exactly `watermark_delay` after arrival
        # and no data pathology can starve the pipeline.  The
        # WithinWatermark variant is what evicts: plain
        # dropDuplicates(keys) keeps a key forever unless the
        # watermarked column is one of the keys, so its state would
        # grow with the whole stream's history.  The key is the
        # event_id of a valid row only (see the module docstring).
        key = F.when(F.col("is_valid"), F.col("event_id")).otherwise(F.uuid())
        return (
            enriched.withColumn("__dedup_key", key)
            .withWatermark("processed_at", self.config.watermark_delay)
            .dropDuplicatesWithinWatermark(["__dedup_key"])
            .drop("__dedup_key")
        )

    def start(
        self, trigger_once: bool = False, source: DataFrame | None = None
    ) -> StreamingQuery:
        """Start the pipeline.  ``source`` injects an alternative
        streaming frame (Python DataSource, kafka, memory, rate) in
        place of the CSV directory watch -- the pipeline is
        source-agnostic past the registry boundary check, and the
        Python-DataSource path is executed end-to-end in
        tests/test_streamjoin_pysource.py.  A bad config raises one
        ValueError listing every problem, before the checkpoint exists."""
        problems = self.config.validate()
        if problems:
            raise ValueError("invalid streaming config: " + "; ".join(problems))
        writer = (
            self.transformed_stream(source=source)
            .writeStream.foreachBatch(self.router)
            .outputMode("append")
            .option("checkpointLocation", self.config.checkpoint_path)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.config.trigger_seconds} seconds")
        # the query clones the session conf when it starts (and records
        # the partition count and provider in its checkpoint), so these
        # keys are set for the start only: the session's batch queries
        # keep their own partition count, and a restart keeps the count
        # its checkpoint recorded
        with _session_conf(self.spark, {
            "spark.sql.shuffle.partitions": str(self.spark.sparkContext.defaultParallelism),
            **STATE_STORE_CONFS[self.config.state_store_provider],
        }):
            return writer.start()


def build_pipeline(spark: SparkSession, config: StreamingConfig) -> StreamingPipeline:
    router = BatchRouter(
        SinkConfig(
            events_path=f"{config.output_path}/ecommerce_events",
            dead_letter_path=f"{config.output_path}/dead_letter_events",
            metrics_path=f"{config.output_path}/data_quality_metrics",
        )
    )
    return StreamingPipeline(spark, config, router)
