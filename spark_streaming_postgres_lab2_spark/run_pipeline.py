"""CLI entry point: run the streaming pipeline.

Usage (mirrors the reference's spark-submit job,
spark/spark_streaming_to_postgres.py):

    python -m spark_streaming_postgres_lab2_spark.run_pipeline \
        --input /data/incoming --output /data/tables \
        --checkpoint /data/ckpt [--once] [--trigger-seconds 10]

``--once`` drains everything currently available and exits
(availableNow); without it the query runs until interrupted.
"""

from __future__ import annotations

import argparse
import logging

from .config import StreamingConfig
from .session import build_session
from .streaming.pipeline import build_pipeline


def main(argv: list[str] | None = None) -> int:
    # unset flags fall back to the STREAM_* environment, not to copies
    # of its defaults
    defaults = StreamingConfig()
    parser = argparse.ArgumentParser(description="Run the streaming event pipeline")
    parser.add_argument("--input", required=True, help="CSV input directory to watch")
    parser.add_argument("--output", required=True, help="output table root directory")
    parser.add_argument("--checkpoint", required=True, help="checkpoint directory")
    parser.add_argument("--trigger-seconds", type=int, default=defaults.trigger_seconds)
    parser.add_argument(
        "--max-files-per-trigger", type=int, default=defaults.max_files_per_trigger
    )
    parser.add_argument("--watermark", default=defaults.watermark_delay)
    parser.add_argument("--once", action="store_true", help="drain available input and exit")
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    spark = build_session()
    cfg = StreamingConfig(
        input_path=args.input,
        checkpoint_path=args.checkpoint,
        output_path=args.output,
        trigger_seconds=args.trigger_seconds,
        max_files_per_trigger=args.max_files_per_trigger,
        watermark_delay=args.watermark,
    )
    pipe = build_pipeline(spark, cfg)
    query = pipe.start(trigger_once=args.once)
    query.awaitTermination()
    health = pipe.router.monitor.health_summary()
    logging.info("pipeline finished: %s", health)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
