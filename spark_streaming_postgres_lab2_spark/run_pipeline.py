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
    parser = argparse.ArgumentParser(description="Run the streaming event pipeline")
    parser.add_argument(
        "--input", dest="input_path", required=True, help="CSV input directory to watch"
    )
    parser.add_argument(
        "--output", dest="output_path", required=True, help="output table root directory"
    )
    parser.add_argument(
        "--checkpoint", dest="checkpoint_path", required=True, help="checkpoint directory"
    )
    # an unset flag is left out of the config, so the STREAM_* environment
    # default of its StreamingConfig field applies
    parser.add_argument("--trigger-seconds", type=int, default=argparse.SUPPRESS)
    parser.add_argument("--max-files-per-trigger", type=int, default=argparse.SUPPRESS)
    parser.add_argument("--watermark", dest="watermark_delay", default=argparse.SUPPRESS)
    parser.add_argument("--once", action="store_true", help="drain available input and exit")
    args = vars(parser.parse_args(argv))
    once = args.pop("once")

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    spark = build_session()
    cfg = StreamingConfig(**args)
    pipe = build_pipeline(spark, cfg)
    query = pipe.start(trigger_once=once)
    query.awaitTermination()
    health = pipe.router.monitor.health_summary()
    logging.info("pipeline finished: %s", health)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
