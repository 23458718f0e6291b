"""PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference streaming
pipeline (Zaina-M/spark-streaming-postgres-lab2): CSV/file-stream
ingestion, versioned schema registry, rule-chain validation with
dead-letter routing, enrichment, watermarked dedup, per-batch quality
metrics with alerting, retry/circuit-breaker fault tolerance, and the
Postgres-side analytics views re-expressed as Spark SQL -- plus
large-scale LLM-data-pipeline operators (dedup families, similarity
search, text analysis, multimodal plumbing).

Everything is DataFrame/SQL-first: logical plans are declared
declaratively and Catalyst/Tungsten pick the physical strategy.
"""

__version__ = "0.1.0"

# NOTE: do not define names here that shadow submodules (the driver
# imports `spark_streaming_postgres_lab2_spark.queries` directly).
from .session import build_session  # noqa: E402,F401
