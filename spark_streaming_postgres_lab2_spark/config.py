"""Environment-driven configuration (reference parity: config/settings.py).

The reference drives every subsystem off env vars with validated
dataclasses (reference config/settings.py:13-230).  Same pattern here,
one dataclass per consumer: ``DatabaseConfig`` for the JDBC sink,
``StreamingConfig`` for the stream (``StreamingPipeline.start`` runs
its ``validate``), ``SparkConfig`` for ``build_session``.  The
reference's quality-threshold and retry sections have no env twin: the
pipeline builds ``PipelineMonitor()`` and ``database_retry_policy()``,
so those defaults are the one place their values live.  The stream's
input, output and checkpoint paths have no default: every caller names
its own directories.

``SparkConfig`` carries only what differs per deployment: the master,
the sort-merge escape hatch and the driver memory.  Session values the
engine's results or plans rely on, or that no deployment changes, are
constants in ``build_session``: AQE and Arrow on, the UTC session time
zone that timestamp parity needs (``load_tables`` sets it again for
every batch read), 32 shuffle partitions for batch queries (AQE
coalesces them to the data; the stream plans its own count in
``StreamingPipeline.start``), the UI off and the app name.  The scan
split size is Spark's own 128 MiB default.  Spark checks the values it
is handed where it uses them (the JDBC ``batchsize`` must be at least
1), so no dataclass repeats those checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, asdict
from typing import Any


def _env(name: str, default: str) -> str:
    return os.environ.get(name, default)


def _env_int(name: str, default: int) -> int:
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None


def _env_bool(name: str, default: bool) -> bool:
    raw = os.environ.get(name)
    if raw is None:
        return default
    value = raw.strip().lower()
    if value in ("1", "true", "yes", "on"):
        return True
    if value in ("0", "false", "no", "off"):
        return False
    raise ValueError(f"{name}={raw!r} is not a boolean (1/true/yes/on or 0/false/no/off)")


@dataclass
class DatabaseConfig:
    """JDBC sink settings (reference settings.py DB section).

    Secrets never appear in ``to_dict`` output, mirroring the
    reference's secret-free serialization.
    """

    host: str = field(default_factory=lambda: _env("DB_HOST", "localhost"))
    port: int = field(default_factory=lambda: _env_int("DB_PORT", 5432))
    database: str = field(default_factory=lambda: _env("DB_NAME", "ecommerce"))
    user: str = field(default_factory=lambda: _env("DB_USER", "spark"))
    password: str = field(default_factory=lambda: _env("DB_PASSWORD", ""))
    batch_size: int = field(default_factory=lambda: _env_int("DB_BATCH_SIZE", 5000))
    isolation_level: str = field(
        default_factory=lambda: _env("DB_ISOLATION", "READ_COMMITTED")
    )

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"

    def jdbc_properties(self) -> dict[str, str]:
        return {
            "user": self.user,
            "password": self.password,
            "driver": "org.postgresql.Driver",
            "batchsize": str(self.batch_size),
            "isolationLevel": self.isolation_level,
        }

    def to_dict(self) -> dict[str, Any]:
        d = asdict(self)
        d.pop("password", None)
        return d


_STATE_STORE = "spark.sql.streaming.stateStore"
_PROVIDERS = "org.apache.spark.sql.execution.streaming.state"

# StreamingConfig.state_store_provider -> the session confs a stream
# starts under to select that provider
STATE_STORE_CONFS: dict[str, dict[str, str]] = {
    "hdfs": {
        f"{_STATE_STORE}.providerClass": f"{_PROVIDERS}.HDFSBackedStateStoreProvider",
    },
    "rocksdb": {
        f"{_STATE_STORE}.providerClass": f"{_PROVIDERS}.RocksDBStateStoreProvider",
        f"{_STATE_STORE}.rocksdb.changelogCheckpointing.enabled": "true",
    },
}


@dataclass
class StreamingConfig:
    """Structured Streaming knobs (reference settings.py streaming section)."""

    input_path: str
    checkpoint_path: str
    output_path: str
    trigger_seconds: int = field(default_factory=lambda: _env_int("STREAM_TRIGGER_SECONDS", 10))
    max_files_per_trigger: int = field(
        default_factory=lambda: _env_int("STREAM_MAX_FILES_PER_TRIGGER", 1)
    )
    watermark_delay: str = field(
        default_factory=lambda: _env("STREAM_WATERMARK_DELAY", "10 minutes")
    )
    # a key of STATE_STORE_CONFS: "hdfs" (default in-memory+DFS
    # provider) or "rocksdb": at large dedup/session state the RocksDB
    # provider keeps state off-heap and incremental-checkpoints
    # changelogs instead of full snapshots
    state_store_provider: str = field(
        default_factory=lambda: _env("STREAM_STATE_STORE", "hdfs")
    )

    def validate(self) -> list[str]:
        """Return a list of config problems (empty == valid)."""
        problems: list[str] = []
        if self.trigger_seconds <= 0:
            problems.append("trigger_seconds must be positive")
        if self.max_files_per_trigger <= 0:
            problems.append("max_files_per_trigger must be positive")
        if self.state_store_provider not in STATE_STORE_CONFS:
            problems.append(
                f"state_store_provider must be one of {sorted(STATE_STORE_CONFS)}, "
                f"got {self.state_store_provider!r}"
            )
        return problems


def _default_master() -> str:
    cpus = _env("SPARK_GRAFT_CPUS", "")
    return f"local[{cpus}]" if cpus else _env("SPARK_MASTER", "local[*]")


@dataclass
class SparkConfig:
    """Spark session deployment settings."""

    # local[$SPARK_GRAFT_CPUS] pins a local run's core count (the tests
    # and the benchmarks set it); otherwise SPARK_MASTER, else every core
    master: str = field(default_factory=_default_master)
    # r15 (guide §3.1/§9): let the planner pick shuffled-hash over
    # sort-merge when one side fits a per-partition hash map (skips
    # both sort passes; measured 0.74-0.94x on every SMJ-site query).
    # Scale-safe by construction: the planner's size conditions
    # (canBuildLocalHashMap vs autoBroadcastJoinThreshold x shuffle
    # partitions) fall back to sort-merge when neither side can build,
    # so corpus x corpus joins at 100 TB still plan SMJ.
    # Residual risk (ADVICE r15): those size conditions compare the
    # AVERAGE per-partition estimate, and stats-free lineage (anything
    # downstream of mapInPandas/mapInArrow) estimates badly -- a
    # key-skewed or underestimated build partition can exceed the map
    # and SHJ build maps DO NOT SPILL, so the failure mode is an
    # executor OOM where sort-merge was merely slower.  AQE skew-join
    # splitting applies to SHJ too, but cannot split one giant key.
    # SPARK_PREFER_SMJ=1 is the per-deployment escape hatch; flip it
    # for workloads with known hot keys on estimate-blind plans.
    prefer_sort_merge_join: bool = field(
        default_factory=lambda: _env_bool("SPARK_PREFER_SMJ", False)
    )
    # in local[*] mode the executors run INSIDE the driver JVM, so this
    # is the entire engine's heap -- Spark's 1g default starves any
    # broadcast build or wide aggregation once data passes ~sf0.1
    driver_memory: str = field(default_factory=lambda: _env("SPARK_DRIVER_MEMORY", "16g"))
