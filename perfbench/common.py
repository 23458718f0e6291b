"""Process set-up shared by every workload: where the checkout and the
benchmark's scratch space are, the environment Spark must see before
it starts, and small helpers over the live session."""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench")
FIXTURES = os.path.join(BENCH_DIR, "data", "sf0.01")

# Executors run inside the driver JVM in local mode; the package
# default (16g) is sized for sf10.  The benchmark's inputs fit in far
# less.  The heap is fixed and touched up front: how far a growable
# heap expands depends on when the collector happens to run, which
# swung peak RSS by 40% between identical runs.  The fixed heap is
# resident all run long, so the benchmark reports peak RSS less the
# heap: the memory that can move (JVM native memory, direct buffers,
# the Python driver).  Heap pressure shows in spark.gc_share.
DRIVER_MEMORY = "2g"
# set-ups per run; setup_s is their median
SETUPS = 7


def prepare_env(cpus: int) -> None:
    """Point every scratch path inside the checkout and fix the core
    count, before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise map a file under /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
        "-XX:+AlwaysPreTouch -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_heap_committed_mb(spark) -> float:
    """Java heap the JVM has committed, in MiB: all of it, resident,
    with a fixed pre-touched heap."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getCommitted() / 1024.0**2


def drain_listener_bus(spark) -> None:
    """Block until the status store has seen every event posted so far
    (it is filled asynchronously from the listener bus)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def drop_cached_blocks(spark) -> None:
    """Free every persisted RDD (the localCheckpoint blocks a query
    leaves), blocking, so one query's leftovers do not slow the next."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)


def cached_block_stats(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
