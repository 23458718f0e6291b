"""Keyed upsert (MERGE INTO emulation) for parquet-backed tables.

Without Delta/Iceberg (jars absent in this environment), MERGE is
emulated the classic way: ``target ANTI JOIN updates`` (rows the merge
doesn't touch) ``UNION ALL updates`` -- one shuffle on the key, then an
atomic directory swap on write.  This is also the staged-upsert shape
the JDBC sink would use (stage table + INSERT ... ON CONFLICT)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``updates`` win over same-keyed rows of ``target``;
    unmatched target rows pass through.  Column sets must match."""
    untouched = target.join(updates.select(*keys), keys, "left_anti")
    return untouched.unionByName(updates.select(*target.columns))


def upsert_parquet(spark, path: str, updates: DataFrame, keys: list[str]) -> None:
    """Upsert into a parquet directory via write-then-swap.

    Limitations (by design of plain parquet dirs): the two-rename swap
    is local-filesystem only (asserted below -- object stores/HDFS have
    no atomic rename and need Delta/Iceberg's commit protocol instead)
    and leaves a brief window where a concurrent reader sees no table.
    A crash inside the window strands data at ``path__old``; the next
    call auto-recovers it before merging."""
    import os
    import shutil

    scheme, _, rest = path.partition("://")
    if rest and scheme != "file":
        raise ValueError(
            f"upsert_parquet is local-filesystem only (got scheme {scheme!r}); "
            "use Delta/Iceberg MERGE or the staged-JDBC upsert for remote stores"
        )
    path = rest or path
    backup = path + "__old"
    if not os.path.exists(path) and os.path.exists(backup):
        # a previous call crashed between the two renames: the backup IS
        # the latest committed table -- restore it
        shutil.move(backup, path)

    target = spark.read.parquet(path)
    merged = upsert(target, updates, keys)
    staging = path + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    backup = path + "__old"
    shutil.rmtree(backup, ignore_errors=True)
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
