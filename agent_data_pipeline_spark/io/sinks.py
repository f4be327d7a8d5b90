"""Sink connectors.

Reference parity (SURVEY.md §2.A):
  S3/S4  JDBC sinks (Postgres/MySQL dialects handled by Spark's JDBC
         datasource; reference ships vendored jdbc jars instead).
  S5     Full-refresh overwrite: the reference's TRUNCATE + INSERT
         (dags/taxi_transform_dag.py:41) == ``mode("overwrite")`` —
         with ``truncate=true`` on JDBC so the table is truncated, not
         dropped, preserving DDL exactly like the reference.

Parquet is the engine's native table format. Writers accept
``partition_by`` because at 100 TB an unpartitioned table is unprunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .sources import read_parquet


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    truncate_on_overwrite: bool = True,
    batchsize: int = 10_000,
) -> None:
    """JDBC sink. ``mode="overwrite"`` + ``truncate_on_overwrite`` gives the
    reference's TRUNCATE-then-INSERT full-refresh semantics (S5)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if mode == "overwrite" and truncate_on_overwrite:
        writer = writer.option("truncate", "true")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_parquet_dynamic_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving all other partitions untouched — the incremental
    middle ground between append (duplicates on re-run) and full
    overwrite (S5 — rewrites 100 TB to refresh one day). A daily
    backfill of `date=2024-03-01` rewrites exactly that directory, and
    re-running the same batch is idempotent.

    Implemented with the engine's partitionOverwriteMode=dynamic session
    conf, scoped to this write and restored after (the static default
    stays S5-correct elsewhere).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, prev)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 512,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet table into files sized
    for scan efficiency (streaming ingest and fine-grained backfills
    leave thousands of tiny files; at 100 TB, task-per-file scheduling
    and footer reads dominate unless someone compacts). File count is
    derived from the table's actual on-disk bytes / ``target_file_mb``.
    Returns the new file count per the rewrite's repartition.

    The rewrite stages into `<path>__compacting` then atomically swaps
    via rename, so concurrent readers never see a half-written table
    (single-filesystem rename semantics — object stores want a
    manifest/catalog swap instead, same structure).
    """
    import math
    import os
    import shutil

    total_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    staged = f"{path.rstrip('/')}__compacting"
    writer = read_parquet(spark, path).repartition(n_files).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged)
    backup = f"{path.rstrip('/')}__pre_compact"
    os.rename(path, backup)
    os.rename(staged, path)
    shutil.rmtree(backup)
    return n_files
