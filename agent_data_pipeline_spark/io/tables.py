"""Testdata star-schema loaders.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet each under a scale-factor dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources import read_parquet

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: read_parquet(spark, f"{sf_dir}/{name}.parquet") for name in names}


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    n_buckets: int = 32,
    sort_keys: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a bucketed (and bucket-sorted) catalog table.

    Bucketing is the pre-shuffle: rows are hash-partitioned on
    ``bucket_keys`` at WRITE time, so every future join or aggregation on
    those keys skips its exchange entirely — the join reads co-located
    buckets from both sides. At 100 TB this converts the recurring
    fact-to-fact join shuffle (the single most expensive operation in the
    warehouse) into a one-time write-side cost. ``sort_keys`` additionally
    pre-sorts within buckets so sort-merge joins skip their sort too.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_keys)
    writer = writer.sortBy(*(sort_keys or bucket_keys))
    writer.format("parquet").saveAsTable(table)
