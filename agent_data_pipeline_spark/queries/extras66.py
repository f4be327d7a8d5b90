"""Round-13 wave: incremental dedup against a persisted fingerprint
store, and the streaming MinHash near-dup gate — the two missing
execution modes of the dedup family (round-12 verdict items #2/#3).
Every prior dedup operator deduplicates one corpus against itself in
one batch; production training-data pipelines dedup each new crawl
against the ACCUMULATED store, and gate continuously-arriving docs
against it in-stream.

* ``incremental_dedup_census`` — exact-dedup a new crawl batch against
  a persisted Parquet fingerprint store (llmdata/incremental.py):
  store(A) is written to Parquet and READ BACK (real IO both ways),
  the batch is labeled dup_of_store / dup_in_batch / new_unique with
  one digest join + one digest-partitioned row_number, and the store
  is merged (full outer on the digest) and re-persisted; the census
  reports per-status doc/digest counts plus store size before/after.
  The fixture has no exact duplicates, so the batch is constructed as
  a deterministic crawl scenario: fresh pages (doc_id % 3 == 0, kept
  id), re-crawls of already-stored pages (doc_id % 5 == 1, id+10^6,
  same text -> dup_of_store), and double-fetches within the batch
  (doc_id % 3 == 0 and % 7 == 2, id+2*10^6 -> dup_in_batch). DuckDB
  replays the identical algebra inline — the store round trip is an
  IO detail the digests make transparent.

* ``stream_neardup_gate`` — banded-MinHash near-dup gating composed
  into Structured Streaming: the reference corpus's band-bucket keys
  (md5-PORTABLE minhash — llmdata/incremental.portable_band_keys, 12
  hashes / 3 bands of 4, stateless array transforms) are persisted to
  Parquet and joined stream-static against the arriving documents'
  band keys; any band collision flags the doc. The stream carries
  fresh pages plus NEAR-duplicate re-crawls (same text + a 2-token
  edit suffix — high Jaccard, not exact), so the gate's flag counts
  are non-vacuous. Because the hashes are md5-portable and the whole
  per-doc pipeline is stateless (no groupBy/window before the sink),
  the DuckDB oracle replays the batch algebra exactly — the first
  HASH-oracled near-dup operator in the registry (the xxhash64 LSH
  family is rows-only by necessity).

Scale shape: the store joins are digest/band-key equi-joins (bounded
by store size, broadcast when small); band-key computation is
map-side behind one repartition barrier; census aggregates are
source-grain. 100 TB: the store is bucketed on the digest so daily
refreshes co-locate; the stream side state is ZERO (stateless gate —
the static side refreshes per micro-batch epoch).

Reference parity: no dedup/streaming surface in the reference
(SURVEY.md §2.A); declared north-star §2.B additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llmdata import incremental as inc
from .core import QuerySpec, t


def _incremental_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 3 != 0)
    fresh = docs.filter(F.col("doc_id") % 3 == 0)
    recrawl = docs.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    double_fetch = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 7 == 2)
    ).select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    batch = fresh.unionByName(recrawl).unionByName(double_fetch)

    v1 = inc.store_path(sf_dir, "exact_v1")
    inc.write_store(inc.exact_fingerprint_store(prior), v1)
    store = inc.read_store(spark, v1)

    status = inc.incremental_exact_status(batch, store)
    v2 = inc.store_path(sf_dir, "exact_v2")
    inc.write_store(inc.merge_store(store, batch), v2)
    store_after = inc.read_store(spark, v2)

    def store_row(s: DataFrame, label: str) -> DataFrame:
        return s.agg(
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_fps"),
        ).select(F.lit(label).alias("status"), "n_docs", "n_fps")

    per_status = status.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_fps"),
    )
    return (
        per_status.unionByName(store_row(store, "store_before"))
        .unionByName(store_row(store_after, "store_after"))
        .orderBy("status")
    )


_INCREMENTAL_DEDUP_SQL = """
WITH a AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
), b AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 1
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 7 = 2
), store AS (
  SELECT md5(text) AS fingerprint, min(doc_id) AS rep_doc_id,
         count(*) AS n_copies
  FROM a GROUP BY 1
), bf AS (
  SELECT doc_id, md5(text) AS fp FROM b
), st AS (
  SELECT bf.doc_id, bf.fp,
         CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_of_store'
              WHEN row_number() OVER (PARTITION BY bf.fp
                                      ORDER BY bf.doc_id) > 1
                THEN 'dup_in_batch'
              ELSE 'new_unique' END AS status
  FROM bf LEFT JOIN store s ON bf.fp = s.fingerprint
), merged AS (
  SELECT coalesce(s.fingerprint, bc.fp) AS fingerprint,
         coalesce(s.n_copies, 0) + coalesce(bc.n, 0) AS n_copies
  FROM store s
  FULL JOIN (SELECT fp, count(*) AS n FROM bf GROUP BY 1) bc
    ON s.fingerprint = bc.fp
)
SELECT * FROM (
  SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
  FROM st GROUP BY status
  UNION ALL
  SELECT 'store_before', CAST(sum(n_copies) AS BIGINT),
         CAST(count(*) AS BIGINT) FROM store
  UNION ALL
  SELECT 'store_after', CAST(sum(n_copies) AS BIGINT),
         CAST(count(*) AS BIGINT) FROM merged
)
ORDER BY status
"""


# --------------------------------------------------------------------------
# stream_neardup_gate
# --------------------------------------------------------------------------

def _stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup gate: persisted reference band keys joined
    stream-static against the arriving docs' band keys; the per-band
    hit rows land in an append sink and the census is aggregated after
    the drain (the stream_docs_quality_dedup pattern — keeps the
    streaming section stateless)."""
    from ..streaming import drain_to_frame, stream_parquet

    ref = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", "text")
    )
    ref_bands = inc.portable_band_keys(ref).select("band_key", "band").distinct()
    bp = inc.store_path(sf_dir, "neardup_bands")
    inc.write_store(ref_bands, bp)
    static_bands = inc.read_store(spark, bp).withColumn("_hit", F.lit(1))

    raw = stream_parquet(spark, f"{sf_dir}/documents.parquet")

    variants = F.array_compact(
        F.array(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.struct(
                    F.col("doc_id").alias("sid"), F.col("text").alias("stext")
                ),
            ),
            F.when(
                F.col("doc_id") % 5 == 1,
                F.struct(
                    (F.col("doc_id") + 1_000_000).alias("sid"),
                    F.concat(F.col("text"), F.lit(" rev2 edit")).alias(
                        "stext"
                    ),
                ),
            ),
        )
    )
    arriving = (
        raw.select("source", F.explode(variants).alias("v"))
        .select(
            "source",
            F.col("v.sid").alias("sid"),
            F.col("v.stext").alias("stext"),
        )
        .withColumn(
            "n_tokens",
            F.size(F.split(F.trim(F.col("stext")), r"\s+")).cast("long"),
        )
    )
    banded = inc.portable_band_keys(arriving, text_col="stext", keep_empty=True)
    joined = banded.join(static_bands, ["band", "band_key"], "left").select(
        "source", "sid", "n_tokens", F.coalesce("_hit", F.lit(0)).alias("hit")
    )
    per_doc = (
        drain_to_frame(joined, output_mode="append")
        .groupBy("source", "sid", "n_tokens")
        .agg(F.max("hit").alias("flag"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("flag").cast("long").alias("n_flagged"),
            F.sum(1 - F.col("flag")).cast("long").alias("n_passed"),
            F.sum(F.when(F.col("flag") == 0, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_passed"),
        )
        .orderBy("source")
    )


def _incremental_neardup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental hygiene composition, batch mode: a new
    crawl checked against BOTH persisted stores — the exact digest
    store first (the cheap linear gate), then the MinHash band store
    for survivors. Statuses: ``exact_dup_of_store`` (digest already
    stored), ``neardup_of_store`` (digest new, but >= 1 band key
    collides — a near-duplicate re-crawl), ``new`` (neither). The
    batch plants all three deterministically: fresh pages, exact
    re-crawls (same text, new id), near re-crawls (3-token edit
    suffix). Census is status-grain: docs + distinct digests."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 3 != 0)

    ep = inc.store_path(sf_dir, "nd_exact")
    inc.write_store(inc.exact_fingerprint_store(prior), ep)
    exact_store = inc.read_store(spark, ep)
    bp = inc.store_path(sf_dir, "nd_bands")
    inc.write_store(
        inc.portable_band_keys(prior).select("band_key", "band").distinct(), bp
    )
    band_store = inc.read_store(spark, bp).withColumn("_bhit", F.lit(1))

    fresh = docs.filter(F.col("doc_id") % 3 == 0)
    exact_recrawl = docs.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near_recrawl = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rev3 minor update")).alias("text"),
    )
    batch = fresh.unionByName(exact_recrawl).unionByName(near_recrawl)

    banded = inc.portable_band_keys(batch, keep_empty=True)
    near_flag = (
        banded.join(band_store, ["band", "band_key"], "left")
        .groupBy("doc_id")
        .agg(F.max(F.coalesce("_bhit", F.lit(0))).alias("_near"))
    )
    fp = batch.select("doc_id", F.md5("text").alias("fingerprint"))
    ex = exact_store.select(
        F.col("fingerprint").alias("_sfp"), F.lit(1).alias("_ex")
    )
    labeled = (
        fp.join(ex, fp["fingerprint"] == F.col("_sfp"), "left")
        .join(near_flag, "doc_id")
        .select(
            "fingerprint",
            F.when(F.col("_ex").isNotNull(), F.lit("exact_dup_of_store"))
            .when(F.col("_near") == 1, F.lit("neardup_of_store"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )
    return (
        labeled.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_fps"),
        )
        .orderBy("status")
    )


def _minhash_sql_block(src: str, idc: str, out: str) -> str:
    """Shared SQL: per-doc 12 portable min-hashes -> 3 band-key rows.
    min() over the exploded gram rows == Spark's array_min over the
    gram array (same integer multiset)."""
    mins = ",\n         ".join(
        f"min((CAST(('0x' || substring(md5('{j}:' || gram), 1, 8)) AS BIGINT))"
        f" % 2147483648) AS m{j}"
        for j in range(12)
    )
    keys = "\n  UNION ALL\n".join(
        f"  SELECT {idc}, {b} AS band, CAST(m{4 * b} AS VARCHAR) || '-' || "
        f"CAST(m{4 * b + 1} AS VARCHAR) || '-' || CAST(m{4 * b + 2} AS VARCHAR)"
        f" || '-' || CAST(m{4 * b + 3} AS VARCHAR) AS band_key FROM {out}_sigs"
        for b in range(3)
    )
    return f"""{out}_toks AS (
  SELECT {idc},
         list_filter(regexp_split_to_array(lower(trim({src}.textcol)), '\\s+'),
                     x -> x <> '') AS toks
  FROM {src}
), {out}_grams AS (
  SELECT {idc}, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
  FROM (SELECT {idc}, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM {out}_toks WHERE len(toks) >= 3)
), {out}_sigs AS (
  SELECT {idc},
         {mins}
  FROM {out}_grams GROUP BY {idc}
), {out}_bands AS (
{keys}
)"""


_STREAM_NEARDUP_SQL = f"""
WITH ref AS (
  SELECT doc_id, text AS textcol FROM documents WHERE doc_id % 3 <> 0
), {_minhash_sql_block("ref", "doc_id", "ref")},
ref_keys AS (
  SELECT DISTINCT band, band_key FROM ref_bands
), strm AS (
  SELECT source, doc_id AS sid, text AS textcol FROM documents
  WHERE doc_id % 3 = 0
  UNION ALL
  SELECT source, doc_id + 1000000, text || ' rev2 edit' FROM documents
  WHERE doc_id % 5 = 1
), {_minhash_sql_block("strm", "sid", "s")},
flagged AS (
  SELECT DISTINCT s_bands.sid
  FROM s_bands JOIN ref_keys USING (band, band_key)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.sid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(CASE WHEN f.sid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_passed,
       CAST(sum(CASE WHEN f.sid IS NULL
                THEN len(regexp_split_to_array(trim(textcol), '\\s+'))
                ELSE 0 END) AS BIGINT) AS tokens_passed
FROM strm LEFT JOIN flagged f USING (sid)
GROUP BY source
ORDER BY source
"""


_INCREMENTAL_NEARDUP_SQL = f"""
WITH ref AS (
  SELECT doc_id, text AS textcol FROM documents WHERE doc_id % 3 <> 0
), exact_store AS (
  SELECT DISTINCT md5(textcol) AS sfp FROM ref
), {_minhash_sql_block("ref", "doc_id", "ref")},
ref_keys AS (
  SELECT DISTINCT band, band_key FROM ref_bands
), strm AS (
  SELECT doc_id AS sid, text AS textcol FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 1
  UNION ALL
  SELECT doc_id + 3000000, text || ' rev3 minor update' FROM documents
  WHERE doc_id % 7 = 3
), {_minhash_sql_block("strm", "sid", "s")},
near AS (
  SELECT DISTINCT s_bands.sid
  FROM s_bands JOIN ref_keys USING (band, band_key)
), labeled AS (
  SELECT md5(t.textcol) AS fp,
         CASE WHEN e.sfp IS NOT NULL THEN 'exact_dup_of_store'
              WHEN n.sid IS NOT NULL THEN 'neardup_of_store'
              ELSE 'new' END AS status
  FROM strm t
  LEFT JOIN exact_store e ON md5(t.textcol) = e.sfp
  LEFT JOIN near n ON t.sid = n.sid
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
FROM labeled GROUP BY status ORDER BY status
"""


QUERIES: dict[str, QuerySpec] = {
    "incremental_dedup_census": QuerySpec(
        _incremental_dedup_census,
        _INCREMENTAL_DEDUP_SQL,
        "Cross-run exact dedup against a persisted Parquet fingerprint "
        "store: batch labeled dup_of_store/dup_in_batch/new_unique, "
        "store merged and re-persisted, census of both",
    ),
    "stream_neardup_gate": QuerySpec(
        _stream_neardup_gate,
        _STREAM_NEARDUP_SQL,
        "Streaming banded-MinHash near-dup gate (md5-portable hashes): "
        "stream-static join against persisted reference band keys, "
        "per-source flag census after drain",
    ),
    "incremental_neardup_census": QuerySpec(
        _incremental_neardup_census,
        _INCREMENTAL_NEARDUP_SQL,
        "Batch crawl vs BOTH persisted stores: exact digest gate "
        "first, MinHash band store for survivors; "
        "exact/neardup/new census",
    ),
}
