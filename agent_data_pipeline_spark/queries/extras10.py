"""Round-4 surface additions, part 5: market-basket co-occurrence,
information-theoretic text features, and encoding-hygiene signals.

These close out the corpus-quality feature set alongside textstats
(length/ratio features), unigram/CCNet LM scores, and the dedup family:
entropy and compressibility are the two Gopher-style redundancy signals
not yet covered, and the co-purchase kit is the classic retail
co-occurrence analysis (same join shape as the co-supply graph)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fns import rnd
from ..llmdata import textstats
from .core import QuerySpec, t


# --------------------------------------------------------------------------
# copurchase_pairs
# --------------------------------------------------------------------------


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-20 part pairs appearing in the
    same order (support counts). Self-equi-join of the distinct
    (order, part) incidence list on the order key with p1 < p2 — the
    within-basket pair fan-out is bounded by basket size (TPC-H ~4
    lines/order), never the catalog."""
    li = t(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("p1"))
    b = op.select("o", F.col("p").alias("p2"))
    return (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "p1", "p2")
        .limit(20)
    )


_COPURCHASE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
)
SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS support
FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
GROUP BY a.p, b.p
ORDER BY support DESC, p1, p2
LIMIT 20
"""


# --------------------------------------------------------------------------
# token_entropy_kit
# --------------------------------------------------------------------------


def _token_entropy_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy ``H = -Σ p·ln p`` over the doc's own
    token distribution — the redundancy feature complementary to the
    type-token ratio (a doc repeating one word has H=0 whatever its
    length). Two aggregations: per-(doc, token) counts, then the per-doc
    entropy fold; both shuffle on the doc id."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("w"),
    )
    tc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    per = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("_clogc"),
    )
    h = F.log(F.col("n")) - F.col("_clogc") / F.col("n")
    return per.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_distinct",
        rnd(h, 6).alias("entropy"),
    ).orderBy("doc_id")


_TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), tc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, w
), per AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         sum(c * ln(c)) AS clogc
  FROM tc GROUP BY doc_id
)
SELECT doc_id,
       n AS n_tokens,
       n_distinct,
       floor((ln(n) - clogc / n) * 1000000 + 0.5) / 1000000 AS entropy
FROM per
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# encoding_quality_kit
# --------------------------------------------------------------------------


def _encoding_quality_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-hygiene signals per document: non-ASCII character count,
    replacement-character (mojibake) count, control-character count, and
    the ASCII fraction — the first-pass filters a web-scrape pipeline
    applies before any language model sees the bytes. Pure codegen'd
    regexp arithmetic."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text)
    non_ascii = F.length(F.regexp_replace(text, r"[\x00-\x7F]", ""))
    repl = F.length(F.regexp_replace(text, "[^�]", ""))
    ctrl = F.length(
        F.regexp_replace(text, r"[^\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        non_ascii.cast("long").alias("n_non_ascii"),
        repl.cast("long").alias("n_replacement"),
        ctrl.cast("long").alias("n_control"),
        rnd(
            F.when(n_chars > 0, (n_chars - non_ascii) / n_chars).otherwise(
                F.lit(1.0)
            ),
            6,
        ).alias("ascii_fraction"),
    ).orderBy("doc_id")


_ENCODING_QUALITY_SQL = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS BIGINT)
         AS n_non_ascii,
       CAST(length(regexp_replace(text, '[^�]', '', 'g')) AS BIGINT)
         AS n_replacement,
       CAST(length(regexp_replace(text, '[^\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
            AS BIGINT) AS n_control,
       CASE WHEN length(text) > 0
            THEN floor((length(text)
                        - length(regexp_replace(text, '[\x00-\x7F]', '', 'g')))
                       / length(text) * 1000000 + 0.5) / 1000000
            ELSE 1.0 END AS ascii_fraction
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# compression_ratio_stats (rows-only: DEFLATE length is engine-local)
# --------------------------------------------------------------------------


def _compression_ratio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility census per source (llmdata/textstats
    .with_compression_ratio — the Gopher redundancy band filter):
    mean/min/max compression ratio per source. DECLARED ENGINE-LOCAL
    (rows-only): DEFLATE output length is a zlib-build property, not
    SQL; exactness vs a direct zlib call and the repetitive-vs-random
    band ordering are pinned in tests/test_hygiene.py."""
    d = t(spark, sf_dir, "documents")
    cr = textstats.with_compression_ratio(d)
    joined = cr.join(d.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rnd(F.avg("compression_ratio"), 6).alias("mean_ratio"),
            rnd(F.min("compression_ratio"), 6).alias("min_ratio"),
            rnd(F.max("compression_ratio"), 6).alias("max_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# stream_static_join
# --------------------------------------------------------------------------


def _stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the enrichment pattern between stateless maps
    and full stream-stream joins: the event stream joins a static
    customer-tier dimension (broadcast per micro-batch, no watermark or
    state needed), then aggregates per (tier, event_type). Complete-mode
    memory sink, drained; the oracle is the identical batch algebra.
    At 100 TB-per-day the static side re-broadcasts per batch, which is
    exactly the semantics a slowly-refreshed dimension wants."""
    from ..streaming import drain_to_frame
    from .temporal import _read_events_stream

    tiers = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.concat(F.lit("tier"), (F.col("c_custkey") % 3).cast("string")).alias(
            "tier"
        ),
    )
    stream = _read_events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(tiers), "user_id")
    agged = joined.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        rnd(F.sum("value"), 2).alias("sum_value"),
    )
    return drain_to_frame(agged, output_mode="complete").orderBy("tier", "event_type")


_STREAM_STATIC_JOIN_SQL = """
SELECT 'tier' || CAST(c_custkey % 3 AS VARCHAR) AS tier,
       e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(sum(e.value) * 100 + 0.5) / 100 AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY tier, event_type
"""


# --------------------------------------------------------------------------
# asof_nearest_clicks
# --------------------------------------------------------------------------


def _asof_nearest_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join with a tolerance window (ops/asof
    full merge_asof parity): each purchase event finds its closest click
    by the same user within ±30 min — before or after, tie to the
    earlier one — the attribution primitive. One shuffle on the user
    key; both directional windows share the union. The oracle
    enumerates candidates within the window and ranks by
    (|delta|, backward-first), which is exactly the nearest contract."""
    from ..fns import epoch_micros
    from ..ops.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_event_id", "click_ts"],
        tolerance=1800.0,
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        "click_event_id",
        F.abs(
            epoch_micros(F.col("click_ts")) - epoch_micros(F.col("ts"))
        ).alias("delta_us"),
    ).orderBy("event_id")


_ASOF_NEAREST_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS cid, user_id, ts AS cts FROM events
  WHERE event_type = 'click'
), cand AS (
  SELECT p.event_id, c.cid,
         abs(epoch_us(c.cts) - epoch_us(p.ts)) AS adelta,
         CASE WHEN c.cts <= p.ts THEN 0 ELSE 1 END AS fwd
  FROM p JOIN c ON p.user_id = c.user_id
  WHERE abs(epoch_us(c.cts) - epoch_us(p.ts)) <= 1800000000
), best AS (
  SELECT event_id, cid, adelta,
         row_number() OVER (PARTITION BY event_id ORDER BY adelta, fwd) AS rn
  FROM cand
)
SELECT p.event_id, p.user_id,
       b.cid AS click_event_id,
       b.adelta AS delta_us
FROM p LEFT JOIN (SELECT event_id, cid, adelta FROM best WHERE rn = 1) b
  ON p.event_id = b.event_id
ORDER BY p.event_id
"""


QUERIES: dict[str, QuerySpec] = {
    "asof_nearest_clicks": QuerySpec(
        _asof_nearest_clicks,
        _ASOF_NEAREST_SQL,
        "nearest-direction tolerance as-of join (attribution primitive)",
    ),
    "stream_static_join": QuerySpec(
        _stream_static_join,
        _STREAM_STATIC_JOIN_SQL,
        "stream-static broadcast enrichment join, stream == batch oracle",
    ),
    "copurchase_pairs": QuerySpec(
        _copurchase_pairs,
        _COPURCHASE_SQL,
        "top-20 same-basket part pairs (market-basket support)",
    ),
    "token_entropy_kit": QuerySpec(
        _token_entropy_kit,
        _TOKEN_ENTROPY_SQL,
        "per-document unigram entropy (redundancy feature)",
    ),
    "encoding_quality_kit": QuerySpec(
        _encoding_quality_kit,
        _ENCODING_QUALITY_SQL,
        "non-ASCII / mojibake / control-char hygiene signals",
    ),
    "compression_ratio_stats": QuerySpec(
        _compression_ratio_stats,
        None,
        "zlib compressibility bands per source (engine-local, rows-only)",
    ),
}
