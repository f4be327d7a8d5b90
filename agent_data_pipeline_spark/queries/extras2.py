"""Round-2 surface extensions, part 2: training-data quality gates
(Gopher-style rule filters), embedding int8 quantization, seeded
k-means clustering, JSONL + ORC source/sink round trips, watermarked
streaming dedup, and a TPC-H-Q7-shaped six-way join.

Scale notes: the quality/quantization ops are pure codegen'd
projections (scan-bound at 100 TB); the round trips exercise the
format surface with the same writer API that fans out per-partition on
a cluster; the Q7 join broadcasts only the fixed-size nation dim
explicitly and leaves the rest to AQE's runtime broadcast/skew logic,
which is the honest policy when customer/supplier grow with SF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import QuerySpec, once, rnd, t

_IO_TMP = "/tmp/adps_io"


# --- Gopher-style quality rule filters --------------------------------------

_STOPWORDS = ["the", "a", "of", "to", "and", "in"]

_GOPHER_SQL = f"""
WITH feat AS (
  SELECT lang,
         len(toks)                                            AS n_words,
         CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / nullif(len(toks), 0)                             AS mean_word_len,
         CAST(len(list_filter(toks,
              w -> list_contains({_STOPWORDS!r}, w))) AS DOUBLE)
           / nullif(len(toks), 0)                             AS stop_frac,
         CAST(len(list_filter(toks,
              w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
           / nullif(len(toks), 0)                             AS alpha_frac
  FROM (SELECT lang, text, string_split(text, ' ') AS toks FROM documents)
)
SELECT lang,
       CAST(count(*) AS BIGINT)                                   AS n_docs,
       CAST(sum(CASE WHEN n_words BETWEEN 10 AND 100000
                     THEN 1 ELSE 0 END) AS BIGINT)                AS pass_len,
       CAST(sum(CASE WHEN mean_word_len BETWEEN 3 AND 10
                     THEN 1 ELSE 0 END) AS BIGINT)                AS pass_mwl,
       CAST(sum(CASE WHEN stop_frac >= 0.01 THEN 1 ELSE 0 END) AS BIGINT)
                                                                  AS pass_stop,
       CAST(sum(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                                                                  AS pass_alpha,
       CAST(sum(CASE WHEN n_words BETWEEN 10 AND 100000
                      AND mean_word_len BETWEEN 3 AND 10
                      AND stop_frac >= 0.01
                      AND alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                                                                  AS pass_all
FROM feat GROUP BY lang
"""


def _gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gating (word-count bounds, mean word length,
    stopword fraction, alphabetic-word fraction) — the standard pre-train
    corpus filter battery, as one codegen'd pass over the documents scan
    with per-language pass counts."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_lit = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_words = F.size(toks)
    denom = F.nullif(n_words.cast("double"), F.lit(0.0))
    feat = d.select(
        "lang",
        n_words.alias("n_words"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / denom).alias(
            "mean_word_len"
        ),
        (
            F.size(F.filter(toks, lambda w: F.array_contains(stop_lit, w))).cast("double") / denom
        ).alias("stop_frac"),
        (
            F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$"))).cast("double") / denom
        ).alias("alpha_frac"),
    )
    pass_len = F.col("n_words").between(10, 100000)
    pass_mwl = F.col("mean_word_len").between(3, 10)
    pass_stop = F.col("stop_frac") >= 0.01
    pass_alpha = F.col("alpha_frac") >= 0.8
    as_n = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return feat.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_n(pass_len).alias("pass_len"),
        as_n(pass_mwl).alias("pass_mwl"),
        as_n(pass_stop).alias("pass_stop"),
        as_n(pass_alpha).alias("pass_alpha"),
        as_n(pass_len & pass_mwl & pass_stop & pass_alpha).alias("pass_all"),
    )


# --- Embedding int8 quantization --------------------------------------------

_QUANTIZE_SQL = """
SELECT vec_id,
       floor(scale * 1000000 + 0.5) / 1000000 AS scale_r,
       floor(list_max(list_transform(emb,
             x -> abs(floor(x / scale + 0.5) * scale - x))) * 1000000 + 0.5)
         / 1000000                            AS max_err,
       CAST(len(list_filter(emb,
             x -> abs(floor(x / scale + 0.5)) >= 127)) AS BIGINT) AS n_sat
FROM (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings)
)
WHERE scale > 0
"""


def _embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors: per-vector
    scale = max|x|/127, round-to-nearest quantize, report reconstruction
    error and saturation count. The whole pipeline is higher-order array
    expressions — JVM codegen, no Python, no shuffle: the 100 TB cost is
    exactly one scan. (The quantize step is the storage-shrink pass a
    trillion-vector ANN index build runs first.)"""
    e = t(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = e.select("vec_id", emb.alias("emb"))
    # fns.once: the `scale > 0` gate otherwise re-inlines the whole
    # array_max(transform(abs)) fold into a pushed-down Filter below the
    # scan projection — evaluated twice per row (hof_filter_recompute).
    scale = once(
        F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x))) / F.lit(127.0)
    ).alias("scale")
    e = e.select("vec_id", "emb", scale).where(F.col("scale") > 0)
    q = lambda x: F.floor(x / F.col("scale") + F.lit(0.5))  # noqa: E731
    return e.select(
        "vec_id",
        rnd(F.col("scale"), 6).alias("scale_r"),
        rnd(
            F.array_max(F.transform(F.col("emb"), lambda x: F.abs(q(x) * F.col("scale") - x))), 6
        ).alias("max_err"),
        F.size(F.filter(F.col("emb"), lambda x: F.abs(q(x)) >= 127)).cast("long").alias("n_sat"),
    )


# --- Seeded k-means clustering (rows-only) ----------------------------------


def _kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering: seeded k-means over the embedding column via
    pyspark.ml (Spark's distributed Lloyd's — the scale path for
    partitioning a trillion-token corpus into topical shards). Output is
    the size distribution (rank, n_vecs, wssse-per-point) — cluster ids
    themselves are init-order-arbitrary, so they are ranked away.
    Rows-only check: k-means|| init is seeded but partition-layout
    sensitive, so exact sizes are asserted in tests/test_similarity.py,
    not hash-compared across engines."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=8, seed=42, maxIter=10).fit(vecs)
    pred = model.transform(vecs)
    sizes = pred.groupBy("prediction").agg(F.count(F.lit(1)).alias("n_vecs"))
    # window-free since round 12 (allowlist burn-down; was a global
    # rank window): the size table is k=8 rows by construction — rank
    # driver-side over the collected frame
    from ..fns import bounded_collect

    ranked = sorted(
        ((int(r["n_vecs"]), int(r["prediction"])) for r in
         bounded_collect(sizes, 8, "k=8 cluster-size rows")),
        key=lambda x: (-x[0], x[1]),
    )
    return spark.createDataFrame(
        [(i + 1, n) for i, (n, _pred) in enumerate(ranked)],
        "size_rank INT, n_vecs BIGINT",
    )


# --- JSONL source/sink round trip -------------------------------------------

_JSONL_ROUNDTRIP_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
       CAST(max(length(text)) AS BIGINT) AS max_len
FROM documents GROUP BY lang
"""


def _jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Lines sink + source round trip (SURVEY §2.B sources row):
    documents -> .json writer -> schema'd .json reader -> aggregate.
    The oracle aggregates the original parquet, so the hash check proves
    the round trip is lossless. Explicit read schema — schema inference
    over JSON is a full extra pass at scale."""
    path = os.path.join(_IO_TMP, os.path.basename(sf_dir.rstrip("/")), "docs_jsonl")
    d = t(spark, sf_dir, "documents")
    d.write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id long, text string, lang string, source string, n_chars long").json(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.max(F.length("text")).cast("long").alias("max_len"),
    )


# --- ORC source/sink round trip ---------------------------------------------

_ORC_ROUNDTRIP_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders GROUP BY o_orderstatus
"""


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round trip (the second columnar format Spark
    ships a vectorized reader for); oracle aggregates the original
    parquet, proving losslessness."""
    path = os.path.join(_IO_TMP, os.path.basename(sf_dir.rstrip("/")), "orders_orc")
    o = t(spark, sf_dir, "orders")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# --- Streaming dedup within watermark ---------------------------------------

_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def _stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real readStream + withWatermark + dropDuplicatesWithinWatermark on
    (user_id, event_type): the bounded-state streaming dedup (state for a
    key is droppable once the watermark passes its event time, unlike
    plain streaming dropDuplicates whose state grows forever). Projected
    to the key columns, the drained result is the batch DISTINCT —
    which-row-survived cannot leak into the hash."""
    from ..streaming import drain_to_frame
    from .temporal import _read_events_stream

    # withWatermark requires TIMESTAMP; the fixture surfaces TIMESTAMP_NTZ
    # in this Spark build (session TZ pinned UTC -> cast preserves wall
    # clock). Only the key columns are emitted, so no restore needed.
    stream = _read_events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return drain_to_frame(deduped, output_mode="append")


# --- TPC-H Q7-shaped six-way join -------------------------------------------

_TRADE_FLOWS_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT))
             / 10000.0 * 100 + 0.5) / 100 AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def _nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: six-way join producing supplier-nation ×
    customer-nation × year revenue flows. Only the fixed-cardinality
    nation dim is broadcast by hint; supplier/customer/orders grow with
    SF, so their join strategy is left to AQE (runtime broadcast when a
    side is genuinely small, shuffle-hash/sort-merge + skew split when
    not) — the policy that survives a 1000× scale-up."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = F.broadcast(t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            # fixed-point cents: round each term to an exact 1e-4 integer
            # and sum as BIGINT, so the group sum is order-independent —
            # these fine-grained groups are small enough that a float sum
            # can land within one ulp of the half-cent rounding boundary
            # and flip differently under Spark's vs DuckDB's partial-sum
            # trees.
            rnd(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
                    ).cast("long")
                )
                / F.lit(10000.0),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


QUERIES: dict[str, QuerySpec] = {
    "gopher_filters": QuerySpec(
        _gopher_filters, _GOPHER_SQL, "Gopher-rule quality gate battery"
    ),
    "embedding_quantize": QuerySpec(
        _embedding_quantize, _QUANTIZE_SQL, "int8 vector quantization error/saturation"
    ),
    "kmeans_clusters": QuerySpec(_kmeans_clusters, None, "seeded k-means size distribution"),
    "jsonl_roundtrip": QuerySpec(
        _jsonl_roundtrip, _JSONL_ROUNDTRIP_SQL, "JSONL sink+source lossless round trip"
    ),
    "orc_roundtrip": QuerySpec(
        _orc_roundtrip, _ORC_ROUNDTRIP_SQL, "ORC sink+source lossless round trip"
    ),
    "stream_dedup_watermark": QuerySpec(
        _stream_dedup_watermark, _STREAM_DEDUP_SQL, "dropDuplicatesWithinWatermark == DISTINCT"
    ),
    "nation_trade_flows": QuerySpec(
        _nation_trade_flows, _TRADE_FLOWS_SQL, "Q7-shaped six-way join trade flows"
    ),
}
