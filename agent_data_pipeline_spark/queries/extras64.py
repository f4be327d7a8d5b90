"""Round-10 second wave: DSIR data selection, end to end and fully
oracled.

* ``dsir_importance_weights`` — per-source census of DSIR-style hashed
  n-gram importance weights (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): target = the ``en``
  slice of the corpus, raw = the whole corpus; features are word
  unigrams+bigrams hashed portably (md5 hex prefix → int, the
  extras35 CMS hash) into 1024 buckets; per-doc weight is the summed
  occurrence-level log-ratio of the two add-one-smoothed bucket
  models (``llmdata/classify.py dsir_doc_weights``). The census
  reports per-source doc count, mean weight, share of target-like
  (w > 0) docs, and the weight envelope — the sheet a curation team
  reads before resampling.
* ``dsir_resample_census`` — the RESAMPLING half of DSIR composed from
  the weights: Efraimidis–Spirakis A-Res weighted sampling without
  replacement (the ``weighted_reservoir_sample`` construction) with
  weight exp(clamp(w, ±30)), uniform u = the engine-portable Knuth
  hash of doc_id (extras33 convention), top-50 by key — then a
  per-language census of the selected set against the corpus
  composition. The readout IS the method's point: the selected mix
  shifts toward the target language while keeping non-target mass.

Scale shape (100 TB): the weight pipeline is two aggregates over the
ngram stream (a 1024-row broadcast model + the one doc-key shuffle —
see dsir_doc_weights docstring); the resample is a TakeOrdered top-k
over the doc-grain weight frame (per-partition top-k + merge, no
global sort), and both censuses are dim-grain. Nothing here
materializes pairs or windows over fact-scale frames.

Determinism: weights are fns.rnd-rounded to 9dp at the doc grain on
both engines (summation-order proofing), so every downstream compare
(w > 0 threshold, A-Res keys, 6dp census stats) sees identical doubles.

Reference parity: the reference has no data-selection surface
(SURVEY.md §2.A); both queries belong to the declared LLM-data
north-star §2.B surface. Planted-fixture test (vocabulary-separated
corpora, pure-Python md5 reference): tests/test_extras64.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import QuerySpec, rnd, t

_B = 1024  # hashed feature buckets (model rows, broadcast-bounded)
_RESAMPLE_K = 50


def _weights(spark: SparkSession, sf_dir: str, keep: tuple[str, ...]) -> DataFrame:
    from ..llmdata import classify

    d = t(spark, sf_dir, "documents").withColumn(
        "is_target", F.coalesce(F.col("lang") == "en", F.lit(False))
    )
    return classify.dsir_doc_weights(d, keep=keep, n_buckets=_B)


def _dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _weights(spark, sf_dir, keep=("source",))
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            rnd(F.avg("w"), 6).alias("mean_w"),
            rnd(F.avg((F.col("w") > 0).cast("double")), 6).alias("pos_share"),
            rnd(F.max("w"), 6).alias("max_w"),
            rnd(F.min("w"), 6).alias("min_w"),
        )
        .orderBy("source")
    )


# the shared model/weight CTE chain (kept textually identical between
# the two oracles; {sel} appends the per-doc columns each query needs)
def _w_ctes(keep: str) -> str:
    return rf"""
WITH base AS (
  SELECT doc_id, {keep},
         coalesce(lang = 'en', false) AS is_t,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                           '\s+'),
                     x -> x <> '') AS tc
  FROM documents
), grams AS (
  SELECT doc_id, {keep}, is_t, g.ng
  FROM base, unnest(
    CASE WHEN len(tc) >= 2
         THEN list_concat(tc,
                list_transform(generate_series(1, len(tc) - 1),
                               i -> tc[i] || ' ' || tc[i + 1]))
         ELSE tc END) AS g(ng)
), bucketed AS (
  SELECT doc_id, {keep}, is_t,
         CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) % {_B} AS b
  FROM grams
), model AS (
  SELECT b, count(*) AS r_cnt,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt
  FROM bucketed GROUP BY b
), tot AS (
  SELECT sum(r_cnt) AS rr, sum(t_cnt) AS tt FROM model
), lr AS (
  SELECT b, ln((t_cnt + 1.0) / (tt + {_B}.0))
            - ln((r_cnt + 1.0) / (rr + {_B}.0)) AS lr
  FROM model, tot
), per_doc AS (
  SELECT doc_id, {keep},
         floor(sum(lr) * 1000000000 + 0.5) / 1000000000 AS w
  FROM bucketed JOIN lr USING (b)
  GROUP BY doc_id, {keep}
)"""


_DSIR_WEIGHTS_SQL = (
    _w_ctes("source")
    + """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(avg(w) * 1000000 + 0.5) / 1000000 AS mean_w,
       floor(avg(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END) * 1000000 + 0.5)
         / 1000000 AS pos_share,
       floor(max(w) * 1000000 + 0.5) / 1000000 AS max_w,
       floor(min(w) * 1000000 + 0.5) / 1000000 AS min_w
FROM per_doc
GROUP BY source
ORDER BY source
"""
)


def _dsir_resample_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _weights(spark, sf_dir, keep=("lang",))
    # Efraimidis–Spirakis A-Res: key = ln(u) / W, W = exp(clamp(w, ±30)),
    # u = Knuth-hash uniform of doc_id (portable, the extras33 scheme);
    # top-k by key is sampling WITHOUT replacement ∝ W. The key lands
    # on the 12dp rnd grid BEFORE the orderBy/LIMIT (ADVICE r10): ln
    # and exp are the engines' non-correctly-rounded libm ops, so a
    # 1-ulp JVM-vs-libm divergence near the top-k boundary could
    # otherwise flip the selection; doc_id stays the tie-break.
    u = (
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761)
    ) % F.lit(4294967296)
    u = (u + F.lit(0.5)) / F.lit(4294967296.0)
    wc = F.greatest(F.least(F.col("w"), F.lit(30.0)), F.lit(-30.0))
    sel = (
        w.withColumn("_key", rnd(F.log(u) / F.exp(wc), 12))
        .orderBy(F.col("_key").desc(), "doc_id")
        .limit(_RESAMPLE_K)
    )
    sel_lang = sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("_n_sel"),
        F.avg("w").alias("_mw"),
    )
    corpus = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    )
    ctot = corpus.agg(F.sum("n_corpus").alias("_nc"))
    stot = sel.agg(F.count(F.lit(1)).cast("long").alias("_ns"))
    return (
        corpus.join(F.broadcast(sel_lang), "lang", "left")
        .crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(stot))
        .select(
            "lang",
            "n_corpus",
            rnd(F.col("n_corpus") / F.col("_nc"), 6).alias("corpus_share"),
            F.coalesce(F.col("_n_sel"), F.lit(0)).cast("long").alias("n_sel"),
            rnd(F.coalesce(F.col("_n_sel"), F.lit(0)) / F.col("_ns"), 6).alias(
                "sel_share"
            ),
            rnd(F.col("_mw"), 6).alias("mean_w_sel"),
        )
        .orderBy("lang")
    )


_DSIR_RESAMPLE_SQL = (
    _w_ctes("lang")
    + f"""
, keyed AS (
  SELECT doc_id, lang, w,
         floor(ln((((doc_id % 2147483648) * 2654435761) % 4294967296 + 0.5)
                  / 4294967296.0)
               / exp(greatest(least(w, 30.0), -30.0))
               * 1000000000000 + 0.5) / 1000000000000 AS k
  FROM per_doc
), sel AS (
  SELECT doc_id, lang, w FROM keyed
  ORDER BY k DESC, doc_id LIMIT {_RESAMPLE_K}
), sel_lang AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_sel, avg(w) AS mw
  FROM sel GROUP BY lang
), corpus AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_corpus
  FROM documents GROUP BY lang
), ctot AS (SELECT sum(n_corpus) AS nc FROM corpus),
stot AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sel)
SELECT c.lang AS lang,
       c.n_corpus AS n_corpus,
       floor(CAST(c.n_corpus AS DOUBLE) / ctot.nc * 1000000 + 0.5)
         / 1000000 AS corpus_share,
       CAST(coalesce(s.n_sel, 0) AS BIGINT) AS n_sel,
       floor(CAST(coalesce(s.n_sel, 0) AS DOUBLE) / stot.ns * 1000000 + 0.5)
         / 1000000 AS sel_share,
       floor(s.mw * 1000000 + 0.5) / 1000000 AS mean_w_sel
FROM corpus c
LEFT JOIN sel_lang s USING (lang)
CROSS JOIN ctot CROSS JOIN stot
ORDER BY c.lang
"""
)


QUERIES: dict[str, QuerySpec] = {
    "dsir_importance_weights": QuerySpec(
        _dsir_importance_weights,
        _DSIR_WEIGHTS_SQL,
        "DSIR hashed n-gram importance weights (target = en slice): "
        "per-source mean weight, target-like share, weight envelope",
    ),
    "dsir_resample_census": QuerySpec(
        _dsir_resample_census,
        _DSIR_RESAMPLE_SQL,
        "DSIR importance RESAMPLING (A-Res top-50 with weight exp(w)): "
        "per-language selected-set composition vs corpus composition",
    ),
}


_TOK_FLOOR, _Q_FLOOR = 20, 0.45  # the training_data_prep text gates
_VAL_SHARDS = 20  # md5 shard 0 of 20 -> val (~5%)


def _multimodal_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed MULTIMODAL training-data pipeline — the media
    sibling of ``training_data_prep`` (queries/llmdata_q.py): text
    quality gate (token floor + quality score, scan-only) → image and
    audio feature gates where the payload decode runs payload-local
    over the text SURVIVORS only (the production gate order: the cheap
    scan shrinks the corpus before the expensive decode; only typed
    scalars ever cross a join) → deterministic md5 train/val split
    (the shard_assign construction) → per-(split, source) manifest
    with token and per-modality byte budgets. One lazy Catalyst plan,
    no materialization between stages. Synthetic media is closed-form
    (the extras63 recipes), so the whole composition is DuckDB-oracled.
    At 100 TB: decode-on-survivors is the difference between decoding
    100 TB of media and decoding the ~half that passes the text gate —
    the plan encodes that by synthesizing/decoding from the GATED doc
    frame, not the corpus."""
    from ..llmdata import hygiene, multimodal, textstats
    from .extras63 import _AMP_MOD, _BRIGHT_CUT, _LOUD_CUT, _NB_MOD

    d = t(spark, sf_dir, "documents")
    stats = textstats.with_text_stats(d)
    kept = stats.filter(
        (F.col("n_tokens") >= _TOK_FLOOR)
        & (F.col("quality_score") >= _Q_FLOOR)
    ).select("doc_id", "source", "n_tokens")
    img = multimodal.image_channel_stats(
        multimodal.synthesize_gradient_images(kept, "doc_id")
    ).select(
        F.col("media_id").alias("doc_id"),
        (F.col("r_mean") >= _BRIGHT_CUT).alias("is_bright"),
        (
            F.lit(54)
            + F.floor((3 * F.col("width") + 3) / 4) * 4 * F.col("height")
        )
        .cast("long")
        .alias("img_bytes"),
    )
    wav = multimodal.audio_block_loudness(
        multimodal.synthesize_block_wavs(
            kept, "doc_id", nb_mod=_NB_MOD, amp_mod=_AMP_MOD
        )
    ).select(
        F.col("media_id").alias("doc_id"),
        (F.col("rms_mean") >= _LOUD_CUT).alias("is_loud"),
        (F.lit(44) + 512 * F.col("n_blocks")).cast("long").alias("wav_bytes"),
    )
    manifest = (
        kept.join(img, "doc_id")
        .join(wav, "doc_id")
        .filter(F.col("is_bright") & F.col("is_loud"))
    )
    sharded = hygiene.shard_assign(manifest, "doc_id", n_shards=_VAL_SHARDS)
    return (
        sharded.withColumn(
            "split",
            F.when(F.col("shard") == 0, F.lit("val")).otherwise(
                F.lit("train")
            ),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("img_bytes").cast("long").alias("sum_img_bytes"),
            F.sum("wav_bytes").cast("long").alias("sum_wav_bytes"),
        )
        .orderBy("split", "source")
    )


# text-gate CTEs are the training_data_prep fragments (minus its eval
# holdout — this pipeline gates the full corpus); media CTEs are the
# extras63 closed forms; the split is the shard_assign hex construction
_MM_PREP_SQL = r"""
WITH stats AS (
  SELECT doc_id, source, text,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_distinct_tokens,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS n_stop
  FROM documents
), q AS (
  SELECT doc_id, source, n_tokens,
         floor((0.4 * least(n_chars_calc / 200.0, 1.0)
             + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 4, 1.0)
             + 0.3 * CASE WHEN n_tokens > 0 THEN n_distinct_tokens / CAST(n_tokens AS DOUBLE) ELSE 0.0 END)
           * 1000000 + 0.5) / 1000000 AS quality_score
  FROM stats
), kept AS (
  SELECT doc_id, source, n_tokens FROM q
  WHERE n_tokens >= 20 AND quality_score >= 0.45
), img AS (
  SELECT doc_id,
         (doc_id % 192 + (4 + doc_id % 4 - 1) / 2.0
          + 7 * (4 + doc_id % 5 - 1) / 2.0) >= 96 AS is_bright,
         54 + ((3 * (4 + doc_id % 4) + 3) // 4) * 4 * (4 + doc_id % 5)
           AS img_bytes
  FROM kept
), blocks AS (
  SELECT doc_id, 4 + doc_id % 3 AS nb,
         1000 + 500 * ((doc_id + b) % 7) AS amp
  FROM (
    SELECT doc_id,
           unnest(generate_series(0, CAST(3 + doc_id % 3 AS BIGINT))) AS b
    FROM kept
  )
), wav AS (
  SELECT doc_id,
         sum(CAST(amp AS DOUBLE)) / nb >= 2500.0 AS is_loud,
         44 + 512 * nb AS wav_bytes
  FROM blocks GROUP BY doc_id, nb
), m AS (
  SELECT k.doc_id, k.source, k.n_tokens, i.img_bytes, w.wav_bytes
  FROM kept k JOIN img i USING (doc_id) JOIN wav w USING (doc_id)
  WHERE i.is_bright AND w.is_loud
), sh AS (
  SELECT *, md5('s42:' || CAST(doc_id AS VARCHAR)) AS hk FROM m
), v AS (
  SELECT *,
    (CASE WHEN ascii(substr(hk,1,1)) >= 97 THEN ascii(substr(hk,1,1)) - 87
          ELSE ascii(substr(hk,1,1)) - 48 END) * 16
  + (CASE WHEN ascii(substr(hk,2,1)) >= 97 THEN ascii(substr(hk,2,1)) - 87
          ELSE ascii(substr(hk,2,1)) - 48 END) AS hv
  FROM sh
)
SELECT CASE WHEN hv % 20 = 0 THEN 'val' ELSE 'train' END AS split,
       source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(img_bytes) AS BIGINT) AS sum_img_bytes,
       CAST(sum(wav_bytes) AS BIGINT) AS sum_wav_bytes
FROM v
GROUP BY 1, source
ORDER BY split, source
"""


QUERIES["multimodal_data_prep"] = QuerySpec(
    _multimodal_data_prep,
    _MM_PREP_SQL,
    "composed multimodal training-data pipeline: text quality gate, "
    "payload-local image+audio gates decoded over survivors only, md5 "
    "train/val split, per-(split, source) token and byte manifest",
)


def _stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR ingest gate — the production shape for shipping a
    trained data-selection model to a document stream:

    1. TRAIN offline (batch): the 1024-row bucket log-ratio model from
       the static corpus (``dsir_bucket_model``; O(n_buckets) rows at
       any corpus scale).
    2. SHIP: bounded-collect the model into a literal map — the same
       move a fleet makes broadcasting a scorer to every ingest worker;
       the unseen-bucket log-ratio rides along so buckets outside the
       training table still score (it cannot fire in this finite replay
       of the training corpus itself, but a live stream sees novel
       buckets immediately).
    3. SCORE stateless map-side: per-doc weight is an ``aggregate``
       over the in-row gram array via map lookup — no explode, no
       shuffle, no state store; the gate (w > 0, i.e. more target-like
       than raw) filters inside the stream.
    4. Census from the append sink after the drain.

    The per-doc weight lands on the same 9dp grid as the batch
    ``dsir_doc_weights`` (identical doubles through the collect/lit
    round-trip; fns.rnd), so the batch SQL oracle is exact — streaming
    execution, hash-checkable result."""
    from ..fns import bounded_collect
    from ..llmdata import classify
    from ..streaming import drain_to_frame, stream_parquet

    batch = t(spark, sf_dir, "documents")
    model = classify.dsir_bucket_model(
        batch.withColumn(
            "is_target", F.coalesce(F.col("lang") == "en", F.lit(False))
        ),
        n_buckets=_B,
    )
    rows = bounded_collect(
        model, _B, f"hashed-feature bucket model (<= n_buckets={_B} rows)"
    )
    if not rows:
        # ADVICE r10: an empty documents table yields an empty bucket
        # model — fail loudly instead of IndexError on rows[0]
        raise ValueError(
            "stream_dsir_gate: documents table is empty — no bucket "
            "model to train; nothing to ship to the stream"
        )
    lr_map = F.map_from_arrays(
        F.lit([r["_b"] for r in rows]), F.lit([r["_lr"] for r in rows])
    )
    oov = rows[0]["_lr_unseen"]

    docs = stream_parquet(spark, f"{sf_dir}/documents.parquet", batch.schema)

    # bind tokens and grams as named columns — Catalyst does not
    # eliminate common subexpressions across lambda boundaries, so an
    # inline token expr would re-tokenize per bigram (see dsir_tokens)
    staged = docs.withColumn(
        "_tc", classify.dsir_tokens("text")
    ).withColumn("_grams", classify.dsir_grams("_tc"))
    buckets = F.transform(
        F.col("_grams"), lambda g: classify.dsir_bucket(g, _B)
    )
    w = rnd(
        F.aggregate(
            buckets,
            F.lit(0.0),
            lambda acc, b: acc
            + F.coalesce(F.element_at(lr_map, b), F.lit(oov)),
        ),
        9,
    )
    gated = (
        staged.withColumn("w", w)
        .drop("_tc", "_grams")
        .filter(F.col("w") > 0)
    )
    return (
        drain_to_frame(gated, output_mode="append")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            rnd(F.avg("w"), 6).alias("mean_w_kept"),
        )
        .orderBy("source")
    )


_STREAM_DSIR_SQL = (
    _w_ctes("source")
    + """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       floor(avg(w) * 1000000 + 0.5) / 1000000 AS mean_w_kept
FROM per_doc
WHERE w > 0
GROUP BY source
ORDER BY source
"""
)


QUERIES["stream_dsir_gate"] = QuerySpec(
    _stream_dsir_gate,
    _STREAM_DSIR_SQL,
    "streaming DSIR ingest gate: batch-trained bucket model shipped "
    "into the stream as a literal map, stateless map-side scoring, "
    "w > 0 gate, per-source census from the append sink",
)


_PRF_Q = 10  # query docs 0..9 (doc-as-query, the retrieval fixture convention)
_PRF_FB, _PRF_EXP, _PRF_W, _PRF_K = 10, 5, 0.5, 10


def _bm25_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3-style pseudo-relevance feedback retrieval, fully oracled:
    BM25 top-10 feedback per query → expansion terms ranked by
    Σ tf·idf over the feedback docs (6dp grid, term-asc tie-break) →
    top-5 expansion terms join the query at weight 0.5 →
    weighted-BM25 second pass → top-10. See
    llmdata/retrieval.py bm25_prf_topk for the 100 TB shape (both
    corpus passes are broadcast-pruned posting lists; everything
    between is n_queries-bounded)."""
    from ..llmdata import retrieval

    docs = t(spark, sf_dir, "documents")
    return retrieval.bm25_prf_topk(
        docs,
        list(range(_PRF_Q)),
        fb_k=_PRF_FB,
        n_exp=_PRF_EXP,
        exp_weight=_PRF_W,
        final_k=_PRF_K,
    )


_PRF_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tc
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(tc) AS BIGINT) AS dl FROM toks
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, u.tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks, unnest(tc) AS u(tok) GROUP BY doc_id, u.tok
), dft AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY tok
), q0 AS (
  SELECT DISTINCT t.doc_id AS query_id, u.tok AS token
  FROM toks t, unnest(tc) AS u(tok) WHERE t.doc_id < {_PRF_Q}
), s1 AS (
  SELECT q.query_id, f.doc_id,
         floor(sum(
           ln(1 + (g.n_docs - d.dft + 0.5) / (d.dft + 0.5))
           * f.tf * 2.2
           / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / g.avgdl))
         ) * 1000000 + 0.5) / 1000000 AS bm25
  FROM tf f
  JOIN q0 q ON q.token = f.tok
  JOIN dft d ON d.tok = f.tok
  JOIN dl l ON l.doc_id = f.doc_id
  CROSS JOIN g
  WHERE f.doc_id <> q.query_id
  GROUP BY q.query_id, f.doc_id
), fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY bm25 DESC, doc_id) AS r
    FROM s1
  ) WHERE r <= {_PRF_FB}
), exp_cand AS (
  SELECT b.query_id, f.tok,
         floor(sum(f.tf * ln(1 + (g.n_docs - d.dft + 0.5) / (d.dft + 0.5)))
               * 1000000 + 0.5) / 1000000 AS wexp
  FROM fb b
  JOIN tf f ON f.doc_id = b.doc_id
  JOIN dft d ON d.tok = f.tok
  CROSS JOIN g
  GROUP BY b.query_id, f.tok
), expn AS (
  SELECT query_id, tok AS token FROM (
    SELECT c.query_id, c.tok, c.wexp,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY c.wexp DESC, c.tok) AS er
    FROM exp_cand c
    ANTI JOIN q0 q ON q.query_id = c.query_id AND q.token = c.tok
  ) WHERE er <= {_PRF_EXP}
), q1 AS (
  SELECT query_id, token, 1.0 AS qw FROM q0
  UNION ALL
  SELECT query_id, token, {_PRF_W} AS qw FROM expn
), s2 AS (
  SELECT q.query_id, f.doc_id,
         floor(sum(
           ln(1 + (g.n_docs - d.dft + 0.5) / (d.dft + 0.5))
           * f.tf * 2.2
           / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / g.avgdl))
           * q.qw
         ) * 1000000 + 0.5) / 1000000 AS prf_score
  FROM tf f
  JOIN q1 q ON q.token = f.tok
  JOIN dft d ON d.tok = f.tok
  JOIN dl l ON l.doc_id = f.doc_id
  CROSS JOIN g
  WHERE f.doc_id <> q.query_id
  GROUP BY q.query_id, f.doc_id
)
SELECT query_id, doc_id, prf_score,
       CAST(prf_rank AS BIGINT) AS prf_rank
FROM (
  SELECT query_id, doc_id, prf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY prf_score DESC, doc_id) AS prf_rank
  FROM s2
) WHERE prf_rank <= {_PRF_K}
ORDER BY query_id, prf_rank
"""


QUERIES["bm25_prf_topk"] = QuerySpec(
    _bm25_prf_topk,
    _PRF_SQL,
    "pseudo-relevance feedback retrieval (RM3-style): BM25 feedback "
    "top-10, tf·idf expansion terms at weight 0.5, weighted second "
    "pass, top-10 per query",
)


_DPM_EPS, _DPM_CLIP = 1.0, 400.0


def _dp_mean_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP-SHAPED clipped-mean release (demo of the mechanism, NOT a
    private release) — the other half of the toolkit next to
    ``dp_lang_counts``' counts: per-language mean document length,
    computed as Lap-noised(clipped sum) / Lap-noised(count) with the ε
    budget split evenly (sum sensitivity = the clip bound C, count
    sensitivity 1), the textbook (ε/2 + ε/2) composition SHAPE.

    It is deliberately NOT differentially private as shipped (ADVICE
    r10): the Laplace noise is a deterministic function of the data
    (seed = sum(doc_id) per language) so the DuckDB oracle can replay
    the release exactly, and the row also emits the exact ``true_mean``
    and ``n_docs`` for test/demo comparison. A real deployment must
    swap the seed for a cryptographic RNG and drop ``true_mean`` —
    this query verifies the clipping/budget-split/noise PLUMBING
    hash-exactly, per the repo's dp_lang_counts oracled-pseudo-noise
    convention. Noise is the engine-portable seeded inverse-CDF Laplace
    (Knuth-hash uniform of a per-group integer seed; two draws use seed
    and seed+1). Scale shape: one map-side clip + one hash aggregate to
    the language grain; noise is dim-grain arithmetic."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.least(F.col("n_chars").cast("double"), F.lit(_DPM_CLIP)).alias(
            "_clipped"
        ),
        (F.col("n_chars") > _DPM_CLIP).cast("long").alias("_was_clipped"),
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_clipped").alias("_s"),
        F.sum("_was_clipped").cast("long").alias("_n_clip"),
        F.avg(F.col("n_chars").cast("double")).alias("_true_mean"),
        F.sum("doc_id").cast("long").alias("_seed"),
    )

    def lap(seed_col, scale: float):
        h = (seed_col % 2147483648) * 2654435761 % 4294967296
        u = (h + 0.5) / 4294967296.0
        return (
            F.lit(-scale) * F.signum(u - 0.5) * F.log(1 - 2 * F.abs(u - 0.5))
        )

    noisy_sum = F.col("_s") + lap(F.col("_seed"), 2.0 * _DPM_CLIP / _DPM_EPS)
    noisy_n = F.col("n_docs") + lap(F.col("_seed") + 1, 2.0 / _DPM_EPS)
    return (
        agg.select(
            "lang",
            "n_docs",
            rnd(F.col("_n_clip") / F.col("n_docs"), 6).alias("clipped_share"),
            rnd(noisy_sum / F.greatest(noisy_n, F.lit(1.0)), 6).alias(
                "dp_mean"
            ),
            rnd(F.col("_true_mean"), 6).alias("true_mean"),
            F.lit(_DPM_EPS).alias("epsilon"),
        )
        .orderBy("lang")
    )


_DPM_SQL = f"""
WITH agg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         sum(least(CAST(n_chars AS DOUBLE), {_DPM_CLIP})) AS s,
         CAST(sum(CASE WHEN n_chars > {_DPM_CLIP} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clip,
         avg(CAST(n_chars AS DOUBLE)) AS true_mean,
         CAST(sum(doc_id) AS BIGINT) AS seed
  FROM documents GROUP BY lang
), nz AS (
  SELECT *,
         (((seed % 2147483648) * 2654435761) % 4294967296 + 0.5)
           / 4294967296.0 AS u1,
         ((((seed + 1) % 2147483648) * 2654435761) % 4294967296 + 0.5)
           / 4294967296.0 AS u2
  FROM agg
), rel AS (
  SELECT lang, n_docs, n_clip, true_mean,
         s + (-{2.0 * _DPM_CLIP / _DPM_EPS}) * sign(u1 - 0.5)
             * ln(1 - 2 * abs(u1 - 0.5)) AS noisy_sum,
         n_docs + (-{2.0 / _DPM_EPS}) * sign(u2 - 0.5)
             * ln(1 - 2 * abs(u2 - 0.5)) AS noisy_n
  FROM nz
)
SELECT lang, n_docs,
       floor(CAST(n_clip AS DOUBLE) / n_docs * 1000000 + 0.5) / 1000000
         AS clipped_share,
       floor(noisy_sum / greatest(noisy_n, 1.0) * 1000000 + 0.5) / 1000000
         AS dp_mean,
       floor(true_mean * 1000000 + 0.5) / 1000000 AS true_mean,
       {_DPM_EPS} AS epsilon
FROM rel ORDER BY lang
"""


QUERIES["dp_mean_release"] = QuerySpec(
    _dp_mean_release,
    _DPM_SQL,
    "ε-DP clipped-mean release per language (Laplace on clipped sum "
    "and count, even ε split, portable seeded noise)",
)
