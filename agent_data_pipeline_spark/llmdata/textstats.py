"""Text-analysis operators: token stats, quality scoring, document
fingerprinting.

Pure JVM expression work (split, regexp, higher-order array fns) —
codegen'd, no Python, scan-bound at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fns import bounded_collect, once, rnd, spread

_WORD_RE = r"\s+"
# BPE-ish token split: runs of letters, runs of digits, or single
# non-space symbols — a cheap deterministic proxy for subword tokenizers.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), _WORD_RE)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (letters/digit runs + symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_RE), 0)).cast("long")


def stopword_count(text: Column) -> Column:
    toks = F.split(F.lower(text), _WORD_RE)
    return F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("long")


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(0.0)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats columns: chars, tokens, distinct tokens,
    avg token length, stopword ratio, punctuation ratio, quality score.

    Quality score is the reference-style guarded-ratio shape: a [0,1]
    blend of length sanity, stopword presence and type-token ratio —
    deterministic, tunable, and entirely JVM-side.
    """
    df = spread(df)
    text = F.col(text_col)
    toks = F.split(F.trim(text), _WORD_RE)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    sw = stopword_count(text)
    ttr = F.when(n_tok > 0, n_distinct / n_tok).otherwise(0.0)
    sw_ratio = F.when(n_tok > 0, sw / n_tok).otherwise(0.0)
    len_score = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    quality = rnd(
        0.4 * len_score + 0.3 * F.least(sw_ratio * 4, F.lit(1.0)) + 0.3 * ttr, 6
    )
    # ONE select, not seven chained withColumn calls: every DataFrame
    # transformation re-analyzes the whole (text-heavy) plan in the JVM
    # eagerly, so the chained form paid 7 growing analysis passes of
    # pure plan-construction latency per caller (bench plan_queries made
    # it visible; the produced Project collapses identically either way).
    # once(): the quality gate downstream (`.filter("quality_score >=
    # t")`) must not re-inline the whole HOF blend into a pushed Filter
    # below the spread exchange — that evaluated the blend twice, once
    # serially in the scan stage (fns.once docstring; plan_audit
    # `hof_filter_recompute`). Value is unchanged.
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        rnd(
            F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(0.0), 6
        ).alias("avg_token_len"),
        rnd(sw_ratio, 6).alias("stopword_ratio"),
        rnd(punct_ratio(text), 6).alias("punct_ratio"),
        once(quality).alias("quality_score"),
    )


def content_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set. Detects bag-of-words-identical docs (e.g. shuffled copies)
    that exact hashing misses; used as a cheap canonical-form dedup key.
    """
    toks = F.array_sort(F.array_distinct(F.split(F.lower(F.col(text_col)), _WORD_RE)))
    return df.withColumn("bow_fingerprint", F.md5(F.array_join(toks, " ")))


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's OWN
    unigram model — the CCNet-style LM-quality proxy: documents of
    common, fluent vocabulary score high; gibberish and rare-token noise
    score low. No external model, fully deterministic, SQL-expressible.

    Returns (id, n_tokens, avg_logprob).

    Plan shape at 100 TB: token explode is map-side; the vocabulary is a
    partial-agg'd count (shuffle carries (token, count), vocabulary-
    bounded); the corpus total joins back as a broadcast 1-row cross
    join; the score join shuffles tokens against the vocabulary — the
    standard token-table join. Skew note: hot stop-words concentrate on
    single partitions in that join; at real scale broadcast the top-K
    head of the vocabulary and shuffle only the tail (AQE's skew-join
    handles the moderate case automatically).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), _WORD_RE)).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("cnt") / F.col("total")).alias("logp")
    )
    return (
        toks.join(logp, "tok")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            rnd(F.avg("logp"), 4).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def rolling_hash(df: DataFrame, text_col: str = "text", mod: int = 1 << 31) -> DataFrame:
    """Polynomial rolling hash (Rabin-Karp shape) over characters,
    computed with a JVM-side higher-order aggregate: h = h*31 + code
    (mod 2^31). Deterministic and SQL-expressible for oracle parity.
    """
    df = spread(df)
    chars = F.split(F.col(text_col), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(mod).cast("long"),
    )
    return df.withColumn("rolling_hash", fp)


def vocab_encode_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 20,
) -> DataFrame:
    """Tokenizer-style vocabulary encoding audit: build a corpus
    vocabulary of the ``vocab_size`` most frequent words (total-order
    tie-break: count desc, then word — so the vocabulary is
    deterministic), assign ids 1..V by that rank, and re-encode every
    document against it. Per document: token count, out-of-vocabulary
    count, OOV rate, and the sum of assigned ids (an order-insensitive
    checksum of the encoding itself, so two engines must agree on WHICH
    id every token got, not just how many were known).

    Scale shape: the vocabulary is vocabulary-bounded (top-V, tiny) and
    broadcast to the token join; tokens explode map-side from the
    documents they live in. One shuffle for the vocab count, one
    broadcast join, one groupBy on the document id.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    )
    # window-free id assignment (round-11 allowlist burn-down; was a
    # global row_number over the already-TakeOrdered top-V rows): the
    # ordered vocab-grain collect IS the rank — ids are enumerated
    # driver-side and shipped back as a literal broadcast frame
    vrows = bounded_collect(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(vocab_size),
        vocab_size,
        f"top-{vocab_size} vocabulary",
    )
    vocab = df.sparkSession.createDataFrame(
        [(r["w"], i + 1) for i, r in enumerate(vrows)],
        "w STRING, tok_id LONG",
    )
    enc = toks.join(F.broadcast(vocab), "w", "left")
    return (
        enc.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("tok_id").isNull()).alias("n_oov"),
            F.coalesce(F.sum("tok_id"), F.lit(0)).cast("long").alias("id_checksum"),
        )
    )


def with_compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """zlib compression ratio per document — the Gopher/MassiveText
    redundancy signal (arXiv:2112.11446 filters on it): highly
    compressible text is boilerplate/repetition, incompressible text is
    often binary junk; natural prose sits in a band. Ratio =
    deflate(utf8(text), level 6) / raw bytes.

    Runs as an Arrow-batched mapInPandas kernel (zlib releases the GIL;
    the payload never shuffles — the kernel projects id + two lengths).
    DECLARED ENGINE-LOCAL: DEFLATE output length is a property of the
    zlib build, not of SQL — no DuckDB oracle exists, so the registry
    entry is rows-only and tests/test_hygiene.py pins exactness against
    a direct zlib call plus the band sanity for repetitive vs random
    text."""
    import zlib
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    def run(batches: "_Iter[_pd.DataFrame]") -> "_Iter[_pd.DataFrame]":
        for pdf in batches:
            raw_lens, comp_lens = [], []
            for text in pdf[text_col]:
                b = (text or "").encode("utf-8")
                raw_lens.append(len(b))
                comp_lens.append(len(zlib.compress(b, 6)))
            yield _pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": _pd.Series(raw_lens, dtype="int64"),
                    "compressed_bytes": _pd.Series(comp_lens, dtype="int64"),
                }
            )

    out = df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} long, raw_bytes long, compressed_bytes long"
    )
    return out.withColumn(
        "compression_ratio",
        F.when(
            F.col("raw_bytes") > 0,
            F.col("compressed_bytes") / F.col("raw_bytes"),
        ).otherwise(0.0),
    )
