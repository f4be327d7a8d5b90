"""Deduplication operators for LLM training-data pipelines.

Five families, all expressed as declarative DataFrame plans so Catalyst
handles pushdown/partial-agg, and every shuffle is on a key we chose:

* exact_dedup            — hash-groupBy on a content fingerprint.
* token_jaccard_pairs    — exact n-gram/token Jaccard via an inverted
                           index join (posting-list self-join).
* minhash_signatures / minhash_lsh_pairs — MinHash + banded LSH:
                           the 100 TB-scale near-dup path. Candidate
                           generation is a band-bucket equi-join (shuffle
                           on (band, bucket-hash)), never an all-pairs
                           cross join.
* simhash64              — 64-bit SimHash fingerprint per document,
                           computed JVM-side with bitwise expressions.
* embedding_neardup_pairs — cosine-similarity near-dup over an embedding
                           column (delegates to similarity.cosine_pairs).

Scale notes: all-pairs comparisons are O(n²) and never acceptable; every
near-dup operator here goes through candidate generation (shared shingle,
shared LSH bucket, shared projection bucket) so the join fans out only
within buckets. Skewed buckets (a shingle present in half the corpus) are
the classic failure: ``token_jaccard_pairs`` drops top-frequency shingles
(document-frequency cap) exactly like large-scale dedup systems do.

Order of operations on duplicate-heavy corpora (the 100 TB norm): run
``exact_dedup`` FIRST and feed only unique representatives into
``minhash_lsh_pairs``/``simhash_hamming_pairs``. Near-dup *pair* output
is inherently O(m²) per duplicate group — collapsing exact duplicates up
front (linear) keeps the pair expansion linear in practice (measured in
SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..fns import once, rnd, spread
from ..ops.observe import checkpoint_observed, release_checkpoint


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add an md5 content fingerprint column (exact-dup key)."""
    return df.withColumn("fingerprint", F.md5(F.col(text_col)))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct content.

    Plan: project(fingerprint) -> partial-agg -> shuffle on fingerprint ->
    final agg. The shuffle carries fingerprints + ids only, not the text.
    """
    return (
        fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def tokens(df: DataFrame, text_col: str = "text", distinct: bool = True):
    """Whitespace tokens as an array column (lowercased)."""
    arr = F.split(F.lower(F.col(text_col)), r"\s+")
    if distinct:
        arr = F.array_distinct(arr)
    return arr


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingles, distinct, as an array column ``shingles``.

    Built with a JVM-side higher-order transform over the token array —
    no Python in the loop. The token array is materialized on its own
    projection BEFORE an exchange: without that barrier CollapseProject
    inlines the ``split`` into the transform lambda and the tokenization
    re-runs per shingle index — O(len²) per document (measured 7x slower
    at sf0.1). The exchange doubles as the parallelism spread for
    single-split inputs (see fns.spread).
    """
    toksed = spread(
        df.withColumn("_toks", F.split(F.lower(F.col(text_col)), r"\s+")),
        force=True,
    )
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return toksed.withColumn("shingles", sh).drop("_toks")


def shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingle HASHES as ``sh_hashes: array<long>``,
    values in [0, 2^31-1) — the MinHash input domain.

    Never materializes shingle strings: tokens are xxhash64'd once each,
    then shifted copies of the token-hash array combine arithmetically
    (zip_with) into one polynomial hash per n-gram — O(tokens) work and
    zero string allocation, vs O(tokens * n) chars of concat for string
    shingles. All values stay below 2^51 so the arithmetic is safe under
    ANSI overflow checking. Collision probability ~2^-31 per pair — noise
    far below MinHash's own estimation error.
    """
    if n != 3:  # generic fallback: hash the materialized string shingles
        return shingles(df, text_col, n).withColumn(
            "sh_hashes",
            F.array_distinct(
                F.transform(
                    "shingles",
                    lambda s: F.xxhash64(s).bitwiseAND(F.lit((1 << 31) - 1)),
                )
            ),
        ).drop("shingles")
    mersenne = (1 << 31) - 1
    prime = 1_000_003
    toksed = spread(
        df.withColumn("_toks", F.split(F.lower(F.col(text_col)), r"\s+")),
        force=True,
    )
    th = F.transform(F.col("_toks"), lambda t: F.xxhash64(t).bitwiseAND(F.lit(mersenne)))
    toksed = toksed.withColumn("_th", th)
    a = F.col("_th")
    L = F.size(a)
    b = F.slice(a, 2, F.greatest(L - 1, F.lit(1)))
    c = F.slice(a, 3, F.greatest(L - 2, F.lit(1)))
    # poly(x,y,z) = ((x*P + y)*P + z) mod M, elementwise over shifted arrays;
    # zip_with pads the shorter side with null -> tail entries go null and
    # are cut by the final slice before array_distinct.
    ab = F.zip_with(a, b, lambda x, y: (x * prime + y) % F.lit(mersenne))
    abc = F.zip_with(ab, c, lambda xy, z: (xy * prime + z) % F.lit(mersenne))
    full = F.when(
        L >= n,
        F.array_distinct(F.slice(abc, 1, L - (n - 1))),
    ).otherwise(
        # short doc: one shingle = polynomial over all tokens
        F.array(
            F.aggregate(
                a,
                F.lit(0).cast("long"),
                lambda acc, x: (acc * prime + x) % F.lit(mersenne),
            )
        )
    )
    return toksed.withColumn("sh_hashes", full).drop("_toks", "_th")


def token_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted-index self-join.

    1. Explode distinct tokens -> (token, id) posting list.
    2. Drop tokens with document frequency > max_df_ratio * n_docs
       (stop-token cap: bounds posting-list skew, the O(df²) term).
    3. Self-join postings on token -> co-occurrence counts = |A ∩ B|.
    4. Jaccard = inter / (|A| + |B| - inter); keep pairs >= threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b. Exact w.r.t. the
    retained token vocabulary. DF-cap note: with the default 0.5 ratio a
    pair can only lose tokens shared by half the corpus; for the oracle
    query we disable the cap (ratio=1.0) so semantics are exactly Jaccard.
    """
    df = spread(df)
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(df, text_col)).alias("tok")
    )
    if max_df_ratio < 1.0:
        # The corpus count() backing the DF cap is only taken when the cap
        # is active — ratio=1.0 (the exact-Jaccard oracle mode) runs zero
        # extra actions.
        n_docs = df.count()
        dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        keep = dfreq.filter(F.col("df") <= int(max_df_ratio * n_docs)).select("tok")
        toks = toks.join(F.broadcast(keep), "tok")
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            rnd(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document via the Kirsch-Mitzenmacher
    construction: two base string hashes per shingle, then
    ``sig[i] = min((h1 + i*h2) mod 2^31-1)`` — 2 string hashes instead of
    ``num_hashes``, with the affine family preserving MinHash's collision
    property. All JVM-side: explode shingles, project (h1, h2), then
    ``num_hashes`` independent ``min`` aggregates — each gets map-side
    partial aggregation, so the shuffle carries one signature-width row
    per (partition, doc), not one row per shingle. Values are masked to
    31 bits so the affine combination never overflows a long (safe under
    ANSI arithmetic).
    """
    mersenne = (1 << 31) - 1
    # explode_outer + generated-attr filter: non-outer explode makes
    # InferFiltersFromGenerate duplicate the whole inlined shingle-hash
    # computation into a pushed Filter below the spread exchange
    # (hof_filter_recompute — the round-13 band-key pathology).
    # sh_hashes is never empty/null (shingle_hashes' when/otherwise),
    # so outer emits identical rows; the isNotNull pin cannot be pushed
    # below the Generate.
    sh = (
        shingle_hashes(df, text_col, shingle_n)
        .select(F.col(id_col).alias("id"), F.explode_outer("sh_hashes").alias("h1"))
        .filter(F.col("h1").isNotNull())
    )
    # The wide expression lists are built as SQL strings (one F.expr per
    # aggregate) rather than nested Column calls: the plans are
    # identical, but num_hashes × ~6 py4j round trips of driver-side
    # construction collapse to num_hashes × 1 — measured ~0.8s → ~0.4s
    # of plan-construction per call at num_hashes=64 (bench.py
    # plan_queries made this visible).
    base = sh.select(
        "id",
        "h1",
        # second base hash for Kirsch-Mitzenmacher: remix h1; force odd so
        # the affine family never degenerates to a constant
        F.expr(f"((h1 * 2654435761) % {mersenne}) | 1").alias("h2"),
    )
    # The whole signature is ONE aggregate expression (array of mins)
    # built as a single F.expr: one py4j call and one JVM analysis pass
    # instead of num_hashes exprs + a follow-up wide select that
    # re-analyzed the 64-column aggregate (~0.4 s of plan construction
    # per caller). Partial aggregation economics are unchanged — the
    # array is assembled from the same min() aggregates.
    return base.groupBy("id").agg(
        F.expr(
            "array("
            + ",".join(
                f"min((h1 + {i} * h2) % {mersenne})" for i in range(num_hashes)
            )
            + ") AS signature"
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified with
    estimated Jaccard (signature agreement ratio).

    Banding: num_hashes/bands rows per band; a pair is a candidate iff
    some band's sub-signature matches exactly. Candidate generation is an
    equi-join on (band_id, band_hash) — shuffle co-locates same-bucket
    docs; no cross join. With r rows/band and b bands the s-curve
    threshold is (1/b)^(1/r).

    Returns (id_a, id_b, est_jaccard) with est_jaccard >= threshold.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    # built as one SQL string for the same plan at a fraction of the
    # py4j construction cost (see minhash_signatures)
    band_arr = F.expr(
        "array("
        + ",".join(
            "struct({bi} AS band, xxhash64(concat_ws(',', {parts})) AS bucket)".format(
                bi=bi,
                parts=",".join(
                    f"cast(element_at(signature, {bi * rows_per_band + ri + 1}) as string)"
                    for ri in range(rows_per_band)
                ),
            )
            for bi in range(bands)
        )
        + ")"
    )
    banded = sig.select("id", "signature", F.explode(band_arr).alias("bb")).select(
        "id", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # Candidate pairs by in-bucket expansion (groupBy + collect_list +
    # nested transform) rather than a banded self-join: the self-join
    # would execute the whole signature lineage twice and shuffle it
    # twice; this shape runs it once, shuffling on (band, bucket).
    # max_bucket is the skew guard: a degenerate bucket holding half the
    # corpus would otherwise expand O(m²) pairs in one task — buckets
    # that hot carry no dedup signal (everything matches everything) and
    # real systems drop them; 512 members = ~130k pairs/bucket worst case.
    max_bucket = 512
    members = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "signature")).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ms",
                lambda x: F.transform(F.col("ms"), lambda y: F.struct(x.alias("a"), y.alias("b"))),
            )
        ),
        lambda p: p["a"]["id"] < p["b"]["id"],
    )
    # explode_outer + null-filter (see minhash_signatures): buckets pass
    # size(ms) > 1 with per-band-distinct ids, so >= 1 ordered pair always
    # exists — outer emits identical rows while keeping the infer rule
    # from evaluating the whole pair expansion twice per bucket.
    cand = (
        members.select(F.explode_outer(pair_structs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            F.col("p.a.signature").alias("sig_a"),
            F.col("p.b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = rnd(
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_hashes),
        6,
    )
    return (
        # fns.once: without the taint the threshold gate inlines the
        # zip_with/aggregate signature comparison into the Filter AND the
        # output projection — the 64-lane compare ran twice per candidate
        # pair (hof_filter_recompute).
        cand.withColumn("est_jaccard", once(est))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    For each distinct token take xxhash64(token); for each of 64 bit
    positions sum +1/-1 votes across tokens; fingerprint bit = 1 iff the
    vote is positive. Near-dup docs differ in few bits (Hamming distance).
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(df, text_col)).alias("tok")
    )
    h = toks.withColumn("h", F.xxhash64("tok"))
    agg = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(63)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(63):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col("id").alias(id_col), fp.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with blocked candidate generation.

    Split the 64-bit fingerprint into ``blocks`` chunks; by pigeonhole, a
    pair within Hamming distance < blocks must agree on at least one
    chunk. Join on (chunk_id, chunk_value), then verify exact Hamming
    distance with bit_count(xor). Scales as an equi-join, not n².
    """
    sh = simhash64(df, text_col, id_col)
    width = 64 // blocks
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("val"),
            )
            for i in range(blocks)
        ]
    )
    ch = sh.select(
        F.col(id_col).alias("id"), "simhash", F.explode(chunk_arr).alias("c")
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    a, b = ch.alias("a"), ch.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def passage_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit_tokens: int = 8,
) -> DataFrame:
    """Passage-level (sub-document) dedup: split each document into
    fixed ``unit_tokens``-token passages, keep only the globally FIRST
    occurrence of each distinct passage (ordered by (id, position)), and
    reassemble. The standard boilerplate-removal pass in training-data
    pipelines — document-level dedup can't touch a repeated header or
    license block embedded in otherwise-unique documents.

    Returns one row per surviving document: (id, n_units, n_kept,
    kept_text) with kept passages rejoined in original order.

    Plan shape for 100 TB: the passage explode is map-side; the
    keep-first decision is ONE shuffle partitioned by the passage md5
    (shuffle rows carry the 16-byte digest + id + position, never the
    document); reassembly is a groupBy on the id — the same key the
    explode preserved, so AQE can often coalesce it. No joins, no
    all-pairs anything; skew = a passage repeated across half the corpus
    lands one hot partition, bounded because only (digest, id, pos)
    tuples travel, not text.
    """
    toks = F.split(F.col(text_col), r"\s+")
    n_units = F.ceil(F.size(toks) / F.lit(unit_tokens)).cast("int")
    units = (
        spread(df.select(F.col(id_col).alias("id"), toks.alias("_toks"), n_units.alias("_n")))
        .select(
            "id",
            "_toks",
            F.posexplode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("pos", "_i"),
        )
        .select(
            "id",
            "pos",
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("pos") * unit_tokens + 1, unit_tokens)
            ).alias("unit"),
        )
    )
    w = W.partitionBy(F.md5(F.col("unit"))).orderBy("id", "pos")
    kept = units.withColumn("_rn", F.row_number().over(w))
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_rn") == 1, F.struct("pos", "unit"))
                        )
                    ),
                    lambda s: s["unit"],
                ),
            ).alias("kept_text"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_units").cast("long").alias("n_units"),
            "n_kept",
            "kept_text",
        )
    )


def keep_representatives(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Given near-dup pairs, drop every doc that appears as the larger id
    of a pair (greedy min-id representative selection — one connected-
    component pass would be exact; greedy matches common practice for
    dedup at scale and needs no iterative join)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node starts labeled with itself; each
    round it adopts the minimum label in its neighborhood; fixpoint =
    components labeled by their minimum member. This makes
    `keep_representatives`' greedy pass exact (transitive duplicate
    groups collapse to one representative even through chains a->b->c).

    Scale design: one shuffle per round (neighbor-min aggregate on the
    node key). A label moves one hop per round, so the loop takes
    O(component diameter) rounds: a few on star-shaped duplicate
    clusters, about n on an n-node chain of edited copies. Labels only
    decrease, so their sum is a strictly decreasing potential until the
    fixpoint: a round whose label sum did not drop changed no label,
    and the loop stops there, with no round cap. Each round is one
    ``checkpoint_observed`` job (the checkpoint truncates the plan and
    the label sum rides the same job), and the previous round's labels
    are released once the next exist. GraphFrames is not assumed
    present.

    Returns (node, component) — component is the min node id reachable.
    """
    # Checkpoint the symmetrized edge list ONCE: `pairs` is typically an
    # EXPENSIVE mining subtree (token-Jaccard pair join, Levenshtein
    # candidate generation), and every propagation round joins the edge
    # list — without materialization each round's job re-executed the
    # whole mining DAG from scratch (measured: the dominant cost of
    # component_label_propagation / dup_components at sf0.1).
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )

    # decimal: a sum of long ids can overflow long at scale
    label_sum = {"label_sum": F.sum(F.col("comp").cast("decimal(38,0)"))}

    labels, stats = checkpoint_observed(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        label_sum,
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels, new_stats = checkpoint_observed(
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
            ),
            label_sum,
        )
        release_checkpoint(labels)
        labels = new_labels
        if new_stats["label_sum"] == stats["label_sum"]:
            break
        stats = new_stats
    release_checkpoint(edges)
    return labels


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Cross-document duplicate-SPAN measurement: the sliding-window
    counterpart of passage_dedup, after the exact-substring dedup
    finding of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better" — arXiv:2107.06499): a span is duplicated
    when its ``window``-token text occurs anywhere else in the corpus
    (any document, including again in its own). Per document: total
    spans, duplicated spans, duplicated fraction — the metric that
    decides whether substring-level dedup is worth running at all.

    Plan shape: spans explode map-side from a materialized token column
    (hygiene.ngrams_from_tokens contract); occurrence counts come from
    ONE window aggregation partitioned by the 16-byte span digest — no
    join-back of the span stream (the passage_dedup trick), so the
    exploded stream shuffles exactly once. Documents shorter than the
    window survive with zero counts (explode_outer).
    """
    from . import hygiene

    toks = spread(
        df.select(
            F.col(id_col),
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks"),
        ),
        force=True,
    )
    spans = toks.select(
        F.col(id_col),
        F.explode_outer(
            hygiene.ngrams_from_tokens(F.col("_toks"), window)
        ).alias("_span"),
    ).select(F.col(id_col), F.md5(F.col("_span")).alias("_dg"))
    occ = F.count(F.lit(1)).over(W.partitionBy("_dg"))
    flagged = spans.withColumn(
        "_occ", F.when(F.col("_dg").isNotNull(), occ)
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count_if(F.col("_dg").isNotNull()).alias("n_spans"),
        F.count_if(F.col("_occ") > 1).alias("n_dup_spans"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_spans",
        "n_dup_spans",
        F.when(F.col("n_spans") > 0,
               F.col("n_dup_spans") / F.col("n_spans"))
        .otherwise(F.lit(0.0))
        .alias("dup_span_fraction"),
    )


def token_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Directed containment pairs via the same inverted-index self-join
    as :func:`token_jaccard_pairs`.

    Containment C(A,B) = |A ∩ B| / |A| detects quote/subset duplication
    that symmetric Jaccard misses: a paragraph fully contained in a much
    longer document has near-1 containment but tiny Jaccard. Emits one
    row per unordered pair (id_a < id_b) with BOTH directions
    (c_a_in_b, c_b_in_a), kept when either crosses the threshold.
    Candidate generation is the posting-list equi-join — identical scale
    shape (and DF-cap options composable the same way) as the Jaccard
    path; no new join strategy.
    """
    df = spread(df)
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(df, text_col)).alias("tok")
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("c_a_in_b", rnd(F.col("inter") / F.col("sz_a"), 6))
        .withColumn("c_b_in_a", rnd(F.col("inter") / F.col("sz_b"), 6))
        .filter(
            (F.col("c_a_in_b") >= threshold) | (F.col("c_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "c_a_in_b", "c_b_in_a")
    )
