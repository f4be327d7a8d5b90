"""Embedding similarity search over an ``array<float>`` column.

Four tiers, in increasing scale:

* ``cosine_topk_bruteforce`` — exact top-k for a (driver-small) query set
  against the full corpus. The query matrix ships inside an Arrow-batched
  ``mapInPandas`` kernel; each corpus batch does ONE numpy matmul and
  emits only its per-batch top-k per query, so the shuffle into the final
  global rank carries O(batches * |Q| * k) rows, never O(n * |Q|). This
  is the scan-everything baseline and the recall oracle.
* ``cosine_pairs`` — exact near-dup pairs above a similarity threshold
  (all-pairs; only for small corpora / within buckets). JVM-side
  zip_with/aggregate dot product: bit-identical sequential summation,
  which the DuckDB-oracle hash compare requires.
* ``lsh_topk`` — random-hyperplane (SRP) LSH bucketed ANN: probe only
  candidates sharing a hash bucket with the query (multi-table OR-
  amplification). The candidate join is an equi-join on (table, bucket):
  at 100 TB this is the only viable shape — shuffle co-locates bucket
  members, never a cross join. Recall is tunable via (n_tables, n_bits).
  Signatures are one numpy matmul per Arrow batch (vectorized Pandas UDF),
  not per-plane Catalyst expressions — 64 plane-dots as literal expression
  trees evaluate interpreted and dominate runtime.
* ``ivf_topk`` — k-means cells + multi-probe search. Cell assignment
  (an argmin over a few dozen centres) is short enough for a JVM array
  expression, so the search starts no Python worker; ``semantic_dedup``
  assigns cells with the same expression.

Every ANN path re-ranks its candidate pairs with one JVM expression,
``cosine``, over vectors and norms that ``with_norm`` computes once per
row.

Pandas UDFs stay where built-in expressions cannot do the work: one
matmul per Arrow batch or per group (SRP signatures, brute-force top-k,
the within-cell pair matrix of ``semantic_dedup``).

Hyperplanes are derived deterministically from a splitmix64-style mix of
(table, bit, dim) — no RNG state, reproducible across runs and engines.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..fns import bounded_collect, once, rnd

# ANN/decontamination contract: the query/eval side is the SMALL side,
# shipped to executors inside the kernel closure — the corpus side is
# the fact-scale one that stays distributed. This cap makes that
# contract mechanical (100k × d=64 doubles ≈ 50 MB closure ceiling).
MAX_QUERY_SIDE_ROWS = 100_000

_ROUND = 6


def _norm(col):
    dbl = F.transform(col, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x * x))


def with_unit_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize JVM-side: cosine becomes a plain dot product.

    The norm is materialized as its own column first — inlining the
    aggregate into the transform lambda makes Catalyst re-evaluate the
    d-element fold per ELEMENT (O(d²) per row; measured 6× end-to-end
    on the d=64 diversity query, round 7). Same arithmetic, same
    values — oracle parity unchanged."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    df = df.withColumn("_unit_nrm", _norm(F.col(vec_col)))
    unit = F.when(
        F.col("_unit_nrm") > 0,
        F.transform(dbl, lambda x: x / F.col("_unit_nrm")),
    ).otherwise(dbl)
    return df.withColumn("unit_vec", unit).drop("_unit_nrm")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = _ROUND,
    exclude_match_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query set is collected to the driver (it must be small — for big
    query sets use ``lsh_topk``); the corpus is scanned once. Per Arrow
    batch: one (batch x dim) @ (dim x |Q|) matmul, cosine = dot / (|c||q|)
    (the same formula order DuckDB's list_cosine_similarity uses), round,
    then a per-batch partial top-k so only candidate survivors shuffle.

    Determinism: neighbors rank by (rounded sim desc, id) — a total order,
    and the partial top-k uses the identical key, so batch boundaries
    cannot change the selected set. Excludes self-matches.

    ``exclude_match_col``: additionally exclude corpus rows whose value
    in this column EQUALS the query's value — the contrastive-learning
    hard-negative shape (nearest neighbors of a DIFFERENT label). The
    mask applies inside the same matmul batch, so the candidate flow and
    partial-top-k economics are unchanged. NULL semantics are defined
    explicitly (round-6 advice): rows with a NULL value in this column
    are dropped from BOTH sides before matching — numpy's ``!=`` would
    keep a NULL-labeled candidate while SQL's ``<>`` drops it, so
    leaving nulls in would silently diverge from any SQL oracle. A
    query row without a label cannot ask for "a different label"; a
    candidate without a label cannot prove it has one.
    Returns (query_id, neighbor_id, cosine_sim, sim_rank).
    """
    if exclude_match_col:
        queries = queries.filter(F.col(exclude_match_col).isNotNull())
        corpus = corpus.filter(F.col(exclude_match_col).isNotNull())
    qcols = [id_col, vec_col] + ([exclude_match_col] if exclude_match_col else [])
    qrows = bounded_collect(
        queries.select(*qcols),
        MAX_QUERY_SIDE_ROWS,
        "ANN query side is the bounded broadcast side",
    )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qvals = (
        np.array([r[2] for r in qrows]) if exclude_match_col else None
    )
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0.0] = 1.0

    out_schema = "query_id long, neighbor_id long, cosine_sim double"
    scale = 10.0**round_digits

    # NOTE: closures shipped to Python workers must be self-contained
    # (module-level helpers would pickle by reference and fail to import
    # when the harness runs outside the package's directory).
    def topk_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cvals = (
                pdf[exclude_match_col].to_numpy() if exclude_match_col else None
            )
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cnorm = np.linalg.norm(cmat, axis=1)
            cnorm[cnorm == 0.0] = 1.0
            sims = np.floor((cmat @ qmat.T) / np.outer(cnorm, qnorm) * scale + 0.5) / scale
            parts = []
            for j in range(len(qids)):
                mask = ids != qids[j]
                if cvals is not None:
                    mask = mask & (cvals != qvals[j])
                cand_ids, cand_sims = ids[mask], sims[mask, j]
                take = min(k, len(cand_ids))
                if take == 0:
                    continue
                order = np.lexsort((cand_ids, -cand_sims))[:take]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(qids[j], take),
                            "neighbor_id": cand_ids[order],
                            "cosine_sim": cand_sims[order],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    ccols = [id_col, vec_col] + ([exclude_match_col] if exclude_match_col else [])
    survivors = corpus.select(*ccols).mapInPandas(topk_batches, out_schema)
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        survivors.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b) above threshold.

    JVM-side sequential-sum dot keeps bit-parity with the DuckDB oracle.
    All-pairs: use only on small corpora or within pre-bucketed groups.
    """
    u = with_unit_norm(df, vec_col)
    a = u.select(F.col(id_col).alias("id_a"), F.col("unit_vec").alias("va"))
    b = u.select(F.col(id_col).alias("id_b"), F.col("unit_vec").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", rnd(_dot(F.col("va"), F.col("vb")), 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def srp_buckets_udf(dim: int, n_tables: int, n_bits: int, normalize: bool = True):
    """Vectorized Pandas UDF: embedding array -> array of n_tables bucket
    ids. One matmul + bit-pack per Arrow batch; planes built lazily per
    executor (closure constants, no broadcast needed at this size)."""
    weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64)).astype(np.int64)

    # planes are rebuilt inside the closure from plain int constants —
    # nothing module-level is captured, so the pickled UDF needs no
    # package import on the worker; building them is microseconds and
    # numpy caches nothing across batches worth keeping.
    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        t = np.arange(n_tables, dtype=np.uint64)[:, None, None]
        b = np.arange(n_bits, dtype=np.uint64)[None, :, None]
        d = np.arange(dim, dtype=np.uint64)[None, None, :]
        with np.errstate(over="ignore"):
            x = (t * np.uint64(1_000_003) + b) * np.uint64(1_000_033) + d + np.uint64(
                0x9E3779B97F4A7C15
            )
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x = x ^ (x >> np.uint64(31))
        planes = (
            x.astype(np.float64) / float(1 << 64) * 2.0 - 1.0
        ).reshape(n_tables * n_bits, dim).T
        vmat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if normalize:
            norms = np.linalg.norm(vmat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            vmat = vmat / norms
        bits = (vmat @ planes) > 0  # (n, tables*bits)
        bits = bits.reshape(len(vmat), n_tables, n_bits)
        ids = (bits * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(ids))

    return buckets


def with_norm(df: DataFrame, vec_col: str, nrm_col: str) -> DataFrame:
    """Casts ``vec_col`` to an array of doubles and adds its norm as
    ``nrm_col``: the per-row inputs of ``cosine``, computed once per row
    rather than once per pair."""
    df = df.withColumn(vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double")))
    return df.withColumn(nrm_col, _norm(F.col(vec_col)))


def cosine(a: str, b: str, a_nrm: str, b_nrm: str):
    """``rnd(a·b / (‖a‖·‖b‖), 6)`` over double-vector and norm columns,
    with a zero norm counted as 1: the re-rank score of every ANN path,
    as a JVM expression."""

    def nonzero(n):
        return F.when(F.col(n) == 0.0, F.lit(1.0)).otherwise(F.col(n))

    return rnd(_dot(F.col(a), F.col(b)) / (nonzero(a_nrm) * nonzero(b_nrm)), _ROUND)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_tables: int = 8,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share >= 1 SRP bucket with the query,
    then exact cosine re-rank within candidates.

    Plan shape: bucket-sign UDF (one matmul/batch) -> posexplode of IDS
    ONLY -> equi-join on (table, bucket) -> dropDuplicates(query,
    candidate) -> re-attach both vectors (as doubles, with their norms)
    by id -> ``cosine`` re-rank -> per-query top-k window. Shuffle keys
    are bucket ids; n_bits controls bucket occupancy (~n / 2^n_bits per
    table), the skew knob. The candidate shuffle deliberately carries
    NO vectors (guide §8: decide with small rows, attach payloads once):
    the r12 shape dragged the 64-float corpus vector through the explode
    and the dedup exchange x n_tables — ~64x the bytes for the same
    candidates.

    Round-14 (settling the r13 driver-measured regression): the
    ``spread()`` the r13 rework added before the bucket UDF is REMOVED.
    A cold-JVM interleaved A/B at driver conditions showed the forced
    exchange was the entire deficit vs the r12 shape (id-only+spread
    2.94 s, id-only no-spread 2.46 s in one window; no-spread 1.195 vs
    r12 1.181 s in another — parity), because the id-only kernel input
    is (id, vec) only and one matmul per batch: too little serial work
    to repay an exchange. At real scale the scan arrives multi-split
    and spread was a no-op there anyway — nothing is lost at 100 TB.
    """
    buckets = srp_buckets_udf(dim, n_tables, n_bits)
    ce = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .withColumn("bs", buckets("c_vec"))
        .select("neighbor_id", F.posexplode("bs").alias("table", "bucket"))
    )
    qe = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("bs", buckets("q_vec"))
        .select("query_id", F.posexplode("bs").alias("table", "bucket"))
    )
    # query sets are driver-small by contract (big probe sets should index
    # both sides and bucket-join without a broadcast)
    cand_ids = (
        ce.join(F.broadcast(qe), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cvecs = with_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        "c_vec",
        "c_nrm",
    )
    qvecs = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec",
        "q_nrm",
    )
    # id-grain joins attach each vector exactly once, AFTER dedup: the
    # corpus side auto-broadcasts when small and shuffles candidate-grain
    # (not candidate x tables) when not; the query side is driver-small.
    cand = cand_ids.join(cvecs, "neighbor_id").join(F.broadcast(qvecs), "query_id")
    sims = cand.select(
        "query_id", "neighbor_id", cosine("q_vec", "c_vec", "q_nrm", "c_nrm").alias("cosine_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
    )


def _kmeans_fit(x: np.ndarray, k: int, seed: int = 42, iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd's k-means with k-means++ init (seeded RNG).
    Index-build helper for ``ivf_topk``: runs on a driver-side sample, so
    plain numpy beats a distributed fit by orders of magnitude at the
    sample sizes that matter (<=100k rows)."""
    rng = np.random.default_rng(seed)
    n = len(x)
    k = min(k, n)
    # k-means++ seeding with an incremental running min: recomputing
    # distances to EVERY center each round is O(k^2·n·d) — measured 25 s
    # of the ann_ivf_topk_hi 10x stress time at k=128 on 20k vectors.
    # Only the newest center can lower a point's d2, so updating the
    # running min is O(k·n·d) and BIT-IDENTICAL (same RNG call sequence,
    # same selection probabilities at every step).
    centers = [x[rng.integers(n)]]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0:
            c_new = x[rng.integers(n)]
        else:
            c_new = x[rng.choice(n, p=d2 / total)]
        centers.append(c_new)
        d2 = np.minimum(d2, ((x - c_new) ** 2).sum(axis=1))
    c = np.stack(centers)
    for _ in range(iters):
        d = -2.0 * (x @ c.T) + (c**2).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


def _train_sample(corpus: DataFrame, id_col: str, vec_col: str, train_limit: int) -> np.ndarray:
    """Layout-independent bounded training sample: the ``train_limit``
    LOWEST-id vectors, via orderBy(id).limit(n) — Spark plans this as
    TakeOrderedAndProject (per-partition heap + driver merge, no global
    sort shuffle), so the same corpus yields the same sample regardless
    of file split / partition layout. A bare ``limit(n)`` would take
    whatever rows the first partitions supply, silently breaking the
    "seeded fit => deterministic" reproducibility contract whenever the
    corpus is repartitioned."""
    sample = bounded_collect(
        corpus.select(id_col, vec_col).orderBy(id_col).limit(train_limit),
        train_limit,
        "codebook/centroid fit sample capped at train_limit",
    )
    return np.stack([np.asarray(r[1], dtype=np.float64) for r in sample])


def _centroids(centers: np.ndarray):
    """The fitted centres as one literal array of (j, c, n) structs:
    index, coordinates and squared norm. It is handed over as one JSON
    string that the optimizer folds into a literal, so its size costs
    the driver nothing: spelled out as SQL ``array(named_struct(...))``
    the 128-cell literal took ~1 s to analyze, and a ``F.lit`` per
    element one py4j call each. ``json.dumps`` writes each double in its
    shortest round-trip form, so the values arrive exact."""
    sq = (centers**2).sum(axis=1)
    cells = [
        {"j": j, "c": [float(x) for x in c], "n": float(n)}
        for j, (c, n) in enumerate(zip(centers, sq))
    ]
    return F.from_json(F.lit(json.dumps(cells)), "array<struct<j:int,c:array<double>,n:double>>")


def _assign_cells(df: DataFrame, vec_col: str, centers: np.ndarray) -> DataFrame:
    """Adds ``cell``, the index of the nearest centre, as a JVM array
    expression: ``‖v − c‖² = ‖v‖² − 2 v·c + ‖c‖²`` with the per-row
    ``‖v‖²`` dropped, then ``array_min`` over (distance, j) structs, which
    breaks ties to the lowest j like numpy's ``argmin``. Also adds ``_v``,
    the vector cast to double once; ``once`` keeps Catalyst from inlining
    the cast into the lambda (redone per centre) when a caller drops
    ``_v``, and keeps the join's inferred ``isnotnull(cell)`` filter from
    evaluating the argmin a second time."""
    df = df.withColumn("_v", once(F.transform(F.col(vec_col), lambda x: x.cast("double"))))
    dist = F.transform(
        _centroids(centers),
        lambda e: F.struct(
            (F.lit(-2.0) * _dot(F.col("_v"), e["c"]) + e["n"]).alias("d"), e["j"].alias("j")
        ),
    )
    return df.withColumn("cell", once(F.array_min(dist)["j"]))


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.92,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int = 100_000,
    cell_cap: int = 512,
) -> DataFrame:
    """Embedding-space (semantic) dedup, SemDeDup-shaped: cluster the
    corpus into k-means cells, compute exact cosine similarity WITHIN
    each cell only, and flag every vector that has a lower-id cell-mate
    above ``threshold`` as a semantic duplicate (the lower id is the
    kept representative — deterministic, no RNG at query time).

    Scale shape: the only join is the within-cell self-join — cell
    assignment bounds the fan-out exactly like LSH buckets bound the
    near-dup join; ``n_cells`` is the coarse skew knob and ``cell_cap``
    is the hard one: any cell whose member count exceeds the cap is
    deterministically salt-split (``xxhash64(id) mod ceil(count/cap)``)
    so no single join group ever exceeds ~``cell_cap`` members — a hot
    cell at 100x data stays O(cap²) per group instead of O(m²) in one
    task, the same guard the MinHash-LSH path applies to hot buckets
    (dedup.py max_bucket). Pairs straddling a salt split are not
    compared — the standard SemDeDup boundary trade-off, but strictly
    better than the LSH guard (which DROPS over-cap buckets outright);
    recall loss only begins once a cell exceeds the cap. The split
    counts come from one tiny groupBy("cell") agg (n_cells rows)
    broadcast back onto the corpus — no extra corpus shuffle.

    Centroids come from a seeded fit on a bounded, layout-independent
    sample (lowest ``train_limit`` ids — see ``_train_sample``);
    assignment is the JVM expression ``ivf_topk`` uses (``_assign_cells``).

    Returns (id, cell, is_dup) for every corpus vector.
    """
    smat = _train_sample(corpus, id_col, vec_col, train_limit)
    centers = _kmeans_fit(smat, n_cells, seed=42, iters=10)
    assigned = _assign_cells(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec", centers
    ).drop("_v")

    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    cells = (
        assigned.join(F.broadcast(counts), "cell")
        .withColumn(
            "sub",
            F.pmod(
                F.xxhash64("id"),
                F.greatest(F.lit(1), F.ceil(F.col("_n") / F.lit(cell_cap))),
            ).cast("int"),
        )
        .drop("_n")
    )

    # Within-group pair mining as ONE matmul per (cell, sub) group via
    # applyInPandas, emitting per-vector flags directly. Round-8 rework:
    # the previous shape materialized the ~cap²/2 pair ROWS through a
    # (cell, sub) self-join and shipped every pair's two d-float vectors
    # to a per-pair pandas UDF, then needed a distinct + left join to
    # fold flags back. Each group is ≤ ~cell_cap vectors by the salt
    # split, so S = X·Xᵀ / (‖x‖‖y‖) is a tiny BLAS call (cap²·d flops,
    # ~2 MB at cap 512); each vector now crosses the wire ONCE and the
    # whole tail is a single groupBy shuffle (vs join + distinct + left
    # join before). Semantics identical: raw-dot / norm-product
    # (zero-norm → 1), floor-6dp rounding, flag = has a LOWER-id
    # cell-mate ≥ threshold, pairs straddling a salt split not compared.
    def _flag_group(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        x = x[order]
        n = np.linalg.norm(x, axis=1)
        n[n == 0.0] = 1.0
        s = (x @ x.T) / np.outer(n, n)
        s = np.floor(s * 1e6 + 0.5) / 1e6
        is_dup = np.tril(s >= threshold, -1).any(axis=1)
        return pd.DataFrame(
            {
                "id": ids[order],
                "cell": np.repeat(np.int64(pdf["cell"].iloc[0]), len(ids)),
                "is_dup": is_dup.astype("int64"),
            }
        )

    return (
        cells.groupBy("cell", "sub")
        .applyInPandas(_flag_group, schema="id long, cell long, is_dup long")
        .select(
            F.col("id").alias(id_col),
            F.col("cell"),
            F.col("is_dup"),
        )
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag training vectors whose
    cosine similarity to ANY eval-set vector reaches ``threshold`` —
    the semantic complement of n-gram/Jaccard decontamination (a
    paraphrased eval answer shares no 8-gram but sits next to the eval
    embedding).

    Plan shape: the eval matrix is driver-collected (eval sets are
    broadcast-sized by contract) and ships inside a mapInPandas kernel's
    closure; the training corpus streams through in Arrow batches, each
    batch doing ONE (batch × dim) @ (dim × |eval|) matmul — a single
    linear scan, no join, no shuffle of embeddings. Per row we keep the
    max cosine and its eval id (ties on the ROUNDED 6dp similarity break
    to the lowest eval id, so engine ulp noise can't flip the pick).

    Returns (id, nearest_eval_id, max_cosine, is_contaminated) for every
    training vector.
    """
    erows = bounded_collect(
        eval_df.select(id_col, vec_col),
        MAX_QUERY_SIDE_ROWS,
        "decontamination eval benchmark is the bounded broadcast side",
    )
    eids = np.array([r[0] for r in erows], dtype=np.int64)
    emat = np.stack([np.asarray(r[1], dtype=np.float64) for r in erows])
    enorm = np.linalg.norm(emat, axis=1)
    enorm[enorm == 0.0] = 1.0

    out_schema = (
        f"{id_col} long, nearest_eval_id long, max_cosine double, is_contaminated long"
    )

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            tmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            tnorm = np.linalg.norm(tmat, axis=1)
            tnorm[tnorm == 0.0] = 1.0
            sims = (tmat @ emat.T) / np.outer(tnorm, enorm)
            sims = np.floor(sims * 1e6 + 0.5) / 1e6
            # argmax with lowest-eval-id tie-break over the rounded sims
            order = np.lexsort((np.broadcast_to(eids, sims.shape), -sims), axis=1)
            pick = order[:, 0]
            best = sims[np.arange(len(ids)), pick]
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "nearest_eval_id": eids[pick],
                    "max_cosine": best,
                    "is_contaminated": (best >= threshold).astype(np.int64),
                }
            )

    return train.select(id_col, vec_col).mapInPandas(scan, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells + multi-probe search.

    The second scale path beside SRP-LSH, trading index build (a k-means
    fit on a bounded sample) for better-shaped candidate sets on
    clustered data. Search scans ~n_probe/n_cells of the corpus:

      1. fit k-means on a driver-collected sample capped at
         ``train_limit`` rows — the index-build phase. Training on a
         bounded sample is how production IVF indexes are built at any
         corpus size (the centroids need sample-representativeness, not
         the full corpus); driver-side numpy Lloyd iterations avoid ~10
         tiny Spark jobs of ML-pipeline overhead per fit,
      2. assign every corpus vector to its nearest centroid with a JVM
         array expression (``_assign_cells``; the centroids are one
         folded literal),
      3. for each (driver-small) query pick the ``n_probe`` nearest
         cells on the driver, broadcast the (query, cell) probe list,
         equi-join on cell — shuffle keys are cell ids, never a cross
         join,
      4. exact cosine re-rank inside the candidate set:
         ``rnd(q·c / (‖q‖·‖c‖), 6)`` with a zero norm counted as 1,
         the query norms computed on the driver and ``‖c‖`` once per
         corpus row.

    No step runs Python on the executors: the probe list enters the JVM
    as a pandas frame over Arrow. The rows equal those of the pandas-UDF
    kernel this replaced (tests/test_similarity.py keeps it as the
    reference).

    Deterministic: seeded k-means++ init, fixed 10 Lloyd iterations.
    Approximate => rows-only driver check; recall@k floor asserted in
    tests/test_similarity.py.
    """
    smat = _train_sample(corpus, id_col, vec_col, train_limit)
    centers = _kmeans_fit(smat, n_cells, seed=42, iters=10)

    # Deliberately NOT spread(): the assign expression + broadcast probe
    # join + re-rank fuse into the scan stage, and at 32 cells the serial
    # cost of that stage on a one-split fixture is smaller than a forced
    # exchange (interleaved A/B: 1.43 s vs 1.52 s min-of-6). Any corpus
    # big enough for the serial stage to matter arrives multi-split and
    # parallelizes without the exchange.
    corpus_cells = _assign_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)), vec_col, centers
    ).select("neighbor_id", "cell", "_v", _norm(F.col("_v")).alias("c_nrm"))

    qrows = bounded_collect(
        queries.select(id_col, vec_col),
        MAX_QUERY_SIDE_ROWS,
        "ANN query side is the bounded broadcast side",
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qn = float(np.linalg.norm(qv[None, :], axis=1)[0]) or 1.0
        d = ((centers - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:n_probe]:
            probe_rows.append((int(r[0]), qv.tolist(), qn, int(cell)))
    # a pandas frame takes the Arrow path into the JVM; a list of tuples
    # would go through a Python RDD and start Python workers to scan it
    probes = corpus.sparkSession.createDataFrame(
        pd.DataFrame(probe_rows, columns=["query_id", "q_vec", "q_nrm", "cell"]),
        "query_id long, q_vec array<double>, q_nrm double, cell int",
    )

    sims = (
        corpus_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine("q_vec", "_v", "q_nrm", "c_nrm").alias("cosine_sim")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
    greedy top-k that trades relevance against redundancy —
    ``argmax λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s)``.

    The data-curation use: picking k examples per query/topic where a
    plain cosine top-k returns k near-copies of the same document.

    Spark shape: stage 1 builds a ``pool``-sized candidate set per
    query with the proven brute-force partial-top-k scan (one corpus
    pass, candidates shuffle — never full vectors of the corpus);
    stage 2 runs the greedy selection per query inside
    ``applyInPandas`` over groups of exactly ``pool`` rows — the
    quadratic (pool²) pairwise-similarity work is bounded by a
    constant, per group, regardless of corpus size.

    Determinism: candidate pool uses the (rounded sim desc, id) total
    order; inside the greedy loop scores round to 6 dp and ties break
    by lowest neighbor_id. Because every compared quantity lives on
    the 6dp grid before comparison, the greedy selection replays
    exactly as a k-step recursive CTE — `mmr_diverse_topk` is
    hash-oracled against that replay (queries/extras36.py), plus a
    planted-diversity quality floor in tests + QUALITY snapshot.

    Returns (query_id, neighbor_id, relevance, mmr_score, mmr_rank).
    """
    cands = cosine_topk_bruteforce(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", F.col("cosine_sim").alias("relevance"))
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    pooled = cands.join(cvecs, "neighbor_id")

    out_schema = (
        "query_id long, neighbor_id long, relevance double, "
        "mmr_score double, mmr_rank long"
    )
    scale = 1e6

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        rel = pdf["relevance"].to_numpy(dtype=np.float64)
        vmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["c_vec"]])
        norms = np.linalg.norm(vmat, axis=1)
        norms[norms == 0.0] = 1.0
        vn = vmat / norms[:, None]
        pair = np.floor((vn @ vn.T) * scale + 0.5) / scale
        n = len(ids)
        take = min(k, n)
        selected: list[int] = []
        # -inf sentinel = "nothing selected yet" (penalty 0 on the first
        # pick only). Genuinely negative similarities must pass through
        # raw: anti-correlated candidates EARN a diversity bonus in
        # standard MMR — clamping them to 0 collapses the diversifier
        # whenever clusters are anti-correlated.
        max_sim = np.full(n, -np.inf)
        picked = np.zeros(n, dtype=bool)
        rows = []
        for rank in range(1, take + 1):
            score = lam * rel - (1.0 - lam) * np.where(
                np.isinf(max_sim), 0.0, max_sim
            )
            score = np.floor(score * scale + 0.5) / scale
            score[picked] = -np.inf
            # argmax with lowest-id tie-break: ids are pre-sorted asc,
            # so the FIRST max index is the lowest id
            j = int(np.argmax(score))
            rows.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    int(ids[j]),
                    float(rel[j]),
                    float(score[j]),
                    rank,
                )
            )
            picked[j] = True
            max_sim = np.maximum(max_sim, pair[:, j])
        return pd.DataFrame(
            rows,
            columns=["query_id", "neighbor_id", "relevance", "mmr_score", "mmr_rank"],
        )

    return (
        pooled.groupBy("query_id")
        .applyInPandas(greedy, schema=out_schema)
    )
