"""Round-4 surface additions, part 20: graph degree census and rank
fusion.

`degree_distribution` is the first thing anyone computes on a graph:
the degree histogram of the co-purchase graph (parts linked when one
customer bought both), plus each degree's share — the input to
power-law eyeballing and skew planning (hot vertices are the join-skew
risk the LSH/salting machinery exists for). `rrf_rank_fusion` is
reciprocal-rank fusion (RRF, the standard zero-tuning rank combiner in
IR): customers ranked independently by revenue and by order count,
fused by Σ 1/(60 + rank).

Determinism: degrees/ranks are exact integers with key tie-breaks; the
RRF score is a sum of two exact-input divisions, rounded at 6;
the fused top-20 orders by (rounded score desc, key).

Scale notes (100 TB): the co-purchase edge list is the measured
`copurchase_pairs` shape (per-customer pair explode with a hot-customer
cap); degrees are one aggregate over edges. Rank windows run over the
customer dimension (exact-small variant, like RFM)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import QuerySpec, rnd, t


def _degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph: edges = distinct part
    pairs bought by the same customer (orders joined to lineitems,
    capped to customers with ≤ 20 distinct parts — the same hot-vertex
    cap the copurchase op documents), degree = distinct neighbors per
    part, histogram = parts per degree with shares."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    cp = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    sizes = cp.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("np"))
    small = cp.join(
        F.broadcast(sizes.filter(F.col("np") <= 20).select("o_custkey")),
        "o_custkey",
    )
    a = small.alias("a")
    b = small.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("p"))
        .unionAll(edges.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))
    tot = Window.partitionBy()
    return (
        hist.withColumn(
            "share", rnd(F.col("n_parts") / F.sum("n_parts").over(tot), 6)
        )
        .orderBy("degree")
    )


_DEGREE_SQL = """
WITH cp AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), small AS (
  SELECT cp.* FROM cp
  JOIN (SELECT o_custkey FROM cp GROUP BY 1 HAVING count(*) <= 20) s
    USING (o_custkey)
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM small a JOIN small b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS p FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY p
), hist AS (
  SELECT degree, CAST(count(*) AS BIGINT) AS n_parts FROM deg GROUP BY degree
)
SELECT degree, n_parts,
       floor(n_parts / CAST(sum(n_parts) OVER () AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS share
FROM hist
ORDER BY degree
"""


_RRF_C = 60
_RRF_TOPN = 20
# Candidate cutoff: a row with BOTH ranks > K scores < 2/(C+K); the
# top-N-by-revenue rows alone each score > 1/(C+N), so with
# K = C + 2N every fused top-N row has rev_rank <= K or freq_rank <= K.
_RRF_K = _RRF_C + 2 * _RRF_TOPN  # = 100


def _rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two independent customer rankings —
    by lifetime revenue (cents) and by order count — fused as
    Σ 1/(60 + rank); emits the fused top-20 with both EXACT source
    ranks. Rankings tie-break on the customer key; the fusion constant
    60 is the published RRF default.

    Round-9 rework (was: two global row_number windows over the
    customer dim — the documented exact-small variant, measured 2.59x
    at 10x). The fused top-20 provably lies in the union of the two
    per-metric top-K sets with K = 60 + 2·20 = 100 (a row outside both
    scores < 2/160 = 1/80 while the 20 top-revenue rows each score
    > 1/80), so only ≤ 2K candidate rows ever need ranks. A bounded
    side job builds one long-form bucket histogram over both metrics
    ($1,000 lifetime-value buckets / exact order-count values), takes
    its descending-cumulative counts (value-domain grain, collected
    once), and refines the two rank-100 boundary pairs. In-plan, the
    candidate filter is one map-side lexicographic compare, each
    candidate's EXACT global rank is rebuilt as
    1 + cum(better buckets) + |strictly-better rows in its own bucket|
    (a BroadcastHashJoin of the ≤200 candidates against their own
    buckets only), and the final top-20 is a TakeOrdered over ≤200
    rows. The returned plan has no windows and no global sort; with
    n ≤ 100 customers the boundary is absent and every row is a
    candidate (still exact)."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # One fact shuffle total: the customer-dim aggregate feeds the
    # histogram side job, the candidate filter, and both in-bucket
    # better-count branches — persist it (checkpoint-the-dim idiom).
    per = per.persist()
    # --- bounded side job: bucket histogram + rank-100 boundaries ----
    # keys are NEGATED so ascending (key, ck) = (metric desc, ck asc)
    longf = per.select(
        F.col("o_custkey").alias("ck"),
        F.explode(
            F.array(
                F.struct(F.lit("rev").alias("mid"), (-F.col("cents")).alias("key")),
                F.struct(
                    F.lit("frq").alias("mid"), (-F.col("n_orders")).alias("key")
                ),
            )
        ).alias("x"),
    ).select("ck", "x.mid", "x.key")
    longf = longf.withColumn(
        "b",
        F.when(F.col("mid") == "rev", F.floor(F.col("key") / 100000))
        .otherwise(F.col("key"))
        .cast("long"),
    )
    bagg = longf.groupBy("mid", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.partitionBy("mid").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bcum = bagg.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wb), F.lit(0))
    )
    from .core import bounded_collect

    hist = bounded_collect(
        bcum,
        100_000,
        "$1,000 lifetime-value buckets (~22k max) + distinct order counts",
    )
    located = bcum.filter(
        (F.col("cum_before") < _RRF_K)
        & (F.lit(_RRF_K) <= F.col("cum_before") + F.col("cnt"))
    )
    w_in = Window.partitionBy("mid").orderBy("key", "ck")
    bval = (
        longf.join(F.broadcast(located), ["mid", "b"])
        .withColumn("in_rk", F.row_number().over(w_in))
        .filter(F.col("in_rk") == F.lit(_RRF_K) - F.col("cum_before"))
        .select("mid", "key", "ck")
    )
    cut = {
        row["mid"]: (int(row["key"]), int(row["ck"]))
        for row in bounded_collect(bval, 2, "one rank-100 boundary per metric")
    }
    cum_df = F.broadcast(
        spark.createDataFrame(
            [(r["mid"], int(r["b"]), int(r["cum_before"])) for r in hist],
            "mid string, b long, cum_before long",
        )
    )

    def is_cand(key_col: F.Column, mid: str) -> F.Column:
        if mid not in cut:  # n <= K: every row is a candidate
            return F.lit(True)
        bk, bc = cut[mid]
        return (key_col < bk) | ((key_col == bk) & (F.col("ck") <= bc))

    x = per.select(
        F.col("o_custkey").alias("ck"),
        (-F.col("cents")).alias("k_rev"),
        (-F.col("n_orders")).alias("k_frq"),
    )
    cand = (
        x.filter(is_cand(F.col("k_rev"), "rev") | is_cand(F.col("k_frq"), "frq"))
        .withColumn("b_rev", F.floor(F.col("k_rev") / 100000).cast("long"))
        .withColumn("b_frq", F.col("k_frq").cast("long"))
    )

    def exact_rank(mid: str, b_col: str, k_col: str) -> DataFrame:
        base = (
            cand.select(
                F.col("ck").alias("c_ck"),
                F.col(b_col).alias("c_b"),
                F.col(k_col).alias("c_k"),
            )
            .join(
                cum_df.filter(F.col("mid") == mid).select("b", "cum_before"),
                F.col("c_b") == F.col("b"),
            )
            .select("c_ck", "c_b", "c_k", "cum_before")
        )
        key_expr = (
            (-F.col("cents")) if mid == "rev" else (-F.col("n_orders"))
        )
        y = per.select(
            F.col("o_custkey").alias("y_ck"),
            key_expr.alias("y_k"),
        ).withColumn(
            "y_b",
            (F.floor(F.col("y_k") / 100000) if mid == "rev" else F.col("y_k"))
            .cast("long"),
        )
        better = (
            y.join(
                F.broadcast(base),
                (F.col("y_b") == F.col("c_b"))
                & (
                    (F.col("y_k") < F.col("c_k"))
                    | ((F.col("y_k") == F.col("c_k")) & (F.col("y_ck") < F.col("c_ck")))
                ),
            )
            .groupBy("c_ck")
            .agg(F.count(F.lit(1)).alias("n_better"))
        )
        return (
            base.join(better, "c_ck", "left")
            .select(
                F.col("c_ck").alias("ck"),
                (
                    1
                    + F.col("cum_before")
                    + F.coalesce(F.col("n_better"), F.lit(0))
                )
                .cast("long")
                .alias(f"{mid}_rank"),
            )
        )

    ranked = (
        cand.select("ck")
        .join(exact_rank("rev", "b_rev", "k_rev"), "ck")
        .join(exact_rank("frq", "b_frq", "k_frq"), "ck")
    )
    fused = ranked.select(
        F.col("ck").alias("o_custkey"),
        F.col("rev_rank"),
        F.col("frq_rank").alias("freq_rank"),
        rnd(
            1.0 / (_RRF_C + F.col("rev_rank"))
            + 1.0 / (_RRF_C + F.col("frq_rank")),
            6,
        ).alias("rrf_score"),
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("o_custkey"))
        .limit(_RRF_TOPN)
        .orderBy(F.col("rrf_score").desc(), F.col("o_custkey"))
    )


_RRF_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
), ranked AS (
  SELECT o_custkey,
         CAST(row_number() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
           AS rev_rank,
         CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT)
           AS freq_rank
  FROM per
)
SELECT o_custkey, rev_rank, freq_rank,
       floor((1.0 / (60 + rev_rank) + 1.0 / (60 + freq_rank))
             * 1000000 + 0.5) / 1000000 AS rrf_score
FROM ranked
ORDER BY rrf_score DESC, o_custkey
LIMIT 20
"""


QUERIES: dict[str, QuerySpec] = {
    "degree_distribution": QuerySpec(
        _degree_distribution,
        _DEGREE_SQL,
        "co-purchase graph degree histogram with shares",
    ),
    "rrf_rank_fusion": QuerySpec(
        _rrf_rank_fusion,
        _RRF_SQL,
        "reciprocal-rank fusion of revenue and frequency rankings",
    ),
}
