"""Round-4 surface additions, part 9: customer analytics and
finance-grade allocation.

`rfm_segments` is the classic recency/frequency/monetary segmentation
(quintile scores + named segments); `gini_lorenz` measures revenue
concentration (Gini coefficient + Lorenz deciles); `proration_penny_split`
is exact largest-remainder allocation of an order total across its lines
(the invoice/ledger op where every penny must land exactly once);
`survival_curve` is the Kaplan-Meier estimator over customer lifetimes
with right-censoring; `ab_test_ztest` is the two-proportion z-test;
`trend_forecast` fits per-nation revenue trend lines from exact integer
moment sums and extrapolates one month.

Determinism: every input that feeds a ranking or a division is first
made an exact integer (money → cents via the portable floor-round), so
quintile/decile edges, penny assignment, and regression moments are
bit-identical across engines; the few transcendental steps (ln/exp/sqrt)
are rounded at 6 decimals.

Scale notes (100 TB): RFM/Gini/survival aggregate facts down to the
customer dimension FIRST — the global ntile / cumulative windows then
run over dim-scale rows (the documented exact-small variant; the scale
sibling is approx_percentile edges, see `quantile_bins`). Proration is
per-order windows — shuffles once on the order key, frames are O(lines
per order). Trend moments are partial-aggregated integer sums, one
shuffle on (nation), 84 cells per nation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import QuerySpec, rnd, t


def _cents(col: F.Column) -> F.Column:
    """Exact integer cents via the engine-portable floor-round."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# --------------------------------------------------------------------------
# rfm_segments — recency/frequency/monetary quintile segmentation
# --------------------------------------------------------------------------


def _rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    vs the dataset's max order date), frequency (order count), monetary
    (lifetime cents), each scored 1-5 with EXACT global ntile(5)
    semantics and the customer key as tie-break (5 = best). Output is
    the segment census: counts and monetary totals per (r,f,m) cell
    plus a named segment.

    Round-9 rework (was: three global ntile windows over the customer
    dim — the documented exact-small variant, measured 2.39x at 10x).
    Ranking by recency DESC is identical to ranking by last-order-day
    ASC (recency = anchor − last_day is monotone decreasing and ties
    coincide), so no anchor scan is needed at all; each metric's 4
    quintile boundary ROWS are order statistics r_i = i·(n div 5) +
    min(i, n mod 5), located by ONE long-form bucket-histogram + refine
    side job over all three metrics at once (buckets: last-order
    epoch-day and order count are their own value grain, ≤ ~2.4k / ~60
    rows; lifetime cents bucket at $1,000, ~5.5k rows). The 12
    (metric, key, custkey) boundary pairs — a bounded_collect of
    exactly 12 rows — assign all three scores in one map-side
    lexicographic pass; the RETURNED plan is scan → hash agg → project
    → hash agg, window-free (the bucket-grain windows live in the
    bounded side job). In-bucket refine grain = the largest single
    day/count/$1,000 tie class; a second refine level is the documented
    escalation if a tie class ever approaches partition size. Assumes
    n ≥ 5 customers (any driver fixture)."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(_cents(F.col("o_totalprice"))).alias("mon_cents"),
    )
    # One fact shuffle total: the customer-dim aggregate feeds the
    # boundary side job (histogram + refine) AND the scoring pass —
    # persist it so orders is scanned/aggregated once, not three times
    # (at cluster scale this is the checkpoint-the-dim idiom).
    per = per.persist()
    # --- bounded side job: locate the 12 ntile(5) boundary pairs -----
    longf = per.select(
        F.col("o_custkey").alias("ck"),
        F.explode(
            F.array(
                F.struct(F.lit("r").alias("mid"), F.col("last_day").alias("key")),
                F.struct(F.lit("f").alias("mid"), F.col("freq").alias("key")),
                F.struct(F.lit("m").alias("mid"), F.col("mon_cents").alias("key")),
            )
        ).alias("x"),
    ).select("ck", "x.mid", "x.key")
    longf = longf.withColumn(
        "b",
        F.when(F.col("mid") == "m", F.floor(F.col("key") / 100000))
        .otherwise(F.col("key"))
        .cast("long"),
    )
    bagg = longf.groupBy("mid", "b").agg(F.count(F.lit(1)).alias("cnt"))
    ntot = bagg.groupBy("mid").agg(F.sum("cnt").alias("n"))
    ranks = (
        spark.range(1, 5)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(ntot))
        .select(
            "mid",
            "i",
            (
                F.col("i") * F.floor(F.col("n") / 5).cast("long")
                + F.least(F.col("i"), F.col("n") % 5)
            ).alias("rnk"),
        )
    )
    wb = Window.partitionBy("mid").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bcum = bagg.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wb), F.lit(0))
    )
    # rename before the join: ranks and bcum share bagg's lineage, and
    # ranks.mid == bcum.mid resolves as a trivially-true self-compare
    ranks = ranks.withColumnRenamed("mid", "r_mid")
    located = ranks.join(
        bcum,
        (F.col("r_mid") == F.col("mid"))
        & (F.col("cum_before") < F.col("rnk"))
        & (F.col("rnk") <= F.col("cum_before") + F.col("cnt")),
    ).select("mid", "i", "rnk", "b", "cum_before")
    cand = longf.join(F.broadcast(located), ["mid", "b"])
    w_in = Window.partitionBy("mid", "i").orderBy("key", "ck")
    bval = (
        cand.withColumn("in_rk", F.row_number().over(w_in))
        .filter(F.col("in_rk") == F.col("rnk") - F.col("cum_before"))
        .select("mid", "i", "key", "ck")
    )
    from .core import bounded_collect

    bounds: dict[str, list[tuple[int, int]]] = {"r": [], "f": [], "m": []}
    for row in bounded_collect(
        bval, 12, "exactly one row per (metric, quintile boundary)"
    ):
        bounds[row["mid"]].append((int(row["key"]), int(row["ck"])))

    def tile(key_col: F.Column, mid: str) -> F.Column:
        # tile = 1 + #boundary pairs strictly below (key, custkey);
        # the boundary row itself closes its tile.
        e: F.Column = F.lit(1).cast("long")
        for bk, bc in sorted(bounds[mid]):
            after = (key_col > bk) | (
                (key_col == bk) & (F.col("o_custkey") > bc)
            )
            e = e + after.cast("long")
        return e

    scored = per.select(
        tile(F.col("last_day"), "r").alias("r"),
        tile(F.col("freq"), "f").alias("f"),
        tile(F.col("mon_cents"), "m").alias("m"),
        "mon_cents",
    )
    seg = (
        F.when((F.col("r") >= 4) & (F.col("f") >= 4), F.lit("champion"))
        .when((F.col("f") >= 4), F.lit("loyal"))
        .when((F.col("r") <= 2) & (F.col("m") >= 4), F.lit("at_risk"))
        .when((F.col("r") <= 2) & (F.col("f") <= 2), F.lit("hibernating"))
        .otherwise(F.lit("regular"))
    )
    return (
        scored.withColumn("segment", seg)
        .groupBy("r", "f", "m", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("mon_cents").alias("sum_mon_cents"),
        )
        .orderBy("r", "f", "m")
    )


_RFM_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(datediff('day', max(o_orderdate),
              (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS mon_cents
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r,
         CAST(ntile(5) OVER (ORDER BY freq ASC, o_custkey) AS BIGINT) AS f,
         CAST(ntile(5) OVER (ORDER BY mon_cents ASC, o_custkey) AS BIGINT) AS m,
         mon_cents
  FROM per
)
SELECT r, f, m,
       CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
            WHEN f >= 4 THEN 'loyal'
            WHEN r <= 2 AND m >= 4 THEN 'at_risk'
            WHEN r <= 2 AND f <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(mon_cents) AS BIGINT) AS sum_mon_cents
FROM scored
GROUP BY 1, 2, 3, 4
ORDER BY r, f, m
"""


# --------------------------------------------------------------------------
# gini_lorenz — revenue concentration: Gini + Lorenz deciles
# --------------------------------------------------------------------------


def _gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: Gini coefficient over per-customer
    lifetime revenue (exact cents) plus the Lorenz-curve decile table
    (cumulative revenue share per population decile).

    Gini = (2*Σ(i·x_i) − (n+1)·Σx) / (n·Σx) with x ascending and i the
    1-based rank — every sum an exact BIGINT (Σ(i·x) stays < 2^63 up to
    ~sf10 corpus sizes; beyond that, bin first), the final ratio a
    single double division rounded at 6. Ranks/deciles tie-break on the
    customer key.

    Round-9 rework (was: global row_number + ntile(10) over the
    customer dim — the documented exact-small variant). The global
    index is decomposed as i = cum_before(bucket) + in-bucket rank:
    ONE bounded side collect takes the $1,000-lifetime-value bucket
    histogram (value-domain grain, ≤ ~22k rows at any scale) whose
    prefix sums broadcast back as a plain lookup table, and the
    in-bucket rank is a window PARTITIONED by bucket — shuffle-parallel,
    never a single-task sort. n and Σx are exact Python ints from the
    same histogram, so the decile of a row is pure map-side arithmetic
    on i (ntile boundaries r_t = t·(n div 10) + min(t, n mod 10)), and
    the Lorenz cumulative is an explode-sequence equi-aggregation over
    the 10-row census (each decile contributes to every d ≥ itself) —
    the returned plan has NO global window and no global sort. Assumes
    n ≥ 10 customers (any driver fixture). Oracle unchanged."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cents")
    ).withColumn("b", F.floor(F.col("cents") / 100000).cast("long"))
    from .core import bounded_collect

    hist = sorted(
        (int(r["b"]), int(r["cnt"]), int(r["s"]))
        for r in bounded_collect(
            per.groupBy("b").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("s")
            ),
            100_000,
            "$1,000 lifetime-value buckets (~22k max at any scale)",
        )
    )
    n = sum(c for _b, c, _s in hist)
    total = sum(s for _b, _c, s in hist)
    cum_rows, acc = [], 0
    for b, c, _s in hist:
        cum_rows.append((b, acc))
        acc += c
    cum_df = F.broadcast(
        spark.createDataFrame(cum_rows, "b long, cum_before long")
    )
    r_bounds = [
        t_ * (n // 10) + min(t_, n % 10) for t_ in range(1, 10)
    ]
    w_in = Window.partitionBy("b").orderBy("cents", "o_custkey")
    decile_expr = F.lit(1).cast("long")
    for r_t in r_bounds:
        decile_expr = decile_expr + (F.col("i") > r_t).cast("long")
    ranked = (
        per.join(cum_df, "b")
        .withColumn("j", F.row_number().over(w_in).cast("long"))
        .withColumn("i", F.col("cum_before") + F.col("j"))
        .withColumn("decile", decile_expr)
    )
    s_iw = ranked.agg(F.sum(F.col("i") * F.col("cents")).alias("s_iw"))
    census = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("decile_cents"),
    )
    # Lorenz cumulative without a window: decile d' contributes its
    # cents to every running total d >= d' (a 10-row, <=55-element
    # explode — constant at any scale)
    cum = (
        census.select(
            F.explode(F.sequence(F.col("decile"), F.lit(10))).alias("decile"),
            F.col("decile_cents").alias("dc"),
        )
        .groupBy("decile")
        .agg(F.sum("dc").alias("cum_cents"))
    )
    gini = (
        2.0 * F.col("s_iw") - F.lit((n + 1.0) * total)
    ) / F.lit(float(n) * total)
    return (
        census.join(F.broadcast(cum), "decile")
        .crossJoin(F.broadcast(s_iw))
        .select(
            "decile",
            "n_customers",
            "decile_cents",
            rnd(F.col("cum_cents") / F.lit(total).cast("double"), 6).alias(
                "cum_share"
            ),
            rnd(gini, 6).alias("gini"),
        )
        .orderBy("decile")
    )


_GINI_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents ASC, o_custkey) AS BIGINT) AS i,
         CAST(ntile(10) OVER (ORDER BY cents ASC, o_custkey) AS BIGINT) AS decile
  FROM per
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(sum(i * cents) AS BIGINT) AS s_iw
  FROM ranked
), deciles AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS decile_cents
  FROM ranked GROUP BY decile
)
SELECT decile, n_customers, decile_cents,
       floor(sum(decile_cents) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / CAST(total_cents AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS cum_share,
       floor((2.0 * s_iw - (n + 1.0) * total_cents)
             / (CAST(n AS DOUBLE) * total_cents) * 1000000 + 0.5) / 1000000
         AS gini
FROM deciles CROSS JOIN tot
ORDER BY decile
"""


# --------------------------------------------------------------------------
# proration_penny_split — exact largest-remainder allocation
# --------------------------------------------------------------------------


def _proration_penny_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder penny allocation: spread each order's total
    (cents) across its lineitems proportional to extended price, with
    the leftover pennies going to the largest integer remainders
    (linenumber tie-break) so the per-order sum reconciles exactly.

    All-integer arithmetic: weights and totals are exact cents, the
    proportional share is BIGINT multiply/div/mod (no float enters the
    ranking), so the allocation is bit-identical on any engine. One
    shuffle on the order key; every window frame is O(lines per order).
    Demo subset: every 500th order key keeps the output audit-sized."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 0)
    j = li.join(
        F.broadcast(o.select("o_orderkey", "o_totalprice")),
        li.l_orderkey == o.o_orderkey,
    ).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        _cents(F.col("l_extendedprice")).alias("w_cents"),
        _cents(F.col("o_totalprice")).alias("total_cents"),
    )
    wk = Window.partitionBy("l_orderkey")
    j = (
        j.withColumn("sum_w", F.sum("w_cents").over(wk))
        .withColumn("exact_num", F.col("total_cents") * F.col("w_cents"))
        .withColumn("base", F.expr("exact_num div sum_w"))
        .withColumn("rem_num", F.col("exact_num") % F.col("sum_w"))
        .withColumn("pennies", F.col("total_cents") - F.sum("base").over(wk))
        .withColumn(
            "rk",
            F.row_number()
            .over(
                Window.partitionBy("l_orderkey").orderBy(
                    F.col("rem_num").desc(), F.col("l_linenumber")
                )
            )
            .cast("long"),
        )
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "w_cents",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("pennies"), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("alloc_cents"),
    ).orderBy("l_orderkey", "l_linenumber")


_PRORATION_SQL = """
WITH j AS (
  SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS w_cents,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_orderkey % 500 = 0
), shares AS (
  SELECT *,
         CAST(sum(w_cents) OVER (PARTITION BY l_orderkey) AS BIGINT) AS sum_w,
         total_cents * w_cents AS exact_num
  FROM j
), ranked AS (
  SELECT *,
         exact_num // sum_w AS base,
         exact_num % sum_w AS rem_num,
         total_cents - CAST(sum(exact_num // sum_w)
             OVER (PARTITION BY l_orderkey) AS BIGINT) AS pennies,
         CAST(row_number() OVER (PARTITION BY l_orderkey
              ORDER BY exact_num % sum_w DESC, l_linenumber) AS BIGINT) AS rk
  FROM shares
)
SELECT l_orderkey, l_linenumber, w_cents,
       CAST(base + CASE WHEN rk <= pennies THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents
FROM ranked
ORDER BY l_orderkey, l_linenumber
"""


# --------------------------------------------------------------------------
# survival_curve — Kaplan-Meier over customer lifetimes
# --------------------------------------------------------------------------


def _survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate over customer lifetimes: lifetime
    = days between a customer's first and last order; churn event if the
    last order precedes the dataset horizon by >90 days, else
    right-censored. S(t) = Π_{t'≤t} (1 − d/n_at_risk), computed as
    exp of the running log-sum (rounded at 6 for libm); at-risk counts
    are exact reverse-cumulative integers. Rows = distinct lifetimes
    (bounded by the date span), produced after collapsing facts to the
    customer dimension."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_orderdate").alias("last_dt"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor_dt"))
    per = per.crossJoin(F.broadcast(anchor)).select(
        F.datediff("last_dt", "first_dt").cast("long").alias("lifetime"),
        F.when(F.datediff("anchor_dt", "last_dt") > 90, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("churned"),
    )
    by_t = per.groupBy("lifetime").agg(
        F.sum("churned").alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    # Round-10 burn-down of the last global-window flags: the KM
    # product-limit recursion is inherently sequential and its domain
    # is the DISTINCT-LIFETIME grain (≤ lifetime span + 1 rows, ~2.4k
    # at any corpus scale — lifetimes are day counts inside the data's
    # date span). That is exactly the "bounded driver-side recursion"
    # family contract (Holt-Winters, PACF, …: calendar-grain collect +
    # driver fold), so the three cumulative windows become one
    # sequential Python fold over the collected value-grain rows — the
    # fact-scale work (orders → customer dim → lifetime grain) stays
    # distributed and unchanged. Bonus exactness: the driver fold sums
    # the log terms in the SAME sequential order as the oracle's
    # running window, removing the float-association risk a
    # bucket-decomposed cumsum would introduce.
    import math as _math

    from ..fns import bounded_collect

    probe = bounded_collect(
        by_t.agg(F.max("lifetime").alias("mx")), 1, "1-row lifetime-span probe"
    )
    mx = probe[0].mx
    schema = (
        "lifetime long, at_risk long, d_events long, n_at_t long, "
        "survival double"
    )
    if mx is None:
        return spark.createDataFrame([], schema)
    rows = bounded_collect(
        by_t,
        int(mx) + 2,
        f"distinct-lifetime grain ≤ lifetime span + 2 = {int(mx) + 2}",
    )
    rows.sort(key=lambda r: r.lifetime)
    n_total = sum(r.c for r in rows)
    cum_c = 0
    logsum = 0.0
    hit_zero = False
    out = []
    for r in rows:
        cum_c += r.c
        at_risk = n_total - cum_c + r.c
        if r.d >= at_risk:
            hit_zero = True
        elif r.d > 0:
            logsum += _math.log(1.0 - r.d / at_risk)
        surv = (
            0.0
            if hit_zero
            else _math.floor(_math.exp(logsum) * 1e6 + 0.5) / 1e6
        )
        out.append((int(r.lifetime), int(at_risk), int(r.d), int(r.c), surv))
    return spark.createDataFrame(out, schema).orderBy("lifetime")


_SURVIVAL_SQL = """
WITH per AS (
  SELECT CAST(datediff('day', min(o_orderdate), max(o_orderdate)) AS BIGINT)
           AS lifetime,
         CASE WHEN datediff('day', max(o_orderdate),
                (SELECT max(o_orderdate) FROM orders)) > 90
              THEN 1 ELSE 0 END AS churned
  FROM orders GROUP BY o_custkey
), by_t AS (
  SELECT lifetime, CAST(sum(churned) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM per GROUP BY lifetime
), risk AS (
  SELECT lifetime, d, c,
         CAST((SELECT sum(c) FROM by_t) AS BIGINT)
           - CAST(sum(c) OVER w AS BIGINT) + c AS at_risk
  FROM by_t
  WINDOW w AS (ORDER BY lifetime ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), cum AS (
  SELECT lifetime, d, c, at_risk,
         sum(CASE WHEN d > 0 AND d < at_risk
                  THEN ln(1.0 - CAST(d AS DOUBLE) / at_risk)
                  ELSE 0.0 END) OVER w AS logsum,
         max(CASE WHEN d >= at_risk THEN 1 ELSE 0 END) OVER w AS hit_zero
  FROM risk
  WINDOW w AS (ORDER BY lifetime ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT lifetime, at_risk, d AS d_events, c AS n_at_t,
       floor(CASE WHEN hit_zero = 1 THEN 0.0 ELSE exp(logsum) END
             * 1000000 + 0.5) / 1000000 AS survival
FROM cum
ORDER BY lifetime
"""


# --------------------------------------------------------------------------
# ab_test_ztest — two-proportion z-test
# --------------------------------------------------------------------------


def _ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: customers split into arms by key parity;
    'conversion' = the customer has at least one finalized ('F') order.
    Emits per-arm counts (exact), the pooled-variance z statistic and
    absolute lift (each a fixed chain of double ops over exact integers,
    rounded at 6 for sqrt). Facts collapse to one flag per customer,
    then to a single row — nothing wide ever reaches the driver."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    conv = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderkey").isNotNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("conv")
        )
        .select(
            (F.col("c_custkey") % 2).alias("arm"),
            F.col("conv"),
        )
    )
    row = conv.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return row.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rnd(p_a, 6).alias("p_a"),
        rnd(p_b, 6).alias("p_b"),
        rnd(p_b - p_a, 6).alias("abs_lift"),
        rnd((p_b - p_a) / se, 6).alias("z_stat"),
    )


_AB_TEST_SQL = """
WITH conv AS (
  SELECT c.c_custkey % 2 AS arm,
         max(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS conv
  FROM customer c
  LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
    ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
), agg AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM conv
)
SELECT n_a, conv_a, n_b, conv_b,
       floor(conv_a / CAST(n_a AS DOUBLE) * 1000000 + 0.5) / 1000000 AS p_a,
       floor(conv_b / CAST(n_b AS DOUBLE) * 1000000 + 0.5) / 1000000 AS p_b,
       floor((conv_b / CAST(n_b AS DOUBLE) - conv_a / CAST(n_a AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS abs_lift,
       floor((conv_b / CAST(n_b AS DOUBLE) - conv_a / CAST(n_a AS DOUBLE))
             / sqrt((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE)
                    * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / n_a + 1.0 / n_b))
             * 1000000 + 0.5) / 1000000 AS z_stat
FROM agg
"""


# --------------------------------------------------------------------------
# trend_forecast — per-nation revenue trend from exact integer moments
# --------------------------------------------------------------------------


def _trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly-revenue trend line + one-month-ahead forecast.
    The OLS slope/intercept are computed from exact BIGINT moment sums
    (n, Σx, Σy, Σxy, Σxx over month-index x and revenue-cents y) — the
    closed form (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) is then a single double
    division, bit-identical across engines (every moment < 2^53).
    Partial aggregation does all the work map-side; one shuffle on the
    nation key."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("midx"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("y"))
    )
    mom = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("midx").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("midx") * F.col("y")).alias("sxy"),
        F.sum(F.col("midx") * F.col("midx")).alias("sxx"),
        F.max("midx").alias("max_x"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast(
        "double"
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return mom.select(
        "n_name",
        F.col("n").alias("n_months"),
        rnd(slope, 4).alias("slope_cents"),
        rnd(intercept, 2).alias("intercept_cents"),
        rnd(intercept + slope * (F.col("max_x") + 1), 2).alias(
            "forecast_cents"
        ),
    ).orderBy("n_name")


_TREND_SQL = """
WITH monthly AS (
  SELECT n.n_name,
         CAST((year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1
              AS BIGINT) AS midx,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), mom AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(midx) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(midx * y) AS BIGINT) AS sxy,
         CAST(sum(midx * midx) AS BIGINT) AS sxx,
         CAST(max(midx) AS BIGINT) AS max_x
  FROM monthly GROUP BY n_name
)
SELECT n_name, n AS n_months,
       floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 10000 + 0.5) / 10000
         AS slope_cents,
       floor((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n
             * 100 + 0.5) / 100 AS intercept_cents,
       floor(((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n
              + CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * (max_x + 1))
             * 100 + 0.5) / 100 AS forecast_cents
FROM mom
ORDER BY n_name
"""


QUERIES: dict[str, QuerySpec] = {
    "rfm_segments": QuerySpec(
        _rfm_segments,
        _RFM_SQL,
        "RFM quintile segmentation with named segment census",
    ),
    "gini_lorenz": QuerySpec(
        _gini_lorenz,
        _GINI_SQL,
        "Gini coefficient + Lorenz deciles over customer revenue",
    ),
    "proration_penny_split": QuerySpec(
        _proration_penny_split,
        _PRORATION_SQL,
        "exact largest-remainder penny allocation across order lines",
    ),
    "survival_curve": QuerySpec(
        _survival_curve,
        _SURVIVAL_SQL,
        "Kaplan-Meier survival over customer lifetimes w/ censoring",
    ),
    "ab_test_ztest": QuerySpec(
        _ab_test_ztest,
        _AB_TEST_SQL,
        "two-proportion z-test over key-parity arms",
    ),
    "trend_forecast": QuerySpec(
        _trend_forecast,
        _TREND_SQL,
        "per-nation OLS revenue trend from exact integer moments",
    ),
}
