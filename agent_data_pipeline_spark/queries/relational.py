"""Relational operator queries: aggregation, joins, windows, sort/limit,
set operations (SURVEY.md §2.B rows "Joins", "Aggregation", "Window
functions", "Sort / limit / top-k", "Set ops").

Scale notes (100 TB design intent, per-query):
* Aggregations are plain ``groupBy`` — Catalyst plans partial (map-side)
  aggregation before the shuffle, so the shuffle carries one row per
  (partition × group), not per input row.
* Dimension joins (region/nation/customer/part/supplier) are explicitly
  ``F.broadcast`` — at 100 TB the fact table never shuffles for a dim join.
* Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE
  handles skewed keys (session.py turns skewJoin on).
* Windows partition on high-cardinality keys (custkey/suppkey) so state
  per partition stays small; no global unpartitioned window over big data
  (the one ntile query that does partitions a 1500-row dim table only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .core import QuerySpec, named_tables, rnd, t

# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------


def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with 8 aggregates.

    The filter and the 2-column grouping reach the parquet scan as
    pushed predicate + pruned columns; partial agg keeps the shuffle at
    (32 partitions x 4 groups) rows.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        rnd(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
        rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
        rnd(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100                                            AS sum_qty,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100                                       AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100                    AS sum_disc_price,
       floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100 + 0.5) / 100      AS sum_charge,
       floor((avg(l_quantity)) * 10000 + 0.5) / 10000                                            AS avg_qty,
       floor((avg(l_extendedprice)) * 10000 + 0.5) / 10000                                       AS avg_price,
       floor((avg(l_discount)) * 1000000 + 0.5) / 1000000                                            AS avg_disc,
       count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A2 analog (taxi_transform_dag.py:92-98): single global group."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
        rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
        rnd(F.min("l_extendedprice"), 2).alias("min_price"),
        rnd(F.max("l_extendedprice"), 2).alias("max_price"),
        rnd(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


_GLOBAL_SUMMARY_SQL = """
SELECT count(*) AS n_rows,
       floor((avg(l_quantity)) * 10000 + 0.5) / 10000       AS avg_qty,
       floor((avg(l_extendedprice)) * 10000 + 0.5) / 10000  AS avg_price,
       floor((min(l_extendedprice)) * 100 + 0.5) / 100  AS min_price,
       floor((max(l_extendedprice)) * 100 + 0.5) / 100  AS max_price,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100  AS total_price
FROM lineitem
"""


def _count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_COUNT_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey)                AS n_supp,
       count(DISTINCT l_partkey)                AS n_part,
       count(DISTINCT (l_partkey, l_suppkey))   AS n_part_supp,
       count(*)                                 AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def _rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers (NULL group keys disambiguated)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
    )


_ROLLUP_QTY_SQL = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100            AS sum_qty,
       count(*)                             AS n_rows,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        )
    )


_CUBE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*)                                  AS n_orders,
       floor((sum(o_totalprice)) * 100 + 0.5) / 100               AS sum_price,
       CAST(grouping(o_orderstatus) AS BIGINT)   AS g_status,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_GROUPING_SETS_SQL, lineitem=t(spark, sf_dir, "lineitem"))


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price,
       count(*)                       AS n_rows
FROM {lineitem}
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def _pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (explicit value list => no extra
    distinct-scan job and a plan that is a plain pivot aggregate)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(rnd(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


_PIVOT_STATUS_SQL = """
SELECT l_returnflag,
       floor((sum(l_quantity) FILTER (WHERE l_linestatus = 'O')) * 100 + 0.5) / 100 AS qty_open,
       floor((sum(l_quantity) FILTER (WHERE l_linestatus = 'F')) * 100 + 0.5) / 100 AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


def _stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        rnd(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        rnd(F.var_samp("l_quantity"), 4).alias("var_qty"),
        rnd(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        rnd(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


_STATS_BY_FLAG_SQL = """
SELECT l_returnflag,
       floor((stddev_samp(l_quantity)) * 10000 + 0.5) / 10000           AS sd_qty,
       floor((var_samp(l_quantity)) * 10000 + 0.5) / 10000              AS var_qty,
       floor((stddev_samp(l_extendedprice)) * 100 + 0.5) / 100      AS sd_price,
       floor((corr(l_quantity, l_extendedprice)) * 10000 + 0.5) / 10000 AS corr_qty_price
FROM lineitem GROUP BY l_returnflag
"""


def _moment_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment and bitwise aggregates: skewness / kurtosis (Spark
    computes population central moments in one distributed pass —
    map-side partial moment merging, no per-group materialization) and
    bit_and/or/xor (algebraic, so partial aggregation applies). The
    oracle spells the moments out (avg((x-mu)^k) via a joined group
    mean) because DuckDB's skewness/kurtosis are the bias-corrected
    SAMPLE statistics, a different estimator."""
    o = t(spark, sf_dir, "orders").withColumn(
        "keybits", (F.col("o_orderkey") % 4096).cast("long")
    )
    return o.groupBy("o_orderstatus").agg(
        rnd(F.skewness("o_totalprice"), 6).alias("skew_price"),
        rnd(F.kurtosis("o_totalprice"), 6).alias("kurt_price"),
        F.bit_and("keybits").alias("bits_and"),
        F.bit_or("keybits").alias("bits_or"),
        F.bit_xor("keybits").alias("bits_xor"),
    )


_MOMENT_BIT_AGGS_SQL = """
WITH mu AS (
  SELECT o_orderstatus, avg(o_totalprice) AS m FROM orders GROUP BY o_orderstatus
)
SELECT o.o_orderstatus,
       floor((avg(pow(o_totalprice - m, 3)) / pow(avg(pow(o_totalprice - m, 2)), 1.5))
             * 1000000 + 0.5) / 1000000 AS skew_price,
       floor((avg(pow(o_totalprice - m, 4)) / pow(avg(pow(o_totalprice - m, 2)), 2) - 3)
             * 1000000 + 0.5) / 1000000 AS kurt_price,
       CAST(bit_and(o_orderkey % 4096) AS BIGINT) AS bits_and,
       CAST(bit_or(o_orderkey % 4096) AS BIGINT)  AS bits_or,
       CAST(bit_xor(o_orderkey % 4096) AS BIGINT) AS bits_xor
FROM orders o JOIN mu USING (o_orderstatus)
GROUP BY o.o_orderstatus
"""


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ 4 broadcast dims, then aggregate.

    The only shuffle is the final groupBy on 25 nations; every dim join is
    broadcast so the lineitem/orders scan streams through map-side joins.
    lineitem⋈orders is the one fact-fact join: Catalyst shuffles both on
    orderkey (sort-merge or shuffled-hash; AQE may convert to broadcast at
    small SF).
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_REVENUE_BY_NATION_SQL = """
SELECT n_name,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue,
       count(*)                                          AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def _brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim filter + broadcast join: part is filtered before the
    broadcast so only matching partkeys ship to executors."""
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            rnd(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_BRAND_REVENUE_SQL = """
SELECT p_brand, p_type,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue,
       floor((sum(l_quantity)) * 100 + 0.5) / 100                         AS qty,
       count(*)                                          AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#12'
GROUP BY p_brand, p_type
"""


def _semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi == EXISTS: customers with at least one 5-URGENT order."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def _anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti == NOT EXISTS: customers with no orders at all, by segment."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_idle_customers"),
             rnd(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )


_ANTI_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_idle_customers, floor((avg(c_acctbal)) * 10000 + 0.5) / 10000 AS avg_bal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def _left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            rnd(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias("spent"),
        )
    )


_LEFT_JOIN_COUNTS_SQL = """
SELECT c_custkey, c_name,
       count(o_orderkey)                          AS n_orders,
       floor((sum(coalesce(o_totalprice, 0.0))) * 100 + 0.5) / 100 AS spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


def _right_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving every supplier even when no lineitem
    survives the quantity filter (NULL-extended left side)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    supp = t(spark, sf_dir, "supplier")
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"), "right")
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count("l_orderkey").alias("n_big_items"),
            rnd(F.sum(F.coalesce(F.col("l_extendedprice"), F.lit(0.0))), 2).alias(
                "big_item_value"
            ),
        )
    )


_RIGHT_JOIN_SUPPLIERS_SQL = """
SELECT s_suppkey, s_name,
       count(l_orderkey) AS n_big_items,
       floor((sum(coalesce(l_extendedprice, 0.0))) * 100 + 0.5) / 100 AS big_item_value
FROM (SELECT * FROM lineitem WHERE l_quantity >= 49) li
RIGHT JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


def _full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two derived key sets (big spenders vs AUTOMOBILE)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    spenders = (
        orders.groupBy("o_custkey")
        .agg(rnd(F.sum("o_totalprice"), 2).alias("total_spent"))
        .filter(F.col("total_spent") > 300000)
    )
    autos = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey"), F.col("c_name")
    )
    return (
        spenders.join(autos, F.col("o_custkey") == F.col("c_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("o_custkey"), F.col("c_custkey")).alias("custkey"),
            F.col("total_spent"),
            (F.col("c_custkey").isNotNull()).alias("is_automobile"),
        )
    )


_FULL_OUTER_JOIN_SQL = """
WITH spenders AS (
  SELECT o_custkey, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total_spent
  FROM orders GROUP BY o_custkey HAVING floor((sum(o_totalprice)) * 100 + 0.5) / 100 > 300000
), autos AS (
  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
)
SELECT coalesce(o_custkey, c_custkey) AS custkey,
       total_spent,
       (c_custkey IS NOT NULL)        AS is_automobile
FROM spenders FULL OUTER JOIN autos ON o_custkey = c_custkey
"""


def _cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian of two tiny sets (5 regions x 3 statuses)."""
    region = t(spark, sf_dir, "region").select("r_name")
    status = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


_CROSS_JOIN_SQL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""


def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (band) predicate: lineitems shipped within 60 days of
    the order date. The equi key keeps it a hash join; the band predicate
    is evaluated post-match (no nested-loop blowup)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cond = (
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_fast_items"),
            rnd(F.sum("l_extendedprice"), 2).alias("fast_revenue"),
        )
    )


_RANGE_JOIN_SQL = """
SELECT o_orderpriority,
       count(*)                        AS n_fast_items,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100  AS fast_revenue
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <  o_orderdate + INTERVAL 60 DAY
GROUP BY o_orderpriority
"""


def _theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure inequality self-join on a small dim (ordered supplier pairs
    within a nation). Intentionally nested-loop-shaped; only sane on dims."""
    s1 = t(spark, sf_dir, "supplier").alias("s1")
    s2 = t(spark, sf_dir, "supplier").alias("s2")
    cond = (F.col("s1.s_nationkey") == F.col("s2.s_nationkey")) & (
        F.col("s1.s_acctbal") < F.col("s2.s_acctbal")
    )
    return (
        s1.join(s2, cond)
        .groupBy(F.col("s1.s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_ordered_pairs"))
    )


_THETA_JOIN_SQL = """
SELECT s1.s_nationkey AS nationkey, count(*) AS n_ordered_pairs
FROM supplier s1 JOIN supplier s2
  ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal < s2.s_acctbal
GROUP BY s1.s_nationkey
"""


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


def _top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: row_number over (value desc, unique key) <= k."""
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_TOP3_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders) ranked
WHERE rn <= 3
"""


def _running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        rnd(F.sum("o_totalprice").over(w), 2).alias("running_spent"),
    )


_RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100
         AS running_spent
FROM orders
"""


def _lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + day gap between consecutive orders per customer."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderdate", 1).over(w).alias("prev_date"),
        F.lead("o_orderdate", 1).over(w).alias("next_date"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lag("o_orderdate", 1).over(w).cast("date")
        ).cast("long").alias("days_since_prev"),
    )


_LAG_LEAD_GAPS_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       lag(o_orderdate)  OVER w AS prev_date,
       lead(o_orderdate) OVER w AS next_date,
       CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def _moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a 4-row frame per supplier."""
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-3, W.currentRow)
    )
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        rnd(F.avg("l_extendedprice").over(w), 4).alias("moving_avg_price"),
    )


_MOVING_AVG_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       floor((avg(l_extendedprice) OVER (PARTITION BY l_suppkey
                                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) * 10000 + 0.5) / 10000
         AS moving_avg_price
FROM lineitem
"""


def _ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile over a dim-sized global window (fine: 1500 rows; never do a
    global window over a fact table — no partition key = single task)."""
    w = W.orderBy(F.col("c_acctbal"), F.col("c_custkey"))
    cust = t(spark, sf_dir, "customer")
    return (
        cust.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            rnd(F.min("c_acctbal"), 2).alias("min_bal"),
            rnd(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


_NTILE_QUARTILES_SQL = """
SELECT quartile, count(*) AS n_customers,
       floor((min(c_acctbal)) * 100 + 0.5) / 100 AS min_bal,
       floor((max(c_acctbal)) * 100 + 0.5) / 100 AS max_bal
FROM (SELECT c_acctbal,
             CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
      FROM customer) q
GROUP BY quartile
"""


def _range_frame_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: ties on the order key accumulate together (contrast with
    the ROWS frame in running_total)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        rnd(F.sum("o_totalprice").over(w), 2).alias("cume_spent_range"),
    )


_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate
                                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100
         AS cume_spent_range
FROM orders
"""


def _rank_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist per nation over acctbal."""
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        rnd(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        rnd(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


_RANK_PERCENTILES_SQL = """
SELECT c_nationkey, c_custkey,
       CAST(rank()       OVER w AS BIGINT) AS bal_rank,
       CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
       floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000     AS bal_pct_rank,
       floor((cume_dist()    OVER w) * 1000000 + 0.5) / 1000000     AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


# --------------------------------------------------------------------------
# Sort / limit / top-k
# --------------------------------------------------------------------------


def _top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — a per-partition
    top-k then a k-merge on the driver; no global sort materialized."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


_TOP10_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _sort_nulls_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with NULLS LAST + limit over a derived nullable col."""
    orders = t(spark, sf_dir, "orders").withColumn(
        "pending_price",
        F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice")),
    )
    return (
        orders.orderBy(F.col("pending_price").desc_nulls_last(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_orderstatus", "pending_price")
    )


_SORT_NULLS_LIMIT_SQL = """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS pending_price
FROM orders
ORDER BY pending_price DESC NULLS LAST, o_orderkey LIMIT 20
"""


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


def _union_all_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two differently-derived sets, duplicates kept."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey"), F.lit("automobile").alias("src")
    )
    b = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"), F.lit("big_order").alias("src"))
    )
    return a.unionByName(b)


_UNION_ALL_SQL = """
SELECT c_custkey AS custkey, 'automobile' AS src FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
UNION ALL
SELECT o_custkey AS custkey, 'big_order' AS src FROM orders WHERE o_totalprice > 400000
"""


def _intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


_INTERSECT_KEYS_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def _except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return cust.select(F.col("c_custkey").alias("custkey")).exceptAll(
        orders.select(F.col("o_custkey").alias("custkey")).distinct()
    )


_EXCEPT_KEYS_SQL = """
SELECT c_custkey AS custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey AS custkey FROM orders
"""


def _distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


_DISTINCT_PAIRS_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def _dedup_first_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates(subset): keep the first line per order
    (dropDuplicates alone keeps an arbitrary row; the window pins which —
    l_linenumber is not unique per order in the fixture, so the full
    tie-break chain makes the kept row well-defined)."""
    w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    return (
        t(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    )


_DEDUP_FIRST_LINE_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey, l_suppkey,
                                            l_quantity, l_extendedprice) AS rn
      FROM lineitem) x
WHERE rn = 1
"""


def _sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end (SURVEY §2.B: `spark.sql` surface): a TPC-H-Q3
    shaped query over registered temp views, exercising multi-way join +
    agg + deterministic top-k entirely through SQL text. Catalyst plans
    it identically to the DataFrame API — one engine, two front ends."""
    return spark.sql(
        _SQL_SHIPPING_PRIORITY_SQL,
        **{n: t(spark, sf_dir, n) for n in ("customer", "orders", "lineitem")},
    )


_SQL_SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
       o_orderdate, o_orderpriority
FROM {customer}
JOIN {orders}   ON c_custkey = o_custkey
JOIN {lineitem} ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def _grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (SURVEY §2.B "UDF surface" row):
    applyInPandas computing a per-customer z-score of order totals.
    Semantically a window avg/stddev (the oracle states it that way) —
    chosen precisely so the grouped-map path is hash-checkable. Shuffles
    once on the grouping key, same as the window formulation; group
    cardinality ~orders/customer stays tiny so pandas per-group overhead
    is bounded."""
    o = t(spark, sf_dir, "orders")

    def zscore(pdf):
        import numpy as np  # self-contained closure

        g = pdf.groupby("o_custkey")["o_totalprice"]
        mean = g.transform("mean")
        std = g.transform("std")  # ddof=1; NaN for singleton groups
        x = pdf["o_totalprice"]
        z = ((x - mean) / std).where(std.notna() & (std > 0), 0.0).to_numpy("float64")
        out = pdf[["o_orderkey", "o_custkey"]].copy()
        out["zscore"] = np.floor(z * 1e6 + 0.5) / 1e6
        return out

    # Coarsened grouped-map: grouping directly on o_custkey would make one
    # Python call per customer (tiny groups — call overhead dominates).
    # Group on a 256-bucket hash of the key and vectorize the per-customer
    # stats inside each call with pandas groupby.transform — identical
    # semantics, ~256 calls instead of ~|customers|. The standard pattern
    # for grouped-map UDFs over high-cardinality keys at scale.
    bucketed = o.withColumn("bucket", F.pmod(F.xxhash64("o_custkey"), F.lit(256)))
    return bucketed.groupBy("bucket").applyInPandas(
        zscore, "o_orderkey long, o_custkey long, zscore double"
    )


def _cogrouped_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map UDF surface: groupBy(...).cogroup(...).applyInPandas
    — the generic escape hatch for custom TWO-table per-key merges that
    no built-in join expresses (here a left-enrichment the oracle states
    as join+agg, chosen so the path is hash-checkable). Each side
    shuffles once on the key; matching groups arrive as a pair of Arrow
    batches. Same coarsening as grouped_zscore: cogroup on a 64-bucket
    key hash and do the per-customer merge vectorized inside pandas —
    64 Python calls, not one per customer."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cb = c.withColumn("bucket", F.pmod(F.xxhash64("c_custkey"), F.lit(64)))
    ob = o.withColumn("bucket", F.pmod(F.xxhash64("o_custkey"), F.lit(64)))

    def merge(cust, orders):
        import numpy as np  # self-contained closure
        import pandas as pd

        if cust.empty:
            return pd.DataFrame(
                {
                    "c_custkey": pd.Series(dtype="int64"),
                    "n_orders": pd.Series(dtype="int64"),
                    "total_spend": pd.Series(dtype="float64"),
                    "max_over_bal": pd.Series(dtype="int64"),
                }
            )
        agg = orders.groupby("o_custkey")["o_totalprice"].agg(["count", "sum", "max"])
        out = cust.merge(agg, left_on="c_custkey", right_index=True, how="left")
        out["n_orders"] = out["count"].fillna(0).astype("int64")
        out["total_spend"] = np.floor(out["sum"].fillna(0.0) * 100 + 0.5) / 100
        out["max_over_bal"] = (
            (out["max"].fillna(0.0) > out["c_acctbal"]).astype("int64")
        )
        return out[["c_custkey", "n_orders", "total_spend", "max_over_bal"]]

    return (
        cb.groupBy("bucket")
        .cogroup(ob.groupBy("bucket"))
        .applyInPandas(
            merge,
            "c_custkey long, n_orders long, total_spend double, max_over_bal long",
        )
    )


_COGROUPED_CUSTOMER_ORDERS_SQL = """
SELECT c_custkey,
       CAST(count(o_totalprice) AS BIGINT) AS n_orders,
       floor(coalesce(sum(o_totalprice), 0) * 100 + 0.5) / 100 AS total_spend,
       CAST(coalesce(max(o_totalprice), 0) > c_acctbal AS BIGINT) AS max_over_bal
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_acctbal
"""


_GROUPED_ZSCORE_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN count(*) OVER w > 1 AND stddev_samp(o_totalprice) OVER w > 0
            THEN floor(((o_totalprice - avg(o_totalprice) OVER w)
                        / stddev_samp(o_totalprice) OVER w) * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS zscore
FROM orders
WINDOW w AS (PARTITION BY o_custkey)
"""


def _freq_items_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via df.stat.freqItems — the Karp/Misra-Gries
    one-pass frequent-items sketch (approx-only, rows-only check;
    tests/test_approx.py asserts the guarantee): every value whose
    relative frequency exceeds the support MUST appear; false positives
    are allowed. One pass, constant memory per column — at 100 TB this
    finds skewed join keys / dominant languages without a full groupBy.
    Output is (column, item) pairs: langs (all ~12-44% here) surface,
    the 20 uniform 5% sources sit below the 10% support."""
    d = t(spark, sf_dir, "documents")
    fi = d.stat.freqItems(["lang", "source"], support=0.1)
    langs = fi.select(F.explode("lang_freqItems").alias("item")).withColumn(
        "col", F.lit("lang")
    )
    srcs = fi.select(F.explode("source_freqItems").alias("item")).withColumn(
        "col", F.lit("source")
    )
    return langs.unionByName(srcs).select("col", "item")


def _hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable DataSketches HLL (approx-only, rows-only check;
    tests/test_approx.py bounds the error): per-event_type user sketches
    PLUS a global row built by hll_union_agg over those same sketches —
    the rollup pattern that matters at 100 TB: persist binary sketches
    per partition/day once, answer any coarser distinct-count rollup by
    merging sketches, never rescanning raw data. approx_count_distinct
    can't do this (its sketch is consumed inside one aggregation);
    hll_sketch_agg's output is a storable, mergeable column."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    per_est = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    total = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            F.lit("ALL").alias("event_type"),
            F.hll_sketch_estimate("sk").alias("approx_users"),
        )
    )
    return per_est.unionByName(total)


def _approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (SURVEY §2.B: declared approx-only — no oracle;
    tests/test_approx.py bounds them against exact values): HyperLogLog++
    count-distinct and KLL-style quantiles. At 100 TB these replace exact
    count(DISTINCT)/percentile whenever a bounded error is acceptable:
    they partial-aggregate map-side (constant-size sketch per partition,
    mergeable), so the shuffle carries sketches, not keys."""
    li = t(spark, sf_dir, "lineitem")
    pct = F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
            pct.alias("pcts"),
        )
        .select(
            "l_returnflag",
            "approx_orders",
            F.col("pcts")[0].alias("p50_price"),
            F.col("pcts")[1].alias("p95_price"),
        )
    )


def _percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation) per order priority —
    complements the declared-approx `approx_stats`. Spark `percentile`
    and DuckDB `quantile_cont` share the percentile_cont definition
    (index = p·(n-1), linear between neighbors). Exact percentile is a
    sort-based agg: at 100 TB prefer `approx_percentile` unless exactness
    is contractual — that trade-off is the point of having both queries."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        rnd(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("p25_price"),
        rnd(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
        rnd(F.expr("percentile(o_totalprice, 0.95)"), 2).alias("p95_price"),
    )


_PERCENTILE_BY_GROUP_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       floor(quantile_cont(o_totalprice, 0.25) * 100 + 0.5) / 100 AS p25_price,
       floor(quantile_cont(o_totalprice, 0.5)  * 100 + 0.5) / 100 AS median_price,
       floor(quantile_cont(o_totalprice, 0.95) * 100 + 0.5) / 100 AS p95_price
FROM orders GROUP BY o_orderpriority
"""


def _unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): per-returnflag metric sums pivoted into
    (flag, metric, value) rows via `DataFrame.unpivot`. The unpivot runs
    on the already-aggregated (tiny) table — at scale, always aggregate
    first: melting the raw fact table would multiply its row count by the
    metric count before the shuffle."""
    l = t(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        rnd(F.sum("l_quantity"), 2).alias("qty"),
        rnd(F.sum("l_extendedprice"), 2).alias("price"),
        rnd(F.sum("l_discount"), 2).alias("disc"),
    )
    return agg.unpivot("l_returnflag", ["qty", "price", "disc"], "metric", "value")


_UNPIVOT_METRICS_SQL = """
WITH a AS (
  SELECT l_returnflag,
         floor(sum(l_quantity)      * 100 + 0.5) / 100 AS qty,
         floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS price,
         floor(sum(l_discount)      * 100 + 0.5) / 100 AS disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM a UNPIVOT (value FOR metric IN (qty, price, disc))
"""


def _price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals via `width_bucket` (10 buckets
    over [0, 600000)): one scan, partial-agg'd groupBy — the shuffle
    carries at most 12 rows per task. Oracle replicates width_bucket's
    boundary semantics (0 below min, n+1 at/above max) with floor math,
    since DuckDB lacks the function."""
    o = t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.expr("width_bucket(o_totalprice, 0, 600000, 10)").cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.min("o_totalprice"), 2).alias("min_price"),
            rnd(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


_PRICE_HISTOGRAM_SQL = """
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 600000 THEN 11
            ELSE floor(o_totalprice / 60000) + 1 END AS BIGINT) AS bucket,
       count(*) AS n_orders,
       floor(min(o_totalprice) * 100 + 0.5) / 100 AS min_price,
       floor(max(o_totalprice) * 100 + 0.5) / 100 AS max_price
FROM orders GROUP BY 1
"""


def _argmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregation): each customer's highest- and
    lowest-value order in ONE pass — no self-join, no window sort; the
    shuffle carries one row per group. Ties on price are broken by a
    zero-padded string key (lexicographic == numeric for non-negative
    fixed-width), since neither engine's arg_max takes a struct key."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr(
            "max_by(o_orderkey, format_string('%020.2f|%012d', o_totalprice, o_orderkey))"
        ).alias("best_order"),
        F.expr(
            "min_by(o_orderkey, format_string('%020.2f|%012d', o_totalprice, o_orderkey))"
        ).alias("worst_order"),
        rnd(F.max("o_totalprice"), 2).alias("best_price"),
    )


_ARGMAX_ORDERS_SQL = """
SELECT o_custkey,
       arg_max(o_orderkey, printf('%020.2f|%012d', o_totalprice, o_orderkey)) AS best_order,
       arg_min(o_orderkey, printf('%020.2f|%012d', o_totalprice, o_orderkey)) AS worst_order,
       floor(max(o_totalprice) * 100 + 0.5) / 100 AS best_price
FROM orders GROUP BY o_custkey
"""


def _salted_agg_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (ops/skew.py salted_agg): the
    3-value l_returnflag grouping is the pathological-skew shape — each
    group floods one reducer in a naive plan. Phase 1 shuffles on
    (key, salt) spreading each group over 32 reducers; phase 2 merges
    <=32 partial rows per key. Result is bit-equal to the plain groupBy,
    which is exactly what the oracle checks."""
    from ..ops.skew import salted_agg

    l = t(spark, sf_dir, "lineitem")
    r = salted_agg(
        l,
        ["l_returnflag"],
        [
            ("sum", "l_quantity", "sum_qty"),
            ("count", "l_quantity", "n_rows"),
            ("max", "l_extendedprice", "max_price"),
        ],
        buckets=32,
    )
    return r.select(
        "l_returnflag",
        rnd(F.col("sum_qty"), 2).alias("sum_qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        rnd(F.col("max_price"), 2).alias("max_price"),
    )


_SALTED_AGG_BY_FLAG_SQL = """
SELECT l_returnflag,
       floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
       count(*) AS n_rows,
       floor(max(l_extendedprice) * 100 + 0.5) / 100 AS max_price
FROM lineitem GROUP BY l_returnflag
"""


def _merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (ops/merge.py): a synthetic delta — 10%-repriced
    updates (every 7th key) plus key-shifted inserts (every 13th key,
    +1e8) — merged into orders; delta wins on collision. Verified via a
    post-merge aggregate. The anti join shuffles on the merge key (or
    broadcasts the delta when small — the common incremental case); the
    oracle states the same semantics as NOT IN + UNION ALL."""
    from ..ops.merge import upsert

    orders = t(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    inserts = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    )
    merged = upsert(orders, updates.unionByName(inserts), ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count_if(F.col("o_orderkey") >= 100000000).alias("n_inserted"),
    )


_MERGE_UPSERT_ORDERS_SQL = """
WITH delta AS (
  SELECT * REPLACE (o_totalprice * 1.1 AS o_totalprice)
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT * REPLACE (o_orderkey + 100000000 AS o_orderkey)
  FROM orders WHERE o_orderkey % 13 = 0
), merged AS (
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
  UNION ALL
  SELECT * FROM delta
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price,
       CAST(count_if(o_orderkey >= 100000000) AS BIGINT) AS n_inserted
FROM merged GROUP BY o_orderstatus
"""


def _scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 versioned-dimension maintenance (ops/merge.py
    scd2_apply): a customer dimension with validity intervals receives a
    batch where every 7th key changes balance (+100), every 3rd repeats
    its current value (idempotent no-op), and every 50th key arrives
    shifted as brand-new. Changed rows close at the batch date, new
    versions open; the oracle states the closed/open/no-op row algebra
    directly. Validity bounds are STRINGS by design — engine-neutral
    canonicalization (see verify notes on DATE columns)."""
    from ..ops.merge import scd2_apply

    c = t(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("bal"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    upd = (
        c.filter((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 3 == 0))
        .select(
            F.col("c_custkey").alias("id"),
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("bal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 9000000).alias("id"),
                F.lit(0.0).alias("bal"),
            )
        )
    )
    return scd2_apply(dim, upd, "id", ["bal"], "1998-06-01")


_SCD2_CUSTOMERS_SQL = """
SELECT c_custkey AS id, c_acctbal AS bal, '1995-01-01' AS valid_from,
       CASE WHEN c_custkey % 7 = 0 THEN '1998-06-01' END AS valid_to
FROM customer
UNION ALL
SELECT c_custkey, c_acctbal + 100, '1998-06-01', NULL
FROM customer WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey + 9000000, 0.0, '1998-06-01', NULL
FROM customer WHERE c_custkey % 50 = 0
"""


def _covar_regr_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + linear-regression aggregates (covar_samp/covar_pop,
    regr_slope/intercept/r2). One-pass JVM aggregates; the shuffle carries
    five partial-moment accumulators per (partition x 3 flags)."""
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        rnd(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_s"),
        rnd(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("covar_p"),
        rnd(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        rnd(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("intercept"),
        rnd(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


_COVAR_REGR_BY_FLAG_SQL = """
SELECT l_returnflag,
       floor((covar_samp(l_quantity, l_extendedprice)) * 100 + 0.5) / 100          AS covar_s,
       floor((covar_pop(l_quantity, l_extendedprice)) * 100 + 0.5) / 100           AS covar_p,
       floor((regr_slope(l_extendedprice, l_quantity)) * 10000 + 0.5) / 10000      AS slope,
       floor((regr_intercept(l_extendedprice, l_quantity)) * 100 + 0.5) / 100      AS intercept,
       floor((regr_r2(l_extendedprice, l_quantity)) * 1000000 + 0.5) / 1000000     AS r2
FROM lineitem GROUP BY l_returnflag
"""


def _bool_agg_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregates: count_if, bool_and, bool_or.
    Booleans are cast to INT on both sides so the value-hash compare is
    dtype-independent."""
    return t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("big_orders"),
        F.bool_and(F.col("o_totalprice") > 0).cast("int").alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").cast("int").alias("any_urgent"),
    )


_BOOL_AGG_KIT_SQL = """
SELECT o_orderstatus,
       CAST(count_if(o_totalprice > 200000) AS BIGINT)       AS big_orders,
       CAST(bool_and(o_totalprice > 0) AS INT)               AS all_positive,
       CAST(bool_or(o_orderpriority = '1-URGENT') AS INT)    AS any_urgent
FROM orders GROUP BY o_orderstatus
"""


def _listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg semantics) made
    deterministic: collect_list -> sort_array -> concat_ws fixes the
    element order regardless of partial-aggregation arrival order. The
    grouped side (nation x region) is tiny; at scale this pattern is for
    bounded groups only (collect_list state is O(group))."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


_LISTAGG_NATIONS_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _window_value_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a full window frame with a
    unique tie-break key (orderdate, orderkey) — deterministic per §core
    rules. Partitioned by custkey: state per window is one customer's
    orders, so executor memory stays flat as the table scales."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        rnd(F.first("o_totalprice").over(w), 2).alias("first_price"),
        rnd(F.last("o_totalprice").over(w), 2).alias("last_price"),
        rnd(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


_WINDOW_VALUE_FNS_SQL = """
SELECT o_orderkey, o_custkey,
       floor((first_value(o_totalprice) OVER w) * 100 + 0.5) / 100    AS first_price,
       floor((last_value(o_totalprice) OVER w) * 100 + 0.5) / 100     AS last_price,
       floor((nth_value(o_totalprice, 2) OVER w) * 100 + 0.5) / 100   AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def _above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL front end. Catalyst
    decorrelates it into an aggregate + join (no per-row re-execution);
    the oracle runs the identical text. The subquery average is rounded
    on both sides so the filter threshold cannot straddle a ulp."""
    return spark.sql(_ABOVE_NATION_AVG_SQL, customer=t(spark, sf_dir, "customer"))


_ABOVE_NATION_AVG_SQL = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_above
FROM {customer} c
WHERE c_acctbal > (SELECT floor(avg(c2.c_acctbal) * 100 + 0.5) / 100
                   FROM {customer} c2
                   WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c_nationkey
"""


QUERIES: dict[str, QuerySpec] = {
    "merge_upsert_orders": QuerySpec(
        _merge_upsert_orders, _MERGE_UPSERT_ORDERS_SQL, "MERGE/upsert delta into base"
    ),
    "scd2_customers": QuerySpec(
        _scd2_customers, _SCD2_CUSTOMERS_SQL, "SCD type-2 close/version/insert"
    ),
    "covar_regr_by_flag": QuerySpec(
        _covar_regr_by_flag, _COVAR_REGR_BY_FLAG_SQL, "covariance + regr_* aggregates"
    ),
    "bool_agg_kit": QuerySpec(_bool_agg_kit, _BOOL_AGG_KIT_SQL, "count_if/bool_and/bool_or"),
    "listagg_nations": QuerySpec(
        _listagg_nations, _LISTAGG_NATIONS_SQL, "ordered string aggregation (LISTAGG)"
    ),
    "window_value_fns": QuerySpec(
        _window_value_fns, _WINDOW_VALUE_FNS_SQL, "first/last/nth_value windows"
    ),
    "above_nation_avg": QuerySpec(
        _above_nation_avg, named_tables(_ABOVE_NATION_AVG_SQL),
        "correlated scalar subquery (decorrelated)"
    ),
    "salted_agg_by_flag": QuerySpec(
        _salted_agg_by_flag, _SALTED_AGG_BY_FLAG_SQL, "skew-salted two-phase agg"
    ),
    "argmax_orders": QuerySpec(
        _argmax_orders, _ARGMAX_ORDERS_SQL, "max_by/min_by argmax aggregation"
    ),
    "price_histogram": QuerySpec(
        _price_histogram, _PRICE_HISTOGRAM_SQL, "equi-width histogram (width_bucket)"
    ),
    "percentile_by_group": QuerySpec(
        _percentile_by_group, _PERCENTILE_BY_GROUP_SQL, "exact group percentiles"
    ),
    "unpivot_metrics": QuerySpec(
        _unpivot_metrics, _UNPIVOT_METRICS_SQL, "wide-to-long unpivot/melt"
    ),
    "grouped_zscore": QuerySpec(_grouped_zscore, _GROUPED_ZSCORE_SQL, "applyInPandas grouped map"),
    "cogrouped_customer_orders": QuerySpec(
        _cogrouped_customer_orders,
        _COGROUPED_CUSTOMER_ORDERS_SQL,
        "cogroup.applyInPandas two-table per-key merge",
    ),
    "sql_shipping_priority": QuerySpec(
        _sql_shipping_priority, named_tables(_SQL_SHIPPING_PRIORITY_SQL),
        "spark.sql front end (TPC-H Q3 shape)"
    ),
    "approx_stats": QuerySpec(_approx_stats, None, "HLL++ distinct + approx quantiles"),
    "freq_items_hh": QuerySpec(
        _freq_items_hh, None, "one-pass frequent-items sketch (heavy hitters)"
    ),
    "hll_sketch_users": QuerySpec(
        _hll_sketch_users, None, "mergeable DataSketches HLL rollup (union of sketches)"
    ),
    "pricing_summary": QuerySpec(_pricing_summary, _PRICING_SUMMARY_SQL, "TPC-H Q1 shape"),
    "global_summary": QuerySpec(_global_summary, _GLOBAL_SUMMARY_SQL, "reference A2 global agg"),
    "count_distinct_by_flag": QuerySpec(_count_distinct, _COUNT_DISTINCT_SQL, "count distinct"),
    "rollup_qty": QuerySpec(_rollup_qty, _ROLLUP_QTY_SQL, "ROLLUP + GROUPING"),
    "cube_orders": QuerySpec(_cube_orders, _CUBE_ORDERS_SQL, "CUBE + GROUPING"),
    "grouping_sets": QuerySpec(
        _grouping_sets, named_tables(_GROUPING_SETS_SQL), "GROUPING SETS via SQL API"
    ),
    "pivot_status": QuerySpec(_pivot_status, _PIVOT_STATUS_SQL, "pivot to columns"),
    "stats_by_flag": QuerySpec(_stats_by_flag, _STATS_BY_FLAG_SQL, "stddev/var/corr"),
    "moment_bit_aggs": QuerySpec(
        _moment_bit_aggs, _MOMENT_BIT_AGGS_SQL, "skewness/kurtosis + bit_and/or/xor"
    ),
    "revenue_by_nation": QuerySpec(_revenue_by_nation, _REVENUE_BY_NATION_SQL, "TPC-H Q5 shape"),
    "brand_revenue": QuerySpec(_brand_revenue, _BRAND_REVENUE_SQL, "broadcast dim join"),
    "semi_join_urgent": QuerySpec(_semi_join, _SEMI_JOIN_SQL, "left_semi / EXISTS"),
    "anti_join_idle": QuerySpec(_anti_join, _ANTI_JOIN_SQL, "left_anti / NOT EXISTS"),
    "left_join_counts": QuerySpec(_left_join_counts, _LEFT_JOIN_COUNTS_SQL, "left outer join"),
    "right_join_suppliers": QuerySpec(
        _right_join_suppliers, _RIGHT_JOIN_SUPPLIERS_SQL, "right outer join"
    ),
    "full_outer_join": QuerySpec(_full_outer_join, _FULL_OUTER_JOIN_SQL, "full outer join"),
    "cross_join_small": QuerySpec(_cross_join, _CROSS_JOIN_SQL, "cartesian of tiny sets"),
    "range_join_60d": QuerySpec(_range_join, _RANGE_JOIN_SQL, "equi + band predicate join"),
    "theta_join_pairs": QuerySpec(_theta_join, _THETA_JOIN_SQL, "inequality self-join"),
    "top3_orders_per_customer": QuerySpec(
        _top3_orders_per_customer, _TOP3_ORDERS_SQL, "per-group top-k"
    ),
    "running_total": QuerySpec(_running_total, _RUNNING_TOTAL_SQL, "ROWS frame running sum"),
    "lag_lead_gaps": QuerySpec(_lag_lead_gaps, _LAG_LEAD_GAPS_SQL, "lag/lead"),
    "moving_avg": QuerySpec(_moving_avg, _MOVING_AVG_SQL, "moving average frame"),
    "ntile_quartiles": QuerySpec(_ntile_quartiles, _NTILE_QUARTILES_SQL, "ntile"),
    "range_frame_cumulative": QuerySpec(_range_frame_cumulative, _RANGE_FRAME_SQL, "RANGE frame"),
    "rank_percentiles": QuerySpec(_rank_percentiles, _RANK_PERCENTILES_SQL, "rank family"),
    "top10_orders": QuerySpec(_top10_orders, _TOP10_ORDERS_SQL, "global top-k"),
    "sort_nulls_limit": QuerySpec(_sort_nulls_limit, _SORT_NULLS_LIMIT_SQL, "NULLS LAST sort"),
    "union_all_sources": QuerySpec(_union_all_sources, _UNION_ALL_SQL, "UNION ALL"),
    "intersect_keys": QuerySpec(_intersect_keys, _INTERSECT_KEYS_SQL, "INTERSECT"),
    "except_keys": QuerySpec(_except_keys, _EXCEPT_KEYS_SQL, "EXCEPT ALL"),
    "distinct_pairs": QuerySpec(_distinct_pairs, _DISTINCT_PAIRS_SQL, "DISTINCT"),
    "dedup_first_line": QuerySpec(_dedup_first_line, _DEDUP_FIRST_LINE_SQL, "deterministic dedup"),
}
