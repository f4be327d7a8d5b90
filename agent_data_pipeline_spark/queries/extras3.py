"""Round-2 surface extensions, part 3: physical-layout operators
(partition-pruned reads, bucketed co-located joins) and the remaining
front-end surface (GROUP BY ALL / ORDER BY ALL, NATURAL / USING joins,
FILTER-clause aggregates, Arrow-native UDFs).

The layout queries are the 100 TB centerpiece of this module: partition
pruning turns a full scan into a one-directory read (the difference
between 100 TB and 100 GB touched for a one-day query), and bucketing
pre-shuffles both join sides once at write time so every subsequent join
on the bucket key is exchange-free. tests/test_plans.py asserts both
properties against the physical plan, not just the results.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import read_parquet
from .core import QuerySpec, named_tables, rnd, t

_IO_TMP = "/tmp/adps_io"


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


# --- GROUP BY ALL / ORDER BY ALL -------------------------------------------

_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
FROM {lineitem}
GROUP BY ALL
ORDER BY ALL
"""


def _group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL resolution: grouping keys inferred
    from the non-aggregate select list, ordering over the full output
    row — identical sugar in Spark 3.4+ and DuckDB."""
    return spark.sql(_GROUP_BY_ALL_SQL, lineitem=t(spark, sf_dir, "lineitem"))


# --- NATURAL JOIN + JOIN USING ---------------------------------------------

_NATURAL_USING_SQL = """
WITH n AS (SELECT n_nationkey AS nationkey, n_name, n_regionkey AS regionkey FROM {nation}),
     r AS (SELECT r_regionkey AS regionkey, r_name FROM {region}),
     c AS (SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_cust
           FROM {customer} GROUP BY c_nationkey)
SELECT r_name, n_name, n_cust
FROM n NATURAL JOIN r JOIN c USING (nationkey)
"""


def _natural_using_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL JOIN (implicit equi-key from shared column names) and
    JOIN USING (explicit shared-key list) — both resolve to ordinary
    equi-joins in Catalyst; the surface is name resolution, not a new
    physical strategy."""
    return spark.sql(
        _NATURAL_USING_SQL, **{n: t(spark, sf_dir, n) for n in ("nation", "region", "customer")}
    )


# --- FILTER-clause aggregates ----------------------------------------------

_FILTERED_AGGS_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT)                                    AS n_rows,
       CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)     AS n_big,
       floor(coalesce(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 0)
             * 100 + 0.5) / 100                                    AS disc_rev,
       floor(coalesce(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0)
             * 10000 + 0.5) / 10000                                AS avg_qty_f
FROM {lineitem}
GROUP BY l_returnflag
"""


def _filtered_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate FILTER (WHERE ...) clauses — one scan computing
    differently-predicated aggregates side by side (the conditional-sum
    pattern without CASE-NULL scaffolding)."""
    return spark.sql(_FILTERED_AGGS_SQL, lineitem=t(spark, sf_dir, "lineitem"))


# --- Partition-pruned read --------------------------------------------------

_PARTITION_PRUNE_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-02'
GROUP BY event_type
"""


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf) the events table re-laid-out as a
    date-partitioned parquet tree — the layout policy for an event log
    at scale (SURVEY §4: we choose partition keys; `events` by date)."""
    path = os.path.join(_IO_TMP, _sf_tag(sf_dir), "events_by_date")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        ev = t(spark, sf_dir, "events")
        (
            ev.withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
    return path


def _partition_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-day aggregate over the date-partitioned events layout: the
    filter on the partition column prunes at planning time, so the scan
    touches one directory regardless of table size (asserted against
    PartitionFilters in tests/test_plans.py). This is the 100 TB
    difference between reading a day and reading a year."""
    path = partitioned_events_path(spark, sf_dir)
    back = read_parquet(spark, path)
    return (
        back.where(F.col("event_date") == F.lit("2024-01-02").cast("date"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- Bucketed co-located join ----------------------------------------------

_BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write (once per sf per session) orders and customer as bucketed
    tables on the join key: 8 buckets + sorted within buckets. Both
    sides hash-partitioned identically at WRITE time => every future
    join on custkey is exchange-free (asserted in tests/test_plans.py).
    At 100 TB this converts the recurring O(data) shuffle of the
    pipeline's hottest join into a one-time layout cost."""
    tag = _sf_tag(sf_dir)
    names = (f"adps_bkt_orders_{tag}", f"adps_bkt_customer_{tag}")
    base = os.path.join(_IO_TMP, tag)
    for name, tbl, key in (
        (names[0], "orders", "o_custkey"),
        (names[1], "customer", "c_custkey"),
    ):
        if spark.catalog.tableExists(name):
            continue
        (
            t(spark, sf_dir, tbl)
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .saveAsTable(name)
        )
    return names


def _bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_name, c_name = bucketed_tables(spark, sf_dir)
    return (
        spark.table(o_name)
        .join(spark.table(c_name), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


# --- Arrow-native UDFs (mapInArrow + applyInArrow) --------------------------

_ARROW_UDF_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor(sum(CAST(floor(l_quantity * l_extendedprice * (1 - l_discount) * 100 + 0.5)
                      AS BIGINT)) / 100.0 * 100 + 0.5) / 100 AS gross_sum
FROM lineitem
GROUP BY l_returnflag
"""


def _arrow_udf_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native UDF surface (Spark 4): mapInArrow computes per-row
    fixed-point gross revenue directly on Arrow RecordBatches (no pandas
    materialization), then applyInArrow reduces each group as an Arrow
    table. The integer-cents representation makes the distributed sum
    order-independent, so the result hash-matches the oracle exactly.
    Arrow-batch UDFs are the fastest Python escape hatch — columnar in,
    columnar out, zero row-at-a-time marshalling."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # No spread: the Arrow kernel is vectorized enough that one split's
    # serial pass beats paying a forced exchange of the full projection
    # (interleaved A/B: 0.93 s partial-agg/no-spread vs 1.58 s with the
    # exchange); a corpus big enough to need parallelism arrives
    # multi-split and parallelizes without it.
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )

    def gross_cents(batches):
        # Per-BATCH partial aggregation (guide §2.3, aggregate before you
        # shuffle): per-row integer cents are computed exactly as before,
        # then group-summed within the batch, so the exchange feeding
        # applyInArrow carries ~flags x batches rows instead of every
        # line item. Integer cents keep every partial order-independent
        # and overflow-safe (600k rows x <=1e9 cents << 2^63), so the
        # final sums are bit-identical to the row-at-a-time shape.
        for b in batches:
            gross = pc.multiply(
                pc.multiply(b.column("l_quantity"), b.column("l_extendedprice")),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            cents = pc.cast(
                pc.floor(pc.add(pc.multiply(gross, pa.scalar(100.0)), pa.scalar(0.5))),
                pa.int64(),
            )
            part = (
                pa.table({"l_returnflag": b.column("l_returnflag"), "cents": cents})
                .group_by("l_returnflag")
                .aggregate([("cents", "sum"), ("cents", "count")])
            )
            yield pa.RecordBatch.from_arrays(
                [
                    part.column("l_returnflag").combine_chunks(),
                    part.column("cents_sum").combine_chunks(),
                    part.column("cents_count").combine_chunks(),
                ],
                ["l_returnflag", "cents", "n_part"],
            )

    mapped = li.mapInArrow(gross_cents, "l_returnflag string, cents long, n_part long")

    def sum_group(tbl: pa.Table) -> pa.Table:
        return pa.table(
            {
                "l_returnflag": pa.array([tbl.column("l_returnflag")[0].as_py()], pa.string()),
                "n_rows": pa.array([pc.sum(tbl.column("n_part")).as_py()], pa.int64()),
                "cents": pa.array([pc.sum(tbl.column("cents")).as_py()], pa.int64()),
            }
        )

    reduced = mapped.groupBy("l_returnflag").applyInArrow(
        sum_group, "l_returnflag string, n_rows long, cents long"
    )
    return reduced.select(
        "l_returnflag", "n_rows", rnd(F.col("cents") / F.lit(100.0), 2).alias("gross_sum")
    )


QUERIES: dict[str, QuerySpec] = {
    "group_by_all": QuerySpec(
        _group_by_all, named_tables(_GROUP_BY_ALL_SQL), "GROUP BY ALL / ORDER BY ALL"
    ),
    "natural_using_join": QuerySpec(
        _natural_using_join, named_tables(_NATURAL_USING_SQL), "NATURAL JOIN + JOIN USING"
    ),
    "filtered_aggs": QuerySpec(
        _filtered_aggs, named_tables(_FILTERED_AGGS_SQL), "FILTER-clause aggregates"
    ),
    "partition_prune_agg": QuerySpec(
        _partition_prune_agg, _PARTITION_PRUNE_SQL, "date-partitioned layout + pruned scan"
    ),
    "bucketed_join_agg": QuerySpec(
        _bucketed_join_agg, _BUCKETED_JOIN_SQL, "bucketed exchange-free join"
    ),
    "arrow_udf_kit": QuerySpec(
        _arrow_udf_kit, _ARROW_UDF_SQL, "mapInArrow + applyInArrow fixed-point reduce"
    ),
}
