"""Source/sink round-trip tests (SURVEY §2.B Sources/Sinks rows).

JDBC is exercised only at the option-plumbing level (no database server
in this container); file formats round-trip through real writes.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from agent_data_pipeline_spark.io import sinks, sources
from agent_data_pipeline_spark.queries.core import t


@pytest.fixture(scope="module")
def orders(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/orders.parquet")


def _sorted_rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_parquet_round_trip_partitioned(spark, orders, tmp_path):
    out = str(tmp_path / "orders_pq")
    sinks.write_parquet(
        orders.withColumn("o_year", F.year("o_orderdate")), out, partition_by=["o_year"]
    )
    back = sources.read_parquet(spark, out)
    assert back.count() == orders.count()
    # partition pruning: a year filter must become a PartitionFilter on
    # the scan (metadata-only skip), not a data Filter over all files
    pruned = back.filter(F.col("o_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "o_year" in pf[1][:200], plan[:2000]
    assert pruned.count() == orders.filter(F.year("o_orderdate") == 1997).count()


def test_csv_round_trip(spark, orders, tmp_path):
    out = str(tmp_path / "orders_csv")
    subset = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    sinks.write_csv(subset, out)
    back = sources.read_csv(
        spark, out, schema="o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    assert _sorted_rows(back) == _sorted_rows(subset)


def test_csv_append_mode(spark, orders, tmp_path):
    out = str(tmp_path / "orders_csv_app")
    subset = orders.select("o_orderkey").limit(10)
    sinks.write_csv(subset, out)
    sinks.write_csv(subset, out, mode="append")
    back = sources.read_csv(spark, out, schema="o_orderkey long")
    assert back.count() == 20


def test_json_round_trip(spark, orders, tmp_path):
    out = str(tmp_path / "orders_json")
    subset = orders.select("o_orderkey", "o_orderpriority").limit(100)
    subset.write.mode("overwrite").json(out)
    back = sources.read_json(spark, out, schema="o_orderkey long, o_orderpriority string")
    assert _sorted_rows(back) == _sorted_rows(subset)


def test_sample_csv_head_bounds_rows(spark, orders, tmp_path):
    out = str(tmp_path / "orders_head_csv")
    sinks.write_csv(orders.select("o_orderkey", "o_totalprice"), out)
    head = sources.sample_csv_head(spark, out, n=100)
    assert head.count() == 100
    assert dict(head.dtypes)["o_orderkey"] in ("int", "bigint")


def test_overwrite_is_full_refresh(spark, orders, tmp_path):
    """S5 semantics: overwrite replaces, never appends (§2.C gotcha 5)."""
    out = str(tmp_path / "refresh_pq")
    sinks.write_parquet(orders.limit(50), out)
    sinks.write_parquet(orders.limit(50), out)
    assert spark.read.parquet(out).count() == 50


def test_bucketed_join_skips_shuffle(spark, orders, tmp_path):
    """Two tables co-bucketed on the join key must join WITHOUT an
    exchange on either side — the write-time shuffle replaces every
    future join shuffle (the core fact-to-fact join strategy at scale)."""
    from agent_data_pipeline_spark.io.tables import save_bucketed

    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li_orders = orders.select("o_orderkey", "o_totalprice")
    save_bucketed(lineitem, "t_li_bucketed", ["l_orderkey"], n_buckets=8)
    save_bucketed(li_orders, "t_o_bucketed", ["o_orderkey"], n_buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("t_li_bucketed")
        b = spark.table("t_o_bucketed")
        joined = a.join(b, a.l_orderkey == b.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]
        n = joined.count()
        assert n == lineitem.join(li_orders,
                                  lineitem.l_orderkey == li_orders.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_jdbc_round_trip_embedded_derby(spark, orders, tmp_path):
    """Real JDBC source/sink round trip (S3/S4/S5, read path of
    taxi_transform_dag.py:75) against the Derby embedded driver that
    ships with Spark — no external server needed. Covers: append write,
    truncate-overwrite full refresh, serial read-back, and a partitioned
    (fan-out) read."""
    from agent_data_pipeline_spark.io.sinks import write_jdbc
    from agent_data_pipeline_spark.io.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = orders.select("o_orderkey", "o_totalprice", "o_orderstatus").limit(200)

    write_jdbc(src, url, "orders_t", mode="append", properties=props)
    back = read_jdbc(spark, url, "orders_t", properties=props)
    assert back.count() == 200
    assert {f.name.lower() for f in back.schema.fields} == {
        "o_orderkey", "o_totalprice", "o_orderstatus"
    }

    # full refresh must TRUNCATE (not drop+recreate) then land the new rows
    write_jdbc(src.limit(50), url, "orders_t", mode="overwrite", properties=props)
    assert read_jdbc(spark, url, "orders_t", properties=props).count() == 50

    # partitioned read: same rows, split across bound ranges
    part = read_jdbc(
        spark, url, "orders_t", properties=props,
        partition_column="o_orderkey", lower_bound=0,
        upper_bound=10_000_000, num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 50


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """Backfilling one partition must leave the others byte-identical;
    re-running the same batch is idempotent (no duplicates)."""
    from pyspark.sql import functions as F

    from agent_data_pipeline_spark.io.sinks import (
        write_parquet,
        write_parquet_dynamic_overwrite,
    )

    path = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)],
        "day string, v int",
    )
    write_parquet(base, path, partition_by=["day"])

    patch = spark.createDataFrame([("2024-01-02", 99)], "day string, v int")
    for _ in range(2):  # idempotent re-run
        write_parquet_dynamic_overwrite(patch, path, ["day"])
        # partition values read back type-inferred (DATE) — compare ISO
        got = sorted(
            (str(r["day"]), r["v"]) for r in spark.read.parquet(path).collect()
        )
        assert got == [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 99)]
    # scoped conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from agent_data_pipeline_spark.io.sinks import compact_parquet

    path = str(tmp_path / "fragged")
    spark.range(1000).repartition(40).write.parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 40
    compact_parquet(spark, path, target_file_mb=512)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after < before
    assert spark.read.parquet(path).count() == 1000
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == list(range(1000))


def test_csv_malformed_rows_captured_permissive(spark, tmp_path):
    """Ingest robustness: PERMISSIVE mode must load the well-formed
    rows and capture malformed ones in the corrupt-record column
    instead of failing the job (DROPMALFORMED must silently skip
    them) — the contract a 100 TB crawl ingest relies on."""
    p = tmp_path / "messy.csv"
    p.write_text(
        "id,price,day\n"
        "1,9.50,2024-01-01\n"
        "2,notanumber,2024-01-02\n"
        "3,7.25,2024-01-03\n"
    )
    schema = "id INT, price DOUBLE, day DATE, _corrupt STRING"
    perm = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema(schema)
        .csv(str(p))
        .cache()
    )
    rows = {r.id: r for r in perm.collect()}
    assert rows[1].price == 9.50 and rows[1]._corrupt is None
    assert rows[3].price == 7.25
    bad = [r for r in rows.values() if r._corrupt is not None]
    assert len(bad) == 1 and "notanumber" in bad[0]._corrupt

    dropped = (
        spark.read.option("header", True)
        .option("mode", "DROPMALFORMED")
        .schema("id INT, price DOUBLE, day DATE")
        .csv(str(p))
    )
    # count() prunes every column, so the CSV parser never sees the bad
    # cell and drops nothing — materialize rows to exercise the parse.
    assert len(dropped.collect()) == 2


def test_table_read_sees_a_rewritten_nested_partition(spark, tmp_path):
    """A table read learns its schema from the files as they are when it
    is built: a partition file rewritten with a new column shows up in
    the next read, though the table directory itself is unchanged."""
    part = tmp_path / "x.parquet" / "p=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), part)
    assert t(spark, str(tmp_path), "x").columns == ["a", "p"]
    pq.write_table(pa.table({"a": [1], "b": [2]}), part)
    back = t(spark, str(tmp_path), "x")
    assert back.columns == ["a", "b", "p"]
    assert [tuple(r) for r in back.collect()] == [(1, 2, 1)]
