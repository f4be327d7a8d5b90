"""Differential tests: every registry query vs the DuckDB oracle at the
driver's correctness scale factor (sf0.01). This mirrors the t2 gate."""

from __future__ import annotations

import pytest

from agent_data_pipeline_spark.fns import release_persists
from agent_data_pipeline_spark.queries import REGISTRY

from .oracle import run_check


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_oracle, name):
    run_check(spark, name, REGISTRY[name], sf_oracle)


def test_sql_text_query_keeps_callers_view(spark, sf_oracle):
    """A SQL-text query binds its fixture tables under view names of its
    own: a caller's view named like a fixture table comes back with its
    columns, rows and cache."""
    spark.createDataFrame([(1,), (2,)], "mine int").createOrReplaceTempView("customer")
    spark.catalog.cacheTable("customer")
    try:
        assert REGISTRY["exists_subquery"].spark(spark, sf_oracle).count() > 0
        mine = spark.table("customer")
        assert mine.columns == ["mine"]
        assert sorted(r.mine for r in mine.collect()) == [1, 2]
        assert spark.catalog.isCached("customer")
    finally:
        spark.catalog.dropTempView("customer")


@pytest.mark.parametrize(
    "name",
    [
        "rfm_segments",  # .persist() of a dim-grain frame
        "triangle_census",  # bare .cache()
        "k_core_decomposition",  # localCheckpoint rounds
    ],
)
def test_release_persists_sweeps_what_a_query_leaves(spark, sf_smoke, name):
    """A query may leave cached relations and checkpoint blocks that its
    lazy result still reads; once the result is materialized,
    ``release_persists()`` drops them all from Spark's own records, and
    the query still returns the same rows when run again."""
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    release_persists()

    def rows():
        return sorted(map(tuple, REGISTRY[name].spark(spark, sf_smoke).collect()), key=repr)

    first = rows()
    assert len(jsc.getPersistentRDDs()) > 0 or not cache.isEmpty(), f"{name} left nothing"
    release_persists()
    assert len(jsc.getPersistentRDDs()) == 0
    assert cache.isEmpty()
    assert rows() == first
    release_persists()
