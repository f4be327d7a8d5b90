"""Local replica of the driver's DuckDB-oracle differential check.

For a query name: run the Spark callable at the given sf_dir, run the
oracle SQL in DuckDB over the same parquet files, and diff
(row count, column names, order-insensitive values). Raises AssertionError
with a readable delta on mismatch — this is what keeps CORRECTNESS_r{N}
green before the driver ever runs.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import pandas as pd

from agent_data_pipeline_spark.io.tables import TABLE_NAMES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canon_cell(v) -> str:
    """Canonical string form of a cell for order-insensitive compare."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        # Round-trip through a fixed decimal grain: queries round to <=6
        # decimals, so 1e-9 noise (engine round-impl ulp) is forgiven,
        # genuine value differences are not.
        return f"{v:.8f}" if abs(v) < 1e10 else f"{v:.6e}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, _dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, _dt.date):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    # column-wise iteration: `df.iloc[i][c]` builds a row Series per
    # cell (O(cols) each) and dominated the suite's wall time on wide
    # 60k-row kits (math_scalars ~45 s of pure canon). Iterating each
    # column Series yields the same scalar objects (np.float64 is a
    # float, datetime64 iterates as pd.Timestamp), so _canon_cell
    # behaves identically.
    cols = sorted(df.columns)
    canon_cols = [[_canon_cell(v) for v in df[c]] for c in cols]
    if not canon_cols:
        return []
    return sorted(zip(*canon_cols))


def compare(spark_df, duck_df: pd.DataFrame, name: str = "query") -> None:
    sp = spark_df.toPandas()
    sp_cols, du_cols = sorted(sp.columns), sorted(duck_df.columns)
    assert sp_cols == du_cols, f"{name}: column names differ\n spark={sp_cols}\n duck ={du_cols}"
    assert len(sp) == len(duck_df), f"{name}: row count differs spark={len(sp)} duck={len(duck_df)}"
    sp_rows, du_rows = _canon_rows(sp), _canon_rows(duck_df)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sp_rows, du_rows)) if a != b
    ]
    if mismatches:
        i, a, b = mismatches[0]
        raise AssertionError(
            f"{name}: {len(mismatches)}/{len(sp_rows)} canonical rows differ; "
            f"first at sorted-index {i}:\n cols ={sp_cols}\n spark={a}\n duck ={b}"
        )


def _temp_views(spark) -> list[str]:
    # temporary only: bucketed_join_agg keeps its adps_bkt_* tables on purpose
    return sorted(tbl.name for tbl in spark.catalog.listTables() if tbl.isTemporary)


def run_check(spark, name: str, spec, sf_dir: str) -> None:
    """Diff the query with its oracle, sweep what it cached or
    checkpointed (``release_persists()``), then check that it left the
    temp views and conf as they were and no stream running. A failing
    diff raises first."""
    from agent_data_pipeline_spark.fns import release_persists

    views_before, conf_before = _temp_views(spark), spark.conf.getAll
    try:
        sdf = spec.spark(spark, sf_dir)
        if spec.oracle is None:
            assert sdf.count() >= 0
        else:
            con = duck_connection(sf_dir)
            try:
                ddf = con.sql(spec.oracle).fetchdf()
            finally:
                con.close()
            compare(sdf, ddf, name)
    finally:
        # the result is materialized (or the check is failing): drop what
        # the query cached or checkpointed, so a long session does not
        # accumulate it
        release_persists()
    views, conf = _temp_views(spark), spark.conf.getAll
    assert views == views_before, f"{name}: temp views {views_before} -> {views}"
    assert conf == conf_before, f"{name}: changed conf {sorted(conf.items() ^ conf_before.items())}"
    assert not spark.streams.active, f"{name}: left {len(spark.streams.active)} streams running"
