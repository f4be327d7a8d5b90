"""Output checks, run outside the timed regions.

* analytics queries: each result against the registry's DuckDB oracle over
  the same generated Parquet (row count only where there is no oracle);
* ETL: the summary and the cleaned row count against DuckDB running the
  reference transform's filters and tip guard over the generated CSVs;
* corpus: the kept-document count, the near-duplicate recall against the
  planted groups, and ANN recall@10 against the exact numpy top-10.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import duckdb
import pandas as pd

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

# Floors the corpus recalls must meet for the run to count as correct.
NEARDUP_RECALL_FLOOR = 0.95
ANN_RECALL_FLOOR = 0.8
# Share of the planted groups that may survive dedup as an extra document.
KEPT_SLACK = 0.005


def duck_star(star_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in STAR_TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{star_dir}/{name}.parquet')")
    return con


def _cell(v) -> str:
    """Canonical text of one cell: floats at 8 decimals, integral floats as
    ints, NaN/NaT as null, timestamps in ISO form."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.8f}" if abs(v) < 1e10 else f"{v:.6e}"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(zip(*[[_cell(v) for v in df[c].astype(object)] for c in cols])) if len(df) else []


def write_oracles(workload: str, inp: dict) -> None:
    """Compute the expected outputs of a workload's inputs with DuckDB and
    store them beside the inputs (``oracle.json``). Runs in the input
    generation process, so it overlaps the session start."""
    path = os.path.join(inp["dir"], "oracle.json")
    if os.path.exists(path):
        return
    if workload == "analytics_mix":
        from mix import QUERIES

        from agent_data_pipeline_spark.queries import REGISTRY

        con = duck_star(inp["dir"])
        try:
            answers = {}
            for name in QUERIES:
                sql = REGISTRY[name].oracle
                if sql is not None:
                    want = con.sql(sql).fetchdf()
                    answers[name] = {"columns": sorted(want.columns), "rows": canon(want)}
        finally:
            con.close()
    elif workload == "etl_taxi_month":
        answers = {"summary": list(taxi_oracle(inp["dir"]))}
    else:
        return
    with open(path + ".tmp", "w") as fh:
        json.dump(answers, fh)
    os.rename(path + ".tmp", path)


def load_oracles(inp_dir: str) -> dict:
    with open(os.path.join(inp_dir, "oracle.json")) as fh:
        return json.load(fh)


def query_matches(name: str, got: pd.DataFrame, want: dict | None) -> str | None:
    """None when ``got`` matches the stored oracle answer, else a one-line
    reason. Queries without an oracle must return rows."""
    if want is None:
        return None if len(got) > 0 else f"{name}: no rows"
    if sorted(got.columns) != want["columns"]:
        return f"{name}: columns {sorted(got.columns)} != {want['columns']}"
    if len(got) != len(want["rows"]):
        return f"{name}: {len(got)} rows != oracle {len(want['rows'])}"
    bad = sum(a != tuple(b) for a, b in zip(canon(got), want["rows"]))
    return f"{name}: {bad}/{len(got)} rows differ from the oracle" if bad else None


_TAXI_ORACLE = """
WITH raw AS (
  SELECT tpep_pickup_datetime, tpep_dropoff_datetime, trip_distance, fare_amount, tip_amount, total_amount
  FROM read_csv('{dir}/v*/*.csv', header=true, union_by_name=true,
                timestampformat='%Y-%m-%d %H:%M:%S')
), cleaned AS (
  SELECT trip_distance, total_amount,
         CASE WHEN fare_amount > 0 THEN least(tip_amount / fare_amount * 100.0, 999.99) ELSE 0 END AS tip_pct
  FROM raw
  WHERE tpep_dropoff_datetime > tpep_pickup_datetime AND trip_distance > 0 AND total_amount >= 0
)
SELECT count(*) AS total_trips, avg(trip_distance), avg(total_amount), avg(tip_pct) FROM cleaned
"""


def taxi_oracle(taxi_dir: str) -> tuple:
    con = duckdb.connect()
    try:
        return con.sql(_TAXI_ORACLE.format(dir=taxi_dir)).fetchone()
    finally:
        con.close()


def taxi_matches(summary, oracle: list) -> str | None:
    got = (summary.total_trips, summary.avg_distance, summary.avg_total, summary.avg_tip_percentage)
    if got[0] != oracle[0]:
        return f"taxi: {got[0]} cleaned rows != oracle {oracle[0]}"
    for name, a, b in zip(("avg_distance", "avg_total", "avg_tip_percentage"), got[1:], oracle[1:]):
        if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
            return f"taxi: {name} {a} != oracle {b}"
    return None


def corpus_results(out_dir: str, truth: dict, ann_rows: list) -> dict:
    """Recalls and counts of one corpus iteration, read from its Parquet
    outputs with DuckDB (no Spark job)."""
    con = duckdb.connect()
    try:
        kept = con.sql(f"SELECT count(*) FROM read_parquet('{out_dir}/shards/**/*.parquet')").fetchone()[0]
        pairs = con.sql(
            f"SELECT DISTINCT least(id_a, id_b), greatest(id_a, id_b) FROM read_parquet('{out_dir}/pairs/*.parquet')"
        ).fetchall()
    finally:
        con.close()
    planted = {tuple(p) for p in truth["planted_pairs"]}
    found = {tuple(p) for p in pairs}
    top = {}
    for qid, nid, rank in ann_rows:
        top.setdefault(str(qid), []).append((rank, nid))
    hits = total = 0
    for qid, want in truth["ann_top10"].items():
        got = {nid for _, nid in sorted(top.get(qid, []))[:10]}
        hits += len(got & set(want))
        total += len(want)
    return {
        "kept": kept,
        "pairs_out": len(found),
        "neardup_recall": len(found & planted) / max(len(planted), 1),
        "pair_precision": len(found & planted) / max(len(found), 1),
        "ann_recall_at_10": hits / max(total, 1),
    }


def corpus_matches(res: dict, truth: dict) -> str | None:
    # LSH is approximate: a rare missed link keeps one extra copy
    if not 0 <= res["kept"] - truth["n_groups"] <= KEPT_SLACK * truth["n_groups"]:
        return f"corpus: kept {res['kept']} docs, planted groups {truth['n_groups']}"
    if res["neardup_recall"] < NEARDUP_RECALL_FLOOR:
        return f"corpus: near-dup recall {res['neardup_recall']:.3f} < {NEARDUP_RECALL_FLOOR}"
    if res["ann_recall_at_10"] < ANN_RECALL_FLOOR:
        return f"corpus: ANN recall@10 {res['ann_recall_at_10']:.3f} < {ANN_RECALL_FLOOR}"
    return None


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for base, _, names in os.walk(path):
        for f in names:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, f))
    return files, size
