"""Spark-job budgets of the ETL and read entry points.

Per-job fixed cost (scheduling, task launch, plan setup) dominates these
entry points at the sizes they run at, so the number of jobs each starts
is pinned here: schema inference and evolution are driver-side metadata
work (no job), the taxi pipeline is a one-row gate probe plus the
observed write, and a parquet read learns its schema from a footer read
on the driver (no job). Graph setups read their node counts from the
checkpoint job that materializes the nodes (no separate count). Jobs are
counted with a job group and the status tracker.
"""

from __future__ import annotations

import gzip
import uuid
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from agent_data_pipeline_spark.io.sources import read_parquet
from agent_data_pipeline_spark.io.tables import load_tables
from agent_data_pipeline_spark.llmdata.incremental import read_store
from agent_data_pipeline_spark.pipelines import run_taxi_pipeline
from agent_data_pipeline_spark.queries.core import read_events, t
from agent_data_pipeline_spark.schema import ensure_table, infer_csv_schema

from .test_taxi_pipeline import HEADER, ROWS


@contextmanager
def _jobs(spark):
    """Yields a list that holds, on exit, the ids of the jobs started on
    this thread inside the block."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        # the status store learns of jobs from the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def taxi_csv(tmp_path):
    p = tmp_path / "raw" / "trips.csv.gz"
    p.parent.mkdir()
    with gzip.open(p, "wt") as fh:
        fh.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    return str(p)


def test_schema_inference_and_evolution_run_no_job(spark, taxi_csv):
    with _jobs(spark) as jobs:
        schema = infer_csv_schema(spark, taxi_csv)
    assert len(schema.fields) == 11
    assert jobs == []
    with _jobs(spark) as jobs:
        ensure_table(spark, taxi_csv, "budget_trips", zone="raw")  # create
        ensure_table(spark, taxi_csv, "budget_trips", zone="raw")  # evolve (no-op)
    spark.sql("DROP TABLE IF EXISTS raw.budget_trips")
    assert jobs == []


def _raw(spark, tmp_path, rows):
    """A parquet raw table of ``rows`` in three files, typed as the full
    fixture infers."""
    tmp_path.mkdir(exist_ok=True)
    full, src = tmp_path / "full.csv", tmp_path / "src.csv"
    full.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    src.write_text(HEADER + "\n" + "".join(r + "\n" for r in rows))
    raw = str(tmp_path / "raw_parquet")
    spark.read.option("header", "true").schema(infer_csv_schema(spark, str(full))).csv(
        str(src)
    ).repartition(3).write.mode("overwrite").parquet(raw)
    return spark.read.parquet(raw)


def test_taxi_pipeline_runs_at_most_two_jobs(spark, tmp_path):
    raw = _raw(spark, tmp_path, ROWS)
    with _jobs(spark) as jobs:
        summary = run_taxi_pipeline(spark, raw, str(tmp_path / "cleaned"))
    assert summary.total_trips == 5
    assert len(jobs) <= 2, jobs


def test_empty_raw_raises_before_cleaned_path_is_touched(spark, tmp_path):
    """The reference gates the raw table before its TRUNCATE: an empty
    input must raise and leave the previous cleaned output in place."""
    cleaned = str(tmp_path / "cleaned")
    run_taxi_pipeline(spark, _raw(spark, tmp_path, ROWS), cleaned)
    before = spark.read.parquet(cleaned).count()

    empty = _raw(spark, tmp_path / "empty", [])
    with pytest.raises(ValueError, match="No data in raw taxi trips"):
        run_taxi_pipeline(spark, empty, cleaned)
    assert spark.read.parquet(cleaned).count() == before == 5


def test_cleaned_empty_gate_reads_the_write_metrics(spark, tmp_path):
    """Rows that all fail the F1 filter: the write still truncates (the
    reference's TRUNCATE+INSERT), then the observed count raises."""
    filtered_only = [r for r in ROWS if "109,110" in r or "111,112" in r]
    with pytest.raises(ValueError, match="No data in cleaned taxi trips"):
        run_taxi_pipeline(spark, _raw(spark, tmp_path, filtered_only), str(tmp_path / "c"))


@pytest.mark.parametrize("layout", ["pyarrow_file", "spark_directory"])
def test_read_parquet_runs_no_job(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")
    if layout == "pyarrow_file":
        pq.write_table(pa.table({"id": [0, 1, 2], "name": ["0", "1", None]}), path)
    else:
        spark.range(3).selectExpr("id", "cast(id as string) AS name").write.parquet(path)
    with _jobs(spark) as jobs:
        df = read_parquet(spark, path)
    assert jobs == []
    assert df.columns == ["id", "name"]
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]


@pytest.mark.parametrize(
    "read",
    [
        lambda spark, sf: load_tables(spark, sf),
        lambda spark, sf: read_store(spark, f"{sf}/orders.parquet"),
        lambda spark, sf: [t(spark, sf, name) for name in ("orders", "events")],
    ],
    ids=["load_tables", "read_store", "t"],
)
def test_table_readers_run_no_job(spark, sf_smoke, read):
    with _jobs(spark) as jobs:
        read(spark, sf_smoke)
    assert jobs == []


def test_read_events_leaves_conf_unchanged_and_runs_no_failed_job(spark, tmp_path):
    """The events layout stores ``ts`` as TIMESTAMP(NANOS), which a plain
    Spark read rejects. The read must neither probe with a failing job
    nor switch on a session-wide legacy conf."""
    nanos = 1_704_067_200_000_000_000 + np.arange(4, dtype=np.int64) * 1_000_001_001
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(4, dtype=np.int64),
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "value": [1.0, 2.0, 3.0, 4.0],
            }
        ),
        path,
    )
    before = {r.key: r.value for r in spark.sql("SET").collect()}
    with _jobs(spark) as jobs:
        events = read_events(spark, path)
        rows = events.orderBy("event_id").select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts")
        ).collect()
    assert {r.key: r.value for r in spark.sql("SET").collect()} == before
    tracker = spark.sparkContext.statusTracker()
    assert [tracker.getJobInfo(j).status for j in jobs] == ["SUCCEEDED"] * len(jobs)
    # the UTC wall clock the nanos record, truncated to microseconds
    assert [r.ts for r in rows] == [
        "2024-01-01 00:00:00.000000",
        "2024-01-01 00:00:01.000001",
        "2024-01-01 00:00:02.000002",
        "2024-01-01 00:00:03.000003",
    ]


# A separate count() of a checkpointed node table costs two jobs under
# AQE (the shuffle stage and the result); the count rides the checkpoint.
def test_pagerank_job_count(spark):
    from agent_data_pipeline_spark.ops.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    with _jobs(spark) as jobs:
        pagerank(edges)
    assert len(jobs) == 44


def test_bfs_hops_from_hub_job_count(spark, sf_smoke):
    from agent_data_pipeline_spark.queries.extras54 import _bfs_hops_from_hub

    with _jobs(spark) as jobs:
        _bfs_hops_from_hub(spark, sf_smoke)
    assert len(jobs) == 22
