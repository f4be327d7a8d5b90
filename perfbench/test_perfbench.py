"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a Spark session per run (about half a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("etl_taxi_month", "analytics_mix", "llm_corpus_prep")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(base, f), path).encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_seeded(tmp_path, workload):
    """The same seed gives byte-identical inputs, another seed other ones."""
    a = gen.make(workload, str(tmp_path / "a"), 7, 0.05)["dir"]
    b = gen.make(workload, str(tmp_path / "b"), 7, 0.05)["dir"]
    c = gen.make(workload, str(tmp_path / "c"), 8, 0.05)["dir"]
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_taxi_inputs_cover_every_branch(tmp_path):
    """Both batches plant every filter, guard and bucket branch, and only
    the second carries the A3 columns."""
    import pandas as pd

    inp = gen.taxi_month(str(tmp_path), 3, 4000, 2)
    for batch, cols in (("v1", gen.TAXI_V1), ("v2", gen.TAXI_V2)):
        df = pd.concat(
            pd.read_csv(os.path.join(inp["dir"], batch, f), parse_dates=cols[:2])
            for f in sorted(os.listdir(os.path.join(inp["dir"], batch)))
        )
        assert list(df.columns) == cols
        dur = (df.tpep_dropoff_datetime - df.tpep_pickup_datetime).dt.total_seconds() / 60
        assert (dur == 0).any() and (dur < 0).any()
        assert (df.trip_distance <= 0).any() and (df.total_amount < 0).any()
        assert (df.fare_amount == 0).any()
        assert (df.tip_amount / df.fare_amount.where(df.fare_amount > 0) * 100 > 999.99).any()
        assert set(df.payment_type) >= {1, 2, 3, 4, 5}
        for edge in (5, 15, 30, 60):
            assert (dur == edge).any() and ((dur > edge - 1) & (dur < edge)).any()
        if batch == "v2":
            assert df.cbd_congestion_fee.isna().any()


def test_corpus_truth_is_consistent(tmp_path):
    """Planted pairs join members of one group, and the exact top-10 lists
    hold ten corpus ids per query."""
    truth = gen.corpus(str(tmp_path), 5, 400, 300)["truth"]
    members = {x: i for i, g in enumerate(truth["groups"]) for x in g}
    assert truth["planted_pairs"]
    assert all(members[a] == members[b] for a, b in truth["planted_pairs"])
    assert truth["kinds"]["exact"] > 0 and truth["kinds"]["near"] > 0
    assert all(len(v) == 10 for v in truth["ann_top10"].values())


def test_layer_table_attributes_jobs_to_spans():
    """Jobs reach spans by job group, by a streaming alias, or by time."""
    tr = spans.Tracer("r", enabled=True)
    with tr.span("queries", "q1 exec") as q1:
        pass
    with tr.span("streaming", "ingest v1") as st:
        tr.alias("stream-run-id")
    s1, s2 = tr.spans
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Submission Time": s1.start * 1000,
         "Properties": {"spark.jobGroup.id": q1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Submission Time": s2.start * 1000,
         "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 0, "Completion Time": 5}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 0, "Completion Time": 9}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"JVM GC Time": 20, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Output Metrics": {"Bytes Written": 64}}},
    ]
    table = spans.layer_table(tr, events, (s1.start, s2.end))
    assert table["layers"]["queries"]["jobs"] == 1
    assert table["layers"]["queries"]["shuffle_write_bytes"] == 100
    assert table["layers"]["streaming"]["tasks"] == 1
    assert table["io_write"]["output_bytes"] == 64
    assert st is not None and 0.0 <= table["uncovered_share"] <= 1.0


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run(workload, trace):
    """A tiny run passes its output checks and prints exactly the metrics
    BENCHMARK.json declares, with their units."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, proc.stderr[-3000:]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _declared()[trace]
