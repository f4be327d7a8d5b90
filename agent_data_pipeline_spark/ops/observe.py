"""In-flight pipeline metrics via ``Observation`` — validation without a
second scan.

The reference's A1 gate (`dags/taxi_transform_dag.py:52`) re-queries the
table it just wrote to check non-emptiness; run_expectations (this
package) is one extra aggregation job. At 100 TB even that extra scan is
real money — Spark's ``df.observe`` attaches named aggregate metrics to
the plan itself, so the SAME action that writes the data also reports
row counts / violation counts / sums, for free, exactly once per action.

This is the "audit column" pattern of lakehouse writers (Delta's metrics,
Iceberg's snapshot summaries) expressed with the engine primitive.

This is the one module that builds an ``Observation``: writes observe
through ``observed``/``write_parquet_validated``, and fixpoint rounds
through ``checkpoint_observed`` (tests/test_readme_counts.py pins it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed(
    df: DataFrame, metrics: dict[str, Column]
) -> tuple[DataFrame, Observation]:
    """Attach named aggregate ``metrics`` to ``df``'s plan. Returns the
    (still lazy) observed frame and the ``Observation`` handle; after
    ANY action on the returned frame, ``observation.get`` yields the
    metric values computed during that action — zero extra scans.

    Metric expressions must be aggregates Spark can compute streamingly
    per task (count/count_if/sum/min/max — no distinct, no sort-based
    aggs): the same restriction observe itself enforces.
    """
    if not metrics:
        raise ValueError("observed: metrics dict must be non-empty")
    obs = Observation()
    names_cols: list[Column] = []
    for name, col in metrics.items():
        names_cols.append(col.alias(name))
    return df.observe(obs, *names_cols), obs


def checkpoint_observed(
    df: DataFrame, metrics: dict[str, Column]
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with an eager ``localCheckpoint`` and return it
    with the values of ``metrics`` computed by that same job: the round
    primitive of every fixpoint loop (k-core peel, BFS hop, connected
    components), one driver action per round.

    Ordering rule: ``Observation.get`` blocks until an action runs on
    the observed frame, so the checkpoint must be that frame's first
    action. Keeping both steps here is what keeps them in that order.

    The checkpoint (not a bare ``persist``) truncates the logical plan:
    a round that references the previous round's frame several times
    would otherwise grow the tree geometrically and the analyzer with
    it.
    """
    obs_df, obs = observed(df, metrics)
    frame = obs_df.localCheckpoint()
    return frame, dict(obs.get)


def release_checkpoint(df: DataFrame) -> None:
    """Drop the cached blocks behind a ``localCheckpoint`` frame. Only
    for a frame nothing lazy still reads: a later checkpoint built from
    it is safe, a plan that scans it fails."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def write_parquet_validated(
    df: DataFrame,
    path: str,
    metrics: dict[str, Column],
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` to parquet while collecting ``metrics`` in the same
    job; returns the observed metric values. The A1 non-empty gate (and
    any expectations-style rule) becomes a dictionary lookup on the
    write's own statistics instead of a second read of what was just
    written."""
    obs_df, obs = observed(df, metrics)
    obs_df.write.mode(mode).parquet(path)
    return dict(obs.get)
