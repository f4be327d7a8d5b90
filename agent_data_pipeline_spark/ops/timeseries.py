"""Time-series operators: hypertable-style rollup, gap-fill, LOCF,
linear interpolation.

The reference handles time only as plain TIMESTAMP columns cleaned by
SQL expressions (dags/taxi_transform_dag.py:52-57); nothing in it
downsamples or regularizes series. These operators are the north-star
extension for telemetry/training-data pipelines, composed entirely from
DataFrame primitives so Catalyst plans them (no UDFs anywhere).

Scale design:
  * ``hypertable_rollup`` computes the FINEST bucket aggregate from the
    raw table once, then derives every coarser level from the next finer
    one — at 100 TB the raw scan happens a single time and each rollup
    level reads the (orders-of-magnitude smaller) previous level. All
    aggregates carried are re-aggregable (count/sum/min/max compose;
    avg is derived at the end as sum/n).
  * ``gap_fill`` builds each key's bucket grid with sequence+explode:
    the grid is generated distributed (one row per key expands to its
    span), never on the driver.
  * interpolation avoids timestamp arithmetic entirely: on a uniform
    grid, linear-in-time == linear-in-row-index, so the weights are
    integer row offsets — immune to session-TZ/DST rendering skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def time_bucket(ts: str | Column, width: str) -> Column:
    """Arbitrary-width epoch-aligned bucket (TimescaleDB ``time_bucket``
    shape): the window's start. Works in any select/groupBy expression."""
    return F.window(ts, width)["start"]


def bucket_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """count/sum/min/max of ``value_col`` per (time bucket, keys)."""
    return df.groupBy(
        time_bucket(ts_col, width).alias("bucket"), *keys
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    widths: list[str],
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Multi-resolution rollup: one row set per width in ``widths``
    (ascending, each width an integer multiple of the previous so the
    epoch-aligned grids nest), tagged with a ``bucket_width`` column.

    Level 0 scans the raw table; level i>0 re-aggregates level i-1 —
    the continuous-aggregate pattern: the expensive scan is paid once.
    Lazy lineage alone does not deliver that: each level's plan would
    re-execute the finer level (three raw scans for three widths), so
    each level is persisted before the next is derived — the in-memory
    analog of the production shape, which WRITES each level to its own
    table and derives the next from the stored one (see `io/tables.py`).
    """
    base = bucket_agg(df, ts_col, widths[0], keys, value_col).persist()
    out = base.withColumn("bucket_width", F.lit(widths[0]))
    prev = base
    for width in widths[1:]:
        lvl = prev.groupBy(
            time_bucket("bucket", width).alias("bucket"), *keys
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        ).persist()
        out = out.unionByName(lvl.withColumn("bucket_width", F.lit(width)))
        prev = lvl
    return out


def gap_fill(
    df: DataFrame,
    bucket_col: str,
    step: str,
    keys: list[str],
    max_grid_per_row: int = 65_536,
) -> DataFrame:
    """Left-join ``df`` onto each key's full uniform bucket grid
    (min..max bucket, ``step`` apart — e.g. ``"15 minutes"``). Missing
    buckets appear with NULL measures and ``is_gap = 1``.

    Grid-size guard: a single ``sequence(mn, mx, step)`` materializes the
    whole span as ONE array in ONE task — a key spanning years at
    second resolution would blow that task's memory. The grid is instead
    generated in two levels: an outer sequence of chunk starts (span /
    ``max_grid_per_row`` elements), exploded, then an inner sequence of
    at most ``max_grid_per_row`` buckets per chunk row — no task ever
    holds more than ``max_grid_per_row`` grid cells in one array, and
    chunks of a hot key can land on different tasks after the shuffle."""
    step_i = F.expr(f"INTERVAL {step}")
    chunk_i = step_i * max_grid_per_row
    spans = df.groupBy(*keys).agg(
        F.min(bucket_col).alias("_mn"), F.max(bucket_col).alias("_mx")
    )
    chunked = spans.select(
        *keys,
        F.col("_mx"),
        F.explode(F.sequence("_mn", "_mx", chunk_i)).alias("_cs"),
    )
    grid = chunked.select(
        *keys,
        F.explode(
            F.sequence(
                "_cs",
                F.least(F.col("_cs") + chunk_i - step_i, F.col("_mx")),
                step_i,
            )
        ).alias(bucket_col),
    )
    joined = grid.join(df, on=[*keys, bucket_col], how="left")
    measure = [c for c in df.columns if c not in {*keys, bucket_col}][0]
    return joined.withColumn(
        "is_gap", F.when(F.col(measure).isNull(), F.lit(1)).otherwise(F.lit(0))
    )


def ewma(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially-weighted moving average (pandas
    ``ewm(adjust=False)`` semantics): y_1 = x_1, y_i = (1-α)·y_{i-1} +
    α·x_i, ordered by ``order_col`` within each key.

    Execution shape: EWMA is a linear recurrence, which no window frame
    expresses incrementally — but per key it IS one sequential fold, so
    the series is collected per key (collect_list + array_sort, ONE
    shuffle on the key) and folded JVM-side with the ``aggregate``
    higher-order function carrying (prev, out-array) state, then
    re-exploded. No Python, no O(n²) frame re-evaluation. The per-key
    series must fit in one task (same contract as any
    partitionBy(key) window over the full history — bucket upstream if
    a key's history is unbounded).
    """
    packed = (
        df.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("x")))
            ).alias("_series")
        )
    )
    folded = F.aggregate(
        F.col("_series"),
        F.struct(
            F.lit(None).cast("double").alias("prev"),
            F.array().cast("array<double>").alias("ys"),
        ),
        lambda acc, s: F.struct(
            F.when(
                acc["prev"].isNull(), s["x"].cast("double")
            ).otherwise(
                F.lit(1.0 - alpha) * acc["prev"] + F.lit(alpha) * s["x"]
            ).alias("prev"),
            F.concat(
                acc["ys"],
                F.array(
                    F.when(acc["prev"].isNull(), s["x"].cast("double")).otherwise(
                        F.lit(1.0 - alpha) * acc["prev"] + F.lit(alpha) * s["x"]
                    )
                ),
            ).alias("ys"),
        ),
        lambda acc: acc["ys"],
    )
    return (
        packed.withColumn("_ys", folded)
        .select(
            *keys,
            F.arrays_zip(F.col("_series"), F.col("_ys")).alias("_z"),
        )
        # explode_outer + generated-attr filter: the non-outer form makes
        # InferFiltersFromGenerate duplicate the ENTIRE zipped EWMA fold
        # into an inferred `size(_z) > 0` Filter (plan_audit
        # hof_filter_recompute) — every key's recurrence ran twice.
        # Groups are never empty, so outer emits the same rows; the
        # isNotNull filter (un-pushable below the Generate) pins equality.
        .select(*keys, F.explode_outer("_z").alias("_e"))
        .filter(F.col("_e").isNotNull())
        .select(
            *keys,
            F.col("_e._series.o").alias(order_col),
            F.col("_e._series.x").alias(value_col),
            F.col("_e._ys").alias(out_col),
        )
    )


def locf(df: DataFrame, bucket_col: str, keys: list[str], col: str) -> DataFrame:
    """Last observation carried forward: latest non-null ``col`` at or
    before each row, per key, ordered by bucket."""
    w = (
        W.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(f"locf_{col}", F.last(col, ignorenulls=True).over(w))


def interpolate_linear(
    df: DataFrame, bucket_col: str, keys: list[str], col: str
) -> DataFrame:
    """Linear interpolation of NULL ``col`` between its nearest non-null
    neighbors on a UNIFORM grid (gap_fill output): weights are row-index
    offsets, not timestamp deltas, so no TZ/DST arithmetic exists.
    Rows before the first / after the last observation stay NULL.

    Execution shape: the "next anchor" is found with a DESCENDING-order
    ``(unboundedPreceding, -1)`` frame instead of the obvious ascending
    ``(1, unboundedFollowing)`` one — growing frames are evaluated
    incrementally (O(n) per partition) while Spark recomputes a
    following-unbounded frame from scratch at every row (O(n²): measured
    7x on this op's own benchmark query). Both anchors are materialized
    ONCE as struct columns; deriving .i/.v through the window expression
    would make Catalyst evaluate the window function per field."""
    order_asc = W.partitionBy(*keys).orderBy(bucket_col)
    order_desc = W.partitionBy(*keys).orderBy(F.col(bucket_col).desc())
    idx = F.row_number().over(order_asc)
    anchor = F.when(F.col(col).isNotNull(), F.struct(idx.alias("i"), F.col(col).alias("v")))
    with_pn = (
        df.withColumn("_i", idx)
        .withColumn("_a", anchor)
        .withColumn(
            "_prev",
            F.last("_a", ignorenulls=True).over(
                order_asc.rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "_nxt",
            F.last("_a", ignorenulls=True).over(
                order_desc.rowsBetween(W.unboundedPreceding, -1)
            ),
        )
    )
    prev, nxt = F.col("_prev"), F.col("_nxt")
    frac = (F.col("_i") - prev["i"]) / (nxt["i"] - prev["i"])
    interp = F.when(F.col(col).isNotNull(), F.col(col)).otherwise(
        prev["v"] + (nxt["v"] - prev["v"]) * frac
    )
    return with_pn.withColumn(f"interp_{col}", interp).drop("_i", "_a", "_prev", "_nxt")


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average per key (TimescaleDB ``time_weight('LOCF')``
    semantics): each observation holds its value until the next one, so
    the average weights each value by how long it was current —
    ``sum(v·dt) / sum(dt)`` over consecutive-pair intervals. The final
    observation has no successor and carries no weight (standard LOCF
    endpoint convention). Keys with a single observation yield NULL
    (zero total weight) — auditable, not silently the raw value.

    Durations come from ``fns.epoch_micros`` of the next/current
    timestamps: microsecond-exact and session-TZ-independent for both
    timestamp flavors (see its docstring). One window (lead) + one
    aggregation, both shuffling on the key — the per-key series never
    materializes anywhere, so a 100 TB event table TWAPs in two
    exchanges.
    """
    from ..fns import epoch_micros

    field = next(
        (f for f in df.schema.fields if f.name.lower() == ts_col.lower()), None
    )
    ntz = field is None or field.dataType.simpleString() != "timestamp"
    w = W.partitionBy(*keys).orderBy(ts_col)
    # materialize the lead ONCE: epoch_micros decomposes NTZ into six
    # field extractions, which would otherwise each re-state the window
    dt = (
        epoch_micros(F.col("_nxt"), ntz) - epoch_micros(F.col(ts_col), ntz)
    ).cast("double")
    return (
        df.withColumn("_nxt", F.lead(ts_col).over(w))
        .withColumn("_dt", dt)
        .groupBy(*keys)
        .agg(
            F.sum(F.col(value_col) * F.col("_dt")).alias("_wsum"),
            F.sum("_dt").alias("_wtot"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            *keys,
            "n_obs",
            F.try_divide(F.col("_wsum"), F.col("_wtot")).alias("twap"),
        )
    )


def counter_deltas(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    counter_col: str,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Monotonic-counter delta aggregation with reset handling
    (TimescaleDB ``counter_agg`` / PromQL ``increase`` semantics): a
    counter sample smaller than its predecessor means the source
    restarted from zero, so the true increase across the reset is the
    new reading itself, not the negative difference. Per key:
    total increase, number of resets, observation count.

    One lag window + one aggregation on the key. Resets are detected
    per consecutive pair, so out-of-order ingestion must be resolved
    upstream (the ``order_tiebreak`` columns make the ordering total
    when timestamps collide).
    """
    order_cols = [ts_col, *(order_tiebreak or [])]
    w = W.partitionBy(*keys).orderBy(*order_cols)
    prev = F.lag(counter_col).over(w)
    delta = F.when(prev.isNull(), F.lit(None)).when(
        F.col(counter_col) >= prev, F.col(counter_col) - prev
    ).otherwise(F.col(counter_col))
    is_reset = (prev.isNotNull() & (F.col(counter_col) < prev)).cast("long")
    return (
        df.withColumn("_delta", delta)
        .withColumn("_reset", is_reset)
        .groupBy(*keys)
        .agg(
            F.sum("_delta").alias("total_increase"),
            F.sum("_reset").alias("n_resets"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
