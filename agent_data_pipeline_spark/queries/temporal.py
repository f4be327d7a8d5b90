"""Temporal / streaming-analog queries over the `events` fixture.

Each is the BATCH expression of a streaming operator (SURVEY §2.B
"Streaming" row): the same plans run under readStream via
``streaming/core.py``, and tests/test_streaming.py asserts
batch == streaming output. The DuckDB oracle checks the batch semantics.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..ops.asof import asof_join
from ..ops.sessionize import session_summary
from ..io.sources import read_parquet
from ..streaming import (
    drain,
    drain_to_frame,
    foreach_batch_parquet_sink,
    stateful_running_agg,
    stream_parquet,
)
from .core import QuerySpec, bounded_collect, events_schema, rnd, t, with_nanos_ts


def _tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows.

    Batch formulation uses ``date_trunc`` — wall-clock truncation in the
    session TZ, which matches the oracle's DuckDB ``date_trunc`` under
    ANY session timezone including non-whole-hour offsets (Asia/Kolkata),
    where ``F.window``'s epoch-aligned grid renders half-hour-shifted.
    The streaming variant (`stream_tumbling_hourly`) keeps ``F.window``
    (the streaming-native op, grid identical under whole-hour TZs)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value"), 2).alias("sum_value"))
        .select("window_start", "event_type", "n_events", "sum_value")
    )


_TUMBLING_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
FROM events GROUP BY 1, 2
"""


def _sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes: each event lands in 2
    windows. Oracle reproduces the assignment by unnesting the two
    epoch-aligned window starts per event."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


_SLIDING_WINDOWS_SQL = """
WITH assigned AS (
  SELECT unnest([make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000 AS BIGINT)),
                 make_timestamp(CAST((floor(epoch(ts) / 1800) - 1) * 1800 * 1000000 AS BIGINT))])
           AS window_start,
         value
  FROM events
)
SELECT window_start, count(*) AS n_events, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
FROM assigned GROUP BY window_start
"""


def _session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user — batch analog of
    streaming session_window, via ops.sessionize (lag + cumsum)."""
    e = t(spark, sf_dir, "events")
    return session_summary(e, "user_id", "ts", 1800, "value").select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    )


_SESSION_WINDOWS_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM marked
)
SELECT user_id,
       min(ts)                       AS session_start,
       max(ts) + INTERVAL 30 MINUTE  AS session_end,
       count(*)                      AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100          AS sum_value
FROM numbered GROUP BY user_id, sess_id
"""


def _first_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user, type) — batch analog of streaming
    dropDuplicatesWithinWatermark (deterministic tie-break on event_id)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("ts").alias("first_ts"),
                F.col("event_id").alias("first_event_id"))
    )


_FIRST_EVENT_DEDUP_SQL = """
SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events) x
WHERE rn = 1
"""


def _asof_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click
    at-or-before it (ops/asof.py union+window construction — an operator
    Spark lacks natively; DuckDB oracle uses its native ASOF JOIN)."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
        .select("user_id", F.col("ts").alias("click_ts"), "click_event_id")
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts", "click_event_id"],
    )


_ASOF_PURCHASES_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_event_id
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture (a file or a directory of part
    files, see ``stream_parquet``), with the schema and nanos handling of
    the batch read (``core.events_schema``: the footer read on the
    driver, a TIMESTAMP(NANOS) ``ts`` read as long and rebuilt)."""
    path = f"{sf_dir}/events.parquet"
    schema, ts_is_long = events_schema(spark, path)
    stream = stream_parquet(spark, path, schema)
    return with_nanos_ts(spark, stream) if ts_is_long else stream


def _stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation as `tumbling_hourly`, but executed
    through Structured Streaming end-to-end: file-source readStream ->
    windowed agg -> memory sink drained with processAllAvailable. Shares
    the batch oracle — the driver hash-checks that stream == batch, the
    strongest streaming guarantee we can state (SURVEY §5.4).

    Complete output mode (no watermark): the fixture is a finite replay
    and we want every window in the sink; production unbounded streams
    use the watermarked append path (streaming/core.py + late-data test).
    Memory sink is test-scale by design — the production sink is
    foreachBatch parquet/JDBC.
    """
    stream = _read_events_stream(spark, sf_dir)
    # window on TIMESTAMP_NTZ: the cast renders the instant in the
    # session TZ and keeps the naive wall clock, so F.window's grid
    # aligns to naive hours — matching the oracle's date_trunc under ANY
    # session timezone (incl. half-hour offsets, where an instant-epoch
    # grid would render :30-shifted).
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    agged = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )
    return drain_to_frame(agged, output_mode="complete")


def _stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sliding aggregation as `sliding_windows` (1 h window,
    30 min slide — every event in 2 windows), executed through Structured
    Streaming end-to-end like `stream_tumbling_hourly` (complete mode,
    memory sink, drained). Shares the sliding batch oracle; the NTZ cast
    pins the window grid to the naive wall clock so the epoch-math oracle
    matches under any whole-hour session TZ."""
    stream = _read_events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    agged = (
        stream.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    return drain_to_frame(agged, output_mode="complete")


def _stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 30-min-gap sessionization as `session_windows`, executed
    through Structured Streaming with ``F.session_window`` — Spark's
    native merging-session state operator — drained to a memory sink.
    Complete output mode: session windows reject update mode
    (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION) and append mode would
    hold back every session the finite replay's final watermark never
    passes. Shares the batch oracle, so the driver hash-checks that the
    state-store session merge agrees exactly with the lag+cumsum batch
    sessionization (ops/sessionize)."""
    stream = _read_events_stream(spark, sf_dir)
    agged = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return drain_to_frame(agged, output_mode="complete")


def _stream_foreachbatch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming SINK path, end to end: readStream ->
    per-type totals -> foreachBatch parquet sink (complete mode, each
    micro-batch overwrites with the batch writer — the pattern that also
    carries JDBC/multi-sink fan-out) -> read the sunk files back. The
    oracle checks what landed ON DISK, not a memory sink. The read-back
    (one row per event type) is collected to a local frame, and the
    sink's temporary directory is removed."""
    stream = _read_events_stream(spark, sf_dir)
    agged = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value"), 2).alias("sum_value")
    )
    base = tempfile.mkdtemp(prefix="spark_fbatch_")
    try:
        drain(
            foreach_batch_parquet_sink(
                agged, f"{base}/out", f"{base}/ckpt", mode="overwrite", output_mode="complete"
            )
        )
        # collected before the directory it was read from goes; a local
        # frame holds no cached blocks, where a checkpoint would
        back = read_parquet(spark, f"{base}/out")
        rows = bounded_collect(back, 64, "one row per event type")
        return spark.createDataFrame(rows, back.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_STREAM_FOREACHBATCH_SQL = """
SELECT event_type, count(*) AS n_events,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events GROUP BY event_type
"""


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join — the missing piece of the streaming
    surface: TWO independent readStream sources (clicks, purchases from
    the events fixture), both watermarked, joined on user_id with an
    event-time range bound (click within the 24 h before the purchase).
    Spark buffers both sides in the state store; the time bound plus the
    watermarks lets it evict state for rows that can no longer match —
    without them the state grows unboundedly at 100 TB. Inner joins emit
    matched pairs as they are found, so append mode drains the full
    result on a finite replay; the oracle is the identical batch join.
    """
    # withWatermark requires TIMESTAMP; the fixture surfaces TIMESTAMP_NTZ
    # in this Spark build. Cast for the watermarked join (session TZ is
    # UTC — wall-clock preserving) and restore NTZ on the output columns
    # so values/types match the naive-timestamp batch oracle.
    ts_wm = F.col("ts").cast("timestamp")
    purchases = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            ts_wm.alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            ts_wm.alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user_id = c_user_id AND "
            "click_ts >= purchase_ts - INTERVAL 24 HOURS AND "
            "click_ts <= purchase_ts"
        ),
    ).select(
        "purchase_id",
        F.col("p_user_id").alias("user_id"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    return drain_to_frame(joined, output_mode="append")


_STREAM_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       c.event_id AS click_id, c.ts AS click_ts
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def _stream_docs_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-data ingest: file-source stream of the
    documents table -> stateless quality gate (token floor) ->
    exact-duplicate drop on (source, content fingerprint) via streaming
    dropDuplicates -> append sink; the per-source manifest is aggregated
    from the sink after the drain. The LLM-data hygiene ops composed
    under Structured Streaming — how a continuously-arriving corpus is
    cleaned without batch re-runs.

    Watermark-free dropDuplicates is correct here because the fixture is
    a finite replay (state = one fingerprint per unique doc); unbounded
    production ingest uses dropDuplicatesWithinWatermark — that eviction
    path is exercised by `stream_dedup_watermark`. Every aggregated
    column derives from the deduped text itself, so the result is
    invariant to WHICH copy survived — what makes the batch oracle
    exact."""
    docs = stream_parquet(spark, f"{sf_dir}/documents.parquet")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    survivors = (
        docs.withColumn("n_tokens", n_tok)
        .filter(F.col("n_tokens") >= 20)
        .withColumn("fp", F.md5("text"))
        .dropDuplicates(["source", "fp"])
    )
    return (
        drain_to_frame(survivors, output_mode="append")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )


_STREAM_DOCS_QUALITY_SQL = r"""
WITH gated AS (
  SELECT source, md5(text) AS fp,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 20
), uniq AS (
  SELECT source, fp, min(n_tokens) AS n_tokens FROM gated GROUP BY source, fp
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM uniq GROUP BY source
"""


def _stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running count/sum/min/max kept in the state store, emitted
    incrementally in update mode. After the finite fixture drains, the
    LATEST state per key must equal the batch groupBy aggregate — which
    is exactly the DuckDB oracle, so the driver hash-checks the stateful
    operator end-to-end. The update log is reduced to latest-per-key by
    max(n_events) (the counter is strictly monotone per key)."""
    stream = stateful_running_agg(
        _read_events_stream(spark, sf_dir), ["user_id"], "value"
    )
    upd = drain_to_frame(stream, output_mode="update")
    return (
        upd.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "sum_value", "min_value", "max_value")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            rnd(F.col("s.sum_value"), 2).alias("sum_value"),
            F.col("s.min_value").alias("min_value"),
            F.col("s.max_value").alias("max_value"),
        )
    )


_STREAM_STATEFUL_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY user_id
"""


def _hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution hypertable rollup (15 min -> 1 h -> 6 h): level 0
    scans raw events once, coarser levels re-aggregate the finer level
    (ops/timeseries.py). Oracle computes every level from raw — equal
    because count/sum/min/max compose. NTZ cast: wall-clock grid matches
    DuckDB's epoch math under any session TZ (same pattern as
    `stream_tumbling_hourly`)."""
    from ..ops.timeseries import hypertable_rollup

    e = t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    r = hypertable_rollup(
        e, "ts", ["15 minutes", "1 hour", "6 hours"], ["event_type"], "value"
    )
    return r.select(
        "bucket_width",
        "bucket",
        "event_type",
        "n_events",
        rnd(F.col("sum_value"), 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


_HYPERTABLE_ROLLUP_SQL = """
WITH lvl AS (
  SELECT w AS width_s, CASE w WHEN 900 THEN '15 minutes' WHEN 3600 THEN '1 hour'
                              ELSE '6 hours' END AS bucket_width
  FROM (SELECT unnest([900, 3600, 21600]) AS w)
)
SELECT l.bucket_width,
       make_timestamp(CAST(floor(epoch(e.ts) / l.width_s) * l.width_s * 1000000 AS BIGINT)) AS bucket,
       e.event_type,
       count(*) AS n_events,
       floor(sum(e.value) * 100 + 0.5) / 100 AS sum_value,
       min(e.value) AS min_value,
       max(e.value) AS max_value
FROM events e CROSS JOIN lvl l
GROUP BY 1, 2, 3
"""


def _gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize a per-type 15-minute series: build each key's full
    uniform bucket grid (gap_fill), then fill the holes two ways — LOCF
    and linear interpolation between nearest observations. Interpolation
    weights are row-index offsets (uniform grid => linear-in-index ==
    linear-in-time), so the whole query is TZ-arithmetic-free."""
    from ..ops.timeseries import gap_fill, interpolate_linear, locf, time_bucket

    e = t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    b = e.groupBy(
        time_bucket("ts", "15 minutes").alias("bucket"), "event_type"
    ).agg(rnd(F.avg("value"), 2).alias("avg_value"))
    # gap_fill reads b twice (span bounds + grid join): persist the small
    # aggregate so the raw scan + agg runs once.
    b = b.persist()
    g = locf(gap_fill(b, "bucket", "15 minutes", ["event_type"]),
             "bucket", ["event_type"], "avg_value")
    g = interpolate_linear(g, "bucket", ["event_type"], "avg_value")
    return g.select(
        "event_type",
        "bucket",
        "avg_value",
        "is_gap",
        "locf_avg_value",
        rnd(F.col("interp_avg_value"), 6).alias("interp_avg_value"),
    )


_GAPFILL_INTERPOLATE_SQL = """
WITH b AS (
  SELECT event_type,
         make_timestamp(CAST(floor(epoch(ts) / 900) * 900 * 1000000 AS BIGINT)) AS bucket,
         floor(avg(value) * 100 + 0.5) / 100 AS avg_value
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 15 MINUTE)) AS bucket
  FROM spans
), j AS (
  SELECT g.event_type, g.bucket, b.avg_value,
         CASE WHEN b.avg_value IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM grid g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket
), ji AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS i
  FROM j
), w AS (
  SELECT *,
    last_value(avg_value IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg_value,
    last_value(avg_value IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
    last_value(CASE WHEN avg_value IS NOT NULL THEN i END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_i,
    first_value(avg_value IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN avg_value IS NOT NULL THEN i END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_i
  FROM ji
)
SELECT event_type, bucket, avg_value, is_gap, locf_avg_value,
       floor(CASE WHEN avg_value IS NOT NULL THEN avg_value
                  WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                  THEN prev_v + (next_v - prev_v) * ((i - prev_i) / (next_i - prev_i))
             END * 1000000 + 0.5) / 1000000 AS interp_avg_value
FROM w
"""


QUERIES: dict[str, QuerySpec] = {
    "tumbling_hourly": QuerySpec(_tumbling_hourly, _TUMBLING_HOURLY_SQL, "tumbling windows"),
    "stream_tumbling_hourly": QuerySpec(
        _stream_tumbling_hourly, _TUMBLING_HOURLY_SQL, "tumbling windows via readStream"
    ),
    "stream_stateful_totals": QuerySpec(
        _stream_stateful_totals,
        _STREAM_STATEFUL_TOTALS_SQL,
        "applyInPandasWithState running per-key aggregate",
    ),
    "sliding_windows": QuerySpec(_sliding_windows, _SLIDING_WINDOWS_SQL, "sliding windows"),
    "stream_sliding_windows": QuerySpec(
        _stream_sliding_windows, _SLIDING_WINDOWS_SQL, "readStream sliding windows"
    ),
    "stream_stream_join": QuerySpec(
        _stream_stream_join, _STREAM_STREAM_JOIN_SQL,
        "watermarked stream-stream inner join (clicks x purchases)",
    ),
    "stream_foreachbatch_totals": QuerySpec(
        _stream_foreachbatch_totals, _STREAM_FOREACHBATCH_SQL,
        "foreachBatch parquet sink, read back from disk",
    ),
    "session_windows": QuerySpec(_session_windows, _SESSION_WINDOWS_SQL, "session windows"),
    "stream_session_windows": QuerySpec(
        _stream_session_windows, _SESSION_WINDOWS_SQL, "readStream session windows (state store)"
    ),
    "first_event_dedup": QuerySpec(_first_event_dedup, _FIRST_EVENT_DEDUP_SQL, "keep-first dedup"),
    "asof_purchases": QuerySpec(_asof_purchases, _ASOF_PURCHASES_SQL, "as-of join"),
    "hypertable_rollup": QuerySpec(
        _hypertable_rollup, _HYPERTABLE_ROLLUP_SQL, "multi-resolution time rollup"
    ),
    "gapfill_interpolate": QuerySpec(
        _gapfill_interpolate, _GAPFILL_INTERPOLATE_SQL, "gap-fill + LOCF + linear interp"
    ),
    "stream_docs_quality_dedup": QuerySpec(
        _stream_docs_quality_dedup, _STREAM_DOCS_QUALITY_SQL,
        "streaming ingest: quality gate + exact-dup drop on a document stream",
    ),
}
