"""Structured Streaming operators: file source, event-time windows,
watermarked dedup, foreachBatch sinks, O2-style drain.

Reference parity (SURVEY.md §2.A S2/O2): the reference's only streaming
construct is NiFi continuously draining a file queue, with Airflow polling
``flowFilesQueued`` until empty (dags/pipeline_orchestrator.py:59-86).
Here that whole contract is the Structured Streaming file source plus
``drain`` (processAllAvailable). The window/watermark/dedup surface is
the declared north-star extension (§2.B streaming row).

Design rules for scale:
  * every aggregation takes the SAME shape as its batch counterpart
    (groupBy window + agg) — batch-stream equivalence is tested, and the
    incremental state store gives true incrementality the reference's
    TRUNCATE+INSERT full refresh lacks (SURVEY §4 "incrementality").
  * watermarks bound state: an unbounded streaming agg on a 100 TB/day
    firehose is a driver OOM without one, so every window helper takes
    ``watermark`` and applies it before grouping.
  * sinks go through foreachBatch so one micro-batch write reuses the
    whole batch sink surface (parquet partitioning, JDBC fan-out).
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import TimestampNTZType

from ..io.sources import parquet_schema
from ..schema import bind_csv_columns


def stream_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (S2 analog): new parquet files appearing under
    ``path`` become micro-batches. ``max_files_per_trigger=1`` gives
    deterministic one-file-per-batch replay — how the equivalence tests
    step watermarks forward.

    ``path`` is a directory or a single file. The file source watches
    directories only, so a file streams its parent directory with
    ``pathGlobFilter`` set to its name (the filter matches leaf file
    names, so it cannot select a directory's part files). Without
    ``schema`` the stream takes the batch read's schema
    (``io.sources.parquet_schema``, a footer read on the driver)."""
    if schema is None:
        schema = parquet_schema(spark, path)
    reader = spark.readStream if schema is None else spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).isFile(jpath):
        reader = reader.option("pathGlobFilter", jpath.getName())
        path = jpath.getParent().toString()
    return reader.parquet(path)


def _watermark_ready(
    df: DataFrame, ts_col: str, watermark: str | None
) -> tuple[DataFrame, bool]:
    """``withWatermark`` requires a TIMESTAMP event-time column
    ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]), but parquet TIMESTAMP(NANOS)
    fixtures surface as TIMESTAMP_NTZ in this Spark build. Cast NTZ ->
    session-TZ TIMESTAMP just for the watermarked plan and report it, so
    callers can cast emitted event-time bounds back to NTZ — keeping
    stream output types/values identical to the never-cast batch plan.
    (Session TZ is pinned UTC in session.py, so the cast is wall-clock
    preserving; column lookup is case-insensitive like Spark's resolver.)
    """
    if not watermark:
        return df, False
    field = next(
        (f for f in df.schema.fields if f.name.lower() == ts_col.lower()), None
    )
    if field is not None and isinstance(field.dataType, TimestampNTZType):
        return df.withColumn(field.name, F.col(field.name).cast("timestamp")), True
    return df, False


def _flatten_window(agged: DataFrame, prefix: str, restore_ntz: bool = False) -> DataFrame:
    """Unnest the struct the window groupBy produced into
    ``{prefix}_start``/``{prefix}_end`` + the remaining flat columns.
    ``restore_ntz`` casts the bounds back to TIMESTAMP_NTZ when the input
    event-time column was NTZ before ``_watermark_ready``'s cast."""
    rest = [c for c in agged.columns if c != "w"]
    start, end = F.col("w.start"), F.col("w.end")
    if restore_ntz:
        start, end = start.cast("timestamp_ntz"), end.cast("timestamp_ntz")
    return agged.select(
        start.alias(f"{prefix}_start"),
        end.alias(f"{prefix}_end"),
        *rest,
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    aggs: list,
    keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregate; identical call works on a
    batch DataFrame (no watermark) and a stream (watermark bounds state +
    drops late rows)."""
    df, ntz = _watermark_ready(df, ts_col, watermark)
    grouped = (df.withWatermark(ts_col, watermark) if watermark else df).groupBy(
        F.window(ts_col, duration).alias("w"), *(keys or [])
    )
    return _flatten_window(grouped.agg(*aggs), "window", restore_ntz=ntz)


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    aggs: list,
    keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time windows — each row lands in
    duration/slide windows."""
    df, ntz = _watermark_ready(df, ts_col, watermark)
    grouped = (df.withWatermark(ts_col, watermark) if watermark else df).groupBy(
        F.window(ts_col, duration, slide).alias("w"), *(keys or [])
    )
    return _flatten_window(grouped.agg(*aggs), "window", restore_ntz=ntz)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based): consecutive events of a key closer
    than ``gap`` merge into one session. Streaming requires a watermark
    (sessions can only close once the watermark passes the gap)."""
    df, ntz = _watermark_ready(df, ts_col, watermark)
    grouped = (df.withWatermark(ts_col, watermark) if watermark else df).groupBy(
        F.session_window(ts_col, gap).alias("w"), *keys
    )
    return _flatten_window(grouped.agg(*aggs), "session", restore_ntz=ntz)


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming deduplication. With a watermark the state for a key is
    dropped once the watermark passes it (bounded state — the only viable
    shape at firehose scale); without one, global exact dedup with
    unbounded state (batch parity)."""
    if watermark and ts_col:
        df, ntz = _watermark_ready(df, ts_col, watermark)
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
        if ntz:  # restore the input's event-time type for batch parity
            out = out.withColumn(ts_col, F.col(ts_col).cast("timestamp_ntz"))
        return out
    return df.dropDuplicates(keys)


# Serializes the shuffle-width set/start/restore of ``stream_to_memory``:
# two interleaved starts would otherwise restore each other's narrow width.
_WIDTH_LOCK = threading.Lock()


def stream_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Memory sink — the test/debug harness. NOT a scale path (results
    collect on the driver); production goes through foreachBatch.

    Stream shuffle/state width: a stateful micro-batch pays per-state-
    store file I/O (snapshot read + delta write + commit) PER PARTITION
    PER BATCH, so the state partition count should track STATE VOLUME,
    not core count — the finite-replay fixtures carry <= ~4k state rows,
    where 32 stores measured 1.58 s/drain vs 0.75 s at 4 (the batch agg
    itself is ~0.2 s). Width = max(4, cores/8). Safe to set-and-restore
    around ``start()``: Structured Streaming clones the session (and its
    conf) at query start — verified: restoring before the first batch
    still runs the stream at the width set here.

    The set/restore mutates the SESSION-global
    ``spark.sql.shuffle.partitions`` for the duration of ``start()``;
    starts are serialized by a lock so concurrent drains always restore
    the caller's width, but a batch query planned concurrently on the
    same session in that window picks up the narrow stream width (a
    performance nuance, never a correctness one — results are
    width-independent).
    """
    spark = df.sparkSession
    width = max(4, spark.sparkContext.defaultParallelism // 8)
    with _WIDTH_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            return (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def foreach_batch_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    output_mode: str = "append",
    batch_hook: Callable[[DataFrame, int], None] | None = None,
) -> StreamingQuery:
    """foreachBatch sink: each micro-batch is written with the full batch
    parquet writer (partitioning, overwrite semantics), the pattern that
    also carries JDBC and multi-sink fan-out. Checkpointing makes the
    stream exactly-once at the sink for idempotent writers."""

    def _write(batch: DataFrame, epoch_id: int) -> None:
        writer = batch.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        if batch_hook is not None:
            batch_hook(batch, epoch_id)

    return (
        df.writeStream.foreachBatch(_write)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_ingest_csv(
    spark: SparkSession,
    input_dir: str,
    target_path: str,
    checkpoint: str,
    schema: T.StructType | str,
    header: bool = True,
    partition_by: list[str] | None = None,
) -> StreamingQuery:
    """S2 as a stream: the reference's NiFi box — CSV files appearing in
    a watched directory, continuously landed into the warehouse
    (docker-compose.yml:66, pipeline_orchestrator.py:59-86) — as a
    Structured Streaming file source feeding a foreachBatch parquet sink.
    New files become micro-batches; the checkpoint makes ingest resume
    exactly where it stopped (the reference's queue-drain semantics plus
    restart durability it never had). Drain with ``drain(query)`` for the
    batch-style 'queue empty' completion contract.

    With ``header`` the columns bind to ``schema`` by name
    (``bind_csv_columns``): the landed rows carry ``schema``'s names in
    its order, a header column unknown to ``schema`` raises here, and a
    file whose header differs from the first file's fails the stream."""
    reader = spark.readStream.option("header", str(header).lower())
    if header:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        read_schema, columns = bind_csv_columns(spark, input_dir, schema)
        stream = (
            reader.option("enforceSchema", "false")
            .schema(read_schema)
            .csv(input_dir)
            .select(*columns)
        )
    else:
        stream = reader.schema(schema).csv(input_dir)
    return foreach_batch_parquet_sink(
        stream, target_path, checkpoint, partition_by=partition_by
    )


def drain(query: StreamingQuery, timeout: float = 600.0) -> dict:
    """O2 analog (dags/pipeline_orchestrator.py:59-86): the reference
    polls NiFi's queue depth until empty with backoff and a 600 s cap.
    Structured Streaming exposes exactly that contract natively:
    ``processAllAvailable`` blocks until the source is drained; progress
    counters replace the queue-depth poll. Returns the last progress."""
    query.processAllAvailable()
    progress = query.lastProgress or {}
    query.stop()
    query.awaitTermination(timeout)
    return progress


def drain_to_frame(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Runs the stream ``df`` into a memory sink until its source is
    drained (``drain``) and returns what the sink holds. The sink's
    temp view is dropped before returning: the frame keeps its own
    reference to the sink's rows, so the session catalog is left as it
    was."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    query = stream_to_memory(df, name, output_mode=output_mode)
    try:
        drain(query)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
