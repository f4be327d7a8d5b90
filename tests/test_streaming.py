"""Streaming tests (SURVEY.md §5.4): every streaming op must equal its
batch counterpart after the source is fully drained, plus watermark
late-data-drop and foreachBatch sink semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agent_data_pipeline_spark.queries.core import read_events
from agent_data_pipeline_spark.streaming import (
    drain,
    foreach_batch_parquet_sink,
    session_window_agg,
    sliding_window_agg,
    stream_dedup,
    stream_parquet,
    stream_to_memory,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events fixture rewritten as plain-microsecond parquet in a dir —
    the stream source (the raw fixture is TIMESTAMP(NANOS), and a stream
    needs a directory it can watch)."""
    d = tmp_path_factory.mktemp("events_stream_src")
    read_events(spark, f"{SF}/events.parquet").coalesce(4).write.mode(
        "overwrite"
    ).parquet(str(d / "data"))
    return str(d / "data")


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _drain_to_table(spark, stream_df, name, output_mode="complete"):
    q = stream_to_memory(stream_df, name, output_mode=output_mode)
    progress = drain(q)
    assert isinstance(progress, dict)
    return spark.table(name)


def test_tumbling_equivalence(spark, events_batch, events_dir):
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    ]
    batch = tumbling_window_agg(events_batch, "ts", "1 hour", aggs)
    stream = tumbling_window_agg(
        stream_parquet(spark, events_dir, events_batch.schema),
        "ts",
        "1 hour",
        aggs,
        watermark="1 minute",
    )
    got = _drain_to_table(spark, stream, "t_tumbling")
    assert _rows(got) == _rows(batch)


def test_sliding_equivalence_keyed(spark, events_batch, events_dir):
    aggs = [F.count(F.lit(1)).alias("n")]
    batch = sliding_window_agg(
        events_batch, "ts", "2 hours", "1 hour", aggs, keys=["event_type"]
    )
    stream = sliding_window_agg(
        stream_parquet(spark, events_dir, events_batch.schema),
        "ts",
        "2 hours",
        "1 hour",
        aggs,
        keys=["event_type"],
        watermark="1 minute",
    )
    got = _drain_to_table(spark, stream, "t_sliding")
    assert _rows(got) == _rows(batch)


def test_session_equivalence(spark, events_batch, events_dir):
    aggs = [F.count(F.lit(1)).alias("n")]
    batch = session_window_agg(
        events_batch, "ts", "30 minutes", ["user_id"], aggs
    )
    stream = session_window_agg(
        stream_parquet(spark, events_dir, events_batch.schema),
        "ts",
        "30 minutes",
        ["user_id"],
        aggs,
        watermark="1 minute",
    )
    got = _drain_to_table(spark, stream, "t_session")
    assert _rows(got) == _rows(batch)


def test_stream_dedup_equivalence(spark, events_batch, events_dir):
    batch = events_batch.dropDuplicates(["user_id", "event_type"]).groupBy().count()
    stream = stream_dedup(
        stream_parquet(spark, events_dir, events_batch.schema),
        ["user_id", "event_type"],
        ts_col="ts",
        watermark="10 minutes",
    )
    q = stream_to_memory(stream, "t_dedup", output_mode="append")
    drain(q)
    # watermarked dedup keeps ts in state only within the watermark, but a
    # fully-drained replay of distinct keys must match global batch dedup
    # on the *key count* (which rows win differs by arrival order).
    assert spark.table("t_dedup").select(
        "user_id", "event_type"
    ).distinct().count() == batch.first()["count"]


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Two micro-batches stepped deterministically: batch 1 advances the
    watermark to ~12:00; batch 2's 00:30 event is > 10 min late and must
    be dropped from the append-mode window output."""
    src = tmp_path / "late_src"
    ckpt = tmp_path / "late_ckpt"
    src.mkdir()
    schema = "ts timestamp, v bigint"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    write_file("a", [(t(0, 10), 1), (t(12, 0), 2)])

    stream = tumbling_window_agg(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
            str(src)
        ),
        "ts",
        "1 hour",
        [F.sum("v").alias("s")],
        watermark="10 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    q.processAllAvailable()  # watermark now ~ 11:50
    write_file("b", [(t(0, 30), 100), (t(13, 0), 3)])  # 00:30 is late
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    rows = {r["window_start"].hour: r["s"] for r in spark.table("t_late").collect()}
    # the 00:00 window finalized with only the on-time event; 100 dropped
    assert rows.get(0) == 1
    assert 100 not in rows.values()


def test_foreach_batch_parquet_sink(spark, events_batch, events_dir, tmp_path):
    out = tmp_path / "sink_out"
    ckpt = tmp_path / "sink_ckpt"
    stream = stream_parquet(spark, events_dir, events_batch.schema).filter(
        F.col("event_type") == "click"
    )
    q = foreach_batch_parquet_sink(
        stream, str(out), str(ckpt), partition_by=["event_type"]
    )
    drain(q)
    written = spark.read.parquet(str(out))
    want = events_batch.filter(F.col("event_type") == "click")
    assert written.count() == want.count()
    assert set(written.columns) == set(want.columns)


def test_stream_ingest_csv_incremental(spark, tmp_path):
    """S2 streaming ingest: files dropped into the watched dir land in
    the parquet target; a second drop is picked up incrementally (the
    checkpoint remembers processed files)."""
    from agent_data_pipeline_spark.streaming import stream_ingest_csv

    watch = tmp_path / "incoming"
    target = tmp_path / "landed"
    ckpt = tmp_path / "ingest_ckpt"
    watch.mkdir()
    (watch / "batch1.csv").write_text("id,v\n1,a\n2,b\n")

    q = stream_ingest_csv(
        spark, str(watch), str(target), str(ckpt), "id long, v string"
    )
    q.processAllAvailable()
    assert spark.read.parquet(str(target)).count() == 2

    (watch / "batch2.csv").write_text("id,v\n3,c\n")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    landed = spark.read.parquet(str(target))
    assert sorted(r["id"] for r in landed.collect()) == [1, 2, 3]


# The table an evolved ingest would hold: Extra_Fee was appended last.
_TRIPS_DDL = "trip_id long, fare double, tip double, Extra_Fee double"


def _stream_landed(spark, tmp_path, first_csv, *later_csvs):
    from agent_data_pipeline_spark.streaming import stream_ingest_csv

    watch, target = tmp_path / "incoming", tmp_path / "landed"
    watch.mkdir()
    (watch / "f0.csv").write_text(first_csv)
    q = stream_ingest_csv(spark, str(watch), str(target), str(tmp_path / "ckpt"), _TRIPS_DDL)
    try:
        q.processAllAvailable()
        for i, text in enumerate(later_csvs, 1):
            (watch / f"f{i}.csv").write_text(text)
            q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(60)
    landed = spark.read.parquet(str(target))
    assert landed.columns == ["trip_id", "fare", "tip", "Extra_Fee"]
    return {r["trip_id"]: tuple(r) for r in landed.collect()}


def test_stream_ingest_csv_binds_reordered_header_by_name(spark, tmp_path):
    """Header ``tip,Extra Fee,trip_id,fare`` landed as trip_id=NULL,
    fare=0.5 when the schema bound by position."""
    got = _stream_landed(spark, tmp_path, "tip,Extra Fee,trip_id,fare\n0.5,30.0,7,12.0\n")
    assert got == {7: (7, 12.0, 0.5, 30.0)}


def test_stream_ingest_csv_binds_middle_insert_by_name(spark, tmp_path):
    """A file with a column inserted mid-header (the table has it last)
    lands by name; the table column it lacks is NULL."""
    got = _stream_landed(spark, tmp_path, "trip_id,Extra Fee,fare\n7,1.75,12.0\n")
    assert got == {7: (7, 12.0, None, 1.75)}


def test_stream_ingest_csv_refuses_unbindable_headers(spark, tmp_path):
    """Loud, not shifted: a header column the table lacks raises before
    the stream starts, and a later file whose header differs from the
    first file's fails the stream instead of landing shifted columns."""
    from pyspark.errors import StreamingQueryException

    from agent_data_pipeline_spark.streaming import stream_ingest_csv

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "f0.csv").write_text("trip_id,surprise\n1,2\n")
    with pytest.raises(ValueError, match="surprise"):
        stream_ingest_csv(spark, str(bad), str(tmp_path / "o"), str(tmp_path / "c"), _TRIPS_DDL)

    with pytest.raises(StreamingQueryException, match="(?i)header"):
        _stream_landed(
            spark, tmp_path, "trip_id,fare,tip\n1,10.0,2.0\n", "fare,trip_id,tip\n30.0,3,0.5\n"
        )


def test_stateful_running_agg_accumulates(spark, events_batch, tmp_path):
    """applyInPandasWithState running per-key agg: replay the source one
    file per micro-batch; state must accumulate ACROSS batches (keys seen
    in several files get several monotone updates) and the latest row per
    key must equal the global batch aggregate."""
    from agent_data_pipeline_spark.streaming import stateful_running_agg

    src = str(tmp_path / "stateful_src")
    # repartition (not coalesce): force 4 real files -> 4 micro-batches
    events_batch.repartition(4).write.mode("overwrite").parquet(src)
    stream = stateful_running_agg(
        stream_parquet(spark, src, events_batch.schema,
                       max_files_per_trigger=1),
        ["user_id"],
        "value",
    )
    q = stream_to_memory(stream, "t_stateful", output_mode="update")
    drain(q)
    upd = spark.table("t_stateful")
    # 4 source files -> 4 micro-batches; active keys span files, so the
    # update log must contain MORE rows than keys (state persisted and
    # re-emitted) ...
    assert upd.count() > upd.select("user_id").distinct().count()
    # ... and n_events must be strictly monotone per key (cumulative, not
    # per-batch): max row per key is the final state.
    final = (
        upd.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value", "min_value", "max_value")).alias("s"))
        .select("user_id", "s.*")
    )
    batch = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    r = 6  # pandas incremental sum vs JVM sum: equal to float noise
    canon = lambda df: df.select(
        "user_id", "n_events",
        F.round("sum_value", r).alias("s"),
        F.round("min_value", r).alias("mn"),
        F.round("max_value", r).alias("mx"),
    )
    assert _rows(canon(final)) == _rows(canon(batch))


def test_running_agg_tws_gated_in_this_env(spark, events_batch):
    """transformWithStateInPandas needs google.protobuf (absent here);
    the TWS variant must fail fast at the import gate with a pointer to
    the supported operator, not crash the streaming driver worker."""
    from agent_data_pipeline_spark.streaming.stateful import running_agg_tws

    with pytest.raises(NotImplementedError, match="stateful_running_agg"):
        running_agg_tws(events_batch, ["user_id"], "value")


def test_read_events_stream_directory_layout(spark, tmp_path):
    """_read_events_stream claims to handle BOTH fixture layouts: a
    single events.parquet FILE (driver fixtures — streamed via
    pathGlobFilter on the parent dir) and a DIRECTORY of part files
    (standard Spark table layout — streamed directly; the glob would
    silently match nothing). Only the file layout is exercised by the
    oracle queries; this covers the directory branch end-to-end."""
    from agent_data_pipeline_spark.queries.core import read_events
    from agent_data_pipeline_spark.queries.temporal import _read_events_stream

    sf_dir = tmp_path / "sfdir"
    sf_dir.mkdir()
    batch = read_events(spark, f"{SF}/events.parquet")
    batch.coalesce(2).write.parquet(str(sf_dir / "events.parquet"))

    stream = _read_events_stream(spark, str(sf_dir))
    agged = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    got = _drain_to_table(spark, agged, "t_dir_layout")
    want = {
        (r["event_type"], r["n"])
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {(r["event_type"], r["n"]) for r in got.collect()} == want


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restart durability: a NEW query restarted from the same
    checkpoint must not re-land files already committed (exactly-once at
    the sink), must pick up files dropped while the stream was down, and
    a restart with nothing new must write nothing. This is the recovery
    contract a 100 TB continuous ingest leans on — the driver can die
    mid-stream and the ledger stays correct."""
    from agent_data_pipeline_spark.streaming import stream_ingest_csv

    watch = tmp_path / "incoming"
    target = tmp_path / "landed"
    ckpt = tmp_path / "ckpt"
    watch.mkdir()
    (watch / "a.csv").write_text("id,v\n1,a\n2,b\n")

    q1 = stream_ingest_csv(
        spark, str(watch), str(target), str(ckpt), "id long, v string"
    )
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination(60)
    assert sorted(r["id"] for r in spark.read.parquet(str(target)).collect()) == [1, 2]

    # downtime: a file arrives while no query is running
    (watch / "b.csv").write_text("id,v\n3,c\n")
    q2 = stream_ingest_csv(
        spark, str(watch), str(target), str(ckpt), "id long, v string"
    )
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)
    assert sorted(r["id"] for r in spark.read.parquet(str(target)).collect()) == [1, 2, 3]

    # idle restart: nothing new -> nothing duplicated
    q3 = stream_ingest_csv(
        spark, str(watch), str(target), str(ckpt), "id long, v string"
    )
    q3.processAllAvailable()
    q3.stop()
    q3.awaitTermination(60)
    assert sorted(r["id"] for r in spark.read.parquet(str(target)).collect()) == [1, 2, 3]


def test_stream_cdc_dimension_maintenance(spark, tmp_path):
    """A dimension maintained from a CDC stream: each micro-batch
    applies its I/U/D ops through ops.merge.apply_cdc inside
    foreachBatch. With per-batch-disjoint keys the final state must
    equal the batch apply of all changes, whatever the file-arrival
    order."""
    from agent_data_pipeline_spark.ops.merge import apply_cdc

    chg_dir = tmp_path / "changes"
    chg_dir.mkdir()
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    spark.createDataFrame(
        [(1, "a2", "U"), (4, "d", "I")], "k long, v string, op string"
    ).coalesce(1).write.mode("append").parquet(str(chg_dir))
    spark.createDataFrame(
        [(2, None, "D")], "k long, v string, op string"
    ).coalesce(1).write.mode("append").parquet(str(chg_dir))

    state = {"df": base}

    def apply(batch_df, _bid):
        rows = batch_df.collect()
        if not rows:
            return
        chg = spark.createDataFrame(rows, batch_df.schema)
        state["df"] = apply_cdc(state["df"], chg, keys=["k"])

    stream = (
        spark.readStream.schema("k long, v string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chg_dir))
    )
    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.k: r.v for r in state["df"].collect()}
    assert got == {1: "a2", 3: "c", 4: "d"}


@pytest.mark.parametrize("workers", [1, 8])
def test_stream_queries_leave_no_views_or_queries(spark, sf_smoke, workers):
    """Every ``stream_*`` registry query drains into a sink and returns
    a frame that stays readable, without leaving the sink's temp view
    in the session catalog, a query running, cached blocks held by the
    returned frame, or a conf change — also when several threads drain
    at once (their narrow-width starts must not restore each other's
    width)."""
    from concurrent.futures import ThreadPoolExecutor

    from agent_data_pipeline_spark.queries import REGISTRY

    names = [n for n in REGISTRY if n.startswith("stream_")]
    assert len(names) == 11
    jsc = spark.sparkContext._jsc
    before = sorted(tbl.name for tbl in spark.catalog.listTables())
    rdds_before = set(jsc.getPersistentRDDs().keys())
    conf_before = spark.conf.getAll

    def drain_one(name):
        frame = REGISTRY[name].spark(spark, sf_smoke)
        assert frame.collect(), name
        return frame

    with ThreadPoolExecutor(max_workers=workers) as pool:
        frames = list(pool.map(drain_one, names))  # held, so no block is cleaned up early
    assert len(frames) == len(names)
    assert sorted(tbl.name for tbl in spark.catalog.listTables()) == before
    assert spark.streams.active == []
    assert set(jsc.getPersistentRDDs().keys()) - rdds_before == set()
    assert spark.conf.getAll == conf_before


def test_foreachbatch_totals_leaves_no_temp_dir(spark, sf_smoke):
    import glob
    import os
    import tempfile

    from agent_data_pipeline_spark.queries import REGISTRY

    pattern = os.path.join(tempfile.gettempdir(), "spark_fbatch_*")
    before = set(glob.glob(pattern))
    rows = REGISTRY["stream_foreachbatch_totals"].spark(spark, sf_smoke).collect()
    assert sum(r.n_events for r in rows) == read_events(spark, f"{SF}/events.parquet").count()
    assert set(glob.glob(pattern)) == before
