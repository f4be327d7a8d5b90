"""The three workloads, each a closed loop with one client: the next
operation starts only when the previous one has finished.

A workload exposes ``prepare()``, which loads its inputs, ``run_op(k)``,
which runs operation ``k`` and returns ``(latency_s, items, error)``, and
``check()`` for output checks that need operations of their own, which
returns the operations it ran and the errors it found. ``error`` is None
when the operation's output passed its check; the check runs outside the
latency returned.

No workload gets a warm-up: each run measures one job in a fresh session
(a month of ETL, one pass over the query list, one corpus preparation),
the way such a job runs, so the JIT compilation, plan code generation and
Python worker start-up it pays are part of its time.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict

import checks
import gen
from mix import QUERIES
from pyspark.sql import functions as F

from agent_data_pipeline_spark.fns import release_persists
from agent_data_pipeline_spark.io.sinks import write_parquet
from agent_data_pipeline_spark.io.sources import read_parquet
from agent_data_pipeline_spark.llmdata import dedup, hygiene, similarity, textstats
from agent_data_pipeline_spark.pipelines.taxi import run_taxi_pipeline
from agent_data_pipeline_spark.queries import REGISTRY
from agent_data_pipeline_spark.schema import ensure_table
from agent_data_pipeline_spark.streaming import drain, stream_ingest_csv

# Analytics queries collected and compared with their oracle per run: the
# whole list is covered every few seeds, and a full check pass would cost
# more than the measured loop.
CHECKS_PER_RUN = 4


class Workload:
    name = ""
    #: operations a measured loop runs as one unit (a pass for the mix)
    granule = 1
    #: seconds one measured unit takes on a 4-core host
    unit_s = 1.0
    #: per-layer counts that the traced run reports beside the Spark ones
    counts: defaultdict

    def __init__(self, ctx):
        self.ctx = ctx
        self.counts = defaultdict(float)

    def prepare(self) -> None:
        """Load the inputs."""
        raise NotImplementedError

    def run_op(self, k: int) -> tuple[float, int, str | None]:
        raise NotImplementedError

    def finish(self) -> None:
        """Release what the measured loop left cached in the session."""

    def check(self) -> tuple[int, list[str]]:
        """Output checks that need operations of their own, run after the
        measured loop; returns the operations run and the errors found."""
        return 0, []


class EtlTaxiMonth(Workload):
    """Schema inference + evolution, CSV queue drain, clean/derive/write,
    summary: the reference's own pipeline over one reduced taxi month."""

    name = "etl_taxi_month"
    unit_s = 16.0

    def prepare(self):
        self.inp = gen.make(self.name, self.ctx.inputs, self.ctx.seed, self.ctx.scale)
        self.oracle = checks.load_oracles(self.inp["dir"])["summary"]

    def run_op(self, k):
        spark, tr = self.ctx.spark, self.ctx.tracer
        base = os.path.join(self.ctx.scratch, f"etl-{k + 1}")
        raw_dir, cleaned = os.path.join(base, "raw"), os.path.join(base, "cleaned")
        table = f"taxi_trips_raw_{k + 1}"
        start = time.perf_counter()
        for batch in ("v1", "v2"):
            src = os.path.join(self.inp["dir"], batch)
            first = sorted(glob.glob(os.path.join(src, "*.csv")))[0]
            with tr.span("schema", f"ensure_table {batch}"):
                plan = ensure_table(spark, first, table, zone="raw", location=raw_dir)
            self.counts["schema.ddl_statements"] += len(plan.statements)
            schema = spark.table(plan.qualified).schema
            with tr.span("streaming", f"ingest {batch}"):
                query = stream_ingest_csv(spark, src, raw_dir, os.path.join(base, f"ckpt-{batch}"), schema)
                tr.alias(query.runId)
                drain(query)
            progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
            self.counts["streaming.batches"] += len(progress)
            self.counts["streaming.input_rows"] += sum(p["numInputRows"] for p in progress)
        spark.catalog.refreshTable(plan.qualified)
        with tr.span("pipelines", "run_taxi_pipeline"):
            summary = run_taxi_pipeline(spark, spark.table(plan.qualified), cleaned)
        latency = time.perf_counter() - start
        err = checks.taxi_matches(summary, self.oracle)
        for d in (raw_dir, cleaned):
            files, size = checks.dir_stats(d)
            self.counts["io.files_written"] += files
            self.counts["io.bytes_written"] += size
        self.counts["io.input_bytes"] += self.inp["input_bytes"]
        spark.sql(f"DROP TABLE IF EXISTS {plan.qualified}")
        shutil.rmtree(base, ignore_errors=True)
        return latency, self.inp["rows"], err


class AnalyticsMix(Workload):
    """The frozen registry query mix, each query to the noop sink, in the
    list's order. In a fresh session the first queries pay the JVM's
    first-use costs; a seeded order moved those costs between queries and
    so moved the latency percentiles from seed to seed."""

    name = "analytics_mix"
    granule = len(QUERIES)
    unit_s = 18.0

    def prepare(self):
        self.dir = gen.make(self.name, self.ctx.inputs, self.ctx.seed, self.ctx.scale)["dir"]

    def run_op(self, k):
        name = list(QUERIES)[k % len(QUERIES)]
        layer = QUERIES[name]
        spark, tr = self.ctx.spark, self.ctx.tracer
        start = time.perf_counter()
        with tr.span(layer, f"{name} plan"):
            df = REGISTRY[name].spark(spark, self.dir)
        with tr.span(layer, f"{name} exec"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start, 1, None

    def finish(self):
        release_persists()

    def check(self):
        """Collect ``CHECKS_PER_RUN`` queries, picked in rotation by the
        seed so that consecutive seeds cover the whole list, and compare
        each with its DuckDB oracle answer."""
        oracles = checks.load_oracles(self.dir)
        names = list(QUERIES)
        picked = [names[(self.ctx.seed * CHECKS_PER_RUN + i) % len(names)] for i in range(CHECKS_PER_RUN)]
        errors = []
        for name in picked:
            try:
                got = REGISTRY[name].spark(self.ctx.spark, self.dir).toPandas()
                err = checks.query_matches(name, got, oracles.get(name))
            except Exception as exc:  # a query that raises is a failed op
                err = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
            if err:
                errors.append(err)
        release_persists()
        return len(picked), errors


class LlmCorpusPrep(Workload):
    """Stage-wise corpus preparation, Parquet between stages: exact dedup,
    MinHash-LSH, connected components, hygiene, text stats, shard write;
    then IVF top-k over the embeddings."""

    name = "llm_corpus_prep"
    unit_s = 27.0

    def prepare(self):
        self.inp = gen.make(self.name, self.ctx.inputs, self.ctx.seed, self.ctx.scale)

    def run_op(self, k):
        spark, tr = self.ctx.spark, self.ctx.tracer
        src = self.inp["dir"]
        base = os.path.join(self.ctx.scratch, f"corpus-{k + 1}")
        out = {s: os.path.join(base, s) for s in ("exact", "pairs", "unique", "clean", "shards")}
        start = time.perf_counter()
        with tr.span("llmdata", "exact_dedup"):
            docs = read_parquet(spark, f"{src}/docs.parquet")
            reps = dedup.exact_dedup(docs).select("doc_id")
            write_parquet(docs.join(reps, "doc_id", "left_semi"), out["exact"])
        with tr.span("llmdata", "minhash_lsh_pairs"):
            write_parquet(dedup.minhash_lsh_pairs(read_parquet(spark, out["exact"])), out["pairs"])
        with tr.span("llmdata", "connected_components"):
            labels = dedup.connected_components(read_parquet(spark, out["pairs"]))
            losers = labels.filter(F.col("node") != F.col("comp")).select(
                F.col("comp").alias("id_a"), F.col("node").alias("id_b")
            )
            write_parquet(dedup.keep_representatives(read_parquet(spark, out["exact"]), losers), out["unique"])
        with tr.span("llmdata", "hygiene"):
            grams = hygiene.eval_ngram_set(read_parquet(spark, f"{src}/eval.parquet"), n=8)
            flagged = hygiene.flag_contaminated(read_parquet(spark, out["unique"]), grams, n=8)
            write_parquet(hygiene.scrub_pii(hygiene.with_repetition_stats(flagged)), out["clean"])
        with tr.span("llmdata", "with_text_stats"):
            sharded = hygiene.shard_assign(textstats.with_text_stats(read_parquet(spark, out["clean"])))
            write_parquet(sharded, out["shards"], partition_by=["shard"])
        with tr.span("llmdata", "ivf_topk"):
            ann = similarity.ivf_topk(
                read_parquet(spark, f"{src}/embeddings.parquet"),
                read_parquet(spark, f"{src}/queries.parquet"),
                k=10,
                n_cells=16,
                n_probe=4,
            )
            ann_rows = [tuple(r) for r in ann.select("query_id", "neighbor_id", "sim_rank").collect()]
        latency = time.perf_counter() - start
        res = checks.corpus_results(base, self.inp["truth"], ann_rows)
        for key in ("pairs_out", "neardup_recall", "pair_precision", "ann_recall_at_10"):
            self.counts[f"llmdata.{key}"] += res[key]
        self.counts["llmdata.iterations"] += 1
        for d in out.values():
            files, size = checks.dir_stats(d)
            self.counts["io.files_written"] += files
            self.counts["io.bytes_written"] += size
        self.counts["io.input_bytes"] += self.inp["input_bytes"]
        shutil.rmtree(base, ignore_errors=True)
        return latency, self.inp["truth"]["n_docs"], checks.corpus_matches(res, self.inp["truth"])


WORKLOADS = {w.name: w for w in (EtlTaxiMonth, AnalyticsMix, LlmCorpusPrep)}
