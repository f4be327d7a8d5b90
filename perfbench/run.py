#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see README.md and
BENCHMARK.json): ``etl_taxi_month``, ``analytics_mix``,
``llm_corpus_prep``. Inputs are generated from ``--seed`` in a child
process and cached under ``perfbench/.work/inputs``. The session runs on
``local[N]`` with N = the CPUs this process may use.

With ``--trace 0`` the workload runs the operations that take about
``--seconds`` on a 4-core host, and the last stdout line is a JSON object
whose metrics are the end-to-end ones. With ``--trace 1`` it runs half that
work, then restarts the session and runs it again untraced, then restarts
with spans and the Spark event log on and runs it a third time; the
metrics are the per-layer ones. Lines before
the last are a readable report; a detail file per run goes to
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Session starts per run; setup_s is their median. The first includes the
# JVM launch, the rest start a new SparkContext in the same JVM, so the
# median is such a restart; the cold start is in the report and the detail
# file only (three cold starts would cost a run about 20 s more).
SETUP_REPEATS = 3
# The session's maximum heap. The package default (24g) is more than the
# memory of the 4-core, 16 GB host the benchmark is sized for; the heap
# still starts small and grows as the collector decides, up to this cap.
DRIVER_MEM = "1g"
# A run that has not finished by then stops without printing a result.
DEADLINE_S = 170


def _env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    session to this process's CPUs."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under the system /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    sys.path.insert(0, ROOT)


def _percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def units_for(wl, seconds: float) -> int:
    """Whole units of work (passes over the query list for the mix) that
    take about ``seconds`` on a 4-core host; at least one. A run measures a
    fixed amount of work, so the number of samples does not depend on how
    fast the host happens to be."""
    return max(1, round(seconds / wl.unit_s))


def measure(wl, units: int) -> dict:
    """Closed loop: run ``units`` whole units of ``wl.granule`` operations."""
    lat, items, errors = [], 0, []
    for k in range(units * wl.granule):
        try:
            dt, n, err = wl.run_op(k)
        except Exception as exc:  # an operation that raises is a failed op
            traceback.print_exc()
            dt, n, err = None, 0, f"op {k}: {type(exc).__name__}: {str(exc)[:300]}"
        if err:
            errors.append(err)
        else:
            lat.append(dt)
            items += n
    if not lat:
        raise RuntimeError(f"no operation passed: {errors[:3]}")
    return {"ops": units * wl.granule, "lat": lat, "items": items, "errors": errors}


class Ctx:
    def __init__(self, args, run_dir):
        from spans import Tracer

        self.seed, self.scale = args.seed, args.scale
        self.inputs = os.path.join(WORK, "inputs")
        self.scratch = os.path.join(run_dir, "scratch")
        self.tracer = Tracer(os.path.basename(run_dir), enabled=False)
        self.spark = None
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start_session(self, extra: dict | None = None) -> float:
        """Start (or restart) the session plus a first trivial job; returns
        the seconds it took."""
        from agent_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        start = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf={**self.conf, **(extra or {})})
        self.spark.range(1).count()
        took = time.perf_counter() - start
        # the CSV header check warns on every sanitized column name
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        return took


def _stop_jvm(ctx: Ctx) -> None:
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _host() -> dict:
    from agent_data_pipeline_spark.hostinfo import cpu_probe, host_load

    return {"load": host_load(), "cpu": cpu_probe()}


def end_to_end(setup: list[float], m: dict, peak_memory: int) -> dict:
    lat = m["lat"]
    return {
        "setup_s": (statistics.median(setup), "s"),
        "items_per_s": (m["items"] / sum(lat), "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (peak_memory / 2**20, "MB"),
    }


_COUNTER_UNITS = {"tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B", "gc_s": "s", "failed_tasks": "count"}


def per_layer(wl, table: dict, spans: list, units: int, session_s: float, overhead: float) -> dict:
    """The per-layer metrics; times and counts are per operation (ETL and
    corpus iterations) or per pass over the query list (analytics)."""
    from spans import LAYERS, SPARK_COUNTERS

    layers, io = table["layers"], table["io_write"]
    c, u = wl.counts, units

    def span_sum(layer, pred=lambda name: True):
        return sum(s.end - s.start for s in spans if s.layer == layer and pred(s.name)) / u

    def named(layer, name):
        return span_sum(layer, lambda n: n == name)

    iters = max(c["llmdata.iterations"], 1)
    out = {
        "session.start_s": (session_s, "s"),
        "schema.ensure_table_s": (span_sum("schema"), "s"),
        "schema.ddl_statements": (c["schema.ddl_statements"] / u, "count"),
        "streaming.ingest_s": (span_sum("streaming", lambda n: n.startswith("ingest")), "s"),
        "streaming.batches": (c["streaming.batches"] / u, "count"),
        "streaming.input_rows": (c["streaming.input_rows"] / u, "count"),
        "streaming.replay_s": (span_sum("streaming", lambda n: not n.startswith("ingest")), "s"),
        "pipelines.transform_s": (span_sum("pipelines") - table["summary_s"] / u, "s"),
        "pipelines.summary_s": (table["summary_s"] / u, "s"),
        "io.write_s": (io["write_s"] / u, "s"),
        "io.files_written": (c["io.files_written"] / u, "count"),
        "io.bytes_written_per_input_byte": (c["io.bytes_written"] / max(c["io.input_bytes"], 1), "ratio"),
        "queries.plan_s": (span_sum("queries", lambda n: n.endswith(" plan")), "s"),
        "queries.exec_s": (span_sum("queries", lambda n: n.endswith(" exec")), "s"),
        "queries.jobs": (layers["queries"]["jobs"] / u, "count"),
        "queries.stages": (layers["queries"]["stages"] / u, "count"),
        "ops.exec_s": (span_sum("ops", lambda n: n.endswith(" exec")), "s"),
        "llmdata.exact_dedup_s": (named("llmdata", "exact_dedup"), "s"),
        "llmdata.minhash_lsh_s": (named("llmdata", "minhash_lsh_pairs"), "s"),
        "llmdata.components_s": (named("llmdata", "connected_components"), "s"),
        "llmdata.hygiene_s": (named("llmdata", "hygiene"), "s"),
        "llmdata.textstats_s": (named("llmdata", "with_text_stats"), "s"),
        "llmdata.ivf_topk_s": (named("llmdata", "ivf_topk"), "s"),
        "llmdata.neardup_pairs_out": (c["llmdata.pairs_out"] / iters, "count"),
        "llmdata.pair_precision": (c["llmdata.pair_precision"] / iters, "fraction"),
        "llmdata.neardup_recall": (c["llmdata.neardup_recall"] / iters, "fraction"),
        "llmdata.ann_recall_at_10": (c["llmdata.ann_recall_at_10"] / iters, "fraction"),
        "trace.overhead_s": (overhead, "s"),
        "trace.uncovered_share": (table["uncovered_share"], "fraction"),
    }
    for layer in LAYERS:
        row = io if layer == "io" else layers[layer]
        if layer != "io":
            out[f"{layer}.self_s"] = (row["self_s"] / u, "s")
        for counter in SPARK_COUNTERS:
            out[f"{layer}.{counter}"] = (row[counter] / u, _COUNTER_UNITS[counter])
    return out


def _summary_seconds(events: list[dict], spans: list) -> float:
    """Wall time of the jobs that ``pipelines.taxi.taxi_summary`` starts,
    found by the Python call site Spark records for each job."""
    import inspect

    from agent_data_pipeline_spark.pipelines import taxi

    lines, first = inspect.getsourcelines(taxi.taxi_summary)
    where = (os.path.basename(taxi.__file__), range(first, first + len(lines)))
    pipeline_ids = {s.id for s in spans if s.layer == "pipelines"}
    starts, total = {}, 0.0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            site = props.get("callSite.short", "")
            if props.get("spark.jobGroup.id") in pipeline_ids and f"{where[0]}:" in site:
                line = int(site.rsplit(":", 1)[1])
                if line in where[1]:
                    starts[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            total += (ev["Completion Time"] - starts[ev["Job ID"]]) / 1000.0
    return total


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use small ones)")
    args = ap.parse_args()

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    _env(run_dir)
    try:
        import procs
        import spans
        from workloads import WORKLOADS
    except ImportError as exc:  # the package under test is missing
        print(f"cannot import the benchmark or the package: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    phases = {}
    t = time.perf_counter()
    host_before = _host()
    phases["host_probe_s"] = time.perf_counter() - t
    # inputs and their expected outputs are made in a child process while
    # the JVM starts (the cold start, which setup_s does not report); the
    # session restarts that setup_s reports wait for it to end
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), args.workload, os.path.join(WORK, "inputs"), str(args.seed), str(args.scale)]
    )
    ctx = Ctx(args, run_dir)
    try:
        setup = [ctx.start_session()]
        t = time.perf_counter()
        if gen.wait() != 0:
            raise RuntimeError("input generation failed")
        phases["input_wait_s"] = time.perf_counter() - t
        setup += [ctx.start_session() for _ in range(SETUP_REPEATS - 1)]
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if not args.trace:
            memory = procs.PeakMemory().start()
            m = measure(wl, units_for(wl, args.seconds))
            metrics = end_to_end(setup, m, memory.stop())
            checked, errors = wl.check()
            wl.finish()
        else:
            # the untraced reference and the traced operations both run right
            # after a session restart in a JVM that has run them once, so
            # their difference is the tracing overhead
            units = units_for(wl, args.seconds / 2)
            first = measure(wl, units)
            checked, errors = wl.check()
            wl.finish()
            ctx.start_session()
            base = measure(wl, units)
            wl.finish()
            wl.counts.clear()
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir)
            ctx.tracer.enabled = True
            wall_start = time.time()
            with ctx.tracer.span("session", "get_spark"):
                session_s = ctx.start_session(
                    {
                        "spark.eventLog.enabled": "true",
                        "spark.eventLog.dir": log_dir,
                        "spark.eventLog.compress": "false",
                    }
                )
            m = measure(wl, units)
            wall_end = time.time()
            wl.finish()
            ctx.spark.stop()  # flushes the event log
            events = spans.read_event_log(log_dir)
            table = spans.layer_table(ctx.tracer, events, (wall_start, wall_end))
            table["summary_s"] = _summary_seconds(events, ctx.tracer.spans)
            overhead = sum(m["lat"]) - sum(base["lat"])
            metrics = per_layer(wl, table, ctx.tracer.spans, units, session_s, overhead)
            ctx.tracer.dump(os.path.join(WORK, "results", os.path.basename(run_dir) + ".spans.json"))
            m["errors"] = first["errors"] + base["errors"] + m["errors"]
            m["ops"] += first["ops"] + base["ops"]
        phases["measure_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        _stop_jvm(ctx)
        procs.reap_children()
        phases["stop_s"] = time.perf_counter() - t
    signal.alarm(0)
    host_after = _host()

    errors += m["errors"]
    attempted = checked + m["ops"]
    failed = len(errors)
    for err in errors:
        print(f"FAILED {err}", file=sys.stderr)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "ops": m["ops"],
        "latencies_s": m["lat"],
        "setup_samples_s": setup,
        "phases_s": phases,
        "host_before": host_before,
        "host_after": host_after,
        "errors": errors,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "counts": dict(wl.counts),
    }
    with open(os.path.join(WORK, "results", os.path.basename(run_dir) + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    report(args.workload, args.trace, metrics, m, wl.counts, setup, attempted, failed, host_before, host_after)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
            }
        )
    )
    return 0


# The workload-specific names of the end-to-end metrics.
_NAMES = {
    "etl_taxi_month": {"items_per_s": ("etl_rows_per_s", "rows/s"), "op_p50_s": ("etl_iteration_p50_s", "s")},
    "analytics_mix": {
        "items_per_s": ("queries_per_s", "queries/s"),
        "op_p50_s": ("query_p50_s", "s"),
    },
    "llm_corpus_prep": {"items_per_s": ("corpus_docs_per_s", "docs/s"), "op_p50_s": ("corpus_iteration_p50_s", "s")},
}


def report(workload, trace, metrics, m, counts, setup, attempted, failed, before, after) -> None:
    print(f"workload {workload}  trace {trace}  ops {m['ops']}  latency samples {len(m['lat'])}")
    print(f"  session starts {', '.join(f'{x:.3f}' for x in setup)} s (the first launches the JVM)")
    if not trace:
        for key, (value, unit) in metrics.items():
            name, shown = _NAMES[workload].get(key, (key, unit))
            print(f"  {name:<28} {value:14.6g} {shown}")
        if len(m["lat"]) > 1:
            # too few samples above it for a bounded metric (README.md)
            p90 = _percentile(m["lat"], 0.9)
            above = sum(x > p90 for x in m["lat"])
            name = "query_p90_s" if workload == "analytics_mix" else "op_p90_s"
            print(f"  {name:<28} {p90:14.6g} s ({above} of {len(m['lat'])} samples above it)")
        iters = counts.get("llmdata.iterations")
        for key in ("neardup_recall", "ann_recall_at_10") if iters else ():
            print(f"  {key:<28} {counts['llmdata.' + key] / iters:14.6g} fraction")
    else:
        for key, (value, unit) in metrics.items():
            print(f"  {key:<36} {value:14.6g} {unit}")
    print(f"  {'failed_ratio':<28} {failed / attempted:14.6g} fraction ({failed}/{attempted})")
    for when, h in (("before", before), ("after", after)):
        load = h["load"]
        print(
            f"  host {when}: load1 {load['load1']} busy_procs {load['visible_busy_procs']}"
            f" python_ms {h['cpu']['python_ms']} matmul_ms {h['cpu']['matmul_ms']}"
        )


if __name__ == "__main__":
    sys.exit(main())
