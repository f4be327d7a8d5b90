"""Span recorder and Spark event-log attribution for the traced run.

A span is (id, layer, name, start, end, parent, run id). Spans are opened
by the benchmark around its calls into a layer of the package and kept in
memory; ``Tracer.dump`` writes them out when the run ends. Every Spark
job started inside a span is tagged with ``SparkContext.setJobGroup(span
id)``; the event log carries the group as ``spark.jobGroup.id`` on each
``SparkListenerJobStart``, which attributes jobs, stages and task metrics
back to spans. Jobs a streaming query starts carry the query's run id as
their group instead, so the span that started the query registers that
id as an alias. Jobs with an unknown group fall back to the innermost
span open at the job's submission time.

With tracing off, ``span`` is a no-op.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# The package's modules: the layers a span can name.
LAYERS = ("session", "schema", "streaming", "pipelines", "io", "queries", "ops", "llmdata")


@dataclass
class Span:
    id: str
    layer: str
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.aliases: dict[str, str] = {}
        self._stack: list[str] = []
        self._n = 0
        self.spark = None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        if layer not in LAYERS and layer != "bench":
            raise ValueError(f"unknown layer {layer!r}")
        self._n += 1
        sid = f"{self.run_id}-{self._n}"
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sid, f"{layer}:{name}")
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._stack.pop()
            # the span may have replaced the session (session spans do)
            sc = self.spark.sparkContext if self.spark is not None else None
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(sid, layer, name, start, end, parent, self.run_id))

    def alias(self, group_id: str) -> None:
        """Attribute jobs tagged ``group_id`` (a streaming query's run id)
        to the innermost open span."""
        if self.enabled and self._stack:
            self.aliases[str(group_id)] = self._stack[-1]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "aliases": self.aliases}, fh)


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events under ``log_dir``: a plain JSON-lines file per
    application, or a rolling ``eventlog_v2_*`` directory of them."""
    events = []
    for base, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            with open(os.path.join(base, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class Stage:
    id: int
    job: int | None
    submitted: float
    completed: float
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    output_bytes: int = 0


def parse_stages(events: list[dict]) -> tuple[dict[int, Stage], dict[int, str | None], dict[int, float]]:
    """Stages with their task totals, plus each job's group and
    submission time (epoch seconds)."""
    job_group: dict[int, str | None] = {}
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, Stage] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_time[jid] = ev.get("Submission Time", 0) / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            jid = stage_job.get(sid)
            stages[sid] = Stage(
                sid,
                jid,
                info.get("Submission Time", 0) / 1000.0,
                info.get("Completion Time", 0) / 1000.0,
            )
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        st = stages.get(ev.get("Stage ID"))
        if st is None:
            continue
        st.tasks += 1
        if (ev.get("Task Info") or {}).get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            st.failed_tasks += 1
        m = ev.get("Task Metrics") or {}
        st.gc_s += m.get("JVM GC Time", 0) / 1000.0
        st.spill_bytes += m.get("Disk Bytes Spilled", 0)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return stages, job_group, job_time


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPARK_COUNTERS = ("tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "failed_tasks")


def layer_table(tracer: Tracer, events: list[dict], wall: tuple[float, float]) -> dict:
    """Per-layer self time, span time and Spark counters.

    ``wall`` is the (start, end) of the traced region; the result also
    gives the share of it that no layer span covers, and the Spark
    counters of stages that wrote output files (the ``io`` layer: the
    package's writers run inside other layers' calls)."""
    spans = [s for s in tracer.spans if wall[0] <= s.start and s.end <= wall[1] + 1e-3]
    by_id = {s.id: s for s in spans}
    stages, job_group, job_time = parse_stages(events)
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, dict] = {
        layer: {"span_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, **{c: 0 for c in SPARK_COUNTERS}}
        for layer in LAYERS
    }
    for s in spans:
        if s.layer not in out:
            continue
        dur = s.end - s.start
        kids = _covered([(k.start, k.end) for k in children.get(s.id, [])])
        out[s.layer]["span_s"] += dur
        out[s.layer]["self_s"] += dur - kids
    # attribute each job, then each stage, to a span
    job_span: dict[int, Span | None] = {}
    for jid, group in job_group.items():
        sid = tracer.aliases.get(group, group)
        span = by_id.get(sid) if sid else None
        if span is None:
            span = _innermost(spans, job_time[jid])
        job_span[jid] = span
        if span is not None and span.layer in out:
            out[span.layer]["jobs"] += 1
    write = {"write_s": 0.0, "output_bytes": 0, **{c: 0 for c in SPARK_COUNTERS}}
    for st in stages.values():
        span = job_span.get(st.job) if st.job is not None else _innermost(spans, st.submitted)
        if span is not None and span.layer in out:
            row = out[span.layer]
            row["stages"] += 1
            for c in SPARK_COUNTERS:
                row[c] += getattr(st, c)
        if st.output_bytes > 0:
            write["write_s"] += st.completed - st.submitted
            write["output_bytes"] += st.output_bytes
            for c in SPARK_COUNTERS:
                write[c] += getattr(st, c)
    top = [(s.start, s.end) for s in spans if s.layer in out]
    length = max(wall[1] - wall[0], 1e-9)
    return {
        "layers": out,
        "io_write": write,
        "uncovered_share": max(0.0, 1.0 - _covered(top) / length),
    }
