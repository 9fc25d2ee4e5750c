"""Spans, Spark job groups and an event-log parser for the traced run.

A span is (id, layer, start, end, parent, run id). Spans live in memory
and are written out once at the end. Each span sets a Spark job group,
so jobs started on the span's thread carry the span id in the event
log; a job started elsewhere (a streaming query's own thread) falls to
the innermost span whose interval holds its submission time.

Per layer the parser reports self time (span time minus child spans),
driver time (self time that no Spark job covers: plan building, Py4J,
Python work on the driver), and the jobs, tasks, CPU, GC, shuffle-write
and spill of the jobs attributed to it.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

LAYERS = [
    "session", "sources", "bronze", "fuzzy", "match", "durations", "gold",
    "index", "ingest", "serving",
]
LAYER_COUNTERS = [
    "s", "driver_s", "jobs", "tasks", "cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes",
]
_PYTHON_EVAL_SCOPES = ("ArrowEvalPython", "BatchEvalPython")


@dataclass
class Span:
    id: str
    layer: str
    start: float
    parent: str | None
    run_id: str
    end: float | None = None


@dataclass
class Tracer:
    """Collects spans for one traced run. Pass ``spark`` to tag jobs."""

    run_id: str
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _main: int = field(default_factory=threading.get_ident)
    kept: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def span(self, layer: str):
        on_main = threading.get_ident() == self._main
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"{self.run_id}.{next(self._ids)}", layer, time.time(), parent, self.run_id)
        self.spans.append(s)
        if on_main:
            self._stack.append(s)
            self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            if on_main:
                self._stack.pop()
                self._set_group(self._stack[-1].id if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def dump(self) -> list[dict]:
        return [s.__dict__.copy() for s in self.spans]

    def materialize(self, df):
        """Run ``df`` now, inside the current span, so the lazy plan's
        cost lands in the layer that owns it."""
        return df.localCheckpoint(eager=True)

    def materializing(self, fn, layer: str | None = None, key: str | None = None):
        """``fn`` with its DataFrame output materialized (inside a span
        of ``layer`` when given) and kept under ``key`` for counting."""

        def wrapper(*args, **kwargs):
            with self.span(layer) if layer else contextlib.nullcontext():
                out = self.materialize(fn(*args, **kwargs))
            if key:
                self.kept.setdefault(key, []).append(out)
            return out

        return wrapper


class NullTracer:
    """Tracing off: spans cost nothing, record nothing, change no plan."""

    @contextlib.contextmanager
    def span(self, layer: str):
        yield None

    def materialize(self, df):
        return df

    def materializing(self, fn, layer=None, key=None):
        return fn


@contextlib.contextmanager
def patched(module, name: str, fn):
    """Temporarily replace ``module.name`` (a public function the
    program calls through its module) with ``fn``."""
    orig = getattr(module, name)
    setattr(module, name, fn)
    try:
        yield orig
    finally:
        setattr(module, name, orig)


# -- event log ----------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class Stage:
    id: int
    start: float = 0.0
    end: float = 0.0
    python_eval: bool = False
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages (with summed task metrics) of every application
    log under ``log_dir``. Needs ``spark.eventLog.compress=false``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = defaultdict(lambda: Stage(-1))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages[info["Stage ID"]]
                    st.id = info["Stage ID"]
                    st.start = info.get("Submission Time", 0) / 1000.0
                    st.end = info.get("Completion Time", 0) / 1000.0
                    scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                    st.python_eval = any(p in scopes for p in _PYTHON_EVAL_SCOPES)
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
    return jobs, dict(stages)


def _subtract(intervals: list[tuple[float, float]], cuts: list[tuple[float, float]]):
    """``intervals`` minus the union of ``cuts``."""
    out = intervals
    for c0, c1 in cuts:
        nxt = []
        for a, b in out:
            if c1 <= a or c0 >= b:
                nxt.append((a, b))
                continue
            if a < c0:
                nxt.append((a, c0))
            if c1 < b:
                nxt.append((c1, b))
        out = nxt
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def attribute(spans: list[dict], jobs: dict[int, Job]) -> dict[int, dict]:
    """Job id -> the span that owns it: its job group when that names a
    span, else the innermost span holding its submission time."""
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    owner = {}
    for j in jobs.values():
        if j.group in by_id:
            owner[j.id] = by_id[j.group]
            continue
        holders = [s for s in spans if s["start"] <= j.start <= s["end"]]
        if holders:
            owner[j.id] = max(holders, key=lambda s: depth[s["id"]])
    return owner


def layer_metrics(spans: list[dict], jobs: dict[int, Job], stages: dict[int, Stage]):
    """Per-layer counters plus the scoring-stage figures of ``fuzzy``
    and the scan-to-return inputs of ``serving``."""
    out = {layer: dict.fromkeys(LAYER_COUNTERS, 0.0) for layer in LAYERS}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    job_iv = [(j.start, j.end) for j in jobs.values()]
    for s in spans:
        if s["layer"] not in out:
            continue
        self_iv = _subtract([(s["start"], s["end"])], children[s["id"]])
        out[s["layer"]]["s"] += _length(self_iv)
        out[s["layer"]]["driver_s"] += _length(_subtract(self_iv, job_iv))
    extra = {"score_tasks": 0, "score_run_s": 0.0, "score_wall_s": 0.0,
             "serving_records_read": 0}
    seen_stages: set[int] = set()
    for job_id, s in attribute(spans, jobs).items():
        layer = s["layer"]
        if layer not in out:
            continue
        out[layer]["jobs"] += 1
        for sid in jobs[job_id].stages:
            st = stages.get(sid)
            if st is None or sid in seen_stages:
                continue  # skipped stage, or one shared with an earlier job
            seen_stages.add(sid)
            o = out[layer]
            o["tasks"] += st.tasks
            o["cpu_s"] += st.cpu_s
            o["gc_s"] += st.gc_s
            o["shuffle_write_bytes"] += st.shuffle_write_bytes
            o["spill_bytes"] += st.spill_bytes
            if layer == "fuzzy" and st.python_eval:
                extra["score_tasks"] += st.tasks
                extra["score_run_s"] += st.run_s
                extra["score_wall_s"] += max(st.end - st.start, 0.0)
            if layer == "serving":
                extra["serving_records_read"] += st.records_read
    return out, extra
