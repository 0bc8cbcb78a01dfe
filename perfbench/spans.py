"""Spans, self time, job attribution and event-log parsing for traced runs.

Spans are recorded from outside the package: :func:`patch` wraps the public
functions of each layer (and rebinds every module that imported them with
``from ... import``), and the runner opens spans around builders and
actions. Spans live in memory and are summarised once at the end.

Times are epoch seconds from ``time.time()``; Spark's event log stamps jobs
and stages in epoch milliseconds from the same clock, which is what lets a
job fired on a thread outside the caller's job group (micro-batch threads,
thread pools in the calling process) still be attributed to the span that was open
when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

# layer -> (module, function) pairs wrapped in traced runs
LAYER_FUNCTIONS = {
    "sources": [
        ("notion_timetracking_etl_spark.sources.tpch", "load_table"),
        ("notion_timetracking_etl_spark.sources.jsonl", "read_jsonl"),
    ],
    "operators.cc": [
        ("notion_timetracking_etl_spark.operators.cluster", "connected_components"),
    ],
    "operators.kmeans": [
        ("notion_timetracking_etl_spark.operators.kmeans", "kmeans_fit"),
    ],
    "plans": [
        ("notion_timetracking_etl_spark.plans.derive", "run_derive"),
    ],
    "sinks": [
        ("notion_timetracking_etl_spark.sinks.jsonl", "write_jsonl"),
        ("notion_timetracking_etl_spark.sinks.parquet", "write_partitioned_lake"),
        ("notion_timetracking_etl_spark.sinks.pbi.refresh", "execute_wipe_and_reload"),
    ],
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``op`` is the closed-loop operation (one
    query execution or one publish) the span belongs to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.current_op: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str, **attrs) -> Span:
        stack = self._stack()
        with self._lock:
            s = Span(next(self._ids), name, layer, time.time(), None,
                     stack[-1] if stack else None, self.current_op, attrs)
            self.spans.append(s)
        stack.append(s.id)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] == s.id:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    def add(self, name: str, layer: str, start: float, end: float,
            op: int | None = None) -> Span:
        """A span observed after the fact (Catalyst phases, micro-batches);
        its parent is found by interval in :func:`resolve_parents`."""
        with self._lock:
            s = Span(next(self._ids), name, layer, start, end, None, op)
            self.spans.append(s)
        return s

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if layer == "operators.cc" and kwargs.get("stats") is None:
                # inject the operator's own round counter when the caller
                # passes none
                kwargs["stats"] = {}
            s = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(s)
                if "stats" in kwargs:
                    s.attrs["rounds"] = kwargs["stats"].get("rounds", 0)

        return traced


def patch(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every layer function and rebind it in each loaded module of the
    package that holds a reference to it. Returns the undo list."""
    undo = []
    for layer, targets in LAYER_FUNCTIONS.items():
        for mod_name, fn_name in targets:
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = tracer.wrap(original, fn_name, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(
                    "notion_timetracking_etl_spark"
                ):
                    continue
                if getattr(mod, fn_name, None) is original:
                    setattr(mod, fn_name, wrapped)
                    undo.append((mod, fn_name, original))
    return undo


def unpatch(undo) -> None:
    for mod, name, original in reversed(undo):
        setattr(mod, name, original)


# ---------------------------------------------------------------- arithmetic


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _contains(outer: Span, t0: float, t1: float) -> bool:
    return outer.start <= t0 and t1 <= outer.end


def resolve_parents(spans: list[Span]) -> None:
    """Give every span without a parent the innermost span that contains
    its interval (same op when both carry one). Fills ``op`` from it."""
    closed = [s for s in spans if s.end is not None]
    for s in closed:
        if s.parent is not None:
            continue
        best = None
        for c in closed:
            if c is s or not _contains(c, s.start, s.end):
                continue
            if s.op is not None and c.op is not None and c.op != s.op:
                continue
            if (c.start, c.end) == (s.start, s.end) and c.id > s.id:
                continue  # identical intervals: the earlier span is outer
            if best is None or (c.end - c.start) <= (best.end - best.start):
                best = c
        if best is not None:
            s.parent = best.id
            if s.op is None:
                s.op = best.op
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.op is None and s.parent is not None:
            p = by_id[s.parent]
            while p.op is None and p.parent is not None:
                p = by_id[p.parent]
            s.op = p.op


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(s.start, s.end, children.get(s.id, ()))
        for s in spans
        if s.end is not None
    }


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stage_ids: tuple[int, ...] = ()


def attribute_jobs(jobs: list[Job], spans: list[Span], group_ops: dict[str, int]):
    """Job id -> the innermost span open when it was submitted.

    A job whose group names an op is confined to that op's spans; a job with
    no group (fired from another thread) is matched on time alone. Jobs
    submitted outside every span map to ``None``."""
    closed = [s for s in spans if s.end is not None]
    out: dict[int, int | None] = {}
    for j in jobs:
        op = group_ops.get(j.group) if j.group else None
        best = None
        for s in closed:
            if not (s.start <= j.submit <= s.end):
                continue
            if op is not None and s.op != op:
                continue
            if best is None or (s.end - s.start) < (best.end - best.start):
                best = s
        out[j.id] = best.id if best else None
    return out


# ----------------------------------------------------------------- event log

_STAGE_SUMS = {
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "data sent to Python workers": ("python_mb", 1e-6),
    "data returned from Python workers": ("python_mb", 1e-6),
}


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, dict]  # stage id -> summed metrics + "tasks"/"failed_tasks"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = Job(
                    jid, props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0,
                    tuple(ev.get("Stage IDs", ())),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], {})
                st["tasks"] = st.get("tasks", 0) + 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    st["failed_tasks"] = st.get("failed_tasks", 0) + 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {})
                st["completed"] = True
                for acc in info.get("Accumulables", ()):
                    key = _STAGE_SUMS.get(acc.get("Name"))
                    if key:
                        name, scale = key
                        st[name] = st.get(name, 0.0) + _num(acc.get("Value")) * scale
    return EventLog(jobs, stages)
