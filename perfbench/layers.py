"""Per-layer metrics of a traced run.

Observed from outside the package: spans around builders, actions and the
public layer functions (``spans.py``), Catalyst phase times from the final
plan's ``QueryPlanningTracker``, micro-batch progress from a
``StreamingQueryListener``, storage from ``getRDDStorageInfo`` and job,
stage and task metrics parsed offline from the Spark event log.
"""

from __future__ import annotations

import datetime as _dt
import os
import statistics

import spans as tr

# per-layer metric -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "sources.calls": "count", "sources.s": "s", "sources.jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "operators.cc_calls": "count", "operators.cc_s": "s", "operators.cc_rounds": "count",
    "operators.kmeans_calls": "count", "operators.kmeans_s": "s",
    "plans.derive_s": "s", "plans.derive_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.python_mb": "MB", "exec.result_rows": "count",
    "exec.result_mb": "MB", "exec.cached_rdds": "count", "exec.cached_mb": "MB",
    "streaming.batches": "count", "streaming.empty_batch_frac": "ratio",
    "streaming.batch_p50_ms": "ms", "streaming.batch_tail_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "sinks.s": "s", "sinks.jobs": "count", "sinks.rows": "count", "sinks.mb": "MB",
    "sinks.pbi_posts": "count", "sinks.pbi_quota_wait_s": "s",
    "harness.s": "s", "trace.wall_s": "s", "trace.closure_frac": "ratio",
}

# span layer -> the self-time bucket it reports under
SELF_LAYERS = (
    "queries", "sources", "operators.cc", "operators.kmeans", "plans",
    "catalyst", "exec", "streaming", "sinks", "op",
)


class _Listener:
    """Collects every micro-batch's progress as plain values."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def on_progress(self, p) -> None:
        ts = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        states = p.stateOperators or []
        self.progress.append({
            "start": ts.timestamp(),
            "duration_ms": dict(p.durationMs or {}),
            "rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_bytes": sum(s.memoryUsedBytes for s in states),
        })


def attach_listener(spark) -> _Listener:
    from pyspark.sql.streaming.listener import StreamingQueryListener

    sink = _Listener()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())
    return sink


def record_catalyst(tracer: tr.Tracer, df, op: int) -> None:
    """Catalyst phases of the final plan as spans (epoch ms from the JVM)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        tracer.add(kv._1(), "catalyst", ph.startTimeMs() / 1000.0,
                   ph.endTimeMs() / 1000.0, op=op)


def record_storage(spark, op: dict) -> None:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    op["cached_rdds"] = len(infos)
    op["cached_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)


def _pct(values, p: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[int(p) - 1]


def _event_log(event_dir: str) -> str:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


def summarize(tracer: tr.Tracer, ops: list[dict], event_dir: str,
              listener: _Listener, result: dict) -> dict:
    spans = tracer.spans
    for b in listener.progress:
        d = b["duration_ms"].get("triggerExecution", 0) / 1000.0
        tracer.add("microbatch", "streaming", b["start"], b["start"] + d)
    tr.resolve_parents(spans)
    self_s = tr.self_times(spans)
    by_id = {s.id: s for s in spans}

    def within(span_id, layer: str) -> bool:
        s = by_id.get(span_id)
        while s is not None:
            if s.layer == layer:
                return True
            s = by_id.get(s.parent)
        return False

    log = tr.parse_event_log(_event_log(event_dir))
    group_ops = {op["group"]: i for i, op in enumerate(ops)}
    owner = tr.attribute_jobs(list(log.jobs.values()), spans, group_ops)
    m = {k: 0.0 for k in UNITS}

    def layer_self(layer: str) -> float:
        return sum(self_s[s.id] for s in spans if s.layer == layer and s.id in self_s)

    def jobs_in(layer: str) -> list[tr.Job]:
        return [j for j in log.jobs.values() if within(owner[j.id], layer)]

    def count(layer: str) -> int:
        return sum(1 for s in spans if s.layer == layer)

    m["sources.calls"] = count("sources")
    m["sources.s"] = layer_self("sources")
    m["sources.jobs"] = len(jobs_in("sources"))
    m["queries.build_s"] = layer_self("queries")
    m["queries.build_jobs"] = len(jobs_in("queries"))
    latency = sum(op["s"] for op in ops)
    build_incl = sum(s.end - s.start for s in spans if s.layer == "queries")
    m["queries.build_share"] = build_incl / latency if latency else 0.0
    m["operators.cc_calls"] = count("operators.cc")
    m["operators.cc_s"] = layer_self("operators.cc")
    m["operators.cc_rounds"] = sum(
        s.attrs.get("rounds", 0) for s in spans if s.layer == "operators.cc"
    )
    m["operators.kmeans_calls"] = count("operators.kmeans")
    m["operators.kmeans_s"] = layer_self("operators.kmeans")
    m["plans.derive_s"] = layer_self("plans")
    m["plans.derive_jobs"] = len(jobs_in("plans"))
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(
            s.end - s.start for s in spans if s.layer == "catalyst" and s.name == phase
        )

    # exec.s and exec.jobs: the action (plan, run, deliver) and the jobs
    # behind it. The stage and task sums cover every job the pass ran,
    # whichever layer fired it: builders, sinks and micro-batches run on the
    # same executors.
    m["exec.s"] = layer_self("exec")
    m["exec.jobs"] = len(jobs_in("exec"))
    counted: set[int] = set()
    for j in sorted(log.jobs.values(), key=lambda j: j.id):
        if owner[j.id] is None:
            continue
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if not st or not st.get("completed") or sid in counted:
                # never ran, or ran for an earlier job: skipped by this one
                m["exec.stages_skipped"] += 1
                continue
            counted.add(sid)
            m["exec.stages"] += 1
            m["exec.tasks"] += st.get("tasks", 0)
            m["exec.failed_tasks"] += st.get("failed_tasks", 0)
            for key in ("task_run_s", "task_cpu_s", "gc_s", "input_mb",
                        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "python_mb"):
                m[f"exec.{key}"] += st.get(key, 0.0)
    m["exec.result_rows"] = sum(op.get("rows", 0) for op in ops)
    m["exec.result_mb"] = sum(op.get("bytes", 0) for op in ops) / 1e6
    m["exec.cached_rdds"] = max((op.get("cached_rdds", 0) for op in ops), default=0)
    m["exec.cached_mb"] = max((op.get("cached_bytes", 0) for op in ops), default=0) / 1e6

    batches = listener.progress
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    m["streaming.batches"] = len(batches)
    m["streaming.empty_batch_frac"] = (
        sum(1 for b in batches if not b["rows"]) / len(batches) if batches else 0.0
    )
    m["streaming.batch_p50_ms"] = _pct(trig, 50)
    m["streaming.batch_tail_ms"] = _pct(trig, 90)
    for key, dur in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                     ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                     ("latest_offset_ms", "latestOffset")):
        m[f"streaming.{key}"] = sum(b["duration_ms"].get(dur, 0) for b in batches)
    m["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    m["streaming.state_mb"] = max((b["state_bytes"] for b in batches), default=0) / 1e6

    sinks = result.get("sinks", {})
    m["sinks.s"] = layer_self("sinks")
    m["sinks.jobs"] = len(jobs_in("sinks"))
    m["sinks.rows"] = sinks.get("rows", 0)
    m["sinks.mb"] = sinks.get("bytes", 0) / 1e6
    m["sinks.pbi_posts"] = sinks.get("pbi_posts", 0)
    m["sinks.pbi_quota_wait_s"] = sinks.get("pbi_quota_wait_s", 0.0)

    # closure: the share of each op's latency its layer spans account for
    roots = [s for s in spans if s.layer == "op"]
    m["harness.s"] = sum(self_s[s.id] for s in roots)
    closed = sum(1 for s in roots if self_s[s.id] <= 0.05 * (s.end - s.start))
    m["trace.closure_frac"] = closed / len(roots) if roots else 0.0
    m["trace.wall_s"] = result["wall_s"]
    ranking = sorted(
        ((layer, layer_self(layer)) for layer in SELF_LAYERS), key=lambda kv: -kv[1]
    )
    unattributed = sum(1 for v in owner.values() if v is None)
    return {
        "metrics": m, "self_ranking": ranking, "jobs_total": len(log.jobs),
        "jobs_unattributed": unattributed,
    }
