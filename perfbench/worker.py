"""One workload in one fresh process: set up, run the closed loop, check.

Started by ``run.py`` with ``PYTHONPATH`` at the repository root (so Spark's
Python workers can import the package too). Writes its result as JSON to
``--out``; the parent turns that into the benchmark's metrics.

Timed per operation: the query builder (plan construction plus any jobs it
fires), Catalyst and execution, and delivery of every column of every row to
this process as Arrow (``DataFrame.toArrow()``). The result is hashed and
compared with the oracle only after the clock stops. ``etl_star`` adds a
publish operation to its pass: ``run_derive`` over the canon, written through
the JSONL and parquet sinks and the Power BI wipe-and-reload on an in-memory
transport.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import sys
import time
import traceback

import oracle
import workloads


class VirtualClock:
    """Real time plus every sleep the governor asked for, which is only
    added up: the wait the real governor would have taken."""

    def __init__(self) -> None:
        self.waited = 0.0

    def now(self) -> float:
        return time.monotonic() + self.waited

    def sleep(self, seconds: float) -> None:
        self.waited += seconds


class PbiTransport:
    """The Power BI REST surface in memory; counts posted rows per table."""

    def __init__(self) -> None:
        self.posted: dict[str, int] = {}
        self.posts = 0
        self.bytes = 0

    def __call__(self, method, url, headers, body):
        if "login.microsoftonline.com" in url:
            return 200, {}, json.dumps({"access_token": "t", "expires_in": 3600})
        if method == "GET" and url.endswith("/datasets"):
            return 200, {}, json.dumps({"value": []})
        if method == "POST" and "datasets?defaultRetentionPolicy" in url:
            return 201, {}, json.dumps({"id": "ds-bench"})
        if method == "DELETE" and url.endswith("/rows"):
            return 200, {}, ""
        if method == "POST" and url.endswith("/rows"):
            table = url.rsplit("/tables/", 1)[1].removesuffix("/rows")
            self.posted[table] = self.posted.get(table, 0) + len(json.loads(body)["rows"])
            self.posts += 1
            self.bytes += len(body)
            return 200, {}, ""
        raise ValueError(f"unexpected Power BI call {method} {url}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _jsonl_rows(path: str) -> int:
    n = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith("part-"):
                with open(os.path.join(d, f), "rb") as fh:
                    n += sum(1 for _ in fh)
    return n


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class Publisher:
    """The etl_star publish step and its sink-side checks."""

    def __init__(self, spark, sf_dir: str, out_dir: str, expected: dict[str, int]):
        from notion_timetracking_etl_spark.sinks.pbi.governor import RefreshGovernor

        self.spark, self.sf_dir, self.out_dir = spark, sf_dir, out_dir
        self.expected = expected  # table -> oracle-checked row count
        self.clock = VirtualClock()
        self.governor = RefreshGovernor(now_s=self.clock.now, sleep=self.clock.sleep)
        self.transport = PbiTransport()
        self.rows = 0
        self.bytes = 0

    def run(self, span) -> None:
        from notion_timetracking_etl_spark.plans.derive import run_derive
        from notion_timetracking_etl_spark.plans.model import build_model_relationships
        from notion_timetracking_etl_spark.queries.pipeline import synth_canon
        from notion_timetracking_etl_spark.sinks.jsonl import write_jsonl
        from notion_timetracking_etl_spark.sinks.parquet import write_partitioned_lake
        from notion_timetracking_etl_spark.sinks.pbi.client import (
            PowerBiClient,
            TokenProvider,
        )
        from notion_timetracking_etl_spark.sinks.pbi.provision import ensure_dataset
        from notion_timetracking_etl_spark.sinks.pbi.refresh import (
            execute_wipe_and_reload,
        )
        from notion_timetracking_etl_spark.sinks.pbi.spec import (
            spec_from_frames,
            validate_spec,
        )

        base = self.out_dir
        with span("synth_canon", "queries"):
            c = synth_canon(self.spark, self.sf_dir)
        result = run_derive(c["defs"], c["stages"], c["clean"])
        for name, df in result.tables.items():
            write_jsonl(df, base, "derived", name, "2024-01-31")
        write_partitioned_lake(
            result.tables["FactTimeslices"], os.path.join(base, "lake"),
            ["Workflow Definition"],
        )
        with span("pbi_provision", "sinks"):
            spec = spec_from_frames(
                "TimeTracking", result.tables, build_model_relationships()
            )
            validate_spec(spec)
            t = self.transport
            client = PowerBiClient(
                t, TokenProvider(t, "tenant", "client", "secret",
                                 now_s=self.clock.now, sleep=self.clock.sleep),
                sleep=self.clock.sleep, now_s=self.clock.now,
            )
            dataset_id = ensure_dataset(client, base, "g-bench", "TimeTracking", spec)
        t.posted = {}
        execute_wipe_and_reload(
            client, "g-bench", dataset_id, spec, result.tables, governor=self.governor
        )

    def check(self) -> str | None:
        """Sink and Power BI row counts against the oracle rows; None = ok."""
        from notion_timetracking_etl_spark.sources.jsonl import dataset_dir

        base = self.out_dir
        bad = []
        for table, n in self.expected.items():
            got = _jsonl_rows(dataset_dir(base, "derived", table))
            if got != n:
                bad.append(f"jsonl {table} {got}!={n}")
            if self.transport.posted.get(table, 0) != n:
                bad.append(f"pbi {table} {self.transport.posted.get(table, 0)}!={n}")
            self.rows += got
        lake = _parquet_rows(os.path.join(base, "lake"))
        if lake != self.expected["FactTimeslices"]:
            bad.append(f"lake {lake}!={self.expected['FactTimeslices']}")
        self.rows += lake + sum(self.transport.posted.values())
        self.bytes += _dir_bytes(base)
        shutil.rmtree(base, ignore_errors=True)
        return "; ".join(bad) or None


def warm_up(spark, sf_dir: str) -> None:
    """The Python worker fleet (fork plus pandas/pyarrow import), as bench.py
    warms it, and the JVM paths every query shares: parquet scan, shuffle
    join, aggregate, window, code generation and Arrow delivery. None of it
    calls the package, so no package cache is filled here."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n).mapInPandas(lambda it: it, "id long").count()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(F.sum("l_extendedprice").alias("rev"))
        .withColumn("rank", F.rank().over(Window.orderBy(F.desc("rev"))))
        .toArrow()
    )


def retained_memory(spark) -> dict[str, float]:
    """What the session still holds once the pass is over and its garbage
    is collected, in MB: the JVM heap in use after a full collection (cached
    tables, broadcast and model blocks, plan caches) and the proportional
    set size of the driver's Python process (results and models the package
    keeps on the driver)."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # A collection queues what the ContextCleaner and py4j then release, and
    # the blocks they free go only at a later collection: collect once a
    # second until two readings agree, and at least three times.
    used: list[int] = []
    while len(used) < 3 or (len(used) < 8 and abs(used[-1] - used[-2]) > 0.01 * used[-2]):
        if used:
            time.sleep(1)
        jvm.java.lang.System.gc()
        used.append(heap.getHeapMemoryUsage().getUsed())
    with open("/proc/self/smaps_rollup", encoding="utf-8") as fh:
        pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
    return {"jvm_live_mb": used[-1] / 1e6,
            "py_pss_mb": pss * 1024 / 1e6}


def run_op(name: str, spark, sf_dir: str, expect: dict, publisher, span) -> dict:
    """One closed-loop operation: timed, then checked after the clock stops.
    ``span(name, layer)`` opens a trace span (a no-op when not tracing)."""
    from notion_timetracking_etl_spark.queries import REGISTRY

    op: dict = {"name": name}
    table = None
    t0 = time.perf_counter()
    try:
        with span(name, "op"):
            if name == "publish":
                publisher.run(span)
            else:
                with span("build", "queries"):
                    df = REGISTRY[name].spark(spark, sf_dir)
                with span("action", "exec"):
                    table = df.toArrow()
                op["df"] = df
    except Exception as exc:  # a failed operation is counted, never skipped
        op["error"] = "".join(traceback.format_exception_only(exc)).strip()[:500]
    op["s"] = time.perf_counter() - t0
    if "error" in op:
        return op
    if name == "publish":
        bad = publisher.check()
        if bad:
            op["error"] = f"sink row-count mismatch: {bad}"
        return op
    op["rows"], op["bytes"] = table.num_rows, table.nbytes
    if oracle.arrow_hash(table) != expect[name]["hash"]:
        op["error"] = (
            f"oracle hash mismatch ({table.num_rows} rows, oracle {expect[name]['rows']})"
        )
    return op


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--expect", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWN_TIME"])
    w = workloads.WORKLOADS[args.workload]
    run_dir = os.path.dirname(args.out)

    from notion_timetracking_etl_spark.operators.dedup import release_scoped_caches

    sf_dir = workloads.SF_DIR
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = workloads.build_bench_session(os.environ["TMPDIR"], event_dir)
    warm_up(spark, sf_dir)
    setup_s = time.time() - spawned

    with open(args.expect, encoding="utf-8") as fh:
        expect = json.load(fh)  # oracle hash and rows per query, from run.py

    tracer = None
    span = lambda name, layer: contextlib.nullcontext()  # noqa: E731
    if args.trace:
        import layers
        import spans

        tracer = spans.Tracer()
        undo = spans.patch(tracer)
        listener = layers.attach_listener(spark)
        span = tracer.span

    publisher = None
    if w.publish:
        publisher = Publisher(
            spark, sf_dir, os.path.join(run_dir, "sinks"),
            {t: expect[q]["rows"] for t, q in workloads.PUBLISHED_TABLES.items()},
        )

    # One pass in a seed-permuted order; publish first, as a refresh does,
    # so the queries then read the star.
    order = list(w.queries)
    random.Random(args.seed).shuffle(order)
    if publisher:
        order.insert(0, "publish")
    ops: list[dict] = []
    for name in order:
        group = f"perfbench-op-{len(ops)}"
        spark.sparkContext.setJobGroup(group, name)
        if tracer:
            tracer.current_op = len(ops)
        op = run_op(name, spark, sf_dir, expect, publisher, span)
        op["group"] = group
        df = op.pop("df", None)
        if tracer:
            if df is not None:
                layers.record_catalyst(tracer, df, len(ops))
            layers.record_storage(spark, op)
        # A live DataFrame pins its plan and blocks in the JVM; the last
        # one would count in retained_mb (about 70 MB for some queries).
        del df
        release_scoped_caches()
        ops.append(op)
    spark.sparkContext.setJobGroup("perfbench-teardown", "teardown")
    memory = retained_memory(spark)

    failures = [
        {"op": op["name"], "error": op["error"]}
        for op in ops if "error" in op
    ]
    result = {
        "workload": w.name, "seed": args.seed, "setup_s": setup_s,
        "wall_s": sum(op["s"] for op in ops), "ops": ops, "memory": memory,
        "failures": failures,
    }
    if tracer:
        spans.unpatch(undo)
        if publisher:
            result["sinks"] = {
                "rows": publisher.rows,
                "bytes": publisher.bytes + publisher.transport.bytes,
                "pbi_posts": publisher.transport.posts,
                "pbi_quota_wait_s": publisher.clock.waited,
            }
    spark.stop()
    if tracer:
        result["layers"] = layers.summarize(tracer, ops, event_dir, listener, result)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
