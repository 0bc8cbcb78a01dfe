"""The session-scope ``derived`` entries of the pipeline_* family
(queries/pipeline.py::synth_derived) keep their rows and nothing else.

Their plans hold broadcast joins. A persisted plan keeps its executed
physical plan, and with it every broadcast hash relation, a whole driver
memory page each whatever its row count, for as long as the session entry
lives. Stored as checkpoints, the entries hold only rows, so the heap the
fill and the queries over it leave behind stays under one page."""

from __future__ import annotations

import gc
import time

from notion_timetracking_etl_spark import lifecycle


def _live_heap_bytes(spark) -> int:
    """The JVM heap in use after full collections. A collection queues what
    the ContextCleaner and py4j then release, and the blocks they free go
    only at a later collection: collect once a second until two readings
    agree, and at least three times."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[int] = []
    while len(used) < 3 or (len(used) < 8 and abs(used[-1] - used[-2]) > 0.01 * used[-2]):
        if used:
            time.sleep(1)
        jvm.java.lang.System.gc()
        used.append(heap.getHeapMemoryUsage().getUsed())
    return used[-1]


def test_derived_entries_pin_no_broadcast_pages(spark, sf_dir):
    from notion_timetracking_etl_spark.queries import REGISTRY, pipeline

    jvm = spark.sparkContext._jvm
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    lifecycle.release_session_caches()
    lifecycle.release_scoped_caches()
    before = _live_heap_bytes(spark)

    derived = pipeline.synth_derived(spark, sf_dir)
    for name in (
        "pipeline_fact_timeslices", "pipeline_dim_stage", "pipeline_occupancy_hourly"
    ):
        df = REGISTRY[name].spark(spark, sf_dir)
        df.toArrow()
        del df  # a live DataFrame pins its own plan
        lifecycle.release_scoped_caches()

    kinds = {
        name: df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        for name, df in derived.items()
    }
    assert kinds == dict.fromkeys(("fact", "dim_stage", "frames", "occ"), "LogicalRDD")
    grown = _live_heap_bytes(spark) - before
    assert grown < page, f"heap grew {grown / 1e6:.1f} MB, a page is {page / 1e6:.1f} MB"
