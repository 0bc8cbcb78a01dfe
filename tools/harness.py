"""Session set-up shared by the measurement scripts (bench.py, tools/ab.py,
tools/measure.py, tools/profile_stages.py): one warm-up and one settle step,
so every script times queries on the same kind of session.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
from notion_timetracking_etl_spark.session import build_session


def warm_session(app_name: str) -> SparkSession:
    """A ``build_session`` session with the JVM and the Python worker fleet
    warmed outside any timed region."""
    spark = build_session(app_name=app_name)
    # BENCH_r03.json's `parsed: null` post-mortem: the driver merges stderr
    # into its stdout capture and caps the captured byte count; round 3's
    # cumulative Spark WARN noise (71 queries incl. streaming) hit the cap
    # MID-final-JSON-line, so the driver's parser saw a truncated line.
    # Suppress everything below ERROR so the capture stays a few KB and the
    # final line always survives intact.
    spark.sparkContext.setLogLevel("ERROR")
    # The JVM/codegen path.
    spark.range(1000).selectExpr("sum(id)").collect()
    # The Python worker fleet (fork + pandas/pyarrow import happens once per
    # session; steady-state queries reuse the workers).
    import pandas as pd  # noqa: F401

    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()
    return spark


def settle(spark: SparkSession) -> None:
    """Inter-query hygiene, outside the timed region: free the last query's
    query-scoped intermediates (never ``clearCache()``: see
    notion_timetracking_etl_spark/lifecycle.py), then a GC-settle barrier. A
    heavy query's freed cache/checkpoint blocks leave JVM GC pressure that
    bleeds ~1-3 s into whatever runs next (round 4: dedup_dimension read
    2.6x its baseline purely from following the 10 s dedup_clusters; with
    this barrier it re-measures at ~1x), so an explicit ``System.gc()`` and a
    tiny job let the executors settle."""
    release_scoped_caches()
    spark.sparkContext._jvm.System.gc()
    spark.range(1000).count()
