"""SparkSession factory.

Session timezone is pinned to UTC: the reference carries ISO-8601 UTC strings
end-to-end and renders America/Los_Angeles calendar labels explicitly
(SURVEY §2.8 F28–F33); we mirror that by keeping instants in UTC and doing
LA-local bucketing via ``from_utc_timestamp`` at the point of use.

Scale posture (the engine targets a 1000-executor cluster even though tests run
on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast conversion cover the 100 TB skew/shuffle hazards.
- shuffle.partitions is only the pre-AQE initial value; at cluster scale it
  should be set to ~2-3x total cores by the submitter, AQE coalesces down.
- maxPartitionBytes default 128m keeps scan partitions executor-memory-safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "notion-timetracking-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession configured for this engine.

    ``master``/``shuffle_partitions`` default from env (SPARK_GRAFT_CPUS) so the
    same entry points serve local tests and a real cluster submit (where master
    comes from spark-submit and these settings are no-ops).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata timestamp contract (see sources/tpch.ensure_nanos_readable):
        # TIMESTAMP(NANOS) reads as long nanos (converted at the source), and
        # isAdjustedToUTC=false micros read as plain TIMESTAMP instants, not
        # NTZ — both match DuckDB's reading of the same files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers (mapInPandas decode seams) unpickle functions by
        # module reference, so they must import this package whatever the
        # caller's working directory: put the package's parent on their path
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
