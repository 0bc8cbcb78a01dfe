"""Workload definitions, dataset choice and the benchmark's Spark session.

Every workload is a closed loop with one client over a fixed list of
registered queries: the queries run one after another in an order the run's
seed permutes, and each result is delivered whole to the client as Arrow.
The lists are fixed subsets of the query families each workload stands for,
sized so that a run (fresh process, set-up, one cold pass) takes about a
minute on 4 cores.

The input is a copy of the synthetic sf0.01 testdata (TESTDATA.md:
lineitem 60k rows, events 10k, 500 documents and 500 embeddings), committed
under ``data/`` because a run may read only its own checkout.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed input, so oracle hashes are computed once; the run seed permutes the
# query order.
SF = "sf0.01"
SF_DIR = os.path.join(HERE, "data", SF)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    publish: bool = False  # add the etl publish operation to the pass


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's product: Notion extraction, canon synthesis and the star
        # schema over the session caches, then run_derive published through
        # the JSONL, parquet and Power BI sinks. The only workload where the
        # caches, plans.derive and the sinks do the work.
        Workload(
            "etl_star",
            (
                "pipeline_fact_timeslices", "notion_extract_scalars",
                "pipeline_dim_stage", "pipeline_occupancy_hourly",
                "pipeline_canon_stages", "occupancy_hourly", "dim_date_spine",
            ),
            publish=True,
        ),
        # The iterative and incremental paths: eager builder jobs,
        # connected-components rounds over three pair graphs, Lloyd's
        # iterations and checkpoints (dedup, clusters, kmeans) beside
        # micro-batches with state stores, a stream-stream join, WAL and
        # offset commits and the file sink (streaming). Ten queries, so that
        # its pass is about as long as etl_star's and a run averages over
        # enough work to be steady.
        Workload(
            "dedup_stream",
            (
                "dedup_clusters", "dedup_simhash_cluster_summary",
                "similarity_embedding_dup_clusters", "kmeans_embeddings",
                "streaming_hourly_rollup", "streaming_session_window",
                "streaming_interval_join", "streaming_stateful_user_stats",
                "streaming_cdc_upsert", "streaming_lake_ingest",
            ),
        ),
    )
}

# derived table -> the registered query whose oracle-checked rows it must
# match (the same pairing tests/test_e2e_derived_sinks.py pins)
PUBLISHED_TABLES = {
    "FactTimeslices": "pipeline_fact_timeslices",
    "DimWorkflow": "pipeline_dim_workflow",
    "DimStage": "pipeline_dim_stage",
    "DimDate": "pipeline_dim_date",
    "DimPlaybackFrame": "pipeline_playback_frames",
    "StageOccupancy_Hourly": "pipeline_occupancy_hourly",
    "StageThroughput_Daily": "pipeline_throughput_daily",
}


def oracle_queries(w: Workload) -> list[str]:
    """Every query whose oracle hash or row count the workload checks."""
    extra = list(PUBLISHED_TABLES.values()) if w.publish else []
    return sorted(set(w.queries) | set(extra))


def work_dir(*parts: str) -> str:
    """Run-time files (logs, sink output, oracle overlay) live here,
    git-ignored."""
    return os.path.join(HERE, ".work", *parts)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def build_bench_session(tmp: str, event_log_dir: str | None = None):
    """The package's own session factory on local[<nproc>], with its own
    memory settings and every temporary path under ``tmp``."""
    from notion_timetracking_etl_spark.session import build_session

    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.streaming.checkpointLocation": os.path.join(tmp, "ckpt"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = cpus()
    spark = build_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
