"""Parquet lake sinks (engine extension): date-partitioned and bucketed
writes.

The reference's persistence is JSONL-per-day (S6) — correct for its scale,
but at 100 TB the layout of what you WRITE decides the cost of every read
that follows. Two standard layouts:

- :func:`write_partitioned_lake` — hive-style directory partitioning on low-
  cardinality columns (dates, sources). Readers with partition predicates
  touch only matching directories (partition pruning: ``PartitionFilters`` in
  the scan), and an in-partition sort clusters row groups so min/max
  statistics prune pages within files.
- :func:`write_bucketed_table` — ``bucketBy`` on a high-cardinality join/agg
  key. This PRE-PAYS the shuffle once at write time: every later equi-join or
  aggregation on the bucket key between same-bucketed tables runs
  exchange-free (the bucketed scan already reports the required hash
  partitioning). The classic use: fact and dimension-fact tables bucketed on
  the same key with the same bucket count, joined daily.

Both writers avoid the small-files problem explicitly: ``partitionBy`` with a
prior ``repartition`` on the partition columns yields one writer task per
partition directory instead of (tasks × partitions) fragments.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..streaming.drain import drain


def write_partitioned_lake(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
    coalesce_partitions: bool = True,
) -> None:
    """Write a hive-partitioned parquet lake.

    ``coalesce_partitions=True`` repartitions by the partition columns first,
    so each partition directory is written by one task (no
    tasks×partitions file explosion); ``sort_cols`` then orders rows inside
    each file for min/max row-group pruning on those columns.
    """
    out = df
    if coalesce_partitions and partition_cols:
        out = out.repartition(*[out[c] for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] = (),
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) catalog table.

    Joins/aggregations between tables bucketed on their join keys with equal
    ``num_buckets`` skip the shuffle entirely (asserted by
    tests/test_parquet_sink.py::test_bucketed_join_is_exchange_free).
    ``path`` makes the table external (required in test/tmp environments).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def stream_to_parquet_lake(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: Sequence[str] = (),
    timeout_s: int = 300,
) -> None:
    """Drain a stream into a hive-partitioned parquet lake, exactly-once.

    The file sink + checkpoint is Structured Streaming's transactional
    ingest: committed files are recorded in the sink log, offsets in the
    checkpoint, so a crash/restart never duplicates or drops a micro-batch
    — re-running over an unchanged source with the same checkpoint writes
    NOTHING new (pinned by tests/test_parquet_sink.py). ``availableNow``
    drains the backlog in bounded batches and terminates; a 100 TB
    deployment runs the same call on a schedule as incremental batch
    ingest, reading only new files each run.
    """
    drain(
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_cols),
        timeout_s,
    )
