"""Structured Streaming extension tests: stream == batch, bit-for-bit.

Finite input drained with Trigger.AvailableNow must produce exactly what the
equivalent batch query produces — that invariant is what makes the streaming
surface oracle-checkable in the driver's correctness gate.
"""

from __future__ import annotations

import datetime as dt
import time

import pyspark.sql.functions as F
import pytest

from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
from notion_timetracking_etl_spark.sources.tpch import load_table
from notion_timetracking_etl_spark.streaming import (
    hourly_rollup,
    read_events_stream,
    run_stream_to_table,
    session_window_rollup,
    upsert_drain,
    user_stats_stateful,
)
from notion_timetracking_etl_spark.streaming.drain import (
    drain_batches,
    read_parquet_stream,
)

SF = "/root/testdata/sf0.001"


def _sorted_tuples(df, *keys):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_hourly_rollup_equals_batch(spark):
    stream_out = run_stream_to_table(hourly_rollup(read_events_stream(spark, SF)))
    batch = (
        load_table(spark, SF, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    assert _sorted_tuples(stream_out) == _sorted_tuples(batch)


def test_session_window_merges_exact_gap_tie(spark):
    """Pin the tie semantics the streaming_session_window oracle relies on:
    two events EXACTLY 30 min apart merge into ONE session (Spark extends the
    window to last_event + gap and merges overlapping-or-touching windows),
    matching the gaps-and-islands oracle's strict `> INTERVAL 30 MINUTE`
    new-session predicate. If Spark were end-exclusive on ties the oracle
    would need `>=`."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 1, 10, 0, 0)),
            (1, dt.datetime(2026, 1, 1, 10, 30, 0)),  # tie: gap == 30 min
            (1, dt.datetime(2026, 1, 1, 11, 0, 1)),  # gap > 30 min → new
        ],
        "user_id long, ts timestamp",
    )
    sessions = sorted(
        (r["s"], r["e"], r["n"])
        for r in (
            df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").cast("string").alias("s"),
                F.col("w.end").cast("string").alias("e"),
                F.col("n"),
            )
            .collect()
        )
    )
    assert sessions == [
        ("2026-01-01 10:00:00", "2026-01-01 11:00:00", 2),
        ("2026-01-01 11:00:01", "2026-01-01 11:30:01", 1),
    ]


def test_streaming_session_window_equals_batch_session_window(spark):
    stream_out = run_stream_to_table(
        session_window_rollup(read_events_stream(spark, SF))
    )
    # session_window works identically as a batch aggregation
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    assert _sorted_tuples(stream_out) == _sorted_tuples(batch)


def test_stateful_user_stats_equals_batch(spark):
    stream_out = run_stream_to_table(
        user_stats_stateful(read_events_stream(spark, SF)), output_mode="update"
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # HALF_UP via floor(x+0.5) — the exact rule the stateful fold uses
            # (F.round is HALF_UP too, but pin the shared formula explicitly)
            F.sum(F.floor(F.col("value") * 1_000_000 + 0.5).cast("long")).alias(
                "total_value_micros"
            ),
            F.max(F.unix_micros("ts")).alias("last_ts_micros"),
        )
    )
    assert _sorted_tuples(stream_out) == _sorted_tuples(batch)


def _stage_changelog(spark, path: str, n_files: int) -> None:
    """A changelog of ``n_files`` seq waves, one parquet file per wave."""
    from notion_timetracking_etl_spark.queries.cdc import changelog_from_orders

    d = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, k, "O", 100.0, d, "1-URGENT") for k in (1, 3, 7, 21)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    changelog = changelog_from_orders(orders)
    for seq in range(1, n_files + 1):
        changelog.filter(F.col("seq") == seq).coalesce(1).write.mode(
            "append"
        ).parquet(path)


def test_cdc_accumulator_holds_one_generation(spark, tmp_path):
    """Each micro-batch frees the merge state it replaces: after a 3-batch
    drain only the final generation is persisted, and the release frees
    it. Set differences, not equality: RDDs earlier tests left persisted
    with no live handle may be freed by the ContextCleaner at any time."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    clog_dir = str(tmp_path / "changelog")
    _stage_changelog(spark, clog_dir, 3)
    release_scoped_caches()
    base = persisted()
    final, batches = upsert_drain(spark, clog_dir, str(tmp_path / "ckpt"))
    assert batches == 3
    assert len(persisted() - base) == 1
    assert final.count() == 4
    release_scoped_caches()
    assert not persisted() - base


def test_timed_out_drain_raises_and_stops(spark, tmp_path):
    """Every streaming sink runs through streaming/drain.py::drain, so one
    slow ``foreachBatch`` step covers the timeout path of all of them: the
    drain raises instead of returning a partial result, and leaves no
    query running."""
    clog_dir = str(tmp_path / "changelog")
    _stage_changelog(spark, clog_dir, 2)
    with pytest.raises(TimeoutError, match="partial results discarded"):
        drain_batches(
            read_parquet_stream(spark, clog_dir, one_file_per_batch=True),
            str(tmp_path / "ckpt"),
            lambda batch: time.sleep(2),
            timeout_s=1,
        )
    assert not spark.streams.active
