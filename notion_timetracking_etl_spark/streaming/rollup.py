"""Streaming windowed rollups over the events table.

Design for scale: the stream shuffles once per aggregation on the group keys;
watermarks bound state (late events beyond the delay are dropped, closed
windows are evicted). ``availableNow`` runs (streaming/drain.py) drain the
full backlog in bounded micro-batches — the cloud pattern for catch-up
processing over a parquet lake.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F

from .drain import drain, read_parquet_stream


def _dsum(col: Column) -> Column:
    """queries.helpers.dsum's convention, restated locally: importing the
    queries package from here would make executor-side unpickling of the
    stateful operator re-enter queries/__init__ → queries.streaming → this
    package while partially initialized (circular import)."""
    return F.sum(col.cast("decimal(38,6)")).cast("double")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with the batch reader's schema
    contract (TIMESTAMP(NANOS) arrives as long nanos under
    ``spark.sql.legacy.parquet.nanosAsLong`` → truncate to micros)."""
    from ..sources.tpch import ensure_nanos_readable

    ensure_nanos_readable(spark)
    stream = read_parquet_stream(
        spark, f"{sf_dir}/events.parquet", one_file_per_batch=False
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def hourly_rollup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact-decimal value sum.

    The watermark bounds aggregation state at (now - 1h) worth of open
    windows; at 100 TB/day this is what keeps state size independent of
    backlog depth.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding (overlapping) windows per event_type: each event lands in
    window/slide = 4 concurrent windows, so the rate metric updates every
    15 minutes with a full hour of context. State is (windows open within
    the watermark) x types — the overlap factor multiplies state row count,
    not event volume (events are aggregated map-side per window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


def session_window_rollup(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows per user: a session closes after ``gap`` of
    inactivity. Spark's session_window end = last event + gap."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


def run_stream_to_table(
    stream_df: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    latest_by: tuple[list[str], str] | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame (:func:`.drain.drain`) into a memory
    sink and return the result as a batch DataFrame.

    Complete mode emits every window once the backlog is drained — the
    deterministic choice for finite input (append mode would withhold windows
    newer than the final watermark). In production the sink would be a Delta /
    Kafka / foreachBatch writer; the memory sink is the local[] test stand-in.

    In ``update`` mode the memory sink APPENDS each micro-batch's updates, so
    a multi-batch drain (multi-file table, maxFilesPerTrigger) leaves stale
    intermediate rows per key. ``latest_by=(keys, monotone_col)`` keeps only
    the final update per key — the row maximizing ``monotone_col`` (e.g. a
    running count, which strictly increases for every key a batch re-emits).
    """
    spark = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    drain(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        timeout_s,
    )
    out = spark.table(name)
    if latest_by is not None:
        from pyspark.sql.window import Window

        keys, monotone_col = latest_by
        w = Window.partitionBy(*keys).orderBy(F.col(monotone_col).desc())
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out


def trending_rollup(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling windowed per-type counts sized for trending reports.

    The stream side stays a pure windowed aggregation (one keyed shuffle,
    watermark-bounded state); the top-k CUT is applied batch-side after the
    drain — ranking inside a streaming aggregation would need arbitrary
    stateful processing, and the counts table (windows x types) is exactly
    the right small handoff surface between the two."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
