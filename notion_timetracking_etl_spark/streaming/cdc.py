"""Streaming CDC upsert via ``foreachBatch`` (engine extension): the
incremental-merge sink pattern — each micro-batch of an I/U/D changelog
merges into the accumulated snapshot state with last-write-wins semantics,
the loop a production deployment runs with MERGE INTO against a Delta/
Iceberg table. Here the merge target is an in-session DataFrame advanced
per batch (each generation is stored and the one it replaces freed,
``lifecycle.next_generation``); the MERGE itself is the
same comparison-struct MAX as the batch CDC apply
(queries/cdc.py::apply_changelog), so stream and batch provably share
semantics.

Order independence is the load-bearing property: the winner per key is the
max (seq, ...) struct and DELETE rows ride along as tombstones until the
final read, so ANY split of the changelog into micro-batches — file order,
batch boundaries, replays — converges to the identical final state. That
is what makes the pattern safe under AvailableNow catch-up drains and
at-least-once sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import next_generation
from .drain import drain_batches, read_parquet_stream

_MERGE_COLS = ("seq", "op", "price_micros", "status")


def merge_upsert_batch(acc: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One MERGE step: union the accumulated winners with the arriving
    batch and re-take the per-key (seq, op, payload) struct MAX. DELETEs
    stay as tombstones (consumers filter at read) so later micro-batches
    can never resurrect a key by arriving after its delete."""
    merged = batch if acc is None else acc.unionByName(batch)
    return (
        merged.groupBy("k")
        .agg(F.max(F.struct(*_MERGE_COLS)).alias("_w"))
        .select("k", *[F.col(f"_w.{c}").alias(c) for c in _MERGE_COLS])
    )


def upsert_drain(
    spark: SparkSession,
    changelog_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> tuple[DataFrame, int]:
    """Drain a changelog directory as a file stream (one file per
    micro-batch) through a ``foreachBatch`` MERGE loop; returns the final
    tombstone-inclusive state and the number of micro-batches seen."""
    state: dict = {"acc": None}

    def step(batch: DataFrame) -> None:
        state["acc"] = next_generation(
            state["acc"], merge_upsert_batch(state["acc"], batch)
        )

    n = drain_batches(
        read_parquet_stream(spark, changelog_dir, one_file_per_batch=True),
        checkpoint_dir,
        step,
        timeout_s,
    )
    return state["acc"], n
