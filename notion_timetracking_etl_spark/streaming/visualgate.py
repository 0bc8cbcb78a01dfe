"""Streaming VISUAL near-dup ingest gate via ``foreachBatch`` (engine
extension).

The batch gate (queries/multimodal.py::multimodal_incremental_near_dup)
matches an arriving media batch against the EXISTING corpus only, via
cross-side pigeonhole blocking over the 64-bit perceptual hash. This module
runs the same gate INCREMENTALLY: arriving media stream in micro-batches,
each batch runs the Arrow decode seam (raster -> dHash -> pixel grid) and
joins only the shared hash-block buckets of the persisted corpus signature
table — the state a production multimodal ingest holds between batches.

Order independence is structural: an arrival's best corpus match depends on
(arrival, corpus) alone, never on other arrivals, and each arrival lives in
exactly one micro-batch — so ANY split of the arrival set unions to the
identical verdict set, stream-merged == batch gate under forced splits
(pinned in tests/test_round9.py), and the batch query's oracle serves
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import next_generation
from .drain import drain_batches


def phash_gate_drain(
    spark: SparkSession,
    stream: DataFrame,
    corpus_sig: DataFrame,
    max_hamming: int,
    px_l1_max: int,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> tuple[DataFrame | None, int]:
    """Drain arriving media rows through the perceptual-hash gate; returns
    (best-match verdicts, n_micro_batches).

    ``stream``: streaming (doc_id, text) arrivals. ``corpus_sig``: the
    persisted (media_id, phash, px) corpus signature table. Per batch the
    gate emits each matched arrival's best corpus row by (lowest Hamming,
    lowest exact pixel L1, smallest corpus id) — the comparison-struct MIN
    shared with the batch query. Arrivals are disjoint across batches, so
    the accumulator is a plain union, stored per generation like the CDC
    merge loop's (streaming/cdc.py), which keeps plan depth O(1).
    """
    from ..operators.dedup import pigeonhole_level
    from ..operators.multimodal import (
        attach_media_columns,
        phash_cross_near_dups,
        phash_media,
    )

    # the adaptive blocking level depends on the CORPUS side only — compute
    # it once per drain, not per micro-batch (the corpus is fixed state here)
    level = pigeonhole_level(corpus_sig.count(), 64, max_hamming)
    state: dict = {"acc": None}

    def step(batch: DataFrame) -> None:
        sig_new = phash_media(attach_media_columns(batch, "doc_id", "text"))
        pairs = phash_cross_near_dups(
            sig_new,
            corpus_sig,
            max_hamming=max_hamming,
            px_l1_max=px_l1_max,
            level=level,
        )
        best = (
            pairs.groupBy("a")
            .agg(
                F.min(
                    F.struct(
                        F.col("hamming"), F.col("px_l1"), F.col("b").alias("m")
                    )
                ).alias("w")
            )
            .select(
                F.col("a").alias("media_id"),
                F.col("w.m").alias("matched_media"),
                F.col("w.hamming").alias("hamming"),
                F.col("w.px_l1").alias("px_l1"),
            )
        )
        acc = state["acc"]
        state["acc"] = next_generation(
            acc, best if acc is None else acc.unionByName(best)
        )

    n = drain_batches(stream, checkpoint_dir, step, timeout_s)
    return state["acc"], n
