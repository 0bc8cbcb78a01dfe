"""Streaming SemDeDup ingest gate via ``foreachBatch`` (engine extension).

The batch gate (queries/kmeans.py::semdedup_incremental) flags an arriving
vector when a corpus vector in its refined quantizer cell is cosine-similar
above threshold. This module runs the same gate INCREMENTALLY: arriving
embeddings stream in micro-batches, each batch routes through the two-level
quantizer (broadcast k-means centroids + a fixed SRP refinement-bit count —
the ingest-time corpus scalar) and joins ONLY the refined-cell corpus
representatives, exactly like the batch plan.

Order independence is structural: each arrival's verdict depends on
(arrival, corpus routing table) alone, never on other arrivals, so ANY
split of the arrival set into micro-batches unions to the identical verdict
set — stream-merged == batch gate under forced splits (pinned in
tests/test_round9.py), and the batch query's oracle serves unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import next_generation
from .drain import drain_batches


def semdedup_gate_drain(
    spark: SparkSession,
    stream: DataFrame,
    corpus: DataFrame,
    route_fn: Callable[[DataFrame], DataFrame],
    threshold: float,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> tuple[DataFrame | None, int]:
    """Drain arriving embeddings through the per-batch quantizer routing +
    refined-cell gate; returns (verdicts, n_micro_batches).

    ``stream``: streaming (vec_id, embedding) arrivals. ``corpus``: the
    (cell, matched_vec, vc, nc) routing table — the persisted state a
    production ingest holds between batches. ``route_fn(batch) -> (cell,
    vec_id, vb, nb)`` encapsulates the quantizer (broadcast centroids +
    SRP bits) so this drain stays model-agnostic.

    Per batch the gate emits each flagged arrival's best corpus match
    (highest cosine, tie to smallest corpus id — the comparison-struct MAX
    shared with the batch query). Arrivals are disjoint across batches, so
    the accumulator is a plain union, stored per generation like the CDC
    merge loop's (streaming/cdc.py), which keeps plan depth O(1).
    """
    from ..operators.similarity import cosine_prenormed

    state: dict = {"acc": None}

    def step(batch: DataFrame) -> None:
        routed = route_fn(batch)
        pairs = routed.join(corpus, "cell").select(
            "cell",
            "vec_id",
            "matched_vec",
            cosine_prenormed(
                F.col("vb"), F.col("vc"), F.col("nb"), F.col("nc")
            ).alias("cos"),
        ).filter(F.col("cos") >= threshold)
        best = (
            pairs.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cos"),
                        (-F.col("matched_vec")).alias("nm"),
                        F.col("cell").alias("cell"),
                    )
                ).alias("m")
            )
            .select(
                "vec_id",
                F.col("m.cell").alias("cell"),
                (-F.col("m.nm")).alias("matched_vec"),
                F.col("m.cos").alias("cos"),
            )
        )
        acc = state["acc"]
        state["acc"] = next_generation(
            acc, best if acc is None else acc.unionByName(best)
        )

    n = drain_batches(stream, checkpoint_dir, step, timeout_s)
    return state["acc"], n
