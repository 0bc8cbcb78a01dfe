"""PageRank over a pair list (engine extension): centrality scoring of the
near-dup graph — which documents are duplication HUBS (templates, boiler-
plate, mirror sets) rather than incidental pair members. The dedup triage
signal after clustering: a cluster's hub is the canonical text to keep or
to blocklist.

Same DataFrame-iterative shape as ``operators.cluster`` and
``operators.kmeans`` — the third of the engine's fixpoint family:

- Per iteration ONE keyed shuffle: messages ``p(u)/deg(u)`` flow along
  edges (join on src), partial-aggregated map-side into per-destination
  sums. The rank table checkpoints each round (lineage truncation), and
  superseded checkpoints are freed at the RDD level.
- Undirected near-dup edges mean every node has degree ≥ 1 — no dangling
  mass, so the per-iteration transform is the plain affine update
  ``p' = (1-d)/N + d·Σ p(u)/deg(u)`` with damping d = 0.85.

Cross-engine exactness: the per-edge message ``p/deg`` is one IEEE double
divide; the incoming-message sum goes through the repo's scale-12 fixed
point (``floor(x*1e12 + 0.5)`` → DECIMAL(38,0) exact order-independent
accumulation → one double divide out); the affine update is two IEEE ops
with literals cast to double on both engines. Every iteration is therefore
SQL-replayable — the oracle regenerates the full power iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..lifecycle import free, query_scoped, scoped_persist

DAMPING = 0.85


def pagerank(
    edges: DataFrame, a: str = "a", b: str = "b", iters: int = 3
) -> DataFrame:
    """``iters`` power iterations over the undirected (``a``, ``b``) pair
    list; returns (node, degree, pagerank). Deterministic for a fixed
    iteration count."""
    e = scoped_persist(edges.select(F.col(a).alias("ea"), F.col(b).alias("eb")))
    und = e.select(F.col("ea").alias("src"), F.col("eb").alias("dst")).union(
        e.select(F.col("eb").alias("src"), F.col("ea").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges pre-joined with source degree once — each iteration then joins
    # only the (node, p) table
    und_deg = scoped_persist(und.join(deg, "src"))
    nodes = scoped_persist(und.select(F.col("src").alias("node")).distinct())
    n_nodes = nodes.count()  # driver scalar, like CC's convergence count
    if n_nodes == 0:
        # empty graph: no nodes, no ranks — short-circuit before the 1/n
        # teleport term divides by zero
        return nodes.select(
            "node",
            F.lit(0).cast("bigint").alias("degree"),
            F.lit(0.0).alias("pagerank"),
        )
    base = F.lit(1.0 - DAMPING) / F.lit(n_nodes)

    p = nodes.withColumn(
        "p", F.lit(1.0) / F.lit(n_nodes)
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            und_deg.join(p, und_deg.src == p.node)
            .groupBy("dst")
            .agg(
                (
                    F.sum(
                        F.expr(
                            "cast(floor(p / deg * 1e12 + 0.5) as decimal(38,0))"
                        )
                    ).cast("double")
                    / F.lit(1e12)
                ).alias("contrib")
            )
        )
        new_p = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    base
                    + F.lit(DAMPING) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        free(p)
        p = new_p
    query_scoped(p)
    return p.join(deg, p.node == deg.src).select(
        "node", F.col("deg").alias("degree"), F.col("p").alias("pagerank")
    )
