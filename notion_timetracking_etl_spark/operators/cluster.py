"""Connected components over a pair list (engine extension): the dedup
completion step that turns near-dup PAIRS into CLUSTERS with one kept
representative each.

Spark has no built-in CC (GraphX is Scala-only, GraphFrames is an external
package), so this is min-label propagation WITH pointer jumping expressed
in DataFrame ops. Each round does two monotone label-decreasing steps:

1. **propagate** — every node adopts the smallest label among itself and
   its neighbors (join on node + groupBy min: the one edge-sized shuffle);
2. **shortcut (pointer jumping)** — every node then adopts its label's
   label (a labels⋈labels self-join, node-sized). Label chains halve each
   round, so rounds needed are O(log diameter), not O(diameter): a
   200-node path graph converges in 9 rounds where plain propagation
   needs 199. Same convergence class as the large-star/small-star
   contraction of Kiveris et al., "Connected Components in MapReduce and
   Beyond" (SoCC'14), with a simpler per-round plan. Near-dup graphs are
   clique-like and still land in 2-3 rounds; the shortcut step makes the
   adversarial long-chain topology safe instead of a round-count blowup.

Fixpoint = a round that changes no label. Labels only ever decrease and
are bounded below by the component minimum, so termination is guaranteed;
at a no-change round the propagate step alone changed nothing, which
forces equal labels across every edge — i.e. labels are component-constant
and therefore the component min (the min node's own label never rises).

Driver involvement is one ``count()`` per round (the convergence check) —
O(log diameter) tiny jobs, never data through the driver. Each round's
labels are eager-checkpointed via ``flat_checkpoint`` (localCheckpoint +
origin-stats strip), not merely persisted: persist caches the DATA but the
logical plan keeps the full multi-round lineage, so analysis/AQE planning
cost grows per round (measured: 1.7 s → 3.3 s per round at two rounds;
checkpointing flattens both to ~0.5 s). The stats strip matters as much as
the checkpoint: Spark 4's ``localCheckpoint`` forwards the origin plan's
size estimate, and the loop's join plans MULTIPLY those estimates round
over round — a geometric BigInt blow-up that put the driver into minutes
of ``BigInteger.multiply`` once jumps were composed (see
``lifecycle.flat_checkpoint``).
Superseded checkpoints are freed at the RDD level each round
(``lifecycle.free`` — plain ``unpersist()`` never reaches
RDD-persisted checkpoint blocks), so peak storage is ~3×|nodes| (previous
+ stepped + new) regardless of round count, and the final labels are
query-scoped so multi-query harnesses release them between queries. On a
real cluster, swap ``localCheckpoint`` (executor-local, lost on executor
failure) for ``checkpoint()`` against reliable storage if rounds are
expensive enough to be worth replaying.

Broadcast joins are disabled inside the loop: each round's label table is
small enough that AQE would rebuild and re-broadcast it every round — a
driver round-trip per round that costs more than the narrow shuffle it
avoids (measured 2.3 s → 1.0 s for the loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..lifecycle import (
    conf_isolated_session,
    flat_checkpoint,
    free,
    query_scoped,
    rebind_session,
    scoped_flat_checkpoint,
    scoped_persist,
)


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected connected components of the (``a``, ``b``) pair list.

    Returns (node, component) for every node that appears in at least one
    edge, where component = the smallest node id in its component (a
    deterministic representative). Isolated nodes never appear in ``edges``
    and so are absent here — callers attach them with a left join +
    coalesce(component, node). With pointer jumping, ``max_rounds=50``
    covers diameters up to ~2^49 — i.e. any graph that fits in storage.
    Pass ``stats`` to receive ``{"rounds": n}`` back (observability for
    tests/telemetry).
    """
    # Persist the raw edge list FIRST: the undirected union reads it twice
    # (once per direction), and edges often arrive as an expensive upstream
    # pipeline (e.g. the full MinHash near-dup DAG) that must not run twice.
    e = scoped_persist(edges.select(F.col(a).alias("ea"), F.col(b).alias("eb")))
    # not persisted: the union materializes ONCE below (flat_checkpoint)
    # and the loop reads only that checkpoint
    und = e.select(F.col("ea").alias("src"), F.col("eb").alias("dst")).union(
        e.select(F.col("eb").alias("src"), F.col("ea").alias("dst"))
    )
    # Size the loop's shuffle width from the MEASURED edge count (cheap: e is
    # cached by the count): a near-dup edge list is usually orders smaller
    # than its corpus, and each propagation round is several shuffle stages —
    # at session-default width, tiny graphs pay pure task-scheduling
    # overhead per round.
    spark = edges.sparkSession
    n_edges = e.count()
    loop_parts = max(
        2,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            n_edges // 50_000 + 2,
        ),
    )
    # The loop-width/broadcast conf lives on a conf-ISOLATED child session
    # (same SparkContext, private SQLConf) instead of a set/restore of the
    # caller's session: a temporary session-level rewrite made the loop
    # non-reentrant — any concurrent driver-thread job (guide §2.6 overlap
    # of independent legs, e.g. the before/after sweeps of the forget
    # queries) would race the conf at plan time. The materialized undirected
    # edge RDD is re-homed into the child, the loop runs entirely there, and
    # the final labels re-home back to the caller's session.
    child = conf_isolated_session(spark)
    child.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the checkpoint backing und_c must outlive the loop but not the query
    und_c = rebind_session(scoped_flat_checkpoint(und), child)
    labels = (
        und_c.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = flat_checkpoint(labels)
    labels = _propagate(und_c, labels, max_rounds, stats)
    # the final checkpoint backs the returned plan — it must survive this
    # function but not the query
    return rebind_session(query_scoped(labels), spark).select(
        "node", F.col("label").alias("component")
    )


def _propagate(
    und: DataFrame,
    labels: DataFrame,
    max_rounds: int,
    stats: dict | None = None,
    jumps: int = 1,
    flood_steps: int = 2,
) -> DataFrame:
    for round_no in range(max_rounds):
        # ``flood_steps`` neighbor-min propagations chained inside ONE
        # round-plan before the materialization barrier. Real dup graphs
        # (random ids, near-clique components) converge flood-limited —
        # rounds ≈ diameter — and every round costs two eager checkpoints
        # plus a convergence collect REGARDLESS of data size, so batching k
        # flood hops per barrier divides the round count (and the barrier
        # count, the thing that dominates at cluster scale) by ~k. Measured
        # on the sf0.1 embedding dup graph, interleaved min-of-5: flood 2 =
        # 16 → 9 rounds, 7.55 → 7.09 s median (wins 4/5 reps); flood 3
        # regressed (the un-materialized step-1 subtree is recomputed by
        # each later step's self-reference, and the deeper plan costs more
        # than the saved barrier), as did fusing the pointer jump into the
        # same plan (1 ckpt/round: 9.8 s median — the jump's self-join
        # recomputes the whole flood chain). Each hop is monotone
        # non-increasing, so the fixpoint/convergence argument is
        # unchanged: a no-change round implies one hop alone changes
        # nothing. Per-round stats stay O(64)-bit: the round plan reads
        # only flat_checkpoint leaves.
        cur = labels.select("node", "label", F.col("label").alias("old_label"))
        for _ in range(flood_steps):
            nbr_min = (
                und.join(cur, und.dst == cur.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_min"))
            )
            cur = cur.join(nbr_min, cur.node == nbr_min.src, "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
                "old_label",
            )
        # eager checkpoint materializes the flooded step AND truncates
        # lineage, so the jump below self-joins a flat cached scan instead
        # of recomputing the flood chain twice
        stepped = flat_checkpoint(cur)
        # pointer jumping: label := label(label). Labels are node ids, so the
        # lookup is a node-sized self-join; left + coalesce covers the
        # (impossible in practice) dangling-pointer case. This is what turns
        # O(diameter) rounds into O(log diameter). ``jumps`` composes the
        # jump inside one round-plan (level k shortcuts 2^k hops), which cuts
        # ROUND COUNT on path-shaped graphs (synthetic 3000-chain: 16 → 5
        # rounds, ~3× faster isolated) — but the default stays 1 because on
        # the REAL dup graphs this repo clusters (random ids, small
        # near-clique components) convergence is flood-limited, not
        # pointer-limited: measured per-round changed-counts at sf0.1 showed
        # identical round counts (16) for jumps 1–3, so composition is pure
        # per-round join overhead there (+2 sort-merge self-joins/round;
        # semgate end-to-end regressed 8.3 s → 14 s with jumps=3). Label
        # monotonicity, the fixpoint argument and the convergence test are
        # unchanged at any level: every jump is non-increasing, so a
        # no-change round still implies the propagate step changed nothing.
        cur = stepped
        for _ in range(jumps):
            ptr = cur.select(
                F.col("node").alias("pnode"), F.col("label").alias("plabel")
            )
            cur = cur.join(ptr, cur.label == ptr.pnode, "left").select(
                "node",
                F.coalesce(F.col("plabel"), F.col("label")).alias("label"),
                "old_label",
            )
        new_labels = (
            cur.select(
                "node",
                "label",
                (F.col("label") != F.col("old_label")).alias("_changed"),
            )
        )
        new_labels = flat_checkpoint(new_labels)
        # sum over zero rows is NULL — an EMPTY graph is converged, not stuck
        changed = new_labels.agg(
            F.sum(F.col("_changed").cast("int")).alias("n")
        ).collect()[0]["n"] or 0
        # superseded checkpoints are unreachable from the new (truncated)
        # plan — free their RDD blocks now (plain unpersist() can't) to cap
        # peak storage at ~3×|nodes|
        free(labels)
        free(stepped)
        labels = new_labels
        if changed == 0:
            if stats is not None:
                stats["rounds"] = round_no + 1
            break
    else:
        free(labels)  # don't leak the last round on raise
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    return labels


def triangle_participation(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (``a < b``).

    Node-iterator join with ID orientation: every triangle x<y<z is
    enumerated exactly once as wedge (x,y)+(y,z) closed by edge (x,z), so
    the join fan-out is bounded by the oriented adjacency lists. At scale,
    orientation by (degree, id) instead of raw id bounds the wedge count by
    the graph's arboricity — the standard refinement; dup graphs (small
    near-clique clusters) are benign either way. Three keyed shuffles total
    (wedge build, closure semi-join, count rollup) — never an O(n^2)
    pair space."""
    e = pairs.select("a", "b")
    wedges = (
        e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .join(
            e.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
        )
    )
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"],
        "left_semi",
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
