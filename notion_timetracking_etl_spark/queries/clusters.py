"""Dedup cluster assignment (engine extension): near-dup pairs → connected
components → one kept representative per cluster.

The oracle reproduces the exact pipeline in DuckDB: same MinHash pair CTEs
(queries/dedup.py::MINHASH_PAIRS_CTES), then a recursive-CTE transitive
closure instead of the iterative label propagation — different algorithm,
identical fixpoint, which is exactly what a cross-engine check should pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..operators.cluster import connected_components
from ..sources.tpch import load_table
from .dedup import MINHASH_PAIRS_CTES, _sig_cte, near_dup_pairs_cached
from .registry import register
from .similarity import VALID_EMB_PRED_SQL, _cosine_sql
from .text import _QUALITY_SCORE_SQL

_SIG32_CTE = _sig_cte(32)


@register(
    "dedup_clusters",
    "A6,J8,F20",
    "Near-dup cluster assignment: MinHash+LSH verified pairs → min-label "
    "connected components → every document labeled with its cluster "
    "representative (smallest doc id) and cluster size. The full "
    "dedup-and-keep-one decision for a training corpus: keep doc_id == "
    "cluster_rep, drop the rest.",
    oracle=f"""
        WITH RECURSIVE {MINHASH_PAIRS_CTES},
        edges AS (
          SELECT a AS x, b AS y FROM pairs
          UNION
          SELECT b AS x, a AS y FROM pairs
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        ),
        rep AS (
          SELECT x, least(x, min(y)) AS component FROM reach GROUP BY x
        ),
        assign AS (
          SELECT d.doc_id,
                 CAST(COALESCE(r.component, d.doc_id) AS BIGINT) AS cluster_rep
          FROM documents d LEFT JOIN rep r ON r.x = d.doc_id
        ),
        csizes AS (
          SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
          FROM assign GROUP BY cluster_rep
        )
        SELECT assign.doc_id, assign.cluster_rep, csizes.cluster_size,
               CAST(assign.doc_id = assign.cluster_rep AS BOOLEAN) AS keep
        FROM assign JOIN csizes USING (cluster_rep)
        ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # session-materialized pair list shared with dedup_minhash_lsh/pagerank
    pairs = near_dup_pairs_cached(spark, sf_dir)
    cc = connected_components(pairs, "a", "b")
    assign = docs.select("doc_id").join(
        cc, docs.doc_id == cc.node, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
    )
    sizes = assign.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # O(corpus) output → distributed orderBy
    return (
        assign.join(sizes, "cluster_rep")
        .select(
            "doc_id",
            "cluster_rep",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_rep")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cluster-SUMMARY emission for the dup-quadratic pair families (r10 verdict
# task #6): the keep/drop decision only needs per-cluster facts, never the
# O(cluster²) pair list. Both summaries collapse to DISTINCT SIGNATURES /
# DISTINCT VECTORS before pairing — inside a mega-duplicate cluster every
# copy shares the signature, so the edge space shrinks from O(cluster²) to
# O(distinct²-within-radius) (measured at sf0.1: 1,243,684 doc pairs →
# 14,514 distinct-sig pairs) and the output is O(clusters) <= O(docs).
# The pair queries stay registered as audit twins.
# ---------------------------------------------------------------------------


@register(
    "dedup_simhash_cluster_summary",
    "A6,J8,A3-ext,F20",
    "Cluster-summary emission for the SimHash Hamming family — the "
    "keep/drop artifact with O(clusters) output where the pair twin "
    "(dedup_simhash_hamming) emits the dup-quadratic pair list: documents "
    "collapse to their DISTINCT 32-bit signatures first (every member of "
    "an exact-dup pile shares one signature, so the Hamming<=2 edge space "
    "drops from O(cluster^2) doc pairs to distinct-sig pairs — measured "
    "86x fewer at sf0.1: 1.24M -> 14.5k), the size-adaptive pigeonhole "
    "join runs over distinct signatures only, min-label connected "
    "components run on the signature graph (docs attach through their "
    "signature: hamming(s,s)=0 <= 2, so the signature-graph closure "
    "equals the doc-pair-graph closure exactly), and the emission is one "
    "row per cluster: representative (smallest doc id), member count, "
    "distinct-signature count, total bytes. The oracle replays signatures, "
    "the all-pairs distinct-sig ground truth and a recursive-CTE closure.",
    oracle=f"""
        WITH RECURSIVE {_SIG32_CTE},
        ds AS (SELECT DISTINCT simhash AS s FROM sig),
        sp AS (
          SELECT l.s AS x, r.s AS y FROM ds l JOIN ds r ON l.s < r.s
          WHERE bit_count(xor(l.s, r.s)) <= 2
        ),
        edges AS (
          SELECT x, y FROM sp UNION SELECT y AS x, x AS y FROM sp
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        ),
        rep AS (SELECT x, least(x, min(y)) AS component
                FROM reach GROUP BY x),
        assign AS (
          SELECT g.doc_id, d.n_chars, g.simhash AS s,
                 COALESCE(r.component, g.simhash) AS comp
          FROM sig g
          JOIN documents d USING (doc_id)
          LEFT JOIN rep r ON r.x = g.simhash
        )
        SELECT CAST(MIN(doc_id) AS BIGINT) AS cluster_rep,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct_sigs,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes
        FROM assign
        GROUP BY comp
        ORDER BY cluster_rep
    """,
)
def dedup_simhash_cluster_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.dedup import (
        hamming_pairs,
        simhash_from_hashes,
        word_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    # per-doc signatures feed the distinct-sig collapse AND the doc->cluster
    # attach — persist so the sha256-per-word chain runs once
    sigs = scoped_persist(
        docs.select(
            "doc_id", "n_chars", word_hashes(F.col("text")).alias("_hl")
        ).select(
            "doc_id",
            "n_chars",
            simhash_from_hashes(F.col("_hl"), 32).alias("s"),
        )
    )
    ds = scoped_persist(sigs.select("s").distinct())
    pairs = hamming_pairs(ds, "s", ["s"], n_bits=32, max_hamming=2)
    cc = connected_components(pairs.select("a", "b"), "a", "b")
    assign = sigs.join(cc, sigs.s == cc.node, "left").select(
        "doc_id",
        "n_chars",
        "s",
        F.coalesce(F.col("component"), F.col("s")).alias("comp"),
    )
    # O(clusters) output <= O(docs) -> distributed orderBy
    return (
        assign.groupBy("comp")
        .agg(
            F.min("doc_id").cast("bigint").alias("cluster_rep"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.countDistinct("s").cast("bigint").alias("n_distinct_sigs"),
            F.sum("n_chars").cast("bigint").alias("total_bytes"),
        )
        .select("cluster_rep", "cluster_size", "n_distinct_sigs", "total_bytes")
        .orderBy("cluster_rep")
    )


@register(
    "similarity_embedding_dup_clusters",
    "A6,J8,A3-ext",
    "Cluster-summary emission for the embedding-cosine near-dup family — "
    "the keep/drop artifact with O(clusters) output where the pair twin "
    "(similarity_embedding_near_dup) emits the pair list: vectors collapse "
    "to DISTINCT (label, embedding) groups first (node id = the group's "
    "smallest vec_id, so an exact-dup pile contributes ONE node instead of "
    "O(pile^2) pairs), label-blocked cosine>=0.3 edges run over distinct "
    "vectors only, min-label connected components run on the node graph, "
    "and docs attach through their group. A group's members are mutually "
    "linked iff its self-cosine clears the threshold (cos(v,v) ~ 1 for any "
    "positive-norm vector; NULL for a zero-norm or NULL-element vector via "
    "try_divide — exactly the pair query's predicate, so the summary "
    "closure equals the pair-graph closure including the degenerate "
    "cases: an unlinkable group's members stay singletons unless an "
    "external edge connects them). NULL-label vectors never pair (the "
    "pair join's label equality is null-rejecting) and route straight to "
    "singletons. Output per cluster: representative (smallest vec_id), "
    "member count, distinct-vector count.",
    oracle=f"""
        WITH RECURSIVE e AS (
          SELECT vec_id, embedding, label FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        ),
        dv AS (
          SELECT label, embedding,
                 CAST(MIN(vec_id) AS BIGINT) AS node,
                 COUNT(*) AS n_vecs
          FROM e WHERE label IS NOT NULL
          GROUP BY label, embedding
        ),
        sok AS (
          SELECT node,
                 COALESCE({_cosine_sql("embedding", "embedding")} >= 0.3,
                          FALSE) AS sok
          FROM dv
        ),
        ed AS (
          SELECT l.node AS x, r.node AS y
          FROM dv l JOIN dv r ON l.label = r.label AND l.node < r.node
          WHERE {_cosine_sql("l.embedding", "r.embedding")} >= 0.3
        ),
        edges AS (
          SELECT x, y FROM ed UNION SELECT y AS x, x AS y FROM ed
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e2.y FROM reach r JOIN edges e2 ON r.y = e2.x
        ),
        rep AS (SELECT x, least(x, min(y)) AS component
                FROM reach GROUP BY x),
        mem AS (
          SELECT v.vec_id, d.node, s.sok, r.component
          FROM e v
          JOIN dv d ON d.label = v.label AND d.embedding = v.embedding
          JOIN sok s ON s.node = d.node
          LEFT JOIN rep r ON r.x = d.node
        ),
        assign AS (
          SELECT vec_id, node,
                 CASE WHEN sok OR component IS NOT NULL
                      THEN COALESCE(component, node)
                      ELSE vec_id END AS ck
          FROM mem
          UNION ALL
          SELECT vec_id, CAST(vec_id AS BIGINT) AS node,
                 CAST(vec_id AS BIGINT) AS ck
          FROM e WHERE label IS NULL
        )
        SELECT CAST(MIN(vec_id) AS BIGINT) AS cluster_rep,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct_vecs
        FROM assign
        GROUP BY ck
        ORDER BY cluster_rep
    """,
)
def similarity_embedding_dup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.similarity import cosine, cosine_prenormed, norm_sq
    from .similarity import load_embeddings

    emb = load_embeddings(spark, sf_dir).select("vec_id", "embedding", "label")
    labeled = emb.filter(F.col("label").isNotNull())
    # distinct-vector collapse: one node per (label, embedding) group; the
    # self-cosine flag decides whether the group's members interlink (the
    # exact pair-query predicate, NULL-safe via try_divide -> coalesce)
    dv = scoped_persist(
        labeled.groupBy("label", "embedding")
        .agg(F.min("vec_id").cast("bigint").alias("node"))
        .select(
            "label",
            "embedding",
            "node",
            F.sqrt(norm_sq(F.col("embedding"))).alias("nrm"),
            F.coalesce(
                cosine(F.col("embedding"), F.col("embedding")) >= 0.3,
                F.lit(False),
            ).alias("sok"),
        )
    )
    left = dv.select(
        "label",
        F.col("node").alias("x"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    right = dv.select(
        "label",
        F.col("node").alias("y"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    ed = (
        left.join(right, "label")
        .filter(F.col("x") < F.col("y"))
        .filter(
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            )
            >= 0.3
        )
        .select("x", "y")
    )
    ccr = connected_components(ed, "x", "y").select(
        F.col("node").alias("cc_node"), "component"
    )
    mem = (
        labeled.join(
            dv.select("label", "embedding", "node", "sok"),
            ["label", "embedding"],
        )
        .join(ccr, F.col("node") == F.col("cc_node"), "left")
        .select(
            "vec_id",
            "node",
            F.when(
                F.col("sok") | F.col("component").isNotNull(),
                F.coalesce(F.col("component"), F.col("node")),
            )
            .otherwise(F.col("vec_id"))
            .alias("ck"),
        )
    )
    # NULL-label vectors can never pair (null-rejecting label equality in
    # the pair join) -> straight to singletons
    nulls = emb.filter(F.col("label").isNull()).select(
        "vec_id",
        F.col("vec_id").cast("bigint").alias("node"),
        F.col("vec_id").cast("bigint").alias("ck"),
    )
    # O(clusters) output <= O(vectors) -> distributed orderBy
    return (
        mem.unionByName(nulls)
        .groupBy("ck")
        .agg(
            F.min("vec_id").cast("bigint").alias("cluster_rep"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.countDistinct("node").cast("bigint").alias("n_distinct_vecs"),
        )
        .select("cluster_rep", "cluster_size", "n_distinct_vecs")
        .orderBy("cluster_rep")
    )


_PR_ITERS = 3


def _pagerank_oracle() -> str:
    # base_num must be BIT-IDENTICAL to the Spark side's teleport constant:
    # operators/pagerank.py computes `1.0 - DAMPING` in Python double
    # arithmetic = 0.15000000000000002, one ulp above CAST(0.15 AS DOUBLE).
    # Writing the same subtraction here makes both engines start from the
    # same double instead of relying on final-addition rounding to absorb
    # the difference (ADVICE r3: ~12-37% of (n, contrib) combinations would
    # NOT absorb it).
    damping = "CAST(0.85 AS DOUBLE)"
    base_num = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    ctes = [
        "und AS (SELECT a AS src, b AS dst FROM pairs"
        " UNION ALL SELECT b AS src, a AS dst FROM pairs)",
        "deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM und)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "p0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS p FROM nodes, nn)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            f"c{i} AS (SELECT e.dst,"
            f" CAST(SUM(CAST(floor(p.p / d.deg * 1e12 + 0.5)"
            f" AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS contrib"
            f" FROM und e JOIN p{i} p ON p.node = e.src"
            f" JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"p{i + 1} AS (SELECT nodes.node,"
            f" ({base_num} / nn.n) + {damping} * COALESCE(c.contrib,"
            f" CAST(0.0 AS DOUBLE)) AS p"
            f" FROM nodes CROSS JOIN nn LEFT JOIN c{i} c ON c.dst = nodes.node)"
        )
    return (
        ",\n".join(ctes)
        + f"""
        SELECT p.node, CAST(d.deg AS BIGINT) AS degree, p.p AS pagerank
        FROM p{_PR_ITERS} p JOIN deg d ON d.src = p.node
        ORDER BY pagerank DESC, node ASC
        LIMIT 20
    """
    )


@register(
    "pagerank_dup_graph",
    "A3-ext,J8",
    f"PageRank ({_PR_ITERS} power iterations, damping 0.85) over the "
    "MinHash near-dup graph: top-20 duplication hubs — the documents most "
    "central to template/boilerplate/mirror structure, the triage signal "
    "after clustering. One keyed shuffle per iteration (messages p/deg "
    "along edges, map-side partial sums), per-round checkpoints, fixed-"
    "point exact accumulation; the oracle regenerates the full power "
    "iteration in SQL off the same pair CTEs as dedup_clusters.",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES},
        {_pagerank_oracle()}
    """,
)
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import pagerank

    # session-materialized pair list shared with the other dup-graph queries
    pairs = near_dup_pairs_cached(spark, sf_dir)
    pr = pagerank(pairs, "a", "b", iters=_PR_ITERS)
    # bounded top-20 → TakeOrdered, no full sort
    return pr.orderBy(F.col("pagerank").desc(), F.col("node").asc()).limit(20)


@register(
    "graph_triangle_participation",
    "A-ext-graph,J8",
    "Per-document triangle participation in the near-dup graph — the "
    "clustering-coefficient numerator that separates tight dup cliques "
    "from chain-shaped false-positive paths. Node-iterator enumeration "
    "with ID orientation (each triangle counted once as an x<y<z wedge "
    "closed by a semi-join; three keyed shuffles, fan-out bounded by "
    "oriented adjacency — operators/cluster.py::triangle_participation). "
    "The oracle replays the same oriented wedge closure off the shared "
    "MinHash pair CTEs.",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES},
        e AS (SELECT a, b FROM pairs),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e2.a = e1.b
          WHERE EXISTS (
            SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        ) participants
        GROUP BY node
        ORDER BY node
    """,
)
def graph_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import triangle_participation

    pairs = near_dup_pairs_cached(spark, sf_dir)
    return triangle_participation(pairs).orderBy("node")


@register(
    "dedup_keep_best_quality",
    "A6,J8,O3-analog",
    "Quality-aware canonical selection — the step between cluster "
    "assignment and the final corpus: within each multi-document near-dup "
    "cluster, KEEP the highest-quality member (exact integer-micro quality "
    "argmax, doc id tiebreak) instead of the arbitrary min-id, and report "
    "what deduplication saves (dropped docs/bytes per cluster). Quality is "
    "computed map-side per document; the argmax is one struct-min groupBy "
    "(no window), so the plan is two keyed shuffles past the shared pair "
    "list at any corpus size. The oracle replays the same closure and "
    "picks the representative with a per-cluster ROW_NUMBER.",
    oracle=f"""
        WITH RECURSIVE {MINHASH_PAIRS_CTES},
        edges AS (
          SELECT a AS x, b AS y FROM pairs
          UNION
          SELECT b AS x, a AS y FROM pairs
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        ),
        rep AS (
          SELECT x, least(x, min(y)) AS component FROM reach GROUP BY x
        ),
        assign AS (
          SELECT d.doc_id, d.n_chars,
                 CAST(COALESCE(r.component, d.doc_id) AS BIGINT)
                   AS cluster_rep,
                 CAST(COALESCE(floor(({_QUALITY_SCORE_SQL}) * 1000000.0), 0)
                      AS BIGINT) AS q_micro
          FROM documents d LEFT JOIN rep r ON r.x = d.doc_id
        ),
        best AS (
          SELECT cluster_rep, doc_id, q_micro, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY cluster_rep
                     ORDER BY q_micro DESC, doc_id) AS rk
          FROM assign
        ),
        agg AS (
          SELECT cluster_rep,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS total_bytes
          FROM assign GROUP BY cluster_rep
        )
        SELECT a.cluster_rep, a.n_docs,
               b.doc_id AS kept_doc_id,
               b.q_micro AS kept_q_micro,
               CAST(a.n_docs - 1 AS BIGINT) AS dropped_docs,
               CAST(a.total_bytes - b.n_chars AS BIGINT) AS dropped_bytes
        FROM agg a
        JOIN best b ON b.cluster_rep = a.cluster_rep AND b.rk = 1
        WHERE a.n_docs > 1
        ORDER BY a.cluster_rep
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_cached(spark, sf_dir)
    cc = connected_components(pairs, "a", "b")
    assign = docs.select(
        "doc_id",
        "n_chars",
        # NULL text scores 0 (worst) on BOTH engines — a NULL q_micro would
        # otherwise ride each engine's divergent NULL ordering into the argmax
        F.coalesce(
            F.floor(quality_score(F.col("text")) * 1000000.0), F.lit(0)
        )
        .cast("bigint")
        .alias("q_micro"),
    ).join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id",
        "n_chars",
        "q_micro",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
    )
    # exact argmax without a window: struct-min on (-quality, doc_id); the
    # kept doc's n_chars rides along in the struct (never compared — the
    # (q, id) prefix is already unique)
    picked = assign.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
        F.min(
            F.struct(
                (-F.col("q_micro")).alias("nq"),
                F.col("doc_id").alias("d"),
                F.col("n_chars").alias("nc"),
            )
        ).alias("m"),
    )
    return (
        picked.filter(F.col("n_docs") > 1)
        .select(
            "cluster_rep",
            "n_docs",
            F.col("m.d").alias("kept_doc_id"),
            (-F.col("m.nq")).cast("bigint").alias("kept_q_micro"),
            (F.col("n_docs") - 1).cast("bigint").alias("dropped_docs"),
            (F.col("total_bytes") - F.col("m.nc")).cast("bigint")
            .alias("dropped_bytes"),
        )
        .orderBy("cluster_rep")
    )
