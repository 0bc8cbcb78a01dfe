"""Registered k-means query (engine extension): Lloyd's over the embeddings
table, fully oracle-replayed — the DuckDB SQL regenerates every iteration
(assign → update → assign …) with the same deterministic init and the same
exact-decimal distance convention, so the cross-engine hash pins the entire
iterative computation, not just summary statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import flat_checkpoint, session_cached
from ..operators.kmeans import kmeans_fit
from ..sources.tpch import load_table
from .helpers import ordered_small
from .registry import register
from .similarity import load_embeddings

K = 8
ITERS = 3

def fitted_model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(assignments, centroids) for the session-shared (k=K, ITERS) model:
    trained once per corpus, shared by kmeans_embeddings and
    similarity_topk_ivf_kmeans. The centroid table is a k-row checkpoint;
    assignments rebuild from it as a cheap shuffle-free plan."""
    return session_cached(
        spark,
        sf_dir,
        "kmeans_model",
        lambda: kmeans_fit(
            load_embeddings(spark, sf_dir),
            "vec_id",
            "embedding",
            k=K,
            iters=ITERS,
            scoped=False,
        ),
    )


def kmeans_ctes(
    k: int, iters: int, train_pred: str | None = None
) -> tuple[list[str], str, str]:
    """The k-means iterations as DuckDB CTEs. Returns (cte_list,
    final_assignment_cte, final_centroid_dims_cte) — the last two name the
    CTEs holding (vec_id, cid, dist) and (cid, pos, val) after ``iters``
    iterations, for oracles that consume the fitted model (e.g. IVF).
    ``train_pred`` restricts TRAINING to a sub-corpus (the stale-index
    replay in ann_index_refresh trains on pre-arrival vectors only)."""
    from .similarity import VALID_EMB_PRED_SQL

    extra = f" AND ({train_pred})" if train_pred else ""
    ctes = [
        # the validity ingest contract gates training exactly like the
        # Spark side's load_embeddings (ADVICE r7 class: a NULL/ragged
        # vector must not poison centroid means differently per engine)
        f"ve AS (SELECT vec_id, embedding FROM embeddings"
        f" WHERE {VALID_EMB_PRED_SQL}{extra})",
        f"cd0 AS (SELECT vec_id AS cid, generate_subscripts(embedding,1) AS pos,"
        f" CAST(unnest(embedding) AS DOUBLE) AS val FROM"
        f" (SELECT vec_id, embedding FROM ve ORDER BY vec_id LIMIT {k}))",
        "vdims AS (SELECT vec_id, generate_subscripts(embedding,1) AS pos,"
        " CAST(unnest(embedding) AS DOUBLE) AS val FROM ve)",
    ]
    for i in range(iters):
        ctes.append(
            f"d{i} AS (SELECT v.vec_id, c.cid,"
            f" SUM(CAST(floor((v.val-c.val)*(v.val-c.val)*1e12 + 0.5)"
            f" AS DECIMAL(38,0))) AS dist"
            f" FROM vdims v JOIN cd{i} c USING (pos) GROUP BY 1, 2)"
        )
        ctes.append(
            f"a{i} AS (SELECT vec_id, cid, dist FROM"
            f" (SELECT vec_id, cid, dist, row_number() OVER"
            f" (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d{i})"
            f" WHERE rn = 1)"
        )
        if i < iters - 1:
            ctes.append(
                f"m{i + 1} AS (SELECT a.cid, v.pos,"
                f" CAST(SUM(CAST(floor(v.val * 1e12 + 0.5) AS DECIMAL(38,0)))"
                f" AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e12)"
                f" AS val FROM vdims v JOIN a{i} a USING (vec_id) GROUP BY 1, 2)"
            )
            ctes.append(
                f"cd{i + 1} AS (SELECT cd.cid, cd.pos,"
                f" COALESCE(m.val, cd.val) AS val FROM cd{i} cd"
                f" LEFT JOIN m{i + 1} m ON m.cid = cd.cid AND m.pos = cd.pos)"
            )
    return ctes, f"a{iters - 1}", f"cd{iters - 1}"


def _oracle_sql(k: int, iters: int) -> str:
    ctes, a_last, _cd_last = kmeans_ctes(k, iters)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT cid AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(vec_id) AS BIGINT) AS vec_id_checksum,
               CAST(SUM(dist) AS DOUBLE) / 1e12 AS inertia
        FROM {a_last}
        GROUP BY cid
        ORDER BY cluster_id
    """
    )


@register(
    "kmeans_embeddings",
    "A3-ext,J4-analog",
    f"Distributed Lloyd's k-means (k={K}, {ITERS} iterations, deterministic "
    "min-id init) over the 64-dim embeddings: shuffle-free assignment via a "
    "broadcast centroid array + row-local argmin fold, k×dims-row update "
    "shuffles via map-side partial aggregation, per-iteration centroid "
    "checkpoints. Exact-decimal distances make the whole iterative "
    "computation cross-engine replayable; the oracle regenerates every "
    "iteration in SQL. Output: per-cluster size, member checksum, inertia.",
    oracle=_oracle_sql(K, ITERS),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg, _cent = fitted_model(spark, sf_dir)
    return ordered_small(
        asg.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("vec_id").cast("bigint").alias("vec_id_checksum"),
            (F.sum("dist").cast("double") / F.lit(1e12)).alias("inertia"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "vec_id_checksum",
            "inertia",
        ),
        "cluster_id",
    )


SEMDEDUP_T = 0.3

# r7 verdict task #1 (the "frozen k=8 quantizer" scale-killer): the
# quantizer now REFINES with corpus size instead of re-running Lloyd's
# with an ever-growing k. Re-fitting k ∝ n is the wrong production shape
# on Spark — exact nearest-centroid assignment costs O(n·k·d), so a k
# that tracks the corpus makes TRAINING quadratic while fixing pairing.
# The two-level quantizer keeps both linear: the learned k-means coarse
# partition stays at k=K (training O(n·K·d) forever, model persisted via
# operators/model_store.py in production), and each cluster subdivides by
# the first `bits` sign bits of the corpus-wide SRP signature, where
# `bits` is the smallest b with n <= K·SEM_TARGET_CELL·2^b — the same
# integer-exact adaptive-cell scheme as knn_graph_stats. Expected refined
# cell size stays ~SEM_TARGET_CELL at any corpus size, so the SemDeDup
# pair space is O(n·cell) and the incremental gate is O(batch·cell) —
# both linear in n. SRP cells are locality-sensitive (angularly close
# vectors share sign bits), so subdividing a semantic cluster by SRP
# keeps near-duplicates together — the candidate recall the coarse
# cluster gave, at bounded cell size.
SEM_TARGET_CELL = 128
SEM_MAX_BITS = 32  # refinement adapts to ~K·128·2^31 vectors, then raises


def _sem_bits_terms(n_sql: str) -> str:
    """Integer-exact refinement-bit count: both engines compare the corpus
    count against the same integer thresholds — zero FP-boundary risk."""
    return " + ".join(
        f"(CASE WHEN {n_sql} > {K * SEM_TARGET_CELL * (1 << b)} THEN 1 ELSE 0 END)"
        for b in range(SEM_MAX_BITS)
    )


def _sem_cell_ctes(a_last: str) -> list[str]:
    """DuckDB CTEs deriving the refined cell id per corpus vector: memx
    (membership + full SRP signature), sbv (the adaptive bits scalar),
    memc (cell = '<cid>:<sig prefix>')."""
    from ..operators.similarity import srp_planes
    from .similarity import EMB_DIMS, _plane_dot_sql

    # EMB_DIMS, not a literal: the Spark side (_refined_cells) generates its
    # planes at dims=EMB_DIMS, and a dims mismatch would silently
    # desynchronize the oracle's cell partition from the plan's (ADVICE r8).
    planes = srp_planes(SEM_MAX_BITS, dims=EMB_DIMS)
    sig = (
        "("
        + " || ".join(
            f"(CASE WHEN {_plane_dot_sql('e.embedding', p)} >= 0.0"
            " THEN '1' ELSE '0' END)"
            for p in planes
        )
        + ")"
    )
    return [
        f"memx AS (SELECT a.cid, a.vec_id, e.embedding, {sig} AS sig"
        f" FROM {a_last} a JOIN ve e USING (vec_id))",
        f"sbv AS (SELECT ({_sem_bits_terms('COUNT(*)')}) AS bits FROM memx)",
        "memc AS (SELECT cid, vec_id, embedding,"
        " (CAST(cid AS VARCHAR) || ':' ||"
        " substr(sig, 1, (SELECT bits FROM sbv))) AS cell FROM memx)",
    ]


def sem_bits_agg(df: DataFrame) -> DataFrame:
    """One-row (bits INT) aggregate of the corpus-count refinement bits,
    WITH the saturation guard: past the adaptive range the computation
    fails loudly (raise_error) instead of silently re-entering linear cell
    growth. The one shared bits recipe for every consumer of
    :func:`sem_state_base` state — the session cells cache and the semgate
    deletion sweep (a consumer without the guard would silently saturate
    where the other path deliberately fails — r11 review)."""
    terms = _sem_bits_terms("count(1)")
    return df.agg(
        F.expr(
            f"CASE WHEN ({terms}) >= {SEM_MAX_BITS} THEN "
            f"CAST(raise_error('semdedup: SRP refinement bits saturated at "
            f"SEM_MAX_BITS={SEM_MAX_BITS}; lift the cap') AS INT) "
            f"ELSE CAST(({terms}) AS INT) END"
        ).alias("bits")
    )


def sem_state_base(emb: DataFrame, asg: DataFrame) -> DataFrame:
    """(vec_id, cid, embedding, nrm, sig): the two-level quantizer state
    BEFORE cell truncation — what a production routing lake persists (the
    FULL SRP signature; cells derive at read time from the current
    corpus-count bits, so a corpus-size change re-cells by substring, never
    by re-hashing). The ONE canonical recipe shared by the session cells
    cache and the semgate deletion sweep (queries/forget.py) — a copied
    recipe that drifted would surface as a swept-vs-rebuilt hash
    mismatch."""
    from ..operators.similarity import norm_sq, srp_planes, srp_signature_bands
    from .similarity import EMB_DIMS

    planes = srp_planes(SEM_MAX_BITS, dims=EMB_DIMS)
    return (
        asg.select("vec_id", "cid")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("nrm", F.sqrt(norm_sq(F.col("embedding"))))
        .withColumn(
            "sig", srp_signature_bands(F.col("embedding"), planes, bands=1)[0]
        )
    )


def sem_state_base_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized routing lake (vec_id, cid, embedding, nrm, sig) —
    the table sem_state_base's docstring names as what production PERSISTS
    once per corpus snapshot, flat-checkpointed once per corpus: both the
    semdedup cells derivation and the semgate deletion sweep read the same
    physical state instead of re-planning and re-hashing the assign+SRP
    chain per consumer."""
    return session_cached(
        spark,
        sf_dir,
        "sem_state_base",
        lambda: flat_checkpoint(
            sem_state_base(
                load_embeddings(spark, sf_dir), fitted_model(spark, sf_dir)[0]
            )
        ),
    )


def _refined_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, cell, embedding, nrm): two-level quantizer membership.

    The bits scalar rides a one-row broadcast aggregate (no driver count
    round-trip), with the same saturation guard as knn_graph_stats: past
    the adaptive range the query fails loudly instead of silently
    re-entering linear cell growth.

    Checkpointed once per corpus (session scope): semdedup_embeddings and
    semdedup_incremental consume the same partition, and a production
    pipeline materializes cell assignments once per corpus snapshot anyway
    (they are the routing table every ingest batch joins)."""
    return session_cached(
        spark,
        sf_dir,
        "refined_cells",
        lambda: _fill_refined_cells(spark, sf_dir),
    )


def _fill_refined_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = sem_state_base_cached(spark, sf_dir)
    bits = sem_bits_agg(base)
    return (
        base.crossJoin(F.broadcast(bits))
        .withColumn(
            "cell",
            F.concat(
                F.col("cid").cast("string"),
                F.lit(":"),
                F.expr("substring(sig, 1, bits)"),
            ),
        )
        .drop("sig", "bits")
        .localCheckpoint(eager=True)
    )


def _semdedup_oracle_sql(k: int, iters: int, threshold: float) -> str:
    from .similarity import _cosine_sql

    ctes, a_last, _cd_last = kmeans_ctes(k, iters)
    ctes = ctes + _sem_cell_ctes(a_last) + [
        f"pairs AS (SELECT l.cid, r.vec_id AS b"
        f" FROM memc l JOIN memc r ON l.cell = r.cell AND l.vec_id < r.vec_id"
        f" WHERE {_cosine_sql('l.embedding', 'r.embedding')} >= {threshold})",
        "removed AS (SELECT DISTINCT cid, b FROM pairs)",
        "rm AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_removed,"
        " CAST(SUM(b) AS BIGINT) AS removed_checksum FROM removed GROUP BY 1)",
        f"sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members"
        f" FROM {a_last} GROUP BY 1)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
        SELECT sizes.cid AS cluster_id,
               n_members,
               CAST(COALESCE(rm.n_removed, 0) AS BIGINT) AS n_removed,
               CAST(n_members - COALESCE(rm.n_removed, 0) AS BIGINT) AS n_kept,
               CAST(COALESCE(rm.removed_checksum, 0) AS BIGINT)
                 AS removed_checksum
        FROM sizes LEFT JOIN rm USING (cid)
        ORDER BY cluster_id
    """
    )


@register(
    "semdedup_embeddings",
    "A6-ext-sem,J4-analog",
    f"SemDeDup (Abbas et al. 2023) on the ADAPTIVE two-level quantizer: "
    f"coarse k-means partition (k={K}, {ITERS} Lloyd's iterations, the "
    "session-shared model — persisted via model_store in production) "
    "subdivided by corpus-size-scaled SRP sign bits, so refined cells "
    f"stay ~{SEM_TARGET_CELL} vectors at ANY corpus size (r7 verdict fix "
    "for the frozen-k pair-space blowup: pairing is O(n x cell), training "
    "stays O(n x k) — both linear, where re-fitting k with the corpus "
    f"would be quadratic in assignment). A vector with cosine >= "
    f"{SEMDEDUP_T} to a lower-id cell-mate is removed (deterministic "
    "keep-lowest-id). The cell self-join shuffles on the refined cell id, "
    "whose cardinality grows with the corpus — parallelism scales with "
    "the data. Output: per-COARSE-cluster members/removed/kept + "
    "removed-id checksum. The oracle replays training, refinement, "
    "pairing, and the prune end-to-end in SQL.",
    oracle=_semdedup_oracle_sql(K, ITERS, SEMDEDUP_T),
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_prenormed

    asg, _cent = fitted_model(spark, sf_dir)
    mem = _refined_cells(spark, sf_dir)
    left = mem.select(
        "cell",
        "cid",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    right = mem.select(
        "cell",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        left.join(right, "cell")
        .filter(F.col("a") < F.col("b"))
        .select(
            "cid",
            "b",
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_T)
    )
    rm = (
        pairs.select("cid", "b")
        .distinct()
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_removed"),
            F.sum("b").cast("bigint").alias("removed_checksum"),
        )
    )
    sizes = asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return ordered_small(
        sizes.join(rm, "cid", "left").select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint")
            .alias("n_removed"),
            (
                F.col("n_members") - F.coalesce(F.col("n_removed"), F.lit(0))
            ).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("removed_checksum"), F.lit(0)).cast("bigint")
            .alias("removed_checksum"),
        ),
        "cluster_id",
    )


SEM_MAX_CELL = 4096  # corpus-representative valve per refined cell


def _semdedup_incr_oracle_sql(k: int, iters: int, threshold: float) -> str:
    from .similarity import _cosine_sql

    ctes, a_last, _cd_last = kmeans_ctes(k, iters)
    ctes = ctes + _sem_cell_ctes(a_last) + [
        f"corp AS (SELECT cell, vec_id, embedding FROM"
        f" (SELECT cell, vec_id, embedding, ROW_NUMBER() OVER"
        f" (PARTITION BY cell ORDER BY vec_id) AS crn"
        f" FROM memc WHERE vec_id % 10 <> 9) WHERE crn <= {SEM_MAX_CELL})",
        f"xp AS (SELECT b.cell, b.vec_id, c.vec_id AS matched_vec,"
        f" {_cosine_sql('b.embedding', 'c.embedding')} AS cos"
        f" FROM memc b JOIN corp c ON b.cell = c.cell"
        f" WHERE b.vec_id % 10 = 9"
        f" AND {_cosine_sql('b.embedding', 'c.embedding')} >= {threshold})",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
        SELECT vec_id, cell, matched_vec, cos
        FROM (
          SELECT vec_id, cell, matched_vec, cos,
                 row_number() OVER (
                   PARTITION BY vec_id ORDER BY cos DESC, matched_vec
                 ) AS rn
          FROM xp
        )
        WHERE rn = 1
        ORDER BY vec_id
    """
    )


@register(
    "semdedup_incremental",
    "A6-ext-sem,J8-analog",
    "Incremental-ingest SEMANTIC dedup gate — the embedding twin of "
    "dedup_incremental_batch: the arriving batch (vec_id % 10 = 9) routes "
    "through the ADAPTIVE two-level quantizer (broadcast k-means "
    "centroids + corpus-size-scaled SRP refinement bits — the r7 verdict "
    "fix: refined cells stay ~SEM_TARGET_CELL at any corpus size, so the "
    "gate is O(batch x cell) = linear in the corpus, where the old "
    f"frozen-k cell grew ∝ n) and compares ONLY against corpus vectors "
    f"in its own refined cell, cosine >= {SEMDEDUP_T}. Cells keep at most "
    f"{SEM_MAX_CELL} corpus representatives (lowest ids — the MAX_BLOCK-"
    "style skew valve, dormant at tested scales since bits adapt first). "
    "Per flagged batch vector: its best corpus match (highest cosine, tie "
    "to the smallest corpus id) — the row an ingest pipeline uses to drop "
    "or link the arrival. In production the coarse model comes from "
    "operators/model_store.py and bits derive from the ingest-time corpus "
    "count; here it is the session-shared fit so the oracle can replay "
    "training, refinement, and the gate end-to-end in SQL.",
    oracle=_semdedup_incr_oracle_sql(K, ITERS, SEMDEDUP_T),
)
def semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import cosine_prenormed

    mem = _refined_cells(spark, sf_dir)
    is_new = F.col("vec_id") % 10 == 9
    batch = mem.filter(is_new).select(
        "cell",
        F.col("vec_id"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cw = Window.partitionBy("cell").orderBy("vec_id")
    corpus = (
        mem.filter(~is_new)
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= SEM_MAX_CELL)
        .select(
            "cell",
            F.col("vec_id").alias("matched_vec"),
            F.col("embedding").alias("vc"),
            F.col("nrm").alias("nc"),
        )
    )
    pairs = (
        batch.join(corpus, "cell")
        .select(
            "cell",
            "vec_id",
            "matched_vec",
            cosine_prenormed(
                F.col("vb"), F.col("vc"), F.col("nb"), F.col("nc")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_T)
    )
    # best corpus match per arriving vector via MAX over a comparison
    # struct (map-side combine, no per-key window sort); cosine ties break
    # to the SMALLEST corpus id, hence the negated id inside the struct.
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
    return best.orderBy("vec_id")


N_PROBE = 2


def _ivf_oracle_sql(k: int, iters: int, n_probe: int, topk: int) -> str:
    from .similarity import _cosine_sql, _QUERY_PRED

    ctes, a_last, cd_last = kmeans_ctes(k, iters)
    ctes = ctes + [
        f"q AS (SELECT vec_id AS query_id, embedding AS query_vec"
        f" FROM ve WHERE {_QUERY_PRED})",
        # routing distance = the training metric (fixed-point sq dist)
        f"dq AS (SELECT v.vec_id AS query_id, c.cid,"
        f" SUM(CAST(floor((v.val-c.val)*(v.val-c.val)*1e12 + 0.5)"
        f" AS DECIMAL(38,0))) AS dist"
        f" FROM vdims v JOIN {cd_last} c USING (pos)"
        f" WHERE v.vec_id IN (SELECT query_id FROM q) GROUP BY 1, 2)",
        f"probes AS (SELECT query_id, cid FROM"
        f" (SELECT query_id, cid, row_number() OVER"
        f" (PARTITION BY query_id ORDER BY dist, cid) AS rn FROM dq)"
        f" WHERE rn <= {n_probe})",
        f"cells AS (SELECT a.cid, a.vec_id, e.embedding"
        f" FROM {a_last} a JOIN ve e USING (vec_id))",
        f"scored AS (SELECT p.query_id, cl.cid AS cell, cl.vec_id,"
        f" {_cosine_sql('q.query_vec', 'cl.embedding')} AS cos"
        f" FROM probes p JOIN q USING (query_id)"
        f" JOIN cells cl ON cl.cid = p.cid)",
        "ranked AS (SELECT query_id, cell, vec_id, cos,"
        " row_number() OVER (PARTITION BY query_id"
        " ORDER BY cos DESC, vec_id ASC) AS rank FROM scored)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT query_id, rank, cell, vec_id, cos
        FROM ranked WHERE rank <= {topk}
        ORDER BY query_id, rank
    """
    )


@register(
    "similarity_topk_ivf_kmeans",
    "J4-analog,A1,O3",
    f"True IVF ANN: k-means coarse quantizer (k={K}, {ITERS} iterations) "
    f"trained on the corpus, each query probes its {N_PROBE} nearest cells "
    "(fixed-point routing metric = the training metric), exact cosine "
    "re-rank inside the probed cells only. The production composition of "
    "kmeans_embeddings + similarity_topk_ivf: centroids broadcast for both "
    "routing and cell fan-out; the oracle replays training, routing and "
    "re-rank end-to-end in SQL.",
    oracle=_ivf_oracle_sql(K, ITERS, N_PROBE, 10),
)
def similarity_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_ivf_kmeans
    from .similarity import _query_set

    emb = load_embeddings(spark, sf_dir)
    corpus = emb.select("vec_id", "embedding")
    out = topk_ivf_kmeans(
        corpus,
        _query_set(spark, sf_dir),
        k=10,
        n_probe=N_PROBE,
        model=fitted_model(spark, sf_dir),
    )
    return ordered_small(
        out.select("query_id", "rank", F.col("cell").cast("bigint"), "vec_id", "cos"),
        "query_id",
        "rank",
    )


# ---------------------------------------------------------------------------
# ANN index staleness monitoring: per-cell occupancy drift between the
# corpus the quantizer serves and the arriving cohort — the retrain trigger.
# ---------------------------------------------------------------------------


def _ann_drift_oracle_sql(k: int, iters: int) -> str:
    ctes, a_last, _cd = kmeans_ctes(k, iters)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        , coh AS (
          SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(SUM(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_arrivals
          FROM {a_last} GROUP BY cid
        ),
        tot AS (
          SELECT CAST(SUM(n_members) AS BIGINT) AS t_members,
                 CAST(SUM(n_arrivals) AS BIGINT) AS t_arrivals
          FROM coh
        )
        SELECT cid AS cluster_id,
               n_members,
               n_arrivals,
               CAST((n_arrivals * 1000000) // n_members AS BIGINT)
                 AS arrival_rate_micro,
               CAST((t_arrivals * 1000000) // t_members AS BIGINT)
                 AS global_rate_micro,
               (n_arrivals * t_members > 2 * n_members * t_arrivals)
                 AS drift_hot,
               (2 * n_arrivals * t_members < n_members * t_arrivals)
                 AS drift_cold
        FROM coh CROSS JOIN tot
        ORDER BY cluster_id
    """
    )


@register(
    "ann_index_drift",
    "ext:similarity,A7-analog,V3-analog",
    f"ANN index STALENESS audit — the retrain trigger a production vector "
    "index runs as batches arrive: every vector routes through the frozen "
    f"k={K} quantizer (the session-cached fitted model — production loads "
    "it via model_store), and per cell the report compares the arriving "
    "cohort's occupancy (vec_id % 10 = 9, the established ingest split) "
    "against the cell's total. A cell whose arrival rate runs hot (> 2x "
    "the global rate, exact integer cross-multiplication — no FP boundary) "
    "is where the index is growing stalest; a cold cell (< 0.5x) is dead "
    "weight. Complements embedding_drift_report: that audits the "
    "DISTRIBUTION (centroid/norm drift), this audits the INDEX (where the "
    "new mass lands). All integer-exact and oracle-replayed through the "
    "full Lloyd's iteration CTEs; output is k rows off one grouped "
    "aggregate over the cached assignment table.",
    oracle=_ann_drift_oracle_sql(K, ITERS),
)
def ann_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg, _cent = fitted_model(spark, sf_dir)
    coh = asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(
            F.when(F.col("vec_id") % 10 == 9, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_arrivals"),
    )
    tot = coh.agg(
        F.sum("n_members").cast("bigint").alias("t_members"),
        F.sum("n_arrivals").cast("bigint").alias("t_arrivals"),
    )
    return ordered_small(
        coh.crossJoin(F.broadcast(tot)).select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "n_arrivals",
            # exact long division (Spark `div`) matching the oracle's BIGINT
            # `//`: floor(double division) rounds once the numerator exceeds
            # 2^53 and can land 1 off the oracle (ADVICE r9)
            F.expr("(n_arrivals * 1000000) div n_members")
            .cast("bigint")
            .alias("arrival_rate_micro"),
            F.expr("(t_arrivals * 1000000) div t_members")
            .cast("bigint")
            .alias("global_rate_micro"),
            (
                F.col("n_arrivals") * F.col("t_members")
                > F.lit(2) * F.col("n_members") * F.col("t_arrivals")
            ).alias("drift_hot"),
            (
                F.lit(2) * F.col("n_arrivals") * F.col("t_members")
                < F.col("n_members") * F.col("t_arrivals")
            ).alias("drift_cold"),
        ),
        "cluster_id",
    )


# ---------------------------------------------------------------------------
# Drift -> ACTION (r9 verdict task #4): incremental ANN index maintenance.
# ann_index_drift flags hot cells; this operator CONSUMES the flags — re-fit
# ONLY the flagged cells' centroids from their current members and re-route
# only those cells' vectors, leaving the rest of the index frozen. Cost is
# O(flagged mass), never a full refit, and the query measures what the
# maintenance bought: IVF recall@k for arrival queries under the stale vs
# the refreshed index against brute-force truth.
# ---------------------------------------------------------------------------

ANN_REFRESH_TOPK = 5
# the established ingest split: arrivals are vec_id % 10 = 9; the query set
# is its 10 smallest ids — deterministic at every scale factor
ANN_ARRIVAL_PRED = "vec_id % 10 = 9"
ANN_REFRESH_QUERY_PRED = "vec_id % 10 = 9 AND vec_id < 100"
# Sampled-truth audit corpus (r10 verdict task #4): recall evidence comes
# from a FIXED-SIZE deterministic sample — the ANN_AUDIT_K smallest
# sha256('audit:'||vec_id) values (TakeOrdered, never a global window) —
# so the brute-force truth subtree costs O(queries x AUDIT_K) at ANY
# corpus scale instead of O(queries x corpus). The sample is uniform in
# vec_id, so sampled recall is an unbiased estimator of full recall
# (sample-vs-full agreement pinned in tests/test_round11.py).
ANN_AUDIT_K = 256


def _audit_hash_col() -> "F.Column":
    return F.conv(
        F.substring(
            F.sha2(
                F.concat(F.lit("audit:"), F.col("vec_id").cast("string")), 256
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")


_AUDIT_HASH_SQL = (
    "CAST(concat('0x', substr(sha256(concat('audit:',"
    " CAST(vec_id AS VARCHAR))), 1, 14)) AS BIGINT)"
)


def ann_refresh_frames(
    emb: DataFrame,
    k: int = K,
    iters: int = ITERS,
    n_probe: int = N_PROBE,
    topk: int = ANN_REFRESH_TOPK,
    arrival_pred: str = ANN_ARRIVAL_PRED,
    query_pred: str = ANN_REFRESH_QUERY_PRED,
    audit_k: int = ANN_AUDIT_K,
) -> DataFrame:
    """One-row summary of an incremental ANN index refresh.

    Pipeline (every stage deterministic and oracle-replayable):

    1. STALE index: quantizer trained on the pre-arrival corpus only
       (``NOT arrival_pred``) — the state a production index is in when a
       drifted cohort lands; all vectors (arrivals included) are assigned
       through it.
    2. Drift flags: per stale cell, arrival occupancy vs the global rate —
       the exact hot-cell predicate of ``ann_index_drift`` (integer
       cross-multiplication).
    3. Incremental refresh: HOT cells re-center to the mean of their
       CURRENT members (the same fixed-point m-step as training), cold
       cells stay frozen; only hot-cell members re-route against the
       updated centroid set — O(flagged mass) total work.
    4. Evidence: recall@``topk`` of the arrival query set under the stale
       vs refreshed index (IVF multi-probe search, exact-cosine re-rank)
       against brute-force truth over a FIXED-SIZE deterministic
       hash-sampled audit corpus (``audit_k`` smallest sha256 values — r10
       verdict task #4: the audit subtree costs O(queries x audit_k) at
       any corpus scale, where full brute truth was the one linear audit
       cost left); ``recovered`` = refreshed >= stale.

    Separated from the registered query so tests can drive it over a
    synthetic drifted corpus where the stale index measurably loses recall,
    and pin sampled-vs-full recall agreement (audit_k over-sized = exact
    full truth).
    """
    from ..lifecycle import scoped_flat_checkpoint, scoped_persist
    from ..operators.kmeans import _as_double_vec, _assign, _update, kmeans_fit
    from ..operators.similarity import topk_bruteforce, topk_ivf_kmeans

    old = emb.filter(~F.expr(arrival_pred))
    _asg_tr, cent_stale = kmeans_fit(old, "vec_id", "embedding", k, iters)
    vec_all = _as_double_vec(emb, "vec_id", "embedding")
    # consumed by flags, refresh filter, re-route anti-join and both
    # searches — a flat checkpoint (not persist) so those ~6 legs start
    # from a LogicalRDD leaf instead of each dragging the argmin expression
    # tree through Catalyst (the measured §3.3 planning-gap term of the
    # forget sweeps; this query showed a 2.8 s zero-stage gap before its
    # final report job)
    asg_all = scoped_flat_checkpoint(_assign(vec_all, cent_stale))

    coh = asg_all.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.expr(arrival_pred), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_arrivals"),
    )
    tot = coh.agg(
        F.sum("n_members").cast("bigint").alias("t_m"),
        F.sum("n_arrivals").cast("bigint").alias("t_a"),
    )
    hot = scoped_persist(
        coh.crossJoin(F.broadcast(tot))
        .filter(
            F.col("n_arrivals") * F.col("t_m")
            > F.lit(2) * F.col("n_members") * F.col("t_a")
        )
        .select("cid")
    )

    # m-step over hot-cell members only; cold centroids carry via coalesce.
    # cent_fresh is k rows read by the re-route and the whole fresh search
    # — checkpoint it flat like the fit loop checkpoints its per-iteration
    # centroids, so the m-step lineage leaves the search legs' plans
    asg_hot = asg_all.join(F.broadcast(hot), "cid")
    cent_fresh = scoped_flat_checkpoint(_update(vec_all, asg_hot, cent_stale))
    hot_members = asg_hot.select("vec_id")
    re_routed = _assign(vec_all.join(hot_members, "vec_id"), cent_fresh)
    asg_fresh = asg_all.select("vec_id", "cid").join(
        hot_members, "vec_id", "left_anti"
    ).unionByName(re_routed.select("vec_id", "cid"))

    queries = emb.filter(F.expr(query_pred)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # the audit corpus: audit_k smallest deterministic hashes — a
    # TakeOrderedAndProject (distributed partial top-k), never a global
    # window; searches AND truth all run against this fixed-size sample
    audit = scoped_flat_checkpoint(
        emb.select("vec_id", "embedding")
        .withColumn("_ah", _audit_hash_col())
        .orderBy("_ah", "vec_id")
        .limit(audit_k)
        .drop("_ah")
    )
    # truth feeds BOTH hit aggregates — checkpoint the O(n_queries * topk)
    # result so the reuse is guaranteed and the brute-force window leaves
    # the aggregates' plans
    truth = scoped_flat_checkpoint(
        topk_bruteforce(audit, queries, k=topk).select("query_id", "vec_id")
    )
    stale_k = topk_ivf_kmeans(
        audit, queries, k=topk, n_probe=n_probe, model=(asg_all, cent_stale)
    ).select("query_id", "vec_id")
    fresh_k = topk_ivf_kmeans(
        audit, queries, k=topk, n_probe=n_probe, model=(asg_fresh, cent_fresh)
    ).select("query_id", "vec_id")

    na = audit.agg(F.count(F.lit(1)).cast("bigint").alias("n_audit_corpus"))
    nq = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    nh = hot.agg(F.count(F.lit(1)).cast("bigint").alias("n_hot_cells"))
    nr = hot_members.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_refit_vectors")
    )
    hs = truth.join(stale_k, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("hits_stale")
    )
    hf = truth.join(fresh_k, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("hits_fresh")
    )
    rate = "CASE WHEN n_queries = 0 THEN NULL ELSE ({h} * 1000000) div (n_queries * {t}) END"
    return (
        nq.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nh))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hf))
        .select(
            "n_queries",
            "n_audit_corpus",
            "n_hot_cells",
            "n_refit_vectors",
            "hits_stale",
            "hits_fresh",
            F.expr(rate.format(h="hits_stale", t=topk))
            .cast("bigint")
            .alias("recall_stale_micro"),
            F.expr(rate.format(h="hits_fresh", t=topk))
            .cast("bigint")
            .alias("recall_fresh_micro"),
            (F.col("hits_fresh") >= F.col("hits_stale")).alias("recovered"),
        )
    )


def _ann_refresh_oracle_sql(
    k: int, iters: int, n_probe: int, topk: int
) -> str:
    from .similarity import VALID_EMB_PRED_SQL, _cosine_sql

    sq = (
        "SUM(CAST(floor((v.val-c.val)*(v.val-c.val)*1e12 + 0.5)"
        " AS DECIMAL(38,0)))"
    )
    ctes, a_last, cd_last = kmeans_ctes(
        k, iters, train_pred=f"NOT ({ANN_ARRIVAL_PRED})"
    )
    ctes = ctes + [
        # the FULL corpus (arrivals included) and its dims
        f"vea AS (SELECT vec_id, embedding FROM embeddings"
        f" WHERE {VALID_EMB_PRED_SQL})",
        "vadims AS (SELECT vec_id, generate_subscripts(embedding,1) AS pos,"
        " CAST(unnest(embedding) AS DOUBLE) AS val FROM vea)",
        # stale assignment of every vector
        f"da AS (SELECT v.vec_id, c.cid, {sq} AS dist"
        f" FROM vadims v JOIN {cd_last} c USING (pos) GROUP BY 1, 2)",
        "aall AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
        " row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn"
        " FROM da) WHERE rn = 1)",
        # drift flags (the ann_index_drift hot predicate)
        f"coh AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,"
        f" CAST(SUM(CASE WHEN {ANN_ARRIVAL_PRED} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_arrivals FROM aall GROUP BY 1)",
        "tot AS (SELECT CAST(SUM(n_members) AS BIGINT) AS t_m,"
        " CAST(SUM(n_arrivals) AS BIGINT) AS t_a FROM coh)",
        "hot AS (SELECT cid FROM coh, tot"
        " WHERE n_arrivals * t_m > 2 * n_members * t_a)",
        # incremental m-step: hot cells re-center from CURRENT members
        "mh AS (SELECT a.cid, v.pos,"
        " CAST(SUM(CAST(floor(v.val * 1e12 + 0.5) AS DECIMAL(38,0)))"
        " AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS val"
        " FROM vadims v JOIN aall a USING (vec_id)"
        " WHERE a.cid IN (SELECT cid FROM hot) GROUP BY 1, 2)",
        f"cdf AS (SELECT cd.cid, cd.pos, COALESCE(m.val, cd.val) AS val"
        f" FROM {cd_last} cd LEFT JOIN mh m"
        f" ON m.cid = cd.cid AND m.pos = cd.pos)",
        # re-route ONLY hot-cell members against the refreshed centroids
        "hm AS (SELECT vec_id FROM aall"
        " WHERE cid IN (SELECT cid FROM hot))",
        f"dref AS (SELECT v.vec_id, c.cid, {sq} AS dist"
        f" FROM vadims v JOIN cdf c USING (pos)"
        f" WHERE v.vec_id IN (SELECT vec_id FROM hm) GROUP BY 1, 2)",
        "aref AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
        " row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn"
        " FROM dref) WHERE rn = 1)",
        "afresh AS (SELECT vec_id, cid FROM aall"
        " WHERE vec_id NOT IN (SELECT vec_id FROM hm)"
        " UNION ALL SELECT vec_id, cid FROM aref)",
        # arrival query set + stale/fresh probes + truth
        f"q AS (SELECT vec_id AS query_id, embedding AS query_vec"
        f" FROM vea WHERE {ANN_REFRESH_QUERY_PRED})",
        f"dqs AS (SELECT v.vec_id AS query_id, c.cid, {sq} AS dist"
        f" FROM vadims v JOIN {cd_last} c USING (pos)"
        f" WHERE v.vec_id IN (SELECT query_id FROM q) GROUP BY 1, 2)",
        f"ps AS (SELECT query_id, cid FROM (SELECT query_id, cid,"
        f" row_number() OVER (PARTITION BY query_id ORDER BY dist, cid)"
        f" AS rn FROM dqs) WHERE rn <= {n_probe})",
        f"dqf AS (SELECT v.vec_id AS query_id, c.cid, {sq} AS dist"
        f" FROM vadims v JOIN cdf c USING (pos)"
        f" WHERE v.vec_id IN (SELECT query_id FROM q) GROUP BY 1, 2)",
        f"pf AS (SELECT query_id, cid FROM (SELECT query_id, cid,"
        f" row_number() OVER (PARTITION BY query_id ORDER BY dist, cid)"
        f" AS rn FROM dqf) WHERE rn <= {n_probe})",
        # the fixed-size deterministic audit sample (r10 verdict task #4)
        f"aud AS (SELECT vec_id, embedding FROM vea"
        f" ORDER BY {_AUDIT_HASH_SQL}, vec_id LIMIT {ANN_AUDIT_K})",
        f"s5 AS (SELECT query_id, vec_id FROM (SELECT p.query_id,"
        f" a.vec_id, row_number() OVER (PARTITION BY p.query_id ORDER BY"
        f" {_cosine_sql('q.query_vec', 'e.embedding')} DESC, a.vec_id ASC)"
        f" AS rank FROM ps p JOIN q USING (query_id)"
        f" JOIN aall a ON a.cid = p.cid JOIN aud e ON e.vec_id = a.vec_id)"
        f" WHERE rank <= {topk})",
        f"f5 AS (SELECT query_id, vec_id FROM (SELECT p.query_id,"
        f" a.vec_id, row_number() OVER (PARTITION BY p.query_id ORDER BY"
        f" {_cosine_sql('q.query_vec', 'e.embedding')} DESC, a.vec_id ASC)"
        f" AS rank FROM pf p JOIN q USING (query_id)"
        f" JOIN afresh a ON a.cid = p.cid JOIN aud e ON e.vec_id = a.vec_id)"
        f" WHERE rank <= {topk})",
        f"t5 AS (SELECT query_id, vec_id FROM (SELECT q.query_id,"
        f" e.vec_id, row_number() OVER (PARTITION BY q.query_id ORDER BY"
        f" {_cosine_sql('q.query_vec', 'e.embedding')} DESC, e.vec_id ASC)"
        f" AS rank FROM q, aud e) WHERE rank <= {topk})",
        "hs AS (SELECT CAST(COUNT(*) AS BIGINT) AS h"
        " FROM s5 JOIN t5 USING (query_id, vec_id))",
        "hf AS (SELECT CAST(COUNT(*) AS BIGINT) AS h"
        " FROM f5 JOIN t5 USING (query_id, vec_id))",
        "nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)",
        "naud AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM aud)",
        "nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hot)",
        "nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hm)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT nq.n AS n_queries,
               naud.n AS n_audit_corpus,
               nh.n AS n_hot_cells,
               nr.n AS n_refit_vectors,
               hs.h AS hits_stale,
               hf.h AS hits_fresh,
               CASE WHEN nq.n = 0 THEN NULL
                    ELSE (hs.h * 1000000) // (nq.n * {topk})
               END AS recall_stale_micro,
               CASE WHEN nq.n = 0 THEN NULL
                    ELSE (hf.h * 1000000) // (nq.n * {topk})
               END AS recall_fresh_micro,
               (hf.h >= hs.h) AS recovered
        FROM nq, naud, nh, nr, hs, hf
    """
    )


@register(
    "ann_index_refresh",
    "ext:similarity,A3-ext,V3-analog",
    "Drift -> ACTION: incremental ANN index maintenance consuming the "
    "ann_index_drift flags (r9 verdict task #4). The stale state is a "
    f"k={K} quantizer trained on the PRE-ARRIVAL corpus only; arrivals "
    "(vec_id % 10 = 9) route through it, hot cells surface by the exact "
    "integer drift predicate, and the refresh re-fits ONLY the hot cells "
    "(centroid := fixed-point mean of current members) and re-routes only "
    "their members — O(flagged mass), never a full refit; cold cells stay "
    "frozen, matching the model_store serve-many pattern. Evidence: "
    f"recall@{ANN_REFRESH_TOPK} of the arrival query set under stale vs "
    "refreshed IVF (multi-probe routing + exact-cosine re-rank) against "
    "brute-force truth over a FIXED-SIZE deterministic hash-sampled audit "
    f"corpus (the {ANN_AUDIT_K} smallest sha256('audit:'||vec_id) values, "
    "a distributed TakeOrdered — r10 verdict task #4: the audit subtree "
    "is O(queries x audit_k) at ANY corpus scale, retiring the last "
    "linear-at-scale audit cost; sampled recall is an unbiased estimator "
    "of full recall and the sample-vs-full agreement is pinned in "
    "tests/test_round11.py), with integer-exact micro rates and a "
    "recovered flag. The oracle replays stale training, full-corpus "
    "assignment, drift flags, partial m-step, incremental re-route, the "
    "audit sample, both searches and the truth ranking end-to-end; the "
    "drifted-fixture recall recovery (stale measurably loses, refreshed "
    "recovers) is pinned in tests/test_round10.py over ann_refresh_frames.",
    oracle=_ann_refresh_oracle_sql(K, ITERS, N_PROBE, ANN_REFRESH_TOPK),
)
def ann_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    # single-row output — ordered_small for the driver's stable collect
    return ordered_small(ann_refresh_frames(emb), "n_queries")
