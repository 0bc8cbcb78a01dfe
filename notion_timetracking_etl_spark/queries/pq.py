"""Registered product-quantization ANN query (engine extension): the DuckDB
oracle regenerates the ENTIRE pipeline in SQL — M per-subspace k-means
trainings (same deterministic init and fixed-point distance convention as
queries/kmeans.py), the corpus code assignments, the per-query codebook
distance tables, and the ADC ranking — so the cross-engine hash pins every
step of the quantized search, not just the final ids."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import session_cached
from ..operators.pq import PqModel, pq_fit, pq_search
from ..sources.tpch import load_table
from .helpers import ordered_small
from .registry import register
from .similarity import _QUERY_PRED, load_embeddings

M_SUBS = 4
PQ_K = 16
PQ_ITERS = 2
DIMS = 64
TOPK = 10
SHORTLIST = 100

def fitted_pq_model(spark: SparkSession, sf_dir: str) -> PqModel:
    """The PQ codebooks, trained once per corpus (session scope): in
    production the quantizer is trained ONCE and amortized over every
    search, so per-query re-training would misrepresent the operator's cost
    model. The fit is deterministic, so cached and fresh models hash the
    same."""
    return session_cached(
        spark,
        sf_dir,
        "pq_model",
        lambda: pq_fit(
            load_embeddings(spark, sf_dir),
            m=M_SUBS,
            k=PQ_K,
            iters=PQ_ITERS,
            dims=DIMS,
            scoped=False,
        ),
    )

_FIXED = "CAST(floor((v.val-c.val)*(v.val-c.val)*1e12 + 0.5) AS DECIMAL(38,0))"


def _pq_ctes(
    include_vdims: bool = True, src: str = "embeddings"
) -> tuple[list[str], list[str], list[str]]:
    """The PQ training/encoding/query-distance pipeline as DuckDB CTEs.
    Returns (ctes, per-subspace code CTE names, per-subspace query-distance
    CTE names) so composite oracles (IVF-PQ) can reuse the same trained
    codebooks with extra routing CTEs layered on top. ``src`` overrides the
    training relation — oracles whose COUNTS must mirror the Spark side's
    validity-filtered corpus exactly (the PQ deletion sweep) pass the
    filtered subquery; the search oracles keep the raw table (a NULL
    vector unnests to zero dims and falls out of every distance anyway)."""
    per = DIMS // M_SUBS
    ctes = [
        f"vdims AS (SELECT vec_id, generate_subscripts(embedding,1) AS pos,"
        f" CAST(unnest(embedding) AS DOUBLE) AS val FROM {src} AS e0)",
        f"cdinit AS (SELECT vec_id AS cid, generate_subscripts(embedding,1)"
        f" AS pos, CAST(unnest(embedding) AS DOUBLE) AS val FROM"
        f" (SELECT vec_id, embedding FROM {src} AS e1 ORDER BY vec_id"
        f" LIMIT {PQ_K}))",
        f"q AS (SELECT vec_id AS query_id FROM {src} AS e2"
        f" WHERE {_QUERY_PRED})",
    ]
    if not include_vdims:
        ctes = ctes[1:]  # composite oracles already define vdims
    for j in range(M_SUBS):
        lo, hi = j * per + 1, (j + 1) * per
        ctes.append(
            f"cdP{j}_0 AS (SELECT cid, pos, val FROM cdinit"
            f" WHERE pos BETWEEN {lo} AND {hi})"
        )
        for i in range(PQ_ITERS):
            ctes.append(
                f"dP{j}_{i} AS (SELECT v.vec_id, c.cid, SUM({_FIXED}) AS dist"
                f" FROM vdims v JOIN cdP{j}_{i} c USING (pos) GROUP BY 1, 2)"
            )
            ctes.append(
                f"aP{j}_{i} AS (SELECT vec_id, cid, dist FROM"
                f" (SELECT vec_id, cid, dist, row_number() OVER"
                f" (PARTITION BY vec_id ORDER BY dist, cid) AS rn"
                f" FROM dP{j}_{i}) WHERE rn = 1)"
            )
            if i < PQ_ITERS - 1:
                ctes.append(
                    f"mP{j}_{i + 1} AS (SELECT a.cid, v.pos,"
                    f" CAST(SUM(CAST(floor(v.val * 1e12 + 0.5)"
                    f" AS DECIMAL(38,0))) AS DOUBLE)"
                    f" / (CAST(count(*) AS DOUBLE) * 1e12) AS val"
                    f" FROM vdims v JOIN aP{j}_{i} a USING (vec_id)"
                    f" WHERE v.pos BETWEEN {lo} AND {hi} GROUP BY 1, 2)"
                )
                ctes.append(
                    f"cdP{j}_{i + 1} AS (SELECT cd.cid, cd.pos,"
                    f" COALESCE(m.val, cd.val) AS val FROM cdP{j}_{i} cd"
                    f" LEFT JOIN mP{j}_{i + 1} m"
                    f" ON m.cid = cd.cid AND m.pos = cd.pos)"
                )
        last = PQ_ITERS - 1
        ctes.append(
            f"qdP{j} AS (SELECT v.vec_id AS query_id, c.cid, SUM({_FIXED})"
            f" AS dist FROM vdims v JOIN cdP{j}_{last} c USING (pos)"
            f" WHERE v.vec_id IN (SELECT query_id FROM q) GROUP BY 1, 2)"
        )
    return (
        ctes,
        [f"aP{j}_{PQ_ITERS - 1}" for j in range(M_SUBS)],
        [f"qdP{j}" for j in range(M_SUBS)],
    )


def _pq_oracle_sql() -> str:
    ctes, code_names, qd_names = _pq_ctes()
    adc_parts = [
        f"SELECT qd.query_id, a.vec_id, qd.dist FROM {a} a"
        f" JOIN {qd} qd ON qd.cid = a.cid"
        for a, qd in zip(code_names, qd_names)
    ]
    ctes.append("adcparts AS (" + " UNION ALL ".join(adc_parts) + ")")
    ctes.append(
        "adc AS (SELECT query_id, vec_id, SUM(dist) AS adc FROM adcparts"
        " GROUP BY 1, 2)"
    )
    ctes.append(
        "ranked AS (SELECT query_id, vec_id, adc, row_number() OVER"
        " (PARTITION BY query_id ORDER BY adc, vec_id) AS rank FROM adc)"
    )
    ctes.append(
        f"short AS (SELECT query_id, vec_id FROM ranked"
        f" WHERE rank <= {SHORTLIST})"
    )
    # exact re-rank of the shortlist: full-vector fixed-point distances
    ctes.append(
        "exact AS (SELECT s.query_id, s.vec_id,"
        " SUM(CAST(floor((vq.val - vc.val)*(vq.val - vc.val)*1e12 + 0.5)"
        " AS DECIMAL(38,0))) AS dist"
        " FROM short s"
        " JOIN vdims vq ON vq.vec_id = s.query_id"
        " JOIN vdims vc ON vc.vec_id = s.vec_id AND vc.pos = vq.pos"
        " GROUP BY 1, 2)"
    )
    ctes.append(
        "rr AS (SELECT query_id, vec_id, dist, row_number() OVER"
        " (PARTITION BY query_id ORDER BY dist, vec_id) AS rank FROM exact)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
               CAST(dist AS DOUBLE) / 1e12 AS dist
        FROM rr WHERE rank <= {TOPK}
        ORDER BY query_id, rank
    """
    )


@register(
    "similarity_topk_pq",
    "J4-analog,A3-ext,O3",
    f"Product-quantization ANN (PQ{M_SUBS}x{PQ_K}, ADC shortlist "
    f"{SHORTLIST} + exact re-rank): each 64-dim vector is encoded as "
    f"{M_SUBS} codebook codes (independent per-subspace k-means, "
    f"{PQ_ITERS} assignment passes, deterministic min-id init); queries "
    "precompute a broadcastable M x k centroid-distance table, the ADC "
    "shortlist is one broadcast join + combinable DECIMAL sum over M-byte "
    "codes (corpus vectors never move), and only the |Q| x shortlist "
    "survivors get full-vector exact distances for the final top-10. "
    "Measured recall@10 0.88 vs brute force on the isotropic testdata "
    "(0.42 ADC-only — the re-rank is the production trick). Fixed-point "
    "pico-unit convention end-to-end; the oracle replays training, "
    "encoding, ADC, and re-rank in SQL.",
    oracle=_pq_oracle_sql(),
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    models = fitted_pq_model(spark, sf_dir)
    top = pq_search(
        models, queries, emb, shortlist=SHORTLIST, k_top=TOPK, m=M_SUBS,
        dims=DIMS,
    )
    return ordered_small(top, "query_id", "rank")


IVFPQ_PROBE = 2
IVFPQ_SHORTLIST = 50


def _ivfpq_oracle_sql() -> str:
    from .kmeans import ITERS as C_ITERS, K as C_K, kmeans_ctes

    cctes, a_coarse, cd_coarse = kmeans_ctes(C_K, C_ITERS)
    pctes, code_names, qd_names = _pq_ctes(include_vdims=False)
    ctes = cctes + pctes
    ctes.append(
        f"dqc AS (SELECT v.vec_id AS query_id, c.cid, SUM({_FIXED}) AS dist"
        f" FROM vdims v JOIN {cd_coarse} c USING (pos)"
        f" WHERE v.vec_id IN (SELECT query_id FROM q) GROUP BY 1, 2)"
    )
    ctes.append(
        f"probes AS (SELECT query_id, cid FROM"
        f" (SELECT query_id, cid, row_number() OVER"
        f" (PARTITION BY query_id ORDER BY dist, cid) AS rn FROM dqc)"
        f" WHERE rn <= {IVFPQ_PROBE})"
    )
    ctes.append(
        f"cand AS (SELECT p.query_id, a.vec_id FROM probes p"
        f" JOIN {a_coarse} a ON a.cid = p.cid)"
    )
    adc_parts = [
        f"SELECT qd.query_id, a.vec_id, qd.dist FROM {a} a"
        f" JOIN {qd} qd ON qd.cid = a.cid"
        f" JOIN cand c ON c.vec_id = a.vec_id AND c.query_id = qd.query_id"
        for a, qd in zip(code_names, qd_names)
    ]
    ctes.append("adcparts AS (" + " UNION ALL ".join(adc_parts) + ")")
    ctes.append(
        "adc AS (SELECT query_id, vec_id, SUM(dist) AS adc FROM adcparts"
        " GROUP BY 1, 2)"
    )
    ctes.append(
        "ranked AS (SELECT query_id, vec_id, adc, row_number() OVER"
        " (PARTITION BY query_id ORDER BY adc, vec_id) AS rank FROM adc)"
    )
    ctes.append(
        f"short AS (SELECT query_id, vec_id FROM ranked"
        f" WHERE rank <= {IVFPQ_SHORTLIST})"
    )
    ctes.append(
        "exact AS (SELECT s.query_id, s.vec_id,"
        " SUM(CAST(floor((vq.val - vc.val)*(vq.val - vc.val)*1e12 + 0.5)"
        " AS DECIMAL(38,0))) AS dist"
        " FROM short s"
        " JOIN vdims vq ON vq.vec_id = s.query_id"
        " JOIN vdims vc ON vc.vec_id = s.vec_id AND vc.pos = vq.pos"
        " GROUP BY 1, 2)"
    )
    ctes.append(
        "rr AS (SELECT query_id, vec_id, dist, row_number() OVER"
        " (PARTITION BY query_id ORDER BY dist, vec_id) AS rank FROM exact)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
               CAST(dist AS DOUBLE) / 1e12 AS dist
        FROM rr WHERE rank <= {TOPK}
        ORDER BY query_id, rank
    """
    )


@register(
    "similarity_topk_ivfpq",
    "J4-analog,A3-ext,O3",
    f"IVF-PQ composite ANN (the full production stack): the session-cached "
    "k-means coarse quantizer routes each query to its "
    f"{IVFPQ_PROBE} nearest cells, PQ{M_SUBS}x{PQ_K} ADC scores only the "
    "probed cells' members (M-byte codes, broadcast distance table, "
    f"combinable DECIMAL sums), the top-{IVFPQ_SHORTLIST} shortlist gets "
    "full-vector exact re-ranking. Cells prune the corpus by "
    "~n_probe/k_cells before any code arithmetic; global (non-residual) "
    "codebooks keep every stage SQL-replayable — the oracle regenerates "
    "coarse training, 4 subspace trainings, routing, restricted ADC, and "
    "re-rank end-to-end.",
    oracle=_ivfpq_oracle_sql(),
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_search
    from .kmeans import fitted_model

    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    coarse_asg, coarse_cent = fitted_model(spark, sf_dir)
    models = fitted_pq_model(spark, sf_dir)
    top = ivfpq_search(
        coarse_asg, coarse_cent, models, queries, emb,
        n_probe=IVFPQ_PROBE, shortlist=IVFPQ_SHORTLIST, k_top=TOPK,
        m=M_SUBS, dims=DIMS,
    )
    return ordered_small(top, "query_id", "rank")
