"""Similarity-search queries over the ``embeddings`` table (engine extension).

Covers the ANN family from BASELINE.json: brute-force cosine top-k (the exact
baseline), IVF-style bucketed top-k (the scale path), and embedding-cosine
near-dup pairs (blocked self-join).

Cross-engine FP parity: cosine folds the per-element double products strictly
left-to-right (array order is fixed per row, so partitioning cannot perturb
it); DuckDB's ``list_reduce`` replays the identical IEEE add sequence, then
one double sqrt/divide each side.

Scale notes (100 TB posture):
- brute-force broadcasts the (tiny) query set; the corpus scan stays fully
  partition-parallel with no shuffle — cost |Q|·|C| but embarrassingly
  parallel and the right exactness baseline.
- IVF probes one bucket per query: the routing table (1 row per bucket) is
  broadcast, and only the probed bucket's partitions are scanned after the
  broadcast-join filter. Search cost |Q|·(buckets + bucket_size).
- near-dup blocks the self-join by bucket label, so the shuffle key is the
  label and the pair space is per-bucket, never O(n²) corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..operators.similarity import embedding_near_dup_pairs, topk_bruteforce, topk_ivf
from ..sources.tpch import load_table
from .helpers import ordered_small
from .registry import register

# DuckDB twin of operators.similarity.cosine: strict left-to-right double
# fold, with an explicit 0.0 head so the fold order matches Spark's
# aggregate(arr, 0.0, +) exactly (list_reduce seeds from the first element).
_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = _DOT_SQL.format(a=a, b=a)
    nb = _DOT_SQL.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


# Vector-index ingest contract, shared by every embeddings consumer
# (similarity / k-means / PQ): rows whose vector is NULL or not exactly
# EMB_DIMS wide are EXCLUDED before any distance math. Without it, a single
# ragged row poisons k-means centroid means and PQ code sums differently
# per engine, and a NULL vector turns whole aggregates NULL (caught by
# tests/test_extensions.py::test_embedding_family_hostile_vectors). The
# driver corpus is all-valid, so the filter is a no-op there; the DuckDB
# twin of the contract is the same predicate on the view/CTE.
EMB_DIMS = 64
VALID_EMB_PRED = f"embedding IS NOT NULL AND size(embedding) = {EMB_DIMS}"
VALID_EMB_PRED_SQL = f"embedding IS NOT NULL AND len(embedding) = {EMB_DIMS}"


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the vector-index ingest contract."""
    return load_table(spark, sf_dir, "embeddings").filter(F.expr(VALID_EMB_PRED))


# Query vectors: a fixed, sf-independent slice of the corpus itself.
_QUERY_PRED = "vec_id < 5"


def _query_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@register(
    "similarity_topk_bruteforce",
    "J4-analog,A1,O3",
    "Exact cosine top-10 per query vector (5 query vecs vs full corpus): "
    "broadcast the query set, score every corpus vector, window top-k with "
    "vec_id tie-break. The exactness baseline for ANN.",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        ),
        q AS (
          SELECT vec_id AS query_id, embedding AS query_vec
          FROM e WHERE {_QUERY_PRED}
        ),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 {_cosine_sql("q.query_vec", "c.embedding")} AS cos
          FROM q CROSS JOIN e c
        ),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                 ) AS rank
          FROM scored
        )
        SELECT query_id, rank, vec_id, cos
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    corpus = emb.select("vec_id", "embedding")
    return ordered_small(
        topk_bruteforce(corpus, _query_set(spark, sf_dir), k=10), "query_id", "rank"
    )


@register(
    "similarity_topk_ivf",
    "J4-analog,A1,O3",
    "IVF-style top-10: corpus pre-bucketed by label, one deterministic "
    "representative per bucket (min vec_id), each query probes only its "
    "nearest bucket. The broadcast routing table prunes the corpus scan — "
    "the 100 TB scale path for ANN.",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding, label FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        ),
        q AS (
          SELECT vec_id AS query_id, embedding AS query_vec
          FROM e WHERE {_QUERY_PRED}
        ),
        reps AS (
          SELECT label, embedding AS rep_vec
          FROM (
            SELECT label, embedding,
                   row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
            FROM e
          ) WHERE rn = 1
        ),
        routed AS (
          SELECT query_id, query_vec, label
          FROM (
            SELECT q.query_id, q.query_vec, reps.label,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {_cosine_sql("q.query_vec", "reps.rep_vec")} DESC,
                              reps.label ASC
                   ) AS rn
            FROM q CROSS JOIN reps
          ) WHERE rn = 1
        ),
        scored AS (
          SELECT r.query_id, r.label, c.vec_id,
                 {_cosine_sql("r.query_vec", "c.embedding")} AS cos
          FROM routed r JOIN e c ON c.label = r.label
        ),
        ranked AS (
          SELECT query_id, label, vec_id, cos,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                 ) AS rank
          FROM scored
        )
        SELECT query_id, label, rank, vec_id, cos
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    corpus = emb.select("vec_id", "embedding", "label")
    return ordered_small(
        topk_ivf(corpus, _query_set(spark, sf_dir), k=10), "query_id", "rank"
    )


@register(
    "similarity_embedding_near_dup",
    "J8,A6",
    "Embedding-cosine near-dup pairs at >= 0.3, blocked by label bucket: the "
    "self-join shuffles on the bucket key only, so the pair space is "
    "per-bucket, never corpus-wide O(n²).",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding, label FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        )
        SELECT l.label, l.vec_id AS a, r.vec_id AS b,
               {_cosine_sql("l.embedding", "r.embedding")} AS cos
        FROM e l
        JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id
        WHERE {_cosine_sql("l.embedding", "r.embedding")} >= 0.3
        ORDER BY a, b
    """,
)
def similarity_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    corpus = emb.select("vec_id", "embedding", "label")
    # Near-dup pairs are Θ(corpus) on duplicated input → distributed orderBy,
    # never a repartition(1) funnel (HARD RULE in helpers.ordered_small).
    return embedding_near_dup_pairs(corpus, threshold=0.3).orderBy("a", "b")


def _plane_dot_sql(col: str, plane: list[float]) -> str:
    """DuckDB twin of operators.similarity._plane_dot: same literal plane,
    same left-to-right fold with a 0.0 head."""
    lit = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {len(plane)}), "
        f"i -> CAST({col}[i] AS DOUBLE) * ({lit}::DOUBLE[])[i])), "
        "(acc, x) -> acc + x)"
    )


def _srp_oracle(bits: int, bands: int, threshold: float) -> str:
    from ..operators.similarity import srp_planes

    # EMB_DIMS, not a literal 64: the Spark operator generates its planes at
    # dims=EMB_DIMS, and a mismatch would silently desynchronize the oracle's
    # buckets from the plan's (ADVICE r8).
    planes = srp_planes(bits, dims=EMB_DIMS)
    per = bits // bands
    buckets = []
    for j in range(bands):
        chars = [
            f"(CASE WHEN {_plane_dot_sql('embedding', planes[j * per + i])}"
            " >= 0.0 THEN '1' ELSE '0' END)"
            for i in range(per)
        ]
        buckets.append("(" + " || ".join(chars) + f") AS bucket{j}")
    band_match = " OR ".join(f"l.bucket{j} = r.bucket{j}" for j in range(bands))
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding, {", ".join(buckets)} FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        )
        SELECT l.vec_id AS a, r.vec_id AS b,
               {_cosine_sql("l.embedding", "r.embedding")} AS cos
        FROM sig l JOIN sig r
          ON l.vec_id < r.vec_id AND ({band_match})
        WHERE {_cosine_sql("l.embedding", "r.embedding")} >= {threshold}
        ORDER BY a, b
    """


@register(
    "similarity_srp_lsh",
    "A6-analog,J8-ext",
    "Cosine near-dup pairs via banded signed-random-projection LSH "
    "(4 bands x 8 hyperplane sign bits, md5-derived Rademacher planes "
    "baked as literals into both engines), candidates verified with exact "
    "prenormed cosine at >= 0.3. The shuffle carries only (vec_id, band, "
    "bucket) triples; vectors join back AFTER candidate dedup — the same "
    "banding discipline as MinHash LSH, tuned for angular similarity. The "
    "oracle replays the identical plane dots and band-OR candidacy as a "
    "theta join (safe at oracle scale only).",
    oracle=_srp_oracle(bits=32, bands=4, threshold=0.3),
)
def similarity_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import srp_near_dup_pairs

    corpus = load_embeddings(spark, sf_dir)
    pairs = srp_near_dup_pairs(corpus, bits=32, bands=4, threshold=0.3)
    # O(near-dup pairs) output — distributed orderBy per the corpus-sized rule
    return pairs.orderBy("a", "b")


@register(
    "embedding_norm_profile",
    "A3,A8-analog",
    "Per-label embedding-norm profile: vector count, decimal-exact mean "
    "norm (micro-unit-exact), min/max norm — the vector-column data-quality scan (catches "
    "zero/denormal vectors before they poison ANN). One array fold per "
    "row, one tiny grouped aggregate; no shuffle of vector bytes.",
    oracle=f"""
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CAST(floor(sqrt({_DOT_SQL.format(a="embedding", b="embedding")})
                    * 1000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*)
                 / 1000000.0 AS avg_norm,
               MIN(sqrt({_DOT_SQL.format(a="embedding", b="embedding")})) AS min_norm,
               MAX(sqrt({_DOT_SQL.format(a="embedding", b="embedding")})) AS max_norm
        FROM embeddings
        WHERE {VALID_EMB_PRED_SQL}
        GROUP BY label
        ORDER BY label
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import norm_sq

    emb = load_embeddings(spark, sf_dir)
    nrm = F.sqrt(norm_sq(F.col("embedding")))
    return ordered_small(
        emb.select(F.col("label").cast("bigint").alias("label"), nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            # floor-to-micros (helpers.davg_floor_micros rationale): sqrt
            # outputs are full-mantissa doubles, decimal rounding can split
            (
                F.sum(F.floor(F.col("nrm") * F.lit(1000000.0))).cast("double")
                / F.count(F.lit(1)) / F.lit(1000000.0)
            ).alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        ),
        "label",
    )


# ---------------------------------------------------------------------------
# int8 quantization audit (embedding storage compression)
# ---------------------------------------------------------------------------


@register(
    "embedding_int8_quantization",
    "ext:similarity,A3-ext",
    "Symmetric int8 quantization audit — the 4x storage compression every "
    "billion-vector index applies before PQ: per vector, scale = amax/127 "
    "and code_i = floor(x_i/scale + 0.5); per label, the mean per-element "
    "reconstruction error (exact BIGINT nano-unit sums — order-independent, "
    "unlike a double sum over a nondeterministic partition order), the "
    "worst per-element error, and the clipped-code count as a visible ZERO "
    "invariant (|code| <= 127 holds by construction of the scale). amax is "
    "an order-safe array max; only the bounded per-label report shuffles.",
    oracle=f"""
        WITH v AS (
          SELECT vec_id, label,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
                 embedding
          FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        ),
        el AS (
          SELECT vec_id, label, scale,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM v
        ),
        q AS (
          SELECT vec_id, label,
                 CASE WHEN scale > 0
                      THEN CAST(floor(x / scale + 0.5) AS BIGINT)
                      ELSE 0 END AS code,
                 CASE WHEN scale > 0
                      THEN CAST(floor(abs(x - CAST(floor(x / scale + 0.5)
                           AS BIGINT) * scale) * 1000000000.0) AS BIGINT)
                      ELSE 0 END AS err_nanos
          FROM el
        )
        SELECT label,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors,
               CAST(CAST(SUM(err_nanos) AS BIGINT) AS DOUBLE)
                 / COUNT(*) / 1000000000.0 AS mean_abs_err,
               CAST(MAX(err_nanos) AS DOUBLE) / 1000000000.0
                 AS max_abs_err,
               CAST(MAX(abs(code)) AS BIGINT) AS max_abs_code,
               CAST(SUM(CASE WHEN abs(code) > 127 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped
        FROM q
        GROUP BY label
        ORDER BY label
    """,
)
def embedding_int8_quantization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    xd = lambda x: x.cast("double")  # noqa: E731
    v = emb.select(
        "vec_id",
        "label",
        (
            F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x))))
            / F.lit(127.0)
        ).alias("scale"),
        "embedding",
    )
    el = v.select(
        "vec_id", "label", "scale",
        F.explode(F.col("embedding")).alias("xf"),
    ).select("vec_id", "label", "scale", F.col("xf").cast("double").alias("x"))
    code = F.floor(F.col("x") / F.col("scale") + F.lit(0.5)).cast("bigint")
    q = el.select(
        "vec_id",
        "label",
        F.when(F.col("scale") > 0, code).otherwise(F.lit(0)).alias("code"),
        F.when(
            F.col("scale") > 0,
            F.floor(
                F.abs(F.col("x") - code * F.col("scale"))
                * F.lit(1000000000.0)
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("err_nanos"),
    )
    return (
        q.groupBy("label")
        .agg(
            F.countDistinct("vec_id").cast("bigint").alias("n_vectors"),
            (
                F.sum("err_nanos").cast("bigint").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000000.0)
            ).alias("mean_abs_err"),
            (F.max("err_nanos").cast("double") / F.lit(1000000000.0)).alias(
                "max_abs_err"
            ),
            F.max(F.abs(F.col("code"))).cast("bigint").alias("max_abs_code"),
            F.sum(F.when(F.abs(F.col("code")) > 127, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + distortion audit
# ---------------------------------------------------------------------------

_JL_IN_DIMS = 64
_JL_OUT_DIMS = 16


def _jl_sign_sql() -> str:
    """DuckDB twin of the deterministic ±1 sign matrix (sha256-derived,
    the SRP-plane convention — cross-engine without shipping a 1024-value
    literal table)."""
    return f"""
        SELECT t1.i AS i, t2.j AS j,
               CASE WHEN CAST(concat('0x', substr(sha256(
                    concat('jl|', t1.i, '|', t2.j)), 1, 8)) AS BIGINT)
                    % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM generate_series(0, {_JL_IN_DIMS - 1}) t1(i),
             generate_series(0, {_JL_OUT_DIMS - 1}) t2(j)
    """


@register(
    "similarity_jl_distortion",
    "ext:similarity,A3-ext",
    f"Johnson-Lindenstrauss random projection ({_JL_IN_DIMS}->"
    f"{_JL_OUT_DIMS} dims, deterministic sha256-derived sign matrix — the "
    "4x index-shrink step before ANN at billion scale) with the distortion "
    "audit over the fixed query set's 45 pairs: squared distances in "
    "original vs projected space and the 1/k-corrected ratio (JL: ~1 +- "
    "O(1/sqrt(k)) — for unnormalized +-1 signs E[d2_proj] = k*d2_orig). "
    "EXACT integer arithmetic end-to-end: elements quantize to micro-unit "
    "BIGINTs BEFORE projecting and every sum/square stays in BIGINT "
    "(order-independent, and int64->double is the same CPU conversion on "
    "both engines — a DECIMAL->double cast here differed in the last ulp); "
    "one double divide per pair at the end. The 1024-entry sign matrix "
    "broadcasts; projection is one explode + keyed partial aggregation "
    "per vector — map-side combinable, corpus-linear.",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE {VALID_EMB_PRED_SQL} AND vec_id < 10
        ),
        x AS (
          SELECT vec_id, i - 1 AS i,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                      AS BIGINT) AS xq
          FROM e, unnest(generate_series(1, {_JL_IN_DIMS})) AS t(i)
        ),
        s AS ({_jl_sign_sql()}),
        y AS (
          SELECT vec_id, j, CAST(SUM(sgn * xq) AS BIGINT) AS y
          FROM x JOIN s USING (i) GROUP BY 1, 2
        ),
        dp AS (
          SELECT ya.vec_id AS a, yb.vec_id AS b,
                 CAST(SUM((ya.y - yb.y) * (ya.y - yb.y)) AS BIGINT) AS d2
          FROM y ya JOIN y yb ON ya.j = yb.j AND ya.vec_id < yb.vec_id
          GROUP BY 1, 2
        ),
        do_ AS (
          SELECT xa.vec_id AS a, xb.vec_id AS b,
                 CAST(SUM((xa.xq - xb.xq) * (xa.xq - xb.xq)) AS BIGINT) AS d2
          FROM x xa JOIN x xb ON xa.i = xb.i AND xa.vec_id < xb.vec_id
          GROUP BY 1, 2
        )
        SELECT do_.a, do_.b,
               do_.d2 AS d2_orig,
               dp.d2 AS d2_proj,
               CAST(dp.d2 AS DOUBLE)
                 / ({_JL_OUT_DIMS}.0 * CAST(do_.d2 AS DOUBLE)) AS distortion
        FROM do_ JOIN dp ON do_.a = dp.a AND do_.b = dp.b
        ORDER BY do_.a, do_.b
    """,
)
def similarity_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import hash64

    emb = load_embeddings(spark, sf_dir).filter(F.col("vec_id") < 10)
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i", "xf")
    ).select(
        "vec_id",
        F.col("i").cast("int").alias("i"),
        F.floor(F.col("xf").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("xq"),
    )
    signs = (
        spark.range(_JL_IN_DIMS)
        .select(F.col("id").cast("int").alias("i"))
        .select(
            "i",
            F.explode(
                F.sequence(F.lit(0), F.lit(_JL_OUT_DIMS - 1))
            ).alias("j"),
        )
        .select(
            "i",
            "j",
            F.when(
                hash64(
                    "jl|",
                    F.concat(
                        F.col("i").cast("string"),
                        F.lit("|"),
                        F.col("j").cast("string"),
                    ),
                )
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    y = (
        x.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("sgn") * F.col("xq")).cast("bigint").alias("y"))
    )
    ya, yb = y.alias("ya"), y.alias("yb")
    dy = F.col("ya.y") - F.col("yb.y")
    dp = (
        ya.join(
            yb,
            (F.col("ya.j") == F.col("yb.j"))
            & (F.col("ya.vec_id") < F.col("yb.vec_id")),
        )
        .groupBy(
            F.col("ya.vec_id").alias("a"), F.col("yb.vec_id").alias("b")
        )
        .agg(F.sum(dy * dy).cast("bigint").alias("d2p"))
    )
    xa, xb = x.alias("xa"), x.alias("xb")
    dx = F.col("xa.xq") - F.col("xb.xq")
    do = (
        xa.join(
            xb,
            (F.col("xa.i") == F.col("xb.i"))
            & (F.col("xa.vec_id") < F.col("xb.vec_id")),
        )
        .groupBy(
            F.col("xa.vec_id").alias("a"), F.col("xb.vec_id").alias("b")
        )
        .agg(F.sum(dx * dx).cast("bigint").alias("d2o"))
    )
    return ordered_small(
        do.join(dp, ["a", "b"]).select(
            "a",
            "b",
            F.col("d2o").alias("d2_orig"),
            F.col("d2p").alias("d2_proj"),
            (
                F.col("d2p").cast("double")
                / (F.lit(float(_JL_OUT_DIMS)) * F.col("d2o").cast("double"))
            ).alias("distortion"),
        ),
        "a",
        "b",
    )


# ---------------------------------------------------------------------------
# binary (1-bit) quantization ANN: Hamming shortlist + exact re-rank
# ---------------------------------------------------------------------------

_BIN_SHORTLIST = 64  # Hamming candidates per query before exact re-rank
_BIN_WORDS = EMB_DIMS // 32


def _bin_sig_sql(col: str, w: int) -> str:
    """DuckDB twin of operators.similarity.binary_signature_words word w:
    bit i set iff element i+1 > 0, packed little-endian into a 32-bit word
    held in a BIGINT."""
    lo = w * 32
    return (
        "CAST(list_sum(list_transform("
        f"generate_series({lo + 1}, {lo + 32}), "
        f"i -> CASE WHEN {col}[i] > 0 "
        f"THEN (CAST(1 AS BIGINT) << (i - 1 - {lo})) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


_BIN_HAM_SQL = " + ".join(
    f"bit_count(xor(c.w{i}, q.w{i}))" for i in range(_BIN_WORDS)
)


@register(
    "similarity_topk_binary",
    "J4-analog,A1,O3",
    "Binary-quantization ANN: corpus vectors collapse to 1 bit/dim (sign "
    f"code, packed into {_BIN_WORDS} 32-bit words — 64x smaller than the "
    "floats), queries shortlist the top-"
    f"{_BIN_SHORTLIST} corpus rows by JVM-integer Hamming distance "
    "(bit_count of XORed words), and only the shortlist joins back to the "
    "float vectors for the exact cosine top-10. The third compression "
    "rung after int8 and PQ: at 100 TB the Hamming scan reads 8 bytes/"
    "vector instead of 256 and the float corpus moves only for "
    "|Q| x shortlist rows. Deterministic end-to-end (integer signatures "
    "and distances; ties break on vec_id).",
    oracle=f"""
        WITH base AS (
          SELECT vec_id, embedding,
                 {", ".join(_bin_sig_sql("embedding", w) + f" AS w{w}"
                            for w in range(_BIN_WORDS))}
          FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        ),
        q AS (
          SELECT vec_id AS query_id, embedding AS query_vec,
                 {", ".join(f"w{w}" for w in range(_BIN_WORDS))}
          FROM base WHERE {_QUERY_PRED}
        ),
        ham AS (
          SELECT q.query_id, c.vec_id, c.embedding, q.query_vec,
                 CAST({_BIN_HAM_SQL} AS BIGINT) AS hamming
          FROM base c CROSS JOIN q
        ),
        shortlist AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY hamming, vec_id) AS hrn
            FROM ham
          ) WHERE hrn <= {_BIN_SHORTLIST}
        ),
        rescored AS (
          SELECT query_id, vec_id, hamming,
                 {_cosine_sql("query_vec", "embedding")} AS cos
          FROM shortlist
        )
        SELECT query_id, rank, vec_id, cos, hamming
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM rescored
        )
        WHERE rank <= 10
        ORDER BY query_id, rank
    """,
)
def similarity_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import (
        binary_signature_words,
        cosine,
        hamming_words,
    )

    emb = load_embeddings(spark, sf_dir)
    base = emb.select(
        "vec_id",
        "embedding",
        *binary_signature_words("embedding", EMB_DIMS),
    )
    q = base.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        *[F.col(f"w{i}").alias(f"qw{i}") for i in range(_BIN_WORDS)],
    )
    # signatures only in the scan: 2 BIGINTs/vector move, floats stay put
    ham = base.select(
        "vec_id", *[f"w{i}" for i in range(_BIN_WORDS)]
    ).crossJoin(F.broadcast(q.drop("query_vec"))).select(
        "query_id",
        "vec_id",
        hamming_words(_BIN_WORDS, "", "q").alias("hamming"),
    )
    hw = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        ham.withColumn("hrn", F.row_number().over(hw))
        .filter(F.col("hrn") <= _BIN_SHORTLIST)
        .drop("hrn")
    )
    rescored = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(
            F.broadcast(q.select("query_id", "query_vec")), "query_id"
        )
        .select(
            "query_id",
            "vec_id",
            "hamming",
            cosine(F.col("query_vec"), F.col("embedding")).alias("cos"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return ordered_small(
        rescored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "vec_id", "cos", "hamming"),
        "query_id",
        "rank",
    )


# ---------------------------------------------------------------------------
# k-NN graph construction + degree/reciprocity audit
# ---------------------------------------------------------------------------

_KNN_K = 3
# Adaptive SRP quantizer-cell blocking (round-7 fix for the r6 verdict's
# label-quadratic pair space): the self-join key is the first `bits` sign
# bits of the vector's signed-random-projection signature, where `bits`
# GROWS WITH THE CORPUS — the smallest b with n <= TARGET_CELL * 2^b. Cell
# count ~ n / TARGET_CELL, so expected cell size stays ~TARGET_CELL at any
# scale and the pair space is O(n * TARGET_CELL), never O(n^2). The bits
# scalar is derived with pure INTEGER threshold comparisons (n > target*2^b,
# unrolled to KNN_MAX_BITS terms) so both engines agree with zero FP-boundary
# risk, and SRP cells are locality-sensitive: same-cell neighbors are the
# angularly-close ones, the right candidate set for an ANN graph.
KNN_TARGET_CELL = 128
# r7 verdict: 16 bits saturated at ~8.4M valid vectors, after which cell
# size grew linearly again. 32 bits caps cells at ~4.3e9 — adaptive up to
# ~550G vectors — and the bits aggregate now RAISES at saturation instead
# of silently re-entering linear cell growth (ADVICE r7).
KNN_MAX_BITS = 32
KNN_MAX_CELL = 1024  # participation valve for pathologically skewed cells


def _knn_bits_terms(n_sql: str) -> str:
    """Integer-exact cell-bit count: sum of (n > TARGET*2^b) indicators."""
    return " + ".join(
        f"(CASE WHEN {n_sql} > {KNN_TARGET_CELL * (1 << b)} THEN 1 ELSE 0 END)"
        for b in range(KNN_MAX_BITS)
    )


# r8 verdict task #2 (skew-adaptive cells): the GLOBAL bit count assumes
# balanced SRP sign bits, so correlated embeddings could concentrate the
# corpus into a few coarse cells and silently push members into the
# KNN_MAX_CELL valve. Cells now refine PER COARSE CELL from their OBSERVED
# occupancy — the SemDeDup two-level pattern (queries/kmeans.py), with the
# SRP prefix itself as the coarse level: extra bits = smallest e with
# occupancy <= TARGET*2^e, refined cell = the first min(global_bits +
# extra, KNN_MAX_BITS) signature bits. Same integer thresholds on both
# engines; cell ids of different lengths can never collide because every
# id shares the global-bits prefix length and refinement only appends.
def _knn_extra_terms(m_sql: str) -> str:
    """Integer-exact per-cell refinement bits from observed occupancy."""
    return " + ".join(
        f"(CASE WHEN {m_sql} > {KNN_TARGET_CELL * (1 << b)} THEN 1 ELSE 0 END)"
        for b in range(KNN_MAX_BITS)
    )


def _knn_sig_sql(col: str) -> str:
    from ..operators.similarity import srp_planes

    planes = srp_planes(KNN_MAX_BITS, dims=EMB_DIMS)
    chars = [
        f"(CASE WHEN {_plane_dot_sql(col, p)} >= 0.0 THEN '1' ELSE '0' END)"
        for p in planes
    ]
    return "(" + " || ".join(chars) + ")"


@register(
    "knn_graph_stats",
    "J4-analog,A10-ext",
    f"k-NN graph (k={_KNN_K}) over the embedding corpus, blocked by "
    "SKEW-ADAPTIVE two-level SRP quantizer cells (r8 verdict task #2): a "
    f"global coarse level (first ceil-log2(n/{KNN_TARGET_CELL}) sign bits "
    "of a fixed md5-derived hyperplane signature) plus PER-CELL refinement "
    "bits derived from each coarse cell's OBSERVED occupancy — the "
    "SemDeDup two-level pattern — so correlated embeddings that "
    "concentrate into few coarse cells re-split to ~target size instead "
    "of silently truncating at the valve. Expected cell size stays "
    f"~{KNN_TARGET_CELL} at any scale AND under any skew the signature "
    "can separate — the pair space is O(n * cell), never O(n^2). Cells "
    f"above {KNN_MAX_CELL} members (now only possible from near-identical "
    "signatures, which no prefix can split) truncate to the lowest "
    "vec_ids and the per-cell n_truncated column exposes exactly how many "
    "vectors the valve dropped, so skew-driven coverage loss is "
    "observable in the result itself rather than silent. Per participant, "
    "the top-k same-cell neighbors by the deterministic cosine fold; per "
    "cell, the graph-quality report — nodes, directed edges, RECIPROCAL "
    "edge count (a->b with b->a, the symmetry signal HNSW-style builders "
    "monitor), floor-micro mean edge cosine. The bits scalar derives from "
    "pure integer comparisons so both engines pick identical cells.",
    oracle=f"""
        WITH base AS (
          SELECT vec_id, embedding, {_knn_sig_sql("embedding")} AS sig
          FROM embeddings WHERE {VALID_EMB_PRED_SQL}
        ),
        bv AS (SELECT ({_knn_bits_terms("COUNT(*)")}) AS bits FROM base),
        coarse AS (
          SELECT vec_id, embedding, sig,
                 substr(sig, 1, (SELECT bits FROM bv)) AS ccell
          FROM base
        ),
        ref AS (
          SELECT ccell,
                 LEAST((SELECT bits FROM bv)
                       + ({_knn_extra_terms("COUNT(*)")}),
                       {KNN_MAX_BITS}) AS blen
          FROM coarse GROUP BY ccell
        ),
        refined AS (
          SELECT c.vec_id, c.embedding, substr(c.sig, 1, r.blen) AS cell
          FROM coarse c JOIN ref r USING (ccell)
        ),
        members AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT vec_id, embedding, cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY cell ORDER BY vec_id) AS crn
            FROM refined
          ) WHERE crn <= {KNN_MAX_CELL}
        ),
        pop AS (
          SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_total
          FROM refined GROUP BY 1
        ),
        edges AS (
          SELECT * FROM (
            SELECT a.cell,
                   a.vec_id AS src, b.vec_id AS dst,
                   {_cosine_sql("a.embedding", "b.embedding")} AS cos,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY {_cosine_sql("a.embedding", "b.embedding")}
                       DESC, b.vec_id) AS rn
            FROM members a JOIN members b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
          ) WHERE rn <= {_KNN_K}
        )
        SELECT e.cell,
               CAST((SELECT COUNT(*) FROM members m WHERE m.cell = e.cell)
                    AS BIGINT) AS n_nodes,
               CAST((SELECT p.n_total FROM pop p WHERE p.cell = e.cell)
                    - (SELECT COUNT(*) FROM members m WHERE m.cell = e.cell)
                    AS BIGINT) AS n_truncated,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN EXISTS (
                      SELECT 1 FROM edges r
                      WHERE r.src = e.dst AND r.dst = e.src)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
               CAST(SUM(CAST(floor(cos * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS mean_edge_cos
        FROM edges e
        GROUP BY e.cell
        ORDER BY cell
    """,
)
def knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import (
        cosine_prenormed,
        norm_sq,
        srp_planes,
        srp_signature_bands,
    )

    from ..lifecycle import fan_out, scoped_persist

    planes = srp_planes(KNN_MAX_BITS, dims=EMB_DIMS)
    # Scoped persist: base feeds the bits scalar, the coarse projection AND
    # the occupancy aggregate (via coarse) — without it the 32-plane SRP
    # signature runs once per consumer (the before-plan showed the
    # embeddings scan + signature subtree 3x upstream of the counted
    # persist). fan_out: the fill's 32-plane fold would otherwise run
    # single-task off the sub-split-size embeddings scan (guide §2).
    base = scoped_persist(
        fan_out(load_embeddings(spark, sf_dir), "vec_id").select(
            "vec_id",
            "embedding",
            F.sqrt(norm_sq(F.col("embedding"))).alias("nrm"),
            srp_signature_bands(F.col("embedding"), planes, bands=1)[0].alias(
                "sig"
            ),
        )
    )
    # the bits scalar: ONE tiny aggregate broadcast into the scan — the
    # plan stays fully declarative (no driver-side count round-trip). The
    # saturation guard fails loudly the day the corpus outgrows the cap
    # (n > TARGET_CELL * 2^(MAX_BITS-1)): past that point cells would grow
    # linearly with n again and the valve would silently truncate coverage.
    _bits_sum = _knn_bits_terms("count(1)")
    bits = base.agg(
        F.expr(
            f"CASE WHEN ({_bits_sum}) >= {KNN_MAX_BITS} THEN "
            f"CAST(raise_error('knn_graph_stats: SRP bits saturated at "
            f"KNN_MAX_BITS={KNN_MAX_BITS}; lift the cap') AS INT) "
            f"ELSE CAST(({_bits_sum}) AS INT) END"
        ).alias("bits")
    )
    coarse = base.crossJoin(F.broadcast(bits)).withColumn(
        "ccell", F.expr("substring(sig, 1, bits)")
    )
    # skew-adaptive refinement (r8 verdict task #2): extra bits per coarse
    # cell from its OBSERVED occupancy, so correlated embeddings that
    # concentrate into few coarse cells re-split instead of silently
    # hitting the KNN_MAX_CELL valve. The occupancy aggregate and the join
    # back share the ccell key, so Catalyst reuses one exchange; the ref
    # table is O(n / TARGET_CELL) rows — never broadcast-forced, AQE picks
    # the strategy by measured size.
    extra = _knn_extra_terms("count(1)")
    ref = coarse.groupBy("ccell").agg(
        F.expr(
            f"least(any_value(bits) + ({extra}), {KNN_MAX_BITS})"
        ).alias("blen")
    )
    cw = Window.partitionBy("cell").orderBy("vec_id")
    # Scoped persist: counted feeds THREE consumers (the pre-valve pop, and
    # both self-join branches), and the upstream lineage — the 32-plane SRP
    # signature fold plus the occupancy join — is the dominant per-row cost
    # of this operator; without it each consumer recomputes the signatures.
    # On a cluster this is the checkpoint of the routing table; in-memory
    # persistence is the local[] equivalent (spills, scope-released).
    counted = scoped_persist(
        coarse.join(ref, "ccell")
        .withColumn("cell", F.expr("substring(sig, 1, blen)"))
        .drop("sig", "bits", "ccell", "blen")
        .withColumn("crn", F.row_number().over(cw))
    )
    # valve observability (ADVICE r7): per-cell pre-valve population, so
    # the output exposes exactly how many vectors the KNN_MAX_CELL valve
    # dropped from the graph (n_truncated = 0 everywhere until a skewed
    # cell actually triggers it). max(crn) == count over the already
    # cell-partitioned frame — no extra corpus shuffle.
    pop = counted.groupBy("cell").agg(
        F.max("crn").cast("bigint").alias("n_total")
    )
    members = counted.filter(F.col("crn") <= KNN_MAX_CELL).drop("crn")
    a = members.alias("a")
    b = members.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.cell").alias("cell"),
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        cosine_prenormed(
            F.col("a.embedding"),
            F.col("b.embedding"),
            F.col("a.nrm"),
            F.col("b.nrm"),
        ).alias("cos"),
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos").desc(), F.col("dst").asc()
    )
    edges = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .drop("rn")
    )
    nodes = members.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    rev = edges.select(
        F.col("src").alias("dst"), F.col("dst").alias("src")
    ).withColumn("_rec", F.lit(1))
    marked = edges.join(rev, ["src", "dst"], "left")
    stats = marked.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.coalesce(F.col("_rec"), F.lit(0)))
        .cast("bigint")
        .alias("n_reciprocal"),
        (
            F.sum(F.floor(F.col("cos") * F.lit(1000000.0)).cast("bigint"))
            .cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("mean_edge_cos"),
    )
    return ordered_small(
        nodes.join(stats, "cell")
        .join(pop, "cell")
        .select(
            "cell",
            "n_nodes",
            (F.col("n_total") - F.col("n_nodes"))
            .cast("bigint")
            .alias("n_truncated"),
            "n_edges",
            "n_reciprocal",
            "mean_edge_cos",
        ),
        "cell",
    )


# ---------------------------------------------------------------------------
# Embedding drift monitoring: the audit a production vector ingest runs
# BEFORE admitting a new batch — has the arriving distribution moved?
# ---------------------------------------------------------------------------


@register(
    "embedding_drift_report",
    "ext:similarity,A3-ext,V3-analog",
    "Embedding-space DRIFT audit between the arriving cohort (vec_id % 10 "
    "= 9 — the ingest split the semdedup/streaming gates established) and "
    "the existing corpus — the monitoring gate a vector pipeline runs "
    "before admitting a batch (an embedding-model version bump or a "
    "domain shift moves the distribution; ANN recall and SemDeDup "
    "thresholds silently degrade). Per cohort: count, mean norm "
    "(floor-micro convention), interpolated median norm over exact micro "
    "units; across cohorts: the cosine between the two centroid vectors, "
    "computed ENTIRELY in exact integer fixed point (per-dimension "
    "floor-micro sums -> floor-divided mean vectors bounded ~1e7, so the "
    "64-dim dot and both norms stay inside int64 and the only floating "
    "steps are two sqrt/divide ops on exact integers — deterministic on "
    "both engines, no float reduction over nondeterministic partition "
    "order anywhere). Everything is one scan: a 2-key grouped aggregate "
    "plus a 2x64-row dimension-sum table; no vector bytes shuffle. "
    "Output is a single row; either cohort empty -> empty report (the "
    "no-arrivals case is not drift).",
    oracle=f"""
        WITH b AS (
          SELECT CASE WHEN vec_id % 10 = 9 THEN 'arrivals' ELSE 'corpus' END
                   AS cohort,
                 embedding,
                 CAST(floor(sqrt({_DOT_SQL.format(a="embedding", b="embedding")})
                      * 1000000.0) AS BIGINT) AS nrm_micro
          FROM embeddings
          WHERE {VALID_EMB_PRED_SQL}
        ),
        stats AS (
          SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(nrm_micro) AS DOUBLE) / COUNT(*) / 1000000.0
                   AS avg_norm,
                 round(quantile_cont(CAST(nrm_micro AS DOUBLE), 0.5), 6)
                   AS p50_norm
          FROM b GROUP BY 1
        ),
        dims AS (
          SELECT cohort,
                 generate_subscripts(embedding, 1) AS pos,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                      AS BIGINT) AS v
          FROM b
        ),
        means AS (
          SELECT cohort, pos,
                 CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
          FROM dims GROUP BY 1, 2
        ),
        cc AS (
          SELECT CAST(SUM(a.m * c.m) AS BIGINT) AS dot,
                 CAST(SUM(a.m * a.m) AS BIGINT) AS qa,
                 CAST(SUM(c.m * c.m) AS BIGINT) AS qc
          FROM means a JOIN means c ON a.pos = c.pos
          WHERE a.cohort = 'arrivals' AND c.cohort = 'corpus'
        )
        SELECT sc.n AS n_corpus, sa.n AS n_arrivals,
               sc.avg_norm AS avg_norm_corpus,
               sa.avg_norm AS avg_norm_arrivals,
               sc.p50_norm AS p50_norm_corpus,
               sa.p50_norm AS p50_norm_arrivals,
               CAST(floor(CAST(dot AS DOUBLE)
                    / (sqrt(CAST(qa AS DOUBLE)) * sqrt(CAST(qc AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS centroid_cos_micro
        FROM stats sa
        JOIN stats sc ON sa.cohort = 'arrivals' AND sc.cohort = 'corpus'
        CROSS JOIN cc
        WHERE qa > 0 AND qc > 0
    """,
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.similarity import norm_sq

    emb = load_embeddings(spark, sf_dir)
    cohort = F.when(F.col("vec_id") % 10 == 9, F.lit("arrivals")).otherwise(
        F.lit("corpus")
    )
    base = emb.select(
        cohort.alias("cohort"),
        "embedding",
        F.floor(F.sqrt(norm_sq(F.col("embedding"))) * F.lit(1000000.0))
        .cast("bigint")
        .alias("nrm_micro"),
    )
    stats = base.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("nrm_micro").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("avg_norm"),
        F.round(
            F.percentile(F.col("nrm_micro").cast("double"), F.lit(0.5)), 6
        ).alias("p50_norm"),
    )
    # stats feeds two consumers (sa/sc_) and means feeds two (ma/mc) —
    # persist both tiny tables (2 and 2x64 rows) so the corpus scan and
    # the per-dimension explode run ONCE, not once per consumer
    stats = scoped_persist(stats)
    # per-dimension floor-micro sums -> floor-divided micro MEAN vectors:
    # |mean| <= ~1e7, so the 64-term dot/norm sums below stay exact int64
    means = scoped_persist(
        base.select("cohort", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "cohort",
            "pos",
            F.floor(F.col("val").cast("double") * F.lit(1000000.0))
            .cast("bigint")
            .alias("v"),
        )
        .groupBy("cohort", "pos")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("m")
        )
    )
    ma = means.filter(F.col("cohort") == "arrivals").select(
        "pos", F.col("m").alias("ma")
    )
    mc = means.filter(F.col("cohort") == "corpus").select(
        "pos", F.col("m").alias("mc")
    )
    cc = (
        ma.join(mc, "pos")
        .agg(
            F.sum(F.col("ma") * F.col("mc")).cast("bigint").alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).cast("bigint").alias("qa"),
            F.sum(F.col("mc") * F.col("mc")).cast("bigint").alias("qc"),
        )
    )
    sa = stats.filter(F.col("cohort") == "arrivals").select(
        F.col("n").alias("n_arrivals"),
        F.col("avg_norm").alias("avg_norm_arrivals"),
        F.col("p50_norm").alias("p50_norm_arrivals"),
    )
    sc_ = stats.filter(F.col("cohort") == "corpus").select(
        F.col("n").alias("n_corpus"),
        F.col("avg_norm").alias("avg_norm_corpus"),
        F.col("p50_norm").alias("p50_norm_corpus"),
    )
    cos_micro = F.floor(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("qa").cast("double")) * F.sqrt(F.col("qc").cast("double")))
        * F.lit(1000000.0)
    ).cast("bigint")
    return (
        sc_.crossJoin(sa)
        .crossJoin(cc.filter((F.col("qa") > 0) & (F.col("qc") > 0)))
        .select(
            "n_corpus",
            "n_arrivals",
            "avg_norm_corpus",
            "avg_norm_arrivals",
            "p50_norm_corpus",
            "p50_norm_arrivals",
            cos_micro.alias("centroid_cos_micro"),
        )
    )
