"""Similarity search over embedding columns (engine extension).

- **Brute-force cosine top-k** — the exact baseline: query-set × corpus join,
  FP-exact cosine, window top-k. Scales as |Q|·|C|; fine for small query sets,
  and the corpus side stays fully partition-parallel (queries broadcast).
- **IVF top-k** — the scale path: corpus pre-bucketed by ``label`` (the
  testdata's cluster id; in production, a KMeans assignment), one deterministic
  representative per bucket; a query probes only its nearest bucket. Search
  cost drops to |Q|·(buckets + bucket_size).

Cosine uses a strict left-to-right IEEE double fold over the array (order
fixed per row → deterministic under any partitioning), matching DuckDB's
``list_reduce`` bit-for-bit; final sqrt/divide are single IEEE ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window


def _seq_fold(arr: Column) -> Column:
    """Strict left-to-right IEEE double sum of an array.

    Array order is fixed per row, so this is deterministic regardless of
    partitioning — and it is bit-identical to DuckDB's ``list_reduce`` fold
    (decimal rounding of arbitrary doubles is NOT cross-engine stable, so the
    helpers.dsum convention doesn't apply to embeddings).
    """
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _seq_fold(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm_sq(a: Column) -> Column:
    return _seq_fold(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """NULL (never an ANSI DIVIDE_BY_ZERO crash) when either vector has
    zero norm — cosine is undefined there, and DuckDB's double division by
    zero is NULL too, so the engines agree; NULL comparisons then fall out
    of every threshold filter and rank last under DESC ordering."""
    return F.try_divide(dot(a, b), F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b)))


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with per-row norms hoisted out of the pair loop.

    ``norm_a``/``norm_b`` must be ``sqrt(norm_sq(v))`` of the same vectors —
    the value is then bit-identical to :func:`cosine` (same fold, same
    multiply/divide order, same NULL-on-zero-norm contract) while the
    O(pairs) work drops from three array folds to one."""
    return F.try_divide(dot(a, b), norm_a * norm_b)


def topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries``: (query_id, query_vec); ``corpus``: (vec_id, embedding).
    Ties break on vec_id ascending for determinism.
    """
    from ..lifecycle import fan_out

    queries = queries.withColumn("q_norm", F.sqrt(norm_sq(F.col("query_vec"))))
    # fan_out: the scored projection below is |corpus| x |queries| exact
    # cosines in a NARROW (broadcast-join) stage — off a sub-split-size
    # embeddings scan it would run single-task (guide §2)
    corpus = fan_out(corpus, "vec_id").withColumn(
        "c_norm", F.sqrt(norm_sq(F.col("embedding")))
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        cosine_prenormed(
            F.col("query_vec"), F.col("embedding"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def bucket_representatives(corpus: DataFrame) -> DataFrame:
    """One deterministic representative vector per label bucket (min vec_id).

    A production IVF uses centroids; the min-id representative keeps the
    operator FP-exact and oracle-checkable while exercising the same plan
    shape (tiny broadcastable routing table).
    """
    w = Window.partitionBy("label").orderBy("vec_id")
    return (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("embedding").alias("rep_vec"))
    )


def topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """IVF-style top-k: route each query to its nearest bucket representative,
    then exact top-k within that bucket only."""
    reps = bucket_representatives(corpus)
    queries = queries.withColumn("q_norm", F.sqrt(norm_sq(F.col("query_vec"))))
    routed = (
        queries.crossJoin(F.broadcast(reps))
        .select(
            "query_id",
            "query_vec",
            "q_norm",
            "label",
            cosine(F.col("query_vec"), F.col("rep_vec")).alias("rep_cos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("rep_cos").desc(), F.col("label").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("query_id", "query_vec", "q_norm", "label")
    )
    scored = (
        corpus.withColumn("c_norm", F.sqrt(norm_sq(F.col("embedding"))))
        .join(F.broadcast(routed), "label")
        .select(
            "query_id",
            "label",
            "vec_id",
            cosine_prenormed(
                F.col("query_vec"), F.col("embedding"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "label", "rank", "vec_id", "cos")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame, threshold: float = 0.95, salts: int = 16
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label bucket (a < b).

    Blocking bounds the pair space to within-bucket; at scale the label comes
    from LSH/KMeans so buckets stay small and the self-join shuffles per
    bucket, never the full O(n²).

    Two scale levers beyond the blocking itself:
    - per-row norms are hoisted out of the pair loop (one array fold per
      candidate pair instead of three);
    - the left side is salted on ``a % salts`` and the right side replicated
      per salt, so parallelism is labels×salts instead of being capped at the
      (typically tiny) label cardinality. Each (a, b) pair still appears in
      exactly one salt bucket."""
    normed = corpus.withColumn("nrm", F.sqrt(norm_sq(F.col("embedding"))))
    left = normed.select(
        F.col("label"),
        F.pmod(F.col("vec_id"), F.lit(salts)).alias("salt"),
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    right = normed.select(
        F.col("label"),
        F.explode(F.sequence(F.lit(0), F.lit(salts - 1))).alias("salt"),
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        left.join(right, ["label", "salt"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "label",
            "a",
            "b",
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def topk_ivf_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    km_k: int = 8,
    km_iters: int = 3,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """True IVF ANN: a k-means coarse quantizer trained on the corpus
    (``operators.kmeans``), multi-probe routing, exact re-rank in the
    probed cells.

    This is the production shape of :func:`topk_ivf` (whose label buckets
    stand in for a trained quantizer): cells come from Lloyd's iterations,
    each query probes its ``n_probe`` nearest centroids (recall insurance at
    cell boundaries — the standard IVF accuracy knob), and only those
    cells' members are scored. Search cost |Q|·(km_k + n_probe·cell_size).

    Scale: centroids broadcast both for routing (one array-of-structs row,
    row-local sort — no shuffle) and the cell fan-out join (probes table is
    |Q|·n_probe rows, broadcast onto the assignment-joined corpus). The
    corpus-side cell assignment is the kmeans output — at 100 TB it would be
    materialized once (bucketed by cell) and reused across query batches.

    Determinism: routing uses the same fixed-point squared distance as
    training (ties by cid); re-rank uses the FP-exact cosine with vec_id
    tie-break — every stage is oracle-replayable.
    """
    from .kmeans import _SQDIST, kmeans_fit

    if model is not None:
        # pre-fitted quantizer (session-cached train-once/serve-many path)
        asg, cent = model
    else:
        asg, cent = kmeans_fit(corpus, "vec_id", "embedding", k=km_k, iters=km_iters)
    cells = corpus.select("vec_id", "embedding").join(
        asg.select("vec_id", "cid"), "vec_id"
    )
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents")
    )
    # n_probe nearest centroids: same struct compare as training's argmin
    # (dist asc, cid asc), just sliced instead of array_min'ed
    probe_sql = (
        "slice(array_sort(transform(cents, c -> "
        f"struct({_SQDIST} as dist, c.cid as cid))), 1, {n_probe})"
    )
    probes = (
        queries.select(
            "query_id",
            "query_vec",
            F.expr("transform(query_vec, x -> cast(x as double))").alias("dvec"),
        )
        .crossJoin(F.broadcast(cent_row))
        .select("query_id", "query_vec", F.explode(F.expr(probe_sql)).alias("p"))
        .select("query_id", "query_vec", F.col("p.cid").alias("cid"))
    )
    scored = cells.join(F.broadcast(probes), "cid").select(
        "query_id",
        F.col("cid").alias("cell"),
        "vec_id",
        cosine(F.col("query_vec"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "cell", "vec_id", "cos")
    )


# ---------------------------------------------------------------------------
# Signed-random-projection (SRP / hyperplane) LSH for cosine similarity.
# ---------------------------------------------------------------------------

def srp_planes(bits: int, dims: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — engine-independent constants.

    Derived in the DRIVER (plain Python hashlib), then baked into BOTH the
    Spark plan and the DuckDB oracle as literals, so there is no cross-engine
    hash function to keep in sync. sign(md5("srp:<bit>:<dim>") & 1): an
    unbiased, reproducible Rademacher matrix."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"srp:{b}:{i}".encode()).hexdigest(), 16) % 2 == 0
            else -1.0
            for i in range(dims)
        ]
        for b in range(bits)
    ]


def _plane_dot(vec: Column, plane: list[float]) -> Column:
    """Strict left-to-right double fold of vec·plane (parity with the
    oracle's list_reduce replay)."""
    lits = F.array(*[F.lit(v) for v in plane])
    return _seq_fold(F.zip_with(vec, lits, lambda x, y: x.cast("double") * y))


def srp_signature_bands(
    vec: Column, planes: list[list[float]], bands: int
) -> list[Column]:
    """One bucket string per band: the concatenated sign bits ('1' iff the
    projection is >= 0) of that band's hyperplanes. bits must divide evenly
    into bands."""
    bits = len(planes)
    per = bits // bands
    out = []
    for j in range(bands):
        chars = [
            F.when(_plane_dot(vec, planes[j * per + i]) >= 0.0, F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(per)
        ]
        out.append(F.concat(*chars))
    return out


def srp_near_dup_pairs(
    corpus: DataFrame,
    bits: int = 32,
    bands: int = 4,
    threshold: float = 0.3,
    dims: int = 64,
) -> DataFrame:
    """Cosine near-dup pairs via banded SRP-LSH + exact verification.

    Collision probability per hyperplane is 1 - θ/π, so an 8-bit band fires
    at (1-θ/π)^8 and 4 bands OR together — the standard banding trade
    (high recall at high cosine, tiny candidate volume).

    Scale shape (the same discipline as MinHash LSH in operators/dedup.py):
    the shuffle carries only (vec_id, band, bucket) — never the vectors —
    the self-join is per (band, bucket), candidates dedup BEFORE the
    vectors join back for exact cosine verification, so vector bytes move
    at most twice and the pair space stays per-bucket.
    """
    from ..lifecycle import fan_out, scoped_persist

    planes = srp_planes(bits, dims)
    # fan_out: both persisted tables below are filled by HOF folds over the
    # vectors (32 plane dots / the norm), and a sub-split-size embeddings
    # file scans as one partition — the fills would run single-task
    corpus = fan_out(corpus, "vec_id")
    sigs = srp_signature_bands(F.col("embedding"), planes, bands)
    # Scoped persist (guide §5 — cache only expensive lineage): the bucket
    # self-join below reads ``entries`` on BOTH branches, and each branch
    # would otherwise re-run the 32-plane SRP fold (32 interpreted
    # zip_with+aggregate HOFs per row — the dominant per-row cost of this
    # operator; the before-plan carried the fold under two separate parquet
    # scans). The persisted table is tiny: (vec_id, band, bucket) per band.
    entries = scoped_persist(
        corpus.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("band"), s.alias("bucket"))
                        for j, s in enumerate(sigs)
                    ]
                )
            ).alias("e"),
        ).select("vec_id", "e.band", "e.bucket")
    )
    cand = (
        entries.alias("l")
        .join(entries.alias("r"), ["band", "bucket"])
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b")
        )
        .distinct()
    )
    # same rationale: the verify join reads the normed vectors on both the
    # a- and b-side — persist so the corpus scan + norm fold run once
    normed = scoped_persist(
        corpus.select(
            "vec_id",
            F.col("embedding").alias("v"),
            F.sqrt(norm_sq(F.col("embedding"))).alias("nrm"),
        )
    )
    va = normed.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = normed.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            "a",
            "b",
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# binary (1-bit) quantization + Hamming shortlist
# ---------------------------------------------------------------------------

def binary_signature_words(vec_col: str, dims: int) -> list:
    """1-bit quantization of a ``dims``-wide vector column packed into
    32-bit words stored as BIGINTs (32 bits per word keeps every value
    positive — no sign-bit asymmetry to reconcile cross-engine). Bit ``i``
    is set iff element ``i+1`` (1-based) is strictly positive — the
    sign-bit code of Charikar-style binary embeddings, 64x smaller than the
    float vector.

    Returned as SQL-expression Columns (shiftleft by a lambda variable is
    SQL-only); deterministic pure integer arithmetic on both engines."""
    words = []
    for w in range(0, dims, 32):
        words.append(
            F.expr(
                f"aggregate(sequence({w}, {min(w + 31, dims - 1)}), "
                "CAST(0 AS BIGINT), (acc, i) -> acc + "
                f"IF(element_at({vec_col}, i + 1) > 0, "
                f"shiftleft(CAST(1 AS BIGINT), i - {w}), "
                "CAST(0 AS BIGINT)))"
            ).alias(f"w{w // 32}")
        )
    return words


def hamming_words(n_words: int, a_prefix: str, b_prefix: str) -> Column:
    """Hamming distance between two packed signatures: sum of
    bit_count(xor(word_i_a, word_i_b)) — pure JVM integer ops."""
    total = None
    for i in range(n_words):
        d = F.bit_count(
            F.col(f"{a_prefix}w{i}").bitwiseXOR(F.col(f"{b_prefix}w{i}"))
        )
        total = d if total is None else total + d
    return total.cast("bigint")
