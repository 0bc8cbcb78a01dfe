"""Distributed Lloyd's k-means over an embedding column (engine extension):
the clustering step of corpus curation — topic bucketing, IVF coarse
quantizer training, near-dup blocking keys.

Spark-first shape, one iteration = ONE tiny shuffle:

- **Assignment is shuffle-free.** The k centroids collapse to a single
  array-of-structs row, broadcast-cross-joined onto every vector; the
  nearest centroid falls out of a row-local ``transform`` (per-centroid
  squared distance) + ``array_min`` (lexicographic (dist, cid) struct
  compare = deterministic argmin with id tie-break). No groupBy, no
  window: n rows never leave their partitions.
- **Update shuffles k×dims rows, not n×dims.** ``posexplode`` the
  assigned vectors and groupBy (cid, dim): Spark's partial HashAggregate
  combines map-side, so each task emits at most k×dims partial sums and
  the exchange moves kilobytes regardless of corpus size.
- **Centroids checkpoint per iteration** (k rows — the ``localCheckpoint``
  truncates the growing loop lineage exactly like connected_components;
  superseded rounds are freed at the RDD level immediately).

Cross-engine exactness (the whole operator is oracle-replayable in SQL):
float→double widening is exact and squared diffs multiply in IEEE double
(identical on both engines), but a raw ``double → DECIMAL(38,12)`` cast is
NOT portable — the engines disagree on the rounding of the 13th decimal
digit (measured: 1.7e-9 inertia drift over 500 vectors). So every double
enters accumulation through the repo's fixed-point convention instead:
``floor(x * 1e12 + 0.5)`` — scale-12 fixed point, half-up toward +inf,
identical IEEE steps on both engines (same rule as the streaming micros
fold). The pico-units accumulate in DECIMAL(38,0) (exact, order-
independent); centroid means and the final inertia leave fixed point with
ONE double divide. Init is deterministic (the k smallest vec_ids); ties in
assignment break by centroid id.

Empty clusters keep their previous centroid (left join + coalesce), the
standard Lloyd's fallback that keeps k stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..lifecycle import fan_out, free, query_scoped, scoped_persist

# exact order-independent fold of (a-b)^2 over the dim pairs, in scale-12
# fixed point: double multiply → floor(x*1e12 + 0.5) → DECIMAL(38,0) sum
_SQDIST = (
    "cast(aggregate(zip_with(dvec, c.cvec, "
    "(a, b) -> floor((a - b) * (a - b) * 1e12 + 0.5)), "
    "cast(0 as decimal(38,0)), "
    "(acc, x) -> cast(acc + cast(x as decimal(38,0)) as decimal(38,0))) "
    "as decimal(38,0))"
)

# built lazily — F.expr needs an active SparkContext, and this module is
# imported at queries-package load, before any session exists
_BEST_SQL = (
    "array_min(transform(cents, c -> "
    f"struct({_SQDIST} as dist, c.cid as cid)))"
)


def _as_double_vec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # NO fan_out here (measured and rejected, r13): this constructor is
    # called once per one-shot assignment and 8x per PQ sweep, and a blanket
    # repartition added one exchange per call — ann_index_refresh regressed
    # 4.9 -> 6.1 s, pq_model 4.9 -> 5.6 s. The fan-out pays only where the
    # vectors are then REUSED across passes — kmeans_fit persists+fans its
    # loop vec explicitly below.
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("dvec"),
    )


def _assign(vec: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, dist): nearest centroid per vector, shuffle-free."""
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents")
    )
    return (
        vec.crossJoin(F.broadcast(cent_row))
        .select("vec_id", F.expr(_BEST_SQL).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
    )


def _update(vec: DataFrame, asg: DataFrame, cent: DataFrame) -> DataFrame:
    """Per-cluster dimension means; empty clusters carry the old centroid."""
    dims = vec.join(asg.select("vec_id", "cid"), "vec_id").select(
        "cid", F.posexplode("dvec").alias("pos", "val")
    )
    means = dims.groupBy("cid", "pos").agg(
        (
            F.sum(
                F.expr("cast(floor(val * 1e12 + 0.5) as decimal(38,0))")
            ).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e12))
        ).alias("mval")
    )
    newc = means.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mval))), s -> s.mval)"
        ).alias("cvec")
    )
    return (
        cent.withColumnRenamed("cvec", "old")
        .join(newc, "cid", "left")
        .select("cid", F.coalesce(F.col("cvec"), F.col("old")).alias("cvec"))
    )


def kmeans_fit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    scoped: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means. Convention (ADVICE r3): ``iters`` = the number of
    ASSIGNMENT passes; the loop performs ``iters - 1`` centroid updates,
    and the returned assignments are computed against the final centroids
    (so ``iters=1`` is init + one assignment, zero updates). The DuckDB
    oracle in queries/kmeans.py replays the identical convention
    (``cd_{iters-1}`` after ``iters-1`` updates). Returns ``(assignments,
    centroids)`` — assignments as (vec_id, cid, dist) with dist = the
    fixed-point squared distance to the winning centroid, centroids as
    (cid, cvec array<double>). Deterministic: init = the embeddings of the
    ``k`` smallest ids, ties break by centroid id.

    ``scoped=True`` registers the final centroid checkpoint for
    ``release_scoped_caches`` (one-query lifetime); pass ``False`` when the
    caller owns the model's lifetime (e.g. a session-cached fitted
    quantizer reused across queries) — the k-row checkpoint then persists
    until the caller frees it."""
    # scoped persist + fan_out: the loop reads vec 2x per iteration
    # (assign + update) plus the final assignment, and the per-read argmin —
    # a k-wide transform folding fixed-point DECIMAL(38,0) aggregates over
    # dims — is the most expensive per-row expression in the repo; off a
    # sub-split-size embeddings scan it would run SINGLE-task every pass
    # (measured: the 8-core and 32-core times of the kmeans family were
    # identical before this). One narrow exchange fills a wide cache the
    # whole loop reads. kmeans_embeddings A/B: 2.40 -> 1.93 s (wins 3/3).
    vec = scoped_persist(fan_out(_as_double_vec(emb, id_col, vec_col), "vec_id"))
    cent = (
        emb.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("cid"),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("cvec"),
        )
        .localCheckpoint(eager=True)
    )
    for i in range(iters - 1):
        asg = _assign(vec, cent)
        new_cent = _update(vec, asg, cent).localCheckpoint(eager=True)
        free(cent)
        cent = new_cent
    if scoped:
        # the last checkpoint backs the final plan until the query is consumed
        query_scoped(cent)
    return _assign(vec, cent), cent


def kmeans(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """:func:`kmeans_fit` returning only the final assignment."""
    asg, _cent = kmeans_fit(emb, id_col, vec_col, k=k, iters=iters)
    return asg
