"""Deletion propagation — right-to-be-forgotten sweeps (engine extension,
r9 verdict task #5).

The most-requested real-pipeline operation the surface lacked: prove that a
tombstoned entity's removal reaches EVERY derived surface, with hashed
before/after evidence and the touched-partition bound that makes the sweep
affordable at 100 TB.

Two sweeps, two entity kinds:

- **Documents** (``deletion_propagation_docs``): tombstoned doc_ids leave
  the corpus; the near-dup CLUSTER graph re-canonicalizes (clusters whose
  representative died elect a new surviving rep; zero surviving doc may
  still reference a dead rep) and the SHARD MANIFEST re-routes (tombstones
  hold no shard slot; the re-rank moves only boundary-crossing docs). The
  pair list is NOT recomputed — MinHash LSH candidacy and Jaccard verify
  are strictly pairwise, so the surviving pair graph IS the full graph
  filtered to surviving endpoints (the production sweep filters the
  materialized pair lake, never re-shingles the corpus).
- **Events / sketch lake** (``deletion_propagation_sketch_lake``): a GDPR
  user-delete rebuilds KMV partials ONLY for the date partitions the user
  appears in; untouched partitions are REUSED from the lake as-is, and the
  stitched lake (reused + rebuilt) must merge hash-EQUAL to a from-scratch
  sketch of the post-delete corpus — the partition bound is the efficiency
  claim (touched/total counts are output columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import next_generation, write_once, written
from ..operators.cluster import connected_components
from ..operators.sketch import KMV_K
from ..sources.tpch import load_table
from ..streaming.drain import drain_batches, read_parquet_stream
from .dedup import MINHASH_PAIRS_CTES, near_dup_pairs_cached
from .helpers import ordered_small
from .lake import SKETCH_KINDS, group_key, sketch_lake
from .layout import N_SHARDS, SHARD_TARGET_BYTES
from .registry import register

# deterministic tombstone sets, present at every scale factor
DELETED_DOC_PRED = "doc_id % 100 = 7"
DELETED_USER_PRED = "user_id = 3"


def _count1(df: DataFrame, alias: str) -> DataFrame:
    return df.agg(F.count(F.lit(1)).cast("bigint").alias(alias))


def _tagged(df: DataFrame, kind: str, v: F.Column | None = None) -> DataFrame:
    """One (k, v) leg of a single-pass report union (see _report_union)."""
    val = F.lit(1) if v is None else v
    return df.select(F.lit(kind).alias("k"), val.cast("bigint").alias("v"))


def _report_union(legs: list[DataFrame]) -> DataFrame:
    """Union the tagged legs of a one-row audit report.

    The forget reports used to assemble their one output row as a chain of
    ``crossJoin(F.broadcast(<one-row aggregate>))`` — one BroadcastExchange
    subquery PER COLUMN. Profiled on deletion_propagation_pq_model (sf0.1):
    94 jobs, ~4.9 s of driver gaps between jobs vs ~4.6 s of executor stage
    time — the report shape itself was the bottleneck (planning + AQE stage
    scheduling + broadcast collects per column), not the data. Tagging each
    source row with its report key and running ONE conditional aggregate
    over the union computes every column in a single pass: no broadcast
    exchanges, no driver collects, one tiny shuffle (guide §1.2 — remove
    passes — and §5 — keep the driver out of the data path). Conditional
    counts/sums/mins over the tag replay identically in the DuckDB oracles
    because the per-column VALUES are unchanged."""
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _cnt(kind: str) -> F.Column:
    """COUNT of a tag's rows (bigint, 0 when the tag is absent)."""
    return (
        F.coalesce(F.sum(F.when(F.col("k") == kind, F.lit(1))), F.lit(0))
        .cast("bigint")
    )


def _vsum(kind: str) -> F.Column:
    """SUM of a tag's values (bigint, 0 when the tag is absent)."""
    return (
        F.coalesce(F.sum(F.when(F.col("k") == kind, F.col("v"))), F.lit(0))
        .cast("bigint")
    )


def _vand(kind: str) -> F.Column:
    """AND over a tag's 0/1 values (TRUE when the tag is absent) — the
    single-pass form of ``coalesce(min(<bool>), true)``."""
    return F.coalesce(
        F.min(F.when(F.col("k") == kind, F.col("v") == 1)), F.lit(True)
    )


def _cluster_assign(universe: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_rep) over ``universe`` given verified pairs."""
    cc = connected_components(pairs, "a", "b")
    return universe.join(cc, universe.doc_id == cc.node, "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
    )


def _cluster_assign_overlapped(
    before: tuple[DataFrame, DataFrame], after: tuple[DataFrame, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """The before/after cluster re-canonicalizations in PARALLEL driver
    threads (guide §2.6 — overlap independent jobs): each CC loop is a
    barrier loop of tiny narrow-shuffle jobs plus a convergence collect per
    round, so its wall-clock is scheduling latency, not executor saturation
    — two loops overlap almost perfectly. Safe only because
    ``connected_components`` runs its loop on a conf-ISOLATED child session
    (operators/cluster.py): the loop-width/broadcast conf each thread tunes
    is private, so concurrent legs cannot race plan-time conf reads.
    Callers must hand in edge inputs whose shared upstream (the pair lake)
    is already materialized, so the two threads hit warm cache instead of
    racing the same persist fill."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(_cluster_assign, *before)
        fa = pool.submit(_cluster_assign, *after)
        return fb.result(), fa.result()


def _shard_assign(docs: DataFrame) -> DataFrame:
    """(doc_id, shard_id) — the one shared shard convention
    (queries/layout.py::shard_perm/shard_assignments), so the sweep audits
    the SAME permutation the manifest and router produce."""
    from .layout import shard_assignments, shard_perm

    keyed = docs.select(
        "doc_id", "n_chars", shard_perm(F.col("doc_id")).alias("perm")
    )
    return shard_assignments(keyed).select("doc_id", "shard_id")


_FORGET_DOCS_ORACLE = f"""
        WITH RECURSIVE {MINHASH_PAIRS_CTES},
        dead AS (SELECT doc_id FROM documents WHERE {DELETED_DOC_PRED}),
        alive AS (SELECT doc_id, n_chars FROM documents
                  WHERE NOT ({DELETED_DOC_PRED})),
        edges_b AS (
          SELECT a AS x, b AS y FROM pairs
          UNION SELECT b AS x, a AS y FROM pairs
        ),
        reach_b AS (
          SELECT x, y FROM edges_b
          UNION
          SELECT r.x, e.y FROM reach_b r JOIN edges_b e ON r.y = e.x
        ),
        rep_b AS (SELECT x, least(x, min(y)) AS component
                  FROM reach_b GROUP BY x),
        assign_b AS (
          SELECT d.doc_id,
                 CAST(COALESCE(r.component, d.doc_id) AS BIGINT) AS rep
          FROM documents d LEFT JOIN rep_b r ON r.x = d.doc_id
        ),
        pairs_a AS (
          SELECT a, b FROM pairs
          WHERE a NOT IN (SELECT doc_id FROM dead)
            AND b NOT IN (SELECT doc_id FROM dead)
        ),
        edges_a AS (
          SELECT a AS x, b AS y FROM pairs_a
          UNION SELECT b AS x, a AS y FROM pairs_a
        ),
        reach_a AS (
          SELECT x, y FROM edges_a
          UNION
          SELECT r.x, e.y FROM reach_a r JOIN edges_a e ON r.y = e.x
        ),
        rep_a AS (SELECT x, least(x, min(y)) AS component
                  FROM reach_a GROUP BY x),
        assign_a AS (
          SELECT d.doc_id,
                 CAST(COALESCE(r.component, d.doc_id) AS BIGINT) AS rep
          FROM alive d LEFT JOIN rep_a r ON r.x = d.doc_id
        ),
        shard_b AS (
          SELECT doc_id,
                 CAST(NTILE((SELECT GREATEST({N_SHARDS},
                        CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
                        // {SHARD_TARGET_BYTES}) FROM documents)) OVER
                      (ORDER BY sha256(CAST(doc_id AS VARCHAR))) - 1
                      AS BIGINT) AS shard_id
          FROM documents
        ),
        shard_a AS (
          SELECT doc_id,
                 CAST(NTILE((SELECT GREATEST({N_SHARDS},
                        CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
                        // {SHARD_TARGET_BYTES}) FROM alive)) OVER
                      (ORDER BY sha256(CAST(doc_id AS VARCHAR))) - 1
                      AS BIGINT) AS shard_id
          FROM alive
        ),
        m AS (
          SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM dead) AS n_tombstones,
            (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
             FROM documents WHERE {DELETED_DOC_PRED}) AS bytes_removed,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM alive) AS n_docs_after,
            (SELECT CAST(COUNT(DISTINCT rep) AS BIGINT) FROM assign_b)
              AS n_clusters_before,
            (SELECT CAST(COUNT(DISTINCT rep) AS BIGINT) FROM assign_a)
              AS n_clusters_after,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT rep FROM assign_b) rb
             WHERE rb.rep IN (SELECT doc_id FROM dead))
              AS n_reps_deleted,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM assign_a a JOIN assign_b b USING (doc_id)
             WHERE a.rep <> b.rep) AS n_rerooted_docs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM assign_a
             WHERE rep IN (SELECT doc_id FROM dead))
              AS n_orphan_refs_after,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM shard_a a JOIN shard_b b USING (doc_id)
             WHERE a.shard_id <> b.shard_id) AS n_resharded,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM shard_a
             WHERE doc_id IN (SELECT doc_id FROM dead))
              AS n_tombstones_in_shards_after
        )
        SELECT * FROM m
    """


@register(
    "deletion_propagation_docs",
    "A6-ext,J7-analog,V4-analog",
    "Right-to-be-forgotten sweep over the DOCUMENT surfaces (r9 verdict "
    f"task #5): tombstones ({DELETED_DOC_PRED}) leave the corpus and the "
    "query proves the removal reached every derived surface — near-dup "
    "CLUSTERS re-canonicalize (n_reps_deleted clusters elect a new "
    "surviving representative; n_orphan_refs_after counts surviving docs "
    "still pointing at a dead rep — 0 by construction here, since the "
    "after-assignment derives from survivor-filtered inputs: the column "
    "documents the invariant rather than testing a physical artifact), "
    "and the SHARD MANIFEST re-routes under the corpus-size-adaptive "
    "shard count (tombstones hold no slot — n_tombstones_in_shards_after "
    "is likewise 0 by construction; n_resharded counts the "
    "boundary-crossing moves of the re-rank). The pair graph is FILTERED, "
    "never recomputed: MinHash LSH candidacy and Jaccard verify are "
    "strictly pairwise, so surviving-pairs == full-pairs restricted to "
    "surviving endpoints (the production sweep filters the materialized "
    "pair lake instead of re-shingling 100 TB). The oracle replays both "
    "cluster closures (before/after), both shard permutations and every "
    "count end-to-end.",
    oracle=_FORGET_DOCS_ORACLE,
)
def deletion_propagation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dead = docs.filter(F.expr(DELETED_DOC_PRED)).select("doc_id")
    alive = docs.filter(~F.expr(DELETED_DOC_PRED))

    pairs = near_dup_pairs_cached(spark, sf_dir)
    dead_a = F.broadcast(dead.select(F.col("doc_id").alias("a")))
    dead_b = F.broadcast(dead.select(F.col("doc_id").alias("b")))
    pairs_alive = pairs.join(dead_a, "a", "left_anti").join(
        dead_b, "b", "left_anti"
    )
    # pairs is an eager session-lifetime checkpoint (near_dup_pairs_cached),
    # so both threads read warm state — overlap the two independent CC loops
    assign_b, assign_a = _cluster_assign_overlapped(
        (docs.select("doc_id"), pairs), (alive.select("doc_id"), pairs_alive)
    )
    assign_b = assign_b.withColumnRenamed("cluster_rep", "rep_b")
    assign_a = assign_a.withColumnRenamed("cluster_rep", "rep_a")

    shard_b = _shard_assign(docs).withColumnRenamed("shard_id", "sh_b")
    shard_a = _shard_assign(alive).withColumnRenamed("shard_id", "sh_a")

    # the tombstone set re-joins surfaces that share the docs lineage —
    # rename its column so Spark's ambiguous-self-join check can't trip
    dead_ids = F.broadcast(dead.select(F.col("doc_id").alias("dead_id")))
    out = (
        _count1(dead, "n_tombstones")
        .crossJoin(
            F.broadcast(
                docs.filter(F.expr(DELETED_DOC_PRED)).agg(
                    F.coalesce(F.sum("n_chars"), F.lit(0))
                    .cast("bigint")
                    .alias("bytes_removed")
                )
            )
        )
        .crossJoin(F.broadcast(_count1(alive, "n_docs_after")))
        .crossJoin(
            F.broadcast(
                assign_b.agg(
                    F.countDistinct("rep_b")
                    .cast("bigint")
                    .alias("n_clusters_before")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                assign_a.agg(
                    F.countDistinct("rep_a")
                    .cast("bigint")
                    .alias("n_clusters_after")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    assign_b.select("rep_b")
                    .distinct()
                    .join(dead_ids, F.col("rep_b") == F.col("dead_id")),
                    "n_reps_deleted",
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    assign_a.join(assign_b, "doc_id").filter(
                        F.col("rep_a") != F.col("rep_b")
                    ),
                    "n_rerooted_docs",
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    assign_a.join(dead_ids, F.col("rep_a") == F.col("dead_id")),
                    "n_orphan_refs_after",
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    shard_a.join(shard_b, "doc_id").filter(
                        F.col("sh_a") != F.col("sh_b")
                    ),
                    "n_resharded",
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    shard_a.join(
                        dead_ids, F.col("doc_id") == F.col("dead_id")
                    ),
                    "n_tombstones_in_shards_after",
                )
            )
        )
    )
    return ordered_small(out, "n_tombstones")


def _forget_lake_oracle_sql(deleted_pred: str = DELETED_USER_PRED) -> str:
    """The KMV sketch-lake sweep replay, parameterized over the tombstone
    predicate so the streaming twin (a richer multi-user set split into
    waves) reuses the ONE canonical oracle — the stitched stream state is
    order-independent, so the full-set replay serves both forms."""
    return f"""
        WITH keyed AS (
          SELECT DISTINCT CAST(ts AS DATE) AS d, event_type AS g, user_id,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        hashed AS (
          SELECT d, g, user_id,
                 CAST(concat('0x', substr(sha256(concat('kmv:', key)),
                      1, 14)) AS BIGINT) AS h
          FROM keyed
        ),
        part_before AS (
          SELECT d, g, h FROM (
            SELECT d, g, h,
                   ROW_NUMBER() OVER (PARTITION BY d, g ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
        ),
        touched AS (
          SELECT DISTINCT d FROM keyed WHERE {deleted_pred}
        ),
        kept AS (
          SELECT d, g, h FROM part_before
          WHERE d NOT IN (SELECT d FROM touched)
        ),
        rebuilt AS (
          SELECT d, g, h FROM (
            SELECT d, g, h,
                   ROW_NUMBER() OVER (PARTITION BY d, g ORDER BY h) AS rn
            FROM hashed
            WHERE d IN (SELECT d FROM touched)
              AND NOT ({deleted_pred})
          ) WHERE rn <= {KMV_K}
        ),
        stitched AS (
          SELECT * FROM kept UNION ALL SELECT * FROM rebuilt
        ),
        ms AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk, g,
                 CAST(MAX(h) AS BIGINT) AS kth_min,
                 CAST(COUNT(*) AS BIGINT) AS n_in_sketch
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn FROM stitched)
          WHERE rn <= {KMV_K} GROUP BY g
        ),
        scratch AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(MAX(h) AS BIGINT) AS kth_s,
                 CAST(COUNT(*) AS BIGINT) AS n_s
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn
                FROM hashed WHERE NOT ({deleted_pred}))
          WHERE rn <= {KMV_K} GROUP BY g
        ),
        cb AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_partials_total,
                 CAST(COUNT(DISTINCT d) FILTER (
                      WHERE d IN (SELECT d FROM touched)) AS BIGINT)
                   AS n_partials_touched
          FROM part_before GROUP BY g
        )
        SELECT ms.g AS event_type,
               cb.n_partials_total,
               cb.n_partials_touched,
               ms.kth_min,
               ms.n_in_sketch,
               (ms.kth_min = scratch.kth_s AND ms.n_in_sketch = scratch.n_s)
                 AS stitched_equals_scratch
        FROM ms
        JOIN scratch USING (gk)
        JOIN cb USING (gk)
        ORDER BY event_type
    """


def _sketch_sweep_report(
    before: DataFrame,
    stitched: DataFrame,
    hashed_after: DataFrame,
    touched: DataFrame,
) -> DataFrame:
    """The KMV sketch-lake sweep audit shared by the batch and streaming
    sweeps, per event type: the lake's partition counts (total, and
    ``touched`` by the deletes), the ``stitched`` lake's merged sketch, and
    whether it equals a from-scratch sketch of the post-delete dated hashes
    ``hashed_after``."""
    kmv = SKETCH_KINDS["kmv"]
    scratch = kmv.summarize(kmv.merge(hashed_after)).select(
        group_key(),
        F.col("kth_min").alias("kth_s"),
        F.col("n_in_sketch").alias("n_s"),
    )
    cb = (
        before.join(
            touched.withColumn("is_touched", F.lit(1)), "event_date", "left"
        )
        .groupBy("g")
        .agg(
            F.countDistinct("event_date")
            .cast("bigint")
            .alias("n_partials_total"),
            F.countDistinct(
                F.when(F.col("is_touched") == 1, F.col("event_date"))
            )
            .cast("bigint")
            .alias("n_partials_touched"),
        )
        .select(group_key(), "n_partials_total", "n_partials_touched")
    )
    return ordered_small(
        kmv.summarize(kmv.merge(stitched))
        .withColumn("gk", group_key())
        .join(scratch, "gk")
        .join(cb, "gk")
        .select(
            F.col("g").alias("event_type"),
            "n_partials_total",
            "n_partials_touched",
            "kth_min",
            "n_in_sketch",
            (
                (F.col("kth_min") == F.col("kth_s"))
                & (F.col("n_in_sketch") == F.col("n_s"))
            ).alias("stitched_equals_scratch"),
        ),
        "event_type",
    )


@register(
    "deletion_propagation_sketch_lake",
    "S6-analog,A10-ext,V4-analog",
    "Right-to-be-forgotten sweep over the PERSISTED SKETCH LAKE (r9 "
    f"verdict task #5): a GDPR user-delete ({DELETED_USER_PRED}) rebuilds "
    "KMV partials ONLY for the date partitions the user appears in — "
    "untouched partitions are REUSED from the lake verbatim, which is the "
    "efficiency claim (n_partials_touched / n_partials_total are output "
    "columns; a user's keys embed their dates, so no other partition can "
    "change). The stitched lake (reused + rebuilt) must merge hash-EQUAL "
    "to a from-scratch whole-corpus sketch of the post-delete events — "
    "the stitched_equals_scratch flag flips red if the sweep missed a "
    "partition, rebuilt one it shouldn't have, or broke the merge. NULL "
    "event_type groups ride the null-coalesced join key like every lake "
    "audit. The oracle replays partials, touch detection, partition "
    "rebuild, stitching and both merges from the raw events view.",
    oracle=_forget_lake_oracle_sql(),
)
def deletion_propagation_sketch_lake(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    kmv = SKETCH_KINDS["kmv"]
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # the partitions the deleted user can possibly affect (O(dates) rows)
    touched = F.broadcast(
        ev.filter(F.expr(DELETED_USER_PRED))
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
    )

    before = sketch_lake(spark, sf_dir, "kmv")
    kept = before.join(touched, "event_date", "left_anti")
    # the post-delete key/hash stream through the lake's own recipe — a
    # copied recipe that drifted would only surface at runtime as a
    # stitched-lake hash mismatch
    hashed_after = kmv.fields(ev.filter(~F.expr(DELETED_USER_PRED)))
    # rebuild ONLY the touched partitions from the post-delete corpus: the
    # date semi-join prunes the scan to those partitions in production
    rebuilt = kmv.partial(hashed_after.join(touched, "event_date"))
    return _sketch_sweep_report(
        before, kept.unionByName(rebuilt), hashed_after, touched
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten for the FROZEN-MODEL surfaces (r10 verdict task #1 —
# the completion of the r10 deletion story): a deleted entity's traces must
# vanish from the PERSISTED model artifacts too, not just the row/pair/sketch
# lakes. Three surfaces, three queries:
#   - the persisted ANN quantizer (operators/model_store.py parquet) — hot-
#     cell partial refit via the ann_index_refresh machinery, never a full
#     retrain (this file);
#   - the streaming visual gate's persisted signature lake + the multimodal
#     pair/cluster state (deletion_propagation_multimodal);
#   - the streaming semantic gate's persisted routing table
#     (deletion_propagation_semgate_state).
# ---------------------------------------------------------------------------

DELETED_VEC_PRED = "vec_id % 100 = 7"

def _forget_model_paths(sf_dir: str) -> tuple[str, str]:
    from .lake import _lake_path

    return (
        _lake_path(sf_dir, "ann_model_stale"),
        _lake_path(sf_dir, "ann_model_forget"),
    )


def ann_model_forget_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row summary of a GDPR sweep over the PERSISTED ANN quantizer.

    Pipeline (every stage deterministic and oracle-replayable):

    1. FROZEN model: the session quantizer (trained on the full corpus —
       the state holding the deleted vectors' influence) is persisted to
       parquet via model_store and loaded back; all vectors re-encode
       against the loaded model (model_store's serve path).
    2. Tombstones: ``DELETED_VEC_PRED`` vectors leave the assignment
       table; TOUCHED cells = cells that held at least one of them.
    3. Partial refit (the ann_index_refresh m-step, aimed at tombstones
       instead of drift): touched cells re-center to the fixed-point mean
       of their SURVIVING members — so no persisted centroid remains a
       function of a deleted vector; a cell whose members ALL died is
       DROPPED from the model (the Lloyd's carry-old-centroid fallback
       would re-persist deleted-data influence). Untouched cells stay
       byte-identical — frozen, never recomputed.
    4. Re-route: only touched-cell survivors re-assign against the
       refreshed centroid set — O(touched mass), never a full re-encode.
    5. The refreshed model is PERSISTED and read back; the output row's
       evidence comes from the physical artifacts (a broken writer flips
       the flags), with the oracle replaying training, sweep, refit,
       re-route and both model states from the raw embeddings view.
    """
    from .kmeans import fitted_model
    from .similarity import load_embeddings

    from ..operators.model_store import save_kmeans_model

    stale_path, fresh_path = _forget_model_paths(sf_dir)
    emb = load_embeddings(spark, sf_dir)
    write_once(
        stale_path,
        lambda: save_kmeans_model(fitted_model(spark, sf_dir)[1], stale_path),
    )
    write_fresh = not written(fresh_path)
    out = ann_model_sweep_frames(
        spark, emb, stale_path, fresh_path, DELETED_VEC_PRED, write_fresh
    )
    write_once(fresh_path, lambda: None)  # the sweep's writes completed
    return out


def ann_model_sweep_frames(
    spark: SparkSession,
    emb: DataFrame,
    stale_path: str,
    fresh_path: str,
    dead_pred: str,
    write_fresh: bool = True,
) -> DataFrame:
    """The sweep itself, parameterized over (corpus, persisted stale model,
    tombstone predicate) so tests can drive it over synthetic corpora —
    including the emptied-cell fixture (every member of a cell deleted)."""
    from ..lifecycle import scoped_persist
    from ..operators.kmeans import _as_double_vec, _assign, _update
    from ..operators.model_store import load_kmeans_model, save_kmeans_model

    dead = emb.filter(F.expr(dead_pred)).select("vec_id")
    asg_loaded, cent_stale = load_kmeans_model(spark, emb, stale_path)
    # consumed by touched-cell detection, the survivor filter, the refit
    # and the re-route anti-join — persist once (O(n) two-column rows)
    asg_all = scoped_persist(asg_loaded.select("vec_id", "cid"))

    touched = scoped_persist(
        asg_all.join(F.broadcast(dead), "vec_id").select("cid").distinct()
    )
    asg_alive = asg_all.join(F.broadcast(dead), "vec_id", "left_anti")
    refit_members = scoped_persist(asg_alive.join(F.broadcast(touched), "cid"))

    vec_all = _as_double_vec(emb, "vec_id", "embedding")
    cent_refit = _update(vec_all, refit_members, cent_stale)
    # drop cells whose every member died: the carry-old fallback would
    # re-persist a centroid trained on deleted data
    emptied = touched.join(
        refit_members.select("cid").distinct(), "cid", "left_anti"
    )
    cent_fresh = cent_refit.join(F.broadcast(emptied), "cid", "left_anti")

    if write_fresh:
        save_kmeans_model(cent_fresh, fresh_path)
    fresh_stored = spark.read.parquet(fresh_path).select("cid", "cvec")
    stale_stored = spark.read.parquet(stale_path).select("cid", "cvec")

    re_routed = _assign(
        vec_all.join(refit_members.select("vec_id"), "vec_id"), fresh_stored
    ).select("vec_id", "cid")
    asg_fresh = asg_alive.join(
        F.broadcast(touched), "cid", "left_anti"
    ).unionByName(re_routed)

    n_tomb = _count1(dead, "n_tombstones")
    n_cells = _count1(stale_stored, "n_cells_total")
    n_touch = _count1(touched, "n_touched_cells")
    n_empty = _count1(emptied, "n_cells_emptied")
    n_refit = _count1(refit_members, "n_refit_vectors")
    n_rerouted = _count1(
        re_routed.join(
            asg_all.select("vec_id", F.col("cid").alias("old_cid")), "vec_id"
        ).filter(F.col("cid") != F.col("old_cid")),
        "n_rerouted",
    )
    n_tomb_after = _count1(
        asg_fresh.join(F.broadcast(dead), "vec_id"),
        "n_tombstones_in_index_after",
    )
    # untouched centroids must round-trip the two PERSISTED models
    # byte-identically (exact double-array equality). An untouched cell
    # MISSING from the fresh model is the flag's whole reason to exist —
    # its left-joined fvec is NULL, and the comparison must coalesce to
    # False (min() skips NULLs, so without the coalesce a writer that
    # drops a cell would pass the audit green — caught by the r11 review).
    frozen = (
        stale_stored.join(F.broadcast(touched), "cid", "left_anti")
        .join(fresh_stored.withColumnRenamed("cvec", "fvec"), "cid", "left")
        .agg(
            F.coalesce(
                F.min(
                    F.coalesce(
                        (F.col("cvec") == F.col("fvec")).cast("boolean"),
                        F.lit(False),
                    )
                ),
                F.lit(True),
            ).alias("frozen_cells_unchanged")
        )
    )
    # fingerprint of the REFITTED persisted centroids: proves the physical
    # artifact equals the oracle's survivor-mean replay
    refit_fp = (
        fresh_stored.join(F.broadcast(touched), "cid")
        .select(F.explode("cvec").alias("val"))
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("val") * F.lit(1000000.0))), F.lit(0)
            )
            .cast("bigint")
            .alias("refit_centroid_micro_sum")
        )
    )
    out = (
        n_tomb.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(n_touch))
        .crossJoin(F.broadcast(n_empty))
        .crossJoin(F.broadcast(n_refit))
        .crossJoin(F.broadcast(n_rerouted))
        .crossJoin(F.broadcast(n_tomb_after))
        .crossJoin(F.broadcast(frozen))
        .crossJoin(F.broadcast(refit_fp))
    )
    return out


def _ann_model_forget_oracle_sql() -> str:
    from .kmeans import ITERS, K, kmeans_ctes

    sq = (
        "SUM(CAST(floor((v.val-c.val)*(v.val-c.val)*1e12 + 0.5)"
        " AS DECIMAL(38,0)))"
    )
    ctes, a_last, cd_last = kmeans_ctes(K, ITERS)
    ctes = ctes + [
        f"dead AS (SELECT vec_id FROM ve WHERE {DELETED_VEC_PRED})",
        f"touched AS (SELECT DISTINCT cid FROM {a_last}"
        f" WHERE vec_id IN (SELECT vec_id FROM dead))",
        f"aal AS (SELECT vec_id, cid FROM {a_last}"
        f" WHERE vec_id NOT IN (SELECT vec_id FROM dead))",
        "rm AS (SELECT vec_id, cid FROM aal"
        " WHERE cid IN (SELECT cid FROM touched))",
        "emptied AS (SELECT cid FROM touched"
        " WHERE cid NOT IN (SELECT DISTINCT cid FROM rm))",
        # partial m-step over touched-cell SURVIVORS only
        "mh AS (SELECT a.cid, v.pos,"
        " CAST(SUM(CAST(floor(v.val * 1e12 + 0.5) AS DECIMAL(38,0)))"
        " AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS val"
        " FROM vdims v JOIN rm a USING (vec_id) GROUP BY 1, 2)",
        f"cdf AS (SELECT cd.cid, cd.pos, COALESCE(m.val, cd.val) AS val"
        f" FROM {cd_last} cd LEFT JOIN mh m"
        f" ON m.cid = cd.cid AND m.pos = cd.pos"
        f" WHERE cd.cid NOT IN (SELECT cid FROM emptied))",
        # re-route ONLY touched-cell survivors against the refreshed model
        f"dref AS (SELECT v.vec_id, c.cid, {sq} AS dist"
        f" FROM vdims v JOIN cdf c USING (pos)"
        f" WHERE v.vec_id IN (SELECT vec_id FROM rm) GROUP BY 1, 2)",
        "aref AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
        " row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn"
        " FROM dref) WHERE rn = 1)",
        "afresh AS (SELECT vec_id, cid FROM aal"
        " WHERE cid NOT IN (SELECT cid FROM touched)"
        " UNION ALL SELECT vec_id, cid FROM aref)",
        "rr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM aref r"
        " JOIN aal o USING (vec_id) WHERE r.cid <> o.cid)",
        # frozen cells: stale vs refreshed centroid values on untouched cids
        f"froz AS (SELECT COALESCE(MIN(CAST(cd.val = f.val AS BOOLEAN)),"
        f" TRUE) AS ok FROM {cd_last} cd JOIN cdf f"
        f" ON f.cid = cd.cid AND f.pos = cd.pos"
        f" WHERE cd.cid NOT IN (SELECT cid FROM touched))",
        "rfp AS (SELECT CAST(COALESCE(SUM(CAST(floor(val * 1000000.0)"
        " AS BIGINT)), 0) AS BIGINT) AS s FROM cdf"
        " WHERE cid IN (SELECT cid FROM touched))",
        "m AS (SELECT"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM dead) AS n_tombstones,"
        f" (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) FROM {cd_last})"
        "   AS n_cells_total,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM touched)"
        "   AS n_touched_cells,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM emptied)"
        "   AS n_cells_emptied,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM rm) AS n_refit_vectors,"
        " (SELECT n FROM rr) AS n_rerouted,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM afresh"
        "  WHERE vec_id IN (SELECT vec_id FROM dead))"
        "   AS n_tombstones_in_index_after,"
        " (SELECT ok FROM froz) AS frozen_cells_unchanged,"
        " (SELECT s FROM rfp) AS refit_centroid_micro_sum)",
    ]
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM m"


@register(
    "deletion_propagation_ann_model",
    "ext:similarity,A3-ext,V4-analog",
    "Right-to-be-forgotten sweep over the PERSISTED ANN MODEL (r10 verdict "
    f"task #1 — the frozen-model surface the r10 sweeps stopped short of): "
    f"tombstoned vectors ({DELETED_VEC_PRED}) leave the assignment table, "
    "and every TOUCHED cell of the model_store-persisted quantizer "
    "re-centers to the fixed-point mean of its SURVIVING members (the "
    "ann_index_refresh hot-cell m-step aimed at tombstones), so no "
    "persisted centroid remains a function of deleted data; a cell whose "
    "members all died is DROPPED (the Lloyd's carry-old fallback would "
    "re-persist deleted influence), untouched cells stay byte-identical "
    "(frozen_cells_unchanged compares the two PHYSICAL parquet models), "
    "and only touched-cell survivors re-route — O(touched mass), never a "
    "full retrain or re-encode. n_tombstones_in_index_after documents the "
    "invariant (0 by construction — the fresh assignment derives from "
    "survivor-filtered inputs, so unlike the physical-artifact flags it "
    "cannot flip for a writer defect; frozen_cells_unchanged and "
    "refit_centroid_micro_sum are the load-bearing audits) and "
    "refit_centroid_micro_sum fingerprints "
    "the refreshed persisted centroids against the oracle's survivor-mean "
    "replay. The oracle regenerates training, sweep, partial refit, "
    "re-route and both model states end-to-end in SQL.",
    oracle=_ann_model_forget_oracle_sql(),
)
def deletion_propagation_ann_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return ordered_small(
        ann_model_forget_frames(spark, sf_dir), "n_tombstones"
    )


def _mm_forget_oracle_sql() -> str:
    from .multimodal import (
        _PHASH_CTES,
        _PHASH_PAIRS_SQL,
        MM_MAX_HAMMING,
        MM_PX_L1_MAX,
    )

    sig_fp = (
        "CAST(concat('0x', substr(sha256(concat(CAST(doc_id AS VARCHAR),"
        " ':', CAST(phash AS VARCHAR))), 1, 14)) AS BIGINT)"
    )
    gate_pred = (
        f"bit_count(xor(a.phash, b.phash)) <= {MM_MAX_HAMMING}"
        f" AND list_sum(list_transform(generate_series(1, 72),"
        f" k -> abs(pa.pxl[k] - pb.pxl[k]))) <= {MM_PX_L1_MAX}"
    )
    return f"""
        WITH RECURSIVE {_PHASH_CTES},
        {_PHASH_PAIRS_SQL},
        deadm AS (SELECT doc_id FROM vis WHERE doc_id % 100 = 7),
        alivem AS (SELECT doc_id FROM vis
                   WHERE doc_id NOT IN (SELECT doc_id FROM deadm)),
        sw AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(bit_xor({sig_fp})
                 AS BIGINT) AS x
          FROM ph WHERE doc_id NOT IN (SELECT doc_id FROM deadm)
        ),
        rb AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(bit_xor({sig_fp})
                 AS BIGINT) AS x
          FROM ph WHERE doc_id IN (SELECT doc_id FROM alivem)
        ),
        cpb AS (
          SELECT DISTINCT a.doc_id AS media_id
          FROM ph a JOIN ph b ON a.doc_id % 10 = 5 AND b.doc_id % 10 <> 5
          JOIN pxv pa ON pa.doc_id = a.doc_id
          JOIN pxv pb ON pb.doc_id = b.doc_id
          WHERE {gate_pred}
        ),
        cpa AS (
          SELECT DISTINCT a.doc_id AS media_id
          FROM ph a JOIN ph b ON a.doc_id % 10 = 5 AND b.doc_id % 10 <> 5
           AND b.doc_id NOT IN (SELECT doc_id FROM deadm)
          JOIN pxv pa ON pa.doc_id = a.doc_id
          JOIN pxv pb ON pb.doc_id = b.doc_id
          WHERE {gate_pred}
        ),
        pairs_a AS (
          SELECT a, b FROM pairs
          WHERE a NOT IN (SELECT doc_id FROM deadm)
            AND b NOT IN (SELECT doc_id FROM deadm)
        ),
        edges_b AS (
          SELECT a AS x, b AS y FROM pairs
          UNION SELECT b AS x, a AS y FROM pairs
        ),
        reach_b AS (
          SELECT x, y FROM edges_b
          UNION
          SELECT r.x, e.y FROM reach_b r JOIN edges_b e ON r.y = e.x
        ),
        rep_b AS (SELECT x, least(x, min(y)) AS component
                  FROM reach_b GROUP BY x),
        assign_b AS (
          SELECT v.doc_id,
                 CAST(COALESCE(r.component, v.doc_id) AS BIGINT) AS rep
          FROM vis v LEFT JOIN rep_b r ON r.x = v.doc_id
        ),
        edges_a AS (
          SELECT a AS x, b AS y FROM pairs_a
          UNION SELECT b AS x, a AS y FROM pairs_a
        ),
        reach_a AS (
          SELECT x, y FROM edges_a
          UNION
          SELECT r.x, e.y FROM reach_a r JOIN edges_a e ON r.y = e.x
        ),
        rep_a AS (SELECT x, least(x, min(y)) AS component
                  FROM reach_a GROUP BY x),
        assign_a AS (
          SELECT v.doc_id,
                 CAST(COALESCE(r.component, v.doc_id) AS BIGINT) AS rep
          FROM alivem v LEFT JOIN rep_a r ON r.x = v.doc_id
        ),
        m AS (
          SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM deadm)
              AS n_tombstones_visual,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ph
             WHERE doc_id IN (SELECT doc_id FROM deadm))
              AS n_sig_rows_removed,
            (SELECT (sw.n = rb.n AND sw.x IS NOT DISTINCT FROM rb.x)
             FROM sw, rb) AS sig_lake_swept_equals_rebuilt,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cpb)
              AS n_gate_matches_before,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cpa)
              AS n_gate_matches_after,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cpb
             WHERE media_id NOT IN (SELECT media_id FROM cpa))
              AS n_arrivals_freed,
            CAST(0 AS BIGINT) AS n_matches_to_dead_after,
            (SELECT CAST(COUNT(DISTINCT rep) AS BIGINT) FROM assign_b)
              AS n_clusters_before,
            (SELECT CAST(COUNT(DISTINCT rep) AS BIGINT) FROM assign_a)
              AS n_clusters_after,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT rep FROM assign_b) rb2
             WHERE rb2.rep IN (SELECT doc_id FROM deadm))
              AS n_reps_deleted,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM assign_a a JOIN assign_b b USING (doc_id)
             WHERE a.rep <> b.rep) AS n_rerooted_docs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM assign_a
             WHERE rep IN (SELECT doc_id FROM deadm))
              AS n_orphan_refs_after
        )
        SELECT * FROM m
    """


@register(
    "deletion_propagation_multimodal",
    "A6-ext-phash,J8-analog,V4-analog",
    "Right-to-be-forgotten sweep over the MULTIMODAL persisted surfaces "
    "(r10 verdict task #1): tombstoned visual media (doc_id % 100 = 7) "
    "must vanish from (1) the streaming visual gate's persisted SIGNATURE "
    "LAKE — the sweep is a broadcast tombstone anti-join, and the swept "
    "lake must fingerprint-equal a from-scratch rebuild over the "
    "post-delete corpus (a perceptual hash depends only on the media's "
    "own pixels, so filter == rebuild — the flag flips red if the sweep "
    "missed or mangled a row; the Spark side really runs the second "
    "decode pass, the flag is not a tautology there), (2) the GATE "
    "VERDICTS — arrivals re-gate against the swept corpus state; "
    "n_arrivals_freed counts arrivals whose only matches died (the "
    "operational consequence: they now pass), n_matches_to_dead_after is "
    "0 by construction (the re-gate runs against the already-swept corpus "
    "— the column documents the invariant; sig_lake_swept_equals_rebuilt "
    "is the load-bearing audit), and (3) the near-dup PAIR/CLUSTER state "
    "— the pair lake "
    "is FILTERED, never re-decoded (pairwise verify, so surviving pairs "
    "== full pairs at surviving endpoints), clusters re-canonicalize "
    "(n_reps_deleted elect new reps; n_orphan_refs_after is 0 by "
    "construction — it documents the invariant, not a physical audit). "
    "With deletion_propagation_docs (text), _sketch_lake (events), "
    "_ann_model and _semgate_state (embeddings), every persisted surface "
    "in the repo now has a registered forget sweep. The oracle replays "
    "raster, hashes, both gate runs, the pair filter and both cluster "
    "closures end-to-end.",
    oracle=_mm_forget_oracle_sql(),
)
def deletion_propagation_multimodal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..lifecycle import scoped_flat_checkpoint, scoped_persist
    from ..operators.multimodal import (
        PHASH_MIN_CHARS,
        attach_media_columns,
        phash_cross_near_dups,
        phash_media,
        phash_near_dup_pairs,
    )
    from .multimodal import MM_MAX_HAMMING, MM_PX_L1_MAX

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= PHASH_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    # ONE decode pass for the persisted corpus signature state. Flat
    # checkpoint, not persist: ~12 report legs re-reference this table, and
    # a persist leaves the Arrow decode seam's full lineage in every leg's
    # logical plan — the same Catalyst planning-gap term measured on the
    # semgate sweep (guide §3.3). The honest REBUILD leg below keeps its
    # own full second-decode lineage; only the shared state table is
    # truncated.
    sig = scoped_flat_checkpoint(phash_media(media))
    dead = sig.filter(F.col("media_id") % 100 == 7).select("media_id")
    dead_a = F.broadcast(dead.select(F.col("media_id").alias("a")))
    dead_b = F.broadcast(dead.select(F.col("media_id").alias("b")))

    # (1) signature-lake sweep: filter vs an HONEST second decode pass over
    # the post-delete corpus (the rebuild a naive pipeline would run)
    swept = sig.join(F.broadcast(dead), "media_id", "left_anti")
    # the honest second decode pass stays LAZY (measured: an eager flat
    # checkpoint here was a wash — the decode is an opaque Python seam, so
    # it contributes almost nothing to Catalyst planning, and eager
    # materialization only forfeits its overlap with the other report legs)
    rebuilt = phash_media(
        attach_media_columns(
            docs.filter(~(F.col("doc_id") % 100 == 7)), "doc_id", "text"
        )
    )
    sig_fp = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.col("media_id").cast("string"),
                    F.lit(":"),
                    F.col("phash").cast("string"),
                ),
                256,
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")

    def fp(df: DataFrame, n: str, x: str) -> DataFrame:
        return df.withColumn("_fp", sig_fp).agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.expr("bit_xor(_fp)").cast("bigint").alias(x),
        )

    sw = fp(swept, "sw_n", "sw_x")
    rb = fp(rebuilt, "rb_n", "rb_x")

    # (2) gate verdicts before/after the sweep
    is_arr = F.col("media_id") % 10 == 5
    arr = sig.filter(is_arr)
    corpus_b = sig.filter(~is_arr)
    corpus_a = corpus_b.join(F.broadcast(dead), "media_id", "left_anti")
    gb = scoped_persist(
        phash_cross_near_dups(
            arr, corpus_b, max_hamming=MM_MAX_HAMMING, px_l1_max=MM_PX_L1_MAX
        )
    )
    ga = scoped_persist(
        phash_cross_near_dups(
            arr, corpus_a, max_hamming=MM_MAX_HAMMING, px_l1_max=MM_PX_L1_MAX
        )
    )
    mb = gb.select(F.col("a").alias("media_id")).distinct()
    ma = ga.select(F.col("a").alias("media_id")).distinct()

    # (3) pair lake FILTERED + cluster re-canonicalization
    pairs = scoped_persist(
        phash_near_dup_pairs(
            sig, max_hamming=MM_MAX_HAMMING, px_l1_max=MM_PX_L1_MAX
        ).select("a", "b")
    )
    pairs_alive = pairs.join(dead_a, "a", "left_anti").join(
        dead_b, "b", "left_anti"
    )
    vis = sig.select(F.col("media_id").alias("doc_id"))
    alive = swept.select(F.col("media_id").alias("doc_id"))
    # materialize the persisted pair lake ONCE before the overlapped loops:
    # both threads' edge inputs derive from it, and a cold persist would
    # make them race (block-locked, but serializing) the same fill
    pairs.count()
    # guide §2.6, extended: the two CC loops are barrier loops of tiny
    # narrow jobs, leaving the executors mostly idle — warm the two gate
    # persists in the same pool so their candidate/pixel-verify work
    # back-fills that idle capacity instead of running serially inside the
    # final report job (counts only warm the scoped persists; values are
    # untouched)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        fb = pool.submit(_cluster_assign, vis, pairs)
        fa = pool.submit(_cluster_assign, alive, pairs_alive)
        wb = pool.submit(gb.count)
        wa = pool.submit(ga.count)
        assign_b = fb.result().withColumnRenamed("cluster_rep", "rep_b")
        assign_a = fa.result().withColumnRenamed("cluster_rep", "rep_a")
        wb.result()
        wa.result()
    dead_ids = F.broadcast(dead.select(F.col("media_id").alias("dead_id")))

    out = (
        _count1(dead, "n_tombstones_visual")
        .crossJoin(
            F.broadcast(
                _count1(
                    sig.join(F.broadcast(dead), "media_id"),
                    "n_sig_rows_removed",
                )
            )
        )
        .crossJoin(F.broadcast(sw))
        .crossJoin(F.broadcast(rb))
        .crossJoin(F.broadcast(_count1(mb, "n_gate_matches_before")))
        .crossJoin(F.broadcast(_count1(ma, "n_gate_matches_after")))
        .crossJoin(
            F.broadcast(
                _count1(mb.join(ma, "media_id", "left_anti"),
                        "n_arrivals_freed")
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    ga.join(dead_b, "b"), "n_matches_to_dead_after"
                )
            )
        )
        .crossJoin(
            F.broadcast(
                assign_b.agg(
                    F.countDistinct("rep_b")
                    .cast("bigint")
                    .alias("n_clusters_before")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                assign_a.agg(
                    F.countDistinct("rep_a")
                    .cast("bigint")
                    .alias("n_clusters_after")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    assign_b.select("rep_b")
                    .distinct()
                    .join(dead_ids, F.col("rep_b") == F.col("dead_id")),
                    "n_reps_deleted",
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    assign_a.join(assign_b, "doc_id").filter(
                        F.col("rep_a") != F.col("rep_b")
                    ),
                    "n_rerooted_docs",
                )
            )
        )
        .crossJoin(
            F.broadcast(
                _count1(
                    assign_a.join(dead_ids, F.col("rep_a") == F.col("dead_id")),
                    "n_orphan_refs_after",
                )
            )
        )
    )
    out = out.select(
        "n_tombstones_visual",
        "n_sig_rows_removed",
        (
            (F.col("sw_n") == F.col("rb_n"))
            & F.col("sw_x").eqNullSafe(F.col("rb_x"))
        ).alias("sig_lake_swept_equals_rebuilt"),
        "n_gate_matches_before",
        "n_gate_matches_after",
        "n_arrivals_freed",
        "n_matches_to_dead_after",
        "n_clusters_before",
        "n_clusters_after",
        "n_reps_deleted",
        "n_rerooted_docs",
        "n_orphan_refs_after",
    )
    return ordered_small(out, "n_tombstones_visual")


def semgate_forget_frames(
    emb: DataFrame,
    cent: DataFrame,
    dead_pred: str = DELETED_VEC_PRED,
    arrival_pred: str = "vec_id % 10 = 9",
    base: DataFrame | None = None,
) -> DataFrame:
    """One-row summary of a GDPR sweep over the SEMANTIC GATE's persisted
    routing state (streaming/semgate.py corpus side).

    The persisted state is (vec_id, cid, sig) — coarse cell via the FROZEN
    quantizer plus the full SRP signature; the refined cell id derives at
    read time as cid:substr(sig, 1, bits) where bits comes from the CURRENT
    corpus count (queries/kmeans.py::sem_state_base, the one shared
    recipe). The sweep: tombstoned rows leave by broadcast anti-join, bits
    recompute on the post-delete count (a delete that crosses a power-of-2
    threshold re-cells every survivor — by SUBSTRING, never by re-hashing:
    sem_bits_before/after are output columns and the threshold crossing is
    test-pinned), and the swept state must fingerprint-equal an HONEST
    from-scratch rebuild (re-assign + re-hash the post-delete corpus
    against the frozen centroids — the Spark side really runs that second
    pass; assignment and signature are per-vector, so filter == rebuild is
    the invariant being checked, not assumed). Gate consequence: arrivals
    re-gate against the swept state — flags_before/after and the
    must-be-zero flags-to-dead count."""
    from ..lifecycle import scoped_flat_checkpoint, scoped_persist
    from ..operators.kmeans import _as_double_vec, _assign
    from ..operators.similarity import cosine_prenormed
    from .kmeans import SEM_MAX_CELL, SEMDEDUP_T, sem_bits_agg, sem_state_base
    from pyspark.sql import Window

    if base is None:
        # flat checkpoint, not persist: ~8 report legs re-reference this
        # state table, and with a persist each leg's logical plan still
        # dragged the full assign+SRP lineage through Catalyst — a measured
        # 7.3 s zero-stage driver planning gap before the final job (guide
        # §3.3). The checkpoint makes every leg start from a flat LogicalRDD
        # leaf. The registered query passes the session-cached routing lake
        # instead (kmeans.sem_state_base_cached — the same physical state
        # the semdedup cells derive from).
        asg = _assign(_as_double_vec(emb, "vec_id", "embedding"), cent)
        base = scoped_flat_checkpoint(sem_state_base(emb, asg))
    dead = base.filter(F.expr(dead_pred)).select("vec_id")
    swept = base.join(F.broadcast(dead), "vec_id", "left_anti")

    # the one shared guarded bits recipe (kmeans.sem_bits_agg) — the sweep
    # must fail loudly at SEM_MAX_BITS exactly like the session cells path
    bits_of = sem_bits_agg

    def cells(df: DataFrame, bits: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(bits)).select(
            "vec_id",
            "embedding",
            "nrm",
            F.concat(
                F.col("cid").cast("string"),
                F.lit(":"),
                F.expr("substring(sig, 1, bits)"),
            ).alias("cell"),
        )

    cells_before = cells(base, bits_of(base))
    cells_swept = cells(swept, bits_of(swept))
    # the honest rebuild: re-assign + re-hash the post-delete corpus
    # against the SAME frozen centroids. Its bits scalar is bits_of(swept)
    # — provably identical (bits is a function of the row COUNT alone, and
    # rebuilt rows == swept rows) — so the expensive rebuild lineage is
    # evaluated ONCE, by the fingerprint consumer, instead of twice
    # (r11 review: an unshared bits aggregate re-ran the whole
    # re-assign+re-hash chain just to count it)
    emb_alive = emb.join(F.broadcast(dead), "vec_id", "left_anti")
    base_rebuilt = sem_state_base(
        emb_alive, _assign(_as_double_vec(emb_alive, "vec_id", "embedding"), cent)
    )
    # the honest rebuild MATERIALIZES here (flat checkpoint): the re-assign +
    # re-hash really runs — eagerly, inside the timed builder — but its
    # giant expression trees (the full SRP plane folds + the fixed-point
    # argmin) no longer ride the final report plan through Catalyst, which
    # was the measured post-base residual of the §3.3 planning gap
    cells_rebuilt = scoped_flat_checkpoint(cells(base_rebuilt, bits_of(swept)))

    state_fp = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.col("vec_id").cast("string"), F.lit("@"), F.col("cell")
                ),
                256,
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")

    def gate(cdf: DataFrame) -> DataFrame:
        """DISTINCT flagged arrivals against ``cdf``'s corpus side."""
        is_arr = F.expr(arrival_pred)
        batch = cdf.filter(is_arr).select(
            "cell",
            F.col("vec_id"),
            F.col("embedding").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        cw = Window.partitionBy("cell").orderBy("mv")
        corp = (
            cdf.filter(~is_arr)
            .select(
                "cell",
                F.col("vec_id").alias("mv"),
                F.col("embedding").alias("vc"),
                F.col("nrm").alias("nc"),
            )
            .withColumn("crn", F.row_number().over(cw))
            .filter(F.col("crn") <= SEM_MAX_CELL)
        )
        return (
            batch.join(corp, "cell")
            .filter(
                cosine_prenormed(
                    F.col("vb"), F.col("vc"), F.col("nb"), F.col("nc")
                )
                >= SEMDEDUP_T
            )
            .select("vec_id", "mv")
        )

    gate_after_pairs = scoped_persist(gate(cells_swept))
    dead_mv = F.broadcast(dead.select(F.col("vec_id").alias("mv")))

    # single-pass report (see _report_union): replaces 9 crossJoin(
    # broadcast(<one-row agg>)) subqueries — profiled at 9.8 s of driver
    # gaps across 88 jobs on sf0.1, 73% of the query's wall-clock — with
    # ONE conditional aggregate over tagged source rows. The heavy legs
    # (both gate cosine joins, the honest-rebuild fingerprint pass) now
    # execute inside one job with full parallelism instead of as serialized
    # broadcast-subquery jobs. Column values are unchanged: the bits
    # scalars are pure functions of the base/swept row COUNTS (the same
    # _sem_bits_terms chain, saturation guard included), the fingerprint
    # equality compares the same per-tag counts and bit_xor folds, and the
    # gate flag counts are count-distinct over the same vec_id sets.
    from .kmeans import SEM_MAX_BITS, _sem_bits_terms

    def fp_rows(df: DataFrame, kind: str) -> DataFrame:
        return _tagged(df, kind, state_fp)

    vals = _report_union([
        _tagged(dead, "dead"),
        _tagged(base.join(F.broadcast(dead), "vec_id"), "rm"),
        _tagged(base, "base"),
        fp_rows(cells_swept, "swfp"),
        fp_rows(cells_rebuilt, "rbfp"),
        _tagged(gate(cells_before), "gb", F.col("vec_id")),
        _tagged(gate_after_pairs, "ga", F.col("vec_id")),
        _tagged(gate_after_pairs.join(dead_mv, "mv"), "fd"),
    ])

    def bits_from(cnt_col: str) -> F.Column:
        terms = _sem_bits_terms(cnt_col)
        return F.expr(
            f"CASE WHEN ({terms}) >= {SEM_MAX_BITS} THEN "
            f"CAST(raise_error('semdedup: SRP refinement bits saturated at "
            f"SEM_MAX_BITS={SEM_MAX_BITS}; lift the cap') AS INT) "
            f"ELSE CAST(({terms}) AS INT) END"
        ).cast("bigint")

    raw = vals.agg(
        _cnt("dead").alias("n_tombstones"),
        _cnt("rm").alias("n_state_rows_removed"),
        _cnt("base").alias("_n_base"),
        _cnt("swfp").alias("sw_n"),
        F.expr("bit_xor(case when k = 'swfp' then v end)")
        .cast("bigint")
        .alias("sw_x"),
        _cnt("rbfp").alias("rb_n"),
        F.expr("bit_xor(case when k = 'rbfp' then v end)")
        .cast("bigint")
        .alias("rb_x"),
        F.countDistinct(F.when(F.col("k") == "gb", F.col("v")))
        .cast("bigint")
        .alias("n_gate_flags_before"),
        F.countDistinct(F.when(F.col("k") == "ga", F.col("v")))
        .cast("bigint")
        .alias("n_gate_flags_after"),
        _cnt("fd").alias("n_flags_to_dead_after"),
    )
    # sem_bits_after derives from the SWEPT row count == sw_n (cells() is
    # row-preserving over swept); sem_bits_before from the base count
    return raw.select(
        "n_tombstones",
        "n_state_rows_removed",
        bits_from("_n_base").alias("sem_bits_before"),
        bits_from("sw_n").alias("sem_bits_after"),
        (
            (F.col("sw_n") == F.col("rb_n"))
            & F.col("sw_x").eqNullSafe(F.col("rb_x"))
        ).alias("state_swept_equals_rebuilt"),
        "n_gate_flags_before",
        "n_gate_flags_after",
        "n_flags_to_dead_after",
    )


def _semgate_forget_oracle_sql() -> str:
    from .kmeans import (
        ITERS,
        K,
        SEM_MAX_CELL,
        SEMDEDUP_T,
        _sem_bits_terms,
        _sem_cell_ctes,
        kmeans_ctes,
    )
    from .similarity import _cosine_sql

    ctes, a_last, _cd = kmeans_ctes(K, ITERS)
    fp = (
        "CAST(concat('0x', substr(sha256(concat(CAST(vec_id AS VARCHAR),"
        " '@', cell)), 1, 14)) AS BIGINT)"
    )
    cos = _cosine_sql("b.embedding", "c.embedding")
    gate = (
        "SELECT DISTINCT b.vec_id FROM {cells} b JOIN ("
        " SELECT cell, vec_id, embedding FROM ("
        "  SELECT cell, vec_id, embedding, ROW_NUMBER() OVER"
        "  (PARTITION BY cell ORDER BY vec_id) AS crn"
        f"  FROM {{cells}} WHERE NOT (vec_id % 10 = 9)) WHERE crn <= {SEM_MAX_CELL}"
        ") c ON b.cell = c.cell"
        f" WHERE b.vec_id % 10 = 9 AND {cos} >= {SEMDEDUP_T}"
    )
    ctes = ctes + _sem_cell_ctes(a_last) + [
        f"dead AS (SELECT vec_id FROM ve WHERE {DELETED_VEC_PRED})",
        "alivex AS (SELECT * FROM memx"
        " WHERE vec_id NOT IN (SELECT vec_id FROM dead))",
        f"sbva AS (SELECT ({_sem_bits_terms('COUNT(*)')}) AS bits"
        f" FROM alivex)",
        "cb AS (SELECT vec_id, embedding,"
        " (CAST(cid AS VARCHAR) || ':' ||"
        " substr(sig, 1, (SELECT bits FROM sbv))) AS cell FROM memx)",
        "ca AS (SELECT vec_id, embedding,"
        " (CAST(cid AS VARCHAR) || ':' ||"
        " substr(sig, 1, (SELECT bits FROM sbva))) AS cell FROM alivex)",
        f"fps AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,"
        f" CAST(bit_xor({fp}) AS BIGINT) AS x FROM ca)",
        f"gb AS ({gate.format(cells='cb')})",
        f"ga AS ({gate.format(cells='ca')})",
        "m AS (SELECT"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM dead) AS n_tombstones,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM memx"
        "  WHERE vec_id IN (SELECT vec_id FROM dead))"
        "   AS n_state_rows_removed,"
        " (SELECT CAST(bits AS BIGINT) FROM sbv) AS sem_bits_before,"
        " (SELECT CAST(bits AS BIGINT) FROM sbva) AS sem_bits_after,"
        " (SELECT (f1.n = f2.n AND f1.x IS NOT DISTINCT FROM f2.x)"
        "  FROM fps f1, fps f2) AS state_swept_equals_rebuilt,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM gb)"
        "   AS n_gate_flags_before,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM ga)"
        "   AS n_gate_flags_after,"
        " CAST(0 AS BIGINT) AS n_flags_to_dead_after)",
    ]
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM m"


@register(
    "deletion_propagation_semgate_state",
    "ext:similarity,A6-ext-sem,V4-analog",
    "Right-to-be-forgotten sweep over the SEMANTIC GATE's persisted "
    f"routing state (r10 verdict task #1): tombstoned vectors "
    f"({DELETED_VEC_PRED}) leave the (vec_id, coarse cell, SRP signature) "
    "routing lake by broadcast anti-join; the refinement-bit count "
    "recomputes on the post-delete corpus count (a delete crossing a "
    "power-of-2 threshold re-cells every survivor by SUBSTRING of the "
    "stored signature — never by re-hashing; bits before/after are "
    "output columns and the crossing is pinned in tests/test_round11.py), "
    "and the swept state must fingerprint-equal an HONEST from-scratch "
    "rebuild (the Spark side re-assigns and re-hashes the post-delete "
    "corpus against the frozen quantizer — a sweep that missed a row or "
    "mangled a cell flips the flag red). Gate consequence: arrivals "
    "(vec_id % 10 = 9) re-gate against the swept state — "
    "n_gate_flags_before/after, and n_flags_to_dead_after is 0 by "
    "construction (the re-gate runs against the already-swept state — the "
    "column documents the no-match-to-deleted invariant; the swept== "
    "rebuilt fingerprint is the load-bearing audit). The oracle replays "
    "training, state derivation, both bit "
    "scalars, the sweep, the rebuild and both gate runs end-to-end.",
    oracle=_semgate_forget_oracle_sql(),
)
def deletion_propagation_semgate_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .kmeans import fitted_model, sem_state_base_cached
    from .similarity import load_embeddings

    emb = load_embeddings(spark, sf_dir)
    _asg, cent = fitted_model(spark, sf_dir)
    # the sweep runs against the session-materialized routing lake — the
    # SAME physical state table the semdedup cells derive from (production
    # persists it once per corpus snapshot; sweeping a per-query rebuild of
    # it would re-pay the assign+hash planning and fill per run)
    base = sem_state_base_cached(spark, sf_dir)
    return ordered_small(
        semgate_forget_frames(emb, cent, base=base), "n_tombstones"
    )


def pq_model_sweep_frames(
    spark: SparkSession,
    emb: DataFrame,
    stale_path: str,
    fresh_path: str,
    dead_pred: str,
    write_fresh: bool = True,
    dims: int = 64,
) -> DataFrame:
    """One-row GDPR sweep over the PERSISTED PQ CODEBOOKS — the codebook
    half of the frozen-model surface (deletion_propagation_ann_model covers
    the coarse-quantizer centroids): per subspace, tombstoned vectors leave
    the code table, every TOUCHED codebook entry re-centers to the
    fixed-point mean of its surviving members' subvectors, a fully-emptied
    entry is DROPPED, untouched entries must round-trip the two persisted
    models byte-identically (NULL-safe comparison — a writer that loses an
    entry flips the flag red), and only touched entries' survivors
    re-encode in that subspace. All counts aggregate across subspaces."""
    from ..lifecycle import scoped_persist
    from ..operators.kmeans import _as_double_vec, _assign, _update
    from ..operators.model_store import load_pq_model, save_pq_model

    dead = emb.filter(F.expr(dead_pred)).select("vec_id")
    models = load_pq_model(spark, emb, stale_path, dims=dims)
    if not models:
        # an EMPTY persisted model (trained on a filtered-to-zero corpus —
        # the hostile empty-lake state): nothing to sweep; the report is
        # all-zero with vacuously-true flags, mirroring the oracle's empty
        # trainings
        zero = F.lit(0).cast("bigint")
        return _count1(dead, "n_tombstones").select(
            "n_tombstones",
            zero.alias("n_codebook_entries"),
            zero.alias("n_touched_entries"),
            zero.alias("n_entries_dropped"),
            zero.alias("n_refit_codes"),
            zero.alias("n_rerouted_codes"),
            zero.alias("n_tombstones_in_codes_after"),
            F.lit(True).alias("frozen_codes_unchanged"),
            zero.alias("refit_code_micro_sum"),
        )
    m = len(models)
    per = dims // m

    # pass 1 (per subspace): sweep sets + the partial refit that produces
    # the fresh codebooks to PERSIST
    fresh_cents = []
    state = []
    for j, asg_loaded, cent_stale in models:
        # persist, NOT the semgate-style flat checkpoint (measured 5.32 ->
        # 5.54 s, 0/3): eight per-subspace EAGER materializations serialize
        # at build time, costing more than the per-leg plan shrinkage saves
        asg_j = scoped_persist(asg_loaded.select("vec_id", "cid"))
        touched = scoped_persist(
            asg_j.join(F.broadcast(dead), "vec_id").select("cid").distinct()
        )
        alive = asg_j.join(F.broadcast(dead), "vec_id", "left_anti")
        refit = scoped_persist(alive.join(F.broadcast(touched), "cid"))
        vec_j = _as_double_vec(
            emb.select(
                "vec_id", F.slice(F.col("embedding"), j * per + 1, per).alias("sub")
            ),
            "vec_id",
            "sub",
        )
        cent_refit = _update(vec_j, refit, cent_stale)
        emptied = touched.join(
            refit.select("cid").distinct(), "cid", "left_anti"
        )
        cent_fresh = cent_refit.join(F.broadcast(emptied), "cid", "left_anti")
        fresh_cents.append((j, None, cent_fresh))
        state.append((j, asg_j, touched, alive, refit, vec_j))

    if write_fresh:
        save_pq_model(fresh_cents, fresh_path)
    fresh_stored = spark.read.parquet(fresh_path).select("sub", "cid", "cvec")
    stale_stored = spark.read.parquet(stale_path).select("sub", "cid", "cvec")

    # pass 2 (per subspace): re-encode touched survivors against the
    # just-PERSISTED fresh codebooks (k rows each) — the re-route counts
    # are then evidence of the physical artifact, and the refit lineage
    # is never evaluated a second time (the ann twin's design; r11 second
    # review pass)
    touched_u = refit_u = fresh_codes_u = rerouted_u = None
    for j, asg_j, touched, alive, refit, vec_j in state:
        cent_fresh_j = fresh_stored.filter(F.col("sub") == j).select(
            "cid", "cvec"
        )
        # scoped-persisted: the re-encode pass feeds TWO output consumers
        # (fresh_codes_u and rerouted_u below) whose broadcast aggregates
        # would otherwise each re-run the argmin assignment per subspace —
        # and its lineage (parquet scan + refit join + broadcast argmin) is
        # the deepest subtree of the final plan, so truncating it here also
        # collapses the plan the 9 output aggregates have to replicate
        re_routed = scoped_persist(
            _assign(
                vec_j.join(refit.select("vec_id"), "vec_id"), cent_fresh_j
            ).select("vec_id", "cid")
        )
        codes_fresh = alive.join(
            F.broadcast(touched), "cid", "left_anti"
        ).unionByName(re_routed)
        rerouted = re_routed.join(
            asg_j.select("vec_id", F.col("cid").alias("old_cid")), "vec_id"
        ).filter(F.col("cid") != F.col("old_cid"))

        sub = F.lit(j).alias("sub")
        tj = touched.select(sub, "cid")
        rj = refit.select(sub, "vec_id")
        cj = codes_fresh.select(sub, "vec_id")
        xj = rerouted.select(sub, "vec_id")
        touched_u = tj if touched_u is None else touched_u.unionByName(tj)
        refit_u = rj if refit_u is None else refit_u.unionByName(rj)
        fresh_codes_u = cj if fresh_codes_u is None else fresh_codes_u.unionByName(cj)
        rerouted_u = xj if rerouted_u is None else rerouted_u.unionByName(xj)

    touched_u = scoped_persist(touched_u)
    # single-pass report (see _report_union): every column's source rows are
    # tagged and unioned, ONE conditional aggregate produces the row —
    # replaces 9 crossJoin(broadcast(<agg>)) subqueries (94 jobs, ~5 s of
    # driver gaps profiled) with one job. Column values are unchanged.
    frozen_rows = _tagged(
        stale_stored.join(touched_u, ["sub", "cid"], "left_anti").join(
            fresh_stored.withColumnRenamed("cvec", "fvec"), ["sub", "cid"], "left"
        ),
        "froz",
        F.coalesce(
            (F.col("cvec") == F.col("fvec")).cast("boolean"), F.lit(False)
        ).cast("int"),
    )
    fp_rows = _tagged(
        fresh_stored.join(touched_u, ["sub", "cid"]).select(
            F.explode("cvec").alias("val")
        ),
        "fp",
        F.floor(F.col("val") * F.lit(1000000.0)),
    )
    vals = _report_union([
        _tagged(dead, "tomb"),
        _tagged(stale_stored, "cb"),
        _tagged(touched_u, "touch"),
        _tagged(
            stale_stored.join(
                fresh_stored.select("sub", "cid", F.lit(1).alias("_f")),
                ["sub", "cid"],
                "left_anti",
            ),
            "drop",
        ),
        _tagged(refit_u, "refit"),
        _tagged(rerouted_u, "rr"),
        _tagged(fresh_codes_u.join(F.broadcast(dead), "vec_id"), "tca"),
        frozen_rows,
        fp_rows,
    ])
    return vals.agg(
        _cnt("tomb").alias("n_tombstones"),
        _cnt("cb").alias("n_codebook_entries"),
        _cnt("touch").alias("n_touched_entries"),
        _cnt("drop").alias("n_entries_dropped"),
        _cnt("refit").alias("n_refit_codes"),
        _cnt("rr").alias("n_rerouted_codes"),
        _cnt("tca").alias("n_tombstones_in_codes_after"),
        _vand("froz").alias("frozen_codes_unchanged"),
        _vsum("fp").alias("refit_code_micro_sum"),
    )


def _pq_forget_oracle_sql() -> str:
    from .pq import DIMS, M_SUBS, PQ_ITERS, _pq_ctes
    from .similarity import VALID_EMB_PRED_SQL

    per = DIMS // M_SUBS
    last = PQ_ITERS - 1
    fixed = (
        "CAST(floor((v.val-c.val)*(v.val-c.val)*1e12 + 0.5)"
        " AS DECIMAL(38,0))"
    )
    # train on the validity-FILTERED corpus: the Spark side's
    # fitted_pq_model trains on load_embeddings, and this oracle's COUNT
    # columns must mirror it exactly (the raw table's NULL vectors would
    # claim init slots and shrink the codebooks — caught by the 20%-NULL
    # hostile probe)
    ctes, _codes, _qd = _pq_ctes(
        src=f"(SELECT * FROM embeddings WHERE {VALID_EMB_PRED_SQL})"
    )
    ctes.append(
        f"deadv AS (SELECT vec_id FROM embeddings"
        f" WHERE ({DELETED_VEC_PRED}) AND {VALID_EMB_PRED_SQL})"
    )
    for j in range(M_SUBS):
        lo, hi = j * per + 1, (j + 1) * per
        a = f"aP{j}_{last}"
        cd = f"cdP{j}_{last}"
        ctes += [
            f"tj{j} AS (SELECT DISTINCT cid FROM {a}"
            f" WHERE vec_id IN (SELECT vec_id FROM deadv))",
            f"al{j} AS (SELECT vec_id, cid FROM {a}"
            f" WHERE vec_id NOT IN (SELECT vec_id FROM deadv))",
            f"rm{j} AS (SELECT vec_id, cid FROM al{j}"
            f" WHERE cid IN (SELECT cid FROM tj{j}))",
            f"em{j} AS (SELECT cid FROM tj{j}"
            f" WHERE cid NOT IN (SELECT DISTINCT cid FROM rm{j}))",
            f"mh{j} AS (SELECT a.cid, v.pos,"
            f" CAST(SUM(CAST(floor(v.val * 1e12 + 0.5) AS DECIMAL(38,0)))"
            f" AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS val"
            f" FROM vdims v JOIN rm{j} a USING (vec_id)"
            f" WHERE v.pos BETWEEN {lo} AND {hi} GROUP BY 1, 2)",
            f"cdf{j} AS (SELECT cd.cid, cd.pos, COALESCE(m.val, cd.val)"
            f" AS val FROM {cd} cd LEFT JOIN mh{j} m"
            f" ON m.cid = cd.cid AND m.pos = cd.pos"
            f" WHERE cd.cid NOT IN (SELECT cid FROM em{j}))",
            f"dref{j} AS (SELECT v.vec_id, c.cid, SUM({fixed}) AS dist"
            f" FROM vdims v JOIN cdf{j} c USING (pos)"
            f" WHERE v.vec_id IN (SELECT vec_id FROM rm{j}) GROUP BY 1, 2)",
            f"aref{j} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,"
            f" row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)"
            f" AS rn FROM dref{j}) WHERE rn = 1)",
            f"cf{j} AS (SELECT vec_id, cid FROM al{j}"
            f" WHERE cid NOT IN (SELECT cid FROM tj{j})"
            f" UNION ALL SELECT vec_id, cid FROM aref{j})",
            f"rr{j} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM aref{j} r"
            f" JOIN al{j} o USING (vec_id) WHERE r.cid <> o.cid)",
            f"rfp{j} AS (SELECT COALESCE(SUM(CAST(floor(val * 1000000.0)"
            f" AS BIGINT)), 0) AS s FROM cdf{j}"
            f" WHERE cid IN (SELECT cid FROM tj{j}))",
        ]

    def total(tpl: str) -> str:
        return " + ".join(tpl.format(j=j) for j in range(M_SUBS))

    t_cd = total("(SELECT COUNT(DISTINCT cid) FROM cdP{j}_" + str(last) + ")")
    t_tj = total("(SELECT COUNT(*) FROM tj{j})")
    t_em = total("(SELECT COUNT(*) FROM em{j})")
    t_rm = total("(SELECT COUNT(*) FROM rm{j})")
    t_rr = total("(SELECT n FROM rr{j})")
    t_cf = total(
        "(SELECT COUNT(*) FROM cf{j}"
        " WHERE vec_id IN (SELECT vec_id FROM deadv))"
    )
    t_fp = total("(SELECT s FROM rfp{j})")
    ctes.append(
        "m AS (SELECT"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM deadv) AS n_tombstones,"
        f" CAST({t_cd} AS BIGINT) AS n_codebook_entries,"
        f" CAST({t_tj} AS BIGINT) AS n_touched_entries,"
        f" CAST({t_em} AS BIGINT) AS n_entries_dropped,"
        f" CAST({t_rm} AS BIGINT) AS n_refit_codes,"
        f" CAST({t_rr} AS BIGINT) AS n_rerouted_codes,"
        f" CAST({t_cf} AS BIGINT) AS n_tombstones_in_codes_after,"
        " TRUE AS frozen_codes_unchanged,"
        f" CAST({t_fp} AS BIGINT) AS refit_code_micro_sum)"
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM m"


@register(
    "deletion_propagation_pq_model",
    "ext:similarity,A3-ext,V4-analog",
    "Right-to-be-forgotten sweep over the PERSISTED PQ CODEBOOKS — the "
    "codebook half of the frozen-model surface (r10 verdict task #1 names "
    "'centroids/codebooks'; deletion_propagation_ann_model covers the "
    f"coarse centroids): tombstoned vectors ({DELETED_VEC_PRED}) leave "
    "every subspace's code table, each TOUCHED codebook entry re-centers "
    "to the fixed-point mean of its surviving members' subvectors (the "
    "same hot-cell partial m-step, per subspace), a fully-emptied entry "
    "is DROPPED from the persisted model, untouched entries round-trip "
    "the two physical parquet models byte-identically "
    "(frozen_codes_unchanged — NULL-safe, a writer that loses an entry "
    "flips it red), and only touched entries' survivors re-encode in "
    "their subspace — O(touched mass) per subspace, never a retrain. "
    "n_tombstones_in_codes_after is 0 by construction (it documents the "
    "invariant; frozen_codes_unchanged and the code fingerprint are the "
    "load-bearing audits) and refit_code_micro_sum "
    "fingerprints the refreshed persisted codebooks against the oracle's "
    "survivor-mean replay. The oracle regenerates all M per-subspace "
    "trainings, sweeps, partial refits and re-encodes end-to-end in SQL.",
    oracle=_pq_forget_oracle_sql(),
)
def deletion_propagation_pq_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .lake import _lake_path
    from .pq import DIMS, fitted_pq_model
    from .similarity import load_embeddings

    stale_path = _lake_path(sf_dir, "pq_model_stale")
    fresh_path = _lake_path(sf_dir, "pq_model_forget")
    from ..operators.model_store import save_pq_model

    emb = load_embeddings(spark, sf_dir)
    write_once(
        stale_path,
        lambda: save_pq_model(fitted_pq_model(spark, sf_dir), stale_path),
    )
    write_fresh = not written(fresh_path)
    out = ordered_small(
        pq_model_sweep_frames(
            spark, emb, stale_path, fresh_path, DELETED_VEC_PRED,
            write_fresh, dims=DIMS,
        ),
        "n_tombstones",
    )
    write_once(fresh_path, lambda: None)  # the sweep's writes completed
    return out


# ---------------------------------------------------------------------------
# STREAMING forget-sweep twins (r11 verdict task #4): RTBF requests arrive
# continuously in production; these run the sketch-lake and visual-signature
# sweeps as foreachBatch tombstone gates over staged request WAVES (one file
# per micro-batch, Trigger.AvailableNow + maxFilesPerTrigger=1 — the CDC
# drain shape, streaming/drain.py) and prove the stitched post-stream state
# hash-equal to the one-shot batch sweep of the full tombstone set. Each
# micro-batch stores its lake generation and frees the one it replaces
# (lifecycle.next_generation). A forced 1-entity-per-batch split is pinned
# in tests/test_round12.py. Order independence per surface:
#
# - Signature lake (visual gate state): the sweep is a pure anti-join
#   filter; the final state is the corpus minus the UNION of all waves —
#   any wave split converges to the identical lake.
# - KMV sketch lake: each wave rebuilds the partials of the date partitions
#   ITS users appear in, excluding every tombstone seen SO FAR. A date's
#   final version is written by the last wave touching it; users from later
#   waves never appear in dates they do not touch, so each touched date's
#   final partial excludes exactly the tombstoned users that appear in it —
#   the stitched lake equals the one-shot sweep's for ANY wave split.
# ---------------------------------------------------------------------------

# The streaming cohort is RICHER than the batch sweeps' single entity so
# the wave split is non-degenerate: users 3, 19, 35, 51, ... (includes the
# batch sweep's user 3). Waves partition the cohort by residue mod 48.
STREAM_DELETED_USER_PRED = "user_id % 16 = 3"
_STREAM_USER_WAVES = (3, 19, 35)  # user_id % 48 residues; union = % 16 = 3

def _stage_waves(
    spark: SparkSession, sf_dir: str, kind: str, waves: list[DataFrame]
) -> str:
    """Write each wave DataFrame as one parquet file under a fresh staging
    dir (written once per process x sf_dir x kind); file order drives the
    micro-batch split."""
    import tempfile

    def stage() -> str:
        path = tempfile.mkdtemp(prefix=f"sg_forget_{kind}_") + "/waves"
        for w in waves:
            w.coalesce(1).write.mode("append").parquet(path)
        return path

    return write_once(("forget_waves", sf_dir, kind), stage)


def sketch_forget_step_factory(
    spark: SparkSession,
    sf_dir: str,
    ev: DataFrame,
    before: DataFrame,
    state: dict,
):
    """Per-micro-batch KMV sketch-lake sweep step (shared by the registered
    3-wave query and the forced 1-user-per-batch split test): accumulate
    tombstones, rebuild ONLY this wave's touched date partitions from the
    corpus minus every tombstone seen so far, stitch into the lake state.
    ``state`` carries {"lake": DataFrame|None, "dead": DataFrame|None}."""
    kmv = SKETCH_KINDS["kmv"]

    def step(batch: DataFrame) -> None:
        dead_now = batch.select("user_id")
        acc = state["dead"]
        state["dead"] = next_generation(
            acc, dead_now if acc is None else acc.unionByName(dead_now)
        )
        # partitions THIS wave's users can affect (O(dates) rows)
        touched = F.broadcast(
            ev.join(dead_now, "user_id")
            .select(F.to_date("ts").alias("event_date"))
            .distinct()
        )
        lake = state["lake"] if state["lake"] is not None else before
        kept = lake.join(touched, "event_date", "left_anti")
        # rebuild the touched partitions from the corpus minus every
        # tombstone seen SO FAR, through the lake's own key/hash recipe.
        # The events scan is PRUNED to the touched dates BEFORE the
        # distinct (the date join cannot push below the recipe's distinct
        # aggregate, so filtering after it paid a whole-corpus distinct per
        # wave — a key embeds its date, so the pre-filtered recipe yields
        # identical hashes at O(touched) cost, which is the registered
        # bound)
        ev_touched = ev.join(
            touched, F.to_date("ts") == F.col("event_date")
        ).drop("event_date")
        hashed_alive = kmv.fields(
            ev_touched.join(state["dead"], "user_id", "left_anti")
        )
        rebuilt = kmv.partial(hashed_alive)
        state["lake"] = next_generation(
            state["lake"], kept.unionByName(rebuilt)
        )

    return step


@register(
    "streaming_forget_sketch_lake",
    "S6-analog-stream,A10-ext,V4-analog",
    "STREAMING right-to-be-forgotten sweep over the persisted KMV sketch "
    "lake — the foreachBatch twin of deletion_propagation_sketch_lake: "
    f"GDPR delete requests for the user cohort ({STREAM_DELETED_USER_PRED}"
    ", a superset of the batch sweep's single user so the split is "
    "non-degenerate) arrive in THREE staged waves drained with "
    "Trigger.AvailableNow + maxFilesPerTrigger=1. Each micro-batch "
    "rebuilds ONLY the date partitions its users appear in, from the "
    "corpus minus every tombstone seen so far, and stitches them into the "
    "lake state (localCheckpoint per generation — O(1) plan depth); "
    "untouched partitions are never recomputed, so a wave costs O(wave's "
    "touched partitions), the bound that makes continuous RTBF affordable "
    "at 100 TB. A date's final partial is written by the LAST wave "
    "touching it and later waves' users never appear in dates they do "
    "not touch, so ANY wave split converges to the one-shot sweep's lake "
    "— stitched_equals_scratch compares the drained state's merge against "
    "a from-scratch sketch of the post-delete corpus by hash. The oracle "
    "replays the full-set sweep (the one canonical parameterized replay "
    "shared with the batch query).",
    oracle=_forget_lake_oracle_sql(STREAM_DELETED_USER_PRED),
)
def streaming_forget_sketch_lake(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    cohort = ev.select("user_id").distinct().filter(
        F.expr(STREAM_DELETED_USER_PRED)
    )
    waves_dir = _stage_waves(
        spark,
        sf_dir,
        "sketch",
        [
            cohort.filter(F.col("user_id") % 48 == r)
            for r in _STREAM_USER_WAVES
        ],
    )

    before = sketch_lake(spark, sf_dir, "kmv")  # the PHYSICAL persisted lake
    state: dict = {"lake": None, "dead": None}
    step = sketch_forget_step_factory(spark, sf_dir, ev, before, state)

    drain_batches(
        read_parquet_stream(spark, waves_dir, one_file_per_batch=True),
        tempfile.mkdtemp(prefix="sg_forget_ckpt_"),
        step,
    )
    stitched = state["lake"] if state["lake"] is not None else before

    hashed_after = SKETCH_KINDS["kmv"].fields(
        ev.filter(~F.expr(STREAM_DELETED_USER_PRED))
    )
    touched_all = F.broadcast(
        ev.filter(F.expr(STREAM_DELETED_USER_PRED))
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
    )
    return _sketch_sweep_report(before, stitched, hashed_after, touched_all)


def _mm_stream_forget_oracle_sql() -> str:
    from .multimodal import _PHASH_CTES

    # the oracle's flag is the expected invariant (filter == rebuild holds
    # identically in one replay, so no fingerprint is needed here); the
    # Spark side derives it from two physically different paths — the
    # drained stream state vs an honest second decode pass
    return f"""
        WITH {_PHASH_CTES},
        deadm AS (SELECT doc_id FROM vis WHERE doc_id % 100 = 7)
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM ph
           WHERE doc_id IN (SELECT doc_id FROM deadm))
            AS n_tombstones_visual,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM ph) AS n_sig_rows_before,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM ph
           WHERE doc_id NOT IN (SELECT doc_id FROM deadm))
            AS n_sig_rows_after,
          TRUE AS swept_equals_rebuilt
    """


@register(
    "streaming_forget_multimodal",
    "A6-ext-phash,V4-analog",
    "STREAMING right-to-be-forgotten sweep over the visual gate's "
    "PERSISTED SIGNATURE LAKE — the foreachBatch twin of "
    "deletion_propagation_multimodal's lake sweep: tombstoned visual "
    "media (doc_id % 100 = 7, the batch sweep's exact set) arrive in "
    "THREE staged waves (split by doc_id % 300) drained with "
    "Trigger.AvailableNow + maxFilesPerTrigger=1; each micro-batch "
    "anti-joins its tombstones out of the physical parquet signature lake "
    "state (a pure filter — order independence is trivial: the final "
    "state is the corpus minus the union of waves, for ANY split). The "
    "drained state must fingerprint-equal an HONEST from-scratch rebuild "
    "over the post-delete corpus — the Spark side really runs a second "
    "Arrow decode pass, so swept_equals_rebuilt flips red if any wave "
    "missed or mangled a row (not a tautology there; the oracle's column "
    "states the expected invariant from the one signature replay). "
    "Per-wave cost is O(wave + lake-scan), never a re-decode.",
    oracle=_mm_stream_forget_oracle_sql(),
)
def streaming_forget_multimodal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from ..operators.multimodal import (
        PHASH_MIN_CHARS,
        attach_media_columns,
        phash_media,
    )
    from .lake import _lake_path

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= PHASH_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    sig_path = _lake_path(sf_dir, "mm_sig_lake_stream")
    sig = phash_media(media)
    # the persisted surface the stream sweeps: a physical parquet lake
    write_once(sig_path, lambda: sig.write.mode("overwrite").parquet(sig_path))
    lake0 = spark.read.schema(sig.schema).parquet(sig_path)

    dead_all = lake0.filter(F.col("media_id") % 100 == 7).select("media_id")
    waves_dir = _stage_waves(
        spark,
        sf_dir,
        "mm",
        [
            dead_all.filter(F.col("media_id") % 300 == 7 + 100 * w)
            for w in range(3)
        ],
    )

    state: dict = {"lake": None}

    def step(batch: DataFrame) -> None:
        lake = state["lake"] if state["lake"] is not None else lake0
        state["lake"] = next_generation(
            state["lake"],
            lake.join(
                F.broadcast(batch.select("media_id")), "media_id", "left_anti"
            ),
        )

    drain_batches(
        read_parquet_stream(spark, waves_dir, one_file_per_batch=True),
        tempfile.mkdtemp(prefix="sg_forget_ckpt_"),
        step,
    )
    swept = state["lake"] if state["lake"] is not None else lake0

    # HONEST second decode pass over the post-delete corpus
    rebuilt = phash_media(
        attach_media_columns(
            docs.filter(~(F.col("doc_id") % 100 == 7)), "doc_id", "text"
        )
    )
    sig_fp = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.col("media_id").cast("string"),
                    F.lit(":"),
                    F.col("phash").cast("string"),
                ),
                256,
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")

    def fp(df: DataFrame, n: str, x: str) -> DataFrame:
        return df.withColumn("_fp", sig_fp).agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.expr("bit_xor(_fp)").cast("bigint").alias(x),
        )

    out = (
        _count1(dead_all, "n_tombstones_visual")
        .crossJoin(F.broadcast(_count1(lake0, "n_sig_rows_before")))
        .crossJoin(F.broadcast(fp(swept, "n_sig_rows_after", "sw_x")))
        .crossJoin(F.broadcast(fp(rebuilt, "rb_n", "rb_x")))
        .select(
            "n_tombstones_visual",
            "n_sig_rows_before",
            "n_sig_rows_after",
            (
                (F.col("n_sig_rows_after") == F.col("rb_n"))
                & F.col("sw_x").eqNullSafe(F.col("rb_x"))
            ).alias("swept_equals_rebuilt"),
        )
    )
    return ordered_small(out, "n_tombstones_visual")
