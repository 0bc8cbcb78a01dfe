"""Round-13 optimization-phase pins.

Each test pins one accepted optimization from OPTIMIZATION_r13.md so a later
refactor cannot silently undo it:

- connected_components must be conf-REENTRANT: the caller session's
  shuffle-width/broadcast conf is never mutated (the loop tunes a private
  child session), which is what makes the forget sweeps' overlapped legs
  legal;
- the overlapped before/after cluster assignment must equal the sequential
  one;
- fan_out must widen a sub-split-size scan and leave a large-estimate input
  untouched (the scale-adaptivity claim);
- the semantic-gate routing lake is session-materialized once
  (sem_state_base_cached): flat LogicalRDD leaf, shared by the semdedup
  cells and the semgate sweep, freed by release_session_caches;
- srp_near_dup_pairs keeps its bucket/norm tables scoped-persisted (the
  32-plane fold ran twice without them).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from notion_timetracking_etl_spark.operators.cluster import connected_components
from notion_timetracking_etl_spark import lifecycle
from notion_timetracking_etl_spark.lifecycle import fan_out, release_scoped_caches


def test_connected_components_is_conf_reentrant(spark):
    """The loop must not mutate the CALLER's session conf — even while it
    is running (the old set/restore was invisible after return but raced
    concurrent driver threads at plan time). Pin the observable contract:
    parent conf values identical before/after, on a graph whose derived
    loop width (2) differs from the session setting."""
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(100, 101)], "a long, b long"
    )
    out = connected_components(edges, "a", "b")
    n = out.select("component").distinct().count()
    assert n == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before_bcast
    )
    release_scoped_caches()


def test_overlapped_cluster_assign_equals_sequential(spark):
    from notion_timetracking_etl_spark.queries.forget import (
        _cluster_assign,
        _cluster_assign_overlapped,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a long, b long"
    ).localCheckpoint()
    universe = spark.range(1, 10).select(F.col("id").alias("doc_id"))
    alive = universe.filter("doc_id != 2")
    pairs_alive = pairs.filter("a != 2 and b != 2")
    seq_b = {(r.doc_id, r.cluster_rep) for r in _cluster_assign(universe, pairs).collect()}
    seq_a = {(r.doc_id, r.cluster_rep) for r in _cluster_assign(alive, pairs_alive).collect()}
    release_scoped_caches()
    ovl_b, ovl_a = _cluster_assign_overlapped(
        (universe, pairs), (alive, pairs_alive)
    )
    assert {(r.doc_id, r.cluster_rep) for r in ovl_b.collect()} == seq_b
    assert {(r.doc_id, r.cluster_rep) for r in ovl_a.collect()} == seq_a
    release_scoped_caches()


def test_fan_out_widens_narrow_scans_only(spark, sf_dir):
    narrow = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = spark.sparkContext.defaultParallelism
    assert fan_out(narrow, "doc_id").rdd.getNumPartitions() == p
    # a large-ESTIMATE input must come back untouched (no concentrating
    # shuffle at scale): 60M rows x ~90 bytes >> cores x maxPartitionBytes
    big = spark.range(0, 60_000_000).select(
        F.col("id").alias("k"),
        *[F.col("id").alias(f"c{i}") for i in range(10)],
    )
    assert fan_out(big, "k") is big


def test_sem_state_base_cached_is_flat_and_released(spark, sf_dir):
    from notion_timetracking_etl_spark.queries import kmeans as qk

    lifecycle.release_session_caches()
    base = qk.sem_state_base_cached(spark, sf_dir)
    # one materialized flat leaf, session-cached
    assert (
        base._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LogicalRDD"
    )
    assert qk.sem_state_base_cached(spark, sf_dir) is base
    assert set(base.columns) >= {"vec_id", "cid", "embedding", "nrm", "sig"}
    # the cached table IS the sem_state_base recipe (same rows)
    from notion_timetracking_etl_spark.operators.kmeans import (
        _as_double_vec,
        _assign,
    )
    from notion_timetracking_etl_spark.queries.similarity import (
        load_embeddings,
    )

    emb = load_embeddings(spark, sf_dir)
    _asg, cent = qk.fitted_model(spark, sf_dir)
    fresh = qk.sem_state_base(
        emb, _assign(_as_double_vec(emb, "vec_id", "embedding"), cent)
    )
    got = {(r.vec_id, r.cid, r.sig) for r in base.select("vec_id", "cid", "sig").collect()}
    want = {(r.vec_id, r.cid, r.sig) for r in fresh.select("vec_id", "cid", "sig").collect()}
    assert got == want
    lifecycle.release_session_caches()
    assert not lifecycle._SESSION_CACHE
    release_scoped_caches()


def test_srp_near_dup_pairs_persists_fold_tables(spark):
    from notion_timetracking_etl_spark.operators.similarity import (
        srp_near_dup_pairs,
    )

    release_scoped_caches()
    corpus = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(pmod(id * i, 7) - 3 as float))"
        ).alias("embedding"),
    )
    before = len(lifecycle._SCOPED_CACHES)
    df = srp_near_dup_pairs(corpus, bits=32, bands=4, threshold=0.3)
    added = lifecycle._SCOPED_CACHES[before:]
    assert len(added) >= 2, "expected entries + normed scoped persists"
    df.count()  # plan executable with the persists in place
    release_scoped_caches()
