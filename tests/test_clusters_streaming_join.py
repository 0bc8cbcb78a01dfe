"""Tests: connected-components clustering, the stream-stream interval join's
batch equivalence, and the approx-quantile scale path's error bound."""

from __future__ import annotations

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.operators.cluster import connected_components
from notion_timetracking_etl_spark.queries import REGISTRY
from notion_timetracking_etl_spark.sources.tpch import load_table


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_cc_chain_needs_multiple_rounds(spark):
    # a path graph exercises label propagation past the first hop
    cc = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]))
    got = {r.node: r.component for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_separate_components_and_min_representative(spark):
    cc = connected_components(
        _edges(spark, [(10, 7), (7, 12), (100, 90), (55, 55)])
    )
    got = {r.node: r.component for r in cc.collect()}
    assert got == {7: 7, 10: 7, 12: 7, 90: 90, 100: 90, 55: 55}


def test_cc_adversarial_diameter_converges_logarithmically(spark):
    # A 200-node path graph is the worst topology for label propagation:
    # plain propagation needs 199 rounds (min label moves one hop/round)
    # and would blow max_rounds=50. Pointer jumping halves label chains
    # each round, so this must converge in O(log d) rounds.
    stats: dict = {}
    edges = _edges(spark, [(i, i + 1) for i in range(1, 200)])
    cc = connected_components(edges, stats=stats)
    got = {r.node: r.component for r in cc.collect()}
    assert got == {i: 1 for i in range(1, 201)}
    # log2(199) ≈ 7.6; allow slack for the propagate+shortcut interleave.
    # Measured: 9 rounds.
    assert stats["rounds"] <= 14, stats


def test_cc_max_rounds_failure_mode(spark):
    # the convergence guard must fail loudly, not return partial labels
    import pytest as _pytest

    edges = _edges(spark, [(i, i + 1) for i in range(1, 200)])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=2)


def test_cc_storage_flat_across_runs(spark, sf_dir):
    # bench/parity run many queries in one session and call
    # release_scoped_caches between them — CC's checkpoints (which plain
    # unpersist() cannot free) must not accumulate across runs.
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    def persistent_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    def run_once():
        REGISTRY["dedup_clusters"].spark(spark, sf_dir).collect()
        release_scoped_caches()
        return persistent_ids()

    after_first = run_once()
    after_second = run_once()
    # no growth: everything a run persisted (plan caches AND checkpoint
    # RDD blocks) is released by release_scoped_caches
    assert len(after_second) <= len(after_first)
    assert len(after_second - after_first) == 0, (
        "checkpoint/persist leak across runs: "
        f"{sorted(after_second - after_first)}"
    )


def test_dedup_clusters_invariants(spark, sf_dir):
    out = REGISTRY["dedup_clusters"].spark(spark, sf_dir)
    rows = out.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # every document assigned exactly once
    reps = {r.cluster_rep for r in rows}
    assert sum(1 for r in rows if r.keep) == len(reps)  # one keeper per cluster
    # representative is the smallest member, and sizes are consistent
    by_rep: dict[int, list] = {}
    for r in rows:
        by_rep.setdefault(r.cluster_rep, []).append(r)
    for rep, members in by_rep.items():
        assert rep == min(m.doc_id for m in members)
        assert all(m.cluster_size == len(members) for m in members)


def test_streaming_interval_join_equals_batch_twin(spark, sf_dir):
    stream_rows = {
        (r.view_id, r.purchase_id)
        for r in REGISTRY["streaming_interval_join"].spark(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    batch = v.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pts") > F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 30 MINUTES")),
    )
    batch_rows = {(r.view_id, r.purchase_id) for r in batch.collect()}
    assert stream_rows == batch_rows


def test_quantile_approx_flags_green_and_counts_match_exact(spark, sf_dir):
    # the GK rank-space bracketing this test used to do inline now lives
    # INSIDE the registered query (r8: the audit twin hashes the flags),
    # so the test asserts the in-query audit passes on a healthy sketch
    # and that the deterministic columns agree with the exact twin.
    rows = REGISTRY["quantile_summary_approx"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_in_bound and r.p90_in_bound and r.p99_in_bound, r
    exact = {
        r.event_type: r.n_events
        for r in REGISTRY["quantile_summary"].spark(spark, sf_dir).collect()
    }
    assert {r.event_type: r.n_events for r in rows} == exact


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.pagerank import pagerank

    # star: hub 1 linked to 2..6 — the hub must dominate; undirected graph
    # with no dangling nodes conserves total mass at ~1
    star = _edges(spark, [(1, i) for i in range(2, 7)])
    rows = {r.node: r for r in pagerank(star).collect()}
    release_scoped_caches()
    assert abs(sum(r.pagerank for r in rows.values()) - 1.0) < 1e-6
    hub, leaves = rows[1], [rows[i] for i in range(2, 7)]
    assert all(hub.pagerank > l.pagerank for l in leaves)
    assert hub.degree == 5 and all(l.degree == 1 for l in leaves)
    # leaves are symmetric → identical ranks
    assert len({l.pagerank for l in leaves}) == 1


def test_pagerank_deterministic_across_runs(spark):
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.pagerank import pagerank

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5)])
    a = {(r.node, r.pagerank) for r in pagerank(edges).collect()}
    release_scoped_caches()
    b = {(r.node, r.pagerank) for r in pagerank(edges).collect()}
    release_scoped_caches()
    assert a == b
