"""Physical-plan contracts: the scale properties every registered query must
keep, asserted against ``executedPlan`` strings so regressions fail in CI
rather than on the cluster.

These encode the repo's 100 TB posture rules (README "Design choices"):

- dimension joins broadcast (never shuffle the fact side for a 25-row dim);
- filters and column pruning reach the parquet scan;
- no row-at-a-time Python (`BatchEvalPython`) anywhere — Python appears only
  as Arrow-batched seams (`MapInPandas` / `FlatMapGroupsInPandas`) in the
  operators designed around them;
- no cartesian products; broadcast-nested-loop joins only against provably
  tiny (scalar/aggregate) build sides;
- the as-of join stays a single hash shuffle per input (its entire point);
- `ordered_small`'s single-partition funnel never sits on an O(corpus)
  result (spot-checked for the corpus-sized query family).
"""

from __future__ import annotations

import re

import pytest

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.queries import REGISTRY
from notion_timetracking_etl_spark.sources.tpch import load_table


def plan_of(spark, sf_dir, name: str) -> str:
    return (
        REGISTRY[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_dim_joins_are_broadcast_not_shuffled(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "fact_dim_enrichment")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    scan = q._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", scan)
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", scan).group(1)
    cols = {c.split(":")[0] for c in read_schema.split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}


def test_no_row_at_a_time_python_in_any_registered_query(spark, sf_dir):
    offenders = []
    for name in REGISTRY:
        if name.startswith("streaming_"):
            continue  # streaming plans need a started query; covered below
        plan = plan_of(spark, sf_dir, name)
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert offenders == []


def test_no_cartesian_products_and_bnlj_only_on_scalar_builds(spark, sf_dir):
    for name in REGISTRY:
        if name.startswith("streaming_"):
            continue
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        for m in re.finditer(r"BroadcastNestedLoopJoin", plan):
            # every BNLJ in the registry joins a 1-row aggregate / bounded
            # top-k build side; all such plans broadcast with
            # IdentityBroadcastMode, which only AQE emits for tiny relations.
            assert "IdentityBroadcastMode" in plan, name


def test_asof_join_is_single_shuffle_per_input(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "asof_purchase_attribution")
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    # one union-side shuffle on the key; the only other exchange is the
    # deterministic output ordering's range partitioning
    assert len(hash_exchanges) == 1
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1


def test_band_join_is_equi_join_on_bucket_never_pure_theta(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "range_join_error_context")
    # the band join must key on (user_id, _bucket) — visible as join keys in
    # either a broadcast or sort-merge strategy; a pure theta join would
    # surface as BNLJ/Cartesian over the raw ranges
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin) \[user_id.*_bucket", plan)
    assert "CartesianProduct" not in plan


def test_corpus_sized_results_never_funnel_to_one_partition(spark, sf_dir):
    # the round-1 weak set: one row per document/media row — their final
    # ordering must be a range repartitioning, not repartition(1)
    for name in [
        "dedup_exact",
        "dedup_simhash",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "similarity_embedding_near_dup",
        "multimodal_decode",
        "multimodal_resize",
        "multimodal_frame_sample",
        "asof_purchase_attribution",
        "range_join_error_context",
        # one row per source — domain cardinality grows with the corpus
        "corpus_source_cap",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "rangepartitioning" in plan, name
        assert "SinglePartition, REPARTITION_BY_NUM" not in plan, name


def test_mg_candidate_generation_precedes_any_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "heavy_hitter_tokens")
    # the MapInPandas (MG summaries) must appear BELOW every exchange in its
    # subtree: its input chain from the scan contains no Exchange
    seg = plan[plan.index("MapInPandas") :]
    scan_pos = seg.index("Scan parquet")
    assert "Exchange" not in seg[:scan_pos]


@pytest.mark.parametrize("name", ["similarity_topk_bruteforce", "similarity_topk_ivf"])
def test_ann_queries_broadcast_the_query_side(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastExchange" in plan


def test_topk_per_group_queries_get_window_group_limit_pushdown(spark, sf_dir):
    # the salted two-phase top-k must keep Catalyst's WindowGroupLimit
    # optimization (per-partition top-k pruning BEFORE the rank filter) on
    # both window phases — losing it would sort full strata per task
    for name in (
        "sample_stratified",
        "text_tfidf_terms",
        "quantile_hash_sample",
        "text_drift_report",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan, name


def test_tfidf_output_never_funnels_to_one_partition(spark, sf_dir):
    # O(3·docs) output — same rule as the corpus-sized family above
    plan = plan_of(spark, sf_dir, "text_tfidf_terms")
    assert "rangepartitioning" in plan
    assert "SinglePartition, REPARTITION_BY_NUM" not in plan


def test_global_ranking_has_no_single_partition_window(spark, sf_dir):
    # customer_spend_deciles ranks O(customers) rows — its plan must use the
    # distributed range-partitioned rank (operators/rank.py), never a
    # no-partition Window (which funnels everything through one task)
    plan = plan_of(spark, sf_dir, "customer_spend_deciles")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_runtime_bloom_filter_prunes_fact_side_of_shuffled_join(spark, sf_dir):
    # 100 TB lever: when a selective dim side feeds a SHUFFLED fact join,
    # Catalyst injects a runtime bloom filter that prunes fact rows before
    # the exchange. Broadcast joins don't need it (our dims broadcast), but
    # the posture must hold for the fact-fact joins AQE cannot broadcast.
    restore = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "1KB",
        )
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "partial_bloom_filter_agg" in plan
    finally:
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lake_read_prunes_partitions_at_scan(spark, sf_dir):
    # The partitioned-lake family's whole point: the event_date predicate
    # must land in PartitionFilters (directory-level pruning — the first
    # lever at 100 TB), not be applied post-scan, and the scan must list
    # only the 7 matching date directories out of ~30.
    from notion_timetracking_etl_spark.queries.lake import events_lake_path

    plan = plan_of(spark, sf_dir, "lake_pruned_daily_profile")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pf = m.group(1)
    assert "event_date" in pf and ">=" in pf and "<=" in pf
    # data filters must NOT re-check the partition predicate row-by-row
    assert "PushedFilters: []" in plan or "event_date" not in re.search(
        r"PushedFilters: \[([^\]]*)\]", plan
    ).group(1)
    # file-listing check: the pruned scan reads exactly the 7 directories
    lake = spark.read.parquet(events_lake_path(sf_dir))
    pruned = lake.filter(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    ).select(F.input_file_name().alias("f")).distinct().collect()
    dirs = {re.search(r"event_date=([^/]+)/", r.f).group(1) for r in pruned}
    assert dirs == {f"2024-01-{d:02d}" for d in range(8, 15)}


def test_bucketed_cohort_join_is_exchange_free(spark, sf_dir):
    # bucketBy's whole point: both sides of the user_id join report the
    # bucket hash partitioning, so the join runs with NO shuffle exchange
    # on either input. Broadcast disabled so the plan can't sidestep the
    # check (at driver scale the cohort dim is broadcastable; at 100 TB
    # it is not — the bucketed SMJ is the plan that must hold).
    from notion_timetracking_etl_spark.queries.lake import (
        bucketed_event_tables,
    )

    fact, dim = bucketed_event_tables(spark, sf_dir)
    restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(fact).join(spark.table(dim), "user_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert plan.count("SelectedBucketsCount") == 2
    finally:
        if restore is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)


def test_layout_manifest_scans_never_read_text(spark, sf_dir):
    """The layout family's manifest-style queries (shard manifest, compaction
    plan) consume only id/size/key columns; at 100 TB reading the `text`
    column for them would multiply scan volume ~50x. Column pruning must
    reach the parquet scan."""
    for name, expected in (
        ("corpus_shard_manifest", {"doc_id", "n_chars"}),
        ("lake_compaction_plan", {"source", "doc_id", "n_chars"}),
    ):
        plan = plan_of(spark, sf_dir, name)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, f"{name}: no parquet scan in plan"
        for s in schemas:
            cols = {c.split(":")[0] for c in s.split(",") if c}
            assert cols <= expected, f"{name}: scan reads {cols - expected}"
        from notion_timetracking_etl_spark.lifecycle import (
            release_scoped_caches,
        )

        release_scoped_caches()


def test_zorder_rank_has_no_single_partition_window(spark, sf_dir):
    """The z-order file assignment ranks the full corpus — it must go through
    the distributed ranking operator (range partition + per-partition
    row_number), never `Window [.. ORDER BY ..]` with no PARTITION BY
    (a single-task global sort)."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    plan = plan_of(spark, sf_dir, "lake_zorder_extent_stats")
    release_scoped_caches()
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        partition_spec = m.group(1)
        assert partition_spec.strip(), "windowed rank with empty PARTITION BY"


def test_selection_family_broadcasts_bounded_sides(spark, sf_dir):
    """The selection family's small sides are all BOUNDED regardless of
    corpus size — DSIR's bucket-weight table (≤4096 rows), BM25's per-term
    document frequencies (≤ |query terms| rows), and the Bloom position set
    (≤ min(k·n, m) rows). Each must return to the corpus-sized stream as a
    broadcast hash join; a shuffled SMJ there would re-shuffle the corpus
    for a constant-sized build."""
    plan = plan_of(spark, sf_dir, "dsir_importance_scores")
    assert re.search(r"BroadcastHashJoin \[bucket", plan)
    assert not re.search(r"SortMergeJoin \[bucket", plan)

    plan = plan_of(spark, sf_dir, "bm25_doc_ranking")
    assert re.search(r"BroadcastHashJoin \[term", plan)

    plan = plan_of(spark, sf_dir, "dedup_bloom_prefilter")
    assert re.search(r"BroadcastHashJoin \[pos", plan)
    assert not re.search(r"SortMergeJoin \[pos", plan)


def test_maintenance_stats_scans_are_column_pruned(spark, sf_dir):
    """The stats/maintenance queries read fixed column sets; at 100 TB an
    unpruned documents scan (the ~50x-wider `text` column) would dominate
    the whole job. Every parquet scan in their plans must carry only the
    profiled columns."""
    expected = {
        "catalog_column_stats": {
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority",
            "l_quantity", "l_returnflag", "l_shipdate",
            "user_id", "event_type", "value",
            "lang", "n_chars",
        },
        "rollup_incremental_refresh": {"ts", "event_type", "value"},
        "join_skew_report": {"l_orderkey", "o_custkey", "user_id"},
        "catalog_equidepth_histograms": {
            "o_totalprice", "o_orderkey", "value", "event_id",
        },
    }
    for name, cols_allowed in expected.items():
        plan = plan_of(spark, sf_dir, name)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, f"{name}: no parquet scan in plan"
        for s in schemas:
            cols = {c.split(":")[0] for c in s.split(",") if c}
            assert cols <= cols_allowed, f"{name}: scan reads {cols - cols_allowed}"
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    release_scoped_caches()


def test_equidepth_rank_has_no_single_partition_window(spark, sf_dir):
    """Histogram bucketing ranks O(table) rows — it must ride the
    distributed range-partitioned rank, never an empty-PARTITION-BY window."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    plan = plan_of(spark, sf_dir, "catalog_equidepth_histograms")
    release_scoped_caches()
    assert "rangepartitioning" in plan
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "windowed rank with empty PARTITION BY"


def test_cdc_apply_is_struct_max_not_window(spark, sf_dir):
    # the MERGE apply must be one keyed aggregation (map-side combinable),
    # never a per-key ROW_NUMBER window over the changelog
    plan = plan_of(spark, sf_dir, "cdc_apply_changelog")
    assert "Window" not in plan
    # struct max plans as SortAggregate with a partial_max below the
    # exchange — the map-side combine that makes apply cost O(changelog)
    assert "partial_max(struct(seq" in plan


def test_mad_rank_has_no_single_partition_window(spark, sf_dir):
    # both median passes rank O(events) rows — must be the distributed
    # range-partitioned rank, never a no-partition Window funnel
    plan = plan_of(spark, sf_dir, "robust_outliers_mad")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_binary_ann_broadcasts_queries_and_scans_signatures_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "similarity_topk_binary")
    assert "BroadcastExchange" in plan
    # the Hamming scan must NOT carry the float vectors: the embedding
    # column may enter the plan only via the shortlist re-rank join and the
    # signature computation, never through the shortlist shuffle. The
    # shortlist window's exchange partitions on query_id and its input
    # projection must be signature-sized (no embedding column).
    m = re.search(r"Exchange hashpartitioning\(query_id[^\n]*\n[^\n]*", plan)
    assert m and "embedding" not in m.group(0)


def test_semdedup_incremental_blocks_on_refined_cell(spark, sf_dir):
    # r8: the batch-vs-corpus gate must key its join on the REFINED cell id
    # (coarse k-means cid + adaptive SRP bits — cardinality grows with the
    # corpus); the membership itself comes from the session-cached
    # materialization (Scan ExistingRDD — built once per corpus with the
    # bits scalar on a broadcast one-row aggregate), and the embeddings
    # label column must never enter the plan.
    plan = plan_of(spark, sf_dir, "semdedup_incremental")
    assert re.search(r"Exchange hashpartitioning\(cell", plan)
    assert not re.search(r"hashpartitioning\(label", plan)
    for read_schema in re.findall(r"ReadSchema: \S+", plan):
        assert "label" not in read_schema, read_schema


def test_countmin_counters_broadcast_to_probes(spark, sf_dir):
    # the counter table (<= depth x width rows) must broadcast; the token
    # stream is never shuffled for the probe join
    plan = plan_of(spark, sf_dir, "countmin_token_frequency")
    assert "BroadcastHashJoin" in plan


def test_knn_graph_blocks_on_adaptive_cell_not_label(spark, sf_dir):
    # r6 verdict fix: the kNN pair space must be keyed by the ADAPTIVE SRP
    # quantizer cell (cardinality ~ n / KNN_TARGET_CELL), never the raw
    # bounded-cardinality label column (10 distinct at every sf — quadratic
    # pair space at scale). The self-join's shuffle key is the cell id and
    # the label column never enters the plan.
    plan = plan_of(spark, sf_dir, "knn_graph_stats")
    # ADVICE r7: anchored to the structural carriers instead of one raw
    # substring over the whole plan text (which any file path or future
    # plan-format change could trip): no exchange may partition by label,
    # and no scan may read the label column.
    assert not re.search(r"hashpartitioning\(label", plan)
    for read_schema in re.findall(r"ReadSchema: \S+", plan):
        assert "label" not in read_schema, read_schema
    assert re.search(r"Exchange hashpartitioning\(cell", plan)
    # the bits scalar rides a broadcast (one-row aggregate), so the cell
    # derivation never shuffles the corpus by itself
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_source_cap_topk_prunes_map_side(spark, sf_dir):
    # Domain capping's per-source top-k must ride Spark's WindowGroupLimit
    # rewrite: a PARTIAL group-limit runs map-side BEFORE the exchange, so
    # the shuffle carries O(sources x cap) rows instead of the corpus —
    # that is the whole scale argument for not salting a skewed mega-domain.
    plan = plan_of(spark, sf_dir, "corpus_source_cap")
    limits = re.findall(r"WindowGroupLimit \[source[^\n]*", plan)
    assert len(limits) == 2, limits  # partial (map-side) + final
    # the partial limit must sit BELOW the exchange in the plan tree (it
    # appears after the exchange line in top-down toString order)
    exch = plan.index("Exchange hashpartitioning(source")
    assert plan.rindex("WindowGroupLimit") > exch
    # and no per-row Python anywhere
    assert "BatchEvalPython" not in plan


def test_kmv_intersection_sketch_bounds_pair_space(spark, sf_dir):
    # The per-type bottom-k must pre-prune map-side (WindowGroupLimit), and
    # every pair-level operator must run over sketch-sized inputs: the only
    # corpus-sized shuffles are the distinct keying, the per-type bottom-k,
    # and the exact-audit key join. Sketch-side joins broadcast.
    plan = plan_of(spark, sf_dir, "kmv_set_intersection")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_no_single_partition_funnel_on_growing_outputs(spark, sf_dir):
    # Registry-wide, self-enforcing version of the manual never-funnel list
    # above: any query whose oracle yields an O(corpus)-sized result at the
    # fixture sf (>500 rows at sf0.001 — every bounded output in the
    # registry is far below this: dims, top-k lists, sketch tables, pair
    # audits) must order via a distributed range sort, never ordered_small's
    # repartition(1). A new query with a growing output and a funnel fails
    # here the day it lands, without anyone updating a list.
    from tests.parity import duck_connection

    con = duck_connection(sf_dir)
    offenders = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None or name.startswith("streaming_"):
            continue
        n = con.execute(f"SELECT COUNT(*) FROM ({spec.oracle})").fetchone()[0]
        if n <= 500:
            continue
        plan = plan_of(spark, sf_dir, name)
        if "SinglePartition, REPARTITION_BY_NUM" in plan:
            offenders.append((name, n))
    assert offenders == []


def test_qs_sketch_lake_partial_build_prunes_map_side(spark, sf_dir):
    # The quantile lake's one corpus-sized stage is the partial-sample
    # build; its per-(date, type) bottom-k must ride WindowGroupLimit's
    # partial rewrite so each map task forwards <= k rows per group and the
    # exchange carries O(dates x types x k), never the corpus. The
    # merge-on-read side then only ever touches sketch rows.
    from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS

    qs = SKETCH_KINDS["qs"]
    plan = (
        qs.partial(qs.dated(spark, sf_dir))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    limits = re.findall(r"WindowGroupLimit \[event_date[^\n]*", plan)
    assert len(limits) == 2, limits  # partial (map-side) + final
    exch = plan.index("Exchange hashpartitioning(event_date")
    assert plan.rindex("WindowGroupLimit") > exch
    assert "BatchEvalPython" not in plan


def test_audio_near_dup_blocks_never_cartesian(spark, sf_dir):
    # The audio fingerprint family inherits the visual family's scale
    # contract: candidates come from the pigeonhole block equi-join (an
    # Exchange on the block key), never a cartesian/broadcast-nested-loop
    # over the corpus, and Python appears only as the Arrow seam.
    plan = plan_of(spark, sf_dir, "multimodal_audio_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidates come from an EQUI-join keyed on the pigeonhole block
    # (hash-join at any scale: broadcast at fixture sf, SMJ/AQE at 100 TB)
    assert re.search(r"Join.*\[bi#\d+", plan) or "hashpartitioning(bi" in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
