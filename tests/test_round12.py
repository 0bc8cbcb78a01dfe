"""Round-12 additions: deep pigeonhole levels execute (ADVICE r11 codegen
fix), cluster-summary equivalence for the wide/audio pair families."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# pigeonhole_buckets: the multi-word combination fan-out ships as broadcast data,
# so the deep levels the adaptive ladder claims (radius 24 -> level 3 past
# ~3.3M signatures, level 4 past ~188M) actually EXECUTE — the old
# per-combination struct explode failed Janino codegen at C(27,3)=2925
# generated structs, making the level-cap-escape claim latent (ADVICE r11).
# ---------------------------------------------------------------------------


def _to_words(bits: int) -> tuple[int, ...]:
    ws = []
    for j in range(4):
        w = (bits >> (64 * j)) & ((1 << 64) - 1)
        ws.append(w - (1 << 64) if w >= 1 << 63 else w)
    return tuple(ws)


def test_multiword_pigeonhole_deep_levels_execute(spark):
    """Radius-24 levels 3 AND 4 (C(27,3)=2925 / C(28,4)=20475 combinations
    — both past the old codegen ceiling) run to completion and still find
    EXACTLY the brute-force pair set."""
    import random

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.dedup import (
        hamming_pairs,
        pigeonhole_buckets,
    )

    rng = random.Random(12)
    base = rng.getrandbits(256)
    rows = []
    for i in range(10):
        v = base
        for _ in range(rng.randrange(0, 25)):
            v ^= 1 << rng.randrange(256)
        rows.append((i, *_to_words(v)))
    for i in range(10, 25):
        rows.append((i, *_to_words(rng.getrandbits(256))))
    sig = spark.createDataFrame(
        rows, "id long, w0 long, w1 long, w2 long, w3 long"
    )
    words = {r[0]: [r[1], r[2], r[3], r[4]] for r in rows}

    def ham(a: int, b: int) -> int:
        return sum(
            bin((wa ^ wb) & ((1 << 64) - 1)).count("1")
            for wa, wb in zip(words[a], words[b])
        )

    brute = {
        (a, b)
        for a in words
        for b in words
        if a < b and ham(a, b) <= 24
    }
    assert brute  # the fixture must exercise non-trivial pairs
    try:
        for level in (3, 4):
            got = {
                (r.a, r.b)
                for r in hamming_pairs(
                    sig, "id", ["w0", "w1", "w2", "w3"], 256, 24, level=level
                ).collect()
            }
            assert got == brute, level
        # the fan-out itself is exactly one row per (signature, combination)
        n3 = pigeonhole_buckets(
            sig, ["w0", "w1", "w2", "w3"], 256, 24, 3
        ).count()
        assert n3 == len(rows) * 2925
    finally:
        release_scoped_caches()


# ---------------------------------------------------------------------------
# Wide/audio cluster summaries: the distinct-(signature, grid) node-graph
# closure must equal the raw media-pair-graph closure — including the case
# the SimHash summary never faces: equal hash words with DIFFERENT grids
# (hamming 0 but px_l1 can exceed the cap), which the full-group collapse
# key handles by splitting them into distinct nodes.
# ---------------------------------------------------------------------------


def _clusters_from_pairs(spark, universe, pairs):
    from notion_timetracking_etl_spark.operators.cluster import (
        connected_components,
    )

    cc = connected_components(pairs, "a", "b").select(
        F.col("node").alias("cc_node"), "component"
    )
    assign = universe.join(
        cc, universe.media_id == F.col("cc_node"), "left"
    ).select(
        "media_id",
        F.coalesce(F.col("component"), F.col("media_id")).alias("ck"),
    )
    return {
        (r.cluster_rep, r.cluster_size)
        for r in assign.groupBy("ck")
        .agg(
            F.min("media_id").alias("cluster_rep"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .collect()
    }


@pytest.mark.parametrize(
    "summary_q,pair_q",
    [
        ("multimodal_near_dup_wide_clusters", "multimodal_near_dup_wide"),
        ("multimodal_audio_dup_clusters", "multimodal_audio_near_dup"),
    ],
)
def test_cluster_summary_equals_pair_graph_closure(
    spark, sf_dir, summary_q, pair_q
):
    """(cluster_rep, cluster_size) from the O(clusters) summary == the
    closure computed the expensive way from the registered pair twin."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.multimodal import (
        AUDIO_FP_MIN_CHARS,
        PHASH_WIDE_MIN_CHARS,
        attach_media_columns,
    )
    from notion_timetracking_etl_spark.queries import REGISTRY
    from notion_timetracking_etl_spark.sources.tpch import load_table

    try:
        docs = load_table(spark, sf_dir, "documents")
        if pair_q == "multimodal_near_dup_wide":
            uni = (
                attach_media_columns(
                    docs.filter(
                        F.col("text").isNotNull()
                        & (F.length("text") >= PHASH_WIDE_MIN_CHARS)
                    ),
                    "doc_id",
                    "text",
                )
                .filter(F.col("media_type").isin("image", "video"))
                .select("media_id")
            )
        else:
            uni = (
                attach_media_columns(
                    docs.filter(
                        F.col("text").isNotNull()
                        & (F.length("text") >= AUDIO_FP_MIN_CHARS)
                    ),
                    "doc_id",
                    "text",
                )
                .filter(F.col("media_type") == "audio")
                .select("media_id")
            )
        pairs = REGISTRY[pair_q].spark(spark, sf_dir).select("a", "b")
        expected = _clusters_from_pairs(spark, uni, pairs)
        got = {
            (r.cluster_rep, r.cluster_size)
            for r in REGISTRY[summary_q].spark(spark, sf_dir).collect()
        }
        assert got == expected
        # the summary's whole point: O(clusters) output never exceeds the
        # media universe
        assert len(got) <= uni.count()
    finally:
        release_scoped_caches()


# ---------------------------------------------------------------------------
# lake_zorder_apply: physical rewrite evidence + the two-sided prunability
# improvement contract the diagnostic alone could never realize.
# ---------------------------------------------------------------------------


def test_zorder_apply_physical_layout_and_improvement(spark, sf_dir):
    import glob
    import os

    from notion_timetracking_etl_spark.queries import REGISTRY
    from notion_timetracking_etl_spark.queries.lake import _lake_path

    row = REGISTRY["lake_zorder_apply"].spark(spark, sf_dir).collect()[0]
    # content preserved row-for-row across the physical rewrite
    assert row.content_equal
    assert row.n_files_before == row.n_files_after
    # two-sided improvement: the linear layout leaves the user dimension
    # unprunable (extents span the full stripe range -> 0 skips); Z-order
    # lifts the WEAK dimension strictly and the total strictly, without
    # collapsing the strong one. Strictness needs a multi-file lake — at
    # sf0.001 everything fits ONE file (1000 rows < ZORDER_FILE_ROWS) and
    # both layouts are identical — so the improvement contract pins at
    # sf0.01 (10 files before/after, measured 0 -> 140 on the weak dim).
    row01 = (
        REGISTRY["lake_zorder_apply"]
        .spark(spark, "/root/testdata/sf0.01")
        .collect()[0]
    )
    assert row01.content_equal
    weak_b = min(row01.x_prunable_before, row01.y_prunable_before)
    weak_a = min(row01.x_prunable_after, row01.y_prunable_after)
    assert weak_a > weak_b
    assert (row01.x_prunable_after + row01.y_prunable_after) > (
        row01.x_prunable_before + row01.y_prunable_before
    )
    # the lakes are physically laid out: one parquet file per file_id dir
    for leaf in ("events_linear_files", "events_zordered_files"):
        root = _lake_path(sf_dir, leaf)
        files = [
            p
            for p in glob.glob(
                os.path.join(root, "**", "*.parquet"), recursive=True
            )
            if os.path.isfile(p)
        ]
        assert len(files) == row.n_files_before, leaf


# ---------------------------------------------------------------------------
# Streaming forget sweeps: ANY wave split must converge to the one-shot
# batch sweep — pinned under a forced one-user-per-micro-batch split, the
# adversarial extreme of the registered query's 3-wave staging.
# ---------------------------------------------------------------------------


def test_streaming_forget_sketch_lake_any_split_converges(spark, sf_dir):
    import tempfile

    from notion_timetracking_etl_spark.queries.forget import (
        STREAM_DELETED_USER_PRED,
        sketch_forget_step_factory,
    )
    from notion_timetracking_etl_spark.queries.lake import (
        SKETCH_KINDS,
        sketch_lake,
    )
    from notion_timetracking_etl_spark.sources.tpch import load_table
    from notion_timetracking_etl_spark.streaming.forgetgate import (
        tombstone_drain,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    users = sorted(
        r.user_id
        for r in ev.select("user_id")
        .distinct()
        .filter(F.expr(STREAM_DELETED_USER_PRED))
        .collect()
    )
    assert users  # fixture must delete someone
    # stage ONE user per wave file (the worst-case split)
    waves_dir = tempfile.mkdtemp(prefix="sg_split_") + "/waves"
    for u in users:
        spark.createDataFrame([(u,)], "user_id long").coalesce(1).write.mode(
            "append"
        ).parquet(waves_dir)

    before = sketch_lake(spark, sf_dir, "kmv")
    state: dict = {"lake": None, "dead": None}
    step = sketch_forget_step_factory(spark, sf_dir, ev, before, state)
    n_batches = tombstone_drain(
        spark, waves_dir, tempfile.mkdtemp(prefix="sg_split_ckpt_"), step
    )
    assert n_batches == len(users)

    kmv = SKETCH_KINDS["kmv"]
    stitched = kmv.summarize(kmv.merge(state["lake"]))
    scratch = kmv.summarize(
        kmv.merge(kmv.fields(ev.filter(~F.expr(STREAM_DELETED_USER_PRED))))
    )
    got = {
        (r.g, r.kth_min, r.n_in_sketch) for r in stitched.collect()
    }
    exp = {
        (r.g, r.kth_min, r.n_in_sketch) for r in scratch.collect()
    }
    assert got == exp


def test_streaming_forget_queries_registered_green(spark, sf_dir):
    """The registered 3-wave queries run end-to-end and report the
    convergence flags green at the fixture scale."""
    from notion_timetracking_etl_spark.queries import REGISTRY

    rows = (
        REGISTRY["streaming_forget_sketch_lake"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows and all(r.stitched_equals_scratch for r in rows)
    row = (
        REGISTRY["streaming_forget_multimodal"]
        .spark(spark, sf_dir)
        .collect()[0]
    )
    assert row.swept_equals_rebuilt
    assert row.n_sig_rows_after == row.n_sig_rows_before - row.n_tombstones_visual


def test_zorder_incremental_touches_only_arrival_cells(spark, sf_dir):
    """The incremental rewrite's physical output contains EXACTLY the
    arrival-touched cell directories, and the stitched read equals the
    full corpus+arrivals content (flag asserted via the registered query);
    untouched cells are never rewritten."""
    import glob
    import os

    from notion_timetracking_etl_spark.queries import REGISTRY
    from notion_timetracking_etl_spark.queries.lake import _lake_path

    row = (
        REGISTRY["lake_zorder_apply_incremental"]
        .spark(spark, sf_dir)
        .collect()[0]
    )
    assert row.content_equal
    # the newest-day batch pins zy, confining its Morton codes to a
    # FRACTION of the stable cells (8 of 120 at sf0.1) — the O(touched)
    # rewrite bound that makes incremental clustering worth having
    assert 0 < row.n_cells_touched < row.n_cells_corpus
    incr_root = _lake_path(sf_dir, "events_zcells_incr")
    cell_dirs = [
        d
        for d in glob.glob(os.path.join(incr_root, "cell_id=*"))
        if os.path.isdir(d)
    ]
    assert len(cell_dirs) == row.n_cells_touched


def test_zorder_incremental_rewrite_scan_is_partition_pruned(spark, sf_dir):
    """The rewrite's corpus-lake read must reach the parquet scan with a
    cell_id PartitionFilter (static IN over the bounded collected
    touched-id list) — a broadcast join formulation silently scans every
    cell directory because DPP never fires when the filter side derives
    from the same query (r12 post-review plan check)."""
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.layout import (
        zorder_cell_lakes,
    )

    stored, rewritten, arrivals = zorder_cell_lakes(spark, sf_dir)
    ids = [r.cell_id for r in arrivals.select("cell_id").distinct().collect()]
    if not ids:
        return  # degenerate fixture: nothing arrives, nothing to pin
    pruned = stored.filter(F.col("cell_id").isin(ids))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell_id" in plan and " IN (" in plan, plan
