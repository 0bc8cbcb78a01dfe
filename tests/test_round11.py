"""Round-11 additions: compaction APPLY physical evidence, cluster-summary
equivalence pins, RTBF frozen-model surfaces, wide-signature pigeonhole."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# lake_compaction_apply: the physical file-count drop the oracle can't see
# ---------------------------------------------------------------------------


def _parquet_files(root: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]


def test_compaction_apply_physical_file_drop(spark, sf_dir):
    from notion_timetracking_etl_spark.queries.lake import _lake_path
    from notion_timetracking_etl_spark.queries.layout import (
        compacted_docs_lakes,
    )

    before, after = compacted_docs_lakes(spark, sf_dir)
    before_files = _parquet_files(_lake_path(sf_dir, "docs_small_files"))
    after_files = _parquet_files(_lake_path(sf_dir, "docs_compacted"))
    # the whole point of the apply: the compacted read lists FEWER files
    assert len(after_files) < len(before_files)
    # one file per leaf directory on both sides (write_partitioned_lake's
    # repartition contract) — so the distinct-partition counts the query
    # emits ARE the physical file counts
    for files in (before_files, after_files):
        assert len({os.path.dirname(p) for p in files}) == len(files)
    # and the logical reads agree with the physical listing
    n_before = before.select("source", "in_file").distinct().count()
    n_after = after.select("source", "bin_id").distinct().count()
    assert n_before == len(before_files)
    assert n_after == len(after_files)


def test_compaction_apply_content_equal_flags(spark, sf_dir):
    from notion_timetracking_etl_spark.queries.registry import REGISTRY

    rows = REGISTRY["lake_compaction_apply"].spark(spark, sf_dir).collect()
    assert rows, "expected one row per source"
    for r in rows:
        assert r["content_equal"] is True
        assert r["n_files_after"] <= r["n_files_before"]
    # the drop must exist somewhere, not just per-source monotonicity
    assert sum(r["n_files_after"] for r in rows) < sum(
        r["n_files_before"] for r in rows
    )


def test_compaction_apply_detects_lost_rows(spark, tmp_path):
    """The content fingerprint is a real tripwire: recompute the after-side
    fingerprint from a DAMAGED read (one row dropped) and the per-source
    flag for that row's source must flip false."""
    from notion_timetracking_etl_spark.queries.layout import _row_hash_col

    docs = spark.createDataFrame(
        [(i, f"text {i} body", "s0") for i in range(8)],
        "doc_id long, text string, source string",
    )
    full = docs.withColumn("rh", _row_hash_col())
    damaged = full.filter(F.col("doc_id") != 3)
    fp = lambda df: df.groupBy("source").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(rh)").alias("x")
    )
    a = fp(full).collect()[0]
    b = fp(damaged).collect()[0]
    assert (a["n"], a["x"]) != (b["n"], b["x"])


# ---------------------------------------------------------------------------
# Cluster summaries == pair-graph closures (the collapse loses nothing)
# ---------------------------------------------------------------------------


def _cc_from_pairs(spark, pairs, universe, key):
    from notion_timetracking_etl_spark.operators.cluster import (
        connected_components,
    )

    cc = connected_components(pairs, "a", "b")
    return {
        r[key]: r["comp"]
        for r in universe.join(cc, universe[key] == cc.node, "left")
        .select(
            key,
            F.coalesce(F.col("component"), F.col(key)).alias("comp"),
        )
        .collect()
    }


def test_simhash_summary_equals_pair_graph_closure(spark, sf_dir):
    """Cluster partition derived from the PAIR query's doc graph must equal
    the summary's distinct-signature closure — sizes and reps per cluster."""
    from notion_timetracking_etl_spark.queries.registry import REGISTRY
    from notion_timetracking_etl_spark.sources.tpch import load_table

    pairs = (
        REGISTRY["dedup_simhash_hamming"]
        .spark(spark, sf_dir)
        .select("a", "b")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assign = _cc_from_pairs(spark, pairs, docs, "doc_id")
    clusters: dict = {}
    for doc, comp in assign.items():
        clusters.setdefault(comp, []).append(doc)
    expected = sorted(
        (min(members), len(members)) for members in clusters.values()
    )
    got = sorted(
        (r["cluster_rep"], r["cluster_size"])
        for r in REGISTRY["dedup_simhash_cluster_summary"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert got == expected


def test_simhash_summary_mega_dup_fixture(spark):
    """A mega-duplicate pile (many docs, ONE text) plus a near-miss: the
    summary emits O(clusters) rows while the doc-pair space is quadratic."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.dedup import (
        hamming_pairs,
        simhash_from_hashes,
        word_hashes,
    )

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(50)]
    rows += [(100 + i, f"unique text number {i} zeta eta") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = docs.select(
        "doc_id", word_hashes(F.col("text")).alias("_hl")
    ).select("doc_id", simhash_from_hashes(F.col("_hl"), 32).alias("s"))
    ds = sigs.select("s").distinct()
    # the collapse: 50-doc pile -> ONE distinct signature node
    assert ds.count() <= 6
    pairs = hamming_pairs(ds, "s", ["s"], 32, 2, level=1)
    # distinct-sig pair space is tiny where the doc pair space is 50*49/2
    assert pairs.count() <= 15
    release_scoped_caches()


def test_embedding_summary_degenerate_groups(spark):
    """Exact-dup vectors cluster through the group link; zero-norm groups
    (self-cosine NULL) stay singletons; NULL-label vectors stay singletons
    even when byte-identical."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.similarity import (
        cosine,
        norm_sq,
    )
    from notion_timetracking_etl_spark.operators.cluster import (
        connected_components,
    )

    v = [1.0, 0.0, 0.0, 0.0]
    z = [0.0, 0.0, 0.0, 0.0]
    rows = [
        (1, v, 7),  # dup pile: 1, 2 share vector + label
        (2, v, 7),
        (3, z, 7),  # zero-norm pile: self-cos NULL -> singletons
        (4, z, 7),
        (5, v, None),  # NULL label: byte-identical but never paired
        (6, v, None),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    labeled = emb.filter(F.col("label").isNotNull())
    dv = (
        labeled.groupBy("label", "embedding")
        .agg(F.min("vec_id").cast("bigint").alias("node"))
        .select(
            "label",
            "embedding",
            "node",
            F.sqrt(norm_sq(F.col("embedding"))).alias("nrm"),
            F.coalesce(
                cosine(F.col("embedding"), F.col("embedding")) >= 0.3,
                F.lit(False),
            ).alias("sok"),
        )
    )
    flags = {r["node"]: r["sok"] for r in dv.collect()}
    assert flags[1] is True  # positive-norm group links its members
    assert flags[3] is False  # zero-norm group must NOT link

    # end-to-end through the registered builder on a temp lake is covered
    # by the sf-dir parity tests; here pin the assign rule directly
    sok_nodes = {n for n, s in flags.items() if s}
    assert sok_nodes == {1}
    release_scoped_caches()
    _ = connected_components  # imported to assert availability for the path


# ---------------------------------------------------------------------------
# Wide-signature pigeonhole: the level-cap escape (r10 verdict task #2)
# ---------------------------------------------------------------------------


def test_pigeonhole_budget_64bit_saturates_wide_escapes():
    """The fixture the r10 verdict asked for, in budget arithmetic: past the
    64-bit ladder's reach, level 4 at 64 bits provably blows the
    PIGEONHOLE_TARGET budget while the 256-bit signature holds it — at
    level 1 for the same radius, and through level 4 for the wide query's
    radius 24 (covering ~13.7e9 signatures)."""
    from notion_timetracking_etl_spark.operators.dedup import (
        PIGEONHOLE_MAX_LEVEL,
        PIGEONHOLE_TARGET,
        pigeonhole_expected_chance,
        pigeonhole_level,
    )

    n = 20_000_000  # "billions of images" territory's on-ramp
    # 64-bit radius 8: the ladder caps at level 4 AND the budget is blown
    assert pigeonhole_level(n, 64, 8) == PIGEONHOLE_MAX_LEVEL
    assert pigeonhole_expected_chance(n, 64, 8, 4) > PIGEONHOLE_TARGET
    # 256-bit radius 8: level 1 suffices with orders of magnitude to spare
    assert pigeonhole_level(n, 256, 8) == 1
    assert pigeonhole_expected_chance(n, 256, 8, 1) < PIGEONHOLE_TARGET
    # 256-bit radius 24 (the registered wide query): within budget at the
    # adaptive level for 20M, and level 4 covers into the billions
    lvl = pigeonhole_level(n, 256, 24)
    assert lvl < PIGEONHOLE_MAX_LEVEL
    assert pigeonhole_expected_chance(n, 256, 24, lvl) <= PIGEONHOLE_TARGET
    assert (
        pigeonhole_expected_chance(10_000_000_000, 256, 24, 4)
        <= PIGEONHOLE_TARGET
    )


def test_multiword_pigeonhole_level_invariance(spark):
    """Multi-word blocking finds EXACTLY the brute-force pair set at every
    level — including blocks that straddle 64-bit word boundaries."""
    import random

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.dedup import hamming_pairs

    rng = random.Random(11)

    def to_words(bits: int) -> tuple[int, ...]:
        ws = []
        for j in range(4):
            w = (bits >> (64 * j)) & ((1 << 64) - 1)
            ws.append(w - (1 << 64) if w >= 1 << 63 else w)
        return tuple(ws)

    base = rng.getrandbits(256)
    rows = []
    # a family of signatures within small Hamming balls of two centers,
    # plus uniform noise rows
    for i in range(12):
        v = base
        for _ in range(rng.randrange(0, 13)):
            v ^= 1 << rng.randrange(256)
        rows.append((i, *to_words(v)))
    base2 = rng.getrandbits(256)
    for i in range(12, 20):
        v = base2
        for _ in range(rng.randrange(0, 9)):
            v ^= 1 << rng.randrange(256)
        rows.append((i, *to_words(v)))
    for i in range(20, 40):
        rows.append((i, *to_words(rng.getrandbits(256))))
    sig = spark.createDataFrame(
        rows, "id long, w0 long, w1 long, w2 long, w3 long"
    )
    words = {r[0]: [r[1], r[2], r[3], r[4]] for r in rows}

    def ham(a: int, b: int) -> int:
        return sum(
            bin((wa ^ wb) & ((1 << 64) - 1)).count("1")
            for wa, wb in zip(words[a], words[b])
        )

    # radius 8: levels 1-3 (m = 9/10/11 — every level splits blocks across
    # word boundaries); radius 24 (the registered query's): levels 1-3.
    # Level 3 at radius 24 means C(27, 3) = 2925 combinations — executable
    # since the r12 ADVICE fix shipped the combination fan-out as broadcast
    # DATA instead of per-combination generated structs (the old explode
    # failed Janino codegen past ~1000 structs; test_round12 pins level 4).
    for radius, levels in ((8, (1, 2, 3)), (24, (1, 2, 3))):
        brute = sorted(
            (a, b, ham(a, b))
            for a in words
            for b in words
            if a < b and ham(a, b) <= radius
        )
        assert brute, "fixture must contain in-radius pairs"
        for level in levels:
            got = sorted(
                (r["a"], r["b"], r["hamming"])
                for r in hamming_pairs(
                    sig, "id", ["w0", "w1", "w2", "w3"], 256, radius, level=level
                ).collect()
            )
            release_scoped_caches()
            assert got == brute, (radius, level)


def test_wide_phash_words_match_oracle_convention(spark, sf_dir):
    """The four Spark-side hash words equal the oracle's word fold for the
    same documents (signed-64 two's-complement per word) — the seam the
    wide query's hash parity rides on, pinned directly."""
    import duckdb

    from notion_timetracking_etl_spark.operators.multimodal import (
        PHASH_WIDE_MIN_CHARS,
        attach_media_columns,
        phash_media_wide,
    )
    from notion_timetracking_etl_spark.queries.multimodal import (
        _PHASH_WIDE_CTES,
    )
    from notion_timetracking_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") >= PHASH_WIDE_MIN_CHARS)
    )
    sig = phash_media_wide(attach_media_columns(docs, "doc_id", "text"))
    got = {
        r["media_id"]: (r["w0"], r["w1"], r["w2"], r["w3"])
        for r in sig.collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"WITH {_PHASH_WIDE_CTES} SELECT doc_id, w0, w1, w2, w3 FROM wph"
        ).fetchall()
    }
    assert got == want
    assert got, "fixture corpus must contain wide-raster-eligible media"


# ---------------------------------------------------------------------------
# RTBF frozen-model surfaces (r10 verdict task #1)
# ---------------------------------------------------------------------------


def test_ann_model_sweep_emptied_cell_dropped(spark, tmp_path):
    """A cell whose EVERY member is tombstoned must be DROPPED from the
    refreshed persisted model (the Lloyd's carry-old fallback would
    re-persist deleted-data influence), untouched cells must round-trip
    byte-identically, and no tombstone may survive in the index."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.kmeans import kmeans_fit
    from notion_timetracking_etl_spark.operators.model_store import (
        save_kmeans_model,
    )
    from notion_timetracking_etl_spark.queries.forget import (
        ann_model_sweep_frames,
    )

    dims = 4
    # three well-separated piles; ids 0/1/2 are one per pile so the min-id
    # init seeds every pile. The 10.x pile is {2, 100..104} — ALL deleted.
    rows = [(0, [0.0] * dims), (1, [5.0] * dims), (2, [10.0] * dims)]
    for i in range(3, 10):
        rows.append((i, [0.0 + i * 0.01] * dims))
    for i in range(10, 17):
        rows.append((i, [5.0 + (i - 10) * 0.01] * dims))
    for i in range(100, 105):
        rows.append((i, [10.0 + (i - 100) * 0.01] * dims))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _asg, cent = kmeans_fit(emb, "vec_id", "embedding", k=3, iters=3)
    stale = str(tmp_path / "stale")
    fresh = str(tmp_path / "fresh")
    save_kmeans_model(cent, stale)

    row = ann_model_sweep_frames(
        spark, emb, stale, fresh, "vec_id = 2 OR vec_id >= 100"
    ).collect()[0]
    assert row["n_tombstones"] == 6
    assert row["n_cells_total"] == 3
    assert row["n_touched_cells"] == 1
    assert row["n_cells_emptied"] == 1
    assert row["n_refit_vectors"] == 0
    assert row["n_tombstones_in_index_after"] == 0
    assert row["frozen_cells_unchanged"] is True
    # the dropped cell is physically absent from the persisted fresh model
    fresh_cids = {
        r["cid"] for r in spark.read.parquet(fresh).select("cid").collect()
    }
    stale_cids = {
        r["cid"] for r in spark.read.parquet(stale).select("cid").collect()
    }
    assert len(stale_cids) == 3 and len(fresh_cids) == 2
    release_scoped_caches()


def test_ann_model_sweep_refit_bounded_to_touched(spark, tmp_path):
    """Partial refit touches ONLY the tombstoned cells' survivors: refit
    mass equals the touched cells' surviving membership, and untouched
    centroids persist byte-identically."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.kmeans import kmeans_fit
    from notion_timetracking_etl_spark.operators.model_store import (
        save_kmeans_model,
    )
    from notion_timetracking_etl_spark.queries.forget import (
        ann_model_sweep_frames,
    )

    dims = 4
    rows = [(i, [0.0 + i * 0.01] * dims) for i in range(10)]
    rows += [(i, [5.0 + i * 0.001] * dims) for i in range(10, 20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _asg, cent = kmeans_fit(emb, "vec_id", "embedding", k=2, iters=3)
    stale = str(tmp_path / "stale")
    fresh = str(tmp_path / "fresh")
    save_kmeans_model(cent, stale)

    # delete ONE vector out of the first pile only
    row = ann_model_sweep_frames(
        spark, emb, stale, fresh, "vec_id = 3"
    ).collect()[0]
    assert row["n_touched_cells"] == 1
    assert row["n_cells_emptied"] == 0
    assert row["n_refit_vectors"] == 9  # the touched pile's survivors only
    assert row["n_tombstones_in_index_after"] == 0
    assert row["frozen_cells_unchanged"] is True
    release_scoped_caches()


def test_semgate_sweep_bits_threshold_crossing(spark):
    """A delete that crosses the K*SEM_TARGET_CELL power-of-2 threshold
    drops the refinement-bit count, every survivor re-cells by SUBSTRING,
    and the swept state still fingerprint-equals the honest rebuild."""
    import hashlib

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.kmeans import kmeans_fit
    from notion_timetracking_etl_spark.queries.forget import (
        semgate_forget_frames,
    )
    from notion_timetracking_etl_spark.queries.kmeans import (
        K,
        SEM_TARGET_CELL,
    )
    from notion_timetracking_etl_spark.queries.similarity import EMB_DIMS

    n = K * SEM_TARGET_CELL + 6  # 1030: bits=1 before, 0 after the delete

    def vec(i: int) -> list[float]:
        h = hashlib.sha256(f"sg:{i}".encode()).digest()
        return [((h[j % 32] + i * j) % 17) / 8.0 - 1.0 for j in range(EMB_DIMS)]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(8)
    _asg, cent = kmeans_fit(emb, "vec_id", "embedding", k=K, iters=2)
    row = semgate_forget_frames(emb, cent, dead_pred="vec_id % 100 = 7").collect()[0]
    assert row["n_tombstones"] >= 10
    assert row["sem_bits_before"] == 1
    assert row["sem_bits_after"] == 0  # the crossing
    assert row["state_swept_equals_rebuilt"] is True
    assert row["n_flags_to_dead_after"] == 0
    release_scoped_caches()


def test_ann_refresh_sampled_recall_agrees_with_full(spark, sf_dir):
    """The sampled-truth audit (fixed-size hash sample) must agree with
    full-corpus truth on the driver corpus: same recovered verdict, recall
    estimates within a pinned bound (the sample is uniform, so this is a
    plain sampling-error bound, not a semantics change)."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.queries.kmeans import (
        ANN_AUDIT_K,
        ann_refresh_frames,
    )
    from notion_timetracking_etl_spark.queries.similarity import (
        load_embeddings,
    )

    emb = load_embeddings(spark, sf_dir)
    sampled = ann_refresh_frames(emb, audit_k=ANN_AUDIT_K).collect()[0]
    release_scoped_caches()
    full = ann_refresh_frames(emb, audit_k=(1 << 31) - 1).collect()[0]
    release_scoped_caches()
    assert sampled["n_audit_corpus"] <= ANN_AUDIT_K
    assert full["n_audit_corpus"] == emb.count()
    assert sampled["recovered"] == full["recovered"]
    for c in ("recall_stale_micro", "recall_fresh_micro"):
        # recall at topk=5 over 10 queries quantizes to 1/50 steps; allow
        # +-4 steps of sampling error on the fixed driver corpus
        assert abs(sampled[c] - full[c]) <= 80_000, (c, sampled[c], full[c])


def test_ann_model_sweep_detects_lost_untouched_cell(spark, tmp_path):
    """r11 review finding: an untouched cell MISSING from the persisted
    fresh model must flip frozen_cells_unchanged red (NULL comparisons
    coalesce to False — min() alone would skip them)."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.kmeans import kmeans_fit
    from notion_timetracking_etl_spark.operators.model_store import (
        save_kmeans_model,
    )
    from notion_timetracking_etl_spark.queries.forget import (
        ann_model_sweep_frames,
    )

    dims = 4
    rows = [(0, [0.0] * dims), (1, [5.0] * dims), (2, [10.0] * dims)]
    rows += [(i, [0.0 + i * 0.01] * dims) for i in range(3, 8)]
    rows += [(i, [5.0 + i * 0.001] * dims) for i in range(10, 15)]
    rows += [(i, [10.0 + i * 0.001] * dims) for i in range(20, 25)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _asg, cent = kmeans_fit(emb, "vec_id", "embedding", k=3, iters=3)
    stale = str(tmp_path / "stale")
    fresh = str(tmp_path / "fresh")
    save_kmeans_model(cent, stale)
    ok = ann_model_sweep_frames(
        spark, emb, stale, fresh, "vec_id = 3"
    ).collect()[0]
    assert ok["frozen_cells_unchanged"] is True
    release_scoped_caches()

    # corrupt the persisted fresh model: drop one UNTOUCHED cell, re-run
    # the sweep in read-only mode (write_fresh=False) — the flag must flip
    damaged = spark.read.parquet(fresh)
    touched_cid = 0  # vec 3 lives in the 0.x pile seeded by vec 0
    untouched = [
        r["cid"] for r in damaged.select("cid").collect() if r["cid"] != touched_cid
    ]
    damaged.filter(F.col("cid") != untouched[0]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "fresh2"))
    bad = ann_model_sweep_frames(
        spark, emb, stale, str(tmp_path / "fresh2"), "vec_id = 3",
        write_fresh=False,
    ).collect()[0]
    assert bad["frozen_cells_unchanged"] is False
    release_scoped_caches()


def test_multiword_pigeonhole_rejects_wide_blocks(spark):
    """r11 review finding: a level that leaves any block >= 64 bits must
    fail with a diagnosable ValueError at plan time (LongType mask/shift
    arithmetic cannot express it), and the adaptive path floors the level
    so it never constructs one."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.dedup import (
        hamming_pairs,
        pigeonhole_buckets,
    )

    sig = spark.createDataFrame(
        [(1, 1, 2, 3, 4), (2, 1, 2, 3, 5)],
        "id long, w0 long, w1 long, w2 long, w3 long",
    )
    with pytest.raises(ValueError, match="need max_hamming \\+ level"):
        pigeonhole_buckets(sig, ["w0", "w1", "w2", "w3"], 256, 3, 1)
    # the adaptive path floors level to n_words - radius + 1 and succeeds
    pairs = hamming_pairs(
        sig, "id", ["w0", "w1", "w2", "w3"], 256, max_hamming=3
    ).collect()
    assert [(r["a"], r["b"], r["hamming"]) for r in pairs] == [(1, 2, 1)]
    release_scoped_caches()


def test_pq_model_sweep_driver_corpus_invariants(spark, sf_dir):
    """PQ-codebook sweep on the driver corpus: tombstones present, no
    tombstone survives in any subspace's fresh code table, untouched
    codebook entries round-trip byte-identically, nothing dropped (no
    cell empties at 1% deletion), refit bounded below the corpus size."""
    from notion_timetracking_etl_spark.queries.registry import REGISTRY
    from notion_timetracking_etl_spark.queries.pq import M_SUBS, PQ_K

    r = REGISTRY["deletion_propagation_pq_model"].spark(spark, sf_dir).collect()[0]
    assert r["n_tombstones"] > 0
    assert r["n_codebook_entries"] == M_SUBS * PQ_K
    assert 0 < r["n_touched_entries"] <= M_SUBS * PQ_K
    assert r["n_entries_dropped"] == 0
    assert r["n_tombstones_in_codes_after"] == 0
    assert r["frozen_codes_unchanged"] is True
    assert r["n_refit_codes"] < M_SUBS * 500  # touched mass, not a retrain


def test_incremental_compaction_touches_at_most_tail_bin(spark, sf_dir):
    """The incremental apply's efficiency and correctness claims: per
    source at most ONE settled bin is rewritten (the under-filled tail),
    the stitched lake fingerprints equal to the small lakes and matches a
    from-scratch repack per bin, and physically the rewrite wrote far
    fewer bins than the stitched total."""
    from notion_timetracking_etl_spark.queries.registry import REGISTRY

    rows = (
        REGISTRY["lake_compaction_apply_incremental"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    for r in rows:
        assert r["n_touched_base_bins"] <= 1, r
        assert r["content_equal"] is True, r
        assert r["matches_full_repack"] is True, r
        # a source with no arrivals must be entirely untouched
        if r["n_arrival_files"] == 0:
            assert r["n_touched_base_bins"] == 0 and r["n_new_bins"] == 0, r
    assert sum(r["n_arrival_files"] for r in rows) >= 1
    assert sum(r["n_new_bins"] for r in rows) < sum(
        r["n_bins_after"] for r in rows
    )
