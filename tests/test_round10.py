"""Round-10 additions: size-adaptive pigeonhole Hamming blocking (r9 verdict
task #1 — the last corpus-size-blind blocking parameter), plus its
level-invariance and dense-corpus candidate-budget pins.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from notion_timetracking_etl_spark.operators.dedup import (
    PIGEONHOLE_MAX_LEVEL,
    PIGEONHOLE_TARGET,
    _pigeonhole_widths,
    pigeonhole_buckets,
    pigeonhole_level,
    simhash_hamming_pairs,
)
from notion_timetracking_etl_spark.operators.multimodal import (
    phash_near_dup_pairs,
)


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _planted_sig_df(spark, n_base: int = 300, n_dups: int = 60, seed: int = 42):
    """(media_id, phash, px) with uniform base hashes plus ``n_dups`` planted
    near-dups (<= 8 flipped bits of a base) — every planted pair is within
    the Hamming radius; chance pairs among uniform 64-bit hashes are
    negligible (P[hamming<=8] ~ 2.4e-10)."""
    rnd = random.Random(seed)
    base = [rnd.getrandbits(64) for _ in range(n_base)]
    rows = [(i, _signed64(b), [0] * 72) for i, b in enumerate(base)]
    for j in range(n_dups):
        v = base[j]
        for f in rnd.sample(range(64), rnd.randint(0, 8)):
            v ^= 1 << f
        rows.append((10_000 + j, _signed64(v), [0] * 72))
    return spark.createDataFrame(
        rows, "media_id long, phash long, px array<long>"
    )


class TestPigeonholeLevel:
    def test_ladder_monotonic_and_capped(self):
        for n_bits, h in ((64, 8), (32, 2)):
            ns = [0, 1, 10**3, 10**4, 10**5, 10**6, 10**7, 10**9, 10**12]
            lv = [pigeonhole_level(n, n_bits, h) for n in ns]
            assert lv == sorted(lv), (n_bits, h, lv)
            assert lv[0] == 1
            assert lv[-1] == PIGEONHOLE_MAX_LEVEL

    def test_budget_holds_at_chosen_level(self):
        """For every chosen level below the cap, the uniform-model expected
        chance candidates per signature stay within PIGEONHOLE_TARGET."""
        from math import comb

        for n_bits, h in ((64, 8), (32, 2)):
            for n in (10**3, 2 * 10**4, 10**5, 4 * 10**5, 2 * 10**6):
                c = pigeonhole_level(n, n_bits, h)
                if c == PIGEONHOLE_MAX_LEVEL:
                    continue
                m = h + c
                widths, _ = _pigeonhole_widths(n_bits, m)
                w_min = sum(sorted(widths)[:c])
                assert n * comb(m, c) <= PIGEONHOLE_TARGET * (1 << w_min)

    def test_known_steps_64_8(self):
        # documented ladder for the visual/audio family (64-bit, radius 8):
        # level 2 from ~58k signatures (just past the MEASURED local[32]
        # crossover where level-1 candidate volume starts losing to level
        # 2's 5x bucket rows), 3 from ~373k, 4 (cap) from ~1.6M
        assert pigeonhole_level(50_000, 64, 8) == 1
        assert pigeonhole_level(60_000, 64, 8) == 2
        assert pigeonhole_level(400_000, 64, 8) == 3
        assert pigeonhole_level(2_000_000, 64, 8) == 4


class TestPigeonholeLevelInvariance:
    def test_phash_pairs_level_invariant(self, spark):
        """Completeness at every level: the verified pair set is identical
        at levels 1/2/3 and under auto selection — the property that lets
        the all-pairs SQL oracles skip any blocking replay."""
        df = _planted_sig_df(spark)
        sets = {}
        for lvl in (1, 2, 3, None):
            pairs = phash_near_dup_pairs(
                df, max_hamming=8, px_l1_max=10, level=lvl
            )
            sets[lvl] = {
                tuple(r) for r in pairs.select("a", "b", "hamming").collect()
            }
        assert sets[1] == sets[2] == sets[3] == sets[None]
        assert len(sets[1]) >= 50  # the planted dups actually surfaced

    def test_phash_auto_level_end_to_end(self, spark):
        """The ladder's deepest level, forced through the public API (the
        level a far larger corpus would pick), still matches level 1."""
        df = _planted_sig_df(spark, n_base=120, n_dups=30, seed=9)
        base = phash_near_dup_pairs(df, max_hamming=8, px_l1_max=10, level=1)
        forced = phash_near_dup_pairs(
            df, max_hamming=8, px_l1_max=10, level=PIGEONHOLE_MAX_LEVEL
        )
        assert {tuple(r) for r in base.collect()} == {
            tuple(r) for r in forced.collect()
        }

    def test_simhash_pairs_level_invariant(self, spark, sf_dir):
        """The SimHash family rides the same machinery: real-corpus pair
        sets are identical at levels 1/2/3 (32-bit signatures, radius 2)."""
        from notion_timetracking_etl_spark.sources.tpch import load_table

        docs = load_table(spark, sf_dir, "documents")
        sets = {}
        for lvl in (1, 2, 3):
            pairs = simhash_hamming_pairs(
                docs, "doc_id", "text", n_bits=32, max_hamming=2, level=lvl
            )
            sets[lvl] = {tuple(r) for r in pairs.collect()}
        assert sets[1] == sets[2] == sets[3]
        assert len(sets[1]) > 0


class TestPigeonholeDenseCorpusBudget:
    # The r9 verdict's "done" fixture: a corpus dense enough that the old
    # fixed-width blocking (level 1: 9 blocks of ~7 bits) blows past a
    # pinned candidate budget while the adaptive level does not. 60k
    # uniform 64-bit hashes (past the measured ~58k level-2 step) have
    # ZERO true near-dups, so every candidate below is pure chance
    # collision — exactly the volume the adaptive level exists to bound.
    # Uniform model: level 1 ~126M raw candidates, level 2 (what
    # pigeonhole_level picks for n=60k) ~11M.
    N = 60_000
    BUDGET = 50_000_000

    @pytest.fixture(scope="class")
    def dense_sig(self, spark):
        rnd = random.Random(7)
        df = spark.createDataFrame(
            [(i, _signed64(rnd.getrandbits(64))) for i in range(self.N)],
            "media_id long, phash long",
        ).persist()
        df.count()
        yield df
        df.unpersist()

    def _raw_candidates(self, sig, level: int) -> int:
        b = pigeonhole_buckets(sig, ["phash"], 64, 8, level)
        left = b.select(F.col("media_id").alias("a"), "bi", "bv")
        right = b.select(F.col("media_id").alias("b"), "bi", "bv")
        return (
            left.join(right, ["bi", "bv"]).filter(F.col("a") < F.col("b")).count()
        )

    def test_fixed_width_explodes_adaptive_does_not(self, spark, dense_sig):
        auto = pigeonhole_level(self.N, 64, 8)
        assert auto >= 2  # the corpus is past the first ladder step
        fixed = self._raw_candidates(dense_sig, 1)
        adaptive = self._raw_candidates(dense_sig, auto)
        assert fixed > self.BUDGET  # the old scheme blows the budget...
        assert adaptive < self.BUDGET // 2  # ...the adaptive one holds it
        assert adaptive * 5 < fixed  # and the reduction is material

    def test_dense_corpus_pair_set_still_equal(self, spark, dense_sig):
        """Even on the adversarial corpus the two levels verify to the SAME
        (empty) pair set — candidates differ, results never do."""
        sig = dense_sig.withColumn("px", F.expr("array_repeat(0L, 72)"))
        p1 = phash_near_dup_pairs(sig, max_hamming=8, px_l1_max=10, level=1)
        p2 = phash_near_dup_pairs(sig, max_hamming=8, px_l1_max=10, level=None)
        assert p1.count() == p2.count() == 0


class TestSketchLakeCompaction:
    def test_two_level_recompaction_equals_daily_direct(self, spark, sf_dir):
        """daily -> weekly -> MONTHLY re-compaction merges to the identical
        sketch as merging the daily partials directly: the monoid property
        holds under REPEATED re-merge at ever-coarser grains, which is what
        lets a production lake compact generation after generation without
        an audit rescan of the raw corpus."""
        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS

        kmv = SKETCH_KINDS["kmv"]
        daily = kmv.partial(kmv.dated(spark, sf_dir)).persist()
        daily.count()
        try:
            weekly = kmv.compact(daily, pivot="2024-12-31")
            monthly = kmv.compact(
                weekly.select(
                    F.col("grain_date").alias("event_date"), "g", "h"
                ).withColumn(
                    "event_date",
                    F.date_trunc("month", F.col("event_date")).cast("date"),
                ),
                pivot="2024-12-31",
            )
            gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
            m2 = kmv.summarize(kmv.merge(monthly)).select(
                gk, "kth_min", "n_in_sketch"
            )
            m0 = kmv.summarize(kmv.merge(daily)).select(
                gk,
                F.col("kth_min").alias("k0"),
                F.col("n_in_sketch").alias("n0"),
            )
            joined = m2.join(m0, "gk", "full").collect()
            assert joined, "no groups"
            for r in joined:
                assert r.kth_min == r.k0 and r.n_in_sketch == r.n0, r
        finally:
            daily.unpersist()

    def test_retirement_only_drops_aligned_range(self, spark, sf_dir):
        """Retired grain partitions are exactly the week-aligned range
        before the cutoff — nothing newer ever retires, and at least one
        grain DOES retire on this corpus (the flag is not vacuous)."""
        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.lake import (
            LAKE_RETAIN_CUTOFF,
            sketch_lake,
        )

        lake = sketch_lake(spark, sf_dir, "kmv", compacted=True)
        retired = lake.filter(
            F.col("grain_date") < F.lit(LAKE_RETAIN_CUTOFF).cast("date")
        )
        assert retired.count() > 0
        # every retired grain is a Monday week-start strictly before cutoff
        for r in retired.select("grain_date").distinct().collect():
            assert r.grain_date.isoweekday() == 1
            assert str(r.grain_date) < LAKE_RETAIN_CUTOFF


class TestAnnIndexRefresh:
    """Drift -> action (r9 verdict task #4): a drifted fixture where the
    STALE index measurably loses recall and the incremental refresh
    (hot cells only) recovers it."""

    DIMS = 64

    @staticmethod
    def _vec(*components):
        v = [0.0] * TestAnnIndexRefresh.DIMS
        for idx, val in components:
            v[idx] = val
        return v

    @pytest.fixture(scope="class")
    def drifted_emb(self, spark):
        """Old corpus: a big far blob (cell 0) plus three seed cells around
        mu = 4*e10. Arrivals: a tight blob at mu fragmented across the
        three seed cells by small jitters — 8 route to cell 1, one each to
        cells 2/3 — while the two singleton arrivals (B, C) are the
        angularly CLOSEST neighbors of every other arrival (their jitter
        keeps a large shared e1 component), so every stale query's truth
        contains a vector in a cell its 2 probes never reach."""
        V = self._vec
        mu = (10, 4.0)
        rows = []
        # init seeds = the 4 smallest old ids -> with iters=1 these ARE the
        # stale centroids (k-means init is deterministic min-id)
        rows.append((0, V((0, 20.0))))                      # far-blob seed
        rows.append((1, V(mu, (1, 3.0))))                   # seed cell 1
        rows.append((2, V(mu, (2, 3.0))))                   # seed cell 2
        rows.append((3, V(mu, (3, 3.0))))                   # seed cell 3
        for i in range(60):                                  # the far blob
            rows.append((100 + i, V((0, 20.0))))
        # arrivals (ids >= 1000): mu + 0.5 * jitter
        for i in range(8):                                   # A-group
            rows.append(
                (1000 + i, V(mu, (1, 0.3), (20 + i, 0.4)))
            )
        rows.append((1008, V(mu, (1, 0.35), (2, 0.357))))    # B -> cell 2
        rows.append((1009, V(mu, (1, 0.35), (3, 0.357))))    # C -> cell 3
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_stale_loses_fresh_recovers(self, spark, drifted_emb):
        from notion_timetracking_etl_spark.queries.kmeans import (
            ann_refresh_frames,
        )

        row = ann_refresh_frames(
            drifted_emb,
            k=4,
            iters=1,
            n_probe=2,
            topk=5,
            arrival_pred="vec_id >= 1000",
            query_pred="vec_id >= 1000",
        ).collect()[0]
        assert row.n_queries == 10
        assert row.n_hot_cells == 3          # all three fragmented cells
        assert row.n_refit_vectors == 13     # 10 arrivals + 3 seeds
        # the stale index misses the cross-cell neighbor for EVERY query
        assert row.hits_stale == 40
        # the refresh consolidates the arrival blob into one re-centered
        # cell; every query then finds its full truth set
        assert row.hits_fresh == 50
        assert row.recall_stale_micro == 800000
        assert row.recall_fresh_micro == 1000000
        assert bool(row.recovered) is True

    def test_no_drift_is_a_no_op(self, spark, sf_dir):
        """On the undrifted driver corpus no cell runs hot, the refresh
        refits nothing, and stale == fresh exactly — the maintenance never
        perturbs a healthy index."""
        from notion_timetracking_etl_spark.queries.kmeans import (
            ann_refresh_frames,
        )
        from notion_timetracking_etl_spark.queries.similarity import (
            load_embeddings,
        )

        row = ann_refresh_frames(load_embeddings(spark, sf_dir)).collect()[0]
        assert row.n_hot_cells == 0
        assert row.n_refit_vectors == 0
        assert row.hits_fresh == row.hits_stale
        assert bool(row.recovered) is True


class TestDeletionPropagation:
    def test_docs_sweep_invariants(self, spark, sf_dir):
        from notion_timetracking_etl_spark.queries import REGISTRY

        row = REGISTRY["deletion_propagation_docs"].spark(
            spark, sf_dir
        ).collect()[0]
        assert row.n_tombstones > 0
        # the propagation proofs: no surviving doc references a dead
        # cluster rep, no tombstone holds a shard slot
        assert row.n_orphan_refs_after == 0
        assert row.n_tombstones_in_shards_after == 0
        # the sweep actually had to re-canonicalize something on this
        # corpus (dead docs were cluster reps) and re-route shards
        assert row.n_reps_deleted > 0
        assert row.n_clusters_after <= row.n_clusters_before

    def test_sketch_lake_sweep_partition_bound(self, spark, sf_dir):
        from notion_timetracking_etl_spark.queries import REGISTRY

        rows = REGISTRY["deletion_propagation_sketch_lake"].spark(
            spark, sf_dir
        ).collect()
        assert rows
        for r in rows:
            # rebuilt-partition bound: the user's dates only, never all
            assert r.n_partials_touched < r.n_partials_total
            # stitched (reused + rebuilt) == from-scratch post-delete sketch
            assert bool(r.stitched_equals_scratch) is True


def _p5(w, h, px, maxval=255, comment=None):
    """Binary Netpbm P5 payload from row-major gray values."""
    hdr = f"P5 {'#' + comment + chr(10) if comment else ''}{w} {h} {maxval}\n"
    if maxval > 255:
        body = b"".join(v.to_bytes(2, "big") for v in px)
    else:
        body = bytes(px)
    return hdr.encode("ascii") + body


def _p6(w, h, px, maxval=255):
    """Binary Netpbm P6 payload with r = g = b = the gray value."""
    body = bytes(b for v in px for b in (v, v, v))
    return f"P6 {w} {h} {maxval}\n".encode("ascii") + body


class TestNetpbmPerceptualParity:
    """r9 verdict task #6: the perceptual-hash machinery is codec-
    independent — real decoded Netpbm pixels ride the same raster_fn seam
    as the stub, and the pair set / dHash survive lossless re-encodes."""

    W, H = 12, 10  # 120 px >= the 72-cell grid, ASCII-safe values

    def _images(self, n, seed=11):
        rnd = random.Random(seed)
        return [
            [rnd.randint(32, 126) for _ in range(self.W * self.H)]
            for _ in range(n)
        ]

    def _media_df(self, spark, payloads):
        rows = [
            (i, "image", bytearray(p), len(p)) for i, p in enumerate(payloads)
        ]
        return spark.createDataFrame(
            rows,
            "media_id long, media_type string, payload binary,"
            " byte_length long",
        )

    def test_stub_and_ppm_agree_on_identical_images(self, spark):
        from notion_timetracking_etl_spark.operators.multimodal import (
            phash_media,
            phash_near_dup_pairs,
            ppm_raster,
        )

        imgs = self._images(40)
        payloads = [_p5(self.W, self.H, px) for px in imgs]
        # plant byte-identical duplicates of the first 10 images
        payloads += payloads[:10]
        df = self._media_df(spark, payloads)
        expected = {(i, 40 + i) for i in range(10)}
        for raster_fn in (None, ppm_raster):  # None = stub
            sig = (
                phash_media(df) if raster_fn is None
                else phash_media(df, raster_fn=raster_fn)
            )
            pairs = phash_near_dup_pairs(sig, max_hamming=8, px_l1_max=0)
            got = {(r.a, r.b) for r in pairs.collect()}
            # identical bytes -> identical raster -> hamming 0, px_l1 0 in
            # BOTH paths; random distinct images produce no chance pair
            assert got == expected, raster_fn

    def test_dhash_invariant_under_reencode(self, spark):
        from notion_timetracking_etl_spark.operators.multimodal import (
            phash_media,
            ppm_raster,
        )

        px = self._images(1, seed=5)[0]
        encodings = [
            _p5(self.W, self.H, px),                          # canonical
            _p5(self.W, self.H, px, comment="re-encoded"),     # header noise
            _p6(self.W, self.H, px),                           # RGB, r=g=b
            _p5(self.W, self.H, [v * 2 for v in px], maxval=510),  # 16-bit
        ]
        df = self._media_df(spark, encodings)
        sig = phash_media(df, raster_fn=ppm_raster).collect()
        assert len(sig) == 4
        hashes = {r.phash for r in sig}
        grids = {tuple(r.px) for r in sig}
        # every lossless re-encode yields the IDENTICAL grid and dHash
        assert len(hashes) == 1 and len(grids) == 1

    def test_ppm_raster_integer_exactness(self):
        from notion_timetracking_etl_spark.operators.multimodal import (
            PHASH_SCALE,
            ppm_raster,
        )

        px = [100] * (self.W * self.H)
        grid = ppm_raster(_p5(self.W, self.H, px), "image")
        assert len(grid) == 72
        assert all(v == 100 * PHASH_SCALE // 255 for v in grid)


class TestMixtureDriftAdjustment:
    def test_drifted_corpus_retargets(self, spark, tmp_path):
        """A corpus whose arrivals over-represent zh (and starve en) must
        upweight zh 5/4, downweight the starved languages 4/5, and move
        the integer targets — with the oracle in hash agreement on the
        same drifted lake."""
        import duckdb

        from notion_timetracking_etl_spark.queries import REGISTRY
        from tests.parity import compare_query, duck_connection
        from tests.test_round9 import _clone_lake

        con = duckdb.connect()
        rows = []
        for i in range(200):
            if i % 10 == 9:
                lang = "zh"          # every arrival is zh -> drift hot
            elif i % 10 < 8:
                lang = "en"          # corpus bulk; zero arrivals -> cold
            else:
                lang = ["de", "es", "fr"][i % 3]
            rows.append((i, " ".join(["w"] * 50), lang))
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?, ?)", rows)
        doc_path = str(tmp_path / "documents_src.parquet")
        con.execute(
            "COPY (SELECT doc_id, text, lang, 'web' AS source,"
            " CAST(length(text) AS BIGINT) AS n_chars FROM d)"
            f" TO '{doc_path}' (FORMAT PARQUET)"
        )
        lake = _clone_lake(tmp_path, {"documents": doc_path})

        got = {
            r.lang: r
            for r in REGISTRY["mixture_plan_drift_adjustment"]
            .spark(spark, lake)
            .collect()
        }
        assert got["zh"].drift_hot and not got["zh"].drift_cold
        assert got["zh"].adjusted_weight_micro == 150000 * 5 // 4
        assert got["en"].drift_cold
        assert got["en"].adjusted_weight_micro == 400000 * 4 // 5
        assert bool(got["zh"].retargeted) or bool(got["en"].retargeted)
        # integer plan arithmetic: target = weight * budget div 1e6 where
        # budget = min(avail * 1e6 div weight) over mixed languages
        w = {k: v.adjusted_weight_micro for k, v in got.items()}
        avail = {k: v.available_tokens for k, v in got.items()}
        b1 = min(avail[k] * 1000000 // w[k] for k in w if w[k] > 0)
        for k, v in got.items():
            expect = (w[k] * b1) // 1000000 if w[k] else 0
            assert v.target_tokens_adjusted == expect, (k, v)

        dcon = duck_connection(lake)
        r = compare_query(
            spark, dcon, REGISTRY["mixture_plan_drift_adjustment"], lake
        )
        dcon.close()
        assert r.ok, r.detail


class TestAdaptiveShardCount:
    def test_floor_at_test_scale_grows_with_bytes(self, spark, sf_dir):
        """The shard count stays at the N_SHARDS floor for every
        driver-tested corpus and grows once corpus bytes cross the target
        (a fixed count would mean terabyte shards at 100 TB)."""
        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.layout import (
            N_SHARDS,
            SHARD_TARGET_BYTES,
            corpus_n_shards,
        )
        from notion_timetracking_etl_spark.sources.tpch import load_table

        docs = load_table(spark, sf_dir, "documents")
        assert corpus_n_shards(docs) == N_SHARDS  # sf0.001 sits at the floor
        big = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.lit(SHARD_TARGET_BYTES).cast("bigint").alias("n_chars"),
        )
        assert corpus_n_shards(big) == 100  # 100 target-sized docs -> 100
        empty = big.limit(0)
        assert corpus_n_shards(empty) == N_SHARDS  # empty corpus -> floor

    def test_adaptive_manifest_oracle_parity(self, spark, tmp_path):
        """On a lake whose byte volume pushes the count past the floor,
        Spark and the oracle agree on the grown shard map end-to-end."""
        import duckdb

        from notion_timetracking_etl_spark.queries import REGISTRY
        from tests.parity import compare_query, duck_connection
        from tests.test_round9 import _clone_lake

        con = duckdb.connect()
        # 400 docs x 32 KiB claimed bytes = ~48 shards
        con.execute(
            "COPY (SELECT range AS doc_id, 'txt' AS text, 'en' AS lang,"
            " 'web' AS source, CAST(32768 AS BIGINT) AS n_chars"
            " FROM range(400)) TO '{}' (FORMAT PARQUET)".format(
                tmp_path / "documents_src.parquet"
            )
        )
        lake = _clone_lake(tmp_path, {
            "documents": str(tmp_path / "documents_src.parquet")
        })
        out = REGISTRY["corpus_shard_manifest"].spark(spark, lake)
        n = out.count()
        assert n == max(16, 400 * 32768 // 262144)  # 50 shards
        dcon = duck_connection(lake)
        r = compare_query(
            spark, dcon, REGISTRY["corpus_shard_manifest"], lake
        )
        dcon.close()
        assert r.ok, r.detail


class TestHllCompaction:
    def test_two_level_recompaction_equals_daily_direct_hll(self, spark, sf_dir):
        """daily -> weekly -> monthly re-compaction under register-MAX
        merges to the identical registers as the daily partials directly —
        the compaction seam is monoid-agnostic."""
        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS

        hll = SKETCH_KINDS["hll"]
        daily = hll.partial(hll.dated(spark, sf_dir)).persist()
        daily.count()
        try:
            weekly = hll.compact(daily, pivot="2024-12-31")
            monthly = hll.compact(
                weekly.select(
                    F.col("grain_date").alias("event_date"), "g", "idx", "rank"
                ).withColumn(
                    "event_date",
                    F.date_trunc("month", F.col("event_date")).cast("date"),
                ),
                pivot="2024-12-31",
            )
            gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
            m2 = hll.merge(monthly).select(gk, "idx", "rank")
            m0 = hll.merge(daily).select(
                gk, "idx", F.col("rank").alias("r0")
            )
            joined = m2.join(m0, ["gk", "idx"], "full").collect()
            assert joined
            for r in joined:
                assert r.rank == r.r0, r
        finally:
            daily.unpersist()

    def test_hll_compaction_flags_true(self, spark, sf_dir):
        from notion_timetracking_etl_spark.queries import REGISTRY

        rows = REGISTRY["hll_sketch_lake_compaction"].spark(
            spark, sf_dir
        ).collect()
        assert rows
        for r in rows:
            assert bool(r.compacted_equals_daily) is True
            assert r.retained_equals_daily_retained is not False
            assert r.n_compacted_partials < r.n_daily_partials
            assert r.n_retired_partials >= 1


class TestRound10PlanContracts:
    def test_tombstone_anti_joins_broadcast(self, spark, sf_dir):
        """The deletion sweep's tombstone set is O(deletions) — the pair
        filter's anti-joins must broadcast the tombstones, never shuffle
        the corpus-sized pair side. (The full-query plan hides these inside
        the eagerly-checkpointed CC iterations, so the pin targets the
        pair-filter sub-plan the sweep builds.)"""
        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.dedup import (
            near_dup_pairs_cached,
        )
        from notion_timetracking_etl_spark.queries.forget import (
            DELETED_DOC_PRED,
        )
        from notion_timetracking_etl_spark.sources.tpch import load_table

        docs = load_table(spark, sf_dir, "documents")
        dead = docs.filter(F.expr(DELETED_DOC_PRED)).select("doc_id")
        pairs = near_dup_pairs_cached(spark, sf_dir)
        pairs_alive = pairs.join(
            F.broadcast(dead.select(F.col("doc_id").alias("a"))),
            "a",
            "left_anti",
        ).join(
            F.broadcast(dead.select(F.col("doc_id").alias("b"))),
            "b",
            "left_anti",
        )
        plan = pairs_alive._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2
        assert "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_compacted_lake_read_prunes_grain_partitions(self, spark, sf_dir):
        """The retained-range read of the compacted sketch lake must reach
        the scan as a PartitionFilter on grain_date — retirement and
        retention queries touch only their grain directories."""
        import re

        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.lake import (
            LAKE_RETAIN_CUTOFF,
            sketch_lake,
        )

        lake = sketch_lake(spark, sf_dir, "kmv", compacted=True).filter(
            F.col("grain_date") >= F.lit(LAKE_RETAIN_CUTOFF).cast("date")
        )
        plan = lake._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[.*grain_date", plan), plan


class TestQuantileCompaction:
    def test_two_level_recompaction_equals_daily_direct_qs(self, spark, sf_dir):
        """daily -> weekly -> monthly re-compaction under the value-carrying
        bottom-k sample merges to the identical sample set as the daily
        partials directly — the third monoid through the same lifecycle."""
        import pyspark.sql.functions as F

        from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS

        qs = SKETCH_KINDS["qs"]
        daily = qs.partial(qs.dated(spark, sf_dir)).persist()
        daily.count()
        try:
            weekly = qs.compact(daily, pivot="2024-12-31")
            monthly = qs.compact(
                weekly.select(
                    F.col("grain_date").alias("event_date"), "g", "value", "h"
                ).withColumn(
                    "event_date",
                    F.date_trunc("month", F.col("event_date")).cast("date"),
                ),
                pivot="2024-12-31",
            )
            m2 = {(r.g, r.h, r.value) for r in qs.merge(monthly).collect()}
            m0 = {(r.g, r.h, r.value) for r in qs.merge(daily).collect()}
            assert m2 == m0 and m0
        finally:
            daily.unpersist()

    def test_qs_compaction_flags_true(self, spark, sf_dir):
        from notion_timetracking_etl_spark.queries import REGISTRY

        rows = REGISTRY["quantile_sketch_lake_compaction"].spark(
            spark, sf_dir
        ).collect()
        assert rows
        for r in rows:
            assert bool(r.compacted_equals_daily) is True
            assert r.retained_equals_daily_retained is not False
            assert r.n_compacted_partials < r.n_daily_partials
