"""Round-9 additions: skew-adaptive kNN cells, perceptual-hash near-dup,
session model-cache hygiene, NULL event_type hostile probe.
"""

from __future__ import annotations

import os
import random

import duckdb
import pytest

from notion_timetracking_etl_spark.queries import REGISTRY
from tests.parity import compare_query, duck_connection

SRC_SF = "/root/testdata/sf0.001"
ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _clone_lake(tmp_path, replace: dict[str, str]) -> str:
    """A lake dir with ``replace[t]`` parquet files swapped in and every
    other table symlinked from sf0.001 — single files throughout, so both
    Spark and tests/parity.duck_connection resolve all ten views."""
    d = tmp_path / "lake"
    d.mkdir()
    for t in ALL_TABLES:
        dst = str(d / f"{t}.parquet")
        if t in replace:
            os.replace(replace[t], dst)
        else:
            os.symlink(f"{SRC_SF}/{t}.parquet", dst)
    return str(d)


# ---------------------------------------------------------------------------
# kNN skew-adaptive refinement (r8 verdict task #2)
# ---------------------------------------------------------------------------

N_SKEW = 2000  # > KNN_TARGET_CELL * 2^3, so global bits = 4


def _skewed_embeddings(tmp_path) -> tuple[str, int]:
    """A correlated-embedding lake: every vector agrees on the first 4 SRP
    sign bits (margin-forced, so float fold order cannot flip them), with
    later bits random. Under the pre-r9 GLOBAL bit derivation this corpus
    lands in ONE 4-bit cell of 2000 members — far past KNN_MAX_CELL=1024 —
    and silently truncates; per-cell refinement must re-split it.
    Returns (lake_dir, expected_global_bits)."""
    from notion_timetracking_etl_spark.operators.similarity import srp_planes
    from notion_timetracking_etl_spark.queries.similarity import (
        EMB_DIMS,
        KNN_MAX_BITS,
        KNN_TARGET_CELL,
    )

    planes = srp_planes(KNN_MAX_BITS, dims=EMB_DIMS)
    rng = random.Random(20260815)
    rows = []
    while len(rows) < N_SKEW:
        vec = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIMS)]
        # first 4 sign bits must all read '1' with a wide margin (the Spark
        # plane dot is a strict sequential fold; |dot| >= 0.5 cannot flip
        # under any summation order of float32-rounded components)
        dots = [
            sum(float(v) * p for v, p in zip(vec, pl)) for pl in planes[:4]
        ]
        if all(dt >= 0.5 for dt in dots):
            rows.append(vec)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE emb AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {r}::FLOAT[], 0)" for i, r in enumerate(rows)
        )
        + ") t(vec_id, embedding, label)"
    )
    out = str(tmp_path / "embeddings_skew.parquet")
    con.execute(f"COPY (SELECT vec_id, embedding, label FROM emb) TO '{out}'")
    con.close()
    # expected global bits for n=2000: smallest b with n <= 128 * 2^b
    bits = 0
    while N_SKEW > KNN_TARGET_CELL * (1 << bits):
        bits += 1
    assert bits == 4
    return out, bits


@pytest.fixture(scope="module")
def skew_lake(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("knn_skew")
    emb_file, _bits = _skewed_embeddings(tmp)
    return _clone_lake(tmp, {"embeddings": emb_file})


def test_knn_skewed_corpus_refines_instead_of_truncating(spark, skew_lake):
    from notion_timetracking_etl_spark.queries.similarity import KNN_MAX_CELL

    rows = REGISTRY["knn_graph_stats"].spark(spark, skew_lake).collect()
    # pre-refinement this corpus is ONE coarse cell of N_SKEW members
    # (> KNN_MAX_CELL): the old global-bits scheme truncated 976 vectors.
    assert N_SKEW > KNN_MAX_CELL
    # refined cells re-split the skew: nothing truncates, every cell is
    # a real sub-partition of the single coarse cell
    assert len(rows) > 1
    assert sum(r.n_truncated for r in rows) == 0
    assert all(r.n_nodes <= KNN_MAX_CELL for r in rows)
    assert sum(r.n_nodes for r in rows) == N_SKEW
    # all refined cells extend the same 4-bit coarse prefix
    assert {r.cell[:4] for r in rows} == {"1111"}
    assert all(len(r.cell) == 8 for r in rows)  # 4 global + 4 occupancy bits


def test_knn_skewed_corpus_hash_parity(spark, skew_lake):
    con = duck_connection(skew_lake)
    try:
        result = compare_query(spark, con, REGISTRY["knn_graph_stats"], skew_lake)
        assert result.ok, result.detail
    finally:
        con.close()


# ---------------------------------------------------------------------------
# NULL event_type hostile probe (ADVICE r8 medium)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def null_type_lake(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("null_event_type")
    con = duckdb.connect()
    out = str(tmp / "events_nulled.parquet")
    con.execute(
        f"""COPY (
            SELECT event_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END
                     AS event_type,
                   user_id, value
            FROM read_parquet('{SRC_SF}/events.parquet')
        ) TO '{out}'"""
    )
    con.close()
    return _clone_lake(tmp, {"events": out})


@pytest.mark.parametrize(
    "name",
    [
        "quantile_summary_approx",
        "quantile_summary",
        "quantile_hash_sample",
        "quantile_sketch_lake_merge",
        "kmv_sketch_lake_merge",
        "hll_sketch_lake_merge",
        "kmv_sketch_lake_compaction",
        "hll_sketch_lake_compaction",
        "quantile_sketch_lake_compaction",
    ],
)
def test_null_event_type_group_holds_parity(spark, null_type_lake, name):
    # a NULL event_type group is a legitimate production state: groupBy
    # keeps it, and the rank-audit joins must not drop it (the r8 fix
    # joins on a null-coalesced key; pre-fix the NULL group's flags came
    # back NULL while the oracle said TRUE)
    con = duck_connection(null_type_lake)
    try:
        result = compare_query(spark, con, REGISTRY[name], null_type_lake)
        assert result.ok, f"{name}: {result.detail}"
    finally:
        con.close()


def test_null_event_type_group_is_audited_not_dropped(spark, null_type_lake):
    rows = REGISTRY["quantile_summary_approx"].spark(spark, null_type_lake).collect()
    null_rows = [r for r in rows if r.event_type is None]
    assert len(null_rows) == 1
    r = null_rows[0]
    assert r.p50_in_bound and r.p90_in_bound and r.p99_in_bound


# ---------------------------------------------------------------------------
# Session model-cache hygiene (r8 verdict task #7)
# ---------------------------------------------------------------------------


def test_release_session_models_frees_and_refits(spark, sf_dir):
    from notion_timetracking_etl_spark import lifecycle
    from notion_timetracking_etl_spark.queries import kmeans as km

    lifecycle.release_session_caches()  # clean slate
    asg, _cent = km.fitted_model(spark, sf_dir)
    mem = km._refined_cells(spark, sf_dir)
    n_asg, n_mem = asg.count(), mem.count()
    corpus = (spark.sparkContext.applicationId, sf_dir)
    assert {"kmeans_model", "refined_cells"} <= set(lifecycle._SESSION_CACHE[corpus])
    lifecycle.release_session_caches()
    assert not lifecycle._SESSION_CACHE
    # a released model re-fits cleanly (no dangling checkpoint references)
    asg2, _ = km.fitted_model(spark, sf_dir)
    assert asg2.count() == n_asg
    assert km._refined_cells(spark, sf_dir).count() == n_mem
    lifecycle.release_session_caches()


def test_model_caches_are_lru_bounded(monkeypatch):
    from types import SimpleNamespace

    from notion_timetracking_etl_spark import lifecycle

    lifecycle.release_session_caches()
    freed: list[dict] = []
    monkeypatch.setattr(lifecycle, "_free_all", freed.extend)
    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    for i in range(lifecycle.MAX_CORPORA + 3):
        lifecycle.session_cached(app, f"sf{i}", "model", lambda i=i: f"model{i}")
    assert len(lifecycle._SESSION_CACHE) == lifecycle.MAX_CORPORA
    assert freed == [{"model": "model0"}, {"model": "model1"}, {"model": "model2"}]
    # a read refreshes recency: the re-read corpus survives the next insert
    assert lifecycle.session_cached(app, "sf3", "model", lambda: "refit") == "model3"
    lifecycle.session_cached(app, "new", "model", lambda: "modelN")
    assert ("app", "sf3") in lifecycle._SESSION_CACHE
    assert freed[-1] == {"model": "model4"}
    # evicting a corpus frees all of its entries together
    lifecycle.session_cached(app, "sf5", "cells", lambda: "cells5")
    for i in range(lifecycle.MAX_CORPORA):
        lifecycle.session_cached(app, f"more{i}", "model", lambda: "m")
    assert {"model": "model5", "cells": "cells5"} in freed
    lifecycle.release_session_caches()


# ---------------------------------------------------------------------------
# Persisted-sketch lake (r8 verdict task #3): incremental-append probe
# ---------------------------------------------------------------------------


def test_kmv_sketch_lake_incremental_append_merges_to_whole(spark, sf_dir, tmp_path):
    """The storage-seam contract: partials written in TWO separate appends
    (an initial backfill + a later incremental batch of new dates) merge on
    read to EXACTLY the single-pass whole-corpus sketch — the monoid
    property carried through the parquet round-trip."""
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS
    from notion_timetracking_etl_spark.sinks.parquet import (
        write_partitioned_lake,
    )

    kmv = SKETCH_KINDS["kmv"]
    hashed = kmv.dated(spark, sf_dir)
    cutoff = "2024-01-15"
    path = str(tmp_path / "kmv_lake")
    write_partitioned_lake(
        kmv.partial(hashed.filter(F.col("event_date") < cutoff)),
        path,
        ["event_date"],
    )
    write_partitioned_lake(
        kmv.partial(hashed.filter(F.col("event_date") >= cutoff)),
        path,
        ["event_date"],
        mode="append",
    )
    partials = spark.read.parquet(path)
    merged = {
        r.g: (r.kth_min, r.n_in_sketch)
        for r in kmv.summarize(kmv.merge(partials)).collect()
    }
    whole = {
        r.g: (r.kth_min, r.n_in_sketch)
        for r in kmv.summarize(kmv.merge(hashed)).collect()
    }
    assert merged == whole and merged


def test_kmv_sketch_lake_merge_flags_all_green(spark, sf_dir):
    rows = REGISTRY["kmv_sketch_lake_merge"].spark(spark, sf_dir).collect()
    assert rows
    assert all(r.merged_equals_whole for r in rows)
    assert all(r.n_partials >= 1 for r in rows)


def test_hll_sketch_lake_incremental_append_merges_to_whole(spark, sf_dir, tmp_path):
    """The seam generalizes: HLL registers (a register-MAX monoid, not
    bottom-k) written in two appends merge on read to the single-pass
    whole-corpus registers."""
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS
    from notion_timetracking_etl_spark.sinks.parquet import (
        write_partitioned_lake,
    )

    hll = SKETCH_KINDS["hll"]
    fields = hll.dated(spark, sf_dir)
    cutoff = "2024-01-15"
    path = str(tmp_path / "hll_lake")
    write_partitioned_lake(
        hll.partial(fields.filter(F.col("event_date") < cutoff)),
        path,
        ["event_date"],
    )
    write_partitioned_lake(
        hll.partial(fields.filter(F.col("event_date") >= cutoff)),
        path,
        ["event_date"],
        mode="append",
    )
    merged = {
        (r.g, r.idx): r.rank
        for r in hll.merge(spark.read.parquet(path)).collect()
    }
    whole = {
        (r.g, r.idx): r.rank
        for r in fields.groupBy("g", "idx").agg(
            F.max("rank").alias("rank")
        ).collect()
    }
    assert merged == whole and merged


def test_hll_sketch_lake_merge_flags_all_green(spark, sf_dir):
    rows = REGISTRY["hll_sketch_lake_merge"].spark(spark, sf_dir).collect()
    assert rows
    assert all(r.merged_equals_whole for r in rows)
    assert all(abs(r.rel_err) < 0.5 for r in rows)  # m=32 HLL ~ +-18% 1sigma


# ---------------------------------------------------------------------------
# Streaming SemDeDup gate (r8 verdict task #8): forced-split equality
# ---------------------------------------------------------------------------


def test_streaming_semdedup_gate_split_equals_batch(spark, sf_dir, tmp_path):
    """The gate's verdicts under a FORCED 3-micro-batch arrival split must
    equal the batch gate exactly (a verdict depends on (arrival, corpus)
    alone, so any split unions to the same set)."""
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.lifecycle import (
        release_scoped_caches,
        release_session_caches,
    )

    # stage a lake whose embeddings table is a DIRECTORY of 3 files —
    # maxFilesPerTrigger=1 then forces 3 micro-batches
    d = tmp_path / "lake"
    d.mkdir()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.withColumn(
        "_split", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(3))
    ).repartition(3, "_split").drop("_split").write.parquet(
        str(d / "embeddings.parquet")
    )
    for t in ALL_TABLES:
        if t != "embeddings":
            os.symlink(f"{SRC_SF}/{t}.parquet", str(d / f"{t}.parquet"))

    lake = str(d)
    release_session_caches()  # fresh fit for the staged lake
    try:
        streamed = {
            tuple(r)
            for r in REGISTRY["streaming_semdedup_gate"].spark(spark, lake).collect()
        }
        release_scoped_caches()
        batch = {
            tuple(r)
            for r in REGISTRY["semdedup_incremental"].spark(spark, lake).collect()
        }
        release_scoped_caches()
    finally:
        release_session_caches()
    assert streamed == batch and streamed


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup invariants (r8 verdict task #1)
# ---------------------------------------------------------------------------


def test_phash_identical_payloads_hamming_zero(spark, tmp_path):
    from notion_timetracking_etl_spark.queries.multimodal import (
        multimodal_near_dup,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4  # 180 chars
    edit = base.replace("lazy", "hazy", 1)
    docs = [
        (0, base),  # image
        (2, base),  # video — identical payload, cross-type match
        (3, edit),  # video — near-identical payload
        (6, "completely different text payload with other words " * 4),
        (1, base),  # audio — must be excluded even though identical
    ]
    con = duckdb.connect()
    out = str(tmp_path / "documents.parquet")
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', 'en', 'src0', {len(t)})" for i, t in docs
        )
        + ") t(doc_id, text, lang, source, n_chars)) TO '" + out + "'"
    )
    con.close()
    d = tmp_path / "lake"
    d.mkdir()
    os.replace(out, str(d / "documents.parquet"))
    for t in ALL_TABLES:
        if t != "documents":
            os.symlink(f"{SRC_SF}/{t}.parquet", str(d / f"{t}.parquet"))

    rows = {(r.a, r.b): r for r in multimodal_near_dup(spark, str(d)).collect()}
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    release_scoped_caches()
    # identical payloads: hamming 0, pixel distance 0 — across media types
    assert (0, 2) in rows
    assert rows[(0, 2)].hamming == 0 and rows[(0, 2)].px_l1 == 0
    # one-word edit stays within the radius; the unrelated doc never pairs
    assert (0, 3) in rows and (2, 3) in rows
    assert all(6 not in pair for pair in rows)
    # audio is excluded from the visual pair space entirely
    assert all(1 not in pair for pair in rows)


def test_stub_raster_contract():
    from notion_timetracking_etl_spark.operators.multimodal import (
        PHASH_GRID_CH,
        PHASH_GRID_W,
        PHASH_MIN_CHARS,
        PHASH_SCALE,
        _stub_raster,
    )

    s = "abcdefgh" * 9  # 72 chars
    px = _stub_raster(s.encode(), "image")
    assert len(px) == PHASH_GRID_CH * PHASH_GRID_W
    assert all(0 <= v <= PHASH_SCALE for v in px)
    # deterministic and length-normalized: a doubled payload pools to the
    # same scaled grid (same distribution, same block boundaries)
    assert px == _stub_raster((s + s).encode(), "image")
    with pytest.raises(ValueError):
        _stub_raster(b"x" * (PHASH_MIN_CHARS - 1), "image")


# ---------------------------------------------------------------------------
# Quantile-sample persisted-sketch lake: the third monoid through the seam
# ---------------------------------------------------------------------------


def test_qs_sketch_lake_incremental_append_merges_to_whole(spark, sf_dir, tmp_path):
    """Bottom-k hash-sample partials written in TWO separate appends (an
    initial backfill + a later incremental batch of new dates) merge on
    read to EXACTLY the single-pass whole-corpus sample — the hash-sample
    monoid carried through the parquet round-trip, values included."""
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.lake import SKETCH_KINDS
    from notion_timetracking_etl_spark.sinks.parquet import (
        write_partitioned_lake,
    )

    qs = SKETCH_KINDS["qs"]
    vals = qs.dated(spark, sf_dir)
    cutoff = "2024-01-15"
    path = str(tmp_path / "qs_lake")
    write_partitioned_lake(
        qs.partial(vals.filter(F.col("event_date") < cutoff)),
        path,
        ["event_date"],
    )
    write_partitioned_lake(
        qs.partial(vals.filter(F.col("event_date") >= cutoff)),
        path,
        ["event_date"],
        mode="append",
    )
    merged = {
        (r.g, r.h): r.value
        for r in qs.merge(spark.read.parquet(path)).collect()
    }
    whole = {(r.g, r.h): r.value for r in qs.merge(vals).collect()}
    assert merged == whole and merged


def test_qs_sketch_lake_merge_flags_all_green(spark, sf_dir):
    rows = REGISTRY["quantile_sketch_lake_merge"].spark(spark, sf_dir).collect()
    assert rows
    assert all(r.merged_equals_whole for r in rows)
    assert all(r.n_partials >= 1 for r in rows)
    # under-filled groups: the sample IS the data, so estimates are exact
    for r in rows:
        if r.n_sample == r.n_total:
            assert (r.est_p50, r.est_p90, r.est_p99) == (
                r.exact_p50,
                r.exact_p90,
                r.exact_p99,
            )


# ---------------------------------------------------------------------------
# Streaming visual near-dup gate: forced-split equality
# ---------------------------------------------------------------------------


def test_streaming_multimodal_gate_split_equals_batch(spark, sf_dir, tmp_path):
    """The visual gate's verdicts under a FORCED 3-micro-batch arrival
    split must equal the batch incremental gate exactly (a verdict depends
    on (arrival, corpus) alone, so any split unions to the same set)."""
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    # stage a lake whose documents table is a DIRECTORY of 3 files —
    # maxFilesPerTrigger=1 then forces 3 micro-batches
    d = tmp_path / "lake"
    d.mkdir()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.withColumn(
        "_split", F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(3))
    ).repartition(3, "_split").drop("_split").write.parquet(
        str(d / "documents.parquet")
    )
    for t in ALL_TABLES:
        if t != "documents":
            os.symlink(f"{SRC_SF}/{t}.parquet", str(d / f"{t}.parquet"))

    lake = str(d)
    try:
        streamed = {
            tuple(r)
            for r in REGISTRY["streaming_multimodal_gate"]
            .spark(spark, lake)
            .collect()
        }
        release_scoped_caches()
        batch = {
            tuple(r)
            for r in REGISTRY["multimodal_incremental_near_dup"]
            .spark(spark, lake)
            .collect()
        }
    finally:
        release_scoped_caches()
    assert streamed == batch and streamed


# ---------------------------------------------------------------------------
# Audio energy-delta fingerprint invariants
# ---------------------------------------------------------------------------


def test_audio_fp_identical_payloads_hamming_zero(spark, tmp_path):
    from notion_timetracking_etl_spark.queries.multimodal import (
        multimodal_audio_near_dup,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4  # 180 chars
    edit = base.replace("lazy", "hazy", 1)
    docs = [
        (1, base),  # audio
        (4, base),  # audio — identical payload
        (7, edit),  # audio — near-identical payload
        (10, "completely different text payload with other words " * 4),
        (0, base),  # image — must be excluded even though identical
        (2, base),  # video — must be excluded
    ]
    con = duckdb.connect()
    out = str(tmp_path / "documents.parquet")
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}', 'en', 'src0', {len(t)})" for i, t in docs)
        + ") t(doc_id, text, lang, source, n_chars)) TO '" + out + "'"
    )
    con.close()
    lake = _clone_lake(tmp_path, {"documents": out})

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    try:
        rows = {
            (r.a, r.b): r
            for r in multimodal_audio_near_dup(spark, lake).collect()
        }
    finally:
        release_scoped_caches()
    # identical payloads: hamming 0, energy distance 0
    assert (1, 4) in rows
    assert rows[(1, 4)].hamming == 0 and rows[(1, 4)].energy_l1 == 0
    # one-word edit stays within the radius; the unrelated doc never pairs
    assert (1, 7) in rows and (4, 7) in rows
    assert all(10 not in pair for pair in rows)
    # visual media are excluded from the audio pair space entirely
    assert all(0 not in pair and 2 not in pair for pair in rows)
    # parity on the fixture lake too
    con = duck_connection(lake)
    try:
        result = compare_query(
            spark, con, REGISTRY["multimodal_audio_near_dup"], lake
        )
        assert result.ok, result.detail
    finally:
        con.close()


def test_stub_waveform_contract():
    from notion_timetracking_etl_spark.operators.multimodal import (
        AUDIO_FP_FRAMES,
        AUDIO_FP_MIN_CHARS,
        PHASH_SCALE,
        _stub_waveform,
    )

    e = _stub_waveform(("ab" * 40).encode(), "audio")  # 80 chars
    assert len(e) == AUDIO_FP_FRAMES
    assert all(0 <= v <= PHASH_SCALE for v in e)
    # constant payload: every frame holds the same energy -> fingerprint 0
    flat = _stub_waveform(b"x" * 130, "audio")
    assert len(set(flat)) <= 2  # frame sizes differ by at most one char
    # all-NUL payload: zero total energy is clamped, vector defined
    assert _stub_waveform(b"\x00" * 70, "audio") == [0] * AUDIO_FP_FRAMES
    with pytest.raises(ValueError):
        _stub_waveform(b"x" * (AUDIO_FP_MIN_CHARS - 1), "audio")


def test_multimodal_fingerprints_unicode_hostile_parity(spark, tmp_path):
    """The raster/waveform stubs iterate PYTHON codepoints while the oracle
    iterates DuckDB string_split('') units and Spark's length() counts
    UTF8String chars — three engines that must agree on astral emoji, ZWJ
    sequences, combining accents, and CJK. A divergence here would shift
    frame/grid assignment and silently break hash parity at the first
    non-ASCII corpus."""
    uni = (
        "café combining é \U0001F600\U0001F680 zwj "
        "\U0001F468‍\U0001F469‍\U0001F467 中文 "
    )  # 41 codepoints
    base = uni * 3  # 123 codepoints >= both family minimums
    edit = base.replace("caf", "kaf", 1)
    docs = [
        (0, base),  # image
        (3, base),  # video — identical unicode payload, cross-type pair
        (6, edit),  # video — near-identical
        (1, base),  # audio — identical payload pair vs 4
        (4, base),  # audio
        (7, edit),  # audio — near-identical
    ]
    con = duckdb.connect()
    out = str(tmp_path / "documents.parquet")
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}', 'xx', 'src0', {len(t)})" for i, t in docs)
        + ") t(doc_id, text, lang, source, n_chars)) TO '" + out + "'"
    )
    con.close()
    lake = _clone_lake(tmp_path, {"documents": out})

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    con = duck_connection(lake)
    try:
        for name in ("multimodal_near_dup", "multimodal_audio_near_dup"):
            result = compare_query(spark, con, REGISTRY[name], lake)
            assert result.ok, f"{name}: {result.detail}"
            release_scoped_caches()
        # and the pairs actually exist — the parity above is not vacuous
        vis = {
            (r.a, r.b)
            for r in REGISTRY["multimodal_near_dup"].spark(spark, lake).collect()
        }
        aud = {
            (r.a, r.b)
            for r in REGISTRY["multimodal_audio_near_dup"]
            .spark(spark, lake)
            .collect()
        }
        assert (0, 3) in vis and (1, 4) in aud
    finally:
        release_scoped_caches()
        con.close()


def test_embedding_drift_identical_cohorts_cosine_one(spark, tmp_path):
    """Arrivals that exactly mirror the corpus must report (near-)unit
    centroid cosine: identical micro mean vectors give dot == qa == qc, so
    the only deviation from exactly 1.0 is the sqrt(q)^2 ulp — floor-micro
    therefore reads 999999 or 1000000, never lower. Also pins parity on
    the fixture lake."""
    import random

    from notion_timetracking_etl_spark.queries.similarity import EMB_DIMS

    rng = random.Random(20260816)
    base = [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIMS)] for _ in range(10)]
    rows = []
    for i, vec in enumerate(base):
        rows.append((i * 10, vec, 0))      # corpus (residue 0)
        rows.append((i * 10 + 9, vec, 0))  # arrival mirror (residue 9)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE emb AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v}::FLOAT[], {l})" for i, v, l in rows)
        + ") t(vec_id, embedding, label)"
    )
    out = str(tmp_path / "embeddings_mirror.parquet")
    con.execute(f"COPY (SELECT * FROM emb) TO '{out}'")
    con.close()
    lake = _clone_lake(tmp_path, {"embeddings": out})

    got = REGISTRY["embedding_drift_report"].spark(spark, lake).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_corpus == 10 and r.n_arrivals == 10
    assert r.centroid_cos_micro >= 999999
    assert r.avg_norm_corpus == r.avg_norm_arrivals
    assert r.p50_norm_corpus == r.p50_norm_arrivals
    con = duck_connection(lake)
    try:
        result = compare_query(
            spark, con, REGISTRY["embedding_drift_report"], lake
        )
        assert result.ok, result.detail
    finally:
        con.close()


def test_ann_index_drift_flags_hot_and_cold_cells(spark, tmp_path):
    """Arrivals concentrated in one geometric region must flag hot cells
    there and cold cells elsewhere — the retrain trigger firing. Fixture:
    two well-separated clusters; the 8 k-means seeds (smallest vec_ids)
    cover both; every arrival (vec_id % 10 = 9) lands in cluster B."""
    import random

    from notion_timetracking_etl_spark.lifecycle import release_session_caches
    from notion_timetracking_etl_spark.queries.similarity import EMB_DIMS

    rng = random.Random(20260817)

    def around(center, n):
        return [
            [center + rng.gauss(0.0, 0.05) for _ in range(EMB_DIMS)]
            for _ in range(n)
        ]

    rows = []
    # seeds 0-3 in cluster A (-1.0), seeds 4-7 in cluster B (+1.0)
    for i, v in enumerate(around(-1.0, 4)):
        rows.append((i, v))
    for i, v in enumerate(around(1.0, 4)):
        rows.append((4 + i, v))
    # corpus bulk in A (ids != 9 mod 10), all arrivals in B (ids = 9 mod 10)
    a_ids = (i for i in range(10, 1000) if i % 10 != 9)
    for v in around(-1.0, 26):
        rows.append((next(a_ids), v))
    for i, v in enumerate(around(1.0, 10)):
        rows.append((109 + 10 * i, v))
    assert len({i for i, _ in rows}) == len(rows)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE emb AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v}::FLOAT[], 0)" for i, v in rows)
        + ") t(vec_id, embedding, label)"
    )
    out = str(tmp_path / "embeddings_drift.parquet")
    con.execute(f"COPY (SELECT * FROM emb) TO '{out}'")
    con.close()
    lake = _clone_lake(tmp_path, {"embeddings": out})

    release_session_caches()  # fresh fit for the staged lake
    try:
        got = REGISTRY["ann_index_drift"].spark(spark, lake).collect()
        assert sum(r.n_members for r in got) == len(rows)
        assert sum(r.n_arrivals for r in got) == 10
        assert any(r.drift_hot for r in got)
        assert any(r.drift_cold for r in got)
        # no cell is both, and hot cells actually hold arrival mass
        assert all(not (r.drift_hot and r.drift_cold) for r in got)
        assert all(r.n_arrivals > 0 for r in got if r.drift_hot)
        con = duck_connection(lake)
        try:
            result = compare_query(
                spark, con, REGISTRY["ann_index_drift"], lake
            )
            assert result.ok, result.detail
        finally:
            con.close()
    finally:
        release_session_caches()


def test_text_drift_flags_shifted_vocabulary(spark, tmp_path):
    """Arrivals whose vocabulary rotates away from a head token must flag
    it cold, and a token arriving at a much higher rate flags hot. Also
    pins fixture-lake hash parity."""
    docs = []
    did = (i for i in range(1000) if i % 10 != 5)
    for _ in range(20):  # corpus: 'alpha beta' everywhere, a little gamma
        docs.append((next(did), "alpha beta alpha beta"))
    docs.append((next(did), "gamma alpha beta"))
    aid = (i for i in range(5, 1000, 10))
    for _ in range(10):  # arrivals: beta gone, gamma dominant
        docs.append((next(aid), "alpha gamma gamma gamma"))
    con = duckdb.connect()
    out = str(tmp_path / "documents.parquet")
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}', 'en', 'src0', {len(t)})" for i, t in docs)
        + ") t(doc_id, text, lang, source, n_chars)) TO '" + out + "'"
    )
    con.close()
    lake = _clone_lake(tmp_path, {"documents": out})

    rows = {r.token: r for r in REGISTRY["text_drift_report"].spark(spark, lake).collect()}
    assert set(rows) == {"alpha", "beta", "gamma"}
    assert rows["beta"].drift_cold and not rows["beta"].drift_hot
    assert rows["gamma"].drift_hot and not rows["gamma"].drift_cold
    assert not rows["alpha"].drift_cold
    assert rows["beta"].n_arrivals == 0
    con = duck_connection(lake)
    try:
        result = compare_query(spark, con, REGISTRY["text_drift_report"], lake)
        assert result.ok, result.detail
    finally:
        con.close()
