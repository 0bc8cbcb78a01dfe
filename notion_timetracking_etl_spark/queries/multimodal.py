"""Multimodal-column queries (engine extension).

The ``documents`` table stands in for a media lake: each row gets an opaque
``binary`` payload plus typed metadata (see ``operators/multimodal.py``), and
decode/feature-extract runs as an Arrow-batched ``mapInPandas`` — the real
100 TB plumbing (BinaryType schema, per-partition Python batches, no per-row
UDF overhead). The codec itself is stubbed deterministically, which is what
makes the pipeline oracle-checkable: DuckDB reproduces the stub's arithmetic
from the byte length, so the whole mapInPandas round-trip is hash-verified,
not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..operators.multimodal import (
    AUDIO_FP_FRAMES,
    AUDIO_FP_MIN_CHARS,
    PHASH_MIN_CHARS,
    PHASH_SCALE,
    attach_media_columns,
    decode_media,
    phash_media,
    phash_near_dup_pairs,
    resize_media,
    sample_frames,
)
from ..sources.tpch import load_table
from .registry import register

# DuckDB twin of operators.multimodal._stub_decode on utf-8 text payloads.
_MEDIA_TYPE_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)
_BYTES_SQL = "strlen(text)"  # DuckDB strlen = byte length of the utf-8 string


def _wide_ham_sql(l: str, r: str) -> str:
    """Summed per-word Hamming between aliases ``l`` and ``r`` (DuckDB
    bit_count returns TINYINT — cast each term before summing). The ONE
    copy of this SQL shape: the pair-twin constants and the cluster-summary
    oracles all derive from it (r12 review)."""
    return " + ".join(
        f"CAST(bit_count(xor({l}.w{j}, {r}.w{j})) AS BIGINT)"
        for j in range(PHASH_WIDE_WORDS)
    )


def _list_l1_sql(l: str, r: str, n: int, col: str = "pxl") -> str:
    """Exact element-wise list L1 between ``{l}.{col}`` and ``{r}.{col}``
    over ``n`` cells — shared by the wide pixel grids and the audio energy
    vectors (r12 review: one copy instead of three inline variants)."""
    return (
        f"list_sum(list_transform(generate_series(1, {n}), "
        f"k -> abs({l}.{col}[k] - {r}.{col}[k])))"
    )





@register(
    "multimodal_decode",
    "S4-analog,P2-analog",
    "Media decode pipeline: synthesize opaque binary payloads + typed "
    "metadata from documents, then Arrow-batched mapInPandas feature "
    "extraction (stub codec — deterministic features from byte length; a "
    "real libjpeg/ffmpeg drop-in changes decode_fn only). The oracle "
    "replays the stub arithmetic in SQL, verifying the full binary-column "
    "and mapInPandas plumbing by hash.",
    oracle=f"""
        SELECT doc_id AS media_id,
               {_MEDIA_TYPE_SQL} AS media_type,
               CAST({_BYTES_SQL} AS BIGINT) AS byte_length,
               CAST(CASE {_MEDIA_TYPE_SQL}
                    WHEN 'image' THEN {_BYTES_SQL} % 640 + 1
                    WHEN 'audio' THEN 0
                    ELSE {_BYTES_SQL} % 320 + 1 END AS BIGINT) AS width,
               CAST(CASE {_MEDIA_TYPE_SQL}
                    WHEN 'image' THEN {_BYTES_SQL} % 480 + 1
                    WHEN 'audio' THEN 0
                    ELSE {_BYTES_SQL} % 240 + 1 END AS BIGINT) AS height,
               CAST(CASE {_MEDIA_TYPE_SQL}
                    WHEN 'image' THEN 1
                    WHEN 'audio' THEN {_BYTES_SQL} % 1000 + 1
                    ELSE {_BYTES_SQL} % 100 + 1 END AS BIGINT) AS n_frames
        FROM documents
        ORDER BY media_id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_columns(docs, "doc_id", "text")
    # O(corpus) output: deterministic order comes from a DISTRIBUTED range
    # sort placed UPSTREAM of the Python seam — mapInPandas streams batches
    # in partition order 1:1, so the sort survives the decode, the sort's
    # sampling pass never re-executes Python, and no repartition(1) funnel
    # exists anywhere in the plan.
    return decode_media(media.orderBy("media_id"))


_W_SQL = f"CASE {_MEDIA_TYPE_SQL} WHEN 'image' THEN {_BYTES_SQL} % 640 + 1 ELSE {_BYTES_SQL} % 320 + 1 END"
_H_SQL = f"CASE {_MEDIA_TYPE_SQL} WHEN 'image' THEN {_BYTES_SQL} % 480 + 1 ELSE {_BYTES_SQL} % 240 + 1 END"


@register(
    "multimodal_resize",
    "P2-analog,F26-analog",
    "Aspect-fit resize planning over decoded image/video media via "
    "vectorized mapInPandas: scale = min(256/w, 256/h) capped at 1, floored "
    "dims with a 1px floor. The pixel resample is the stubbed codec step; "
    "the geometry and batch plumbing are production-real.",
    oracle=f"""
        WITH m AS (
          SELECT doc_id AS media_id, {_MEDIA_TYPE_SQL} AS media_type,
                 CAST({_W_SQL} AS BIGINT) AS width,
                 CAST({_H_SQL} AS BIGINT) AS height
          FROM documents
          WHERE {_MEDIA_TYPE_SQL} IN ('image', 'video')
        )
        SELECT media_id, media_type, width, height,
               GREATEST(1, CAST(floor(width * LEAST(256.0 / width, 256.0 / height, 1.0))
                                AS BIGINT)) AS new_width,
               GREATEST(1, CAST(floor(height * LEAST(256.0 / width, 256.0 / height, 1.0))
                                AS BIGINT)) AS new_height
        FROM m
        ORDER BY media_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_columns(docs, "doc_id", "text")
    # sort upstream of the decode seam (see multimodal_decode); the resize
    # geometry is narrow JVM work, so order survives to the output.
    decoded = decode_media(media.orderBy("media_id"))
    return resize_media(decoded)


@register(
    "multimodal_frame_sample",
    "W2-analog,P2-analog",
    "Video frame sampling: every-7th frame indices fanned out JVM-side "
    "(sequence + explode — no Python in the fan-out), then a mapInPandas "
    "extraction stage producing deterministic frame fingerprints where a "
    "real ffmpeg grab would run per batch.",
    oracle=f"""
        WITH v AS (
          SELECT doc_id AS media_id,
                 sha256(text) AS content_sha,
                 CAST({_BYTES_SQL} % 100 + 1 AS BIGINT) AS n_frames
          FROM documents
          WHERE {_MEDIA_TYPE_SQL} = 'video'
        )
        SELECT media_id,
               CAST(g.f AS BIGINT) AS frame_idx,
               sha256(concat(content_sha, ':', CAST(g.f AS VARCHAR))) AS frame_sha
        FROM v, LATERAL (
          SELECT unnest(generate_series(0, n_frames - 1, 7)) AS f
        ) g
        ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_columns(docs, "doc_id", "text")
    # sort upstream of the decode seam (see multimodal_decode): explode of an
    # ascending sequence emits frame_idx in order within each media_id, so
    # the (media_id, frame_idx) order holds without any post-Python sort.
    return sample_frames(media.orderBy("media_id"), every_n=7)


@register(
    "multimodal_stats",
    "A3,A7",
    "Per-media-type corpus stats over decoded features: counts, total bytes, "
    "max dimensions. The groupBy runs on the 3-value media_type key after the "
    "decode stage — partial aggregation makes the shuffle negligible.",
    oracle=f"""
        SELECT {_MEDIA_TYPE_SQL} AS media_type,
               count(*) AS n_media,
               CAST(SUM({_BYTES_SQL}) AS BIGINT) AS total_bytes,
               CAST(MAX(CASE {_MEDIA_TYPE_SQL}
                    WHEN 'image' THEN {_BYTES_SQL} % 640 + 1
                    WHEN 'audio' THEN 0
                    ELSE {_BYTES_SQL} % 320 + 1 END) AS BIGINT) AS max_width,
               CAST(MAX(CASE {_MEDIA_TYPE_SQL}
                    WHEN 'image' THEN 1
                    WHEN 'audio' THEN {_BYTES_SQL} % 1000 + 1
                    ELSE {_BYTES_SQL} % 100 + 1 END) AS BIGINT) AS max_frames
        FROM documents
        GROUP BY 1
        ORDER BY media_type
    """,
)
def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(attach_media_columns(docs, "doc_id", "text"))
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("byte_length").alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.max("n_frames").alias("max_frames"),
        )
        .orderBy("media_type")
    )


MM_MAX_HAMMING = 8  # near-dup radius over the 64-bit dHash
MM_PX_L1_MAX = 262144  # exact pixel-L1 verify cap (2^18 fixed-point units)

# DuckDB twin of operators.multimodal._stub_raster + the dHash fold, as
# reusable CTEs: vis (visual media >= PHASH_MIN_CHARS chars), grid (the
# 8-channel x 9-block scaled codepoint histogram), ph (the signed-64 dHash),
# pxv (the row-major 72-cell pixel list).
_PHASH_CTES = f"""
        vis AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
          FROM documents
          WHERE text IS NOT NULL
            AND length(text) >= {PHASH_MIN_CHARS}
            AND doc_id % 3 <> 1  -- audio rows have no raster
        ),
        chars AS (
          SELECT doc_id, n,
                 generate_subscripts(string_split(text, ''), 1) AS i,
                 unnest(string_split(text, '')) AS ch
          FROM vis
        ),
        cellcnt AS (
          SELECT doc_id, n, unicode(ch) % 8 AS r, ((i - 1) * 9) // n AS c,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM chars GROUP BY 1, 2, 3, 4
        ),
        spine AS (
          SELECT v.doc_id, v.n, r.r, c.c
          FROM vis v,
               (SELECT unnest(generate_series(0, 7)) AS r) r,
               (SELECT unnest(generate_series(0, 8)) AS c) c
        ),
        grid AS (
          SELECT s.doc_id, s.r, s.c,
                 (COALESCE(k.cnt, 0) * {PHASH_SCALE}) // s.n AS px
          FROM spine s LEFT JOIN cellcnt k
            ON k.doc_id = s.doc_id AND k.r = s.r AND k.c = s.c
        ),
        ph AS (
          SELECT g.doc_id,
                 CAST(SUM(CASE WHEN g.px < g2.px THEN
                      CASE WHEN g.r * 8 + g.c = 63
                           THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE (CAST(1 AS BIGINT) << (g.r * 8 + g.c)) END
                      ELSE 0 END) AS BIGINT) AS phash
          FROM grid g JOIN grid g2
            ON g2.doc_id = g.doc_id AND g2.r = g.r AND g2.c = g.c + 1
          GROUP BY 1
        ),
        pxv AS (
          SELECT doc_id, list(px ORDER BY r, c) AS pxl FROM grid GROUP BY 1
        )"""


@register(
    "multimodal_near_dup",
    "A6-ext-phash,J8-analog",
    "Perceptual-hash near-dup over VISUAL media (the r8 verdict's missing "
    "dedup surface: the text/embedding families never deduplicated the "
    "multimodal column itself): a 64-bit dHash — horizontal-gradient bits "
    "over the decoded 8x9 raster — computed inside the SAME Arrow "
    "mapInPandas decode seam as the rest of the media family (stub raster: "
    "scaled codepoint histogram, deterministic and SQL-replayable; a PIL "
    "grayscale-resize drops into raster_fn without touching the hash, "
    f"blocking, or verify). Pairs within Hamming {MM_MAX_HAMMING} surface "
    "via the SIZE-ADAPTIVE pigeonhole self-join shared with "
    "dedup_simhash_hamming (r9 verdict task #1 — multi-index Hamming: at "
    "agreement level c the hash splits into radius+c disjoint blocks and "
    "the join key is every c-block combination, so a pair in radius "
    "agrees fully on >= 1 combination at ANY level; the level derives "
    "from the observed corpus count so the join key widens as the corpus "
    "grows — ~7 key bits to ~58k media, ~13 to ~373k, ~17 to ~1.6M — and "
    "expected chance candidates per signature stay within a fixed budget "
    "instead of growing ~n/128 as the old fixed 7-bit blocks did; the "
    "shuffle carries (media, combo) rows, never the O(n^2) pair space), "
    "then exact two-stage verify: "
    "bit_count(xor) on the full hashes in the join projection, and the "
    f"exact pixel L1 distance (<= {MM_PX_L1_MAX}) over the 72-cell grids "
    "for survivors only. The oracle replays raster, hash (signed-64 "
    "two's-complement reinterpretation), and both verifies end-to-end; "
    "candidate generation needs no replay because the pigeonhole cover is "
    "COMPLETE within the radius — Spark's blocked output provably equals "
    "the oracle's full-join filter.",
    oracle=f"""
        WITH {_PHASH_CTES}
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
               CAST(list_sum(list_transform(generate_series(1, 72),
                    k -> abs(pa.pxl[k] - pb.pxl[k]))) AS BIGINT) AS px_l1
        FROM ph a
        JOIN ph b ON a.doc_id < b.doc_id
        JOIN pxv pa ON pa.doc_id = a.doc_id
        JOIN pxv pb ON pb.doc_id = b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {MM_MAX_HAMMING}
          AND list_sum(list_transform(generate_series(1, 72),
               k -> abs(pa.pxl[k] - pb.pxl[k]))) <= {MM_PX_L1_MAX}
        ORDER BY a, b
    """,
)
def multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _phash_pairs(spark, sf_dir)
    # O(near-dup pairs) output on a dup-heavy corpus -> distributed orderBy
    return pairs.orderBy("a", "b")


def _phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified visual near-dup pairs (a, b, hamming, px_l1) — shared by the
    pair query and the cluster assignment."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= PHASH_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    sig = phash_media(media)  # audio filtered JVM-side inside the operator
    return phash_near_dup_pairs(
        sig, max_hamming=MM_MAX_HAMMING, px_l1_max=MM_PX_L1_MAX
    )


# Shared by multimodal_incremental_near_dup and its foreachBatch streaming
# twin (queries/streaming.py::streaming_multimodal_gate): an arrival's best
# corpus match depends on (arrival, corpus) alone, so the stream-merged gate
# is verdict-identical to the batch gate and one oracle serves both.
MM_INCR_ORACLE_SQL = f"""
        WITH {{ctes}},
        cross_pairs AS (
          SELECT a.doc_id AS media_id, b.doc_id AS matched_media,
                 CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
                 CAST(list_sum(list_transform(generate_series(1, 72),
                      k -> abs(pa.pxl[k] - pb.pxl[k]))) AS BIGINT) AS px_l1
          FROM ph a
          JOIN ph b ON a.doc_id % 10 = 5 AND b.doc_id % 10 <> 5
          JOIN pxv pa ON pa.doc_id = a.doc_id
          JOIN pxv pb ON pb.doc_id = b.doc_id
          WHERE bit_count(xor(a.phash, b.phash)) <= {MM_MAX_HAMMING}
            AND list_sum(list_transform(generate_series(1, 72),
                 k -> abs(pa.pxl[k] - pb.pxl[k]))) <= {MM_PX_L1_MAX}
        )
        SELECT media_id, matched_media, hamming, px_l1
        FROM (
          SELECT media_id, matched_media, hamming, px_l1,
                 row_number() OVER (
                   PARTITION BY media_id
                   ORDER BY hamming, px_l1, matched_media
                 ) AS rn
          FROM cross_pairs
        )
        WHERE rn = 1
        ORDER BY media_id
    """.format(ctes=_PHASH_CTES)


@register(
    "multimodal_incremental_near_dup",
    "A6-ext-phash,J8-analog",
    "Incremental-ingest VISUAL near-dup gate — the image twin of "
    "dedup_incremental_batch: the arriving batch (doc_id % 10 = 5; the "
    "residue is arbitrary and chosen so the cross-side pair set is "
    "non-empty at every tested scale factor — residue 9 has no visual "
    "near-dup pair at sf0.01, which would leave the driver gate hashing "
    "an empty result) "
    "pigeonhole-block-joined against the EXISTING corpus only, so the "
    "corpus pair space is never generated and a day's batch costs "
    "O(batch + shared buckets) at any corpus size. Per new media row: its "
    "best corpus match by (lowest Hamming, lowest exact pixel L1, "
    "smallest corpus id) — the row an ingest pipeline uses to drop or "
    "link an arriving image. A perceptual hash depends only on the "
    "media's own pixels, so the oracle can replay the full blocking "
    "restricted to cross-side pairs (complete within the radius).",
    oracle=MM_INCR_ORACLE_SQL,
)
def multimodal_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.multimodal import phash_cross_near_dups

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= PHASH_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    # ONE decode-seam pass for both sides: persist, then split by id
    sig = scoped_persist(phash_media(media))
    is_new = F.col("media_id") % 10 == 5
    pairs = phash_cross_near_dups(
        sig.filter(is_new),
        sig.filter(~is_new),
        max_hamming=MM_MAX_HAMMING,
        px_l1_max=MM_PX_L1_MAX,
    )
    # best corpus match per arrival via MIN over a comparison struct
    # (map-side combine, no per-key window sort); all fields ascending
    best = (
        pairs.groupBy("a")
        .agg(
            F.min(
                F.struct(
                    F.col("hamming"), F.col("px_l1"), F.col("b").alias("m")
                )
            ).alias("w")
        )
        .select(
            F.col("a").alias("media_id"),
            F.col("w.m").alias("matched_media"),
            F.col("w.hamming").alias("hamming"),
            F.col("w.px_l1").alias("px_l1"),
        )
    )
    return best.orderBy("media_id")


MM_AUDIO_MAX_HAMMING = 8  # near-dup radius over the 64-bit energy-delta fp
MM_AUDIO_L1_MAX = 262144  # exact energy-L1 verify cap (2^18 fixed-point)

# DuckDB twin of operators.multimodal._stub_waveform + the energy-delta
# fold: aud (audio media >= AUDIO_FP_MIN_CHARS chars), framesum (per-frame
# codepoint-sum energy), energy (total-normalized fixed point), afp (the
# signed-64 fingerprint), ev (the 65-frame energy list).
_AUDIO_FP_CTES = f"""
        aud AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
          FROM documents
          WHERE text IS NOT NULL
            AND length(text) >= {AUDIO_FP_MIN_CHARS}
            -- doc_id % 3 = 1 is attach_media_columns' media_type mapping
            -- (element_at(['image','audio','video'], id % 3 + 1)): only
            -- audio rows carry a waveform
            AND doc_id % 3 = 1
        ),
        achars AS (
          SELECT doc_id, n,
                 generate_subscripts(string_split(text, ''), 1) AS i,
                 unnest(string_split(text, '')) AS ch
          FROM aud
        ),
        framesum AS (
          SELECT doc_id, n, ((i - 1) * {AUDIO_FP_FRAMES}) // n AS f,
                 CAST(SUM(unicode(ch)) AS BIGINT) AS raw
          FROM achars GROUP BY 1, 2, 3
        ),
        tot AS (
          SELECT doc_id, CAST(SUM(raw) AS BIGINT) AS total
          FROM framesum GROUP BY 1
        ),
        energy AS (
          SELECT fs.doc_id, fs.f,
                 (fs.raw * {PHASH_SCALE}) // GREATEST(t.total, 1) AS e
          FROM framesum fs JOIN tot t ON t.doc_id = fs.doc_id
        ),
        afp AS (
          SELECT e1.doc_id,
                 CAST(SUM(CASE WHEN e1.e < e2.e THEN
                      CASE WHEN e1.f = {AUDIO_FP_FRAMES - 2}
                           THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE (CAST(1 AS BIGINT) << e1.f) END
                      ELSE 0 END) AS BIGINT) AS afp
          FROM energy e1 JOIN energy e2
            ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
          GROUP BY 1
        ),
        ev AS (
          SELECT doc_id, list(e ORDER BY f) AS el FROM energy GROUP BY 1
        )"""


@register(
    "multimodal_audio_near_dup",
    "A6-ext-afp,J8-analog",
    "Energy-delta fingerprint near-dup over AUDIO media — the modality the "
    "visual dHash family excludes (audio has no raster): a 64-bit "
    "fingerprint whose bit k compares adjacent FRAME energies (e[k] < "
    "e[k+1]) over 65 equal time frames of the decoded waveform — the "
    "temporal analog of dHash's adjacent-block intensity ordering, and the "
    "shape behind production audio fingerprints (only the ordering of "
    "frame energies matters, so it survives re-encoding/volume changes). "
    "The stub waveform (per-frame codepoint-sum energy, total-normalized "
    "fixed point) is deterministic and SQL-replayable; an ffmpeg "
    "PCM/RMS decode drops into waveform_fn without touching fingerprint, "
    "blocking, or verify. Candidates ride the SAME size-adaptive "
    "pigeonhole machinery as the visual family (radius "
    f"{MM_AUDIO_MAX_HAMMING}; agreement level from the observed corpus "
    "count — see multimodal_near_dup; the shuffle carries (media, combo) "
    "rows, never O(n^2) pairs), then exact two-stage verify: "
    "bit_count(xor) on "
    f"the fingerprints, exact energy-L1 (<= {MM_AUDIO_L1_MAX}) over the "
    "65-frame vectors on survivors. With this, EVERY media modality "
    "deduplicates: text (MinHash/SimHash), embeddings (SemDeDup), visual "
    "(dHash), audio (energy-delta). The oracle replays waveform, "
    "fingerprint (signed-64 two's-complement), and both verifies "
    "end-to-end; the pigeonhole cover is complete within the radius, so "
    "the blocked output provably equals the oracle's full-join filter.",
    oracle=f"""
        WITH {_AUDIO_FP_CTES}
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming,
               CAST({_list_l1_sql("ea", "eb", AUDIO_FP_FRAMES, col="el")} AS BIGINT) AS energy_l1
        FROM afp a
        JOIN afp b ON a.doc_id < b.doc_id
        JOIN ev ea ON ea.doc_id = a.doc_id
        JOIN ev eb ON eb.doc_id = b.doc_id
        WHERE bit_count(xor(a.afp, b.afp)) <= {MM_AUDIO_MAX_HAMMING}
          AND {_list_l1_sql("ea", "eb", AUDIO_FP_FRAMES, col="el")} <= {MM_AUDIO_L1_MAX}
        ORDER BY a, b
    """,
)
def multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_fingerprint_media

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= AUDIO_FP_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    # the fingerprint is a 64-bit signature + long-array payload — exactly
    # the shape phash_near_dup_pairs blocks and verifies, so the audio
    # family reuses the operator verbatim under renamed columns
    sig = audio_fingerprint_media(media).select(
        "media_id",
        F.col("afp").alias("phash"),
        F.col("energy").alias("px"),
    )
    pairs = phash_near_dup_pairs(
        sig, max_hamming=MM_AUDIO_MAX_HAMMING, px_l1_max=MM_AUDIO_L1_MAX
    )
    return pairs.select(
        "a", "b", "hamming", F.col("px_l1").alias("energy_l1")
    ).orderBy("a", "b")


_PHASH_PAIRS_SQL = f"""
        pairs AS (
          SELECT a.doc_id AS a, b.doc_id AS b
          FROM ph a
          JOIN ph b ON a.doc_id < b.doc_id
          JOIN pxv pa ON pa.doc_id = a.doc_id
          JOIN pxv pb ON pb.doc_id = b.doc_id
          WHERE bit_count(xor(a.phash, b.phash)) <= {MM_MAX_HAMMING}
            AND list_sum(list_transform(generate_series(1, 72),
                 k -> abs(pa.pxl[k] - pb.pxl[k]))) <= {MM_PX_L1_MAX}
        )"""


@register(
    "multimodal_dedup_clusters",
    "A6-ext-phash,J8,F20-analog",
    "Visual near-dup CLUSTER assignment — the keep/drop decision that "
    "completes the perceptual-hash family end-to-end (hash -> verified "
    "pairs -> min-label connected components -> canonical representative), "
    "mirroring the text family's dedup_clusters: every visual media row "
    "labeled with its cluster representative (smallest media id) and "
    "cluster size; keep == (id == rep). Components run the pointer-"
    "jumping CC operator (rounds flat at 10x — same machinery as the "
    "MinHash clusters); the oracle replays raster, hash, pair verify, and "
    "a recursive-CTE transitive closure end-to-end.",
    oracle=f"""
        WITH RECURSIVE {_PHASH_CTES},
        {_PHASH_PAIRS_SQL},
        edges AS (
          SELECT a AS x, b AS y FROM pairs
          UNION
          SELECT b AS x, a AS y FROM pairs
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        ),
        rep AS (
          SELECT x, least(x, min(y)) AS component FROM reach GROUP BY x
        ),
        assign AS (
          SELECT v.doc_id AS media_id,
                 CAST(COALESCE(r.component, v.doc_id) AS BIGINT)
                   AS cluster_rep
          FROM vis v LEFT JOIN rep r ON r.x = v.doc_id
        ),
        csizes AS (
          SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
          FROM assign GROUP BY cluster_rep
        )
        SELECT assign.media_id, assign.cluster_rep, csizes.cluster_size,
               CAST(assign.media_id = assign.cluster_rep AS BOOLEAN) AS keep
        FROM assign JOIN csizes USING (cluster_rep)
        ORDER BY media_id
    """,
)
def multimodal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= PHASH_MIN_CHARS)
    )
    # visual media universe, derived JVM-side (no decode seam needed for
    # the id spine — only the pair list runs the raster/hash pipeline)
    vis = docs.filter(F.col("doc_id") % 3 != 1).select(
        F.col("doc_id").cast("long").alias("media_id")
    )
    pairs = _phash_pairs(spark, sf_dir).select("a", "b")
    cc = connected_components(pairs, "a", "b")
    assign = vis.join(cc, vis.media_id == cc.node, "left").select(
        "media_id",
        F.coalesce(F.col("component"), F.col("media_id")).alias("cluster_rep"),
    )
    sizes = assign.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    # O(corpus) output -> distributed orderBy
    return (
        assign.join(sizes, "cluster_rep")
        .select(
            "media_id",
            "cluster_rep",
            "cluster_size",
            (F.col("media_id") == F.col("cluster_rep")).alias("keep"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# WIDE (256-bit) perceptual hash — the pigeonhole level-cap escape (r10
# verdict task #2). DuckDB twin of operators.multimodal._stub_raster_wide +
# the 4-word dHash fold: wvis (visual media >= PHASH_WIDE_MIN_CHARS chars),
# wgrid (16-channel x 17-block scaled codepoint histogram), wph (the four
# signed-64 hash words), wpxv (the row-major 272-cell pixel list).
# ---------------------------------------------------------------------------

# Radius 24 of 256 bits (~9.4%, vs the 64-bit family's 8/64 = 12.5%): the
# 16x grid is finer-grained, so the same visual edit flips proportionally
# more gradient bits — 24 keeps the corpus's true near-dups inside the
# radius at every tested scale factor (minimum observed wide hamming: 13 at
# sf0.001, 18 at sf0.01, 0 at sf0.1). The escape math holds at this radius:
# the 256-bit ladder covers ~167k/3.3M/188M/13.7B signatures at levels
# 1-4 where the 64-bit radius-8 ladder saturates at ~8.7M (test-pinned).
MM_WIDE_MAX_HAMMING = 24
MM_WIDE_PX_L1_MAX = 262144

from ..operators.multimodal import (  # noqa: E402
    PHASH_WIDE_GRID_CH,
    PHASH_WIDE_GRID_W,
    PHASH_WIDE_MIN_CHARS,
    PHASH_WIDE_WORDS,
    phash_media_wide,
)

_WIDE_CELLS = PHASH_WIDE_GRID_CH * PHASH_WIDE_GRID_W
_WIDE_WORD_COLS = [f"w{j}" for j in range(PHASH_WIDE_WORDS)]


def _wide_word_sum_sql(j: int) -> str:
    """SUM term building hash word ``j`` (bits 64j..64j+63 of the 256-bit
    dHash) with the word's bit 63 riding the BIGINT sign."""
    k = f"(g.r * {PHASH_WIDE_GRID_W - 1} + g.c)"
    return (
        f"CAST(SUM(CASE WHEN g.px < g2.px AND {k} // 64 = {j} THEN "
        f"CASE WHEN {k} % 64 = 63 "
        f"THEN CAST(-9223372036854775808 AS BIGINT) "
        f"ELSE (CAST(1 AS BIGINT) << ({k} % 64)) END "
        f"ELSE 0 END) AS BIGINT) AS w{j}"
    )


_PHASH_WIDE_CTES = f"""
        wvis AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
          FROM documents
          WHERE text IS NOT NULL
            AND length(text) >= {PHASH_WIDE_MIN_CHARS}
            AND doc_id % 3 <> 1  -- audio rows have no raster
        ),
        wchars AS (
          SELECT doc_id, n,
                 generate_subscripts(string_split(text, ''), 1) AS i,
                 unnest(string_split(text, '')) AS ch
          FROM wvis
        ),
        wcellcnt AS (
          SELECT doc_id, n, unicode(ch) % {PHASH_WIDE_GRID_CH} AS r,
                 ((i - 1) * {PHASH_WIDE_GRID_W}) // n AS c,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM wchars GROUP BY 1, 2, 3, 4
        ),
        wspine AS (
          SELECT v.doc_id, v.n, r.r, c.c
          FROM wvis v,
               (SELECT unnest(generate_series(0, {PHASH_WIDE_GRID_CH - 1}))
                  AS r) r,
               (SELECT unnest(generate_series(0, {PHASH_WIDE_GRID_W - 1}))
                  AS c) c
        ),
        wgrid AS (
          SELECT s.doc_id, s.r, s.c,
                 (COALESCE(k.cnt, 0) * {PHASH_SCALE}) // s.n AS px
          FROM wspine s LEFT JOIN wcellcnt k
            ON k.doc_id = s.doc_id AND k.r = s.r AND k.c = s.c
        ),
        wph AS (
          SELECT g.doc_id,
                 {", ".join(_wide_word_sum_sql(j) for j in range(PHASH_WIDE_WORDS))}
          FROM wgrid g JOIN wgrid g2
            ON g2.doc_id = g.doc_id AND g2.r = g.r AND g2.c = g.c + 1
          GROUP BY 1
        ),
        wpxv AS (
          SELECT doc_id, list(px ORDER BY r, c) AS pxl FROM wgrid GROUP BY 1
        )"""



_WIDE_HAM_SQL = _wide_ham_sql("a", "b")
_WIDE_L1_SQL = _list_l1_sql("pa", "pb", _WIDE_CELLS)


@register(
    "multimodal_near_dup_wide",
    "A6-ext-phash,J8-analog",
    "256-bit perceptual-hash near-dup over visual media — the pigeonhole "
    "LEVEL-CAP ESCAPE (r10 verdict task #2, promised by the "
    "operators/dedup.py module comment): the same dHash construction over "
    "a 16x17 grid yields 256 gradient bits shipped as FOUR BIGINT words "
    "through the multi-word pigeonhole machinery "
    "(pigeonhole_buckets — blocks may straddle word boundaries; the "
    "join key is the c-combination's block values). At the same radius "
    f"({MM_WIDE_MAX_HAMMING}) every level's block width scales with the "
    "full 256 bits: level 1 blocks ~28-bit keys where the 64-bit family "
    "blocks ~7, so the chance-candidate budget holds to ~10^11 signatures "
    "where the 64-bit ladder saturates at ~1.6M and blows its budget past "
    "~8.7M (budget math + level-invariance pinned in "
    "tests/test_round11.py). Exact two-stage verify: summed per-word "
    "bit_count(xor) in the join projection, then the exact 272-cell pixel "
    f"L1 (<= {MM_WIDE_PX_L1_MAX}) on survivors. The oracle replays the "
    "wide raster, all four signed-64 hash words and both verifies against "
    "the naive all-pairs ground truth — hash equality proves the "
    "multi-word blocking loses no pair at whatever level the corpus "
    "picks.",
    oracle=f"""
        WITH {_PHASH_WIDE_CTES}
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST({_WIDE_HAM_SQL} AS BIGINT) AS hamming,
               CAST({_WIDE_L1_SQL} AS BIGINT) AS px_l1
        FROM wph a
        JOIN wph b ON a.doc_id < b.doc_id
        JOIN wpxv pa ON pa.doc_id = a.doc_id
        JOIN wpxv pb ON pb.doc_id = b.doc_id
        WHERE {_WIDE_HAM_SQL} <= {MM_WIDE_MAX_HAMMING}
          AND {_WIDE_L1_SQL} <= {MM_WIDE_PX_L1_MAX}
        ORDER BY a, b
    """,
)
def multimodal_near_dup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") >= PHASH_WIDE_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    sig = phash_media_wide(media)  # audio filtered JVM-side in the operator
    pairs = phash_near_dup_pairs(
        sig,
        _WIDE_WORD_COLS,
        max_hamming=MM_WIDE_MAX_HAMMING,
        px_l1_max=MM_WIDE_PX_L1_MAX,
    )
    # O(near-dup pairs) output on a dup-heavy corpus -> distributed orderBy
    return pairs.orderBy("a", "b")


MM_WIDE_ARR_RESIDUE = 8  # chosen so the cross-side wide pair set is
# non-empty at every tested scale factor (measured 2/1/5 pairs at
# sf0.001/0.01/0.1; residues 5/9 are empty at some sf)

_WIDE_INCR_ORACLE_SQL = f"""
        WITH {_PHASH_WIDE_CTES},
        cross_pairs AS (
          SELECT a.doc_id AS media_id, b.doc_id AS matched_media,
                 CAST({_WIDE_HAM_SQL} AS BIGINT) AS hamming,
                 CAST({_WIDE_L1_SQL} AS BIGINT) AS px_l1
          FROM wph a
          JOIN wph b ON a.doc_id % 10 = {MM_WIDE_ARR_RESIDUE}
                    AND b.doc_id % 10 <> {MM_WIDE_ARR_RESIDUE}
          JOIN wpxv pa ON pa.doc_id = a.doc_id
          JOIN wpxv pb ON pb.doc_id = b.doc_id
          WHERE {_WIDE_HAM_SQL} <= {MM_WIDE_MAX_HAMMING}
            AND {_WIDE_L1_SQL} <= {MM_WIDE_PX_L1_MAX}
        )
        SELECT media_id, matched_media, hamming, px_l1
        FROM (
          SELECT media_id, matched_media, hamming, px_l1,
                 row_number() OVER (
                   PARTITION BY media_id
                   ORDER BY hamming, px_l1, matched_media
                 ) AS rn
          FROM cross_pairs
        )
        WHERE rn = 1
        ORDER BY media_id
    """


@register(
    "multimodal_incremental_near_dup_wide",
    "A6-ext-phash,J8-analog",
    "Incremental-ingest WIDE visual near-dup gate — the 256-bit twin of "
    "multimodal_incremental_near_dup, completing the wide family's "
    "batch/incremental symmetry with the 64-bit family: the arriving "
    f"batch (doc_id % 10 = {MM_WIDE_ARR_RESIDUE}; residue chosen so the "
    "cross-side pair set is non-empty at every tested scale factor) "
    "blocks through the MULTI-WORD pigeonhole machinery against the "
    "EXISTING corpus only — the corpus pair space is never generated, so "
    "a day's batch costs O(batch + shared buckets) at any corpus size, "
    "with the level-cap-escape block widths (~24-bit keys at this radius "
    "and corpus size; the ladder covers ~13.7e9 signatures at level 4). "
    "Per arrival: its best corpus match by (lowest summed per-word "
    "Hamming, lowest exact 272-cell pixel L1, smallest corpus id). A "
    "perceptual hash depends only on the media's own pixels, so the "
    "oracle replays the full wide blocking restricted to cross-side "
    "pairs (complete within the radius at any level).",
    oracle=_WIDE_INCR_ORACLE_SQL,
)
def multimodal_incremental_near_dup_wide(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.multimodal import phash_cross_near_dups

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") >= PHASH_WIDE_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    # ONE decode-seam pass for both sides: persist, then split by id
    sig = scoped_persist(phash_media_wide(media))
    is_new = F.col("media_id") % 10 == MM_WIDE_ARR_RESIDUE
    pairs = phash_cross_near_dups(
        sig.filter(is_new),
        sig.filter(~is_new),
        _WIDE_WORD_COLS,
        max_hamming=MM_WIDE_MAX_HAMMING,
        px_l1_max=MM_WIDE_PX_L1_MAX,
    )
    best = (
        pairs.groupBy("a")
        .agg(
            F.min(
                F.struct(
                    F.col("hamming"), F.col("px_l1"), F.col("b").alias("m")
                )
            ).alias("w")
        )
        .select(
            F.col("a").alias("media_id"),
            F.col("w.m").alias("matched_media"),
            F.col("w.hamming").alias("hamming"),
            F.col("w.px_l1").alias("px_l1"),
        )
    )
    return best.orderBy("media_id")


# ---------------------------------------------------------------------------
# Cluster-SUMMARY emission for the WIDE and AUDIO pair families (r11 verdict
# task #2 — the same dup-quadratic bound r11 landed for text SimHash and
# embeddings, queries/clusters.py): collapse to DISTINCT (signature, grid)
# groups BEFORE pairing, pair over distinct nodes only, min-label connected
# components on the node graph, O(clusters) output. Unlike the SimHash
# family, these verifies include an exact secondary check (pixel / energy
# L1), so the collapse key must be the FULL (hash words, grid) pair — and
# then a group's members ALWAYS interlink (hamming 0, L1 0 clear any
# non-negative caps), so the node-graph closure equals the media-pair-graph
# closure exactly, with no degenerate self-link case to route around.
# ---------------------------------------------------------------------------


_WIDE_WORDS_COLS = ", ".join(f"w{j}" for j in range(PHASH_WIDE_WORDS))


@register(
    "multimodal_near_dup_wide_clusters",
    "A6-ext-phash,J8,A3-ext",
    "Cluster-summary emission for the WIDE (256-bit) visual family — the "
    "keep/drop artifact with O(clusters) output where the pair twin "
    "(multimodal_near_dup_wide) emits the dup-quadratic pair list: media "
    "collapse to DISTINCT (4-word dHash, 272-cell pixel grid) groups first "
    "(every member of an exact-dup pile shares both, so the edge space "
    "drops from O(cluster^2) media pairs to distinct-group pairs), the "
    "multi-word pigeonhole join + exact pixel-L1 verify run over distinct "
    "nodes only, and min-label connected components run on the node "
    "graph. Members attach through their group: identical (hash, grid) "
    f"pairs have summed Hamming 0 <= {MM_WIDE_MAX_HAMMING} and pixel L1 "
    f"0 <= {MM_WIDE_PX_L1_MAX}, so a group's members always interlink and "
    "the node-graph closure equals the media-pair-graph closure exactly "
    "(no degenerate case — unlike the embedding family's zero-norm "
    "routing). Output per cluster: representative (smallest media id), "
    "member count, distinct-signature-group count. The oracle replays the "
    "wide raster, the distinct-group collapse, the all-pairs ground truth "
    "over groups and a recursive-CTE closure.",
    oracle=f"""
        WITH RECURSIVE {_PHASH_WIDE_CTES},
        wsig AS (
          SELECT p.doc_id, {", ".join(f"p.w{j}" for j in range(PHASH_WIDE_WORDS))},
                 x.pxl
          FROM wph p JOIN wpxv x USING (doc_id)
        ),
        dv AS (
          SELECT {_WIDE_WORDS_COLS}, pxl,
                 CAST(MIN(doc_id) AS BIGINT) AS node
          FROM wsig GROUP BY {_WIDE_WORDS_COLS}, pxl
        ),
        ed AS (
          SELECT l.node AS x, r.node AS y
          FROM dv l JOIN dv r ON l.node < r.node
          WHERE {_wide_ham_sql("l", "r")} <= {MM_WIDE_MAX_HAMMING}
            AND {_list_l1_sql("l", "r", _WIDE_CELLS)} <= {MM_WIDE_PX_L1_MAX}
        ),
        edges AS (
          SELECT x, y FROM ed UNION SELECT y AS x, x AS y FROM ed
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        ),
        rep AS (SELECT x, least(x, min(y)) AS component
                FROM reach GROUP BY x),
        assign AS (
          SELECT s.doc_id, d.node, COALESCE(rp.component, d.node) AS ck
          FROM wsig s
          JOIN dv d ON {" AND ".join(f"s.w{j} = d.w{j}" for j in range(PHASH_WIDE_WORDS))}
                   AND s.pxl = d.pxl
          LEFT JOIN rep rp ON rp.x = d.node
        )
        SELECT CAST(MIN(doc_id) AS BIGINT) AS cluster_rep,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct_sigs
        FROM assign
        GROUP BY ck
        ORDER BY cluster_rep
    """,
)
def multimodal_near_dup_wide_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.cluster import connected_components
    from ..lifecycle import scoped_persist

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") >= PHASH_WIDE_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    # ONE decode-seam pass feeds the collapse AND the member attach
    sig = scoped_persist(phash_media_wide(media))
    dv = scoped_persist(
        sig.groupBy(*_WIDE_WORD_COLS, "px").agg(
            F.min("media_id").cast("bigint").alias("node")
        )
    )
    pairs = phash_near_dup_pairs(
        dv.select(F.col("node").alias("media_id"), *_WIDE_WORD_COLS, "px"),
        _WIDE_WORD_COLS,
        max_hamming=MM_WIDE_MAX_HAMMING,
        px_l1_max=MM_WIDE_PX_L1_MAX,
    ).select("a", "b")
    ccr = connected_components(pairs, "a", "b").select(
        F.col("node").alias("cc_node"), "component"
    )
    assign = (
        sig.join(dv, [*_WIDE_WORD_COLS, "px"])
        .join(ccr, F.col("node") == F.col("cc_node"), "left")
        .select(
            "media_id",
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("ck"),
        )
    )
    # O(clusters) output <= O(media) -> distributed orderBy
    return (
        assign.groupBy("ck")
        .agg(
            F.min("media_id").cast("bigint").alias("cluster_rep"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.countDistinct("node").cast("bigint").alias("n_distinct_sigs"),
        )
        .select("cluster_rep", "cluster_size", "n_distinct_sigs")
        .orderBy("cluster_rep")
    )


@register(
    "multimodal_audio_dup_clusters",
    "A6-ext-afp,J8,A3-ext",
    "Cluster-summary emission for the AUDIO energy-delta family — the "
    "keep/drop artifact with O(clusters) output where the pair twin "
    "(multimodal_audio_near_dup) emits the dup-quadratic pair list: audio "
    "media collapse to DISTINCT (64-bit fingerprint, 65-frame energy "
    "vector) groups first, the size-adaptive pigeonhole join + exact "
    "energy-L1 verify run over distinct nodes only (the SAME operator as "
    "the pair twin under renamed columns), and min-label connected "
    "components run on the node graph. Members attach through their "
    "group: an identical (fingerprint, energy) pair has Hamming 0 <= "
    f"{MM_AUDIO_MAX_HAMMING} and energy L1 0 <= {MM_AUDIO_L1_MAX}, so a "
    "group's members always interlink and the node-graph closure equals "
    "the media-pair-graph closure exactly. Output per cluster: "
    "representative (smallest media id), member count, distinct-"
    "fingerprint-group count. The oracle replays waveform, fingerprint, "
    "the distinct-group collapse, the all-pairs ground truth over groups "
    "and a recursive-CTE closure.",
    oracle=f"""
        WITH RECURSIVE {_AUDIO_FP_CTES},
        asig AS (
          SELECT a.doc_id, a.afp, e.el AS pxl
          FROM afp a JOIN ev e USING (doc_id)
        ),
        dv AS (
          SELECT afp, pxl, CAST(MIN(doc_id) AS BIGINT) AS node
          FROM asig GROUP BY afp, pxl
        ),
        ed AS (
          SELECT l.node AS x, r.node AS y
          FROM dv l JOIN dv r ON l.node < r.node
          WHERE CAST(bit_count(xor(l.afp, r.afp)) AS BIGINT)
                  <= {MM_AUDIO_MAX_HAMMING}
            AND {_list_l1_sql("l", "r", AUDIO_FP_FRAMES)} <= {MM_AUDIO_L1_MAX}
        ),
        edges AS (
          SELECT x, y FROM ed UNION SELECT y AS x, x AS y FROM ed
        ),
        reach AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e2.y FROM reach r JOIN edges e2 ON r.y = e2.x
        ),
        rep AS (SELECT x, least(x, min(y)) AS component
                FROM reach GROUP BY x),
        assign AS (
          SELECT s.doc_id, d.node, COALESCE(rp.component, d.node) AS ck
          FROM asig s
          JOIN dv d ON s.afp = d.afp AND s.pxl = d.pxl
          LEFT JOIN rep rp ON rp.x = d.node
        )
        SELECT CAST(MIN(doc_id) AS BIGINT) AS cluster_rep,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct_sigs
        FROM assign
        GROUP BY ck
        ORDER BY cluster_rep
    """,
)
def multimodal_audio_dup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.cluster import connected_components
    from ..lifecycle import scoped_persist
    from ..operators.multimodal import audio_fingerprint_media

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= AUDIO_FP_MIN_CHARS)
    )
    media = attach_media_columns(docs, "doc_id", "text")
    # ONE decode-seam pass; renamed to the (phash, px) shape the shared
    # blocking/verify operator consumes (the pair twin's convention)
    sig = scoped_persist(
        audio_fingerprint_media(media).select(
            "media_id",
            F.col("afp").alias("phash"),
            F.col("energy").alias("px"),
        )
    )
    dv = scoped_persist(
        sig.groupBy("phash", "px").agg(
            F.min("media_id").cast("bigint").alias("node")
        )
    )
    pairs = phash_near_dup_pairs(
        dv.select(F.col("node").alias("media_id"), "phash", "px"),
        max_hamming=MM_AUDIO_MAX_HAMMING,
        px_l1_max=MM_AUDIO_L1_MAX,
    ).select("a", "b")
    ccr = connected_components(pairs, "a", "b").select(
        F.col("node").alias("cc_node"), "component"
    )
    assign = (
        sig.join(dv, ["phash", "px"])
        .join(ccr, F.col("node") == F.col("cc_node"), "left")
        .select(
            "media_id",
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("ck"),
        )
    )
    # O(clusters) output <= O(media) -> distributed orderBy
    return (
        assign.groupBy("ck")
        .agg(
            F.min("media_id").cast("bigint").alias("cluster_rep"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.countDistinct("node").cast("bigint").alias("n_distinct_sigs"),
        )
        .select("cluster_rep", "cluster_size", "n_distinct_sigs")
        .orderBy("cluster_rep")
    )
