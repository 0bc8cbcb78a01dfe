"""Deduplication operators (engine extension, BASELINE.json north star).

Large-scale training-data dedup over a ``documents``-shaped table:

- **exact**: hash-groupBy on a content digest — one shuffle on the digest,
  keep min-id representative.
- **MinHash + LSH near-dup**: word n-gram shingles → K minhashes → banded
  signatures → candidate pairs via band-bucket self-join → exact Jaccard
  verification on the candidates only. At 100 TB the band join shuffles
  only (doc, band-hash) pairs and candidate verification touches a tiny
  fraction of the corpus — never the O(n²) pair space.
- **SimHash**: per-word hash bit-voting → compact signature; equal-signature
  buckets are near-dup candidates.

All hashing is sha256/md5-based (not Spark's murmur) so signatures are
engine-independent — the DuckDB oracles reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..lifecycle import fan_out, scoped_persist
from ..lifecycle import release_scoped_caches  # noqa: F401  (re-exported for harnesses)


def words(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles; short docs (<n words) shingle to the whole text."""
    return shingles_from_words(words(text), n)


def shingles_from_words(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a pre-tokenized word array.

    Prefer binding ``w`` to a materialized column: every reference here is
    repeated (3×n inside the gram transform), and inlining a full tokenizer
    expression at each reference bloats the generated code (slow Janino
    compiles) and re-tokenizes per gram.
    """
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(w, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(w) >= n, grams).otherwise(F.array(F.concat_ws(" ", w)))


def hash64(prefix: Column | str, value: Column) -> Column:
    """Deterministic 32-bit-range hash: first 8 hex chars of sha256, as BIGINT.

    Cross-engine reproducible (DuckDB: CAST(concat('0x', substr(sha256(..),1,8))
    AS BIGINT)) — unlike Spark's xxhash64/murmur.
    """
    p = F.lit(prefix) if isinstance(prefix, str) else prefix
    return F.conv(F.substring(F.sha2(F.concat(p, value), 256), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by sha256(text): one row per digest (min id), dup count."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs, distinct per doc.

    NULL text yields ZERO shingle rows — a NULL document has no content.
    This is distinct from the EMPTY string, whose whole-text fallback is
    the ``''`` shingle, and it is load-bearing for cross-engine parity:
    without the filter Spark's ``concat_ws`` renders NULL words as ``''``
    while DuckDB's ``array_to_string(NULL)`` stays NULL, so a NULL doc
    would gram-match every empty doc on one engine and nothing on the
    other (caught by tests/test_extensions.py unicode/NULL parity probe).
    The oracle twin (queries/dedup.py::_shingles_cte) filters identically.

    Repartitions the input first: document files are small relative to
    ``spark.sql.files.maxPartitionBytes``, so a raw scan often lands on a
    handful of partitions and the (CPU-heavy) shingle+hash work would not
    fan out across the cluster. One cheap row shuffle buys full parallelism.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))
        .filter(F.col("_text").isNotNull())
        .repartition(parallelism, F.col("doc"))
        .select("doc", words(F.col("_text")).alias("_w"))
        .select(
            "doc",
            F.explode(F.array_distinct(shingles_from_words(F.col("_w"), n))).alias(
                "sh"
            ),
        )
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 12
) -> DataFrame:
    """doc → K minhash values (one groupBy; map-side partial min).

    The K hash functions are disjoint 8-hex-char (32-bit) windows of
    ``ceil(K/8)`` sha256 digests — 2 digests yield 12 independent hashes
    instead of 12 separate sha256 evaluations, cutting both per-row hashing
    and generated-code size. The digests are materialized as columns before
    the aggregate so each window references a bound column.
    """
    n_digests = (num_hashes + 7) // 8
    with_digests = shingles.select(
        "doc",
        *[
            F.sha2(F.concat(F.lit(f"{d}:"), F.col("sh")), 256).alias(f"_d{d}")
            for d in range(n_digests)
        ],
    )
    aggs = []
    for j in range(num_hashes):
        d, w = divmod(j, 8)
        window = F.conv(F.substring(F.col(f"_d{d}"), w * 8 + 1, 8), 16, 10).cast(
            "long"
        )
        aggs.append(F.min(window).alias(f"h{j}"))
    return with_digests.groupBy("doc").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 12, bands: int = 3
) -> DataFrame:
    """Banded LSH: docs sharing any band hash become candidate pairs (a < b).

    All bands are emitted in ONE pass over the signatures (explode of a
    (band, band-hash) struct array) — a per-band union would re-evaluate the
    upstream minhash aggregation once per band.
    """
    buckets = band_buckets(signatures, num_hashes, bands)
    left = buckets.select(F.col("doc").alias("a"), "band", "bh")
    right = buckets.select(F.col("doc").alias("b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def band_buckets(
    signatures: DataFrame, num_hashes: int = 12, bands: int = 3
) -> DataFrame:
    """(doc, band, band-hash) bucket assignments, all bands in one pass."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col("doc"), F.explode(band_structs).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def lsh_cross_candidates(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    num_hashes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """Incremental-ingest candidate pairs: NEW-batch docs against the
    EXISTING corpus only — ``(a=new doc, b=corpus doc)`` sharing any LSH
    band. The production shape for continuous ingestion: the corpus side's
    pair space is never generated (band buckets join across sides only), so
    a day's batch costs O(batch + matching buckets) regardless of corpus
    size. Minhash signatures depend only on a doc's own shingles, so the
    candidate set equals the full-corpus banding restricted to cross-side
    pairs — which is what the DuckDB oracle replays."""
    left = band_buckets(sig_new, num_hashes, bands).select(
        F.col("doc").alias("a"), "band", "bh"
    )
    right = band_buckets(sig_corpus, num_hashes, bands).select(
        F.col("doc").alias("b"), "band", "bh"
    )
    return left.join(right, ["band", "bh"]).select("a", "b").distinct()


def jaccard_verify(
    candidates: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs only; returns (a, b, jaccard)."""
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        candidates.join(
            shingles.select(F.col("doc").alias("a"), F.col("sh").alias("sh")), "a"
        )
        .join(
            shingles.select(F.col("doc").alias("b"), F.col("sh").alias("sh")),
            ["b", "sh"],
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("a"), F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("n_sh").alias("nb")), "b")
        .select(
            "a",
            "b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-dup: shingle → minhash → LSH bands → Jaccard verify.

    The shingle table feeds four downstream consumers (signature mins, both
    sides of the intersection join, and the per-doc sizes) — persist it so the
    explode+hash work runs once. On a cluster this would be a checkpoint of
    the shingle shuffle; in-memory persistence is the local[] equivalent.

    Cache lifetime contract: the persists are scoped to ONE execution of the
    returned plan and registered for :func:`release_scoped_caches` — callers
    that run many queries in a shared session (bench, parity harness) call it
    between queries. persist() defaults to MEMORY_AND_DISK_DESER, so even an
    unreleased cache spills rather than evicting hot blocks.
    """
    sh = scoped_persist(shingle_table(df, id_col, text_col, shingle_n))
    sigs = minhash_signatures(sh, num_hashes)
    cands = scoped_persist(lsh_candidate_pairs(sigs, num_hashes, bands))
    return jaccard_verify(cands, sh, threshold)


def word_hashes(text: Column) -> Column:
    """Per-distinct-word 32-bit hashes (sha256-derived), as an array<long>."""
    return F.transform(F.array_distinct(words(text)), lambda x: hash64("w:", x))


def simhash_from_hashes(hashes: Column, n_bits: int = 16) -> Column:
    """``n_bits``-wide SimHash from a pre-materialized word-hash array
    (bit-voting; word hashes are 32-bit, so ``n_bits`` <= 32).

    Bind ``hashes`` to a real column: the per-bit vote aggregates each
    reference it, and inlining tokenize+sha256 at every site would hash
    every word ``n_bits``× per row and bloat codegen.
    """
    bits = []
    for b in range(n_bits):
        votes = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1),
        )
        bits.append(F.when(votes > 0, F.lit(1 << b)).otherwise(0))
    out = bits[0]
    for bit in bits[1:]:
        out = out + bit
    return out.cast("long")


# ---------------------------------------------------------------------------
# Adaptive pigeonhole Hamming blocking (r9 verdict task #1): one bucket
# function (pigeonhole_buckets) and one pair function (hamming_pairs), self-
# and cross-side, behind every signature width — the 32-bit SimHash family
# here and the 64-bit pHash, 64-bit audio-fingerprint and 256-bit wide pHash
# families in operators/multimodal.py. This comment is the one home of the
# completeness argument and the level budget.
#
# Classic pigeonhole (agreement level 1): split an n_bits signature into
# max_hamming + 1 disjoint blocks; a pair within the radius agrees EXACTLY on
# >= 1 block, so an equality join on (block_idx, block_bits) finds every
# pair. Its scale blind spot: block width is n_bits/(h+1) REGARDLESS of
# corpus size, so uniform-hash chance candidates grow ~ C * n^2 / 2^width —
# fine at 10^4 signatures, saturating at 10^6+ (the last corpus-size-blind
# blocking parameter after r9 made kNN/SemDeDup cells occupancy-adaptive).
#
# The adaptive generalization (multi-index Hamming search, Norouzi et al.
# 2012): at agreement level c, split into m = max_hamming + c blocks and join
# on every C(m, c) combination of c blocks. Completeness is the same
# pigeonhole argument: a pair within radius h differs in at most h of the m
# blocks, hence agrees fully on >= m - h = c blocks, hence at least one
# c-combination agrees on ALL its blocks — the join finds every pair at ANY
# level, so the result set is level-invariant (test-pinned) and the all-pairs
# SQL oracles need no replay of the blocking. What the level buys: join-key
# width grows ~ c * n_bits / m bits, so chance candidates shrink by ~2^width
# while key rows per signature grow only polynomially (C(m, c)); the level is
# chosen from the observed corpus size so expected chance candidates per
# signature stay within a fixed budget at any scale. Beyond
# PIGEONHOLE_MAX_LEVEL the scheme stays CORRECT (it degrades in candidate
# volume, never in recall) — the documented lever past that point is a wider
# signature (256-bit pHash / 64-bit SimHash), which raises every level's
# block width at the same blocking machinery.
# ---------------------------------------------------------------------------

# Budget: expected UNIFORM-hash chance candidates per signature. Level c is
# the smallest with n * C(m, c) <= PIGEONHOLE_TARGET * 2^(min combined key
# width). For 64-bit signatures at radius 8 the ladder steps near n = 58k /
# 373k / 1.6M; for 32-bit SimHash at radius 2 near n = 1.4M / 45M. The
# budget is MEASURED, not guessed: on the sf1 replica (33k visual
# signatures, 74M level-1 raw candidates) level 1 still wins wall-clock
# (2.2s vs 3.4s for the candidate join — codegen chews cheap candidates at
# ~35M rows/s while level 2 pays 5x bucket rows through the shuffle), so
# the first step sits just past the measured local[32] crossover; at n =
# 100k the level-1 candidate term alone is ~10x that and level 2 wins.
PIGEONHOLE_TARGET = 4096
PIGEONHOLE_MAX_LEVEL = 4
# Multi-word fan-out path switch: at most this many c-combinations ride the
# whole-stage-codegen struct explode (fastest); past it Janino would OOM on
# the generated code (~1000-struct ceiling measured), so the fan-out ships
# as a broadcast combos TABLE instead — same (bi, bv) output (ADVICE r11)
PIGEONHOLE_CODEGEN_COMBOS = 512


def _pigeonhole_widths(n_bits: int, n_blocks: int) -> tuple[list[int], list[int]]:
    """(widths, shifts) of ``n_blocks`` disjoint blocks covering ``n_bits``."""
    base, rem = divmod(n_bits, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    return widths, [sum(widths[:i]) for i in range(n_blocks)]


def pigeonhole_expected_chance(
    n: int, n_bits: int, max_hamming: int, level: int
) -> float:
    """Worst-case EXPECTED chance candidates per signature at ``level`` under
    the uniform-hash model — the quantity :func:`pigeonhole_level` budgets
    (``n * C(m, c) / 2^w_min``, w_min = the narrowest c-combination's
    combined width). Exposed so tests can pin where a signature width's
    level ladder saturates and where a wider signature escapes."""
    from math import comb

    m = max_hamming + level
    widths, _ = _pigeonhole_widths(n_bits, m)
    w_min = sum(sorted(widths)[:level])
    return n * comb(m, level) / (1 << w_min)


def pigeonhole_level(n: int, n_bits: int, max_hamming: int) -> int:
    """Smallest agreement level whose expected chance-candidate count per
    signature stays within ``PIGEONHOLE_TARGET``; capped at
    ``PIGEONHOLE_MAX_LEVEL`` (correct but wider buckets beyond — see the
    block comment above)."""
    for c in range(1, PIGEONHOLE_MAX_LEVEL):
        chance = pigeonhole_expected_chance(n, n_bits, max_hamming, c)
        if chance <= PIGEONHOLE_TARGET:
            return c
    return PIGEONHOLE_MAX_LEVEL


def pigeonhole_buckets(
    df: DataFrame,
    word_cols: list[str],
    n_bits: int,
    max_hamming: int,
    level: int,
) -> DataFrame:
    """One row per (input row, c-block combination): the input columns plus
    ``bi`` (combination index) and ``bv`` (the equality-join key). The
    ``n_bits`` signature ships as ``len(word_cols)`` BIGINT words (word 0 =
    bits 0..63 LSB-first, word 1 = bits 64..127, ...), so every level's
    block width scales with the full signature: at radius 8 a 256-bit
    signature blocks ~28-bit keys at level 1 where 64 bits block ~7.

    Blocks may straddle word boundaries; extraction is JVM-side shift/mask
    arithmetic stitching the low word's high bits to the high word's low
    bits (arithmetic shift + mask, so a signed-64 top block extracts
    correctly). A one-word signature packs the combination's block values
    into one non-negative long; a wider one renders them as a ','-joined
    decimal string, since c block values can exceed 63 packed bits."""
    from itertools import combinations

    n_words = len(word_cols)
    if n_bits > 64 * n_words:
        raise ValueError(f"n_bits={n_bits} > 64 * {n_words} words")
    m = max_hamming + level
    widths, shifts = _pigeonhole_widths(n_bits, m)
    if max(widths) >= 64:
        # a >= 64-bit block's mask/shift arithmetic leaves LongType (the
        # literal (1<<64)-1 overflows, shiftleft wraps mod 64) — the caller
        # must raise the level so every block fits one word's arithmetic:
        # m = radius + level > n_words. hamming_pairs floors its adaptive
        # level accordingly; an explicit too-low level is a caller bug and
        # fails HERE with the fix named instead of as an opaque
        # NumberFormatException at execution.
        raise ValueError(
            f"pigeonhole_buckets: {m} blocks over {n_bits} bits gives "
            f"{max(widths)}-bit blocks; need max_hamming + level > {n_words} "
            f"(use level >= {n_words - max_hamming + 1})"
        )

    def word(i: int) -> Column:
        return F.col(word_cols[i])

    def block(i: int) -> Column:
        lo_w, lo_off = divmod(shifts[i], 64)
        width = widths[i]
        if lo_off + width <= 64:
            return F.shiftright(word(lo_w), lo_off).bitwiseAND(
                F.lit((1 << width) - 1)
            )
        lo_bits = 64 - lo_off
        hi_bits = width - lo_bits
        lo = F.shiftright(word(lo_w), lo_off).bitwiseAND(
            F.lit((1 << lo_bits) - 1)
        )
        hi = word(lo_w + 1).bitwiseAND(F.lit((1 << hi_bits) - 1))
        return F.shiftleft(hi, lo_bits).bitwiseOR(lo)

    def key(combo: tuple[int, ...]) -> Column:
        if n_words == 1:
            bv = block(combo[0])
            for i in combo[1:]:
                bv = F.shiftleft(bv, widths[i]).bitwiseOR(block(i))
            return bv.cast("long")
        return F.concat_ws(",", *[block(i).cast("string") for i in combo])

    combos = list(combinations(range(m), level))
    cols = df.columns
    # a one-word key is a packed long, which only this path renders
    if n_words == 1 or len(combos) <= PIGEONHOLE_CODEGEN_COMBOS:
        # shallow levels (every level the adaptive ladder reaches below
        # ~hundreds of millions of signatures): per-combination struct
        # explode — whole-stage-codegen'd shift/mask expressions, the
        # cheapest plan (measured ~0.7 s faster than the data-driven path
        # on the sf0.1 wide family at level 1)
        structs = [
            F.struct(F.lit(j).alias("bi"), key(combo).alias("bv"))
            for j, combo in enumerate(combos)
        ]
        return df.select("*", F.explode(F.array(*structs)).alias("_b")).select(
            *cols, F.col("_b.bi").alias("bi"), F.col("_b.bv").alias("bv")
        )
    # DEEP levels: C(m, c) struct expressions in one projection fail Janino
    # codegen past ~1000 generated structs — 2925 at (radius 24, level 3) —
    # so past PIGEONHOLE_CODEGEN_COMBOS the fan-out ships as DATA instead of
    # code: the row projection computes the m block values ONCE into an
    # array (O(m) codegen at any level), and a broadcast (bi, combo) table —
    # one row per c-combination — fans rows out via a nested-loop join;
    # ``bv`` renders by indexing the block array with the combo,
    # byte-identical to the shallow path's concat_ws(',') key, so the pair
    # output is level-invariant across both paths (test-pinned).
    combos_df = df.sparkSession.createDataFrame(
        [(j, list(c)) for j, c in enumerate(combos)],
        "bi int, _combo array<int>",
    )
    blocks = F.array(*[block(i).cast("long") for i in range(m)])
    return (
        df.select("*", blocks.alias("_blk"))
        .crossJoin(F.broadcast(combos_df))
        .select(
            *cols,
            "bi",
            F.array_join(
                F.transform(
                    F.col("_combo"),
                    lambda i: F.element_at(F.col("_blk"), i + F.lit(1)).cast(
                        "string"
                    ),
                ),
                ",",
            ).alias("bv"),
        )
    )


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    word_cols: list[str],
    n_bits: int,
    max_hamming: int,
    corpus: DataFrame | None = None,
    level: int | None = None,
) -> DataFrame:
    """(a, b, hamming) pairs within ``max_hamming`` of an ``n_bits``
    signature held in ``word_cols`` — the one blocking+verify core behind
    every Hamming near-dup family (32-bit SimHash, 64-bit pHash and audio
    fingerprint, 256-bit wide pHash).

    ``corpus=None`` self-joins ``sig`` and keeps ``a < b``; otherwise the
    pairs are ``(a=sig row, b=corpus row)`` across the two sides only — an
    arriving batch against an existing corpus never generates the corpus
    side's own pair space. ``level=None`` derives the agreement level once
    from the count of the corpus side (or the only side), floored so every
    block fits one word's arithmetic; both sides always block at the same
    level. The caller persists the counted frame when its lineage is
    expensive — the count then also warms the persist before the join.
    Verification is exact: summed per-word ``bit_count(xor)`` in the join
    projection, BEFORE the distinct, so failed candidates never enter the
    dedup shuffle (the expensive step when buckets are duplication-skewed).
    """
    n_words = len(word_cols)
    if level is None:
        level = max(
            pigeonhole_level(
                (sig if corpus is None else corpus).count(),
                n_bits,
                max_hamming,
            ),
            n_words - max_hamming + 1,
        )

    def buckets(df: DataFrame) -> DataFrame:
        # the id may itself be the signature (distinct-signature graphs)
        return pigeonhole_buckets(
            df.select(*dict.fromkeys([id_col, *word_cols])),
            word_cols,
            n_bits,
            max_hamming,
            level,
        )

    def side(b: DataFrame, id_name: str, prefix: str) -> DataFrame:
        return b.select(
            F.col(id_col).alias(id_name),
            *[F.col(w).alias(f"{prefix}{i}") for i, w in enumerate(word_cols)],
            "bi",
            "bv",
        )

    own = buckets(sig)
    left = side(own, "a", "sa")
    right = side(own if corpus is None else buckets(corpus), "b", "sb")
    cands = left.join(right, ["bi", "bv"])
    if corpus is None:
        cands = cands.filter(F.col("a") < F.col("b"))
    ham = " + ".join(f"bit_count(sa{i} ^ sb{i})" for i in range(n_words))
    return (
        cands.select("a", "b", F.expr(ham).cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a surviving pair can collide in several combinations
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 32,
    max_hamming: int = 2,
    level: int | None = None,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of an
    ``n_bits``-wide SimHash, without ever touching the O(n²) pair space:
    :func:`hamming_pairs` over the persisted (doc, signature) table, whose
    count derives the agreement level when ``level=None``. The result set
    is level-invariant, so the all-pairs oracle needs no blocking replay.

    Default 32-bit signatures keep chance collisions negligible
    (P[hamming<=2] ~ 1.2e-7 per random pair), so candidates ≈ true near-dups.
    """
    # Scoped persist: the self-join below consumes the signature table twice
    # (left/right branches), and without it each branch recomputes the
    # sha256-per-word signature chain — the dominant cost of this operator.
    # The persisted table is tiny: (doc, signature) per document.
    # fan_out BEFORE the signature chain: a documents file under the scan
    # split size lands on one partition, and the sha256-per-word + n_bits
    # bit-vote fold would fill the persist single-task (guide §2).
    sig = scoped_persist(
        fan_out(
            df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t")),
            "doc",
        )
        .select("doc", word_hashes(F.col("_t")).alias("_hl"))
        .select("doc", simhash_from_hashes(F.col("_hl"), n_bits).alias("s"))
    )
    return hamming_pairs(sig, "doc", ["s"], n_bits, max_hamming, level=level)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.6,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index self-join.

    Candidate generation joins docs on SHARED RARE shingles only: shingles
    with document frequency > ``max_doc_freq`` are excluded from pairing
    (a shingle appearing in k docs would emit k² candidate pairs — the
    classic quadratic blowup on stop-gram buckets). Verification then runs
    EXACT Jaccard over the full shingle sets of the candidates, so scores
    are unbiased; only pairs whose overlap is exclusively ultra-common
    shingles can be missed, and such pairs sit far below any useful
    threshold anyway. This is the standard DF-pruning trade on inverted-
    index similarity joins at corpus scale.
    """
    sh = scoped_persist(shingle_table(df, id_col, text_col, shingle_n))
    doc_freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(
        doc_freq.filter(F.col("df") <= max_doc_freq).select("sh"), "sh"
    )
    cands = (
        rare.select(F.col("doc").alias("a"), "sh")
        .join(rare.select(F.col("doc").alias("b"), "sh"), "sh")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return jaccard_verify(cands, sh, threshold)


def containment_verify(
    candidates: DataFrame, shingles: DataFrame, threshold_pct: int = 80
) -> DataFrame:
    """Exact shingle CONTAINMENT on candidate pairs: |A∩B| / |A| (and /|B|)
    — the asymmetric near-dup measure Jaccard misses when a small document
    sits inside a much larger one (quote, excerpt, boilerplate wrapper):
    their union dwarfs the intersection, so Jaccard stays low while
    containment of the smaller side is ~1. A pair qualifies when the
    LARGER containment (= inter / min(|A|,|B|)) clears ``threshold_pct`` —
    an exact integer cross-multiplication, no float threshold."""
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # The shingle sides must NEVER be broadcast-built: the planner's
    # estimate for the projected (doc, sh) relation undershoots wildly once
    # the corpus grows (measured: a 2.6M-row shingle broadcast at the 10x
    # replica — minutes of build, then driver OOM). The candidate list is
    # O(near-dups) — linear in the corpus, so broadcasting IT is equally
    # wrong at scale; shuffle_hash pins both joins to keyed shuffles, which
    # is the correct 100 TB plan (co-partition on doc, then on (doc, sh)).
    # "merge" (sort-merge), not "shuffle_hash": SHJ builds a per-partition
    # hash map of the build side, which under memory pressure dies exactly
    # where SMJ spills gracefully.
    inter = (
        candidates.join(
            shingles.select(F.col("doc").alias("a"), F.col("sh").alias("sh"))
            .hint("merge"),
            "a",
        )
        .join(
            shingles.select(F.col("doc").alias("b"), F.col("sh").alias("sh"))
            .hint("merge"),
            ["b", "sh"],
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc").alias("a"), F.col("n_sh").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc").alias("b"), F.col("n_sh").alias("nb")), "b"
        )
        .filter(
            F.lit(100) * F.col("inter")
            >= F.lit(threshold_pct) * F.least("na", "nb")
        )
        .select(
            "a",
            "b",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.col("inter").cast("bigint").alias("n_common"),
            (F.col("inter").cast("double") / F.col("na")).alias(
                "containment_a"
            ),
            (F.col("inter").cast("double") / F.col("nb")).alias(
                "containment_b"
            ),
        )
    )
