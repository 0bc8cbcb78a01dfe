"""Deduplication queries over the ``documents`` table (engine extension).

Covers the training-data dedup family from BASELINE.json: exact hash dedup,
MinHash+LSH near-dup with exact n-gram-Jaccard verification, and SimHash
signature bucketing. Every stage is hash/sha256-based (never Spark-internal
murmur/xxhash) so the DuckDB oracles reproduce the pipelines bit-for-bit.

Scale notes (100 TB posture):
- exact dedup is one shuffle on the 64-hex digest — uniformly distributed
  keys, no skew, map-side partial agg.
- minhash signatures are one groupBy(doc) with K partial mins; the LSH band
  join shuffles only (band, band-hash) pairs, and exact Jaccard runs on the
  candidate set only — the O(n²) pair space is never materialized.
- simhash is shuffle-free per doc (bit-voting over a word array), then one
  tiny signature-histogram aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import session_cached
from ..operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_from_hashes,
    simhash_hamming_pairs,
    word_hashes,
)
from ..sources.tpch import load_table
from .helpers import ordered_small
from .registry import register

# DuckDB twins of operators/dedup.py primitives, shared across oracles below.
_WORDS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"

def _shingles_cte(n: int) -> str:
    # text IS NOT NULL mirrors operators/dedup.py::shingle_table: NULL docs
    # have zero shingles on BOTH engines (see the parity note there)
    gram = ", ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
  w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
        WHERE text IS NOT NULL),
  sh AS (
    SELECT DISTINCT doc_id AS doc,
           unnest(CASE WHEN len(ws) >= {n}
                  THEN list_transform(generate_series(1, len(ws) - {n - 1}),
                       i -> concat_ws(' ', {gram}))
                  ELSE [array_to_string(ws, ' ')] END) AS sh
    FROM w
  )
"""


_SHINGLES_CTE = _shingles_cte(3)


def _hash64_sql(prefix: str, expr: str) -> str:
    """DuckDB twin of operators.dedup.hash64 (first 8 sha256 hex chars as i64)."""
    return (
        f"CAST(concat('0x', substr(sha256(concat('{prefix}', {expr})), 1, 8)) AS BIGINT)"
    )


@register(
    "dedup_exact",
    "A6,F20",
    "Exact dedup by sha256(text): one row per content digest with the kept "
    "(min) doc id and copy count. Single shuffle on a uniform 64-hex key.",
    oracle="""
        SELECT sha256(text) AS content_sha,
               min(doc_id) AS keep_id,
               count(*) AS copies
        FROM documents
        GROUP BY 1
        ORDER BY content_sha
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Output is O(distinct docs) — corpus-sized — so the deterministic order
    # must stay a DISTRIBUTED range sort (orderBy), never a repartition(1)
    # funnel; the sort's sampling pass re-reads the groupBy's shuffle files,
    # it does not recompute the aggregation.
    return exact_dedup(docs, "text", "doc_id").orderBy("content_sha")


# Full MinHash+LSH near-dup pair pipeline as reusable CTEs ending in
# ``pairs(a, b, jaccard)`` — consumed by the dedup_minhash_lsh oracle and by
# the dedup_clusters connected-components oracle (queries/clusters.py).
MINHASH_PAIRS_CTES = f"""{_SHINGLES_CTE},
        digs AS (
          SELECT doc,
                 sha256(concat('0:', sh)) AS d0,
                 sha256(concat('1:', sh)) AS d1
          FROM sh
        ),
        sigs AS (
          SELECT doc,
                 {", ".join(
                    f"min(CAST(concat('0x', substr(d{j // 8}, {(j % 8) * 8 + 1}, 8)) AS BIGINT)) AS h{j}"
                    for j in range(12)
                 )}
          FROM digs GROUP BY doc
        ),
        buckets AS (
          {" UNION ALL ".join(
            "SELECT doc, " + str(b) + " AS band, md5(concat_ws(',', "
            + ", ".join(f"CAST(h{b * 4 + r} AS VARCHAR)" for r in range(4))
            + ")) AS bh FROM sigs"
            for b in range(3)
          )}
        ),
        cands AS (
          SELECT DISTINCT l.doc AS a, r.doc AS b
          FROM buckets l JOIN buckets r ON l.band = r.band AND l.bh = r.bh
          WHERE l.doc < r.doc
        ),
        sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
        inter AS (
          SELECT c.a, c.b, count(*) AS i
          FROM cands c
          JOIN sh sa ON sa.doc = c.a
          JOIN sh sb ON sb.doc = c.b AND sb.sh = sa.sh
          GROUP BY c.a, c.b
        ),
        pairs AS (
          SELECT inter.a, inter.b,
                 CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc = inter.a
          JOIN sizes sb ON sb.doc = inter.b
          WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.5
        )"""


@register(
    "dedup_minhash_lsh",
    "A6,F20,J8",
    "MinHash+LSH near-duplicate detection: word 3-gram shingles → 12 minhashes "
    "(8-hex windows of 2 sha256 digests) → 3-band LSH candidate pairs → exact "
    "n-gram Jaccard verification at >= 0.5. Candidate-only verification keeps "
    "the pair space linear in true near-dups.",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES}
        SELECT a, b, jaccard FROM pairs ORDER BY a, b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Near-dup pairs are Θ(corpus) on a duplicated crawl, so the total order
    # must be a DISTRIBUTED range sort — never a repartition(1) funnel. The
    # sort re-reads the materialized pair checkpoint, not the pipeline.
    return near_dup_pairs_cached(spark, sf_dir).orderBy("a", "b")


def near_dup_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified pair list three queries consume (dedup_minhash_lsh,
    dedup_clusters, pagerank_dup_graph), checkpointed once per corpus
    (session scope) — the in-memory analogue of a production pipeline
    writing near-dup pairs to the lake once per corpus snapshot and reading
    them many times. O(near-dup pairs) rows, kilobytes at bench scale."""
    return session_cached(
        spark,
        sf_dir,
        "near_dup_pairs",
        lambda: minhash_near_dup_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            num_hashes=12, bands=3, threshold=0.5, shingle_n=3,
        ).localCheckpoint(eager=True),
    )


@register(
    "dedup_ngram_jaccard",
    "A6,J8,F20",
    "Exact word-bigram Jaccard near-dup join: inverted-index candidate "
    "generation on shared shingles (document-frequency-capped at 50 to kill "
    "the quadratic stop-gram blowup), then exact Jaccard >= 0.6 over the "
    "candidates' full shingle sets.",
    oracle=f"""
        WITH {_shingles_cte(2)},
        dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
        rare AS (
          SELECT s.doc, s.sh FROM sh s JOIN dfreq f ON s.sh = f.sh
          WHERE f.df <= 50
        ),
        cands AS (
          SELECT DISTINCT l.doc AS a, r.doc AS b
          FROM rare l JOIN rare r ON l.sh = r.sh
          WHERE l.doc < r.doc
        ),
        sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
        inter AS (
          SELECT c.a, c.b, count(*) AS i
          FROM cands c
          JOIN sh sa ON sa.doc = c.a
          JOIN sh sb ON sb.doc = c.b AND sb.sh = sa.sh
          GROUP BY c.a, c.b
        )
        SELECT inter.a, inter.b,
               CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = inter.a
        JOIN sizes sb ON sb.doc = inter.b
        WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.6
        ORDER BY a, b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Θ(corpus) pair list on duplicated input → distributed orderBy (see
    # dedup_minhash_lsh above and the HARD RULE in helpers.ordered_small).
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=2, threshold=0.6, max_doc_freq=50
    ).orderBy("a", "b")


@register(
    "dedup_simhash",
    "A6,A7,F20",
    "SimHash signature profile: 16-bit bit-voting signature per doc (word-hash "
    "majority vote), aggregated to a signature histogram. Equal-signature "
    "buckets with bucket_size > 1 are the near-dup candidate sets.",
    oracle=f"""
        WITH w AS (
          SELECT doc_id, list_distinct({_WORDS_SQL}) AS ws FROM documents
        ),
        hs AS (
          SELECT doc_id,
                 list_transform(ws, x -> {_hash64_sql("w:", "x")}) AS hl
          FROM w
        ),
        sig AS (
          SELECT doc_id,
                 ({" + ".join(
                    f"(CASE WHEN list_sum(list_transform(hl, "
                    f"h -> CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END)) > 0 "
                    f"THEN {1 << b} ELSE 0 END)"
                    for b in range(16)
                 )}) AS simhash
          FROM hs
        )
        SELECT CAST(simhash AS BIGINT) AS simhash,
               count(*) AS bucket_size,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM sig
        GROUP BY 1
        ORDER BY simhash
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    buckets = (
        docs.select(F.col("doc_id"), word_hashes(F.col("text")).alias("_hl"))
        .select(
            F.col("doc_id"), simhash_from_hashes(F.col("_hl")).alias("simhash")
        )
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("bucket_size"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
    # O(corpus) buckets: distributed orderBy, not a single-partition funnel.
    return buckets.orderBy("simhash")


def _sig_cte(n_bits: int) -> str:
    """DuckDB twin of simhash_from_hashes over distinct lowercased words."""
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hl, "
        f"h -> CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"""
  w AS (SELECT doc_id, list_distinct({_WORDS_SQL}) AS ws FROM documents),
  hs AS (
    SELECT doc_id, list_transform(ws, x -> {_hash64_sql("w:", "x")}) AS hl
    FROM w
  ),
  sig AS (SELECT doc_id, ({votes}) AS simhash FROM hs)
"""


@register(
    "dedup_simhash_hamming",
    "A6,J8,F20",
    "SimHash Hamming-distance near-dup pairs: 32-bit bit-voting signatures, "
    "SIZE-ADAPTIVE pigeonhole candidate join (multi-index Hamming, r9 "
    "verdict task #1: at agreement level c the signature splits into "
    "radius+c disjoint blocks joined on every c-block combination — a pair "
    "within Hamming<=2 agrees fully on >= 1 combination at any level, and "
    "the level derives from the observed corpus count so join-key width "
    "grows with the corpus: ~10 key bits to 1.4M docs, ~16 to 45M — never "
    "the O(n^2) pair space), exact bit_count(xor) verification. The oracle "
    "is the naive all-pairs ground truth, so hash-equality proves the "
    "blocking scheme loses no pair at whatever level the corpus picks.",
    oracle=f"""
        WITH {_sig_cte(32)}
        SELECT l.doc_id AS a, r.doc_id AS b,
               CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
        FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        WHERE bit_count(xor(l.simhash, r.simhash)) <= 2
        ORDER BY a, b
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # CHANCE collisions are negligible at 32 bits, but near-dup pair counts
    # are quadratic in true duplication (this corpus: ~1.2M pairs at sf0.1)
    # — O(corpus) output, so ordering must stay a distributed range sort.
    return simhash_hamming_pairs(
        docs, "doc_id", "text", n_bits=32, max_hamming=2
    ).orderBy("a", "b")


@register(
    "dedup_incremental_batch",
    "A6,J8,F20",
    "Incremental-ingest near-dup gate: the arriving batch (doc_id % 10 = 9) "
    "banded-joined against the EXISTING corpus only — the corpus pair space "
    "is never generated, so a day's batch costs O(batch + shared buckets) "
    "regardless of corpus size (operators/dedup.py::lsh_cross_candidates). "
    "Per new doc: its best corpus match (highest exact Jaccard, tie to the "
    "smallest corpus id). Oracle replays the full banding restricted to "
    "cross-split pairs — valid because a doc's minhash signature depends "
    "only on its own shingles.",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES},
        cross_pairs AS (
          SELECT CASE WHEN a % 10 = 9 THEN a ELSE b END AS doc_id,
                 CASE WHEN a % 10 = 9 THEN b ELSE a END AS matched_doc,
                 jaccard
          FROM pairs
          WHERE (a % 10 = 9) <> (b % 10 = 9)
        )
        SELECT doc_id, matched_doc, jaccard
        FROM (
          SELECT doc_id, matched_doc, jaccard,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY jaccard DESC, matched_doc
                 ) AS rn
          FROM cross_pairs
        )
        WHERE rn = 1
        ORDER BY doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.dedup import (
        jaccard_verify,
        lsh_cross_candidates,
        minhash_signatures,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = scoped_persist(shingle_table(docs, "doc_id", "text", 3))
    is_new = F.col("doc") % 10 == 9
    cands = lsh_cross_candidates(
        minhash_signatures(sh.filter(is_new)),
        minhash_signatures(sh.filter(~is_new)),
    )
    verified = jaccard_verify(cands, sh, 0.5)
    # best corpus match per new doc via MAX over a comparison struct (full
    # map-side combine — no per-doc window sort); tie on jaccard breaks to
    # the SMALLEST corpus id, hence the negated id inside the struct.
    return (
        verified.groupBy("a")
        .agg(F.max(F.struct(F.col("jaccard"), (-F.col("b")).alias("nb"))).alias("m"))
        .select(
            F.col("a").alias("doc_id"),
            (-F.col("m.nb")).alias("matched_doc"),
            F.col("m.jaccard").alias("jaccard"),
        )
        .orderBy("doc_id")
    )


@register(
    "minhash_containment_pairs",
    "A6-analog,J8-analog",
    "Asymmetric near-dup by shingle CONTAINMENT over the MinHash+LSH "
    "candidate pairs: |A∩B|/min(|A|,|B|) >= 80% (exact integer "
    "cross-multiplication) — catches excerpt/boilerplate-wrapper pairs "
    "whose Jaccard stays low because the union is dominated by the larger "
    "doc. Shares the shingle/signature/banding machinery (and its "
    "candidates-only pair space) with the Jaccard family; only the "
    "verification predicate differs.",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES}
        SELECT inter.a, inter.b,
               CAST(sa.n_sh AS BIGINT) AS n_a,
               CAST(sb.n_sh AS BIGINT) AS n_b,
               CAST(i AS BIGINT) AS n_common,
               CAST(i AS DOUBLE) / sa.n_sh AS containment_a,
               CAST(i AS DOUBLE) / sb.n_sh AS containment_b
        FROM inter
        JOIN sizes sa ON sa.doc = inter.a
        JOIN sizes sb ON sb.doc = inter.b
        WHERE 100 * i >= 80 * least(sa.n_sh, sb.n_sh)
        ORDER BY a, b
    """,
)
def minhash_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lifecycle import scoped_persist
    from ..operators.dedup import (
        containment_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = scoped_persist(shingle_table(docs, "doc_id", "text"))
    cands = scoped_persist(lsh_candidate_pairs(minhash_signatures(sh)))
    return ordered_small(containment_verify(cands, sh), "a", "b")
