"""Data-selection operators: DSIR importance weighting, BM25 ranking,
Bloom-filter membership prefilters, and BPE merge-pair counting.

These are the *selection* layer of a pre-training data pipeline — after the
per-document signals (operators/text.py) and dedup passes (operators/dedup.py)
decide what is clean, these decide what is *wanted*: which documents look like
a target domain (DSIR, Xie et al. 2023, arXiv:2302.03169), which documents
answer a query (BM25), which incoming keys can skip the expensive dedup join
(Bloom), and which symbol pairs a BPE tokenizer would merge first (Sennrich et
al. 2016, arXiv:1508.07909).

Cross-engine determinism discipline (shared with operators/dedup.py and
queries/curation.py):

- every hash is the first 8 sha256/md5 hex chars (``hash64``) — never
  xxhash64/murmur, which DuckDB cannot replay;
- no ``ln()``/``exp()`` anywhere (libm is cross-engine unstable in the last
  ulp). DSIR's log-likelihood-ratio sum is replaced by the log-free mean of
  exact-integer probability ratios (same monotone family as
  queries/curation.py ``unigram_lm_doc_scores``), and BM25's ``log`` idf by
  the rational idf (N - df + .5)/(df + .5) — a monotone transform of the
  Robertson idf, identical ranking per term;
- every probability is ONE IEEE divide of exactly-computed integers
  (DECIMAL(38,0) products Spark-side, HUGEINT products in the oracle), and
  every per-document mean goes through floor-to-micro fixed point.

Scale shape at 100 TB:

- DSIR: the feature table is explode-heavy but map-side; bucket counts
  aggregate to ``n_buckets`` rows (constant), broadcast back. One keyed
  shuffle on doc_id for the per-doc mean.
- BM25: the postings build filters to the query's terms AT THE SCAN (a
  handful of terms), so the shuffled stream is query-sized, not corpus-sized.
- Bloom: the position set is ≤ m rows (constant, sized to the corpus FP
  budget); the batch probe is a broadcast semi-join — the corpus is touched
  once to build, never again per probe batch.
- BPE: pair counting runs over the *word-frequency table* (Zipf-bounded,
  ≪ corpus), exactly as the original algorithm prescribes — the token
  stream collapses to (word, count) first, so merge iterations never rescan
  the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..lifecycle import free
from .dedup import hash64, words

# ---------------------------------------------------------------------------
# DSIR hashed-feature importance
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096


def hashed_bigram_features(
    df: DataFrame, text_col: str, id_col: str, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """One row per adjacent-token bigram occurrence: (id, bucket).

    The DSIR paper's hashed n-gram feature map: bigrams of the whitespace
    token stream, hashed into ``buckets`` counting buckets. NULL/short texts
    yield zero rows (explode of an empty sequence).
    """
    ws = words(F.col(text_col))
    return (
        df.select(F.col(id_col), ws.alias("_ws"))
        .select(
            id_col,
            # guarded: Spark's sequence(1, n) DESCENDS for n < 1, so a
            # single-token doc must explode to zero rows, not [1, 0]
            F.explode(
                F.expr(
                    "CASE WHEN size(_ws) >= 2 THEN sequence(1, size(_ws) - 1)"
                    " ELSE array() END"
                )
            ).alias("_i"),
            F.col("_ws"),
        )
        .select(
            id_col,
            (
                hash64(
                    "dsir|",
                    F.concat(
                        F.expr("_ws[_i - 1]"), F.lit(" "), F.expr("_ws[_i]")
                    ),
                )
                % F.lit(buckets)
            ).alias("bucket"),
        )
    )


def dsir_bucket_weights(
    feats: DataFrame,
    target_ids: DataFrame,
    id_col: str,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-bucket importance weight: Laplace-smoothed target/raw ratio.

    weight(b) = ((ct+1) * (Tr+B)) / ((cr+1) * (Tt+B)) — numerator and
    denominator computed EXACTLY as DECIMAL(38,0) (bigint multiply can wrap
    silently with ANSI off), then one IEEE divide. ct/cr are the bucket's
    feature counts in the target/raw streams, Tt/Tr the stream totals,
    B the bucket count (add-1 smoothing mass). Returns ``buckets``-bounded
    rows (missing buckets carry the no-evidence weight implicitly — join
    type at the call site decides the fill).
    """
    raw = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        feats.join(target_ids, id_col, "left_semi")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    per = (
        raw.join(tgt, "bucket", "left")
        .withColumn("ct", F.coalesce(F.col("ct"), F.lit(0)))
    )
    totals = per.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    dec = "decimal(38,0)"
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                ((F.col("ct") + 1).cast(dec) * (F.col("tr") + buckets).cast(dec))
                .cast("double")
                / ((F.col("cr") + 1).cast(dec) * (F.col("tt") + buckets).cast(dec))
                .cast("double")
            ).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership prefilter
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 20
BLOOM_K = 4


def bloom_positions(key: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """The key's k bit positions — k independent sha256-derived hashes mod m.

    Returned as a list of Columns so callers can explode or array-pack.
    A production bitmap sizes m to the corpus (m ≈ 1.44 · n · ln2⁻¹ · bits
    per FP-rate decade); the RELATIONAL twin here keeps the set as distinct
    position rows, which bounds state at min(k·n, m) rows regardless of
    corpus size.
    """
    return [
        (hash64(f"bloom{i}|", key) % F.lit(m_bits)).alias(f"pos{i}")
        for i in range(k)
    ]


def bloom_build(df: DataFrame, key_col: str, m_bits: int = BLOOM_M_BITS,
                k: int = BLOOM_K) -> DataFrame:
    """Distinct bit positions lit by the corpus keys — the filter itself."""
    pos = bloom_positions(F.col(key_col), m_bits, k)
    stacked = df.select(
        F.explode(F.array(*[p for p in pos])).alias("pos")
    )
    return stacked.distinct()


def bloom_probe(batch: DataFrame, bloom: DataFrame, key_col: str,
                m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> DataFrame:
    """Membership test: a key passes iff ALL k positions are lit.

    One explode to (key, pos), a semi-join against the (broadcastable)
    position set, and a hit-count compare — the batch is touched once.
    Returns the batch with a boolean ``bloom_pass``.
    """
    pos = bloom_positions(F.col(key_col), m_bits, k)
    probes = batch.select(
        key_col, F.explode(F.array(*pos)).alias("pos")
    )
    hits = (
        probes.join(F.broadcast(bloom), "pos", "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return (
        batch.join(hits, key_col, "left")
        .withColumn("bloom_pass", F.coalesce(F.col("_hits"), F.lit(0)) == k)
        .drop("_hits")
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting / fitting
# ---------------------------------------------------------------------------


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) — the Zipf-bounded table BPE training iterates over."""
    return (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def adjacent_pair_counts(vocab: DataFrame) -> DataFrame:
    """Symbol-pair counts over a (word → symbols array, cnt) table.

    ``vocab`` must have columns ``syms: array<string>`` and ``cnt: bigint``.
    One map-side explode; the aggregate carries ≤ |distinct pairs| rows.
    """
    return (
        vocab.select(
            "cnt",
            # guarded: sequence(1, 0) descends in Spark — 1-symbol words
            # must yield zero pairs
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) >= 2 THEN sequence(1, size(syms) - 1)"
                    " ELSE array() END"
                )
            ).alias("_i"),
            F.col("syms"),
        )
        .select(
            F.concat(
                F.expr("syms[_i - 1]"), F.lit(" "), F.expr("syms[_i]")
            ).alias("pair"),
            "cnt",
        )
        .groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
    )


def chars_vocab(freq: DataFrame) -> DataFrame:
    """Split each word into single-character symbols (the BPE start state)."""
    return freq.select(
        "word",
        F.expr(
            "filter(split(word, ''), s -> s <> '')"
        ).alias("syms"),
        "cnt",
    )


# The committed tokenizer model: 24 merges learned over the sf0.1
# ``documents`` word-frequency table by the exact algorithm ``bpe_fit``
# implements (ties broken lexicographically). Frozen as literals the same
# way production tokenizers ship (the merges file IS the model artifact)
# and the same way the SRP family freezes its projection planes —
# cross-engine constants both the Spark query and the DuckDB oracle apply.
# tests/test_selection.py re-derives this list from the corpus with the
# pure-Python reference, so silent drift against the data fails CI.
BPE_MERGES_SF01: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("i", "n"), ("o", "r"), ("s", "t"), ("o", "w"),
    ("t", "a"), ("l", "u"), ("m", "er"), ("a", "r"), ("p", "ar"),
    ("u", "p"), ("par", "k"), ("s", "park"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("g", "e"), ("mer", "ge"), ("b", "l"), ("bl", "e"),
    ("ta", "ble"), ("c", "o"), ("co", "lu"), ("colu", "m"),
)


def bpe_encode_sql(base_expr: str,
                   merges: tuple[tuple[str, str], ...] = BPE_MERGES_SF01,
                   ) -> str:
    """Merge application as ONE SQL expression, valid verbatim on Spark AND
    DuckDB: a chain of plain ``replace`` calls over the space-encoded symbol
    string.

    Encoding: each symbol wrapped in single spaces, so adjacent symbols are
    separated by a DOUBLE space and the string carries single-space
    sentinels at both ends (``base_expr`` must produce that shape — see
    :func:`bpe_symbols_sql` / :func:`bpe_symbols_spark`). Replacing
    ``' L  R '`` with ``' LR '`` then collapses exactly the adjacent
    non-overlapping (L, R) pairs left-to-right — the scan resumes AFTER each
    replacement, and because the pattern consumes one space of each double
    separator while the replacement restores it, consecutive pairs
    (``a a a a`` -> ``aa aa``) chain correctly. Symbols cannot contain
    spaces (whitespace tokenization), so a pattern can never match across a
    symbol boundary. No UDF, no loop — 24 merges = 24 nested JVM/DuckDB
    string scans over a word-sized string.
    """
    expr = base_expr
    for left, right in merges:
        expr = f"replace({expr}, ' {left}  {right} ', ' {left}{right} ')"
    return expr


def bpe_symbols_spark(word_col: str) -> str:
    """Spark SQL: the space-encoded character-symbol string of a word."""
    return (
        f"concat(' ', concat_ws('  ', filter(split({word_col}, ''),"
        " s -> s <> '')), ' ')"
    )


def bpe_symbols_duck(word_col: str) -> str:
    """DuckDB twin of :func:`bpe_symbols_spark` (substr-based char split,
    the same convention bpe_merge_candidates' oracle uses)."""
    return (
        f"' ' || array_to_string(list_transform("
        f"generate_series(1, length({word_col})),"
        f" i -> substr({word_col}, i, 1)), '  ') || ' '"
    )


def bpe_fit(freq: DataFrame, n_merges: int) -> list[tuple[str, int]]:
    """Learn ``n_merges`` BPE merges over a word-frequency table.

    The classic algorithm (count pairs → merge argmax → repeat), with the
    argmax tie broken lexicographically for determinism. Each iteration is
    one bounded aggregate over the vocabulary table (≪ corpus — the corpus
    was scanned exactly once to build ``freq``); the merge itself is a
    JVM-side higher-order rewrite of the symbol arrays, no Python in the
    loop. Returns the learned merge list [(pair, count)] — the tokenizer
    model. Mirrors the fixed-point iteration pattern of operators/kmeans.py
    (driver loop, data-sized state stays distributed).
    """
    vocab = chars_vocab(freq).select("syms", "cnt")
    merges: list[tuple[str, int]] = []
    for _ in range(n_merges):
        top = (
            adjacent_pair_counts(vocab)
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < 2:
            break
        pair, cnt = top[0]["pair"], int(top[0]["pair_count"])
        merges.append((pair, cnt))
        left, right = pair.split(" ", 1)
        merged = left + right
        # collapse every non-overlapping left+right adjacency, left to right:
        # an aggregate-style fold the JVM runs per row — no shuffle at all.
        next_vocab = vocab.select(
            F.expr(
                "aggregate(syms, array(cast(null as string)), (acc, s) -> "
                f"  CASE WHEN element_at(acc, -1) = '{left}' AND s = '{right}' "
                f"       THEN concat(slice(acc, 1, size(acc) - 1), array('{merged}')) "
                "       ELSE concat(acc, array(s)) END, "
                "acc -> slice(acc, 2, size(acc) - 1))"
            ).alias("syms"),
            "cnt",
        ).localCheckpoint()
        free(vocab)  # the superseded round; unpersist() never reaches it
        vocab = next_vocab
    free(vocab)
    return merges
