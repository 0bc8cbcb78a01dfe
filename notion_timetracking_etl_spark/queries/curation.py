"""Corpus-curation planning queries (engine extension).

The decision layer a pre-training data pipeline runs AFTER the per-document
signals (queries/text.py) and dedup passes (queries/dedup.py) exist: which
sources to trust, how a tokenizer behaves per language, which documents an
n-gram LM flags as gibberish, and how to mix languages into a training
budget. Absent from the reference (its corpus is API-pulled workspace rows,
not web text) but first-class here per BASELINE.json's training-data scope.

Scale shape at 100 TB:

- ``source_reputation_summary``: one uniform-key shuffle (sha256 content
  fingerprint) to find duplicate buckets, then a sources-sized rollup —
  never doc×doc.
- ``tokenizer_fertility_by_lang``: pure per-row counting, one partial-agg
  shuffle carrying ≤ |langs| rows per partition.
- ``unigram_lm_doc_scores``: the classic two-pass LM score — vocabulary
  build (term shuffle, map-side combined) then a term join back to the
  token stream. The vocabulary is Zipf-bounded (≪ corpus), so AQE
  broadcasts it in practice; the plan never materializes doc×vocab.
- ``corpus_mixture_plan``: aggregates to |langs| rows, then scalar
  arithmetic against one broadcast row.

FP parity: no libm calls anywhere (cf. text_tfidf_terms' note — ln() is
cross-engine unstable in the last ulp). Every ratio is a single IEEE divide
of exactly-computed integers, and every mean of computed doubles goes
through helpers.davg_floor_micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..operators.dedup import words
from ..operators.text import fingerprint, quality_score, token_count, word_count
from ..sources.tpch import load_table
from .helpers import davg_floor_micros, davg_floor_micros_sql, ordered_small
from .registry import register
from .text import (
    _FINGERPRINT_SQL,
    _QUALITY_SCORE_SQL,
    _TOKEN_COUNT_SQL,
    _WORD_COUNT_SQL,
)

# Whitespace-token stream shared with the dedup family (operators/dedup.py
# ``words`` and queries/dedup.py ``_WORDS_SQL``): NULL text explodes to zero
# rows on both engines (Spark explode skips NULL arrays; DuckDB unnest(NULL)
# yields none).
_TOKS_CTE = r"""
  toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents
    WHERE text IS NOT NULL
  )
"""


@register(
    "source_reputation_summary",
    "ext:curation,A6,A7,J8-analog",
    "Domain-level curation table: per source, document/token volume, "
    "language breadth, exact-duplicate incidence (normalized-content "
    "sha256 appearing >1x corpus-wide), and mean quality — the table a "
    "RefinedWeb-style source allow/block list is cut from. One shuffle on "
    "the uniform fingerprint key, then a sources-sized rollup.",
    oracle=f"""
        WITH fps AS (
          SELECT source,
                 {_FINGERPRINT_SQL} AS fp,
                 CAST({_TOKEN_COUNT_SQL} AS BIGINT) AS n_tokens,
                 {_QUALITY_SCORE_SQL} AS q,
                 lang
          FROM documents
        ),
        buckets AS (SELECT fp, COUNT(*) AS n FROM fps GROUP BY 1)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(CASE WHEN buckets.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_docs,
               CAST(SUM(CASE WHEN buckets.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS dup_ratio,
               {davg_floor_micros_sql("q", "avg_quality")}
        FROM fps JOIN buckets USING (fp)
        GROUP BY source
        ORDER BY source
    """,
)
def source_reputation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    fps = docs.select(
        "source",
        fingerprint(t).alias("fp"),
        token_count(t).cast("bigint").alias("n_tokens"),
        quality_score(t).alias("q"),
        "lang",
    )
    buckets = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    joined = fps.join(buckets, "fp")
    dup = F.when(F.col("n") > 1, 1).otherwise(0)
    return ordered_small(
        joined.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum(dup).cast("bigint").alias("dup_docs"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
            davg_floor_micros(F.col("q")).alias("avg_quality"),
        ),
        "source",
    )


@register(
    "tokenizer_fertility_by_lang",
    "ext:curation,A3,A7",
    "Tokenizer fertility report per declared language: BPE-ish tokens per "
    "whitespace word (the 'fertility' every tokenizer paper tables) and "
    "characters per token, from exact corpus-wide integer sums with one "
    "IEEE divide each. Pure per-row counting; the shuffle carries |langs| "
    "rows per partition after map-side combine.",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST({_WORD_COUNT_SQL} AS BIGINT)) AS BIGINT)
                 AS n_words,
               CAST(SUM(CAST({_TOKEN_COUNT_SQL} AS BIGINT)) AS BIGINT)
                 AS n_tokens,
               CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars,
               CASE WHEN SUM(CAST({_WORD_COUNT_SQL} AS BIGINT)) <> 0 THEN
                 CAST(SUM(CAST({_TOKEN_COUNT_SQL} AS BIGINT)) AS DOUBLE)
                   / SUM(CAST({_WORD_COUNT_SQL} AS BIGINT)) END
                 AS tokens_per_word,
               CASE WHEN SUM(CAST({_TOKEN_COUNT_SQL} AS BIGINT)) <> 0 THEN
                 CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE)
                   / SUM(CAST({_TOKEN_COUNT_SQL} AS BIGINT)) END
                 AS chars_per_token
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    per_doc = docs.select(
        "lang",
        word_count(t).cast("bigint").alias("w"),
        token_count(t).cast("bigint").alias("k"),
        F.length(t).cast("bigint").alias("c"),
    )
    return ordered_small(
        per_doc.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.sum("c").cast("bigint").alias("n_chars"),
            # Explicit zero-guard, not try_divide: a pure-punctuation or
            # whitespace-only language bucket has zero tokens, and the two
            # engines disagree on bare x/0 (Spark ANSI raises, DuckDB
            # differs by type) — CASE WHEN is engine-independent NULL.
            F.when(
                F.sum("w") != 0, F.sum("k").cast("double") / F.sum("w")
            ).alias("tokens_per_word"),
            F.when(
                F.sum("k") != 0, F.sum("c").cast("double") / F.sum("k")
            ).alias("chars_per_token"),
        ),
        "lang",
    )


@register(
    "unigram_lm_doc_scores",
    "ext:curation,A1-analog,J1-analog",
    "Unigram-LM document scoring (the CCNet quality pass, log-free): build "
    "the corpus unigram model (term -> count / total), then score every "
    "document by its mean inverse token probability — a monotone stand-in "
    "for perplexity that needs one IEEE divide per VOCAB term instead of a "
    "libm ln() per token (cross-engine unstable in the last ulp; cf. "
    "text_tfidf_terms). High scores = rare-token gibberish, low = stopword "
    "soup. Two passes: vocab build (term shuffle, map-side combined; "
    "Zipf-bounded output), then a vocab join back to the token stream — "
    "AQE broadcasts the small side; never doc x vocab.",
    oracle=f"""
        WITH {_TOKS_CTE},
        vocab AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY 1),
        tot AS (SELECT SUM(tf) AS n_total FROM vocab),
        inv AS (
          SELECT term, CAST(n_total AS DOUBLE) / tf AS inv_p
          FROM vocab, tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               {davg_floor_micros_sql("inv_p", "mean_inv_p")}
        FROM toks JOIN inv USING (term)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def unigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n_total"))
    inv = vocab.crossJoin(F.broadcast(total)).select(
        "term", (F.col("n_total").cast("double") / F.col("tf")).alias("inv_p")
    )
    return (
        toks.join(inv, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            davg_floor_micros(F.col("inv_p")).alias("mean_inv_p"),
        )
        .orderBy("doc_id")
    )


# Target language mix for the training run — the fractions every pre-training
# spec pins up front. Declared literally so the Spark CASE chain and the
# DuckDB oracle share the exact double constants.
_MIX_WEIGHTS: dict[str, float] = {
    "en": 0.4,
    "zh": 0.15,
    "de": 0.15,
    "es": 0.15,
    "fr": 0.15,
}


@register(
    "corpus_mixture_plan",
    "ext:curation,A3,O1",
    "Data-mixture plan: given target language weights, find the largest "
    "epoch-1 token budget the corpus supports without upsampling (the "
    "bottleneck language's available/weight), then per language the target "
    "token count and the sampling rate to hit it — the table a dataloader "
    "mixture config is generated from. Aggregates to |langs| rows, then "
    "scalar arithmetic vs one broadcast min row; unmixed languages get "
    "weight 0 and drop from the budget.",
    oracle=f"""
        WITH avail AS (
          SELECT lang,
                 CAST(SUM(CAST({_WORD_COUNT_SQL} AS BIGINT)) AS BIGINT)
                   AS available_tokens,
                 CASE lang
                   {" ".join(f"WHEN '{k}' THEN CAST({w} AS DOUBLE)"
                             for k, w in _MIX_WEIGHTS.items())}
                   ELSE CAST(0.0 AS DOUBLE) END AS weight
          FROM documents
          GROUP BY lang
        ),
        budget AS (
          SELECT MIN(CAST(available_tokens AS DOUBLE) / weight) AS b
          FROM avail WHERE weight > CAST(0.0 AS DOUBLE)
        )
        SELECT lang, available_tokens, weight,
               CAST(floor(weight * b) AS BIGINT) AS target_tokens,
               CAST(floor(weight * b) AS DOUBLE) / available_tokens
                 AS sample_rate
        FROM avail, budget
        ORDER BY lang
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weight = F.lit(0.0)
    for k, w in reversed(_MIX_WEIGHTS.items()):
        weight = F.when(F.col("lang") == k, F.lit(float(w))).otherwise(weight)
    avail = docs.groupBy("lang").agg(
        F.sum(word_count(F.col("text")).cast("bigint"))
        .cast("bigint")
        .alias("available_tokens")
    ).withColumn("weight", weight)
    budget = (
        avail.filter(F.col("weight") > 0.0)
        .agg(
            F.min(
                F.col("available_tokens").cast("double") / F.col("weight")
            ).alias("b")
        )
    )
    target = F.floor(F.col("weight") * F.col("b"))
    return ordered_small(
        avail.crossJoin(F.broadcast(budget)).select(
            "lang",
            "available_tokens",
            "weight",
            target.cast("bigint").alias("target_tokens"),
            (
                target.cast("double") / F.col("available_tokens")
            ).alias("sample_rate"),
        ),
        "lang",
    )


TOTAL_TOKEN_BUDGET = 200_000  # target training budget (tokens)
MAX_EPOCHS = 4.0  # repetition cap per language


@register(
    "corpus_epoch_plan",
    "ext:curation,A3,O1",
    "Epoch/repetition plan — the upsampling complement to "
    "corpus_mixture_plan: given a FIXED total token budget and the same "
    "language weights, each language needs weight*budget tokens; "
    "epochs = needed/available, CAPPED at the repetition limit (4 epochs "
    "— past that, repetition hurts more than it helps), with the "
    "unfillable remainder reported as shortfall_tokens. Aggregates to "
    "|langs| rows then pure scalar arithmetic: every ratio is one IEEE "
    "divide of exactly-computed integers on both engines.",
    oracle=f"""
        WITH avail AS (
          SELECT lang,
                 CAST(SUM(CAST({_WORD_COUNT_SQL} AS BIGINT)) AS BIGINT)
                   AS available_tokens,
                 CASE lang
                   {" ".join(f"WHEN {chr(39)}{k}{chr(39)} THEN CAST({w} AS DOUBLE)" for k, w in _MIX_WEIGHTS.items())}
                   ELSE CAST(0.0 AS DOUBLE) END AS weight
          FROM documents
          GROUP BY lang
        )
        SELECT lang, available_tokens, weight,
               CAST(floor(weight * {TOTAL_TOKEN_BUDGET}.0) AS BIGINT)
                 AS needed_tokens,
               CASE WHEN weight > CAST(0.0 AS DOUBLE)
                         AND available_tokens <> 0 THEN
                 least(floor(weight * {TOTAL_TOKEN_BUDGET}.0)
                         / available_tokens, {MAX_EPOCHS})
                 ELSE CAST(0.0 AS DOUBLE) END AS epochs,
               CAST(greatest(
                 CAST(floor(weight * {TOTAL_TOKEN_BUDGET}.0) AS BIGINT)
                   - CAST(floor({MAX_EPOCHS} * available_tokens) AS BIGINT),
                 0) AS BIGINT) AS shortfall_tokens
        FROM avail
        ORDER BY lang
    """,
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weight = F.lit(0.0)
    for k, w in reversed(_MIX_WEIGHTS.items()):
        weight = F.when(F.col("lang") == k, F.lit(float(w))).otherwise(weight)
    avail = docs.groupBy("lang").agg(
        F.sum(word_count(F.col("text")).cast("bigint"))
        .cast("bigint")
        .alias("available_tokens")
    ).withColumn("weight", weight)
    needed = F.floor(F.col("weight") * F.lit(float(TOTAL_TOKEN_BUDGET)))
    epochs = F.when(
        (F.col("weight") > 0.0) & (F.col("available_tokens") != 0),
        F.least(
            needed / F.col("available_tokens"), F.lit(MAX_EPOCHS)
        ),
    ).otherwise(F.lit(0.0))
    shortfall = F.greatest(
        needed.cast("bigint")
        - F.floor(F.lit(MAX_EPOCHS) * F.col("available_tokens")).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    return ordered_small(
        avail.select(
            "lang",
            "available_tokens",
            "weight",
            needed.cast("bigint").alias("needed_tokens"),
            epochs.cast("double").alias("epochs"),
            shortfall.cast("bigint").alias("shortfall_tokens"),
        ),
        "lang",
    )


SEQ_LEN = 64  # model context length stand-in for the padding arithmetic
_PAD_BUCKETS = [1, 2, 4, 8, 16, 32]  # sub-context power-of-2 caps; else SEQ_LEN


@register(
    "corpus_padding_efficiency",
    "ext:curation,A3,A7",
    "Length-bucketed batching padding audit: documents bucket by the "
    "ceil-power-of-2 of their token count (1,2,4,...,capped at the "
    f"context length {SEQ_LEN}); padding every doc to its BUCKET cap "
    "wastes bucket_cap - tokens per doc, vs padding everything to the "
    "global context length. Per bucket: docs, real tokens, padded "
    "tokens, and both waste ratios — the table that justifies bucketed "
    "batching in a serving/eval harness. Pure per-row arithmetic + one "
    "|buckets|-row aggregation; no window, no rank, nothing "
    "corpus-sized past the scan.",
    oracle=f"""
        WITH sized AS (
          SELECT CAST(CASE
                   {" ".join(f"WHEN n <= {c} THEN {c}" for c in _PAD_BUCKETS)}
                   ELSE {SEQ_LEN} END AS BIGINT) AS bucket_cap,
                 least(n, {SEQ_LEN}) AS n
          FROM (
            SELECT CAST({_WORD_COUNT_SQL} AS BIGINT) AS n FROM documents
          ) t
          WHERE n > 0
        )
        SELECT bucket_cap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS real_tokens,
               CAST(SUM(bucket_cap) AS BIGINT) AS padded_tokens,
               CAST(SUM(bucket_cap) - SUM(n) AS DOUBLE) / SUM(bucket_cap)
                 AS bucket_waste,
               CAST(COUNT(*) * {SEQ_LEN} - SUM(n) AS DOUBLE)
                 / (COUNT(*) * {SEQ_LEN}) AS global_pad_waste
        FROM sized
        GROUP BY bucket_cap
        ORDER BY bucket_cap
    """,
)
def corpus_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_raw = word_count(F.col("text")).cast("bigint")
    n = F.least(n_raw, F.lit(SEQ_LEN))
    # ceil-power-of-2 as an exact threshold chain (the bucket set is the
    # fixed {1,2,...,SEQ_LEN}) — NEVER ln(n)/ln(2): that ratio lands a ULP
    # under or over an exact power of two differently per engine, and ceil
    # amplifies the ULP into an off-by-one bucket (module FP-parity rule)
    bucket = F.lit(SEQ_LEN).cast("bigint")
    for c in reversed(_PAD_BUCKETS):
        bucket = F.when(n_raw <= c, F.lit(c).cast("bigint")).otherwise(bucket)
    sized = docs.select(
        bucket.alias("bucket_cap"), n.alias("n")
    ).filter(F.col("n") > 0)
    return (
        sized.groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("real_tokens"),
            F.sum("bucket_cap").cast("bigint").alias("padded_tokens"),
            (
                (F.sum("bucket_cap") - F.sum("n")).cast("double")
                / F.sum("bucket_cap")
            ).alias("bucket_waste"),
            (
                (F.count(F.lit(1)) * SEQ_LEN - F.sum("n")).cast("double")
                / (F.count(F.lit(1)) * SEQ_LEN)
            ).alias("global_pad_waste"),
        )
        .orderBy("bucket_cap")
    )


@register(
    "source_overlap_matrix",
    "ext:curation,J8-analog,A10-analog",
    "Pairwise cross-source content overlap: distinct (source, content "
    "fingerprint) pairs, fingerprints carried by >1 source expand into "
    "ordered source pairs, counted into a |sources|^2-bounded matrix with "
    "per-pair Jaccard. The cross-dump contamination scan run before mixing "
    "crawls. Scale shape: one distinct shuffle on the 64-hex fingerprint, "
    "then per-fingerprint pair fan-out bounded by |sources| (the source "
    "SET per fingerprint, never occurrence x occurrence) — a self-join on "
    "the fingerprint would square the mega-duplicate buckets; the "
    "collect_set formulation cannot.",
    oracle="""
        WITH fp AS (SELECT DISTINCT source, sha256(text) AS fp
                    FROM documents
                    WHERE text IS NOT NULL AND source IS NOT NULL),
        c AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS shared_docs
              FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
              GROUP BY 1, 2),
        n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM fp
              GROUP BY 1)
        SELECT src_a, src_b, shared_docs,
               na.n AS n_a, nb.n AS n_b,
               CAST(shared_docs AS DOUBLE) / (na.n + nb.n - shared_docs)
                   AS jaccard
        FROM c
        JOIN n na ON na.source = c.src_a
        JOIN n nb ON nb.source = c.src_b
        ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = (
        docs.filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.sha2(F.col("text"), 256).alias("fp"))
        .distinct()
    )
    # Source SET per fingerprint (bounded by |sources|), expanded into
    # ordered pairs JVM-side — the skew-proof alternative to a fingerprint
    # self-join, whose duplicate-heavy buckets would square.
    sets = (
        fp.groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "transform(slice(ss, i + 2, size(ss)), "
                "y -> struct(x AS src_a, y AS src_b))))"
            )
        ).alias("pr")
    ).select("pr.src_a", "pr.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("shared_docs")
    )
    n = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return (
        shared.join(
            F.broadcast(n.select(F.col("source").alias("src_a"),
                                 F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(n.select(F.col("source").alias("src_b"),
                                 F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("shared_docs").cast("bigint").alias("shared_docs"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                F.col("shared_docs").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_docs"))
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# Integer micro-weights for the drift-adjusted plan twin below — DERIVED
# from _MIX_WEIGHTS (exact for these values) so the two plans can never
# desynchronize; BIGINT micro units keep every step of the adjusted plan
# (reweight, budget, targets, rates) integer arithmetic with zero
# cross-engine float risk (the ADVICE-r9 class).
_MIX_WEIGHT_MICRO: dict[str, int] = {
    k: round(w * 1_000_000) for k, w in _MIX_WEIGHTS.items()
}
_ARRIVAL_DOC_PRED = "doc_id % 10 = 9"  # the established ingest split


def _weight_micro_sql(col: str = "lang") -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN CAST({w} AS BIGINT)"
        for k, w in _MIX_WEIGHT_MICRO.items()
    )
    return f"CASE {col} {whens} ELSE CAST(0 AS BIGINT) END"


@register(
    "mixture_plan_drift_adjustment",
    "ext:curation,A3-ext,V3-analog",
    "Drift -> ACTION for the data mixture (the text_drift_report consumer, "
    "r9 verdict next-round item #4's second half): per language, the "
    "arriving cohort's token share is compared against the corpus share "
    "(exact integer micro rates via `div` — overflow-safe where raw "
    "cross-multiplication of 100 TB token counts would not be), and the "
    "mixture weight REWEIGHTS in response — a drift-hot language (arrivals "
    "over-represent it >2x) upweights 5/4, a drift-cold one downweights "
    "4/5, integer-exact in micro units. The adjusted plan then recomputes "
    "the no-upsampling epoch budget and per-language targets with the SAME "
    "integer machinery as the base plan, and `retargeted` marks languages "
    "whose target actually moved — the row a dataloader config regenerates "
    "from. Unmixed languages keep weight 0 and never enter either budget; "
    "an empty arrival cohort yields NULL shares and a no-op adjustment. "
    "All arithmetic BIGINT end-to-end: weights*budget products stay under "
    "2^63 up to ~10^13 tokens per language.",
    oracle=f"""
        WITH avail AS (
          SELECT lang,
                 CAST(COALESCE(SUM(CAST({_WORD_COUNT_SQL} AS BIGINT)), 0)
                      AS BIGINT) AS available_tokens,
                 CAST(COALESCE(SUM(CASE WHEN {_ARRIVAL_DOC_PRED}
                      THEN CAST({_WORD_COUNT_SQL} AS BIGINT) END), 0)
                      AS BIGINT) AS arrival_tokens,
                 {_weight_micro_sql()} AS base_weight_micro
          FROM documents
          WHERE text IS NOT NULL
          GROUP BY lang
        ),
        tot AS (
          SELECT CAST(SUM(available_tokens) AS BIGINT) AS t_all,
                 CAST(SUM(arrival_tokens) AS BIGINT) AS t_arr
          FROM avail
        ),
        flagged AS (
          SELECT a.*,
                 CASE WHEN t.t_all = 0 THEN NULL
                      ELSE (a.available_tokens * 1000000) // t.t_all
                 END AS share_corpus_micro,
                 CASE WHEN t.t_arr = 0 THEN NULL
                      ELSE (a.arrival_tokens * 1000000) // t.t_arr
                 END AS share_arrivals_micro
          FROM avail a CROSS JOIN tot t
        ),
        adj AS (
          SELECT *,
                 COALESCE(share_arrivals_micro > 2 * share_corpus_micro,
                          FALSE) AS drift_hot,
                 COALESCE(2 * share_arrivals_micro < share_corpus_micro,
                          FALSE) AS drift_cold
          FROM flagged
        ),
        w AS (
          SELECT *,
                 CASE WHEN base_weight_micro = 0 THEN CAST(0 AS BIGINT)
                      WHEN drift_hot THEN (base_weight_micro * 5) // 4
                      WHEN drift_cold THEN (base_weight_micro * 4) // 5
                      ELSE base_weight_micro
                 END AS adjusted_weight_micro
          FROM adj
        ),
        b0 AS (
          SELECT MIN((available_tokens * 1000000) // base_weight_micro) AS b
          FROM w WHERE base_weight_micro > 0
        ),
        b1 AS (
          SELECT MIN((available_tokens * 1000000) // adjusted_weight_micro)
                   AS b
          FROM w WHERE adjusted_weight_micro > 0
        )
        SELECT w.lang, w.available_tokens, w.arrival_tokens,
               w.share_corpus_micro, w.share_arrivals_micro,
               w.drift_hot, w.drift_cold,
               w.base_weight_micro, w.adjusted_weight_micro,
               CASE WHEN w.base_weight_micro = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST((w.base_weight_micro * b0.b) // 1000000
                         AS BIGINT) END AS target_tokens_base,
               CASE WHEN w.adjusted_weight_micro = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST((w.adjusted_weight_micro * b1.b) // 1000000
                         AS BIGINT) END AS target_tokens_adjusted,
               CASE WHEN w.adjusted_weight_micro = 0 THEN CAST(0 AS BIGINT)
                    WHEN w.available_tokens = 0 THEN NULL
                    ELSE ((w.adjusted_weight_micro * b1.b) // 1000000
                          * 1000000) // w.available_tokens
               END AS sample_rate_micro,
               (CASE WHEN w.base_weight_micro = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST((w.base_weight_micro * b0.b) // 1000000
                          AS BIGINT) END
                IS DISTINCT FROM
                CASE WHEN w.adjusted_weight_micro = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST((w.adjusted_weight_micro * b1.b) // 1000000
                          AS BIGINT) END) AS retargeted
        FROM w CROSS JOIN b0 CROSS JOIN b1
        ORDER BY lang
    """,
)
def mixture_plan_drift_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..lifecycle import scoped_persist

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    wc = word_count(F.col("text")).cast("bigint")
    avail = docs.groupBy("lang").agg(
        F.coalesce(F.sum(wc), F.lit(0)).cast("bigint").alias(
            "available_tokens"
        ),
        F.coalesce(
            F.sum(F.when(F.expr(_ARRIVAL_DOC_PRED), wc)), F.lit(0)
        )
        .cast("bigint")
        .alias("arrival_tokens"),
        F.expr(_weight_micro_sql()).alias("base_weight_micro"),
    )
    tot = avail.agg(
        F.sum("available_tokens").cast("bigint").alias("t_all"),
        F.sum("arrival_tokens").cast("bigint").alias("t_arr"),
    )
    flagged = avail.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(
            "CASE WHEN t_all = 0 THEN NULL"
            " ELSE (available_tokens * 1000000) div t_all END"
        ).alias("share_corpus_micro"),
        F.expr(
            "CASE WHEN t_arr = 0 THEN NULL"
            " ELSE (arrival_tokens * 1000000) div t_arr END"
        ).alias("share_arrivals_micro"),
    )
    adj = flagged.select(
        "*",
        F.coalesce(
            F.col("share_arrivals_micro") > 2 * F.col("share_corpus_micro"),
            F.lit(False),
        ).alias("drift_hot"),
        F.coalesce(
            2 * F.col("share_arrivals_micro") < F.col("share_corpus_micro"),
            F.lit(False),
        ).alias("drift_cold"),
    )
    # consumed by both budget minima and the final projection
    w = scoped_persist(
        adj.select(
            "*",
            F.expr(
                "CASE WHEN base_weight_micro = 0 THEN CAST(0 AS BIGINT)"
                " WHEN drift_hot THEN (base_weight_micro * 5) div 4"
                " WHEN drift_cold THEN (base_weight_micro * 4) div 5"
                " ELSE base_weight_micro END"
            ).alias("adjusted_weight_micro"),
        )
    )
    b0 = w.filter(F.col("base_weight_micro") > 0).agg(
        F.min(
            F.expr("(available_tokens * 1000000) div base_weight_micro")
        ).alias("b0")
    )
    b1 = w.filter(F.col("adjusted_weight_micro") > 0).agg(
        F.min(
            F.expr("(available_tokens * 1000000) div adjusted_weight_micro")
        ).alias("b1")
    )
    t_base = F.expr(
        "CASE WHEN base_weight_micro = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST((base_weight_micro * b0) div 1000000 AS BIGINT) END"
    )
    t_adj = F.expr(
        "CASE WHEN adjusted_weight_micro = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST((adjusted_weight_micro * b1) div 1000000 AS BIGINT) END"
    )
    return ordered_small(
        w.crossJoin(F.broadcast(b0))
        .crossJoin(F.broadcast(b1))
        .select(
            "lang",
            "available_tokens",
            "arrival_tokens",
            "share_corpus_micro",
            "share_arrivals_micro",
            "drift_hot",
            "drift_cold",
            "base_weight_micro",
            "adjusted_weight_micro",
            t_base.alias("target_tokens_base"),
            t_adj.alias("target_tokens_adjusted"),
            F.expr(
                "CASE WHEN adjusted_weight_micro = 0 THEN CAST(0 AS BIGINT)"
                " WHEN available_tokens = 0 THEN NULL"
                " ELSE ((adjusted_weight_micro * b1) div 1000000"
                "       * 1000000) div available_tokens END"
            ).alias("sample_rate_micro"),
            (~t_base.eqNullSafe(t_adj)).alias("retargeted"),
        ),
        "lang",
    )
