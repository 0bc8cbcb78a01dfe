"""Text-analysis queries over the ``documents`` table (engine extension).

Covers the training-data text family from BASELINE.json: language-ID
(marker-word n-gram heuristic), quality scoring, token counting (BPE-ish
regex), and document fingerprinting (normalized-content hash).

Everything is pure regexp/length Column arithmetic — shuffle-free per
document, embarrassingly parallel at 100 TB; the only shuffles are the
final tiny aggregations (histogram / fingerprint groupBy on a uniform
sha256 key).

FP parity: quality_score is a fixed left-to-right chain of IEEE double
ops; the DuckDB oracle spells out the identical expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..operators.text import (
    LANG_MARKERS,
    ROLLING_BASE,
    ROLLING_MOD,
    TOKEN_PATTERN,
    bow_fingerprint,
    fingerprint,
    language_id,
    punct_ratio,
    quality_score,
    rolling_hash,
    stopword_ratio,
    token_count,
    word_count,
)
from ..sources.tpch import load_table
from .helpers import davg_floor_micros, davg_floor_micros_sql, ordered_small
from .registry import register

# ---- DuckDB twins of operators/text.py (regexp_count == len(extract_all)) --


def _count_sql(expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


def _token_count_sql(word: str) -> str:
    """DuckDB twin of operators.text.marker_count: exact token equality over
    the shared whitespace split (unicode-stable; see marker_count's note on
    the Java-vs-RE2 combining-mark divergence that rules out ``\\b``)."""
    return (
        r"len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),"
        f" w -> w = '{word}'))"
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_token_count_sql(m) for m in LANG_MARKERS[lang])


def _language_id_sql() -> str:
    names = sorted(LANG_MARKERS)
    branches = []
    for i, name in enumerate(names):
        conds = [
            f"({_lang_score_sql(name)}) >= ({_lang_score_sql(other)})"
            for other in names[i + 1 :]
        ]
        if conds:
            branches.append(f"WHEN {' AND '.join(conds)} THEN '{name}'")
        else:
            branches.append(f"ELSE '{name}'")
    return "CASE " + " ".join(branches) + " END"


_WORD_COUNT_SQL = r"len(regexp_split_to_array(trim(lower(text)), '\s+'))"
_TOKEN_COUNT_SQL = _count_sql("lower(text)", TOKEN_PATTERN)
_PUNCT_COUNT_SQL = _count_sql("text", r"[^\w\s]")
_THE_COUNT_SQL = _token_count_sql("the")
_A_COUNT_SQL = _token_count_sql("a")
_PUNCT_RATIO_SQL = (
    f"CAST({_PUNCT_COUNT_SQL} AS DOUBLE)"
    " / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE))"
)
_STOPWORD_RATIO_SQL = (
    f"CAST({_THE_COUNT_SQL} + {_A_COUNT_SQL} AS DOUBLE)"
    f" / greatest(CAST({_WORD_COUNT_SQL} AS DOUBLE), CAST(1.0 AS DOUBLE))"
)
# Identical op order to operators.text.quality_score: each product/sum spelled
# in the same sequence so every IEEE double op matches Spark's bit-for-bit.
_QUALITY_SCORE_SQL = (
    f"least(CAST(length(text) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))"
    f" * CAST(0.5 AS DOUBLE)"
    f" + (CAST(1.0 AS DOUBLE) - least(({_PUNCT_RATIO_SQL}) * CAST(10.0 AS DOUBLE),"
    f" CAST(1.0 AS DOUBLE))) * CAST(0.25 AS DOUBLE)"
    f" + least(({_STOPWORD_RATIO_SQL}) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))"
    f" * CAST(0.25 AS DOUBLE)"
)
_FINGERPRINT_SQL = r"sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"


@register(
    "text_profile",
    "P2-analog,F15,F20",
    "Per-document text-analysis profile: language-ID (marker-word argmax), "
    "BPE-ish token count, word count, punctuation/stopword ratios, composite "
    "quality score, and normalized-content fingerprint. Pure per-row regexp "
    "arithmetic — shuffle-free at any scale.",
    oracle=f"""
        SELECT doc_id,
               {_language_id_sql()} AS lang_id,
               CAST({_TOKEN_COUNT_SQL} AS BIGINT) AS n_tokens,
               CAST({_WORD_COUNT_SQL} AS BIGINT) AS n_words,
               {_PUNCT_RATIO_SQL} AS punct_ratio,
               {_STOPWORD_RATIO_SQL} AS stopword_ratio,
               {_QUALITY_SCORE_SQL} AS quality,
               {_FINGERPRINT_SQL} AS fp
        FROM documents
        ORDER BY doc_id
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        language_id(t).alias("lang_id"),
        token_count(t).alias("n_tokens"),
        word_count(t).alias("n_words"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    ).orderBy("doc_id")


@register(
    "text_language_histogram",
    "A7",
    "Corpus language histogram with mean quality per detected language — the "
    "standard pre-training corpus composition report. One tiny groupBy on the "
    "4-value language key (map-side partial agg).",
    oracle=f"""
        SELECT {_language_id_sql()} AS lang_id,
               count(*) AS n_docs,
               CAST(SUM(CAST(floor(({_QUALITY_SCORE_SQL}) * 1000000.0) AS BIGINT))
                    AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_quality
        FROM documents
        GROUP BY 1
        ORDER BY lang_id
    """,
)
def text_language_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality is floored to exact integer micro-units before summing: BIGINT
    # sums are order-independent and cross-engine exact, where decimal
    # rounding of arbitrary doubles is not (cf. queries/helpers.py caveat).
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.select(
            language_id(t).alias("lang_id"),
            F.floor(quality_score(t) * 1000000.0).cast("long").alias("q_micro"),
        )
        .groupBy("lang_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum("q_micro").cast("double") / F.count(F.lit(1)) / 1000000.0
            ).alias("avg_quality"),
        )
        .orderBy("lang_id")
    )


_BOW_FINGERPRINT_SQL = (
    r"sha256(array_to_string(list_sort(list_distinct("
    r"regexp_split_to_array(trim(lower(text)), '\s+'))), ' '))"
)


@register(
    "text_fingerprint_dups",
    "A6,F20",
    "Bag-of-words fingerprint duplicate buckets: sha256 of the sorted "
    "distinct word set — order-insensitive dedup that catches shuffled "
    "near-copies exact hashing misses. One shuffle on the uniform sha256 "
    "fingerprint; bucket_size > 1 rows are the dup sets.",
    oracle=f"""
        SELECT {_BOW_FINGERPRINT_SQL} AS fp,
               count(*) AS bucket_size,
               min(doc_id) AS keep_id
        FROM documents
        GROUP BY 1
        HAVING count(*) > 1
        ORDER BY fp
    """,
)
def text_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", bow_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("bucket_size"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("bucket_size") > 1)
        .orderBy("fp")
    )


_ROLLING_SQL = (
    r"""list_reduce(list_prepend(CAST(0 AS BIGINT), """
    r"""list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), """
    r"""w -> CAST(concat('0x', substr(sha256(concat('w:', w)), 1, 8)) AS BIGINT))), """
    f"""(acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD})"""
)


@register(
    "text_rolling_fingerprint",
    "F20-analog",
    "Word-level Karp-Rabin rolling hash per document: order-sensitive "
    "fingerprint over the normalized token stream, incrementally updatable "
    "(O(1) per step on a sliding window) - the streaming/chunked-dedup "
    "complement to the content and bag-of-words hashes. Pure per-row fold, "
    "shuffle-free.",
    oracle=f"""
        SELECT doc_id, {_ROLLING_SQL} AS rolling_sig
        FROM documents
        ORDER BY doc_id
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_hash(F.col("text")).alias("rolling_sig")
    ).orderBy("doc_id")


@register(
    "text_tfidf_terms",
    "A7-ext,O3-ext",
    "Characteristic-term extraction: top-3 terms per document ranked by the "
    "tf/df ratio — term frequency over corpus document frequency. The "
    "deterministic stand-in for tf·idf: both are monotone in (tf up, df "
    "down), but tf/df needs only ONE IEEE divide (hash-exact across "
    "engines) where ln(N/df) is libm-dependent and cross-engine unstable "
    "in the last ulp. Vocabulary-sized df join on term; per-doc top-k via "
    "the salted skew-proof topk_per_group; O(3·docs) output → distributed "
    "orderBy.",
    oracle="""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (
          SELECT term, count(*) AS df
          FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1
        ),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 CAST(tf.tf AS DOUBLE) / df.df AS score
          FROM tf JOIN df USING (term)
        ),
        ranked AS (
          SELECT doc_id, term, tf, df, score,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term ASC
                 ) AS rank
          FROM scored
        )
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank
    """,
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import words
    from ..operators.sampling import topk_per_group

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    top = topk_per_group(
        scored,
        ["doc_id"],
        [(-F.col("score")), F.col("term")],
        3,
        rank_col="rank",
    )
    return top.select(
        "doc_id",
        F.col("rank").cast("bigint"),
        "term",
        F.col("tf").cast("bigint"),
        F.col("df").cast("bigint"),
        "score",
    ).orderBy("doc_id", "rank")


@register(
    "text_bigram_vocab",
    "F-ext-vocab,A7",
    "BPE-merge-candidate mining: the 100 most frequent adjacent token "
    "pairs across the corpus — the inner loop of byte-pair/wordpiece vocab "
    "induction, expressed as arrays_zip(tokens[:-1], tokens[1:]) → explode "
    "→ count. Per-document work is shuffle-free array arithmetic; the "
    "pair count partial-aggregates map-side, so the shuffle carries one "
    "row per distinct pair per partition, and only the top-100 (count "
    "desc, pair asc — fully tie-broken) is returned.",
    oracle="""
        WITH toks AS (
          SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE len(trim(text)) > 0
        ),
        pairs AS (
          SELECT concat(p[1], ' ', p[2]) AS pair
          FROM toks, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs
        GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT 100
    """,
)
def text_bigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import words
    from .helpers import davg_floor_micros, davg_floor_micros_sql, ordered_small

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = words(F.col("text"))
    bigrams = F.when(
        F.size(t) >= 2,
        F.arrays_zip(F.slice(t, 1, F.size(t) - 1), F.slice(t, 2, F.size(t) - 1)),
    ).otherwise(F.array())
    pairs = docs.select(F.explode(bigrams).alias("p")).select(
        F.concat_ws(" ", F.col("p")["0"], F.col("p")["1"]).alias("pair")
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(100)
    )
    return ordered_small(top, "cnt", "pair")


@register(
    "text_quality_bands",
    "A7,A2,P5-analog",
    "Corpus curation rollup: documents bucketed into 5 quality bands "
    "(floor(quality*5), capped) per source, with count, micro-unit-exact mean "
    "quality, and how many docs' predicted language agrees with the "
    "declared lang column — the go/no-go table a pre-training filter "
    "sweep reads. Per-row scoring is shuffle-free; the rollup output is "
    "sources x 5 bands.",
    oracle=f"""
        SELECT source,
               CAST(least(floor(({_QUALITY_SCORE_SQL}) * 5.0), 4) AS BIGINT)
                 AS band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {davg_floor_micros_sql(_QUALITY_SCORE_SQL, "avg_quality")},
               CAST(SUM(CASE WHEN ({_language_id_sql()}) = lang
                             THEN 1 ELSE 0 END) AS BIGINT) AS lang_agree
        FROM documents
        GROUP BY source, band
        ORDER BY source, band
    """,
)
def text_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "source",
        "lang",
        quality_score(t).alias("q"),
        language_id(t).alias("pred"),
    )
    return ordered_small(
        scored.groupBy(
            "source",
            F.least(F.floor(F.col("q") * 5.0), F.lit(4)).cast("bigint")
            .alias("band"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # floor-to-micros, not decimal cast: computed doubles can sit on
            # a 6-dp rounding boundary where Spark (shortest-string HALF_UP)
            # and DuckDB (binary) round apart — helpers.davg_floor_micros
            davg_floor_micros(F.col("q")).alias("avg_quality"),
            F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0))
            .cast("bigint")
            .alias("lang_agree"),
        ),
        "source",
        "band",
    )


@register(
    "docs_token_length_histogram",
    "A7,F-ext",
    "BPE-ish token-length histogram over the whole corpus: explode each "
    "document's regex tokens, group by token character length — token "
    "count plus how many distinct documents contain a token of that "
    "length. The explode is map-side (no pre-shuffle); the histogram "
    "partial-aggregates before its tiny shuffle; COUNT(DISTINCT doc) "
    "expands to a two-phase exact distinct on (len, doc).",
    oracle=f"""
        SELECT CAST(length(tok) AS BIGINT) AS tok_len,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                   AS tok
          FROM documents
        ) toks
        GROUP BY tok_len
        ORDER BY tok_len
    """,
)
def docs_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
        ).alias("tok"),
    )
    return ordered_small(
        toks.groupBy(F.length("tok").cast("bigint").alias("tok_len")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        ),
        "tok_len",
    )


# ---------------------------------------------------------------------------
# Text drift monitoring: token-distribution shift between the arriving
# document cohort and the corpus — completes the drift-audit triple
# (embedding_drift_report: distribution; ann_index_drift: index; this:
# the raw text itself).
# ---------------------------------------------------------------------------

TEXT_DRIFT_TOP = 40  # corpus head tokens audited per report


@register(
    "text_drift_report",
    "ext:text,A7-analog,V3-analog",
    "Token-distribution DRIFT audit between the arriving document cohort "
    "(doc_id % 10 = 5 — the ingest split the visual/cap gates established) "
    f"and the corpus: for the top-{TEXT_DRIFT_TOP} corpus tokens (by exact "
    "count, token tie-break), each cohort's occurrence rate in integer "
    "micro units (count * 1e6 // cohort token total — scale-safe: rates "
    "are bounded by 1e6 regardless of corpus size, so the 2x hot / 0.5x "
    "cold comparisons never leave int64), plus the counts themselves. A "
    "head token running hot in arrivals is a topic/source shift; a dead "
    "head token is template/boilerplate rotation — the text-side signal "
    "that quality filters and contamination screens tuned on the old "
    "distribution need re-validation. One token-explode scan with "
    "map-side partial aggregation; the audited head is a bounded "
    f"{TEXT_DRIFT_TOP}-row table. Tokenization is the family's shared "
    "whitespace-lowercase convention (operators/dedup.py::words), "
    "replayed by the oracle.",
    oracle=f"""
        WITH toks AS (
          SELECT CASE WHEN doc_id % 10 = 5 THEN 'arrivals' ELSE 'corpus' END
                   AS cohort,
                 unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS token
          FROM documents
          WHERE text IS NOT NULL
        ),
        counts AS (
          SELECT cohort, token, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM toks GROUP BY 1, 2
        ),
        tot AS (
          SELECT cohort, CAST(COUNT(*) AS BIGINT) AS t FROM toks GROUP BY 1
        ),
        head AS (
          SELECT token, cnt AS n_corpus FROM (
            SELECT token, cnt,
                   row_number() OVER (ORDER BY cnt DESC, token) AS rn
            FROM counts WHERE cohort = 'corpus'
          ) WHERE rn <= {TEXT_DRIFT_TOP}
        ),
        joined AS (
          SELECT h.token, h.n_corpus,
                 COALESCE(a.cnt, 0) AS n_arrivals,
                 (h.n_corpus * 1000000) // tc.t AS rate_corpus_micro,
                 (COALESCE(a.cnt, 0) * 1000000) // ta.t
                   AS rate_arrivals_micro
          FROM head h
          LEFT JOIN counts a ON a.cohort = 'arrivals' AND a.token = h.token
          JOIN tot tc ON tc.cohort = 'corpus'
          JOIN tot ta ON ta.cohort = 'arrivals'
        )
        SELECT token, n_corpus, n_arrivals,
               rate_corpus_micro, rate_arrivals_micro,
               (rate_arrivals_micro > 2 * rate_corpus_micro) AS drift_hot,
               (2 * rate_arrivals_micro < rate_corpus_micro) AS drift_cold
        FROM joined
        ORDER BY token
    """,
)
def text_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import words
    from ..operators.sampling import topk_per_group
    from ..sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    cohort = F.when(F.col("doc_id") % 10 == 5, F.lit("arrivals")).otherwise(
        F.lit("corpus")
    )
    from ..lifecycle import scoped_persist

    toks = docs.select(
        cohort.alias("cohort"), F.explode(words(F.col("text"))).alias("token")
    )
    # counts feeds three consumers (head, arr, tot) — persist the
    # vocabulary-sized table so the token explode over the corpus runs
    # ONCE; the cohort totals are then a sum over counts, not a rescan
    counts = scoped_persist(
        toks.groupBy("cohort", "token").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
    )
    tot = counts.groupBy("cohort").agg(
        F.sum("cnt").cast("bigint").alias("t")
    )
    # global head via the salted two-phase top-k (operators/sampling.py):
    # a plain global row_number window would funnel the whole vocabulary
    # through one partition — at 100 TB the vocab is 1e8+ distinct tokens
    head = topk_per_group(
        counts.filter(F.col("cohort") == "corpus").select("token", "cnt"),
        [],
        [(-F.col("cnt")), F.col("token")],
        TEXT_DRIFT_TOP,
    ).select("token", F.col("cnt").alias("n_corpus"))
    arr = counts.filter(F.col("cohort") == "arrivals").select(
        "token", F.col("cnt").alias("a_cnt")
    )
    tc = tot.filter(F.col("cohort") == "corpus").select(
        F.col("t").alias("tc")
    )
    ta = tot.filter(F.col("cohort") == "arrivals").select(
        F.col("t").alias("ta")
    )
    # exact long division (Spark `div`), matching the oracle's BIGINT `//`:
    # floor(double division) rounds once count*1e6 exceeds 2^53 (counts
    # ~9e9+, expected at 100 TB) and can land 1 off the oracle (ADVICE r9)
    rate_c = F.expr("(n_corpus * 1000000) div tc").cast("bigint")
    rate_a = F.expr("(n_arrivals * 1000000) div ta").cast("bigint")
    return ordered_small(
        head.join(arr, "token", "left")
        .withColumn("n_arrivals", F.coalesce(F.col("a_cnt"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(ta))
        .select(
            "token",
            "n_corpus",
            "n_arrivals",
            rate_c.alias("rate_corpus_micro"),
            rate_a.alias("rate_arrivals_micro"),
        )
        .select(
            "*",
            (F.col("rate_arrivals_micro") > 2 * F.col("rate_corpus_micro"))
            .alias("drift_hot"),
            (2 * F.col("rate_arrivals_micro") < F.col("rate_corpus_micro"))
            .alias("drift_cold"),
        ),
        "token",
    )
