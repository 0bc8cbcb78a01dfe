"""Decontamination / repetition-quality queries (engine extension).

Two standard passes every LLM training-data pipeline runs before a corpus
ships, absent from the reference (its data is API-pulled workspace rows, not
web text) but first-class here:

- **benchmark contamination**: n-gram overlap between the training split and
  a held-out eval set (the train/test-leak scan). Shape at 100 TB: distinct
  per-doc shingles on both sides, one equi-join on the gram — candidates
  prune to docs sharing at least one gram, never a doc×doc comparison.
- **intra-document repetition**: the duplicate-3-gram fraction per document
  (the Gopher/MassiveText repetition quality signal), banded into a bounded
  histogram. Pure per-doc map + two-level partial aggregation; shuffle
  payload is one row per (doc) then one per band.

Both reuse the dedup family's shingle primitives (operators/dedup.py
``words``/``shingles_from_words`` and their DuckDB CTE twins) so
tokenization semantics — including the <n-word whole-text fallback — stay
bit-identical across every gram-based query in the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import scoped_persist
from ..operators.dedup import hash64, shingle_table, shingles_from_words, words
from ..sources.tpch import load_table
from .dedup import _hash64_sql, _shingles_cte, _WORDS_SQL
from .registry import register


@register(
    "contamination_ngram_overlap",
    "ext:decontam,J8-analog",
    "Train/eval contamination scan: docs with doc_id % 20 = 0 form the "
    "held-out eval set; every remaining (train) doc is scored by how many "
    "of its distinct 5-gram shingles appear anywhere in the eval set. "
    "Contaminated docs only, with the overlap ratio — the decontamination "
    "pass run before any corpus ships.",
    oracle=f"""
        WITH {_shingles_cte(5)},
        t AS (SELECT doc AS doc_id, sh FROM sh WHERE doc % 20 <> 0),
        e AS (SELECT DISTINCT sh FROM sh WHERE doc % 20 = 0),
        n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM t GROUP BY 1),
        h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
              FROM t JOIN e USING (sh) GROUP BY 1)
        SELECT n.doc_id, n_grams, n_contaminated,
               CAST(n_contaminated AS DOUBLE) / n_grams AS contamination_ratio
        FROM n JOIN h USING (doc_id)
        ORDER BY doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Three consumers (train-gram counts, the overlap join, the eval side)
    # read the shingle table; persist it once, query-scoped (released by
    # release_scoped_caches like every dedup-family intermediate) so the
    # tokenize+gram fan-out runs a single time. shingle_table binds the
    # words array before shingling (the re-tokenization trap) AND carries
    # the family's NULL-text contract (zero shingles for NULL docs).
    grams = scoped_persist(
        shingle_table(docs, "doc_id", "text", 5)
        .withColumnRenamed("doc", "doc_id")
    )
    train = grams.filter(F.col("doc_id") % 20 != 0)
    eval_grams = grams.filter(F.col("doc_id") % 20 == 0).select("sh").distinct()
    n = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(eval_grams, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    # inner join: only contaminated docs survive — O(contaminated) output,
    # distributed orderBy (never a single-partition funnel)
    return (
        n.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double") / F.col("n_grams")
            ).alias("contamination_ratio"),
        )
        .orderBy("doc_id")
    )


def _all_grams_cte(n: int) -> str:
    """Non-distinct variant of the dedup family's shingle CTE (repetition
    needs every occurrence, not the set). Carries the same NULL-text
    contract: NULL docs contribute zero grams on both engines."""
    gram = ", ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
  w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
        WHERE text IS NOT NULL),
  g AS (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= {n}
                  THEN list_transform(generate_series(1, len(ws) - {n - 1}),
                       i -> concat_ws(' ', {gram}))
                  ELSE [array_to_string(ws, ' ')] END) AS g
    FROM w
  )
"""


@register(
    "text_repetition_bands",
    "ext:decontam,A7-analog",
    "Intra-document repetition histogram (the Gopher/MassiveText duplicate "
    "3-gram fraction): per doc, 1 - distinct/total 3-grams, banded into "
    "deciles with doc counts and the exact-decimal mean repetition per "
    "band. Bounded 10-row output from two partial aggregations.",
    oracle=f"""
        WITH {_all_grams_cte(3)},
        d AS (SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS nt,
                     CAST(COUNT(DISTINCT g) AS BIGINT) AS nd
              FROM g GROUP BY 1),
        r AS (SELECT doc_id,
                     1.0 - CAST(nd AS DOUBLE) / nt AS rep
              FROM d)
        SELECT CAST(LEAST(FLOOR(rep * 10), 9) AS BIGINT) AS rep_band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(CAST(SUM(CAST(rep AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(rep) AS DOUBLE) AS mean_repetition
        FROM r
        GROUP BY 1
        ORDER BY 1
    """,
)
def text_repetition_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", words(F.col("text")).alias("ws"))
        .select(
            "doc_id",
            F.explode(shingles_from_words(F.col("ws"), 3)).alias("g"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.countDistinct("g").alias("nd"),
        )
        .select(
            (
                F.lit(1.0) - F.col("nd").cast("double") / F.col("nt")
            ).alias("rep")
        )
    )
    return (
        per_doc.groupBy(
            F.least(F.floor(F.col("rep") * 10), F.lit(9).cast("long"))
            .cast("bigint")
            .alias("rep_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("rep").cast("decimal(38,6)")).cast("double")
                / F.count("rep")
            ).cast("double").alias("mean_repetition"),
        )
        .orderBy("rep_band")
    )


@register(
    "text_boilerplate_passages",
    "ext:decontam,A7-analog",
    "Boilerplate/template detection (the C4-style curation signal): the 20 "
    "most widely repeated 6-gram passages ACROSS documents — distinct "
    "per-doc shingles from the shared shingle primitive, one gram "
    "aggregation counting document spread, global top-k by spread with "
    "lexicographic tie-break. Map-side partial aggregation; the top-k is "
    "a bounded TakeOrdered, never a corpus-wide single-partition sort.",
    oracle=f"""
        WITH {_shingles_cte(6)}
        SELECT sh AS passage,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sh
        GROUP BY sh
        HAVING COUNT(*) >= 2
        ORDER BY n_docs DESC, passage
        LIMIT 20
    """,
)
def text_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = shingle_table(docs, "doc_id", "text", 6)
    return (
        grams.groupBy(F.col("sh").alias("passage"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("passage"))
        .limit(20)
    )


_SPAN_N = 10


def _span_oracle() -> str:
    n = _SPAN_N
    gram = ", ".join(f"ws[u.i+{j}]" for j in range(n))
    g_hash = _hash64_sql("span", f"concat_ws(' ', {gram})")
    return f"""
        WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
                   WHERE text IS NOT NULL),
        ww AS (SELECT doc_id, ws, len(ws) AS n_words FROM w
               WHERE len(ws) >= {n}),
        p AS (SELECT doc_id, n_words, u.i AS start_tok,
                     u.i + {n - 1} AS end_tok, {g_hash} AS g
              FROM ww, unnest(generate_series(1, len(ws) - {n - 1})) AS u(i)),
        dup AS (SELECT g FROM p GROUP BY g HAVING COUNT(*) > 1),
        m AS (SELECT p.doc_id, p.n_words, p.start_tok, p.end_tok
              FROM p JOIN dup USING (g)),
        i AS (SELECT *, CASE WHEN start_tok > COALESCE(MAX(end_tok) OVER (
                    PARTITION BY doc_id ORDER BY start_tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                THEN 1 ELSE 0 END AS ni FROM m),
        j AS (SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY start_tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island FROM i),
        s AS (SELECT doc_id, n_words, island,
                     MIN(start_tok) AS s, MAX(end_tok) AS e
              FROM j GROUP BY 1, 2, 3)
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
               CAST(SUM(e - s + 1) AS DOUBLE) / n_words AS dup_span_ratio
        FROM s GROUP BY doc_id, n_words ORDER BY doc_id
    """


@register(
    "text_duplicate_spans",
    "ext:decontam,W-ext,A7-analog",
    "Exact-substring duplication coverage (the suffix-array-style dedup "
    f"signal of Lee et al. 2022, re-expressed relationally): every {_SPAN_N}"
    "-word positional gram is hashed; grams occurring more than once "
    "corpus-wide (cross- OR intra-document) mark their token range, and "
    "overlapping ranges merge into maximal duplicated SPANS per document "
    "via the classic island detection (running-max-end window). Output: "
    "per affected doc, the merged span count and the fraction of its "
    "tokens inside duplicated spans — the per-doc signal that drives "
    "span-level removal. Scale shape: the gram table shuffles 8-byte "
    "hashes (never gram text), the dup filter is one partial-aggregated "
    "count, and the island window partitions per doc_id — bounded by "
    "document length, never corpus-sized.",
    oracle=_span_oracle(),
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = _SPAN_N
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # Positional grams: (doc, start, end, 64-bit gram hash). Docs shorter
    # than the gram width cannot contain a duplicated span by definition
    # (mirrored by the oracle's len(ws) >= n filter). Repartition before the
    # CPU-heavy gram fan-out for the same reason shingle_table does.
    ww = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", words(F.col("text")).alias("ws"))
        .withColumn("n_words", F.size("ws"))
        .filter(F.col("n_words") >= n)
        .repartition(par, "doc_id")
    )
    pos = scoped_persist(
        ww.select(
            "doc_id",
            "n_words",
            F.posexplode(shingles_from_words(F.col("ws"), n)).alias("p", "gram"),
        ).select(
            "doc_id",
            "n_words",
            (F.col("p") + 1).alias("start_tok"),
            (F.col("p") + n).alias("end_tok"),
            hash64("span", F.col("gram")).alias("g"),
        )
    )
    # A gram is "duplicated" when it occurs >1 time anywhere — including
    # twice inside one document (intra-doc repetition is still duplication
    # for span-removal purposes). 32-bit hash collisions are deterministic
    # and identical on both engines (the oracle replays the same hash).
    dup = (
        pos.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("g")
    )
    marked = pos.join(dup, "g").select(
        "doc_id", "n_words", "start_tok", "end_tok"
    )
    wo = Window.partitionBy("doc_id").orderBy("start_tok")
    run_end = F.max("end_tok").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        marked.withColumn(
            "ni",
            F.when(
                F.col("start_tok") > F.coalesce(run_end, F.lit(0)), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("ni").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "n_words", "island")
        .agg(F.min("start_tok").alias("s"), F.max("end_tok").alias("e"))
    )
    return (
        islands.groupBy("doc_id", "n_words")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        )
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.col("dup_tokens").cast("bigint").alias("dup_tokens"),
            (
                F.col("dup_tokens").cast("double") / F.col("n_words")
            ).alias("dup_span_ratio"),
        )
        .orderBy("doc_id")
    )


def _positional_grams(spark: SparkSession, sf_dir: str, n: int):
    """Shared scaffold for the span family: (all non-NULL docs with their
    word arrays, positional gram table for docs >= n words). The gram table
    carries an order key k = doc_id * 1e6 + start (docs are bounded far
    below 1M tokens; the key makes 'globally first occurrence' a plain MIN
    on both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    ww = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", words(F.col("text")).alias("ws"))
        .withColumn("n_words", F.size("ws"))
        .repartition(par, "doc_id")
    )
    pos = (
        ww.filter(F.col("n_words") >= n)
        .select(
            "doc_id",
            F.posexplode(shingles_from_words(F.col("ws"), n)).alias("p", "gram"),
        )
        .select(
            "doc_id",
            (F.col("p") + 1).alias("start_tok"),
            (F.col("p") + n).alias("end_tok"),
            (F.col("doc_id").cast("bigint") * 1_000_000 + F.col("p") + 1).alias("k"),
            hash64("span", F.col("gram")).alias("g"),
        )
    )
    return ww, pos


def _scrub_oracle() -> str:
    n = _SPAN_N
    gram = ", ".join(f"ws[u.i+{j}]" for j in range(n))
    g_hash = _hash64_sql("span", f"concat_ws(' ', {gram})")
    return f"""
        WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
                   WHERE text IS NOT NULL),
        ww AS (SELECT doc_id, ws, len(ws) AS n_words FROM w),
        p AS (SELECT doc_id, u.i AS start_tok, u.i + {n - 1} AS end_tok,
                     CAST(doc_id AS BIGINT) * 1000000 + u.i AS k,
                     {g_hash} AS g
              FROM ww, unnest(generate_series(1, len(ws) - {n - 1})) AS u(i)
              WHERE len(ws) >= {n}),
        keep AS (SELECT g, MIN(k) AS keep_k FROM p GROUP BY g),
        m AS (SELECT p.doc_id, p.start_tok, p.end_tok
              FROM p JOIN keep USING (g) WHERE p.k <> keep.keep_k),
        i AS (SELECT *, CASE WHEN start_tok > COALESCE(MAX(end_tok) OVER (
                    PARTITION BY doc_id ORDER BY start_tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                THEN 1 ELSE 0 END AS ni FROM m),
        j AS (SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY start_tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island FROM i),
        s AS (SELECT doc_id, island, MIN(start_tok) AS s, MAX(end_tok) AS e
              FROM j GROUP BY 1, 2),
        sp AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS spans,
                      CAST(COUNT(*) AS BIGINT) AS n_spans
               FROM s GROUP BY 1),
        o AS (SELECT ww.doc_id, ww.n_words,
                     CASE WHEN sp.spans IS NULL THEN ws
                          ELSE list_filter(ws, (x, i) ->
                               NOT len(list_filter(sp.spans,
                                   q -> i BETWEEN q.s AND q.e)) > 0) END
                         AS kept,
                     COALESCE(sp.n_spans, 0) AS n_spans
              FROM ww LEFT JOIN sp USING (doc_id))
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_words - len(kept) AS BIGINT) AS removed_tokens,
               CAST(n_spans AS BIGINT) AS n_spans,
               sha256(COALESCE(array_to_string(kept, ' '), ''))
                   AS scrubbed_sha
        FROM o ORDER BY doc_id
    """


@register(
    "text_scrub_duplicate_spans",
    "ext:decontam,W-ext,F20-analog",
    "APPLY the span-level dedup (the remove-all-but-one-occurrence pass of "
    "Lee et al. 2022): for every duplicated positional gram the globally "
    "FIRST occurrence (min doc_id/offset) is the keeper; every other "
    "occurrence marks its token range, ranges island-merge into maximal "
    "spans, and each document is reconstructed with those spans excised — "
    "emitted as before/after token counts plus the sha256 of the scrubbed "
    "text (the narrow proof of reconstruction; the full text rewrite is "
    "the same expression minus the hash). Keeper selection is one "
    "aggregate MIN over an order key, never a per-gram window — skew-proof "
    "under mega-duplicated grams. Spans rejoin their documents as "
    "per-doc arrays (bounded by doc length) and the excision runs in "
    "JVM-side higher-order functions; text bytes never shuffle between "
    "stages, only 8-byte gram hashes and span bounds do.",
    oracle=_scrub_oracle(),
)
def text_scrub_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = _SPAN_N
    ww, pos = _positional_grams(spark, sf_dir, n)
    pos = scoped_persist(pos)
    keep = pos.groupBy("g").agg(F.min("k").alias("keep_k"))
    marked = (
        pos.join(keep, "g")
        .filter(F.col("k") != F.col("keep_k"))
        .select("doc_id", "start_tok", "end_tok")
    )
    wo = Window.partitionBy("doc_id").orderBy("start_tok")
    run_end = F.max("end_tok").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    spans = (
        marked.withColumn(
            "ni",
            F.when(
                F.col("start_tok") > F.coalesce(run_end, F.lit(0)), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("ni").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("start_tok").alias("s"), F.max("end_tok").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct(F.col("s"), F.col("e"))).alias("spans"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )
    out = ww.join(spans, "doc_id", "left").withColumn(
        "kept",
        F.when(F.col("spans").isNull(), F.col("ws")).otherwise(
            F.expr(
                "filter(ws, (x, i) -> NOT exists(spans, "
                "q -> i + 1 >= q.s AND i + 1 <= q.e))"
            )
        ),
    )
    return out.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        (F.col("n_words") - F.size("kept")).cast("bigint").alias("removed_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.sha2(F.concat_ws(" ", F.col("kept")), 256).alias("scrubbed_sha"),
    ).orderBy("doc_id")


_DECONTAM_THRESHOLD_PCT = 30  # drop train docs with >30% eval-gram overlap


@register(
    "contamination_scrub_apply",
    "ext:decontam,U3-analog",
    "The APPLY pass of benchmark decontamination: train docs whose eval-set "
    f"5-gram overlap exceeds {_DECONTAM_THRESHOLD_PCT}% are dropped; one "
    "row of exact counts plus doc_id/char checksums pinning the EXACT "
    "surviving set (not just its size). The threshold compare is integer "
    "(100*hits > pct*grams — no ratio float ever computed), and the drop "
    "is an anti-join on the bounded contaminated-id set. Same "
    "candidates-only join shape as the scan: never doc x doc.",
    oracle=f"""
        WITH {_shingles_cte(5)},
        g2 AS (SELECT doc AS doc_id, sh FROM sh),
        t AS (SELECT * FROM g2 WHERE doc_id % 20 <> 0),
        e AS (SELECT DISTINCT sh FROM g2 WHERE doc_id % 20 = 0),
        n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM t GROUP BY 1),
        h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hits
              FROM t JOIN e USING (sh) GROUP BY 1),
        bad AS (
          SELECT n.doc_id FROM n JOIN h USING (doc_id)
          WHERE 100 * h.hits > {_DECONTAM_THRESHOLD_PCT} * n.n_grams
        ),
        train_docs AS (
          SELECT doc_id, n_chars FROM documents
          WHERE text IS NOT NULL AND doc_id % 20 <> 0
        ),
        kept AS (
          SELECT * FROM train_docs
          WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM train_docs) AS n_train,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bad) AS n_dropped,
          CAST(COUNT(*) AS BIGINT) AS n_kept,
          CAST(SUM(doc_id) AS BIGINT) AS kept_doc_id_checksum,
          CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM kept
    """,
)
def contamination_scrub_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = scoped_persist(
        shingle_table(docs, "doc_id", "text", 5)
        .withColumnRenamed("doc", "doc_id")
    )
    train = grams.filter(F.col("doc_id") % 20 != 0)
    eval_grams = (
        grams.filter(F.col("doc_id") % 20 == 0).select("sh").distinct()
    )
    n = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(eval_grams, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    bad = (
        n.join(hits, "doc_id")
        .filter(
            F.lit(100) * F.col("hits")
            > F.lit(_DECONTAM_THRESHOLD_PCT) * F.col("n_grams")
        )
        .select("doc_id")
    )
    train_docs = docs.filter(
        F.col("text").isNotNull() & (F.col("doc_id") % 20 != 0)
    ).select("doc_id", "n_chars")
    kept = train_docs.join(bad, "doc_id", "left_anti")
    n_train = train_docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    n_dropped = bad.agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped"))
    return (
        n_train.crossJoin(F.broadcast(n_dropped))
        .crossJoin(
            F.broadcast(
                kept.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                    F.sum("doc_id").cast("bigint").alias(
                        "kept_doc_id_checksum"
                    ),
                    F.sum("n_chars").cast("bigint").alias("kept_chars"),
                )
            )
        )
        .select(
            "n_train", "n_dropped", "n_kept", "kept_doc_id_checksum",
            "kept_chars",
        )
    )
