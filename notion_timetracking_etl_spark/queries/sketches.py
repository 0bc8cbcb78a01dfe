"""Sketch & distribution-summary queries (engine extension).

``heavy_hitter_tokens`` exercises the Misra-Gries candidates-then-verify
pattern (``operators/sketch.py``): the answer is defined by the exact integer
predicate ``count * k > n``, so it is deterministic and oracle-checkable even
though the candidate phase is an approximate map-side sketch.

``quantile_summary`` pins the cross-engine float convention for order
statistics: exact interpolated percentiles (Spark ``percentile`` == DuckDB
``quantile_cont``, both p*(n-1) linear interpolation) rounded to 6 decimals on
both sides, plus the decimal-exact mean from queries/helpers.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F

from ..operators.dedup import words
from ..operators.sketch import (
    HLL_M,
    KMV_K,
    QS_K,
    bottom_k,
    hash56,
    heavy_hitters,
    max_registers,
)
from ..sources.tpch import load_table
from .helpers import davg, davg_sql, ordered_small
from .registry import register

HH_K = 100  # heavy-hitter threshold: tokens with count > n/100


@register(
    "heavy_hitter_tokens",
    "A7-analog,F20",
    "Misra-Gries heavy hitters over the document token stream: all tokens "
    "with frequency > n/100 and their exact counts. Map-side MG summaries "
    "(<=k candidate rows per partition, no raw-stream shuffle) + exact "
    "verification via integer cross-multiplication — deterministic under any "
    "partitioning.",
    oracle=f"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS item
          FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT item, CAST(count(*) AS BIGINT) AS cnt
        FROM toks, tot
        GROUP BY item, n
        HAVING count(*) * {HH_K} > n
        ORDER BY item
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stream = docs.select(F.explode(words(F.col("text"))).alias("item"))
    # Result is bounded by construction: at most k-1 items can exceed n/k.
    return ordered_small(heavy_hitters(stream, "item", HH_K), "item")


@register(
    "quantile_summary",
    "A3-analog",
    "Per-event-type value distribution: count, decimal-exact mean, and exact "
    "interpolated p50/p90/p99 (Spark percentile == DuckDB quantile_cont, "
    "rounded to 6dp both sides). One shuffle on the 5-value type key with "
    "map-side partial aggregation.",
    oracle=f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {davg_sql("value", "avg_value")},
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale note: exact percentile is HOLISTIC — the aggregation buffer
    # accumulates every value of the group, so each of the (few) group keys
    # funnels through one reducer. Correct here and cross-engine checkable,
    # but at 100 TB the real plan is quantile_summary_approx below.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg(F.col("value")).alias("avg_value"),
            F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile(F.col("value"), F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile(F.col("value"), F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


APPROX_PCT_ACCURACY = 10000
_PCTS = {"p50": 0.5, "p90": 0.9, "p99": 0.99}


def quantile_rank_flags(ev: DataFrame, summ: DataFrame) -> DataFrame:
    """GK rank-error audit as a DataFrame transform, deterministic GIVEN
    the estimates in ``summ`` (event_type, n_events, n_vals, p50, p90,
    p99): approx_percentile(…, accuracy) guarantees the returned value's
    RANK is within n/accuracy of the target rank ceil(p*n). Broadcasting
    the k-row summary back over the events scan, the rank interval the
    estimate occupies — [count(value < est) + 1, count(value <= est)] —
    must intersect the guaranteed window (widened by 2 absolute rank slots
    for boundary-convention differences). A broken sketch (shifted value,
    swapped groups, garbage merge) flips the flag; the flags — not the
    engine-specific estimates — are the hashed output.

    Both joins key on a null-coalesced group id: ``event_type`` itself is
    nullable (groupBy keeps the NULL group), and a plain equi-join would
    drop it — the NULL group's flags would come back NULL while the
    oracle emits TRUE (ADVICE r8, the NULL-key divergence class)."""
    gkey = F.coalesce(F.col("event_type"), F.lit("\x00<null>")).alias("_g")
    joined = ev.select(gkey, "value").join(
        F.broadcast(summ.select(gkey, *_PCTS)), "_g"
    )
    rank_aggs = []
    for p_name in _PCTS:
        rank_aggs.append(
            F.sum(
                F.when(F.col("value") < F.col(p_name), 1).otherwise(0)
            ).alias(f"{p_name}_lt")
        )
        rank_aggs.append(
            F.sum(
                F.when(F.col("value") <= F.col(p_name), 1).otherwise(0)
            ).alias(f"{p_name}_le")
        )
    checks = joined.groupBy("_g").agg(*rank_aggs)

    def in_bound(p_name: str, p: float) -> Column:
        n = F.col("n_vals").cast("double")
        target = F.ceil(F.lit(p) * n).cast("double")
        eps = n / F.lit(float(APPROX_PCT_ACCURACY)) + F.lit(2.0)
        lo_rank = F.col(f"{p_name}_lt").cast("double") + F.lit(1.0)
        hi_rank = F.col(f"{p_name}_le").cast("double")
        ok = (lo_rank <= target + eps) & (hi_rank >= target - eps)
        # all-null group: no estimate to audit — vacuously true
        return F.when(F.col("n_vals") == 0, F.lit(True)).otherwise(ok)

    return (
        summ.withColumn("_g", gkey)
        .join(checks, "_g", "left")
        .select(
            "event_type",
            "n_events",
            *[
                in_bound(p_name, p).alias(f"{p_name}_in_bound")
                for p_name, p in _PCTS.items()
            ],
        )
        .orderBy("event_type")
    )


@register(
    "quantile_summary_approx",
    "A3-analog",
    "The 100 TB path for quantile_summary, as its own AUDIT TWIN: "
    "approx_percentile's mergeable sketch (Greenwald-Khanna) keeps the "
    "aggregation buffer bounded (~1/accuracy), so partial aggregation "
    "works map-side and no reducer ever holds a group's full value set. "
    "Sketch internals are engine-specific, so the registered query also "
    "audits each estimate's RANK against the documented n/accuracy "
    "guarantee (one broadcast of the k-row summary over the events scan) "
    "and hashes the per-group counts plus the three in-bound flags (r7 "
    "verdict task #3: the GK contract is driver-hash-checked — a broken "
    "sketch flips a flag and the row goes red — instead of the query "
    "being structurally invisible to the correctness gate). A production "
    "deployment emits the estimates alone.",
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               TRUE AS p50_in_bound, TRUE AS p90_in_bound,
               TRUE AS p99_in_bound
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def quantile_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pct = F.expr(
        f"approx_percentile(value, array(0.5, 0.9, 0.99), {APPROX_PCT_ACCURACY})"
    )
    summ = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("value").cast("bigint").alias("n_vals"),
        pct.getItem(0).alias("p50"),
        pct.getItem(1).alias("p90"),
        pct.getItem(2).alias("p99"),
    )
    return quantile_rank_flags(ev, summ)


CM_TOPN = 20  # probe the top-N exact tokens against the sketch


@register(
    "countmin_token_frequency",
    "A7-analog,F20-analog",
    "Count-Min sketch audit over the document token stream: build the "
    "mergeable depth=4 x width=1024 counter table in ONE scan (each "
    "occurrence fans out to 4 cells map-side; the shuffle moves counter "
    "cells, never the stream), then probe the top-20 exact tokens — "
    "estimate = min over rows of the salted-sha256 bucket counters. "
    "Deterministic end-to-end (integer counters, hash64 bucket convention) "
    "and structurally an OVERestimate: overcount = est - exact >= 0 for "
    "every probe, the CMS one-sided error invariant the oracle re-proves "
    "cell by cell.",
    oracle=f"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
            AS item
          FROM documents
        ),
        rows_ AS (SELECT unnest(generate_series(0, 3)) AS row),
        counters AS (
          SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS counter
          FROM (
            SELECT r.row,
                   CAST(concat('0x', substr(sha256(
                        concat('cm', r.row, ':', item)), 1, 8)) AS BIGINT)
                     % 1024 AS bucket
            FROM toks, rows_ r
          )
          GROUP BY 1, 2
        ),
        exact AS (
          SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt
          FROM toks GROUP BY 1
        ),
        top_n AS (
          SELECT item, exact_cnt
          FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, item)
                  AS rn FROM exact)
          WHERE rn <= {CM_TOPN}
        ),
        probes AS (
          SELECT t.item, t.exact_cnt, r.row,
                 CAST(concat('0x', substr(sha256(
                      concat('cm', r.row, ':', t.item)), 1, 8)) AS BIGINT)
                   % 1024 AS bucket
          FROM top_n t, rows_ r
        )
        SELECT p.item,
               CAST(MAX(p.exact_cnt) AS BIGINT) AS exact_cnt,
               CAST(MIN(c.counter) AS BIGINT) AS cms_est,
               CAST(MIN(c.counter) - MAX(p.exact_cnt) AS BIGINT)
                 AS overcount
        FROM probes p JOIN counters c USING (row, bucket)
        GROUP BY p.item
        ORDER BY item
    """,
)
def countmin_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import countmin_counters, countmin_estimate

    docs = load_table(spark, sf_dir, "documents")
    stream = docs.select(F.explode(words(F.col("text"))).alias("item"))
    counters = countmin_counters(stream, "item")
    exact = (
        stream.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    )
    top_n = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("item").asc()
    ).limit(CM_TOPN)
    est = countmin_estimate(top_n.select("item"), counters)
    return ordered_small(
        top_n.join(est, "item").select(
            "item",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overcount"),
        ),
        "item",
    )


# ---------------------------------------------------------------------------
# HyperLogLog, relationally — deterministic and fully oracle-replayable
# ---------------------------------------------------------------------------

# m = 32 registers (b = 5): raw-regime threshold 2.5m = 80 sits safely below
# the smallest audited cardinality (~180 distinct user-days per type at
# sf0.001), so the hash-checked path is the pure raw estimate. The
# small-range linear-counting branch IS implemented on both engines but sits
# outside the driver regime (natural log is the one op libm/JVM may round
# differently in the last ulp; tests pin that the corpus never enters it).
_HLL_IDX_SHIFT = 51  # 56-bit hash = 5 index bits + 51-bit rank field
_HLL_W_MASK = (1 << _HLL_IDX_SHIFT) - 1
_HLL_RANK_MAX = _HLL_IDX_SHIFT + 1  # rank of an all-zero w field
# alpha_32 * m^2 * 2^RANK_MAX, folded to ONE double literal shared verbatim
# by both engines (0.697 is the published alpha for m = 32)
_HLL_NUM = repr(0.697 * HLL_M * HLL_M * float(1 << _HLL_RANK_MAX))


def user_day_key() -> F.Column:
    """The audited count-distinct key of the HLL and KMV families:
    'user_id:yyyy-MM-dd' (shared by batch, stream and lake)."""
    return F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd"),
    )


def user_day_keys(ev: DataFrame, *group: Column) -> DataFrame:
    """Distinct (group..., key) user-day keys of the events that carry a
    user and a timestamp."""
    return (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(*group, user_day_key().alias("key"))
        .distinct()
    )


def hll_rank_fields(keyed: DataFrame, *group_cols: str) -> DataFrame:
    """(group..., idx, rank) per input key row — the pure map-side HLL
    field derivation every register build (batch or streaming) shares."""
    hashed = keyed.select(
        *group_cols, hash56("hll:", F.col("key")).alias("h")
    ).select(
        *group_cols,
        F.shiftright("h", _HLL_IDX_SHIFT).alias("idx"),
        F.col("h").bitwiseAND(F.lit(_HLL_W_MASK)).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(_HLL_RANK_MAX)).otherwise(
        F.lit(_HLL_RANK_MAX) - F.length(F.expr("bin(w)"))
    )
    return hashed.select(*group_cols, "idx", rank.alias("rank"))


def hll_stats_aggs() -> list[Column]:
    """(t, n_zero_registers) over the (idx, rank) rows of one register
    table — t is the exact-integer harmonic-mean denominator."""
    return [
        (
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {_HLL_RANK_MAX} - rank)"
                )
            ).cast("bigint")
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _HLL_RANK_MAX)
        ).alias("t"),
        (F.lit(HLL_M) - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_zero_registers"),
    ]


def hll_stats_from_registers(regs: DataFrame, *group_cols: str) -> DataFrame:
    """(group..., t, n_zero_registers) from a (group..., idx, rank) register
    table."""
    return regs.groupBy(*group_cols).agg(*hll_stats_aggs())


def hll_estimate_col() -> F.Column:
    """Estimate from (t, n_zero_registers): the raw harmonic-mean form, or
    linear counting in the (driver-regime-unreachable) small range."""
    raw = F.lit(float(_HLL_NUM)) / F.col("t").cast("double")
    return F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero_registers") > 0),
        F.lit(float(HLL_M))
        * F.log(
            F.lit(float(HLL_M)) / F.col("n_zero_registers").cast("double")
        ),
    ).otherwise(raw)



@register(
    "hll_distinct_user_days",
    "A1-analog,F20-analog",
    "HyperLogLog cardinality audit, RELATIONALLY: distinct (user, day) "
    f"pairs per event_type (and overall) estimated by an m={HLL_M} HLL "
    "built from sha256-derived 56-bit hashes — register index = top 5 "
    "bits, rank = leading zeros of the 51-bit remainder via exact integer "
    "bin-length, registers = one groupBy MAX. The harmonic mean is EXACT "
    "integer arithmetic (sum of 2^(rankmax-rank) in BIGINT); the estimate "
    "is one shared-literal double divide — so unlike an opaque sketch "
    "library, every register and the estimate replay bit-identically in "
    "the oracle. Shuffle: distinct keys, then <= m rows per scope. "
    "Registers are MERGEABLE (cell-wise MAX) — the distributed/streaming "
    "count-distinct story.",
    oracle=f"""
        WITH scoped AS (
          SELECT DISTINCT g, key FROM (
            SELECT event_type AS g,
                   concat(user_id, ':',
                          strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
            FROM events
            UNION ALL
            SELECT 'all',
                   concat(user_id, ':',
                          strftime(CAST(ts AS DATE), '%Y-%m-%d'))
            FROM events
          ) WHERE key IS NOT NULL
        ),
        hashed AS (
          SELECT g,
                 CAST(concat('0x', substr(sha256(concat('hll:', key)),
                      1, 14)) AS BIGINT) AS h
          FROM scoped
        ),
        fields AS (
          SELECT g, h >> {_HLL_IDX_SHIFT} AS idx,
                 h & {_HLL_W_MASK} AS w
          FROM hashed
        ),
        regs AS (
          SELECT g, idx,
                 MAX(CASE WHEN w = 0 THEN {_HLL_RANK_MAX}
                     ELSE {_HLL_RANK_MAX} - length(bin(w)) END) AS rank
          FROM fields GROUP BY 1, 2
        ),
        stats AS (
          SELECT g,
                 CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_MAX} - rank))
                      AS BIGINT)
                 + ({HLL_M} - COUNT(*))
                   * (CAST(1 AS BIGINT) << {_HLL_RANK_MAX}) AS t,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS n_zero_registers
          FROM regs GROUP BY 1
        ),
        exact AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM scoped GROUP BY 1
        )
        SELECT e.g AS scope, e.n_exact, s.n_zero_registers,
               est.hll_est,
               (est.hll_est - e.n_exact) / e.n_exact AS rel_err
        FROM exact e
        JOIN stats s USING (g),
        LATERAL (SELECT CASE WHEN {_HLL_NUM} / s.t <= {2.5 * HLL_M}
                              AND s.n_zero_registers > 0
                         THEN {float(HLL_M)}
                              * ln({float(HLL_M)} / s.n_zero_registers)
                         ELSE {_HLL_NUM} / s.t END AS hll_est) est
        ORDER BY scope
    """,
)
def hll_distinct_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("g"), user_day_key().alias("key")
    )
    scoped = (
        base.unionByName(base.select(F.lit("all").alias("g"), "key"))
        .filter(F.col("key").isNotNull())
        .distinct()
    )
    regs = max_registers(hll_rank_fields(scoped, "g"), ["g"])
    stats = hll_stats_from_registers(regs, "g")
    exact = scoped.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = hll_estimate_col()
    return ordered_small(
        exact.join(stats, "g").select(
            F.col("g").alias("scope"),
            "n_exact",
            "n_zero_registers",
            est.alias("hll_est"),
            ((est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
        ),
        "scope",
    )


# ---------------------------------------------------------------------------
# bitmap-index activity: set ops on packed day bitmaps
# ---------------------------------------------------------------------------

# 63 used bits per BIGINT word (bits 0..62): the sign bit stays clear, so
# every shift/AND/popcount is portable non-negative integer arithmetic on
# both engines and SUM-of-distinct-powers never overflows into the sign.
_BITMAP_WORD_BITS = 63


# Spark/DuckDB twin expressions for the per-user multi-word fold: total
# popcount, within-word consecutive pairs (bits & bits>>1), and the
# cross-word-boundary pairs (bit 62 of word w set AND bit 0 of word w+1
# set, for ADJACENT word indices — absent words break the run).
_BM_ACTIVE_SPARK = "aggregate(arr, 0, (a, x) -> a + bit_count(x.bits))"
_BM_CONSEC_SPARK = (
    "aggregate(arr, 0, (a, x) -> a + bit_count(x.bits & shiftright(x.bits, 1)))"
    " + IF(size(arr) < 2, 0, aggregate(transform(sequence(1, size(arr) - 1),"
    " i -> IF(arr[i].word = arr[i-1].word + 1"
    " AND (shiftright(arr[i-1].bits, 62) & 1) = 1"
    " AND (arr[i].bits & 1) = 1, 1, 0)), 0, (a, x) -> a + x))"
)


@register(
    "bitmap_user_activity",
    "A1-analog,A7-analog",
    "Bitmap-index activity audit: each user's active days pack into an "
    f"ARRAY of {_BITMAP_WORD_BITS}-bit BIGINT words (word = day offset div "
    f"{_BITMAP_WORD_BITS}, bit = offset mod {_BITMAP_WORD_BITS} — the "
    "roaring-bitmap container idea; the sign bit stays unused so every "
    "word op is portable integer arithmetic), then set operations are "
    "per-word JVM integer ops: active_days = sum of bit_count(word), "
    "consecutive-day pairs = bit_count(word AND word>>1) within words "
    "plus the boundary check (top bit of word w AND bottom bit of word "
    "w+1) across ADJACENT stored words — no self-join, no window over "
    "the event stream; absent (all-zero) words are simply not stored. "
    "r6 task: the old single-word form had a documented 63-day contract "
    "cap; the span is now unbounded. Output is the activity histogram: "
    "users and total consecutive pairs per active-day count.",
    oracle=f"""
        WITH span AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
        ud AS (
          SELECT DISTINCT user_id,
                 date_diff('day', d0, CAST(ts AS DATE)) AS d
          FROM events, span
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        wb AS (
          SELECT user_id, d // {_BITMAP_WORD_BITS} AS word,
                 CAST(SUM(CAST(1 AS BIGINT) << (d % {_BITMAP_WORD_BITS}))
                      AS BIGINT) AS bits
          FROM ud GROUP BY 1, 2
        ),
        pu AS (
          SELECT user_id,
                 list({{'word': word, 'bits': bits}} ORDER BY word) AS arr
          FROM wb GROUP BY 1
        ),
        per_user AS (
          SELECT
            CAST(list_sum(list_transform(arr, x -> bit_count(x.bits)))
                 AS BIGINT) AS active_days,
            CAST(list_sum(list_transform(arr,
                 x -> bit_count(x.bits & (x.bits >> 1)))) AS BIGINT)
            + CAST(COALESCE(list_sum(list_transform(
                generate_series(2, len(arr)),
                i -> CASE WHEN arr[i].word = arr[i-1].word + 1
                           AND ((arr[i-1].bits >> {_BITMAP_WORD_BITS - 1}) & 1) = 1
                           AND (arr[i].bits & 1) = 1
                      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS consec_pairs
          FROM pu
        )
        SELECT CAST(active_days AS BIGINT) AS active_days,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(consec_pairs) AS BIGINT) AS total_consec_pairs
        FROM per_user
        GROUP BY 1
        ORDER BY active_days
    """,
)
def bitmap_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    ud = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("d0")).alias("d"),
        )
        .distinct()
    )
    wb = ud.groupBy(
        "user_id", F.expr(f"d div {_BITMAP_WORD_BITS}").alias("word")
    ).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), d % {_BITMAP_WORD_BITS})")
        )
        .cast("bigint")
        .alias("bits")
    )
    per_user = wb.groupBy("user_id").agg(
        F.expr("array_sort(collect_list(struct(word, bits)))").alias("arr")
    ).select(
        F.expr(_BM_ACTIVE_SPARK).alias("active_days"),
        F.expr(_BM_CONSEC_SPARK).alias("consec_pairs"),
    )
    return ordered_small(
        per_user.groupBy(F.col("active_days").cast("bigint").alias("active_days"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("consec_pairs").cast("bigint").alias("total_consec_pairs"),
        ),
        "active_days",
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch + set-union estimation
# ---------------------------------------------------------------------------

_KMV_SPACE = float(1 << 56)  # hash domain: 14 sha256 hex chars

# The KMV family's user-day keying + 56-bit hashing as oracle CTEs, shared
# by the pair-algebra queries below.
_KMV_BASE_CTES_SQL = """keyed AS (
          SELECT DISTINCT event_type AS g,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        hashed AS (
          SELECT g, key,
                 CAST(concat('0x', substr(sha256(concat('kmv:', key)),
                      1, 14)) AS BIGINT) AS h
          FROM keyed
        )"""


def kmv_hashed(ev: DataFrame, *group: Column) -> DataFrame:
    """(group..., key, h): distinct user-day keys with their 56-bit
    sha256('kmv:'||key) hash — the expressions of the oracle CTEs."""
    return user_day_keys(ev, *group).withColumn("h", hash56("kmv:", "key"))


def kmv_stats_aggs() -> list[Column]:
    """(kth_min, n_in_sketch) over the h rows of one bottom-k sketch."""
    return [
        F.max("h").cast("bigint").alias("kth_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
    ]


@register(
    "kmv_distinct_union",
    "A1-analog,U2-analog,F20-analog",
    f"KMV (bottom-{KMV_K}) distinct sketch per event_type over user-day "
    "keys, PLUS the cross-type set-UNION estimate — the operation HLL "
    "registers need special handling for but bottom-k gets free: the union "
    "sketch is the k smallest of the combined hash sets, so merged "
    f"estimate = (k-1)·space/kth_min — deterministic (sha256 hashes, exact "
    "integer kth-minimum via one grouped bottom-k, single shared-form "
    "double divide), every sketch value hash-checked by the oracle. The "
    "third count-distinct rung: exact (groupBy), HLL (fixed registers), "
    "KMV (mergeable bottom-k with native set algebra).",
    oracle=f"""
        WITH keyed AS (
          SELECT DISTINCT event_type AS g,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        hashed AS (
          SELECT g, key,
                 CAST(concat('0x', substr(sha256(concat('kmv:', key)),
                      1, 14)) AS BIGINT) AS h
          FROM keyed
        ),
        scoped AS (
          SELECT g, h FROM hashed
          UNION ALL
          SELECT 'all', MIN(h) FROM hashed GROUP BY key
        ),
        kth AS (
          SELECT g, CAST(MAX(h) AS BIGINT) AS kth_min,
                 CAST(COUNT(*) AS BIGINT) AS n_in_sketch
          FROM (SELECT g, h,
                       ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
                FROM scoped)
          WHERE rn <= {KMV_K}
          GROUP BY g
        ),
        exact AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n_exact FROM scoped GROUP BY g
        )
        SELECT e.g AS scope, e.n_exact, k.n_in_sketch,
               CASE WHEN k.n_in_sketch < {KMV_K}
                    THEN CAST(e.n_exact AS DOUBLE)
                    ELSE {float(KMV_K - 1)} * {_KMV_SPACE} / k.kth_min
               END AS kmv_est,
               (CASE WHEN k.n_in_sketch < {KMV_K}
                     THEN CAST(e.n_exact AS DOUBLE)
                     ELSE {float(KMV_K - 1)} * {_KMV_SPACE} / k.kth_min
                END - e.n_exact) / e.n_exact AS rel_err
        FROM exact e JOIN kth k USING (g)
        ORDER BY scope
    """,
)
def kmv_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = kmv_hashed(
        load_table(spark, sf_dir, "events"), F.col("event_type").alias("g")
    )
    # the 'all' scope dedups BY KEY first (same key hashes identically in
    # every type, so MIN(h) per key == the key's hash — one row per key)
    scoped = hashed.select("g", "h").unionByName(
        hashed.groupBy("key")
        .agg(F.min("h").alias("h"))
        .select(F.lit("all").alias("g"), "h")
    )
    # bottom-k per scope: scopes are few, rows per scope bounded by
    # distinct keys
    kth = bottom_k(scoped, ["g"], KMV_K).groupBy("g").agg(*kmv_stats_aggs())
    exact = scoped.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = F.when(
        F.col("n_in_sketch") < KMV_K, F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(_KMV_SPACE)
        / F.col("kth_min").cast("double")
    )
    return ordered_small(
        exact.join(kth, "g").select(
            F.col("g").alias("scope"),
            "n_exact",
            "n_in_sketch",
            est.alias("kmv_est"),
            ((est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
        ),
        "scope",
    )


@register(
    "kmv_set_intersection",
    "A1-analog,U3-analog,F20-analog",
    f"KMV (bottom-{KMV_K}) set-INTERSECTION estimate for every pair of "
    "event types over user-day keys — the theta-sketch operation that "
    "completes the KMV set algebra (union shipped in kmv_distinct_union). "
    "Per pair: theta = kth minimum of the pair's union sketch (theta <= "
    "each side's own kth min, so sketch membership is complete below it), "
    "estimate = |{h < theta : h in BOTH sketches}| x space / theta, exact "
    "mode when the union sketch is not full. Deterministic (sha256 hashes, "
    "integer thresholds, one shared-form double multiply-divide) — every "
    "value hash-checked by the oracle, with the exact intersection riding "
    "along for rel_err. Sketch sizes bound every pair-level operator to "
    f"O(pairs x {KMV_K}) rows; only the per-type bottom-k (map-side "
    "WindowGroupLimit prune) and the exact-audit key join touch the corpus.",
    oracle=f"""
        WITH {_KMV_BASE_CTES_SQL},
        sk AS (
          SELECT g, h FROM (
            SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
        ),
        types AS (SELECT DISTINCT g FROM hashed),
        pairs AS (
          SELECT a.g AS ga, b.g AS gb FROM types a JOIN types b ON a.g < b.g
        ),
        upool AS (
          SELECT DISTINCT ga, gb, h FROM (
            SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.ga
            UNION ALL
            SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.gb
          )
        ),
        theta AS (
          SELECT ga, gb, CAST(MAX(h) AS BIGINT) AS theta,
                 CAST(COUNT(*) AS BIGINT) AS n_union_sketch
          FROM (
            SELECT ga, gb, h,
                   ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
            FROM upool
          ) WHERE rn <= {KMV_K}
          GROUP BY ga, gb
        ),
        both_sk AS (
          SELECT a.g AS ga, b.g AS gb, a.h
          FROM sk a JOIN sk b ON a.g < b.g AND a.h = b.h
        ),
        isk AS (
          SELECT t.ga, t.gb, t.theta, t.n_union_sketch,
                 CAST(COUNT(CASE WHEN bo.h < t.theta THEN 1 END) AS BIGINT)
                   AS n_below,
                 CAST(COUNT(bo.h) AS BIGINT) AS n_all
          FROM theta t LEFT JOIN both_sk bo
            ON bo.ga = t.ga AND bo.gb = t.gb
          GROUP BY t.ga, t.gb, t.theta, t.n_union_sketch
        ),
        exact AS (
          SELECT a.g AS ga, b.g AS gb, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM hashed a JOIN hashed b ON a.g < b.g AND a.key = b.key
          GROUP BY a.g, b.g
        )
        SELECT i.ga AS type_a, i.gb AS type_b,
               CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact,
               i.n_union_sketch,
               CASE WHEN i.n_union_sketch < {KMV_K} THEN i.n_all
                    ELSE i.n_below END AS n_inter_sketch,
               CASE WHEN i.n_union_sketch < {KMV_K}
                    THEN CAST(i.n_all AS DOUBLE)
                    ELSE CAST(i.n_below AS DOUBLE) * {_KMV_SPACE}
                         / CAST(i.theta AS DOUBLE)
               END AS kmv_inter_est,
               CASE WHEN COALESCE(e.n_exact, 0) = 0 THEN NULL
                    ELSE ((CASE WHEN i.n_union_sketch < {KMV_K}
                                THEN CAST(i.n_all AS DOUBLE)
                                ELSE CAST(i.n_below AS DOUBLE) * {_KMV_SPACE}
                                     / CAST(i.theta AS DOUBLE)
                           END) - e.n_exact) / e.n_exact
               END AS rel_err
        FROM isk i LEFT JOIN exact e ON e.ga = i.ga AND e.gb = i.gb
        ORDER BY type_a, type_b
    """,
)
def kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = kmv_hashed(
        load_table(spark, sf_dir, "events"), F.col("event_type").alias("g")
    )
    sk = bottom_k(hashed.select("g", "h"), ["g"], KMV_K)
    types = sk.select("g").distinct()
    pairs = (
        types.alias("ta")
        .join(types.alias("tb"), F.col("ta.g") < F.col("tb.g"))
        .select(F.col("ta.g").alias("ga"), F.col("tb.g").alias("gb"))
    )
    # union pool per pair: a hash in both sides' sketches must appear once
    upool = (
        pairs.join(sk.withColumnRenamed("g", "ga"), "ga")
        .select("ga", "gb", "h")
        .unionByName(
            pairs.join(sk.withColumnRenamed("g", "gb"), "gb")
            .select("ga", "gb", "h")
        )
        .distinct()
    )
    theta = (
        bottom_k(upool, ["ga", "gb"], KMV_K)
        .groupBy("ga", "gb")
        .agg(
            F.max("h").cast("bigint").alias("theta"),
            F.count(F.lit(1)).cast("bigint").alias("n_union_sketch"),
        )
    )
    both_sk = (
        sk.alias("a")
        .join(
            sk.alias("b"),
            (F.col("a.g") < F.col("b.g")) & (F.col("a.h") == F.col("b.h")),
        )
        .select(
            F.col("a.g").alias("ga"),
            F.col("b.g").alias("gb"),
            F.col("a.h").alias("h"),
        )
    )
    isk = theta.join(both_sk, ["ga", "gb"], "left").groupBy(
        "ga", "gb", "theta", "n_union_sketch"
    ).agg(
        F.count(F.when(F.col("h") < F.col("theta"), F.lit(1)))
        .cast("bigint")
        .alias("n_below"),
        F.count("h").cast("bigint").alias("n_all"),
    )
    exact = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.g") < F.col("b.g")) & (F.col("a.key") == F.col("b.key")),
        )
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    exact_mode = F.col("n_union_sketch") < KMV_K
    est = F.when(exact_mode, F.col("n_all").cast("double")).otherwise(
        F.col("n_below").cast("double")
        * F.lit(_KMV_SPACE)
        / F.col("theta").cast("double")
    )
    n_exact = F.coalesce(F.col("n_exact"), F.lit(0)).cast("bigint")
    return ordered_small(
        isk.join(exact, ["ga", "gb"], "left").select(
            F.col("ga").alias("type_a"),
            F.col("gb").alias("type_b"),
            n_exact.alias("n_exact"),
            "n_union_sketch",
            F.when(exact_mode, F.col("n_all"))
            .otherwise(F.col("n_below"))
            .cast("bigint")
            .alias("n_inter_sketch"),
            est.alias("kmv_inter_est"),
            F.when(n_exact == 0, F.lit(None).cast("double"))
            .otherwise((est - n_exact) / n_exact)
            .alias("rel_err"),
        ),
        "type_a",
        "type_b",
    )


# Shared by quantile_hash_sample and its streaming twin
# (queries/streaming.py::streaming_quantile_sample): the stream-merged
# bottom-k sample is IDENTICAL to the batch sample (bottom-k by a global
# hash is a monoid), so one oracle serves both.
_QS_ORACLE_SQL = f"""
        WITH vals AS (
          SELECT event_type AS g, value,
                 CAST(concat('0x', substr(sha256(concat('qs:',
                      CAST(event_id AS VARCHAR))), 1, 14)) AS BIGINT) AS h
          FROM events
          -- event_id NULL would hash to NULL and ride each engine's
          -- divergent NULL ordering into the sample — exclude explicitly
          WHERE value IS NOT NULL AND event_id IS NOT NULL
        ),
        samp AS (
          SELECT g, value FROM (
            SELECT g, value, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h)
                   AS rn
            FROM vals
          ) WHERE rn <= {QS_K}
        ),
        est AS (
          SELECT g,
                 CAST(COUNT(*) AS BIGINT) AS n_sample,
                 round(quantile_cont(value, 0.5), 6) AS est_p50,
                 round(quantile_cont(value, 0.9), 6) AS est_p90,
                 round(quantile_cont(value, 0.99), 6) AS est_p99
          FROM samp GROUP BY g
        ),
        exact AS (
          SELECT g,
                 CAST(COUNT(*) AS BIGINT) AS n_total,
                 round(quantile_cont(value, 0.5), 6) AS exact_p50,
                 round(quantile_cont(value, 0.9), 6) AS exact_p90,
                 round(quantile_cont(value, 0.99), 6) AS exact_p99
          FROM vals GROUP BY g
        )
        SELECT e.g AS event_type, x.n_total, e.n_sample,
               e.est_p50, e.est_p90, e.est_p99,
               x.exact_p50, x.exact_p90, x.exact_p99
        FROM est e JOIN exact x USING (g)
        ORDER BY event_type
    """


def qs_keyed_values(events: DataFrame, *lead: Column) -> DataFrame:
    """(lead..., g, value, h) rows eligible for the sample, h the 56-bit
    sha256('qs:' || event_id) membership hash — NULL values carry no
    quantile information and a NULL event_id would hash to NULL and ride
    each engine's divergent NULL ordering into the sample."""
    return events.filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        *lead,
        F.col("event_type").alias("g"),
        "value",
        hash56("qs:", F.col("event_id").cast("string")).alias("h"),
    )


def qs_percentile_aggs(prefix: str) -> list[Column]:
    """The shared 6dp percentile convention for the sample/exact sides."""
    return [
        F.round(F.percentile(F.col("value"), F.lit(p)), 6).alias(
            f"{prefix}_p{int(p * 100)}"
        )
        for p in (0.5, 0.9, 0.99)
    ]


@register(
    "quantile_hash_sample",
    "A3-analog,F20-analog",
    f"Mergeable quantile sketch per event type: a bottom-{QS_K} hash sample "
    "(the k rows with the smallest sha256(event_id) — a uniform sample "
    "without replacement that merges by union + re-bottom-k, the same "
    "algebra as the KMV distinct sketch) with exact interpolated p50/p90/"
    "p99 computed over the sample, next to the full-data truth for the "
    "audit. Completes the mergeable-sketch ladder: distinct (HLL/KMV), "
    "frequency (CMS), heavy hitters (MG), membership (Bloom), activity "
    "(bitmap), quantiles (hash sample). Deterministic on both engines "
    "(hash-ranked sample membership, shared percentile convention), so "
    "every sketch value is oracle-hashed. The bottom-k rides the map-side "
    "WindowGroupLimit prune; only the exact-audit percentile is holistic "
    "(same caveat as quantile_summary — at 100 TB the sample IS the plan).",
    oracle=_QS_ORACLE_SQL,
)
def quantile_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = qs_keyed_values(load_table(spark, sf_dir, "events"))
    samp = bottom_k(vals, ["g"], QS_K)
    est = samp.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        *qs_percentile_aggs("est"),
    )
    exact = vals.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        *qs_percentile_aggs("exact"),
    )
    return ordered_small(
        est.join(exact, "g").select(
            F.col("g").alias("event_type"),
            "n_total",
            "n_sample",
            "est_p50",
            "est_p90",
            "est_p99",
            "exact_p50",
            "exact_p90",
            "exact_p99",
        ),
        "event_type",
    )


@register(
    "kmv_set_difference",
    "A1-analog,U3-analog,F20-analog",
    f"KMV (bottom-{KMV_K}) set-DIFFERENCE estimates for every pair of "
    "event types over user-day keys — the third operation of the sketch "
    "set algebra (union: kmv_distinct_union, intersection: "
    "kmv_set_intersection). Per pair and per direction: theta = kth "
    "minimum of the pair's union sketch; since theta <= each side's own "
    "kth min, sketch membership is COMPLETE below it, so |A\\\\B| is "
    "estimated by the A-sketch hashes below theta that do NOT appear in "
    "B's sketch, scaled by space/theta — with exact mode when the union "
    "sketch is unsaturated. Deterministic and oracle-hashed end to end; "
    "exact anti-join counts ride along for both directions' rel_err. All "
    "pair-level operators run over O(types x k) sketch rows.",
    oracle=f"""
        WITH {_KMV_BASE_CTES_SQL},
        sk AS (
          SELECT g, h FROM (
            SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
        ),
        types AS (SELECT DISTINCT g FROM hashed),
        pairs AS (
          SELECT a.g AS ga, b.g AS gb FROM types a JOIN types b ON a.g < b.g
        ),
        upool AS (
          SELECT DISTINCT ga, gb, h FROM (
            SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.ga
            UNION ALL
            SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.gb
          )
        ),
        theta AS (
          SELECT ga, gb, CAST(MAX(h) AS BIGINT) AS theta,
                 CAST(COUNT(*) AS BIGINT) AS n_union_sketch
          FROM (
            SELECT ga, gb, h,
                   ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
            FROM upool
          ) WHERE rn <= {KMV_K}
          GROUP BY ga, gb
        ),
        a_excl AS (
          SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.ga
          WHERE NOT EXISTS (SELECT 1 FROM sk o
                            WHERE o.g = p.gb AND o.h = s.h)
        ),
        b_excl AS (
          SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.gb
          WHERE NOT EXISTS (SELECT 1 FROM sk o
                            WHERE o.g = p.ga AND o.h = s.h)
        ),
        only_a AS (
          SELECT t.ga, t.gb,
                 CAST(COUNT(CASE WHEN a.h < t.theta THEN 1 END) AS BIGINT)
                   AS a_below,
                 CAST(COUNT(a.h) AS BIGINT) AS a_all
          FROM theta t LEFT JOIN a_excl a
            ON a.ga = t.ga AND a.gb = t.gb
          GROUP BY t.ga, t.gb, t.theta
        ),
        only_b AS (
          SELECT t.ga, t.gb,
                 CAST(COUNT(CASE WHEN b.h < t.theta THEN 1 END) AS BIGINT)
                   AS b_below,
                 CAST(COUNT(b.h) AS BIGINT) AS b_all
          FROM theta t LEFT JOIN b_excl b
            ON b.ga = t.ga AND b.gb = t.gb
          GROUP BY t.ga, t.gb, t.theta
        ),
        exact AS (
          SELECT p.ga, p.gb,
                 CAST((SELECT COUNT(*) FROM hashed x WHERE x.g = p.ga
                       AND NOT EXISTS (SELECT 1 FROM hashed y
                                       WHERE y.g = p.gb AND y.key = x.key))
                      AS BIGINT) AS n_exact_a_minus_b,
                 CAST((SELECT COUNT(*) FROM hashed x WHERE x.g = p.gb
                       AND NOT EXISTS (SELECT 1 FROM hashed y
                                       WHERE y.g = p.ga AND y.key = x.key))
                      AS BIGINT) AS n_exact_b_minus_a
          FROM pairs p
        )
        SELECT t.ga AS type_a, t.gb AS type_b,
               e.n_exact_a_minus_b, e.n_exact_b_minus_a,
               t.n_union_sketch,
               CASE WHEN t.n_union_sketch < {KMV_K}
                    THEN CAST(oa.a_all AS DOUBLE)
                    ELSE CAST(oa.a_below AS DOUBLE) * {_KMV_SPACE}
                         / CAST(t.theta AS DOUBLE)
               END AS est_a_minus_b,
               CASE WHEN t.n_union_sketch < {KMV_K}
                    THEN CAST(ob.b_all AS DOUBLE)
                    ELSE CAST(ob.b_below AS DOUBLE) * {_KMV_SPACE}
                         / CAST(t.theta AS DOUBLE)
               END AS est_b_minus_a
        FROM theta t
        JOIN only_a oa ON oa.ga = t.ga AND oa.gb = t.gb
        JOIN only_b ob ON ob.ga = t.ga AND ob.gb = t.gb
        JOIN exact e ON e.ga = t.ga AND e.gb = t.gb
        ORDER BY type_a, type_b
    """,
)
def kmv_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = kmv_hashed(
        load_table(spark, sf_dir, "events"), F.col("event_type").alias("g")
    )
    sk = bottom_k(hashed.select("g", "h"), ["g"], KMV_K)
    types = sk.select("g").distinct()
    pairs = (
        types.alias("ta")
        .join(types.alias("tb"), F.col("ta.g") < F.col("tb.g"))
        .select(F.col("ta.g").alias("ga"), F.col("tb.g").alias("gb"))
    )
    upool = (
        pairs.join(sk.withColumnRenamed("g", "ga"), "ga")
        .select("ga", "gb", "h")
        .unionByName(
            pairs.join(sk.withColumnRenamed("g", "gb"), "gb")
            .select("ga", "gb", "h")
        )
        .distinct()
    )
    theta = (
        bottom_k(upool, ["ga", "gb"], KMV_K)
        .groupBy("ga", "gb")
        .agg(
            F.max("h").cast("bigint").alias("theta"),
            F.count(F.lit(1)).cast("bigint").alias("n_union_sketch"),
        )
    )
    # per-pair exclusive sketch hashes: h < theta <= the OTHER side's own
    # kth min, so absence from the partner's sketch means absence from the
    # partner's set — the anti-membership test is complete below theta
    others = sk.select(F.col("g").alias("og"), F.col("h").alias("oh"))

    def _excl(own_col: str, other_col: str) -> DataFrame:
        own = pairs.join(sk.withColumnRenamed("g", own_col), own_col).select(
            "ga", "gb", "h"
        )
        return own.join(
            others,
            (F.col(other_col) == F.col("og")) & (F.col("h") == F.col("oh")),
            "left_anti",
        )

    def _side(excl: DataFrame, prefix: str) -> DataFrame:
        return (
            theta.join(excl, ["ga", "gb"], "left")
            .groupBy("ga", "gb", "theta", "n_union_sketch")
            .agg(
                F.count(F.when(F.col("h") < F.col("theta"), F.lit(1)))
                .cast("bigint")
                .alias(f"{prefix}_below"),
                F.count("h").cast("bigint").alias(f"{prefix}_all"),
            )
        )

    only_a = _side(_excl("ga", "gb"), "a")
    only_b = _side(_excl("gb", "ga"), "b").drop("theta", "n_union_sketch")
    # exact anti counts per ordered pair, both directions, via one
    # membership matrix: keys of x.g present in y.g
    present = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.key") == F.col("y.key"))
            & (F.col("x.g") != F.col("y.g")),
        )
        .groupBy(F.col("x.g").alias("g1"), F.col("y.g").alias("g2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    totals = hashed.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    exact = (
        pairs.join(
            totals.select(F.col("g").alias("ga"), F.col("n_total").alias("na")),
            "ga",
        )
        .join(
            totals.select(F.col("g").alias("gb"), F.col("n_total").alias("nb")),
            "gb",
        )
        .join(
            present.select(
                F.col("g1").alias("ga"), F.col("g2").alias("gb"), "n_common"
            ),
            ["ga", "gb"],
            "left",
        )
        .select(
            "ga",
            "gb",
            (F.col("na") - F.coalesce(F.col("n_common"), F.lit(0)))
            .cast("bigint")
            .alias("n_exact_a_minus_b"),
            (F.col("nb") - F.coalesce(F.col("n_common"), F.lit(0)))
            .cast("bigint")
            .alias("n_exact_b_minus_a"),
        )
    )
    exact_mode = F.col("n_union_sketch") < KMV_K
    est_a = F.when(exact_mode, F.col("a_all").cast("double")).otherwise(
        F.col("a_below").cast("double")
        * F.lit(_KMV_SPACE)
        / F.col("theta").cast("double")
    )
    est_b = F.when(exact_mode, F.col("b_all").cast("double")).otherwise(
        F.col("b_below").cast("double")
        * F.lit(_KMV_SPACE)
        / F.col("theta").cast("double")
    )
    return ordered_small(
        only_a.join(only_b, ["ga", "gb"])
        .join(exact, ["ga", "gb"])
        .select(
            F.col("ga").alias("type_a"),
            F.col("gb").alias("type_b"),
            "n_exact_a_minus_b",
            "n_exact_b_minus_a",
            "n_union_sketch",
            est_a.alias("est_a_minus_b"),
            est_b.alias("est_b_minus_a"),
        ),
        "type_a",
        "type_b",
    )
