"""Behavioral-analytics queries over the events table (engine extension):
ordered funnel conversion and weekly cohort retention — the two queries
every product-analytics workload runs, expressed as keyed aggregations
that scale as a handful of user_id-partitioned shuffles.

Scale design:
- The funnel is T chained (filter → groupBy(user) min → join) stages, all
  hash-partitioned on user_id — Spark reuses the partitioning across the
  chain, and each stage's input shrinks to the users still in the funnel.
  No windows over whole-user event lists, no collect_list of event
  histories (the classic OOM shape for power users).
- Retention is first-event cohorting (one groupBy) + a distinct over
  (user, cohort, offset) + one count aggregation — the distinct is the
  scale cost, and it partial-aggregates map-side. Weekly truncation uses
  Monday-aligned date_trunc on both engines, so the day-difference is
  exactly divisible by 7 (no boundary-counting ambiguity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import scoped_persist
from ..sources.tpch import load_table
from .helpers import _finite, ordered_small
from .registry import register

FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def _funnel_oracle() -> str:
    ctes = [
        "s0 AS (SELECT user_id, min(ts) AS t FROM events"
        f" WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)"
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e"
            f" JOIN s{i - 1} p ON p.user_id = e.user_id AND e.ts > p.t"
            f" WHERE e.event_type = '{step}' GROUP BY e.user_id)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step_idx, '{step}' AS step,"
        f" CAST(count(*) AS BIGINT) AS users FROM s{i}"
        for i, step in enumerate(FUNNEL_STEPS)
    )
    return (
        "WITH " + ",\n".join(ctes) + f" SELECT CAST(step_idx AS BIGINT) AS"
        f" step_idx, step, users FROM ({selects}) ORDER BY step_idx"
    )


@register(
    "events_funnel",
    "A2-ext,J1",
    "Ordered funnel conversion signup→view→click→purchase: users counted at "
    "step k only if each step's FIRST qualifying event strictly follows the "
    "previous step's. ONE events scan (the funnel-type projection is "
    "persisted, then each stage reads it in-memory); chained per-user "
    "min-aggregations co-partitioned on user_id, each stage's per-user "
    "survivor frame persisted so the T count branches don't re-execute the "
    "chain (unpersisted, the shared subtrees re-ran quadratically — r3 "
    "bench showed 1.97x baseline). No per-user event-list windows, no "
    "history collection.",
    oracle=_funnel_oracle(),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Single parquet scan: project + filter to funnel-step events once.
    # Query-scoped persist (released by bench/parity harnesses): at cluster
    # scale this is the standard scan-once trade — MEMORY_AND_DISK, sized
    # to the funnel types only, not the full event log.
    evf = scoped_persist(
        ev.filter(F.col("event_type").isin(*FUNNEL_STEPS)).select(
            "event_type", "user_id", "ts"
        )
    )
    reached = scoped_persist(
        evf.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    counts = [(1, FUNNEL_STEPS[0], reached)]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=1):
        nxt = scoped_persist(
            evf.filter(F.col("event_type") == step)
            .join(reached.select("user_id", F.col("t").alias("prev_t")), "user_id")
            .filter(F.col("ts") > F.col("prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        counts.append((i + 1, step, nxt))
        reached = nxt
    rows = None
    for idx, step, df in counts:
        one = df.agg(
            F.lit(idx).cast("bigint").alias("step_idx"),
            F.lit(step).alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("users"),
        )
        rows = one if rows is None else rows.unionAll(one)
    return ordered_small(rows, "step_idx")


@register(
    "cohort_retention",
    "A1-ext,W3-ext",
    "Weekly cohort retention: users cohorted by the Monday-aligned week of "
    "their first event; active_users = distinct users from that cohort with "
    "any event k weeks later. First-event groupBy + map-side-combined "
    "distinct over (user, cohort, offset) + one count — the canonical "
    "retention triangle in three shuffles.",
    oracle="""
        WITH firsts AS (
          SELECT user_id, date_trunc('week', min(ts)) AS cw
          FROM events GROUP BY user_id
        ),
        act AS (
          SELECT DISTINCT e.user_id, f.cw,
                 CAST(date_diff('day', f.cw, date_trunc('week', e.ts)) / 7
                      AS BIGINT) AS week_offset
          FROM events e JOIN firsts f USING (user_id)
        )
        SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, week_offset,
               CAST(count(*) AS BIGINT) AS active_users
        FROM act GROUP BY cw, week_offset
        ORDER BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = (
        ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("ew"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cw",
            (F.datediff(F.col("ew"), F.col("cw")) / F.lit(7))
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return ordered_small(
        act.groupBy("cw", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "active_users",
        ),
        "cohort_week",
        "week_offset",
    )


@register(
    "rolling_daily_metrics",
    "W-ext,A3-ext",
    "Time-RANGE-frame windows: per event_type daily counts plus trailing "
    "7-day event count and decimal-exact 7-day value sum, via "
    "rangeBetween(-6 days, current) over the date axis — the frame "
    "semantics a calendar gap can't break (missing days shrink the window; "
    "a ROWS frame would silently span them). One shuffle to daily grain, "
    "one window sort per type; the window input is O(days × types), not "
    "O(events).",
    oracle=f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
                 SUM(CAST((CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END) AS DECIMAL(38,6))) AS v
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
               CAST(n AS BIGINT) AS n_events,
               CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
               CAST(SUM(v) OVER w AS DOUBLE) AS value_7d
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        ORDER BY event_type, day
    """,
)
def rolling_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_finite(F.col("value")).cast("decimal(38,6)")).alias("v"),
    )
    # unix_date = days-since-epoch, a pure DATE computation — timezone-free,
    # unlike date→timestamp→long which shifts with the session timezone on a
    # vanilla (non-UTC-pinned) session and would move frame boundaries under
    # DST (ADVICE r3). rangeBetween(-6, 0) in day units = the oracle's
    # RANGE INTERVAL 6 DAYS PRECEDING frame.
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, 0)
    )
    return ordered_small(
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.sum("n").over(w).cast("bigint").alias("n_7d"),
            F.sum("v").over(w).cast("double").alias("value_7d"),
        ),
        "event_type",
        "day",
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "rollup_event_day_totals",
    "A-ext-rollup",
    "Multi-grain OLAP aggregation via ROLLUP(event_type, day): detail rows, "
    "per-type subtotals and the grand total in ONE pass — Spark expands each "
    "input row to its grouping sets and partial-aggregates map-side, so the "
    "cube never rescans the fact table per grain. GROUPING() flags render "
    "subtotal keys as the 'ALL' sentinel identically on both engines.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value
          FROM events
        )
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
                    ELSE event_type END AS event_type,
               CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST((CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END) AS DECIMAL(38,6))) AS DOUBLE)
                 AS total_value
        FROM daily GROUP BY ROLLUP(event_type, day)
        ORDER BY event_type, day
    """,
)
def rollup_event_day_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return ordered_small(
        daily.rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(_finite(F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
            F.grouping("event_type").alias("g_et"),
            F.grouping("day").alias("g_day"),
        )
        .select(
            F.when(F.col("g_et") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("g_day") == 1, F.lit("ALL"))
            .otherwise(F.col("day"))
            .alias("day"),
            "n_events",
            "total_value",
        ),
        "event_type",
        "day",
    )


@register(
    "groupingsets_event_reports",
    "A-ext-gsets",
    "Explicit GROUPING SETS ((event_type), (day), ()) — two independent "
    "one-dimensional reports plus the grand total from ONE fact scan, a "
    "shape neither ROLLUP nor CUBE can express (no (event_type, day) "
    "detail grain is wanted or paid for). Spark's Expand emits one row "
    "per set per input row and partial-aggregates map-side, so the "
    "shuffle carries |types| + |days| + 1 keys, never the detail cross "
    "product. GROUPING() flags render the inactive key as 'ALL' on both "
    "engines.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value
          FROM events
        )
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
                    ELSE event_type END AS event_type,
               CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST((CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END) AS DECIMAL(38,6))) AS DOUBLE)
                 AS total_value
        FROM daily GROUP BY GROUPING SETS ((event_type), (day), ())
        ORDER BY event_type, day
    """,
)
def groupingsets_event_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return ordered_small(
        daily.groupingSets([["event_type"], ["day"], []], "event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(_finite(F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
            F.grouping("event_type").alias("g_et"),
            F.grouping("day").alias("g_day"),
        )
        .select(
            F.when(F.col("g_et") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("g_day") == 1, F.lit("ALL"))
            .otherwise(F.col("day"))
            .alias("day"),
            "n_events",
            "total_value",
        ),
        "event_type",
        "day",
    )


@register(
    "pivot_daily_event_matrix",
    "U-ext-pivot",
    "Pivot the event stream into a day × event_type count matrix — "
    "long-to-wide with an EXPLICIT pivot value list (never inferred: "
    "inference costs an extra distinct scan and makes the output schema "
    "data-dependent, which breaks both Catalyst caching and the oracle "
    "contract). Absent combinations fill 0. The oracle is the portable "
    "conditional-aggregation form.",
    oracle=f"""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
          FROM events
        )
        SELECT day,
               {", ".join(
                   f"CAST(count(*) FILTER (WHERE event_type = '{t}')"
                   f" AS BIGINT) AS {t}" for t in EVENT_TYPES
               )}
        FROM daily GROUP BY day
        ORDER BY day
    """,
)
def pivot_daily_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    )
    return ordered_small(
        daily.groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0)
        .select("day", *[F.col(t).cast("bigint").alias(t) for t in EVENT_TYPES]),
        "day",
    )


@register(
    "cube_event_day_totals",
    "A-ext-cube",
    "Full CUBE(event_type, day): every grouping-set combination — detail, "
    "per-type, per-day and grand total — in one Expand pass (completes the "
    "grouping-sets family next to ROLLUP's hierarchy). Per-day subtotals "
    "are what ROLLUP cannot express; GROUPING() sentinels keep the "
    "subtotal keys engine-identical.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value
          FROM events
        )
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
                    ELSE event_type END AS event_type,
               CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST((CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END) AS DECIMAL(38,6))) AS DOUBLE)
                 AS total_value
        FROM daily GROUP BY CUBE(event_type, day)
        ORDER BY event_type, day
    """,
)
def cube_event_day_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return ordered_small(
        daily.cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(_finite(F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
            F.grouping("event_type").alias("g_et"),
            F.grouping("day").alias("g_day"),
        )
        .select(
            F.when(F.col("g_et") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("g_day") == 1, F.lit("ALL"))
            .otherwise(F.col("day"))
            .alias("day"),
            "n_events",
            "total_value",
        ),
        "event_type",
        "day",
    )


@register(
    "customer_spend_deciles",
    "W-ext-rank,A3",
    "Ranking-function family over per-customer total spend: NTILE(10) "
    "decile, percent_rank and cume_dist, plus the decimal-exact spend "
    "total. O(customers) rows is NOT bounded at 100 TB (~15 B customers at "
    "TPC-H SF100k), so no global window is used: operators/rank.py "
    "range-repartitions on the sort key, sorts within partitions, and "
    "turns per-partition counts (<=P driver-side integers) into exact "
    "global row numbers; the three ranking functions are then closed-form "
    "arithmetic on (rn, n). Ties (equal spend) are broken by customer key "
    "in the ORDER BY, so every rank is deterministic on both engines.",
    oracle="""
        WITH spend AS (
          SELECT o_custkey,
                 CAST(SUM(CAST((CASE WHEN isfinite(CAST(o_totalprice AS DOUBLE)) THEN o_totalprice END) AS DECIMAL(38,6))) AS DOUBLE)
                   AS total_spend,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, total_spend, n_orders,
               CAST(NTILE(10) OVER w AS BIGINT) AS decile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM spend
        WINDOW w AS (ORDER BY total_spend DESC, o_custkey)
        ORDER BY o_custkey
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rank import ntile_from_rank, with_global_ranks

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_finite(F.col("o_totalprice")).cast("decimal(38,6)"))
        .cast("double")
        .alias("total_spend"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    # sort key is tie-free (o_custkey unique), so the closed forms below are
    # exactly the SQL ranking functions: pct_rank=(rn-1)/(n-1), cume=rn/n.
    ranked, n = with_global_ranks(
        spend, [F.col("total_spend").desc(), F.col("o_custkey")]
    )
    return (
        ranked.select(
            "o_custkey",
            "total_spend",
            "n_orders",
            ntile_from_rank(F.col("rn"), n, 10).alias("decile"),
            ((F.col("rn") - 1) / F.lit(max(n - 1, 1))).alias("pct_rank"),
            (F.col("rn") / F.lit(n)).alias("cume"),
        )
        .orderBy("o_custkey")
    )


@register(
    "events_forward_fill",
    "W-ext-fill,F32-analog",
    "Per-user forward fill: every event row carries the value of that "
    "user's most recent purchase (LAST_VALUE ... IGNORE NULLS over a "
    "running row frame ordered by ts, event_id) — the gap-fill primitive "
    "for feature backfills and session state reconstruction. One hash "
    "shuffle on user_id; the running frame is a single in-partition pass, "
    "and the O(events) output takes a distributed range sort.",
    oracle="""
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
               event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_purchase_value
        FROM events
        ORDER BY user_id, event_id
    """,
)
def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .helpers import fmt_ts

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            fmt_ts(F.col("ts")).alias("ts"),
            "event_type",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            ).over(w).alias("last_purchase_value"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "latest_event_per_user",
    "O3-ext,A4",
    "Per-group argmax without a window: each user's latest event (by ts, "
    "then event_id — tie-free) via MAX over a comparison struct whose "
    "leading fields are the ordering key and trailing fields the payload. "
    "One shuffle with full map-side combine (the partial max travels, not "
    "the group's rows) — the scale shape for top-1-per-key, vs a window "
    "sort of every group. The oracle states the same semantics as "
    "QUALIFY row_number() = 1.",
    oracle="""
        SELECT user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               event_id, event_type, value
        FROM events
        QUALIFY row_number()
            OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import fmt_ts

    ev = load_table(spark, sf_dir, "events")
    m = F.max(
        F.struct(
            F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
        )
    ).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(m)
        .select(
            "user_id",
            fmt_ts(F.col("m.ts")).alias("last_ts"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.event_type").alias("event_type"),
            F.col("m.value").alias("value"),
        )
        .orderBy("user_id")
    )


@register(
    "events_props_extract",
    "F1-analog,A3",
    "Fact-scale JSON path extraction: pull the numeric payload out of the "
    "props JSON column and profile it per event type — get_json_object is "
    "a codegen'd JVM expression (no Python), the filter-free scan prunes "
    "to (event_type, props), and the profile partial-aggregates map-side.",
    oracle="""
        SELECT event_type,
               CAST(COUNT(k) AS BIGINT) AS n_with_k,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM (
          SELECT event_type,
                 -- json_valid guard = the tolerant twin of Spark's
                 -- get_json_object, which yields NULL on malformed JSON
                 -- where DuckDB's json_extract_string raises
                 CAST(CASE WHEN json_valid(props)
                           THEN json_extract_string(props, '$.k') END
                      AS BIGINT) AS k
          FROM events
        ) x
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ordered_small(
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        ),
        "event_type",
    )


@register(
    "events_daily_outliers",
    "A3-ext,A8",
    "Deterministic z-score outlier report: per event type, the daily value "
    "totals' mean and standard deviation computed from DECIMAL-exact sum "
    "and sum-of-squares (never var_samp/stddev, whose streaming update "
    "order makes the double partition-order-dependent), then the count of "
    "days above mean + 3 sigma. Every double derives from the same exact "
    "sums through the same IEEE op sequence on both engines. Two tiny "
    "aggregations + a 5-row broadcast join back onto the daily grain.",
    oracle="""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST((CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END) AS DECIMAL(38,6))) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s,
                 CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS ss
          FROM daily GROUP BY 1
        )
        SELECT st.event_type, st.n_days,
               st.s / st.n_days AS mean_daily,
               sqrt((st.ss - (st.s * st.s) / st.n_days) / (st.n_days - 1))
                 AS sd_daily,
               CAST(SUM(CASE WHEN d.v > st.s / st.n_days
                        + 3.0 * sqrt((st.ss - (st.s * st.s) / st.n_days)
                                     / (st.n_days - 1))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
        FROM stats st JOIN daily d USING (event_type)
        GROUP BY st.event_type, st.n_days, st.s, st.ss
        ORDER BY st.event_type
    """,
)
def events_daily_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import dsum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(dsum(F.col("value")).alias("v"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        dsum(F.col("v")).alias("s"),
        dsum(F.col("v") * F.col("v")).alias("ss"),
    )
    mean = F.col("s") / F.col("n_days")
    sd = F.sqrt(
        (F.col("ss") - (F.col("s") * F.col("s")) / F.col("n_days"))
        / (F.col("n_days") - 1)
    )
    return ordered_small(
        daily.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n_days", "s", "ss")
        .agg(
            F.sum(
                F.when(F.col("v") > mean + F.lit(3.0) * sd, 1).otherwise(0)
            ).cast("bigint").alias("n_outlier_days")
        )
        .select(
            "event_type",
            "n_days",
            mean.alias("mean_daily"),
            sd.alias("sd_daily"),
            "n_outlier_days",
        ),
        "event_type",
    )


@register(
    "daily_user_accumulation",
    "A1-ext,W-ext-scan",
    "Daily active users, first-seen (new) users, and the running cumulative "
    "distinct-user count — the growth dashboard triple. Cumulative distinct "
    "is NOT a running COUNT(DISTINCT) (quadratic state): each user "
    "collapses to a first-seen day (one groupBy), new-user counts roll up "
    "per day, and the cumulative series is an exact distributed prefix sum "
    "over the day order (operators/rank.py — no single-partition window "
    "even though the daily grain is calendar-bounded).",
    oracle="""
        WITH dau AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
          FROM events GROUP BY 1
        ),
        firsts AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
          GROUP BY user_id
        ),
        news AS (
          SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
          FROM firsts GROUP BY 1
        )
        SELECT strftime(dau.day, '%Y-%m-%d') AS day,
               dau.active_users,
               CAST(COALESCE(news.new_users, 0) AS BIGINT) AS new_users,
               CAST(SUM(COALESCE(news.new_users, 0))
                    OVER (ORDER BY dau.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumulative_users
        FROM dau LEFT JOIN news ON news.day = dau.day
        ORDER BY day
    """,
)
def daily_user_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rank import with_global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    news = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    joined = dau.join(news, "day", "left").select(
        "day",
        "active_users",
        F.coalesce(F.col("new_users"), F.lit(0)).cast("bigint")
        .alias("new_users"),
    )
    run = with_global_prefix_sum(
        joined, [F.col("day")], "new_users", out_col="cumulative_users"
    )
    return (
        run.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active_users",
            "new_users",
            "cumulative_users",
        )
        .orderBy("day")
    )


def _windowed_funnel_oracle(days: int) -> str:
    ctes = [
        "s0 AS (SELECT user_id, min(ts) AS t FROM events"
        f" WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)"
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e"
            f" JOIN s{i - 1} p ON p.user_id = e.user_id AND e.ts > p.t"
            f" AND e.ts <= p.t + INTERVAL {days} DAY"
            f" WHERE e.event_type = '{step}' GROUP BY e.user_id)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step_idx, '{step}' AS step,"
        f" CAST(count(*) AS BIGINT) AS users FROM s{i}"
        for i, step in enumerate(FUNNEL_STEPS)
    )
    return (
        "WITH " + ",\n".join(ctes) + f" SELECT CAST(step_idx AS BIGINT) AS"
        f" step_idx, step, users FROM ({selects}) ORDER BY step_idx"
    )


@register(
    "events_funnel_windowed",
    "A2-ext,J1",
    "Deadline funnel: same ordered signup->view->click->purchase chain as "
    "events_funnel, but each step must land within 7 days of the previous "
    "step's first qualifying event — the conversion-window semantics real "
    "funnel reports use. Identical scale shape (chained per-user "
    "min-aggregations co-partitioned on user_id, single persisted scan); "
    "the deadline is one extra join-side predicate.",
    oracle=_windowed_funnel_oracle(7),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    evf = scoped_persist(
        ev.filter(F.col("event_type").isin(*FUNNEL_STEPS)).select(
            "event_type", "user_id", "ts"
        )
    )
    reached = scoped_persist(
        evf.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    counts = [(1, FUNNEL_STEPS[0], reached)]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=1):
        nxt = scoped_persist(
            evf.filter(F.col("event_type") == step)
            .join(reached.select("user_id", F.col("t").alias("prev_t")), "user_id")
            .filter(
                (F.col("ts") > F.col("prev_t"))
                & (F.col("ts") <= F.col("prev_t") + F.expr("INTERVAL 7 DAYS"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        counts.append((i + 1, step, nxt))
        reached = nxt
    rows = None
    for idx, step, df in counts:
        one = df.agg(
            F.lit(idx).cast("bigint").alias("step_idx"),
            F.lit(step).alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("users"),
        )
        rows = one if rows is None else rows.unionAll(one)
    return ordered_small(rows, "step_idx")


@register(
    "event_transition_matrix",
    "W-ext,A7",
    "First-order event-type transition counts (the Markov matrix behind "
    "path analysis): per user, consecutive event pairs by (ts, event_id) "
    "order via LAG over the user partition, then a tiny (type x type) "
    "count rollup with transition probability = count / row-total "
    "(decimal-exact denominator, one IEEE divide). One hash shuffle on "
    "user_id; the window is per-user, never global.",
    oracle="""
        WITH pairs AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS prev_type,
                 event_type AS next_type
          FROM events
        ),
        counts AS (
          SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM pairs WHERE prev_type IS NOT NULL
          GROUP BY prev_type, next_type
        )
        SELECT prev_type, next_type, n,
               CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
                 AS p_next
        FROM counts
        ORDER BY prev_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # ratio-to-report over the 5x5 matrix — the window input is (types^2),
    # bounded by the type vocabulary, not the corpus
    wr = Window.partitionBy("prev_type")
    return ordered_small(
        counts.select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(wr).cast("double"))
            .alias("p_next"),
        ),
        "prev_type",
        "next_type",
    )


@register(
    "events_debounce",
    "W-ext,P-ext",
    "Telemetry debounce: drop any event of the same (user, type) arriving "
    "within 5 minutes of the previous KEPT one — duplicate-click "
    "suppression. Kept-state debounce is iterative, so this implements the "
    "standard window approximation (gap-to-previous-event >= 5 min keeps "
    "the row), the same LAG-per-key pass as sessionization: one hash "
    "shuffle on (user, type), per-key in-partition ordering, O(events) "
    "output through a distributed sort.",
    oracle="""
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
        FROM (
          SELECT event_id, user_id, event_type, ts,
                 LAG(ts) OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS prev_ts
          FROM events
        ) g
        WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 MINUTE
        ORDER BY user_id, event_id
    """,
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .helpers import fmt_ts

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id", "user_id", "event_type", "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .filter(
            F.col("prev_ts").isNull()
            | (F.col("ts") >= F.col("prev_ts") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select(
            "event_id", "user_id", "event_type", fmt_ts(F.col("ts")).alias("ts")
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "rolling_distinct_users",
    "A1-ext,W-ext",
    "EXACT trailing-7-day distinct users per day — the windowed "
    "COUNT(DISTINCT) a running window cannot express (distinct does not "
    "decompose over sliding frames): each distinct (user, day) observation "
    "fans out map-side to the <= 7 report days it contributes to "
    "(sequence + explode, the contribution-expansion trick), then one "
    "exact count-distinct per report day. Cost is 7x the distinct "
    "user-day table — linear, partial-aggregated, no per-day re-scan of "
    "history and no quadratic day x history join. Report days clip to the "
    "observed span so no phantom leading days appear.",
    oracle="""
        WITH ud AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
        contrib AS (
          SELECT user_id,
                 unnest(generate_series(day, least(day + INTERVAL 6 DAY,
                        (SELECT hi FROM span)), INTERVAL 1 DAY))::DATE
                   AS report_day
          FROM ud
        )
        SELECT strftime(report_day, '%Y-%m-%d') AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT)
                 AS distinct_users_7d
        FROM contrib
        GROUP BY report_day
        ORDER BY day
    """,
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    hi = ud.agg(F.max("day").alias("hi"))
    contrib = ud.crossJoin(F.broadcast(hi)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(F.date_add(F.col("day"), 6), F.col("hi")),
            )
        ).alias("report_day"),
    )
    return (
        contrib.groupBy("report_day")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias(
                "distinct_users_7d"
            )
        )
        .select(
            F.date_format("report_day", "yyyy-MM-dd").alias("day"),
            "distinct_users_7d",
        )
        .orderBy("day")
    )


_FP_MIN_SUPPORT = 3  # a part must appear in >= this many orders to pair
# Basket-width valve (r6 verdict task, the linkage MAX_BLOCK pattern): the
# per-basket pair fan-out is quadratic in basket WIDTH, so one pathological
# basket (a crawler cart, a catalog-dump order) with 10^5 frequent items
# would emit 10^10 pairs no matter how well the a-priori prune bounds the
# item side. Baskets wider than this (counted on the PRUNED item set) are
# excluded from pairing — their items still count toward supports and the
# basket still counts in the lift denominator. Documented contract:
# degenerate carts carry no co-purchase signal worth a quadratic blowup;
# TPC-H baskets are <= 7 items, so the valve is dormant at tested scales.
_FP_MAX_BASKET = 64


@register(
    "frequent_part_pairs",
    "J8-analog,A7-ext",
    "Market-basket co-occurrence mining over order baskets: top-20 part "
    "pairs by basket co-count, with support and LIFT (observed/expected "
    "co-rate). The a-priori property prunes the pair space BEFORE the "
    f"self-join — only parts in >= {_FP_MIN_SUPPORT} baskets can form a "
    "frequent pair, so the per-basket pair fan-out runs over the pruned "
    "item set and the shuffle carries (pair, 1) partial counts, never "
    f"baskets x baskets — and baskets wider than {_FP_MAX_BASKET} pruned "
    "items are excluded from pairing entirely (the MAX_BLOCK-style width "
    "valve: per-basket pair cost is quadratic in width, and a degenerate "
    "cart would otherwise dominate the shuffle; supports and the lift "
    "denominator still count every basket; dormant on TPC-H's <= 7-item "
    "baskets). Lift = co_count·n_baskets / (cnt_a·cnt_b) — one "
    "IEEE divide of exact integers; ordering ties break on the part ids.",
    oracle=f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
          FROM lineitem
        ),
        freq AS (
          SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM items GROUP BY 1
          HAVING COUNT(*) >= {_FP_MIN_SUPPORT}
        ),
        fitems AS (
          SELECT basket, item, cnt FROM items JOIN freq USING (item)
        ),
        narrow AS (
          SELECT basket FROM fitems GROUP BY 1
          HAVING COUNT(*) <= {_FP_MAX_BASKET}
        ),
        bitems AS (
          SELECT f.basket, f.item, f.cnt FROM fitems f JOIN narrow USING (basket)
        ),
        pairs AS (
          SELECT a.item AS pa, b.item AS pb,
                 CAST(COUNT(*) AS BIGINT) AS co_count,
                 MAX(a.cnt) AS cnt_a, MAX(b.cnt) AS cnt_b
          FROM bitems a JOIN bitems b
            ON a.basket = b.basket AND a.item < b.item
          GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM items)
        SELECT pa, pb, co_count,
               CAST(cnt_a AS BIGINT) AS cnt_a,
               CAST(cnt_b AS BIGINT) AS cnt_b,
               CAST(co_count * n AS DOUBLE) / (cnt_a * cnt_b) AS lift
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            ORDER BY co_count DESC, pa, pb) AS rn
          FROM pairs
        ), tot
        WHERE rn <= 20
        ORDER BY co_count DESC, pa, pb
    """,
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    items = scoped_persist(items)
    freq = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= _FP_MIN_SUPPORT)
    )
    fitems = items.join(freq, "item")
    # width valve: one keyed aggregate on the same shuffle key as the pair
    # join below, so the narrow-basket semi-join co-partitions for free
    narrow = (
        fitems.groupBy("basket")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") <= _FP_MAX_BASKET)
        .select("basket")
    )
    # both sides of the pair self-join (the streamed a-side and the
    # broadcast-built b-side) read bitems — persist so the freq/narrow
    # joins over the 600k-row items cache run once, not twice
    bitems = scoped_persist(fitems.join(narrow, "basket"))
    a = bitems.select(
        "basket", F.col("item").alias("pa"), F.col("cnt").alias("cnt_a")
    )
    b = bitems.select(
        "basket", F.col("item").alias("pb"), F.col("cnt").alias("cnt_b")
    )
    pairs = (
        a.join(b, "basket")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("co_count"),
            F.max("cnt_a").cast("bigint").alias("cnt_a"),
            F.max("cnt_b").cast("bigint").alias("cnt_b"),
        )
    )
    top = pairs.orderBy(
        F.col("co_count").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(20)
    tot = items.agg(
        F.countDistinct("basket").cast("bigint").alias("n")
    )
    return ordered_small(
        top.crossJoin(F.broadcast(tot)).select(
            "pa",
            "pb",
            "co_count",
            "cnt_a",
            "cnt_b",
            (
                (F.col("co_count") * F.col("n")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        ),
        F.col("co_count").desc(),
        "pa",
        "pb",
    )


@register(
    "timezone_day_boundary_audit",
    "F29-analog,A2-ext",
    "Timezone day-boundary audit: per calendar day, the event count under "
    "UTC day bucketing vs America/Los_Angeles wall-clock bucketing (the "
    "reference's reporting timezone, F29/F33 semantics) and how many "
    "events SHIFT days between the two — the discrepancy report that "
    "explains why a UTC-grouped metric and a local-day dashboard disagree. "
    "Two map-side day derivations off one scan, one full-outer join on "
    "the day grain (O(days) rows).",
    oracle="""
        WITH e AS (
          SELECT ts,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS utc_day,
                 strftime(CAST(timezone('America/Los_Angeles',
                          timezone('UTC', ts)) AS DATE), '%Y-%m-%d')
                   AS la_day
          FROM events WHERE ts IS NOT NULL
        ),
        u AS (SELECT utc_day AS day, CAST(COUNT(*) AS BIGINT) AS n_utc
              FROM e GROUP BY 1),
        l AS (SELECT la_day AS day, CAST(COUNT(*) AS BIGINT) AS n_la,
                     CAST(SUM(CASE WHEN la_day <> utc_day THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_shifted_in
              FROM e GROUP BY 1)
        SELECT COALESCE(u.day, l.day) AS day,
               COALESCE(n_utc, 0) AS n_utc,
               COALESCE(n_la, 0) AS n_la,
               COALESCE(n_shifted_in, 0) AS n_shifted_in
        FROM u FULL OUTER JOIN l ON u.day = l.day
        ORDER BY day
    """,
)
def timezone_day_boundary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import DATE_FMT_SPARK, la_local

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        F.date_format(F.to_date("ts"), DATE_FMT_SPARK).alias("utc_day"),
        F.date_format(F.to_date(la_local(F.col("ts"))), DATE_FMT_SPARK).alias(
            "la_day"
        ),
    )
    u = e.groupBy(F.col("utc_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_utc")
    )
    l_ = e.groupBy(F.col("la_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_la"),
        F.sum(F.when(F.col("la_day") != F.col("utc_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_shifted_in"),
    )
    return ordered_small(
        u.join(l_, "day", "full_outer").select(
            "day",
            F.coalesce("n_utc", F.lit(0)).alias("n_utc"),
            F.coalesce("n_la", F.lit(0)).alias("n_la"),
            F.coalesce("n_shifted_in", F.lit(0)).alias("n_shifted_in"),
        ),
        "day",
    )
