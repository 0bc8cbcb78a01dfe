"""Registered Structured Streaming queries (engine extension, SURVEY §2.9).

Each callable runs a REAL streaming query — ``readStream`` over the events
parquet, drained with ``Trigger.AvailableNow`` into a memory sink — and
returns the resulting batch DataFrame. On finite input the result is
deterministic and equals the batch twin, so the first two are fully
oracle-checked in DuckDB; the stateful operator is genuinely non-SQL (state
folded across micro-batches) and registers rows-only per the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import (
    dedup_keys_within_watermark,
    hourly_rollup,
    read_events_stream,
    run_stream_to_table,
    session_window_rollup,
    user_stats_stateful,
    view_purchase_interval_join,
)
from ..streaming.drain import read_parquet_stream
from .helpers import dsum, dsum_sql
from .registry import register
from .sketches import _HLL_NUM as _HLL_NUM_SQL
from .sketches import _QS_ORACLE_SQL
from .corpus import _SOURCE_CAP_ORACLE_SQL


@register(
    "streaming_hourly_rollup",
    "W2-stream,A3-stream",
    "Structured Streaming tumbling 1-hour windows per event_type with a 1h "
    "watermark, drained via Trigger.AvailableNow into a memory sink. "
    "Deterministic on finite input; the oracle is the batch twin.",
    oracle=f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               {dsum_sql("value", "total_value")}
        FROM events
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = hourly_rollup(read_events_stream(spark, sf_dir))
    return run_stream_to_table(stream).orderBy("window_start", "event_type")


@register(
    "streaming_session_window",
    "W-ext-stream",
    "Native streaming session windows (F.session_window): per-user sessions "
    "closing after 30 min inactivity; session end = last event + gap. The "
    "oracle rebuilds the same sessions with gaps-and-islands SQL.",
    oracle="""
        WITH ordered AS (
          SELECT user_id, ts,
                 CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                      OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_n
          FROM ordered
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
                 AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_n
        ORDER BY user_id, session_start
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = session_window_rollup(read_events_stream(spark, sf_dir))
    return run_stream_to_table(stream).orderBy("user_id", "session_start")


@register(
    "streaming_interval_join",
    "J4-analog-stream",
    "Stream-stream interval join: view and purchase streams joined on user "
    "within (view_ts, view_ts + 30 min] — the interval bound plus watermarks "
    "is what keeps both join state stores finite. Drained with AvailableNow; "
    "the oracle is the batch interval join.",
    oracle="""
        SELECT v.user_id,
               v.event_id AS view_id,
               p.event_id AS purchase_id,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON p.user_id = v.user_id
         AND p.ts > v.ts
         AND p.ts <= v.ts + INTERVAL 30 MINUTE
        ORDER BY view_id, purchase_id
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = view_purchase_interval_join(read_events_stream(spark, sf_dir))
    return run_stream_to_table(stream, output_mode="append").orderBy(
        "view_id", "purchase_id"
    )


@register(
    "streaming_stateful_user_stats",
    "UDF-stream",
    "Custom stateful operator via applyInPandasWithState: per-user running "
    "(count, exact-micros value sum, last-seen ts) folded across micro-"
    "batches. The state fold itself is non-SQL, but with latest_by keeping "
    "only each user's FINAL update the drained result equals a plain per-user "
    "GROUP BY — so it is fully oracle-checkable. The per-row micros rounding "
    "is floor(v*1e6+0.5) (HALF_UP) on both engines.",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_value_micros,
               CAST(epoch_us(max(ts)) AS BIGINT) AS last_ts_micros
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = user_stats_stateful(read_events_stream(spark, sf_dir))
    return run_stream_to_table(
        stream, output_mode="update", latest_by=(["user_id"], "n_events")
    ).orderBy("user_id")


@register(
    "streaming_dedup_keys",
    "A6-stream,U2-stream",
    "Streaming exact dedup: dropDuplicatesWithinWatermark on (user_id, "
    "event_type) — first-seen-wins with per-key state EVICTED once the "
    "watermark passes last-seen + delay, so state holds the active working "
    "set, not the key history. With the drain's delay spanning the finite "
    "input, the emitted key columns equal the batch DISTINCT key set "
    "exactly. O(distinct keys) output → distributed orderBy.",
    oracle="""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type
    """,
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = dedup_keys_within_watermark(
        read_events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    return run_stream_to_table(stream, output_mode="append").orderBy(
        "user_id", "event_type"
    )


@register(
    "streaming_sliding_rollup",
    "W2-stream-ext",
    "Structured Streaming SLIDING windows: 1-hour windows advancing every "
    "15 minutes per event_type (each event aggregates into 4 overlapping "
    "windows map-side; open-window state is bounded by the watermark x "
    "overlap factor). Deterministic on finite input; the oracle replays "
    "the epoch-grid window assignment with an explicit 4-offset unnest.",
    oracle="""
        SELECT strftime(
                 make_timestamp((epoch_us(ts) // 900000000) * 900000000
                                - CAST(k.k AS BIGINT) * 900000000),
                 '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import sliding_rollup

    stream = sliding_rollup(read_events_stream(spark, sf_dir))
    return run_stream_to_table(stream).orderBy("window_start", "event_type")


@register(
    "streaming_lake_ingest",
    "S6-analog-stream,S8-analog",
    "Exactly-once streaming ingestion into a date-partitioned lake "
    "(sinks/parquet.py::stream_to_parquet_lake): the events backlog drains "
    "via Trigger.AvailableNow through the transactional file sink "
    "(checkpoint offsets + sink commit log — a re-run over the unchanged "
    "source writes NOTHING new), then the lake is read back and profiled "
    "per event_type. The oracle aggregates the raw events directly, so the "
    "hash proves the drain dropped and duplicated nothing — the ingest "
    "loop a 100 TB/day deployment runs on a schedule as incremental batch.",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               {dsum_sql("value", "total_value")}
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
)
def streaming_lake_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    import pyspark.sql.functions as F

    from ..lifecycle import write_once
    from ..sinks.parquet import stream_to_parquet_lake

    def drain() -> str:
        # fresh base per (process, sf_dir): no stale-lake risk across driver
        # rounds; within the process, the checkpoint makes re-drains no-ops
        base = tempfile.mkdtemp(prefix="sg_stream_lake_")
        path = f"{base}/lake"
        stream = read_events_stream(spark, sf_dir).withColumn(
            "event_date", F.to_date("ts")
        )
        stream_to_parquet_lake(
            stream, path, f"{base}/ckpt", partition_cols=("event_date",)
        )
        return path

    path = write_once(("streaming_lake_ingest", sf_dir), drain)
    ev = read_events_stream(spark, sf_dir)  # schema donor (batch twin below)
    lake = spark.read.schema(
        ev.schema.add("event_date", "date")
    ).parquet(path)
    return (
        lake.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "streaming_topk_trending",
    "W2-stream-ext,O3-ext",
    "Streaming trending report: tumbling 6-hour windows per event_type "
    "drain as a pure windowed aggregation (one keyed shuffle, watermark-"
    "bounded state), then the per-window top-3 cut ranks the SMALL counts "
    "table (windows x types) batch-side — the stream/batch handoff point "
    "for top-k, since ranking inside a streaming agg would need arbitrary "
    "stateful processing. Oracle = the batch twin over the same 6h epoch "
    "grid.",
    oracle="""
        WITH counts AS (
          SELECT strftime(make_timestamp(
                   CAST(floor(epoch(ts) / 21600) * 21600 * 1000000
                        AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
                 event_type,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events
          GROUP BY 1, 2
        )
        SELECT window_start, rank, event_type, n_events
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY window_start
            ORDER BY n_events DESC, event_type) AS rank
          FROM counts
        )
        WHERE rank <= 3
        ORDER BY window_start, rank
    """,
)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from ..streaming import trending_rollup

    counts = run_stream_to_table(
        trending_rollup(read_events_stream(spark, sf_dir))
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n_events")
        .orderBy("window_start", "rank")
    )


@register(
    "streaming_cdc_upsert",
    "S8-analog-stream,A6-analog",
    "Streaming CDC upsert via foreachBatch: the orders-derived I/U/D "
    "changelog (queries/cdc.py derivation), staged one seq-wave per file, "
    "drains as a file stream with maxFilesPerTrigger=1 — each micro-batch "
    "MERGEs into the accumulated snapshot by the same comparison-struct "
    "MAX as the batch apply, DELETEs riding as tombstones until the final "
    "read. Winner-per-key is order-INDEPENDENT, so any batch split "
    "converges to the identical snapshot — which the oracle proves by "
    "replaying the whole changelog in one ROW_NUMBER pass. The production "
    "shape: MERGE INTO per micro-batch against a lake table.",
    oracle=f"""
        WITH changelog AS (
          SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
                 CAST(floor(o_totalprice * 1000000.0) AS BIGINT)
                   AS price_micros,
                 o_orderstatus AS status
          FROM orders
          UNION ALL
          SELECT o_orderkey, 2, 'U',
                 CAST(floor(o_totalprice * 1000000.0) AS BIGINT) + 1000000,
                 'U'
          FROM orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey, 3, 'D', NULL, NULL
          FROM orders WHERE o_orderkey % 7 = 0
        ),
        ranked AS (
          SELECT k, seq, op, price_micros, status,
                 ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
          FROM changelog
        )
        SELECT k AS o_orderkey,
               CAST(seq AS BIGINT) AS last_seq,
               op AS last_op,
               price_micros,
               status
        FROM ranked
        WHERE rn = 1 AND op <> 'D'
        ORDER BY o_orderkey
    """,
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    import pyspark.sql.functions as F

    from ..lifecycle import write_once
    from ..sources.tpch import load_table
    from ..streaming import upsert_drain
    from .cdc import changelog_from_orders

    def stage() -> str:
        changelog_dir = tempfile.mkdtemp(prefix="sg_cdc_upsert_") + "/changelog"
        changelog = changelog_from_orders(load_table(spark, sf_dir, "orders"))
        # one file per seq wave -> maxFilesPerTrigger=1 yields one
        # micro-batch per wave (order irrelevant: the merge is commutative)
        for seq in (1, 2, 3):
            changelog.filter(F.col("seq") == seq).coalesce(1).write.mode(
                "append"
            ).parquet(changelog_dir)
        return changelog_dir

    changelog_dir = write_once(("streaming_cdc_upsert", sf_dir), stage)
    # checkpoint is FRESH per drain: reusing one would mark the backlog
    # consumed and turn a re-run into a zero-batch no-op (acc = None)
    final, _ = upsert_drain(
        spark, changelog_dir, tempfile.mkdtemp(prefix="sg_cdc_ckpt_")
    )
    return (
        final.filter(F.col("op") != "D")
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("seq").cast("bigint").alias("last_seq"),
            F.col("op").alias("last_op"),
            "price_micros",
            "status",
        )
        .orderBy("o_orderkey")
    )


@register(
    "streaming_hll_distinct",
    "A1-analog-stream,F20-analog",
    "Streaming approximate count-distinct via MERGEABLE HyperLogLog "
    "registers: the events stream derives (register, rank) fields map-side "
    "and the streaming aggregation holds exactly m=32 state rows — "
    "register MAX is batch-split-insensitive, so state is O(m) forever "
    "while exact streaming distinct state would grow with the key space. "
    "The drained registers feed the same exact-integer harmonic mean as "
    "the batch twin (queries/sketches.py helpers), and the oracle replays "
    "registers straight from the raw table — proving stream-merged "
    "registers == batch registers.",
    oracle=f"""
        WITH keys AS (
          SELECT DISTINCT concat(user_id, ':',
                 strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        fields AS (
          SELECT h >> 51 AS idx, h & 2251799813685247 AS w
          FROM (SELECT CAST(concat('0x', substr(sha256(concat('hll:', key)),
                       1, 14)) AS BIGINT) AS h FROM keys)
        ),
        regs AS (
          SELECT idx, MAX(CASE WHEN w = 0 THEN 52
                          ELSE 52 - length(bin(w)) END) AS rank
          FROM fields GROUP BY 1
        ),
        stats AS (
          SELECT CAST(SUM(CAST(1 AS BIGINT) << (52 - rank)) AS BIGINT)
                 + (32 - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS t,
                 CAST(32 - COUNT(*) AS BIGINT) AS n_zero_registers
          FROM regs
        ),
        exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM keys)
        SELECT e.n_exact, s.n_zero_registers, est.hll_est,
               (est.hll_est - e.n_exact) / e.n_exact AS rel_err
        FROM exact e, stats s,
        LATERAL (SELECT CASE WHEN {_HLL_NUM_SQL} / s.t <= 80.0
                              AND s.n_zero_registers > 0
                         THEN 32.0 * ln(32.0 / s.n_zero_registers)
                         ELSE {_HLL_NUM_SQL} / s.t END AS hll_est) est
    """,
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.sketch import max_registers
    from ..sources.tpch import load_table
    from .sketches import (
        hll_estimate_col,
        hll_rank_fields,
        hll_stats_from_registers,
        user_day_key,
    )

    stream = read_events_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    keyed = stream.select(user_day_key().alias("key"))
    reg_stream = max_registers(hll_rank_fields(keyed), [])
    regs = run_stream_to_table(reg_stream)  # complete mode: m rows
    stats = hll_stats_from_registers(regs)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    exact = ev.select(user_day_key().alias("key")).agg(
        F.countDistinct("key").cast("bigint").alias("n_exact")
    )
    est = hll_estimate_col()
    return exact.crossJoin(F.broadcast(stats)).select(
        "n_exact",
        "n_zero_registers",
        est.alias("hll_est"),
        ((est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
    )


@register(
    "streaming_countmin_tokens",
    "A7-analog-stream,F20-analog",
    "Streaming Count-Min maintenance: the document token stream (streamed "
    "from the documents parquet) folds into the depth-4 x width-1024 "
    "counter table as a streaming aggregation — counters are MERGEABLE "
    "sums, so state is bounded at depth x width rows regardless of stream "
    "length, and any micro-batch split converges to the batch counters. "
    "The drained counters answer the same top-20 exact-token probe as the "
    "batch twin; the oracle replays counters from the raw table, proving "
    "stream-merged == batch-built. Completes the mergeable-sketch "
    "trilogy's streaming story (HLL registers, CMS counters).",
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
          WHERE rn <= 20
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
def streaming_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.dedup import words
    from ..operators.sketch import CM_DEPTH, _cm_bucket, countmin_estimate
    from ..sources.tpch import load_table

    stream = read_parquet_stream(
        spark, f"{sf_dir}/documents.parquet", one_file_per_batch=False
    )
    tok_stream = stream.select(
        F.explode(words(F.col("text"))).alias("item")
    ).filter(F.col("item").isNotNull())
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cm_bucket(F.col("item"), r).alias("bucket"),
            )
            for r in range(CM_DEPTH)
        ]
    )
    counter_stream = (
        tok_stream.select(F.explode(cells).alias("c"))
        .groupBy(
            F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )
    counters = run_stream_to_table(counter_stream)
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(words(F.col("text"))).alias("item"))
        .filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    )
    top_n = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("item").asc()
    ).limit(20)
    est = countmin_estimate(top_n.select("item"), counters)
    from .helpers import ordered_small

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


@register(
    "streaming_heavy_hitters",
    "A7-analog-stream,UDF-stream",
    "Misra-Gries heavy hitters as CUSTOM streaming state "
    "(applyInPandasWithState): tokens shard BY ITEM, each shard folds a "
    "k-counter MG summary across micro-batches — kilobytes of state per "
    "shard regardless of stream length. A globally-heavy token is local "
    "to exactly one shard, so the drained union of summary emissions is a "
    "SUPERSET of the true heavy hitters; exact batch-side verification "
    "(count·k > n, integer compare) then yields output identical to the "
    "batch operator — which is why the plain heavy-hitter SQL is the "
    "oracle. Third member of the streaming-sketch story (HLL registers, "
    "CMS counters, MG summaries).",
    oracle=f"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
            AS item
          FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT item, CAST(count(*) AS BIGINT) AS cnt
        FROM toks, tot
        GROUP BY item, n
        HAVING count(*) * 100 > n
        ORDER BY item
    """,
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.dedup import words
    from ..sources.tpch import load_table
    from ..streaming import heavy_hitter_candidates_stream
    from .helpers import ordered_small
    from .sketches import HH_K

    stream = read_parquet_stream(
        spark, f"{sf_dir}/documents.parquet", one_file_per_batch=False
    )
    tok_stream = stream.select(
        F.explode(words(F.col("text"))).alias("item")
    ).filter(F.col("item").isNotNull())
    emissions = run_stream_to_table(
        heavy_hitter_candidates_stream(tok_stream, HH_K),
        output_mode="update",
    )
    candidates = emissions.select("item").distinct()
    # exact verification, batch-side (same phase 2 as operators/sketch.py)
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("item"))
        .filter(F.col("item").isNotNull())
    )
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    exact = (
        toks.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return ordered_small(
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(HH_K) > F.col("n"))
        .select("item", "cnt"),
        "item",
    )


@register(
    "streaming_quantile_sample",
    "A3-analog-stream,UDF-stream",
    "Streaming twin of quantile_hash_sample: the bottom-k-by-hash sample "
    "maintained as CUSTOM streaming state (applyInPandasWithState) — per "
    "event type the state holds the k smallest sha256(event_id) pairs, "
    "merged per micro-batch, so state is O(groups x k) forever while an "
    "exact streaming percentile would buffer the whole stream. Bottom-k "
    "by a GLOBAL hash is a monoid, so the drained sample is IDENTICAL to "
    "the batch sample under any batch split — which is why the batch "
    "query's oracle serves unchanged, percentiles and all (the streaming "
    "analogue of the HLL-registers / CMS-counters / MG-summaries story, "
    "now for order statistics).",
    oracle=_QS_ORACLE_SQL,
)
def streaming_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.sketch import QS_K, bottom_k
    from ..sources.tpch import load_table
    from ..streaming import bottomk_sample_stream
    from .helpers import ordered_small
    from .sketches import qs_keyed_values, qs_percentile_aggs

    keyed_stream = qs_keyed_values(read_events_stream(spark, sf_dir))
    emissions = run_stream_to_table(
        bottomk_sample_stream(keyed_stream, QS_K),
        output_mode="update",
    )
    # update-mode drain appends every batch's current sample: the union is
    # a superset of the final state; one dedup of repeated emissions +
    # re-bottom-k by (h, value) recovers the exact global sample (any pair
    # outside the true bottom-k sorts after the kth by construction). The
    # dedup keys on the value too, so two events sharing a hash both stay
    # and the lower value wins the tie, as in the batch sample.
    samp = bottom_k(
        emissions.dropDuplicates(["g", "h", "value"]), ["g"], QS_K,
        order=("h", "value"),
    )
    est = samp.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        *qs_percentile_aggs("est"),
    )
    exact = qs_keyed_values(load_table(spark, sf_dir, "events")).groupBy(
        "g"
    ).agg(
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
    "streaming_source_cap",
    "A3-analog-stream,UDF-stream",
    "Streaming twin of corpus_source_cap — domain capping applied "
    "INCREMENTALLY as documents arrive: per source the custom streaming "
    "state (applyInPandasWithState) holds only the current top-cap "
    "documents by (quality desc, doc_id), merged each micro-batch, so "
    "state is O(sources x cap) for any stream length. Top-k over a total "
    "order is a monoid, so the stream-merged kept set is IDENTICAL to the "
    "batch cap under any batch split — the drained membership joins back "
    "to the table for the byte/threshold audit and the batch query's "
    "oracle serves unchanged. This is the production shape for curation "
    "that cannot afford a full recompute per crawl increment.",
    oracle=_SOURCE_CAP_ORACLE_SQL,
)
def streaming_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ..operators.text import quality_score
    from ..sources.tpch import load_table
    from ..streaming import topk_quality_stream
    from .corpus import SOURCE_CAP

    q_micro = (
        F.coalesce(F.floor(quality_score(F.col("text")) * 1000000.0), F.lit(0))
        .cast("bigint")
        .alias("q_micro")
    )
    stream = read_parquet_stream(
        spark, f"{sf_dir}/documents.parquet", one_file_per_batch=False
    )
    emissions = run_stream_to_table(
        topk_quality_stream(
            stream.select("source", "doc_id", q_micro), SOURCE_CAP
        ),
        output_mode="update",
    )
    # drained union ⊇ final state; re-top-k recovers the exact kept set
    w = Window.partitionBy("source").orderBy(
        F.col("q_micro").desc(), F.col("doc_id").asc()
    )
    kept_ids = (
        emissions.dropDuplicates(["source", "doc_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.floor(quality_score(F.col("text")) * 1000000.0), F.lit(0))
        .cast("bigint")
        .alias("q_micro"),
    )
    # kept_ids is O(sources x cap) — small for any sane cap, but source
    # cardinality grows with the corpus, so let the planner pick broadcast
    # vs shuffled semi-join from its size estimate rather than pinning
    kept = base.join(kept_ids, "doc_id", "left_semi").groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_bytes"),
        F.min("q_micro").cast("bigint").alias("threshold_q_micro"),
    )
    tot = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
    )
    return (
        tot.join(kept, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("bigint")
            .alias("n_dropped"),
            "kept_bytes",
            (F.col("total_bytes") - F.col("kept_bytes")).cast("bigint")
            .alias("dropped_bytes"),
            "threshold_q_micro",
        )
        .orderBy("source")
    )


def _semgate_oracle_sql() -> str:
    """The streaming gate is verdict-identical to the batch gate, so it
    reuses semdedup_incremental's oracle verbatim (same convention as the
    quantile/source-cap streaming twins sharing their batch oracles).
    Importing .kmeans here (before queries/__init__ reaches it) is safe:
    its own imports are all earlier in the package order."""
    from .kmeans import ITERS, K, SEMDEDUP_T, _semdedup_incr_oracle_sql

    return _semdedup_incr_oracle_sql(K, ITERS, SEMDEDUP_T)


@register(
    "streaming_semdedup_gate",
    "A6-ext-sem-stream,UDF-stream",
    "Streaming twin of semdedup_incremental — the SEMANTIC ingest gate run "
    "INCREMENTALLY as embeddings arrive (foreachBatch): each micro-batch "
    "routes through the two-level quantizer (broadcast k-means centroids + "
    "the SRP refinement-bit scalar, which in production derives from the "
    "ingest-time corpus count — captured once before the stream here) and "
    "joins ONLY the refined-cell corpus representatives (<= SEM_MAX_CELL "
    "lowest ids per cell, the batch query's valve), emitting each flagged "
    "arrival's best corpus match by the same comparison-struct MAX. A "
    "verdict depends on (arrival, corpus) alone, so ANY micro-batch split "
    "unions to the identical verdict set — stream-merged == batch gate "
    "under forced splits (pinned in tests), and the batch oracle serves "
    "unchanged. Completes the streaming-twin set: every major curation "
    "operator (cap, quantile, CDC, sketches, semantic dedup) now has an "
    "incremental form.",
    oracle=_semgate_oracle_sql(),
)
def streaming_semdedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ..lifecycle import scoped_persist
    from ..operators.kmeans import _as_double_vec, _assign
    from ..operators.similarity import norm_sq, srp_planes, srp_signature_bands
    from ..streaming.semgate import semdedup_gate_drain
    from .kmeans import (
        K,
        SEM_MAX_BITS,
        SEM_MAX_CELL,
        SEM_TARGET_CELL,
        SEMDEDUP_T,
        _refined_cells,
        fitted_model,
    )
    from .similarity import EMB_DIMS, VALID_EMB_PRED, load_embeddings

    # ingest-time quantizer config: the refinement-bit scalar from the
    # corpus count (a driver-side scalar by design — production stores it
    # with the frozen model, the way model_store persists centroids)
    n_corpus = load_embeddings(spark, sf_dir).count()
    bits = sum(
        n_corpus > K * SEM_TARGET_CELL * (1 << b) for b in range(SEM_MAX_BITS)
    )
    if bits >= SEM_MAX_BITS:
        raise RuntimeError(
            f"streaming semdedup gate: SRP refinement bits saturated at "
            f"SEM_MAX_BITS={SEM_MAX_BITS}; lift the cap"
        )
    _asg, cent = fitted_model(spark, sf_dir)
    planes = srp_planes(SEM_MAX_BITS, dims=EMB_DIMS)

    # the persisted routing state: refined-cell corpus representatives
    mem = _refined_cells(spark, sf_dir)
    is_new = F.col("vec_id") % 10 == 9
    cw = Window.partitionBy("cell").orderBy("vec_id")
    corpus = scoped_persist(
        mem.filter(~is_new)
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= SEM_MAX_CELL)
        .select(
            "cell",
            F.col("vec_id").alias("matched_vec"),
            F.col("embedding").alias("vc"),
            F.col("nrm").alias("nc"),
        )
    )

    def route(batch: DataFrame) -> DataFrame:
        asg = _assign(_as_double_vec(batch, "vec_id", "embedding"), cent)
        sigd = batch.select(
            "vec_id",
            F.col("embedding").alias("vb"),
            F.sqrt(norm_sq(F.col("embedding"))).alias("nb"),
            srp_signature_bands(F.col("embedding"), planes, bands=1)[0]
            .alias("sig"),
        )
        return sigd.join(asg.select("vec_id", "cid"), "vec_id").select(
            F.concat(
                F.col("cid").cast("string"),
                F.lit(":"),
                F.expr(f"substring(sig, 1, {bits})"),
            ).alias("cell"),
            "vec_id",
            "vb",
            "nb",
        )

    # a multi-file lake streams one micro-batch per file — the forced split
    # that makes the stream==batch claim non-vacuous (tests stage arrivals
    # as 3 files and compare against the batch gate)
    stream = read_parquet_stream(
        spark, f"{sf_dir}/embeddings.parquet", one_file_per_batch=True
    )
    arrivals = stream.filter(F.expr(VALID_EMB_PRED)).filter(is_new).select(
        "vec_id", "embedding"
    )
    verdicts, _n = semdedup_gate_drain(
        spark,
        arrivals,
        corpus,
        route,
        SEMDEDUP_T,
        checkpoint_dir=tempfile.mkdtemp(prefix="sg_semgate_ckpt_"),
    )
    if verdicts is None:  # zero micro-batches: an empty arrival backlog
        return spark.createDataFrame(
            [], "vec_id long, cell string, matched_vec long, cos double"
        )
    return verdicts.orderBy("vec_id")


def _mm_gate_oracle_sql() -> str:
    """The streaming visual gate is verdict-identical to the batch gate
    (an arrival's best corpus match depends on (arrival, corpus) alone), so
    it reuses multimodal_incremental_near_dup's oracle verbatim — the same
    convention as the semantic/quantile/source-cap streaming twins."""
    from .multimodal import MM_INCR_ORACLE_SQL

    return MM_INCR_ORACLE_SQL


@register(
    "streaming_multimodal_gate",
    "A6-ext-phash-stream,UDF-stream",
    "Streaming twin of multimodal_incremental_near_dup — the VISUAL ingest "
    "gate run INCREMENTALLY as media arrive (foreachBatch): each micro-"
    "batch runs the Arrow decode seam (stub raster -> 64-bit dHash -> "
    "pixel grid) and pigeonhole-block-joins ONLY the persisted corpus "
    "signature table (the state a production multimodal ingest holds "
    "between batches — the corpus pair space is never generated), emitting "
    "each matched arrival's best corpus row by (lowest Hamming, lowest "
    "exact pixel L1, smallest corpus id). A verdict depends on (arrival, "
    "corpus) alone and each arrival lives in exactly one micro-batch, so "
    "ANY split unions to the identical verdict set — stream-merged == "
    "batch gate under forced splits (pinned in tests), and the batch "
    "oracle serves unchanged. Extends the streaming-twin guarantee to the "
    "multimodal family: every dedup modality (text LSH, semantic, visual) "
    "now has an incremental ingest form.",
    oracle=_mm_gate_oracle_sql(),
)
def streaming_multimodal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    import pyspark.sql.functions as F

    from ..lifecycle import scoped_persist
    from ..operators.multimodal import (
        PHASH_MIN_CHARS,
        attach_media_columns,
        phash_media,
    )
    from ..sources.tpch import load_table
    from ..streaming.visualgate import phash_gate_drain
    from .multimodal import MM_MAX_HAMMING, MM_PX_L1_MAX

    visual = F.col("text").isNotNull() & (
        F.length("text") >= PHASH_MIN_CHARS
    )
    is_new = F.col("doc_id") % 10 == 5
    # the persisted ingest state: corpus-side signatures, decoded ONCE
    docs = load_table(spark, sf_dir, "documents").filter(visual & ~is_new)
    corpus_sig = scoped_persist(
        phash_media(attach_media_columns(docs, "doc_id", "text"))
    )

    # a multi-file lake streams one micro-batch per file — the forced split
    # that makes the stream==batch claim non-vacuous
    stream = read_parquet_stream(
        spark, f"{sf_dir}/documents.parquet", one_file_per_batch=True
    )
    arrivals = stream.filter(visual & is_new).select("doc_id", "text")
    verdicts, _n = phash_gate_drain(
        spark,
        arrivals,
        corpus_sig,
        max_hamming=MM_MAX_HAMMING,
        px_l1_max=MM_PX_L1_MAX,
        checkpoint_dir=tempfile.mkdtemp(prefix="sg_mmgate_ckpt_"),
    )
    if verdicts is None:  # zero micro-batches: an empty arrival backlog
        return spark.createDataFrame(
            [], "media_id long, matched_media long, hamming long, px_l1 long"
        )
    return verdicts.orderBy("media_id")


