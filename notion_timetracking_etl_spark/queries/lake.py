"""Partitioned-lake queries: partition pruning as a first-class, driver-
checked behavior.

The reference persists normalized pulls under date directories and reads
back only the latest one (src/normalize/io.ts:5-12 date-dir layout;
src/cli/index.ts:104-119 latest-dir selection) — directory layout IS its
partition pruning. The Spark-native equivalent is a hive-partitioned
parquet lake (``sinks/parquet.py::write_partitioned_lake``): a reader with
a predicate on the partition column lists only the matching directories
(``PartitionFilters`` in the scan, asserted by
tests/test_plan_contracts.py), so a day query over a 100 TB / 3-year lake
touches ~0.1% of the files. Every other registered query scans the
driver's single-file testdata; this family closes the loop from the WRITE
layout to the pruned READ.

The lake is materialized once per (process, sf_dir) into a scratch
directory — derived data, rebuilt from the source parquet on first use so
a testdata regen between driver rounds can never serve stale rows — and
the registered query then reads it back WITH a partition predicate. The
DuckDB oracle computes the identical result straight from the raw events
view, proving the partitioned round-trip loses nothing.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import write_once
from ..sinks.parquet import write_bucketed_table, write_partitioned_lake
from ..sources.tpch import load_table
from .helpers import DATE_FMT_SPARK, dsum, dsum_sql, ordered_small
from .registry import register

def _lake_path(sf_dir: str, leaf: str) -> str:
    """Scratch path for a derived lake of ``sf_dir``: one sanitize rule,
    one scratch root, shared by every lake in this module."""
    tag = re.sub(r"[^A-Za-z0-9_.-]+", "_", os.path.abspath(sf_dir).strip("/"))
    return os.path.join(tempfile.gettempdir(), "spark_graft_lakes", tag, leaf)


def events_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_by_date")


def events_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a ``event_date=``-partitioned parquet lake.

    First call per process writes the lake (one task per date directory,
    rows sorted by ``ts`` inside each file for row-group min/max pruning);
    later calls — and every registered query — just read it back. NULL
    timestamps land in the hive default partition (``event_date=
    __HIVE_DEFAULT_PARTITION__``) and surface as NULL on read, so the
    round-trip is lossless even for the robustness probes' NULL rows.
    """
    path = events_lake_path(sf_dir)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_once(
        path,
        lambda: write_partitioned_lake(ev, path, ["event_date"], sort_cols=["ts"]),
    )
    # Explicit schema (source schema + the partition column): an EMPTY
    # events table writes a lake with zero partition directories, where
    # schema/partition inference has nothing to look at and raises
    # UNABLE_TO_INFER_SCHEMA — a legitimate filtered-to-zero production
    # state (ROBUSTNESS.md §1), not an error.
    return spark.read.schema(ev.schema).parquet(path)


@register(
    "lake_pruned_daily_profile",
    "S5-analog,P1,A1,A7",
    "Partition-pruned lake read (reference: src/normalize/io.ts:5-12 "
    "date-dir layout, src/cli/index.ts:104-119 latest-dir read): events "
    "written as an event_date=-partitioned lake, then one week read back "
    "with a partition predicate (PartitionFilters prune the scan to 7 of "
    "~30 directories — pinned by tests/test_plan_contracts.py) and "
    "profiled per (day, type).",
    oracle=f"""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               {dsum_sql("value", "total_value")}
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def lake_pruned_daily_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    lake = events_lake(spark, sf_dir)
    return (
        lake.filter(F.col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.date_format("event_date", DATE_FMT_SPARK).alias("event_date"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
        .orderBy("event_date", "event_type")
    )


# ---------------------------------------------------------------------------
# Bucketed lake: the pre-paid shuffle


def _bucket_tag(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]+", "_", os.path.abspath(sf_dir).strip("/"))


def bucketed_event_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Events fact + per-user cohort dim, both bucketed 8-ways on user_id.

    ``bucketBy`` pre-pays the join shuffle at write time: both scans report
    the same hash partitioning, so every later user_id equi-join between
    them is exchange-free (pinned by tests/test_plan_contracts.py). The
    catalog entries are session-scoped (in-memory catalog) with external
    /tmp paths; first use in a session writes, later uses read.
    """
    tag = _bucket_tag(sf_dir)
    fact, dim = f"sg_events_bu_{tag}", f"sg_user_cohort_bu_{tag}"
    have = {t.name for t in spark.catalog.listTables()}
    if fact not in have or dim not in have:
        base = os.path.join(tempfile.gettempdir(), "spark_graft_lakes", tag)
        ev = load_table(spark, sf_dir, "events")
        write_bucketed_table(
            ev, fact, ["user_id"], 8, sort_cols=["user_id"],
            path=os.path.join(base, "events_bucketed"),
        )
        cohort = ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("cohort_date")
        )
        write_bucketed_table(
            cohort, dim, ["user_id"], 8, sort_cols=["user_id"],
            path=os.path.join(base, "user_cohort_bucketed"),
        )
    return fact, dim


@register(
    "lake_bucketed_cohort_activity",
    "S6-analog,J1,A1",
    "Exchange-free bucketed join (the write-side complement of partition "
    "pruning): events fact and per-user first-seen cohort dim both written "
    "bucketBy(8, user_id), then joined on user_id with NO shuffle of "
    "either side (both scans report the bucket hash partitioning; plan "
    "pinned in tests/test_plan_contracts.py) and aggregated per (cohort "
    "week-start, event_type). At 100 TB this is the fact-fact join "
    "bucketing exists for: the shuffle is paid once at ingest, every "
    "daily join is free.",
    oracle=f"""
        WITH c AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
          FROM events GROUP BY 1
        )
        SELECT strftime(date_trunc('week', cohort_date), '%Y-%m-%d')
                 AS cohort_week,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
               {dsum_sql("value", "total_value")}
        FROM events e JOIN c USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def lake_bucketed_cohort_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact, dim = bucketed_event_tables(spark, sf_dir)
    ev = spark.table(fact)
    cohort = spark.table(dim)
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            F.date_format(
                F.date_trunc("week", "cohort_date"), DATE_FMT_SPARK
            ).alias("cohort_week"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("cohort_week", "event_type")
    )


# ---------------------------------------------------------------------------
# Persisted-sketch lake maintenance (r8 verdict task #3): per-partition KMV
# partials written to the lake, merged on read — the 100 TB pattern where
# raw events are too big to rescan per question.
# ---------------------------------------------------------------------------


def _sketch_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_kmv_by_date")


def kmv_dated_hashes(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    """(event_date, g, h): the KMV family's distinct per-type user-day keys
    (queries/sketches.py::kmv_hashed_df — same key, same 56-bit
    sha256('kmv:'||key) hash) carrying the partition date. A key embeds its
    day, so per-date partials partition the key space exactly. ``ev``
    overrides the events source (a caller-filtered view, e.g. the deletion
    sweep's post-delete corpus) so the ONE canonical key/hash recipe serves
    every consumer — a copied recipe that drifted would only surface at
    runtime as a stitched-lake hash mismatch."""
    if ev is None:
        ev = load_table(spark, sf_dir, "events")
    ev = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    day = F.date_format(F.to_date("ts"), DATE_FMT_SPARK)
    keyed = ev.select(
        F.to_date("ts").alias("event_date"),
        F.col("event_type").alias("g"),
        F.concat(F.col("user_id").cast("string"), F.lit(":"), day).alias("key"),
    ).distinct()
    return keyed.select(
        "event_date",
        "g",
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit("kmv:"), F.col("key")), 256), 1, 14
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )


def kmv_partial_sketches(hashed: DataFrame) -> DataFrame:
    """Per-(event_date, g) bottom-k partial sketch rows — the unit a 100 TB
    ingest maintains per partition as new data lands (O(dates x types x k)
    rows total). Map-side WindowGroupLimit prunes each task to k rows per
    group before the exchange."""
    from pyspark.sql import Window

    from .sketches import KMV_K

    w = Window.partitionBy("event_date", "g").orderBy(F.col("h").asc())
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("event_date", "g", "h")
    )


def kmv_merge_sketch(partials: DataFrame) -> DataFrame:
    """Merge partial sketches into per-g (kth_min, n_in_sketch): bottom-k
    over the union of partials — exact, because bottom-k by a global hash
    is a monoid (the property tests pin the algebra; this helper is the
    storage-seam consumer)."""
    from pyspark.sql import Window

    from .sketches import KMV_K

    w = Window.partitionBy("g").orderBy(F.col("h").asc())
    return (
        partials.select("g", "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("g")
        .agg(
            F.max("h").cast("bigint").alias("kth_min"),
            F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
        )
    )


def kmv_sketch_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-date KMV partial sketch table as an ``event_date=``-
    partitioned parquet lake: first use per process writes it (one task per
    date directory), later uses read it back. Explicit schema on read for
    the empty-events case (zero partition directories — ROBUSTNESS §1)."""
    path = _sketch_lake_path(sf_dir)
    partials = kmv_partial_sketches(kmv_dated_hashes(spark, sf_dir))
    write_once(
        path,
        lambda: write_partitioned_lake(
            partials, path, ["event_date"], sort_cols=["g", "h"]
        ),
    )
    return spark.read.schema(partials.schema).parquet(path)


def _kmv_lake_oracle_sql() -> str:
    from .sketches import _KMV_SPACE, KMV_K

    return f"""
        WITH keyed AS (
          SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
                 event_type AS g,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        hashed AS (
          SELECT d, g,
                 CAST(concat('0x', substr(sha256(concat('kmv:', key)),
                      1, 14)) AS BIGINT) AS h
          FROM keyed
        ),
        part AS (
          SELECT d, g, h FROM (
            SELECT d, g, h,
                   ROW_NUMBER() OVER (PARTITION BY d, g ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
        ),
        merged AS (
          -- joins key on a null-coalesced group id: event_type is nullable
          -- and a plain equi-join would silently drop the NULL group from
          -- the audit (the NULL-key class the qs lake fixed first)
          SELECT g, coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(MAX(h) AS BIGINT) AS kth_min,
                 CAST(COUNT(*) AS BIGINT) AS n_in_sketch
          FROM (
            SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM part
          ) WHERE rn <= {KMV_K}
          GROUP BY g
        ),
        np AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_partials
          FROM part GROUP BY g
        ),
        whole AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(MAX(h) AS BIGINT) AS kth_w,
                 CAST(COUNT(*) AS BIGINT) AS n_w
          FROM (
            SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
          GROUP BY g
        ),
        exact AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS n_exact FROM hashed GROUP BY g
        )
        SELECT m.g AS event_type,
               np.n_partials,
               m.n_in_sketch,
               m.kth_min,
               CASE WHEN m.n_in_sketch < {KMV_K}
                    THEN CAST(m.n_in_sketch AS DOUBLE)
                    ELSE {float(KMV_K - 1)} * {_KMV_SPACE} / m.kth_min
               END AS kmv_est,
               (m.kth_min = w.kth_w AND m.n_in_sketch = w.n_w)
                 AS merged_equals_whole,
               e.n_exact,
               ((CASE WHEN m.n_in_sketch < {KMV_K}
                      THEN CAST(m.n_in_sketch AS DOUBLE)
                      ELSE {float(KMV_K - 1)} * {_KMV_SPACE} / m.kth_min END)
                - e.n_exact) / e.n_exact AS rel_err
        FROM merged m
        JOIN np USING (gk)
        JOIN whole w USING (gk)
        JOIN exact e USING (gk)
        ORDER BY event_type
    """


@register(
    "kmv_sketch_lake_merge",
    "S6-analog,A10-ext,U2-analog",
    "Persisted-sketch lake maintenance — the 100 TB count-distinct pattern "
    "where raw events are too big to rescan: per-(event_date, event_type) "
    "KMV bottom-64 partials written once to a date-partitioned parquet "
    "lake (O(dates x types x k) rows — the table an ingest pipeline "
    "maintains incrementally as partitions land), then a MERGE-ON-READ "
    "that rebuilds each type's sketch from the stored partials alone. "
    "Bottom-k by a global hash is a monoid, so merged(partials) must "
    "EQUAL the single-pass whole-corpus sketch — the query recomputes the "
    "whole sketch from raw events as an audit twin and hashes the "
    "equality flag (a lost partition, a short-read, or a broken merge "
    "flips it red), plus the exact distinct count and the estimate's "
    "rel_err. In production only the merged path runs; the audit side is "
    "this query's evidence seam. The oracle replays partials, merge, "
    "whole sketch, and audit from the raw events view end-to-end.",
    oracle=_kmv_lake_oracle_sql(),
)
def kmv_sketch_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketches import _KMV_SPACE, KMV_K

    # joins key on a null-coalesced group id (sketches.py convention):
    # event_type is nullable and a plain equi-join would silently drop the
    # NULL group from the audit
    gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
    partials = kmv_sketch_lake(spark, sf_dir)
    merged = kmv_merge_sketch(partials).withColumn("gk", gk)
    np_ = (
        partials.groupBy("g")
        .agg(F.countDistinct("event_date").cast("bigint").alias("n_partials"))
        .select(gk, "n_partials")
    )
    hashed = kmv_dated_hashes(spark, sf_dir)
    whole = kmv_merge_sketch(
        hashed.withColumn("event_date", F.lit(None).cast("date"))
    ).select(
        gk,
        F.col("kth_min").alias("kth_w"),
        F.col("n_in_sketch").alias("n_w"),
    )
    exact = (
        hashed.groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .select(gk, "n_exact")
    )
    est = F.when(
        F.col("n_in_sketch") < KMV_K, F.col("n_in_sketch").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(_KMV_SPACE)
        / F.col("kth_min").cast("double")
    )
    return ordered_small(
        merged.join(np_, "gk")
        .join(whole, "gk")
        .join(exact, "gk")
        .select(
            F.col("g").alias("event_type"),
            "n_partials",
            "n_in_sketch",
            "kth_min",
            est.alias("kmv_est"),
            (
                (F.col("kth_min") == F.col("kth_w"))
                & (F.col("n_in_sketch") == F.col("n_w"))
            ).alias("merged_equals_whole"),
            "n_exact",
            ((est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
        ),
        "event_type",
    )


# ---------------------------------------------------------------------------
# HLL persisted-sketch lake: the same storage seam as the KMV lake above,
# with a DIFFERENT merge operator (register-wise MAX instead of bottom-k) —
# proving the seam is sketch-agnostic: any monoid-mergeable summary can be
# maintained per partition and merged on read.
# ---------------------------------------------------------------------------


def _hll_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_hll_by_date")


def hll_dated_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_date, g, idx, rank): the HLL family's map-side register
    fields (queries/sketches.py::hll_rank_fields — same key, same hash)
    carrying the partition date; a user-day key embeds its day, so
    per-date partials partition the key space exactly."""
    from .sketches import hll_rank_fields, hll_user_day_key

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    keyed = ev.select(
        F.to_date("ts").alias("event_date"),
        F.col("event_type").alias("g"),
        hll_user_day_key().alias("key"),
    ).distinct()
    return hll_rank_fields(keyed, "event_date", "g")


def hll_partial_registers(fields: DataFrame) -> DataFrame:
    """Per-(event_date, g) register rows — O(dates x types x m) stored."""
    return fields.groupBy("event_date", "g", "idx").agg(
        F.max("rank").alias("rank")
    )


def hll_merge_registers(partials: DataFrame) -> DataFrame:
    """Merge partial registers into per-g registers: cell-wise MAX — the
    HLL monoid (same algebra the streaming twin folds across batches)."""
    return partials.groupBy("g", "idx").agg(F.max("rank").alias("rank"))


def hll_sketch_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _hll_lake_path(sf_dir)
    partials = hll_partial_registers(hll_dated_fields(spark, sf_dir))
    write_once(
        path,
        lambda: write_partitioned_lake(
            partials, path, ["event_date"], sort_cols=["g", "idx"]
        ),
    )
    return spark.read.schema(partials.schema).parquet(path)


def _hll_lake_oracle_sql() -> str:
    from .sketches import (
        _HLL_IDX_SHIFT,
        _HLL_NUM,
        _HLL_RANK_MAX,
        _HLL_W_MASK,
        HLL_M,
    )

    # qualified m.* — the final SELECT joins two relations that both
    # carry (t, n_zero_registers)
    est = (
        f"CASE WHEN {_HLL_NUM} / m.t <= {2.5 * HLL_M}"
        f" AND m.n_zero_registers > 0"
        f" THEN {float(HLL_M)} * ln({float(HLL_M)} / m.n_zero_registers)"
        f" ELSE {_HLL_NUM} / m.t END"
    )
    return f"""
        WITH keyed AS (
          SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
                 event_type AS g,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        fields AS (
          SELECT d, g,
                 h >> {_HLL_IDX_SHIFT} AS idx, h & {_HLL_W_MASK} AS w
          FROM (
            SELECT d, g,
                   CAST(concat('0x', substr(sha256(concat('hll:', key)),
                        1, 14)) AS BIGINT) AS h
            FROM keyed
          )
        ),
        part AS (
          SELECT d, g, idx,
                 MAX(CASE WHEN w = 0 THEN {_HLL_RANK_MAX}
                     ELSE {_HLL_RANK_MAX} - length(bin(w)) END) AS rank
          FROM fields GROUP BY 1, 2, 3
        ),
        merged AS (
          SELECT g, idx, MAX(rank) AS rank FROM part GROUP BY 1, 2
        ),
        mstats AS (
          -- joins key on a null-coalesced group id (same NULL-key fix as
          -- the KMV/qs lakes: a NULL event_type group must stay audited)
          SELECT g, coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_MAX} - rank))
                      AS BIGINT)
                 + ({HLL_M} - COUNT(*))
                   * (CAST(1 AS BIGINT) << {_HLL_RANK_MAX}) AS t,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS n_zero_registers
          FROM merged GROUP BY g
        ),
        whole AS (
          SELECT g, idx,
                 MAX(CASE WHEN w = 0 THEN {_HLL_RANK_MAX}
                     ELSE {_HLL_RANK_MAX} - length(bin(w)) END) AS rank
          FROM fields GROUP BY 1, 2
        ),
        wstats AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_MAX} - rank))
                      AS BIGINT)
                 + ({HLL_M} - COUNT(*))
                   * (CAST(1 AS BIGINT) << {_HLL_RANK_MAX}) AS t,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS n_zero_registers
          FROM whole GROUP BY g
        ),
        np AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_partials
          FROM part GROUP BY g
        ),
        exact AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS n_exact FROM keyed GROUP BY g
        )
        SELECT m.g AS event_type,
               np.n_partials,
               m.t,
               m.n_zero_registers,
               {est} AS hll_est,
               (m.t = w.t AND m.n_zero_registers = w.n_zero_registers)
                 AS merged_equals_whole,
               e.n_exact,
               ({est} - e.n_exact) / e.n_exact AS rel_err
        FROM mstats m
        JOIN wstats w USING (gk)
        JOIN np USING (gk)
        JOIN exact e USING (gk)
        ORDER BY event_type
    """


@register(
    "hll_sketch_lake_merge",
    "S6-analog,A1-analog,U2-analog",
    "The persisted-sketch storage seam GENERALIZED to a second sketch "
    "algebra: per-(event_date, event_type) HLL registers written to a "
    "date-partitioned parquet lake (O(dates x types x m) rows, m=32), "
    "merged on read by register-wise MAX — a different monoid than the "
    "KMV lake's bottom-k, through the identical write/read machinery. "
    "Merged(partials) must equal the single-pass whole-corpus registers; "
    "the query hashes the equality flag plus the exact-integer harmonic "
    "denominator, the estimate, and the exact-count audit. Together with "
    "kmv_sketch_lake_merge this pins the seam as sketch-agnostic: any "
    "mergeable summary maintains per partition, merges on read, and "
    "never rescans raw events in production.",
    oracle=_hll_lake_oracle_sql(),
)
def hll_sketch_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketches import (
        hll_estimate_col,
        hll_stats_from_registers,
    )

    # null-coalesced join key: a NULL event_type group must stay audited
    # (same fix as the KMV/qs lakes)
    gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
    partials = hll_sketch_lake(spark, sf_dir)
    mstats = hll_stats_from_registers(
        hll_merge_registers(partials), "g"
    ).withColumn("gk", gk)
    np_ = (
        partials.groupBy("g")
        .agg(F.countDistinct("event_date").cast("bigint").alias("n_partials"))
        .select(gk, "n_partials")
    )
    fields = hll_dated_fields(spark, sf_dir)
    wstats = hll_stats_from_registers(
        fields.groupBy("g", "idx").agg(F.max("rank").alias("rank")), "g"
    ).select(
        gk,
        F.col("t").alias("wt"),
        F.col("n_zero_registers").alias("wz"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.date_format(F.to_date("ts"), DATE_FMT_SPARK),
            ).alias("key"),
        )
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .select(gk, "n_exact")
    )
    est = hll_estimate_col()
    return ordered_small(
        mstats.join(wstats, "gk")
        .join(np_, "gk")
        .join(exact, "gk")
        .select(
            F.col("g").alias("event_type"),
            "n_partials",
            "t",
            "n_zero_registers",
            est.alias("hll_est"),
            (
                (F.col("t") == F.col("wt"))
                & (F.col("n_zero_registers") == F.col("wz"))
            ).alias("merged_equals_whole"),
            "n_exact",
            ((est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
        ),
        "event_type",
    )


# ---------------------------------------------------------------------------
# Quantile-sample persisted-sketch lake: the THIRD monoid through the same
# storage seam (KMV bottom-k distinct, HLL register-MAX, and now the bottom-k
# hash sample whose merge is union + re-bottom-k) — order statistics over a
# lake whose raw events are never rescanned.
# ---------------------------------------------------------------------------


def _qs_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_qs_by_date")


def qs_dated_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_date, g, value, h): the quantile family's sample-eligible rows
    (queries/sketches.py::qs_keyed_values — same eligibility, same 56-bit
    sha256('qs:'||event_id) membership hash) carrying the partition date. An
    event row lives in exactly one date partition, so per-date partials
    partition the value multiset exactly; NULL-ts rows ride the hive default
    partition like the raw events lake."""
    from .sketches import qs_hash_col

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    return ev.select(
        F.to_date("ts").alias("event_date"),
        F.col("event_type").alias("g"),
        "value",
        qs_hash_col(),
    )


def qs_partial_samples(vals: DataFrame) -> DataFrame:
    """Per-(event_date, g) bottom-k hash-sample partials — O(dates x types
    x k) stored rows; the map-side WindowGroupLimit prunes each task to k
    rows per group before the exchange."""
    from pyspark.sql import Window

    from .sketches import QS_K

    w = Window.partitionBy("event_date", "g").orderBy(F.col("h").asc())
    return (
        vals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QS_K)
        .select("event_date", "g", "value", "h")
    )


def qs_merge_sample(partials: DataFrame) -> DataFrame:
    """Merge partial samples into the per-g bottom-k sample: union +
    re-bottom-k — the hash-sample monoid (identical algebra to the KMV
    merge, but each surviving row carries its VALUE, so the merged sample
    answers quantile questions)."""
    from pyspark.sql import Window

    from .sketches import QS_K

    w = Window.partitionBy("g").orderBy(F.col("h").asc())
    return (
        partials.select("g", "value", "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QS_K)
        .select("g", "value", "h")
    )


def qs_sketch_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _qs_lake_path(sf_dir)
    partials = qs_partial_samples(qs_dated_values(spark, sf_dir))
    write_once(
        path,
        lambda: write_partitioned_lake(
            partials, path, ["event_date"], sort_cols=["g", "h"]
        ),
    )
    return spark.read.schema(partials.schema).parquet(path)


def _qs_lake_oracle_sql() -> str:
    from .sketches import QS_K

    return f"""
        WITH vals AS (
          SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
                 event_type AS g, value,
                 CAST(concat('0x', substr(sha256(concat('qs:',
                      CAST(event_id AS VARCHAR))), 1, 14)) AS BIGINT) AS h
          FROM events
          WHERE value IS NOT NULL AND event_id IS NOT NULL
        ),
        part AS (
          SELECT d, g, value, h FROM (
            SELECT d, g, value, h,
                   ROW_NUMBER() OVER (PARTITION BY d, g ORDER BY h) AS rn
            FROM vals
          ) WHERE rn <= {QS_K}
        ),
        merged AS (
          SELECT g, value, h FROM (
            SELECT g, value, h,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM part
          ) WHERE rn <= {QS_K}
        ),
        whole AS (
          SELECT g, value, h FROM (
            SELECT g, value, h,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM vals
          ) WHERE rn <= {QS_K}
        ),
        mfp AS (
          -- joins key on a null-coalesced group id: event_type is nullable
          -- and a plain equi-join would drop the NULL group (the r8 ADVICE
          -- NULL-key divergence class)
          SELECT g, coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS n_sample,
                 CAST(bit_xor(h) AS BIGINT) AS xh,
                 CAST(MAX(h) AS BIGINT) AS mh,
                 round(quantile_cont(value, 0.5), 6) AS est_p50,
                 round(quantile_cont(value, 0.9), 6) AS est_p90,
                 round(quantile_cont(value, 0.99), 6) AS est_p99
          FROM merged GROUP BY g
        ),
        wfp AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS wn,
                 CAST(bit_xor(h) AS BIGINT) AS wxh,
                 CAST(MAX(h) AS BIGINT) AS wmh
          FROM whole GROUP BY g
        ),
        np AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_partials
          FROM part GROUP BY g
        ),
        exact AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS n_total,
                 round(quantile_cont(value, 0.5), 6) AS exact_p50,
                 round(quantile_cont(value, 0.9), 6) AS exact_p90,
                 round(quantile_cont(value, 0.99), 6) AS exact_p99
          FROM vals GROUP BY g
        )
        SELECT m.g AS event_type,
               np.n_partials,
               m.n_sample,
               m.est_p50, m.est_p90, m.est_p99,
               (m.n_sample = w.wn AND m.xh = w.wxh AND m.mh = w.wmh)
                 AS merged_equals_whole,
               e.n_total,
               e.exact_p50, e.exact_p90, e.exact_p99
        FROM mfp m
        JOIN wfp w USING (gk)
        JOIN np USING (gk)
        JOIN exact e USING (gk)
        ORDER BY event_type
    """


@register(
    "quantile_sketch_lake_merge",
    "S6-analog,A3-analog,U2-analog",
    "The persisted-sketch storage seam under its THIRD monoid — order "
    "statistics: per-(event_date, event_type) bottom-k hash-sample partials "
    "(each surviving row carries its VALUE, so the stored sketch answers "
    "quantile questions, not just cardinality) written to a date-"
    "partitioned parquet lake, merged on read by union + re-bottom-k. "
    "Merged(partials) must equal the single-pass whole-corpus sample as a "
    "SET — the query fingerprints both sides (count, bit_xor of the "
    "membership hashes, max hash) and hashes the equality flag, plus "
    "interpolated p50/p90/p99 over the merged sample next to the full-data "
    "truth. With the KMV (bottom-k distinct) and HLL (register-MAX) lakes "
    "this completes the seam's generality claim: distinct counts, "
    "cardinality registers, and quantiles all maintain per partition and "
    "merge on read without rescanning raw events.",
    oracle=_qs_lake_oracle_sql(),
)
def quantile_sketch_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketches import qs_percentile_aggs

    # joins key on a null-coalesced group id (sketches.py convention):
    # event_type is nullable and a plain equi-join would drop the NULL group
    gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
    partials = qs_sketch_lake(spark, sf_dir)
    merged = qs_merge_sample(partials)
    mfp = merged.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        F.expr("bit_xor(h)").cast("bigint").alias("xh"),
        F.max("h").cast("bigint").alias("mh"),
        *qs_percentile_aggs("est"),
    ).withColumn("gk", gk)
    np_ = (
        partials.groupBy("g")
        .agg(F.countDistinct("event_date").cast("bigint").alias("n_partials"))
        .select(gk, "n_partials")
    )
    vals = qs_dated_values(spark, sf_dir)
    wfp = (
        qs_merge_sample(vals)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("wn"),
            F.expr("bit_xor(h)").cast("bigint").alias("wxh"),
            F.max("h").cast("bigint").alias("wmh"),
        )
        .select(gk, "wn", "wxh", "wmh")
    )
    exact = vals.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        *qs_percentile_aggs("exact"),
    ).select(gk, "n_total", "exact_p50", "exact_p90", "exact_p99")
    return ordered_small(
        mfp.join(wfp, "gk")
        .join(np_, "gk")
        .join(exact, "gk")
        .select(
            F.col("g").alias("event_type"),
            "n_partials",
            "n_sample",
            "est_p50",
            "est_p90",
            "est_p99",
            (
                (F.col("n_sample") == F.col("wn"))
                & (F.col("xh") == F.col("wxh"))
                & (F.col("mh") == F.col("wmh"))
            ).alias("merged_equals_whole"),
            "n_total",
            "exact_p50",
            "exact_p90",
            "exact_p99",
        ),
        "event_type",
    )


# ---------------------------------------------------------------------------
# schema evolution: mergeSchema read over an evolving lake
# ---------------------------------------------------------------------------


def _drift_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "orders_evolving")


@register(
    "lake_schema_drift_report",
    "S5-analog-lake,V1-analog",
    "Schema-evolution audit over an evolving lake: generation 1 files "
    "(even order keys) carry the v1 schema, generation 2 (odd keys) adds a "
    "derived discount_micros column; the reader merges the schemas "
    "(mergeSchema=true — the footer-union read path) and the report "
    "proves v1 rows surface the evolved column as NULL while v2 rows carry "
    "exact values: per generation, row count, NULL count and exact sum of "
    "the late column. The oracle derives both generations straight from "
    "the orders table, so the hash match pins the merged-read semantics. "
    "At 100 TB this is the audit run before promoting a schema change.",
    oracle="""
        SELECT gen,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(discount_micros) AS BIGINT)
                 AS n_null_discount,
               CAST(COALESCE(SUM(discount_micros), 0) AS BIGINT)
                 AS sum_discount_micros
        FROM (
          SELECT 1 AS gen, o_orderkey,
                 CAST(NULL AS BIGINT) AS discount_micros
          FROM orders WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT 2, o_orderkey,
                 CAST(floor(o_totalprice * 100000.0) AS BIGINT)
          FROM orders WHERE o_orderkey % 2 = 1
        )
        GROUP BY gen
        ORDER BY gen
    """,
)
def lake_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _drift_lake_path(sf_dir)
    def write_generations() -> None:
        orders = load_table(spark, sf_dir, "orders")
        v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            F.lit(1).alias("gen"), "o_orderkey"
        )
        # the evolved generation adds a column v1 files have never seen
        v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            F.lit(2).alias("gen"),
            "o_orderkey",
            F.floor(F.col("o_totalprice") * F.lit(100000.0))
            .cast("bigint")
            .alias("discount_micros"),
        )
        v1.write.mode("overwrite").parquet(path)
        v2.write.mode("append").parquet(path)

    write_once(path, write_generations)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return ordered_small(
        merged.groupBy("gen")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) - F.count("discount_micros"))
            .cast("bigint")
            .alias("n_null_discount"),
            F.coalesce(F.sum("discount_micros"), F.lit(0))
            .cast("bigint")
            .alias("sum_discount_micros"),
        ),
        "gen",
    )


# ---------------------------------------------------------------------------
# Sketch-lake lifecycle beyond append (r9 verdict task #2): compaction of old
# per-date partials into coarser grains, plus partition retirement — the
# operations a year-old 100 TB sketch lake actually runs. The bottom-k monoid
# makes both provable: re-merging partials at ANY grain yields the same
# sketch (merge is associative/commutative/idempotent on the hash set), so
# compacted == daily-direct is a hashed equality, not a tolerance.
# ---------------------------------------------------------------------------

# Grain pivot: daily partials strictly BEFORE this date compact to ISO-week
# grain; later dates stay daily (the hot tail an ingest keeps fine-grained).
# Shared by every sketch lake's compaction (KMV bottom-k, HLL register-MAX)
# — the lifecycle is monoid-agnostic like the merge seam it extends.
LAKE_COMPACT_PIVOT = "2024-01-15"
# Retention: grain partitions strictly BEFORE this date are retired. Aligned
# to an ISO-week boundary so retained-compacted == retained-daily exactly.
LAKE_RETAIN_CUTOFF = "2024-01-08"


def _compact_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_kmv_compacted")


def kmv_compact_partials(
    partials: DataFrame, pivot: str = LAKE_COMPACT_PIVOT
) -> DataFrame:
    """(grain_date, g, h): daily partials re-merged to their compaction
    grain — ISO week for dates before ``pivot``, the date itself after.
    Bottom-k of a union of bottom-ks is the bottom-k of the union (the
    monoid property the sketch algebra tests pin), so this LOSES NOTHING:
    the compacted lake merges to the identical whole-corpus sketch while
    holding ~7x fewer partition directories for the cold range."""
    from pyspark.sql import Window

    from .sketches import KMV_K

    grain = F.when(
        F.col("event_date") < F.lit(pivot).cast("date"),
        F.date_trunc("week", F.col("event_date")).cast("date"),
    ).otherwise(F.col("event_date"))
    w = Window.partitionBy("grain_date", "g").orderBy(F.col("h").asc())
    return (
        partials.withColumn("grain_date", grain)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("grain_date", "g", "h")
    )


def kmv_compacted_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compacted KMV lake as a ``grain_date=``-partitioned parquet lake
    (the physical rewrite a lake compaction job performs), written once per
    process from the daily lake and read back with an explicit schema."""
    path = _compact_lake_path(sf_dir)
    compacted = kmv_compact_partials(kmv_sketch_lake(spark, sf_dir))
    write_once(
        path,
        lambda: write_partitioned_lake(
            compacted, path, ["grain_date"], sort_cols=["g", "h"]
        ),
    )
    return spark.read.schema(compacted.schema).parquet(path)


def _kmv_compaction_oracle_sql() -> str:
    from .sketches import KMV_K

    return f"""
        WITH keyed AS (
          SELECT DISTINCT CAST(ts AS DATE) AS d,
                 event_type AS g,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        hashed AS (
          SELECT d, g,
                 CAST(concat('0x', substr(sha256(concat('kmv:', key)),
                      1, 14)) AS BIGINT) AS h
          FROM keyed
        ),
        part AS (
          SELECT d, g, h FROM (
            SELECT d, g, h,
                   ROW_NUMBER() OVER (PARTITION BY d, g ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
        ),
        comp AS (
          SELECT grain, g, h FROM (
            SELECT CASE WHEN d < DATE '{LAKE_COMPACT_PIVOT}'
                        THEN date_trunc('week', d) ELSE d END AS grain,
                   g, h,
                   ROW_NUMBER() OVER (
                     PARTITION BY CASE WHEN d < DATE '{LAKE_COMPACT_PIVOT}'
                                  THEN date_trunc('week', d) ELSE d END, g
                     ORDER BY h) AS rn
            FROM part
          ) WHERE rn <= {KMV_K}
        ),
        mc AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk, g,
                 CAST(MAX(h) AS BIGINT) AS kth_min,
                 CAST(COUNT(*) AS BIGINT) AS n_in_sketch
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn FROM comp)
          WHERE rn <= {KMV_K} GROUP BY g
        ),
        md AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(MAX(h) AS BIGINT) AS kth_d,
                 CAST(COUNT(*) AS BIGINT) AS n_d
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn FROM part)
          WHERE rn <= {KMV_K} GROUP BY g
        ),
        rc AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(MAX(h) AS BIGINT) AS r_kth,
                 CAST(COUNT(*) AS BIGINT) AS r_n
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn
                FROM comp WHERE grain >= DATE '{LAKE_RETAIN_CUTOFF}')
          WHERE rn <= {KMV_K} GROUP BY g
        ),
        rd AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(MAX(h) AS BIGINT) AS rd_kth,
                 CAST(COUNT(*) AS BIGINT) AS rd_n
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn
                FROM part WHERE d >= DATE '{LAKE_RETAIN_CUTOFF}')
          WHERE rn <= {KMV_K} GROUP BY g
        ),
        counts AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_daily_partials
          FROM part GROUP BY g
        ),
        ccounts AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT grain) AS BIGINT)
                   AS n_compacted_partials,
                 CAST(COUNT(DISTINCT grain) FILTER (
                      WHERE grain < DATE '{LAKE_RETAIN_CUTOFF}') AS BIGINT)
                   AS n_retired_partials
          FROM comp GROUP BY g
        )
        SELECT mc.g AS event_type,
               counts.n_daily_partials,
               ccounts.n_compacted_partials,
               ccounts.n_retired_partials,
               mc.kth_min,
               mc.n_in_sketch,
               (mc.kth_min = md.kth_d AND mc.n_in_sketch = md.n_d)
                 AS compacted_equals_daily,
               rc.r_kth AS retained_kth_min,
               (rc.r_kth IS NOT DISTINCT FROM rd.rd_kth
                AND rc.r_n IS NOT DISTINCT FROM rd.rd_n)
                 AS retained_equals_daily_retained
        FROM mc
        JOIN md USING (gk)
        JOIN counts USING (gk)
        JOIN ccounts USING (gk)
        LEFT JOIN rc USING (gk)
        LEFT JOIN rd USING (gk)
        ORDER BY event_type
    """


@register(
    "kmv_sketch_lake_compaction",
    "S6-analog,A10-ext,U2-analog",
    "Sketch-lake LIFECYCLE beyond append (r9 verdict task #2) — the "
    "operations a year-old 100 TB sketch lake runs: (1) COMPACTION — daily "
    f"KMV partials older than {LAKE_COMPACT_PIVOT} re-merge in place to "
    "ISO-week grain partitions (bottom-k of a union of bottom-ks IS the "
    "bottom-k of the union, so the rewrite provably loses nothing — the "
    "compacted lake's whole-corpus merge is hash-flagged EQUAL to the "
    "daily lake's, per event_type, NULL group included); (2) RETIREMENT — "
    f"grain partitions before {LAKE_RETAIN_CUTOFF} (week-aligned) are "
    "dropped, and the retained compacted merge is hash-flagged equal to "
    "the retained daily merge (null-safe: a type living only in retired "
    "partitions compares absent-to-absent). The compacted lake is "
    "physically rewritten as a grain_date=-partitioned parquet lake; "
    "partition counts before/after/retired quantify the directory "
    "reduction. The oracle replays partials, week re-merge, retirement "
    "and every equality from the raw events view end-to-end; the "
    "two-level re-compaction probe (daily->weekly->monthly == "
    "daily-direct) is pinned in tests/test_round10.py.",
    oracle=_kmv_compaction_oracle_sql(),
)
def kmv_sketch_lake_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketches import KMV_K

    gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
    cutoff = F.lit(LAKE_RETAIN_CUTOFF).cast("date")
    daily = kmv_sketch_lake(spark, sf_dir)
    compacted = kmv_compacted_lake(spark, sf_dir)

    mc = kmv_merge_sketch(compacted.select("g", "h")).withColumn("gk", gk)
    md = kmv_merge_sketch(daily).select(
        gk, F.col("kth_min").alias("kth_d"), F.col("n_in_sketch").alias("n_d")
    )
    rc = kmv_merge_sketch(
        compacted.filter(F.col("grain_date") >= cutoff).select("g", "h")
    ).select(
        gk, F.col("kth_min").alias("r_kth"), F.col("n_in_sketch").alias("r_n")
    )
    rd = kmv_merge_sketch(
        daily.filter(F.col("event_date") >= cutoff).select("g", "h")
    ).select(
        gk,
        F.col("kth_min").alias("rd_kth"),
        F.col("n_in_sketch").alias("rd_n"),
    )
    counts = (
        daily.groupBy("g")
        .agg(
            F.countDistinct("event_date").cast("bigint").alias(
                "n_daily_partials"
            )
        )
        .select(gk, "n_daily_partials")
    )
    ccounts = (
        compacted.groupBy("g")
        .agg(
            F.countDistinct("grain_date")
            .cast("bigint")
            .alias("n_compacted_partials"),
            F.countDistinct(
                F.when(F.col("grain_date") < cutoff, F.col("grain_date"))
            )
            .cast("bigint")
            .alias("n_retired_partials"),
        )
        .select(gk, "n_compacted_partials", "n_retired_partials")
    )
    return ordered_small(
        mc.join(md, "gk")
        .join(counts, "gk")
        .join(ccounts, "gk")
        .join(rc, "gk", "left")
        .join(rd, "gk", "left")
        .select(
            F.col("g").alias("event_type"),
            "n_daily_partials",
            "n_compacted_partials",
            "n_retired_partials",
            "kth_min",
            "n_in_sketch",
            (
                (F.col("kth_min") == F.col("kth_d"))
                & (F.col("n_in_sketch") == F.col("n_d"))
            ).alias("compacted_equals_daily"),
            F.col("r_kth").alias("retained_kth_min"),
            (
                F.col("r_kth").eqNullSafe(F.col("rd_kth"))
                & F.col("r_n").eqNullSafe(F.col("rd_n"))
            ).alias("retained_equals_daily_retained"),
        ),
        "event_type",
    )


# ---------------------------------------------------------------------------
# HLL compaction twin: the SAME lifecycle (weekly re-grain + week-aligned
# retirement) under the register-MAX monoid — together with
# kmv_sketch_lake_compaction this pins the compaction seam as
# monoid-agnostic, exactly like the r9 merge-seam trio.
# ---------------------------------------------------------------------------


def _hll_compact_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_hll_compacted")


def hll_compact_partials(
    partials: DataFrame, pivot: str = LAKE_COMPACT_PIVOT
) -> DataFrame:
    """(grain_date, g, idx, rank): daily HLL register partials re-merged to
    their compaction grain by register-wise MAX — MAX of MAXes is the MAX,
    so the rewrite provably loses nothing under the second monoid too."""
    grain = F.when(
        F.col("event_date") < F.lit(pivot).cast("date"),
        F.date_trunc("week", F.col("event_date")).cast("date"),
    ).otherwise(F.col("event_date"))
    return (
        partials.withColumn("grain_date", grain)
        .groupBy("grain_date", "g", "idx")
        .agg(F.max("rank").alias("rank"))
    )


def hll_compacted_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _hll_compact_lake_path(sf_dir)
    compacted = hll_compact_partials(hll_sketch_lake(spark, sf_dir))
    write_once(
        path,
        lambda: write_partitioned_lake(
            compacted, path, ["grain_date"], sort_cols=["g", "idx"]
        ),
    )
    return spark.read.schema(compacted.schema).parquet(path)


def _hll_compaction_oracle_sql() -> str:
    from .sketches import _HLL_IDX_SHIFT, _HLL_RANK_MAX, _HLL_W_MASK, HLL_M

    stats = (
        f"CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_MAX} - rank)) AS BIGINT)"
        f" + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_HLL_RANK_MAX})"
    )
    return f"""
        WITH keyed AS (
          SELECT DISTINCT CAST(ts AS DATE) AS d, event_type AS g,
                 concat(user_id, ':',
                        strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS key
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        fields AS (
          SELECT d, g,
                 h >> {_HLL_IDX_SHIFT} AS idx, h & {_HLL_W_MASK} AS w
          FROM (
            SELECT d, g,
                   CAST(concat('0x', substr(sha256(concat('hll:', key)),
                        1, 14)) AS BIGINT) AS h
            FROM keyed
          )
        ),
        part AS (
          SELECT d, g, idx,
                 MAX(CASE WHEN w = 0 THEN {_HLL_RANK_MAX}
                     ELSE {_HLL_RANK_MAX} - length(bin(w)) END) AS rank
          FROM fields GROUP BY 1, 2, 3
        ),
        comp AS (
          SELECT CASE WHEN d < DATE '{LAKE_COMPACT_PIVOT}'
                      THEN date_trunc('week', d) ELSE d END AS grain,
                 g, idx, MAX(rank) AS rank
          FROM part GROUP BY 1, 2, 3
        ),
        mc AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk, g,
                 {stats} AS t,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS n_zero_registers
          FROM (SELECT g, idx, MAX(rank) AS rank FROM comp GROUP BY 1, 2)
          GROUP BY g
        ),
        md AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 {stats} AS t_d,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS z_d
          FROM (SELECT g, idx, MAX(rank) AS rank FROM part GROUP BY 1, 2)
          GROUP BY g
        ),
        rc AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 {stats} AS r_t,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS r_z
          FROM (SELECT g, idx, MAX(rank) AS rank FROM comp
                WHERE grain >= DATE '{LAKE_RETAIN_CUTOFF}' GROUP BY 1, 2)
          GROUP BY g
        ),
        rd AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 {stats} AS rd_t,
                 CAST({HLL_M} - COUNT(*) AS BIGINT) AS rd_z
          FROM (SELECT g, idx, MAX(rank) AS rank FROM part
                WHERE d >= DATE '{LAKE_RETAIN_CUTOFF}' GROUP BY 1, 2)
          GROUP BY g
        ),
        counts AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_daily_partials
          FROM part GROUP BY g
        ),
        ccounts AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT grain) AS BIGINT)
                   AS n_compacted_partials,
                 CAST(COUNT(DISTINCT grain) FILTER (
                      WHERE grain < DATE '{LAKE_RETAIN_CUTOFF}') AS BIGINT)
                   AS n_retired_partials
          FROM comp GROUP BY g
        )
        SELECT mc.g AS event_type,
               counts.n_daily_partials,
               ccounts.n_compacted_partials,
               ccounts.n_retired_partials,
               mc.t,
               mc.n_zero_registers,
               (mc.t = md.t_d AND mc.n_zero_registers = md.z_d)
                 AS compacted_equals_daily,
               (rc.r_t IS NOT DISTINCT FROM rd.rd_t
                AND rc.r_z IS NOT DISTINCT FROM rd.rd_z)
                 AS retained_equals_daily_retained
        FROM mc
        JOIN md USING (gk)
        JOIN counts USING (gk)
        JOIN ccounts USING (gk)
        LEFT JOIN rc USING (gk)
        LEFT JOIN rd USING (gk)
        ORDER BY event_type
    """


@register(
    "hll_sketch_lake_compaction",
    "S6-analog,A1-analog,U2-analog",
    "The compaction/retention LIFECYCLE under a SECOND monoid: daily HLL "
    f"register partials older than {LAKE_COMPACT_PIVOT} re-merge in place "
    "to ISO-week grains by register-wise MAX (MAX of MAXes is the MAX, so "
    "the rewrite provably loses nothing), week-aligned retirement before "
    f"{LAKE_RETAIN_CUTOFF}, equality flags on the exact-integer harmonic "
    "denominator + zero-register count (compacted == daily; retained-"
    "compacted == retained-daily, null-safe). Together with "
    "kmv_sketch_lake_compaction this pins the compaction seam as "
    "monoid-agnostic — the same generality proof r9 made for the merge "
    "seam. The oracle replays registers, week re-merge, retirement and "
    "every equality from raw events; the two-level re-compaction probe "
    "is pinned in tests/test_round10.py.",
    oracle=_hll_compaction_oracle_sql(),
)
def hll_sketch_lake_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
    cutoff = F.lit(LAKE_RETAIN_CUTOFF).cast("date")
    daily = hll_sketch_lake(spark, sf_dir)
    compacted = hll_compacted_lake(spark, sf_dir)

    def stats(regs: DataFrame, t: str, z: str) -> DataFrame:
        from .sketches import hll_stats_from_registers

        out = hll_stats_from_registers(
            hll_merge_registers(regs.select("g", "idx", "rank")), "g"
        )
        return out.select(
            gk,
            F.col("t").alias(t),
            F.col("n_zero_registers").alias(z),
        )

    mc = stats(compacted, "t", "n_zero_registers")
    md = stats(daily, "t_d", "z_d")
    rc = stats(compacted.filter(F.col("grain_date") >= cutoff), "r_t", "r_z")
    rd = stats(daily.filter(F.col("event_date") >= cutoff), "rd_t", "rd_z")
    counts = (
        daily.groupBy("g")
        .agg(
            F.countDistinct("event_date")
            .cast("bigint")
            .alias("n_daily_partials")
        )
        .select(gk, F.col("g").alias("event_type"), "n_daily_partials")
    )
    ccounts = (
        compacted.groupBy("g")
        .agg(
            F.countDistinct("grain_date")
            .cast("bigint")
            .alias("n_compacted_partials"),
            F.countDistinct(
                F.when(F.col("grain_date") < cutoff, F.col("grain_date"))
            )
            .cast("bigint")
            .alias("n_retired_partials"),
        )
        .select(gk, "n_compacted_partials", "n_retired_partials")
    )
    return ordered_small(
        mc.join(md, "gk")
        .join(counts, "gk")
        .join(ccounts, "gk")
        .join(rc, "gk", "left")
        .join(rd, "gk", "left")
        .select(
            "event_type",
            "n_daily_partials",
            "n_compacted_partials",
            "n_retired_partials",
            "t",
            "n_zero_registers",
            (
                (F.col("t") == F.col("t_d"))
                & (F.col("n_zero_registers") == F.col("z_d"))
            ).alias("compacted_equals_daily"),
            (
                F.col("r_t").eqNullSafe(F.col("rd_t"))
                & F.col("r_z").eqNullSafe(F.col("rd_z"))
            ).alias("retained_equals_daily_retained"),
        ),
        "event_type",
    )


# ---------------------------------------------------------------------------
# Quantile-sample compaction twin: the THIRD monoid through the compaction
# lifecycle (value-carrying bottom-k hash sample) — the compaction trio now
# mirrors the r9 merge trio exactly (bottom-k / register-MAX / value sample).
# ---------------------------------------------------------------------------


def _qs_compact_lake_path(sf_dir: str) -> str:
    return _lake_path(sf_dir, "events_qs_compacted")


def qs_compact_partials(
    partials: DataFrame, pivot: str = LAKE_COMPACT_PIVOT
) -> DataFrame:
    """(grain_date, g, value, h): daily sample partials re-merged to their
    compaction grain by union + re-bottom-k — bottom-k of a union of
    bottom-ks is the bottom-k of the union, and each surviving row carries
    its VALUE, so the compacted lake still answers quantile questions.
    NULL event_date partials (NULL-ts rows) keep their NULL grain — they
    never fold into a week and never retire by the date predicate.

    The bottom-k window breaks ties on (h, value), not h alone (ADVICE
    r10): two distinct events colliding on the 56-bit hash within one
    (grain_date, g) carry different value columns, and an h-only sort
    would pick a nondeterministic survivor that could diverge from the
    oracle. The oracle's comp CTE sorts identically."""
    from pyspark.sql import Window

    from .sketches import QS_K

    grain = F.when(
        F.col("event_date") < F.lit(pivot).cast("date"),
        F.date_trunc("week", F.col("event_date")).cast("date"),
    ).otherwise(F.col("event_date"))
    w = Window.partitionBy("grain_date", "g").orderBy(
        F.col("h").asc(), F.col("value").asc()
    )
    return (
        partials.withColumn("grain_date", grain)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QS_K)
        .select("grain_date", "g", "value", "h")
    )


def qs_compacted_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _qs_compact_lake_path(sf_dir)
    compacted = qs_compact_partials(qs_sketch_lake(spark, sf_dir))
    write_once(
        path,
        lambda: write_partitioned_lake(
            compacted, path, ["grain_date"], sort_cols=["g", "h"]
        ),
    )
    return spark.read.schema(compacted.schema).parquet(path)


def _qs_compaction_oracle_sql() -> str:
    from .sketches import QS_K

    fp = (
        "CAST(COUNT(*) AS BIGINT) AS n, CAST(bit_xor(h) AS BIGINT) AS xh,"
        " CAST(MAX(h) AS BIGINT) AS mh"
    )
    return f"""
        WITH vals AS (
          SELECT CAST(ts AS DATE) AS d, event_type AS g, value,
                 CAST(concat('0x', substr(sha256(concat('qs:',
                      CAST(event_id AS VARCHAR))), 1, 14)) AS BIGINT) AS h
          FROM events
          WHERE value IS NOT NULL AND event_id IS NOT NULL
        ),
        part AS (
          SELECT d, g, value, h FROM (
            SELECT d, g, value, h,
                   ROW_NUMBER() OVER (PARTITION BY d, g ORDER BY h) AS rn
            FROM vals
          ) WHERE rn <= {QS_K}
        ),
        comp AS (
          SELECT grain, g, value, h FROM (
            SELECT CASE WHEN d < DATE '{LAKE_COMPACT_PIVOT}'
                        THEN date_trunc('week', d) ELSE d END AS grain,
                   g, value, h,
                   ROW_NUMBER() OVER (
                     PARTITION BY CASE WHEN d < DATE '{LAKE_COMPACT_PIVOT}'
                                  THEN date_trunc('week', d) ELSE d END, g
                     ORDER BY h, value) AS rn
            FROM part
          ) WHERE rn <= {QS_K}
        ),
        mc AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk, g, {fp}
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn FROM comp)
          WHERE rn <= {QS_K} GROUP BY g
        ),
        md AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS n_d,
                 CAST(bit_xor(h) AS BIGINT) AS xh_d,
                 CAST(MAX(h) AS BIGINT) AS mh_d
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn FROM part)
          WHERE rn <= {QS_K} GROUP BY g
        ),
        rc AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS r_n,
                 CAST(bit_xor(h) AS BIGINT) AS r_xh
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn
                FROM comp WHERE grain >= DATE '{LAKE_RETAIN_CUTOFF}')
          WHERE rn <= {QS_K} GROUP BY g
        ),
        rd AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(*) AS BIGINT) AS rd_n,
                 CAST(bit_xor(h) AS BIGINT) AS rd_xh
          FROM (SELECT g, h, ROW_NUMBER() OVER
                  (PARTITION BY g ORDER BY h) AS rn
                FROM part WHERE d >= DATE '{LAKE_RETAIN_CUTOFF}')
          WHERE rn <= {QS_K} GROUP BY g
        ),
        counts AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT d) AS BIGINT) AS n_daily_partials
          FROM part GROUP BY g
        ),
        ccounts AS (
          SELECT coalesce(g, chr(0) || '<null>') AS gk,
                 CAST(COUNT(DISTINCT grain) AS BIGINT)
                   AS n_compacted_partials,
                 CAST(COUNT(DISTINCT grain) FILTER (
                      WHERE grain < DATE '{LAKE_RETAIN_CUTOFF}') AS BIGINT)
                   AS n_retired_partials
          FROM comp GROUP BY g
        )
        SELECT mc.g AS event_type,
               counts.n_daily_partials,
               ccounts.n_compacted_partials,
               ccounts.n_retired_partials,
               mc.n AS n_sample,
               (mc.n = md.n_d AND mc.xh = md.xh_d AND mc.mh = md.mh_d)
                 AS compacted_equals_daily,
               (rc.r_n IS NOT DISTINCT FROM rd.rd_n
                AND rc.r_xh IS NOT DISTINCT FROM rd.rd_xh)
                 AS retained_equals_daily_retained
        FROM mc
        JOIN md USING (gk)
        JOIN counts USING (gk)
        JOIN ccounts USING (gk)
        LEFT JOIN rc USING (gk)
        LEFT JOIN rd USING (gk)
        ORDER BY event_type
    """


@register(
    "quantile_sketch_lake_compaction",
    "S6-analog,A3-analog,U2-analog",
    "The compaction/retention lifecycle under the THIRD monoid — the "
    "value-carrying bottom-k hash sample: daily sample partials older "
    f"than {LAKE_COMPACT_PIVOT} re-merge in place to ISO-week grains by "
    "union + re-bottom-k (each surviving row keeps its VALUE, so the "
    "compacted lake still answers order-statistics questions), "
    f"week-aligned retirement before {LAKE_RETAIN_CUTOFF}, hashed "
    "membership fingerprints (count, bit_xor, max of the sample hashes) "
    "flagging compacted == daily and retained-compacted == "
    "retained-daily (null-safe). NULL-date partials (NULL-ts rows) keep "
    "their NULL grain — never folded into a week, never retired by the "
    "date predicate, and audited like every NULL-key group. The "
    "compaction trio (KMV bottom-k / HLL register-MAX / value sample) "
    "now mirrors the r9 merge trio exactly: the lifecycle is "
    "monoid-agnostic end-to-end.",
    oracle=_qs_compaction_oracle_sql(),
)
def quantile_sketch_lake_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sketches import QS_K  # noqa: F401  (documented bound)

    gk = F.coalesce(F.col("g"), F.lit("\x00<null>")).alias("gk")
    cutoff = F.lit(LAKE_RETAIN_CUTOFF).cast("date")
    daily = qs_sketch_lake(spark, sf_dir)
    compacted = qs_compacted_lake(spark, sf_dir)

    def fp(partials: DataFrame, n: str, xh: str, mh: str | None) -> DataFrame:
        cols = [
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.expr("bit_xor(h)").cast("bigint").alias(xh),
        ]
        if mh:
            cols.append(F.max("h").cast("bigint").alias(mh))
        return qs_merge_sample(partials).groupBy("g").agg(*cols).select(
            gk, *([n, xh] + ([mh] if mh else []))
        )

    mc = fp(compacted.select("g", "value", "h"), "n_sample", "xh", "mh")
    md = fp(daily, "n_d", "xh_d", "mh_d")
    rc = fp(
        compacted.filter(F.col("grain_date") >= cutoff).select(
            "g", "value", "h"
        ),
        "r_n",
        "r_xh",
        None,
    )
    rd = fp(
        daily.filter(F.col("event_date") >= cutoff), "rd_n", "rd_xh", None
    )
    counts = (
        daily.groupBy("g")
        .agg(
            F.countDistinct("event_date")
            .cast("bigint")
            .alias("n_daily_partials")
        )
        .select(gk, F.col("g").alias("event_type"), "n_daily_partials")
    )
    ccounts = (
        compacted.groupBy("g")
        .agg(
            F.countDistinct("grain_date")
            .cast("bigint")
            .alias("n_compacted_partials"),
            F.countDistinct(
                F.when(F.col("grain_date") < cutoff, F.col("grain_date"))
            )
            .cast("bigint")
            .alias("n_retired_partials"),
        )
        .select(gk, "n_compacted_partials", "n_retired_partials")
    )
    return ordered_small(
        mc.join(md, "gk")
        .join(counts, "gk")
        .join(ccounts, "gk")
        .join(rc, "gk", "left")
        .join(rd, "gk", "left")
        .select(
            "event_type",
            "n_daily_partials",
            "n_compacted_partials",
            "n_retired_partials",
            "n_sample",
            (
                (F.col("n_sample") == F.col("n_d"))
                & (F.col("xh") == F.col("xh_d"))
                & (F.col("mh") == F.col("mh_d"))
            ).alias("compacted_equals_daily"),
            (
                F.col("r_n").eqNullSafe(F.col("rd_n"))
                & F.col("r_xh").eqNullSafe(F.col("rd_xh"))
            ).alias("retained_equals_daily_retained"),
        ),
        "event_type",
    )
