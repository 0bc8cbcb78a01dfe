"""Distributed exact global ranking (engine extension).

``Window.orderBy(...)`` with no ``partitionBy`` funnels the ENTIRE input
through one task ("No Partition Defined for Window operation") — fine for a
bounded top-k list, fatal for anything O(keys): per-customer ranks at 100 TB
TPC-H means ~15 B rows in a single sort. :func:`with_global_ranks` computes
the SAME exact ranks with a fully distributed plan:

1. ``repartitionByRange`` on the sort key — Spark's range partitioner
   guarantees every row in partition *i* sorts before every row in
   partition *i+1*;
2. ``sortWithinPartitions`` — each partition is locally ordered, so the
   concatenation of partitions IS the global order;
3. per-partition row counts (≤ P integers) come back to the driver once and
   become cumulative offsets, joined back via a broadcast hash join;
4. ``row_number`` over a ``partitionBy(partition_id)`` window (never a
   global window) plus the offset = the exact global row number.

From the global row number ``rn`` and total ``n`` every frameless ranking
function follows in closed form for a TIE-FREE sort key (callers must
include a unique tiebreaker column, which also makes results deterministic):
``percent_rank = (rn-1)/(n-1)``, ``cume_dist = rn/n``, and ``NTILE(k)``
via the first-(n mod k)-buckets-get-one-extra rule.

Cost: one range shuffle + one tiny driver collect — versus the built-in's
single-partition sort of the whole input. The range partitioner's boundary
sampling only decides WHERE partitions split, never the order, so ranks are
exact regardless of sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..lifecycle import scoped_persist


def ntile_from_rank(rn: Column, n: int, k: int) -> Column:
    """Exact ``NTILE(k)`` bucket for global row number ``rn`` of ``n`` rows.

    SQL-standard rule: bucket sizes differ by at most 1; the first
    ``n mod k`` buckets take ``ceil(n/k)`` rows, the rest ``floor(n/k)``.
    Pure arithmetic — no window, no shuffle."""
    q, r = divmod(n, k)
    if q == 0:
        # fewer rows than buckets: row i lands alone in bucket i
        return rn
    big = F.lit(r * (q + 1))  # rows covered by the size-(q+1) buckets
    return (
        F.when(rn <= big, F.ceil(rn / F.lit(q + 1)))
        .otherwise(F.lit(r) + F.ceil((rn - big) / F.lit(q)))
        .cast("bigint")
    )


def with_global_ranks(
    df: DataFrame,
    sort_cols: list[Column],
    rank_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add exact global row numbers over ``sort_cols`` without a global window.

    ``sort_cols`` must be a TIE-FREE ordering (include a unique key last).
    Returns ``(df_with_rank, total_rows)`` — the total comes for free from
    the offset pass and feeds the closed-form ranking functions.

    The ranged/sorted intermediate is persisted (query-scoped, released by
    ``release_scoped_caches``) so the offset pass and the rank pass see the
    identical partitioning without recomputing upstream lineage.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    parts = scoped_persist(
        df.repartitionByRange(p, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
    )

    # ≤ p rows to the driver: the ONLY driver-side data, independent of input
    # size. Offsets = exclusive prefix sums in partition order.
    counts = {r["_pid"]: r["cnt"] for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off bigint")

    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    ranked = (
        parts.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.row_number().over(w) + F.col("_off")).cast("bigint"))
        .drop("_pid", "_off")
    )
    return ranked, acc


def with_global_prefix_sum(
    df: DataFrame,
    sort_cols: list[Column],
    val_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact distributed prefix sum (inclusive running total) over a total
    order — same machinery as :func:`with_global_ranks`: range-partition on
    the (tie-free) sort key, per-partition running sums, and the per-
    partition TOTALS (≤ P longs) come back to the driver once to become
    additive offsets. No single-partition window at any size.

    ``val_col`` must be integral (LONG) so partial sums are exact and
    order-independent; callers quantize doubles first (micro-units)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    parts = scoped_persist(
        df.repartitionByRange(p, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    # Coalesce to 0: a partition whose val_col values are all NULL sums to
    # NULL, which must contribute nothing to downstream offsets (the operator
    # contract requires only an integral column, not a non-null one).
    totals = {
        r["_pid"]: r["s"]
        for r in parts.groupBy("_pid")
        .agg(F.coalesce(F.sum(val_col), F.lit(0)).alias("s"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off bigint")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        parts.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.sum(val_col).over(w) + F.col("_off")).cast("bigint"))
        .drop("_pid", "_off")
    )
