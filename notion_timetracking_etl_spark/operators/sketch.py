"""Sketch operators (engine extension): Misra-Gries heavy hitters with exact
verification, Count-Min counters, and the shared algebra of the bottom-k
(KMV distinct, quantile hash sample) and HyperLogLog register sketches.

Finding all items with frequency > n/k by a full ``groupBy(item).count()``
shuffles the ENTIRE item stream — at 100 TB that is the dominant cost when the
item universe is huge (tokens, URLs, user agents) but the answer is tiny. The
two-phase sketch pattern here mirrors the dedup family's candidates-then-verify
shape:

1. **Candidate generation + counting, map-side, ONE scan**: each partition
   runs a Misra-Gries summary (k counters) over its local stream inside one
   Arrow-batched ``mapInPandas`` stage and emits at most k candidate items
   PLUS one sentinel row carrying the partition's exact item count — kilobytes
   per partition, no shuffle of the raw stream, and the global ``n`` falls out
   of the same pass (summing the sentinels) instead of a second full scan.
   MG guarantee (Misra & Gries 1982; mergeable-summaries form, Agarwal et al.
   2012): the batch-merge-and-prune below decrements any item by at most
   n_p/(k+1) < n_p/k total, so any item with local frequency > n_p/k survives
   partition p's summary; since a globally-heavy item (count > n/k =
   sum_p n_p/k) must be locally heavy in at least one partition (pigeonhole),
   the union of partition candidates is a superset of the true heavy hitters.
2. **Exact verification**: semi-join the stream on the (tiny, broadcast)
   candidate set, count exactly, and keep items with ``count * k > n`` — an
   integer comparison, so the result is deterministic, partitioning-independent
   and cross-engine exact (no division).

Only phase 2 re-reads the stream (required for exactness) and only the
candidate-matching rows enter its shuffle. The k+1-row-per-partition summary
is persisted query-scoped (``lifecycle.scoped_persist``) so the
candidate extraction and the ``n`` aggregation share the single MG pass.

Reference scope note: the reference engine has no sketch operators; this
module is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from ..lifecycle import scoped_persist

# candidate rows: (item, NULL); one sentinel per partition: (NULL, n_p)
SUMMARY_SCHEMA = "item string, n_part bigint"


def misra_gries_summary(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries in ONE pass: at most ``k``
    candidate rows ``(item, NULL)`` plus exactly one sentinel row
    ``(NULL, n_p)`` per partition, produced map-side (no shuffle). Rows with
    null items are ignored (not counted in ``n_p``).

    Counting is vectorized: each Arrow batch collapses to ``value_counts``
    first, then the weighted counts merge into the k-counter summary with the
    mergeable-MG prune (subtract the (k+1)-th largest counter, drop <= 0) —
    per-batch work is O(distinct-in-batch), not O(rows).
    """

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n_p = 0
        for pdf in batches:
            vc = pdf[item_col].dropna().value_counts()
            n_p += int(vc.sum())
            for item, w in vc.items():
                counters[item] = counters.get(item, 0) + int(w)
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                m = vals[k]  # (k+1)-th largest
                counters = {key: c - m for key, c in counters.items() if c > m}
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "n_part": [None] * len(counters) + [n_p],
            }
        )

    return items.select(F.col(item_col).alias(item_col)).mapInPandas(
        summarize, SUMMARY_SCHEMA
    )


def heavy_hitters(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """All items with frequency strictly greater than n/k, with exact counts.

    Output: (item string, cnt bigint) — exact, deterministic, independent of
    partitioning (the MG phase only proposes candidates; membership is decided
    by the exact ``cnt * k > n`` integer comparison).
    """
    stream = items.select(F.col(item_col).alias("item")).filter(
        F.col("item").isNotNull()
    )
    # k+1 rows per partition — tiny; persisting it lets the candidate set and
    # the global n share the single map-side MG scan of the raw stream.
    summary = scoped_persist(misra_gries_summary(stream, "item", k))
    candidates = summary.filter(F.col("item").isNotNull()).select("item").distinct()
    total = summary.filter(F.col("item").isNull()).select(
        F.sum("n_part").cast("bigint").alias("n")
    )
    exact = (
        stream.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(k) > F.col("n"))
        .select("item", "cnt")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

CM_DEPTH = 4  # hash rows
CM_WIDTH = 1024  # buckets per row


def _cm_bucket(item, row: int):
    """Deterministic bucket for hash row ``row``: first 8 sha256 hex chars
    of the salted item, mod CM_WIDTH — the dedup family's hash64 convention,
    so the oracle replays it verbatim
    (CAST(concat('0x', substr(sha256(...), 1, 8)) AS BIGINT) % width)."""
    h = F.conv(
        F.substring(F.sha2(F.concat(F.lit(f"cm{row}:"), item), 256), 1, 8),
        16,
        10,
    ).cast("long")
    return h % CM_WIDTH


def countmin_counters(
    items: DataFrame, item_col: str, depth: int = CM_DEPTH
) -> DataFrame:
    """The Count-Min counter table: (row, bucket, counter) — at most
    depth × CM_WIDTH rows regardless of stream size.

    One scan: each occurrence fans out to its ``depth`` (row, bucket) cells
    map-side (explode of a depth-element struct array) and the counters fall
    out of one partially-aggregated groupBy — the shuffle moves at most
    depth × CM_WIDTH rows per map partition, never the stream. Counters are
    MERGEABLE (cell-wise addition), the property that makes CMS the
    standard distributed/streaming frequency sketch."""
    item = F.col(item_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(item, r).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    return (
        items.filter(item.isNotNull())
        .select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )


def countmin_estimate(
    tokens: DataFrame,
    counters: DataFrame,
    item_col: str = "item",
    depth: int = CM_DEPTH,
) -> DataFrame:
    """Point-frequency estimates for ``tokens`` against a counter table:
    est(t) = min over rows of counter[row][bucket_row(t)] — the classic CMS
    read. Deterministic (hashes and counters are exact integers) and
    structurally an OVERestimate: every cell holds the item's true count
    plus non-negative collision mass. The counter table broadcasts
    (≤ depth × CM_WIDTH rows); each probed token fans out to ``depth``
    lookup rows map-side."""
    item = F.col(item_col)
    probes = tokens.select(
        item.alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(item, r).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select("item", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("item")
        .agg(F.min("counter").cast("bigint").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# Mergeable sketches over a 56-bit hash: bottom-k (KMV distinct count, the
# quantile hash sample) and HyperLogLog registers. Every fold below is a
# commutative, associative merge, so partials built over disjoint parts (per
# partition, per date, per micro-batch) merge to the single-pass sketch (the
# argument is written out in queries/lake.py's module docstring).
# ---------------------------------------------------------------------------

KMV_K = 64  # bottom-k distinct sketch size
QS_K = 256  # bottom-k hash sample size per group
HLL_M = 32  # HyperLogLog registers (5 index bits of the 56-bit hash)


def hash56(prefix: str, col: Column | str) -> Column:
    """56-bit hash of ``prefix || col``: the first 14 sha256 hex chars as
    BIGINT. DuckDB replays it as
    ``CAST(concat('0x', substr(sha256(concat(prefix, x)), 1, 14)) AS BIGINT)``."""
    return F.conv(
        F.substring(F.sha2(F.concat(F.lit(prefix), col), 256), 1, 14), 16, 10
    ).cast("long")


def bottom_k(
    df: DataFrame, by: Sequence[str], k: int, order: Sequence[str] = ("h",)
) -> DataFrame:
    """The ``k`` rows of each ``by`` group that sort first by ``order``
    (ascending). The ``row_number`` filter rides Spark's WindowGroupLimit
    rewrite, so each map task forwards at most ``k`` rows per group before
    the exchange."""
    w = Window.partitionBy(*by).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def max_registers(df: DataFrame, by: Sequence[str]) -> DataFrame:
    """HyperLogLog registers ``(by..., idx, rank)``: the register-wise MAX
    of the ``rank`` rows per ``(by..., idx)``."""
    return df.groupBy(*by, "idx").agg(F.max("rank").alias("rank"))


def compaction_grain(pivot: str) -> Column:
    """The compaction grain of a date partition ``event_date``: its ISO
    week start (a Monday) before ``pivot``, the date itself from ``pivot``
    on. A NULL date keeps a NULL grain."""
    return F.when(
        F.col("event_date") < F.lit(pivot).cast("date"),
        F.date_trunc("week", F.col("event_date")).cast("date"),
    ).otherwise(F.col("event_date"))
