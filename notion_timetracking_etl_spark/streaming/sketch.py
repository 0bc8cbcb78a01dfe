"""Streaming Misra-Gries heavy hitters via ``applyInPandasWithState``
(engine extension): the frequency sketch maintained as CUSTOM streaming
state — per item-shard, a k-counter MG summary folded across micro-batches
(Arrow-vectorized per batch), kilobytes of state per shard regardless of
stream length.

Soundness under any batch split: tokens shard BY ITEM, so a globally-heavy
token's occurrences all land in one shard, where count > n/k >= n_shard/k
keeps it in that shard's summary (the mergeable-MG guarantee,
operators/sketch.py). Every batch EMITS its current summary, and the
drained union across batches/shards is therefore a superset of the true
heavy hitters — exact batch-side verification (count·k > n, an integer
comparison) then makes the final output deterministic and IDENTICAL to the
batch operator, which is what lets the oracle be the plain heavy-hitter
SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MG_SHARDS = 8

_OUT_SCHEMA = StructType(
    [
        StructField("shard", LongType(), True),
        StructField("item", StringType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("items", ArrayType(StringType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("n", LongType(), True),
    ]
)


def _mg_update_fn(k: int):
    def update(
        key: tuple, pdfs: Iterator, state: GroupState
    ) -> Iterator:
        import pandas as pd

        if state.exists:
            items, counts, n = state.get
            summary = dict(zip(items, counts))
        else:
            summary, n = {}, 0
        for pdf in pdfs:
            vc = pdf["item"].dropna().value_counts()
            n += int(vc.sum())
            for it, c in vc.items():
                summary[it] = summary.get(it, 0) + int(c)
            if len(summary) > k:
                # mergeable-MG prune: subtract the (k+1)-th largest counter
                kth = sorted(summary.values(), reverse=True)[k]
                summary = {
                    i: c - kth for i, c in summary.items() if c - kth > 0
                }
        state.update(
            (list(summary), [int(c) for c in summary.values()], int(n))
        )
        yield pd.DataFrame(
            {"shard": [key[0]] * len(summary), "item": list(summary)}
        )

    return update


def heavy_hitter_candidates_stream(
    items: DataFrame, k: int, shards: int = MG_SHARDS
) -> DataFrame:
    """Streaming candidate generation: (shard, item) summary emissions.

    Sharding is BY ITEM (sha256-derived), so per-shard MG state is
    self-contained and a global heavy hitter is local to exactly one
    shard's summary."""
    from ..operators.dedup import hash64

    sharded = items.select(
        (hash64("mgshard:", F.col("item")) % shards).alias("shard"), "item"
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _mg_update_fn(k),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_QS_OUT_SCHEMA = StructType(
    [
        StructField("g", StringType(), True),
        StructField("h", LongType(), True),
        StructField("value", DoubleType(), True),
    ]
)

_QS_STATE_SCHEMA = StructType(
    [
        StructField("hs", ArrayType(LongType()), True),
        StructField("vals", ArrayType(DoubleType()), True),
    ]
)


def _bottomk_update_fn(k: int):
    def update(key: tuple, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        if state.exists:
            hs, vals = state.get
            pairs = list(zip(hs, vals))
        else:
            pairs = []
        for pdf in pdfs:
            pairs.extend(
                zip(
                    (int(h) for h in pdf["h"]),
                    (float(v) for v in pdf["value"]),
                )
            )
            # bottom-k by (hash, value) is a monoid over a total order:
            # merging per batch keeps state at <= k pairs per group
            # regardless of stream length, and a hash tie keeps the lower
            # value whatever the batch split
            pairs.sort()
            del pairs[k:]
        state.update(
            ([h for h, _ in pairs], [v for _, v in pairs])
        )
        yield pd.DataFrame(
            {
                "g": [key[0]] * len(pairs),
                "h": [h for h, _ in pairs],
                "value": [v for _, v in pairs],
            }
        )

    return update


def bottomk_sample_stream(keyed: DataFrame, k: int) -> DataFrame:
    """Streaming bottom-k-by-hash sample as custom stateful state.

    ``keyed`` columns: (g string, h long, value double). Per group the
    state holds the k smallest (hash, value) pairs seen so far — the
    union-merge of the batch operator's sample algebra
    (operators/sketch.py ``bottom_k``), so the final state is IDENTICAL to
    the batch sample. Every batch emits the group's current sample; the
    drained union across batches is a superset whose re-bottom-k equals
    the final state exactly."""
    return keyed.groupBy("g").applyInPandasWithState(
        _bottomk_update_fn(k),
        outputStructType=_QS_OUT_SCHEMA,
        stateStructType=_QS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CAP_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType(), True),
        StructField("doc_id", LongType(), True),
        StructField("q_micro", LongType(), True),
    ]
)

_CAP_STATE_SCHEMA = StructType(
    [
        StructField("qs", ArrayType(LongType()), True),
        StructField("ids", ArrayType(LongType()), True),
    ]
)


def _topk_quality_update_fn(cap: int):
    def update(key: tuple, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        if state.exists:
            qs, ids = state.get
            members = list(zip(qs, ids))
        else:
            members = []
        for pdf in pdfs:
            members.extend(
                zip(
                    (int(q) for q in pdf["q_micro"]),
                    (int(d) for d in pdf["doc_id"]),
                )
            )
            # top-cap by (quality desc, doc_id asc) is a monoid over the
            # total order (-q, id): state stays <= cap pairs per source
            members.sort(key=lambda t: (-t[0], t[1]))
            del members[cap:]
        state.update(
            ([q for q, _ in members], [d for _, d in members])
        )
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(members),
                "doc_id": [d for _, d in members],
                "q_micro": [q for q, _ in members],
            }
        )

    return update


def topk_quality_stream(keyed: DataFrame, cap: int) -> DataFrame:
    """Streaming per-source quality top-k (domain capping) as custom state.

    ``keyed`` columns: (source string, doc_id long, q_micro long). The
    state holds each source's current top-``cap`` documents by
    (q_micro desc, doc_id) — a monoid over a total order, so the final
    state is IDENTICAL to the batch cap's kept set under any batch split.
    Every batch emits the source's current kept set; the drained union is
    a superset whose re-top-k equals the final state exactly."""
    return keyed.groupBy("source").applyInPandasWithState(
        _topk_quality_update_fn(cap),
        outputStructType=_CAP_OUT_SCHEMA,
        stateStructType=_CAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
