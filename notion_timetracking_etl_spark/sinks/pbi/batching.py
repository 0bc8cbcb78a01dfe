"""Row batching for push posts (SURVEY S8's 10k cap).

Semantics (reference: src/sinks/pbi/refresh/batchRows.ts:1-19): positive
integer batch size, hard-capped at 10,000 rows/POST.

``iter_df_batches`` is the scale path: it streams the table through
``df.toLocalIterator(prefetchPartitions=True)``, one job per partition, with
the next partition's job running while the current one is batched and
posted. The driver holds at most two partitions plus one batch at a time —
a 100 TB fact table streams through in bounded memory (bounded by the
partition size), it just takes the governor-paced time the API quota
dictates.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame

MAX_BATCH_SIZE = 10_000


def _check_size(max_batch_size: int) -> None:
    if not isinstance(max_batch_size, int) or max_batch_size <= 0:
        raise ValueError("max_batch_size must be a positive integer")
    if max_batch_size > MAX_BATCH_SIZE:
        raise ValueError(
            f"Power BI limit exceeded: max_batch_size cannot be greater than {MAX_BATCH_SIZE}"
        )


def batch_rows(rows: list, max_batch_size: int = MAX_BATCH_SIZE) -> list[list]:
    """Split a materialized row list into ≤max_batch_size chunks (in order)."""
    _check_size(max_batch_size)
    return [rows[i : i + max_batch_size] for i in range(0, len(rows), max_batch_size)]


def iter_row_batches(
    rows: Iterable, max_batch_size: int = MAX_BATCH_SIZE
) -> Iterator[list]:
    """Stream ≤max_batch_size chunks from any iterable without materializing it."""
    _check_size(max_batch_size)
    batch: list = []
    for row in rows:
        batch.append(row)
        if len(batch) == max_batch_size:
            yield batch
            batch = []
    if batch:
        yield batch


def iter_df_batches(df: DataFrame, max_batch_size: int = MAX_BATCH_SIZE) -> Iterator[list[dict]]:
    """DataFrame → ≤10k-row dict batches via a prefetching toLocalIterator
    (no collect)."""
    rows = (
        r.asDict(recursive=True) for r in df.toLocalIterator(prefetchPartitions=True)
    )
    return iter_row_batches(rows, max_batch_size)
