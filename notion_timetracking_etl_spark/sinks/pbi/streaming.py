"""Streaming Power BI push writer (SURVEY §2.11 optional extra: "a
``foreachBatch`` push-dataset writer (S8/S9)").

``execute_wipe_and_reload`` is the batch cadence (delete-all, repost-all,
daily). This module is the incremental cadence: a Structured Streaming query
appends each micro-batch's rows to a push-dataset table through the SAME
governed client path — ≤10k-row posts (batching.py), the 900k rows/h + post-
rate budget (governor.py), retry/auth in the client (client.py). Nothing is
reimplemented; the stream just drives the existing S8/S9 machinery per
micro-batch.

Delivery semantics: foreachBatch is at-least-once — after a failure the
restarted query REPLAYS the last micro-batch with the same ``batch_id``. The
writer keeps the last pushed id and skips replays, upgrading to effectively-
once for the single-writer case (the same guard the docs recommend:
``batchId``-based dedup). The id survives only the writer object's lifetime;
a production deployment that restarts the process would persist it next to
the checkpoint (e.g. the registry file, sinks/pbi/registry.py) — the seam is
the ``last_pushed_batch_id`` constructor arg.

Scale posture: rows cross the driver because the Power BI REST API is the
sink (same constraint as the batch path) — throughput is bounded by the API
quota (900k rows/h), never by Spark. ``iter_df_batches`` streams via
``toLocalIterator``; no micro-batch is materialized whole.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ...streaming.drain import drain
from .batching import iter_df_batches
from .client import PowerBiClient
from .governor import RefreshGovernor
from .spec import DatasetSpec


@dataclass
class StreamPushStats:
    micro_batches: int = 0
    replayed_batches_skipped: int = 0
    total_rows_posted: int = 0
    total_post_requests: int = 0


@dataclass
class ForeachBatchPbiWriter:
    """``writeStream.foreachBatch`` target appending micro-batches to one
    push-dataset table, wipe-free and governor-gated."""

    client: PowerBiClient
    group_id: str
    dataset_id: str
    spec: DatasetSpec
    table: str
    governor: RefreshGovernor = field(default_factory=RefreshGovernor)
    log: Callable[[str], None] = lambda _msg: None
    last_pushed_batch_id: int = -1
    stats: StreamPushStats = field(default_factory=StreamPushStats)

    def __post_init__(self) -> None:
        # V5-style fail-fast: the target table must exist in the spec BEFORE
        # the stream starts, not at first micro-batch.
        names = [t.name for t in self.spec.tables]
        if self.table not in names:
            raise ValueError(
                f"table {self.table!r} not in dataset spec (tables: {names})"
            )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_pushed_batch_id:
            # at-least-once replay after recovery — already pushed, skip
            self.stats.replayed_batches_skipped += 1
            self.log(f"skipping replayed micro-batch {batch_id}")
            return
        for batch in iter_df_batches(batch_df):
            self.governor.wait_for_budget(rows=len(batch), posts=1)
            self.client.post_rows_in_group(
                self.group_id, self.dataset_id, self.table, batch
            )
            self.governor.record(rows=len(batch), posts=1)
            self.stats.total_rows_posted += len(batch)
            self.stats.total_post_requests += 1
        self.stats.micro_batches += 1
        self.last_pushed_batch_id = batch_id
        self.log(
            f"pushed micro-batch {batch_id}: rows={self.stats.total_rows_posted}"
        )


def stream_to_pbi(
    stream_df: DataFrame,
    writer: ForeachBatchPbiWriter,
    checkpoint_dir: str,
) -> None:
    """Drain the stream's backlog into the push dataset and stop
    (catch-up / scheduled cadence; streaming/drain.py). Blocks until every
    micro-batch is pushed; raises ``TimeoutError`` when the drain does not
    finish."""
    drain(
        stream_df.writeStream.foreachBatch(writer).option(
            "checkpointLocation", checkpoint_dir
        )
    )
