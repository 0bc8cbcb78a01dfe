"""Structured Streaming extension (SURVEY §2.9).

The reference is batch-only (README.md:16-23 rules webhook/event ingestion out
of scope), so everything here is an engine extension: the same windowed
aggregation semantics exposed over ``readStream``, plus a custom stateful
operator via ``applyInPandasWithState``. Batch/stream parity is the design
invariant — each streaming builder has identical semantics to a batch twin,
verified by the oracle-checked registry queries and the pytest equivalence
tests. Every streaming sink runs through the one drain in ``drain.py``, and
each ``foreachBatch`` accumulator frees the generation a batch replaces
(``lifecycle.next_generation``).
"""

from .cdc import merge_upsert_batch, upsert_drain
from .sketch import (
    bottomk_sample_stream,
    heavy_hitter_candidates_stream,
    topk_quality_stream,
)
from .dedupe import dedup_keys_within_watermark
from .joins import view_purchase_interval_join
from .rollup import (  # noqa: F401
    sliding_rollup,
    hourly_rollup,
    trending_rollup,
    read_events_stream,
    run_stream_to_table,
    session_window_rollup,
)
from .stateful import user_stats_stateful

__all__ = [
    "dedup_keys_within_watermark",
    "bottomk_sample_stream",
    "heavy_hitter_candidates_stream",
    "topk_quality_stream",
    "merge_upsert_batch",
    "upsert_drain",
    "read_events_stream",
    "hourly_rollup",
    "session_window_rollup",
    "run_stream_to_table",
    "trending_rollup",
    "user_stats_stateful",
    "view_purchase_interval_join",
]
