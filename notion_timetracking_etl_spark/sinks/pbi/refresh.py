"""Wipe-and-reload refresh executor (SURVEY S8 + V5).

Semantics (reference: src/sinks/pbi/refresh/executeWipeAndReload.ts:24-101):

- the table set must exactly equal the spec's tables (missing/extra → error
  before any API call) — SURVEY V5.
- per table, in spec order: DELETE all rows, then POST ≤10k-row batches, each
  gated by the refresh governor (wait → post → record).
- returns (tables_processed, total_rows_posted, total_post_requests).

Scale posture: tables arrive as DataFrames (``run_derive``'s materialized
tables, so a partition is a scan of stored rows) and stream through
``iter_df_batches`` — a prefetching ``toLocalIterator``, so the driver holds
at most two partitions plus one batch, never a whole table. The sink is
bounded by the API quota (900k rows/h), not memory.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .batching import iter_df_batches, iter_row_batches
from .client import PowerBiClient
from .governor import RefreshGovernor
from .spec import DatasetSpec


@dataclass(frozen=True)
class RefreshResult:
    tables_processed: int
    total_rows_posted: int
    total_post_requests: int


def execute_wipe_and_reload(
    client: PowerBiClient,
    group_id: str,
    dataset_id: str,
    spec: DatasetSpec,
    tables: dict[str, DataFrame | list],
    governor: RefreshGovernor | None = None,
    log: Callable[[str], None] = lambda _msg: None,
) -> RefreshResult:
    spec_names = [t.name for t in spec.tables]
    missing = [n for n in spec_names if n not in tables]
    extra = [n for n in tables if n not in set(spec_names)]
    if missing or extra:
        raise ValueError(
            f"wipe-and-reload table set mismatch; missing: {missing or 'none'}, "
            f"extra: {extra or 'none'}"
        )

    governor = governor or RefreshGovernor()
    total_rows = 0
    total_posts = 0

    for name in spec_names:
        log(f"wiping table {name}")
        client.delete_rows_in_group(group_id, dataset_id, name)

        data = tables[name]
        if isinstance(data, DataFrame):
            batches = iter_df_batches(data)
        else:
            batches = iter_row_batches(data)

        for batch in batches:
            governor.wait_for_budget(rows=len(batch), posts=1)
            client.post_rows_in_group(group_id, dataset_id, name, batch)
            governor.record(rows=len(batch), posts=1)
            total_rows += len(batch)
            total_posts += 1
            log(f"posted batch table={name} rows={len(batch)} total={total_rows}")

    return RefreshResult(
        tables_processed=len(spec_names),
        total_rows_posted=total_rows,
        total_post_requests=total_posts,
    )
