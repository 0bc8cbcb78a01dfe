"""Tests for the foreachBatch Power BI streaming push writer (S8/S9 extra).

Drives a real Structured Streaming query (AvailableNow drain over the events
testdata) into the writer with a scripted always-200 transport, then checks
the push protocol: spec fail-fast, governed ≤10k posts, append-only (no
DELETE), and the batch-id replay guard.
"""

from __future__ import annotations

import json

import pytest

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.sinks.pbi.client import (
    PowerBiClient,
    TokenProvider,
)
from notion_timetracking_etl_spark.sinks.pbi.spec import (
    ColumnSpec,
    DatasetSpec,
    TableSpec,
)
from notion_timetracking_etl_spark.sinks.pbi.streaming import (
    ForeachBatchPbiWriter,
    stream_to_pbi,
)
from notion_timetracking_etl_spark.streaming.rollup import read_events_stream


class RecordingTransport:
    """Answers 200 to everything; records (method, url, body)."""

    def __init__(self):
        self.requests = []

    def __call__(self, method, url, headers, body):
        self.requests.append((method, url, body))
        if "login.microsoftonline" in url:
            return (200, {}, json.dumps({"access_token": "t", "expires_in": 3600}))
        return (200, {}, "{}")

    def posts(self):
        return [r for r in self.requests if r[0] == "POST" and "/tables/" in r[1]]

    def deletes(self):
        return [r for r in self.requests if r[0] == "DELETE"]


def _rows(body) -> list:
    if isinstance(body, (bytes, str)):
        body = json.loads(body)
    return body["rows"]


def _writer(transport, table="Events", **kwargs):
    tokens = TokenProvider(
        transport, "tn", "cid", "sec", now_s=lambda: 0.0, sleep=lambda _s: None
    )
    client = PowerBiClient(
        transport, tokens, now_s=lambda: 0.0, sleep=lambda _s: None
    )
    spec = DatasetSpec(
        name="stream",
        tables=(
            TableSpec(
                "Events",
                (ColumnSpec("event_id", "Int64"), ColumnSpec("event_type", "String")),
            ),
        ),
    )
    return ForeachBatchPbiWriter(
        client=client,
        group_id="g",
        dataset_id="d",
        spec=spec,
        table=table,
        **kwargs,
    )


def test_unknown_table_fails_before_stream_starts():
    with pytest.raises(ValueError, match="not in dataset spec"):
        _writer(RecordingTransport(), table="Nope")


def test_stream_drain_pushes_all_rows_append_only(spark, sf_dir, tmp_path):
    transport = RecordingTransport()
    writer = _writer(transport)
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type"
    )
    stream_to_pbi(stream, writer, str(tmp_path / "ckpt"))  # blocks until drained
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert writer.stats.total_rows_posted == n_events
    assert writer.stats.micro_batches >= 1
    sizes = [len(_rows(b)) for _m, _u, b in transport.posts()]
    assert sum(sizes) == n_events
    assert all(s <= 10_000 for s in sizes)
    assert transport.deletes() == []  # incremental append, never wipe


def test_replay_guard_skips_already_pushed_batch(spark, sf_dir):
    transport = RecordingTransport()
    writer = _writer(transport)
    batch = spark.createDataFrame(
        [(1, "click"), (2, "view")], "event_id long, event_type string"
    )
    writer(batch, 0)
    first_posts = len(transport.posts())
    writer(batch, 0)  # replay of the same micro-batch id
    assert len(transport.posts()) == first_posts
    assert writer.stats.replayed_batches_skipped == 1
    writer(batch, 1)
    assert len(transport.posts()) == first_posts + 1
    assert writer.stats.total_rows_posted == 4
