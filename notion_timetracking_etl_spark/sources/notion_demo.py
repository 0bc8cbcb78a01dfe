"""Deterministic scripted Notion transport — a FAKE for tests and demos.

The real deployment binds an HTTPS transport to ``NotionDataSource`` /
``NotionSource``; this module provides the deterministic stand-in (same
pattern as the multimodal codec seam: plumbing real, edge fake). Content is
seeded by database id, so any executor that materializes a partition produces
identical rows — a hard requirement for Spark task retries (a re-run
partition must yield the same data).
"""

from __future__ import annotations

import hashlib


def _h(s: str, n: int) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:4], "big") % n


class DemoNotionTransport:
    """Scripted workspace: each database has a 3-property schema and
    ``2 * page_size + 3`` pages served through real cursor pagination (so the
    S2 has_more/next_cursor loop is exercised, not bypassed)."""

    def __init__(self, pages_per_database: int | None = None):
        self._pages_override = pages_per_database

    def retrieve_database(self, database_id: str) -> dict:
        return {
            "id": database_id,
            "last_edited_time": "2024-01-02T03:04:05.000Z",
            "title": [{"plain_text": f"Demo {database_id}"}],
            "url": f"https://notion.example/{database_id}",
            "properties": {
                "Name": {"id": "ttl", "type": "title"},
                "Stage": {"id": "stg", "type": "select"},
                "Hours": {"id": "hrs", "type": "number"},
            },
        }

    def query_database(
        self, database_id: str, start_cursor: str | None, page_size: int
    ) -> dict:
        total = (
            self._pages_override
            if self._pages_override is not None
            else 2 * page_size + 3
        )
        start = int(start_cursor) if start_cursor else 0
        end = min(start + page_size, total)
        results = [
            {
                "id": f"{database_id}-page-{i:05d}",
                "last_edited_time": f"2024-01-{(i % 27) + 1:02d}T00:00:00.000Z",
                "properties": {
                    "Name": {
                        "id": "ttl",
                        "type": "title",
                        "title": [{"plain_text": f"Task {i} of {database_id}"}],
                    },
                    "Stage": {
                        "id": "stg",
                        "type": "select",
                        "select": {"name": f"0{_h(f'{database_id}:{i}', 4)}. Stage"},
                    },
                    "Hours": {
                        "id": "hrs",
                        "type": "number",
                        "number": str(_h(f"h:{database_id}:{i}", 12) + 1),
                    },
                },
            }
            for i in range(start, end)
        ]
        return {
            "results": results,
            "has_more": end < total,
            "next_cursor": str(end) if end < total else None,
        }


def small_demo_transport() -> DemoNotionTransport:
    """A 5-page variant so driver-vs-datasource equality tests stay fast."""
    return DemoNotionTransport(pages_per_database=5)
