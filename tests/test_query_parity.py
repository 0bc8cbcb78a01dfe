"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This is the local twin of the driver's CORRECTNESS gate (run at sf0.01).
"""

from __future__ import annotations

import pytest

from notion_timetracking_etl_spark.queries import REGISTRY
from tests.parity import compare_query


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    result = compare_query(spark, duck, spec, sf_dir)
    assert result.ok, f"{name}: {result.detail}"
