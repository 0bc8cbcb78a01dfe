"""BENCHMARK.json must list exactly what the runner measures."""

from __future__ import annotations

import json
import os

import layers
import run
import workloads

with open(os.path.join(workloads.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS


def test_per_layer_metrics_match():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.UNITS


def test_every_workload_query_is_registered_with_an_oracle():
    import sys

    sys.path.insert(0, workloads.ROOT)
    from notion_timetracking_etl_spark.queries import REGISTRY

    for w in workloads.WORKLOADS.values():
        for q in workloads.oracle_queries(w):
            assert REGISTRY[q].oracle, q
