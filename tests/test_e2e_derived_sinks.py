"""E2E smoke over REAL derived tables (not handcrafted fixtures): canon
synthesized from the testdata → JSONL lake → CLI `excel-export` /
`pbi-refresh` (HTTP faked at the transport seam) → row counts pinned against
the oracle-green pipeline_* registry queries.

This closes the last untested composition seam: every piece (canon synth,
JSONL round-trip, derive, spec build/validate, governor-batched wipe+reload,
sheet model) is exercised together on the same data the correctness gate
hashes. Scale note: the same test runs at sf0.1 by setting
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 (verified; suite default stays
at sf0.001 to keep CI fast).
"""

from __future__ import annotations

import json
import os

import pytest

from notion_timetracking_etl_spark.cli import Seams, main
from notion_timetracking_etl_spark.queries import REGISTRY
from notion_timetracking_etl_spark.queries.pipeline import synth_canon
from notion_timetracking_etl_spark.sinks.jsonl import write_jsonl

# derived table name -> the registry query whose (driver-hashed) output is
# built from the same canon by the same builder
TABLE_TO_QUERY = {
    "FactTimeslices": "pipeline_fact_timeslices",
    "DimWorkflow": "pipeline_dim_workflow",
    "DimStage": "pipeline_dim_stage",
    "DimDate": "pipeline_dim_date",
    "DimPlaybackFrame": "pipeline_playback_frames",
    "StageOccupancy_Hourly": "pipeline_occupancy_hourly",
    "StageThroughput_Daily": "pipeline_throughput_daily",
}


class FakePbiHttp:
    """Routes the Power BI REST surface; records posted rows per table."""

    def __init__(self):
        self.posted: dict[str, list] = {}
        self.deleted: list[str] = []
        self.post_calls: dict[str, int] = {}

    def __call__(self, method, url, headers, body):
        if "login.microsoftonline.com" in url:
            return 200, {}, json.dumps({"access_token": "tok", "expires_in": 3600})
        if method == "GET" and url.endswith("/datasets"):
            return 200, {}, json.dumps({"value": []})
        if method == "POST" and "datasets?defaultRetentionPolicy" in url:
            return 201, {}, json.dumps({"id": "ds-e2e"})
        if method == "DELETE" and url.endswith("/rows"):
            self.deleted.append(url.rsplit("/tables/", 1)[1].removesuffix("/rows"))
            return 200, {}, ""
        if method == "POST" and url.endswith("/rows"):
            table = url.rsplit("/tables/", 1)[1].removesuffix("/rows")
            doc = json.loads(body)
            assert len(doc["rows"]) <= 10_000  # batchRows cap per POST
            self.posted.setdefault(table, []).extend(doc["rows"])
            self.post_calls[table] = self.post_calls.get(table, 0) + 1
            return 200, {}, ""
        raise AssertionError(f"unexpected call {method} {url}")


@pytest.fixture(scope="module")
def canon_data_dir(spark, sf_dir, tmp_path_factory) -> str:
    """The synthesized canon written to a JSONL lake, CLI-layout."""
    data_dir = str(tmp_path_factory.mktemp("e2e-lake"))
    canon = synth_canon(spark, sf_dir)
    # canon JSONL in the CLI layout is POST-normalize data — the quality/
    # null-workflow exclusions have already run — so the lake gets the
    # "clean" slice set, the same frame every pipeline_* query derives from
    for dataset, df in (
        ("workflowDefinitions", canon["defs"]),
        ("workflowStages", canon["stages"]),
        ("timeslices", canon["clean"]),
    ):
        write_jsonl(df, data_dir, "canon", dataset, "2026-08-13")
    return data_dir


def test_pbi_refresh_posts_exactly_the_pipeline_query_rows(
    spark, sf_dir, canon_data_dir, capsys
):
    seams = Seams(pbi_transport=FakePbiHttp())
    rc = main(
        ["pbi-refresh", "--data-dir", canon_data_dir,
         "--group-id", "g-e2e", "--dataset-name", "TimeTracking"],
        spark=spark, seams=seams,
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["tables"] == 7
    pbi = seams.pbi_transport
    assert sorted(pbi.deleted) == sorted(TABLE_TO_QUERY)  # each wiped once
    for table, query in TABLE_TO_QUERY.items():
        expected = REGISTRY[query].spark(spark, sf_dir).count()
        assert len(pbi.posted.get(table, [])) == expected, table
    # governor accounting matches what the transport saw
    assert out["rows"] == sum(len(v) for v in pbi.posted.values())
    assert out["posts"] == sum(pbi.post_calls.values())


def test_excel_export_sheet_model_matches_pipeline_queries(
    spark, sf_dir, canon_data_dir, capsys
):
    # the writer no longer needs openpyxl (minimal OOXML fallback): the CLI
    # must produce a real workbook whose sheets carry exactly the
    # pipeline-query rows
    import xml.etree.ElementTree as ET
    import zipfile

    out_path = os.path.join(canon_data_dir, "export.xlsx")
    rc = main(
        ["excel-export", "--data-dir", canon_data_dir, "--output", out_path],
        spark=spark, seams=Seams(),
    )
    assert rc == 0 and os.path.exists(out_path)
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(out_path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        order = [s.get("name") for s in wb.iter(f"{ns}sheet")]
        assert order == sorted(TABLE_TO_QUERY)
        for i, table in enumerate(order, start=1):
            sheet = ET.fromstring(zf.read(f"xl/worksheets/sheet{i}.xml"))
            n_rows = len(list(sheet.iter(f"{ns}row")))
            expected = REGISTRY[TABLE_TO_QUERY[table]].spark(spark, sf_dir).count()
            # header row + data rows (a zero-row table still gets its header)
            assert n_rows == expected + 1, table


def test_publish_pass_is_materialized_then_released(spark, sf_dir, tmp_path):
    """run_derive stores each of the seven tables once; the JSONL, parquet
    and Power BI sinks read the stored rows, and release_scoped_caches()
    returns the session's persisted RDDs and CacheManager entries to their
    baseline."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.plans.derive import run_derive
    from notion_timetracking_etl_spark.plans.model import build_model_relationships
    from notion_timetracking_etl_spark.sinks.parquet import write_partitioned_lake
    from notion_timetracking_etl_spark.sinks.pbi.client import (
        PowerBiClient,
        TokenProvider,
    )
    from notion_timetracking_etl_spark.sinks.pbi.refresh import (
        execute_wipe_and_reload,
    )
    from notion_timetracking_etl_spark.sinks.pbi.spec import spec_from_frames

    canon = synth_canon(spark, sf_dir)  # session scope: fill before the baseline
    for name in ("defs", "stages", "slices"):
        canon[name].count()
    release_scoped_caches()
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    base_rdds = set(jsc.getPersistentRDDs().keys())
    base_entries = cache_manager.numCachedEntries()

    result = run_derive(canon["defs"], canon["stages"], canon["clean"])
    assert len(set(jsc.getPersistentRDDs().keys()) - base_rdds) >= len(result.tables)
    for name, df in result.tables.items():
        # reading a table is one scan of its stored rows
        plan = df._jdf.queryExecution().executedPlan().toString().strip()
        assert "\n" not in plan and (
            "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan
        ), (name, plan)

    base = str(tmp_path)
    for name, df in result.tables.items():
        write_jsonl(df, base, "derived", name, "2024-01-31")
    write_partitioned_lake(
        result.tables["FactTimeslices"], os.path.join(base, "lake"),
        ["Workflow Definition"],
    )
    pbi = FakePbiHttp()
    client = PowerBiClient(pbi, TokenProvider(pbi, "tenant", "client", "secret"))
    spec = spec_from_frames("TimeTracking", result.tables, build_model_relationships())
    execute_wipe_and_reload(client, "g-e2e", "ds-e2e", spec, result.tables)

    release_scoped_caches()
    # RDDs earlier tests left persisted with no live handle may be freed by
    # the ContextCleaner at any time, so assert on what the pass created.
    assert not set(jsc.getPersistentRDDs().keys()) - base_rdds
    assert cache_manager.numCachedEntries() == base_entries
    # the pipeline_* queries fill their own session-scope entries
    for table, query in TABLE_TO_QUERY.items():
        expected = REGISTRY[query].spark(spark, sf_dir).count()
        assert len(pbi.posted.get(table, [])) == expected, table
