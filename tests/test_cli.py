"""CLI end-to-end: pull → normalize → pbi-refresh against injected fakes.

Drives the same command surface a user of the reference CLI would run
(reference: src/cli/index.ts:410-440), with the Notion and Power BI
transports faked at the HTTP seam — everything between (Spark normalize,
quality, derive, spec build/validate, governor-batched wipe+reload) is real.
"""

from __future__ import annotations

import json
import os

import pytest

from notion_timetracking_etl_spark.cli import Seams, main
from tests.notion_fixtures import build_config

WF_UUID = "aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"
STAGE_FROM = "bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb"
STAGE_TO = "cccccccc-cccc-cccc-cccc-cccccccccccc"


def _api_page(pid: str, props: dict) -> dict:
    return {
        "id": pid,
        "last_edited_time": "2026-02-01T12:10:00.000Z",
        "created_time": "2026-02-01T12:00:00.000Z",
        "url": f"https://notion.example/{pid}",
        "properties": props,
    }


class FakeNotion:
    """Three databases whose page properties match tests.notion_fixtures'
    configured property-ID bindings."""

    def __init__(self):
        ts_props = {
            "Name": {"id": "title_prop", "type": "title"},
            "Workflow": {"id": "rel_workflow", "type": "relation"},
            "From": {"id": "rel_from_step", "type": "relation"},
            "To": {"id": "rel_to_step", "type": "relation"},
            "Start": {"id": "start_date", "type": "date"},
            "End": {"id": "end_date", "type": "date"},
        }
        st_props = {
            "Workflow Definition": {"id": "wf_rel", "type": "relation"},
            "Stage Number": {"id": "stage_number", "type": "number"},
            "Stage Label": {"id": "stage_label", "type": "rich_text"},
        }
        wd_props = {"Name": {"id": "title_prop", "type": "title"}}
        self.dbs = {
            "db_ts": (ts_props, [
                _api_page("12345678-1234-1234-1234-1234567890ab", {
                    "Name": {"id": "title_prop", "type": "title",
                             "title": [{"plain_text": "Example Slice"}]},
                    "Workflow": {"id": "rel_workflow", "type": "relation",
                                 "relation": [{"id": WF_UUID}]},
                    "From": {"id": "rel_from_step", "type": "relation",
                             "relation": [{"id": STAGE_FROM}]},
                    "To": {"id": "rel_to_step", "type": "relation",
                           "relation": [{"id": STAGE_TO}]},
                    "Start": {"id": "start_date", "type": "date",
                              "date": {"start": "2026-02-01T12:00:00.000Z"}},
                    "End": {"id": "end_date", "type": "date",
                            "date": {"start": "2026-02-01T12:05:00.000Z"}},
                }),
            ]),
            "db_st": (st_props, [
                _api_page(STAGE_FROM, {
                    "Workflow Definition": {"id": "wf_rel", "type": "relation",
                                            "relation": [{"id": WF_UUID}]},
                    "Stage Number": {"id": "stage_number", "type": "number",
                                     "number": 1},
                    "Stage Label": {"id": "stage_label", "type": "rich_text",
                                    "rich_text": [{"plain_text": "Started"}]},
                }),
                _api_page(STAGE_TO, {
                    "Workflow Definition": {"id": "wf_rel", "type": "relation",
                                            "relation": [{"id": WF_UUID}]},
                    "Stage Number": {"id": "stage_number", "type": "number",
                                     "number": 2},
                    "Stage Label": {"id": "stage_label", "type": "rich_text",
                                    "rich_text": [{"plain_text": "Approved"}]},
                }),
            ]),
            "db_wd": (wd_props, [
                _api_page(WF_UUID, {
                    "Name": {"id": "title_prop", "type": "title",
                             "title": [{"plain_text": "Releases"}]},
                }),
            ]),
        }

    def retrieve_database(self, database_id):
        props, _pages = self.dbs[database_id]
        return {
            "id": database_id,
            "last_edited_time": "2026-02-01T00:00:00.000Z",
            "url": "https://notion.example/db",
            "title": [{"plain_text": database_id}],
            "properties": props,
        }

    def query_database(self, database_id, start_cursor, page_size):
        _props, pages = self.dbs[database_id]
        return {"results": pages, "has_more": False, "next_cursor": None}


class FakePbiHttp:
    """Routes the Power BI REST surface; records posted rows per table."""

    def __init__(self):
        self.posted: dict[str, list] = {}
        self.deleted: list[str] = []

    def __call__(self, method, url, headers, body):
        doc = json.loads(body) if body and url.endswith(("datasets?defaultRetentionPolicy=None", "/rows")) else None
        if "login.microsoftonline.com" in url:
            return 200, {}, json.dumps({"access_token": "tok", "expires_in": 3600})
        if method == "GET" and url.endswith("/datasets"):
            return 200, {}, json.dumps({"value": []})
        if method == "POST" and "datasets?defaultRetentionPolicy" in url:
            assert doc["defaultMode"] == "Push"
            return 201, {}, json.dumps({"id": "ds-1"})
        if method == "DELETE" and url.endswith("/rows"):
            self.deleted.append(url.rsplit("/tables/", 1)[1].removesuffix("/rows"))
            return 200, {}, ""
        if method == "POST" and url.endswith("/rows"):
            table = url.rsplit("/tables/", 1)[1].removesuffix("/rows")
            self.posted.setdefault(table, []).extend(doc["rows"])
            return 200, {}, ""
        raise AssertionError(f"unexpected call {method} {url}")


@pytest.fixture()
def config_path(tmp_path):
    cfg = build_config()
    doc = {
        "databases": {
            "timeslices": "db_ts",
            "workflowStages": "db_st",
            "workflowDefinitions": "db_wd",
        },
        "propertyIds": {
            "timeslices": {
                k: v for k, v in vars(cfg.timeslices).items() if isinstance(v, str)
            },
            "workflowStages": {
                k: v for k, v in vars(cfg.workflowStages).items() if isinstance(v, str)
            },
            "workflowDefinitions": {
                k: v
                for k, v in vars(cfg.workflowDefinitions).items()
                if isinstance(v, str)
            },
        },
    }
    p = tmp_path / "config.json"
    p.write_text(json.dumps(doc))
    return str(p)


def test_cli_pull_normalize_refresh_end_to_end(spark, tmp_path, config_path, capsys):
    data_dir = str(tmp_path / "data")
    seams = Seams(notion_transport=FakeNotion(), pbi_transport=FakePbiHttp())

    rc = main(
        ["pull-notion", "--data-dir", data_dir, "--config", config_path],
        spark=spark, seams=seams,
    )
    assert rc == 0
    raw_dirs = os.listdir(os.path.join(data_dir, "data", "raw"))
    assert sorted(raw_dirs) == ["timeslices", "workflowDefinitions", "workflowStages"]

    rc = main(
        ["normalize", "--data-dir", data_dir, "--config", config_path,
         "--run-date", "2026-02-02"],
        spark=spark, seams=seams,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out)
    assert report["counts"]["timeslices_total"] == 1
    assert report["counts"]["timeslices_excluded_missing_workflow_definition"] == 0
    for ds in ("timeslices", "workflowStages", "workflowDefinitions", "qualityIssues"):
        assert os.listdir(os.path.join(data_dir, "data", "canon", ds))

    rc = main(
        ["pbi-refresh", "--data-dir", data_dir, "--config", config_path,
         "--group-id", "g1", "--dataset-name", "TimeTracking"],
        spark=spark, seams=seams,
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["datasetId"] == "ds-1"
    assert out["tables"] == 7
    pbi = seams.pbi_transport
    # wipe order = spec order = the 7 derived tables, each wiped exactly once
    assert len(pbi.deleted) == 7
    fact_rows = pbi.posted.get("FactTimeslices", [])
    assert len(fact_rows) == 1
    assert fact_rows[0]["Workflow Definition"] == "Releases"
    assert fact_rows[0]["Minutes Diff"] == 5
    # registry persisted the dataset id for idempotent re-provision
    reg = json.loads(
        open(os.path.join(data_dir, "state", "pbi-dataset-registry.json")).read()
    )
    assert any(e.get("datasetId") == "ds-1" for e in reg["entries"])


def test_cli_run_end_to_end_derives_once_and_releases(
    spark, tmp_path, config_path, capsys, monkeypatch
):
    """Provision and refresh share one derive, and the publish frees what
    it materialized when the command ends."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.plans import derive

    calls = []
    real = derive.run_derive
    monkeypatch.setattr(
        derive, "run_derive", lambda *a, **kw: calls.append(a) or real(*a, **kw)
    )
    release_scoped_caches()
    jsc = spark.sparkContext._jsc
    base_rdds = set(jsc.getPersistentRDDs().keys())

    seams = Seams(notion_transport=FakeNotion(), pbi_transport=FakePbiHttp())
    rc = main(
        ["run-end-to-end", "--data-dir", str(tmp_path / "data"),
         "--config", config_path, "--run-date", "2026-02-02",
         "--group-id", "g1", "--dataset-name", "TimeTracking"],
        spark=spark, seams=seams,
    )
    assert rc == 0
    assert len(calls) == 1
    refresh = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert refresh["datasetId"] == "ds-1" and refresh["tables"] == 7
    assert len(seams.pbi_transport.deleted) == 7
    assert len(seams.pbi_transport.posted["FactTimeslices"]) == 1
    # the ContextCleaner may free baseline RDDs left by earlier tests
    assert not set(jsc.getPersistentRDDs().keys()) - base_rdds


def test_cli_audit_notion_schema_artifact(spark, tmp_path, config_path):
    """audit-notion-schema (reference: cli/index.ts:156-205): golden property
    name/id/type catalog per configured database, sorted-keys stable."""
    seams = Seams(notion_transport=FakeNotion(), pbi_transport=FakePbiHttp())
    out_path = str(tmp_path / "audit" / "notion-schema.json")

    rc = main(
        ["audit-notion-schema", "--data-dir", str(tmp_path / "data"),
         "--config", config_path, "--output", out_path],
        spark=spark, seams=seams,
    )
    assert rc == 0

    text = open(out_path).read()
    audit = json.loads(text)
    assert audit == {
        "timeslices": {
            "Name": {"id": "title_prop", "type": "title"},
            "Workflow": {"id": "rel_workflow", "type": "relation"},
            "From": {"id": "rel_from_step", "type": "relation"},
            "To": {"id": "rel_to_step", "type": "relation"},
            "Start": {"id": "start_date", "type": "date"},
            "End": {"id": "end_date", "type": "date"},
        },
        "workflowStages": {
            "Workflow Definition": {"id": "wf_rel", "type": "relation"},
            "Stage Number": {"id": "stage_number", "type": "number"},
            "Stage Label": {"id": "stage_label", "type": "rich_text"},
        },
        "workflowDefinitions": {
            "Name": {"id": "title_prop", "type": "title"},
        },
    }
    # artifact is byte-stable: sorted keys, 2-space indent (re-serialization
    # with the same convention round-trips exactly)
    assert text == json.dumps(audit, indent=2, sort_keys=True)
    # datasets without a configured database id are omitted, not emptied
    partial_cfg = json.loads(open(config_path).read())
    partial_cfg["databases"].pop("workflowStages")
    p2 = tmp_path / "config2.json"
    p2.write_text(json.dumps(partial_cfg))
    out2 = str(tmp_path / "audit" / "notion-schema-2.json")
    rc = main(
        ["audit-notion-schema", "--data-dir", str(tmp_path / "data"),
         "--config", str(p2), "--output", out2],
        spark=spark, seams=seams,
    )
    assert rc == 0
    assert sorted(json.loads(open(out2).read())) == [
        "timeslices", "workflowDefinitions",
    ]


def test_cli_sql_and_run_query(spark, tmp_path):
    out = tmp_path / "res.jsonl"
    logs = []
    seams = Seams(log=logs.append)
    rc = main(
        [
            "sql",
            "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", str(out),
        ],
        spark=spark,
        seams=seams,
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert len(rows) == 5
    assert rows[0]["r_name"] == "AFRICA"

    out2 = tmp_path / "q.jsonl"
    rc = main(
        [
            "run-query", "pricing_summary",
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", str(out2),
        ],
        spark=spark,
        seams=seams,
    )
    assert rc == 0
    assert len(out2.read_text().splitlines()) == 6

    rc = main(
        ["run-query", "no_such_query", "--sf-dir", "/root/testdata/sf0.001"],
        spark=spark,
        seams=seams,
    )
    assert rc == 2
    assert any("unknown query" in m for m in logs)


def test_cli_explain_formatted_plan(spark, capsys):
    rc = main(
        ["explain", "fact_dim_enrichment", "--sf-dir", "/root/testdata/sf0.001"],
        spark=spark,
        seams=Seams(log=lambda m: None),
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "BroadcastHashJoin" in out
    assert "Scan parquet" in out


def test_cli_ann_fit_then_encode_roundtrip(spark, tmp_path):
    """ann-fit freezes the quantizer + PQ codebooks to parquet; ann-encode
    reloads them and emits one (vec_id, cell, pq_codes) row per valid
    vector — and the codes must equal a direct in-session fit (the
    bit-identical re-encoding contract of operators/model_store.py)."""
    models_dir = tmp_path / "models"
    out = tmp_path / "codes.jsonl"
    logs = []
    seams = Seams(log=logs.append)
    sf = "/root/testdata/sf0.001"

    rc = main(
        ["ann-fit", "--sf-dir", sf, "--output", str(models_dir)],
        spark=spark,
        seams=seams,
    )
    assert rc == 0
    assert (models_dir / "kmeans").exists()
    assert (models_dir / "pq").exists()

    rc = main(
        [
            "ann-encode",
            "--sf-dir", sf,
            "--model", str(models_dir),
            "--output", str(out),
        ],
        spark=spark,
        seams=seams,
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.read_text().splitlines()]

    from notion_timetracking_etl_spark.lifecycle import free
    from notion_timetracking_etl_spark.operators.kmeans import kmeans_fit
    from notion_timetracking_etl_spark.operators.pq import pq_codes, pq_fit
    from notion_timetracking_etl_spark.queries.similarity import load_embeddings

    emb = load_embeddings(spark, sf).select("vec_id", "embedding")
    assert len(rows) == emb.count()
    asg, cent = kmeans_fit(emb, k=8, iters=3, scoped=False)
    want_cell = {r["vec_id"]: r["cid"] for r in asg.collect()}
    direct = pq_fit(emb, m=4, k=8, iters=2, scoped=False)
    want_codes: dict[int, dict[int, int]] = {}
    for r in pq_codes(direct).collect():
        want_codes.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    # scoped=False hands the fitted checkpoints to the caller
    for df in (cent, *(c for _j, _asg, c in direct)):
        free(df)
    for row in rows:
        vid = row["vec_id"]
        assert row["cell"] == want_cell[vid]
        assert row["pq_codes"] == [want_codes[vid][s] for s in range(4)]


def test_cli_tokenizer_fit_then_encode_roundtrip(spark, tmp_path):
    """tokenizer-fit freezes a rank-ordered BPE merge list to parquet;
    tokenizer-encode reloads it and emits per-doc (n_words, n_tokens) —
    and the counts must equal the pure-Python reference encode applied
    to the same frozen merges."""
    model_dir = tmp_path / "bpe"
    out = tmp_path / "toks.jsonl"
    seams = Seams(log=lambda m: None)
    sf = "/root/testdata/sf0.001"

    rc = main(
        ["tokenizer-fit", "--sf-dir", sf, "--merges", "10",
         "--output", str(model_dir)],
        spark=spark,
        seams=seams,
    )
    assert rc == 0
    merges = [
        (r["left"], r["right"])
        for r in spark.read.parquet(str(model_dir)).orderBy("rank").collect()
    ]
    assert 0 < len(merges) <= 10

    rc = main(
        ["tokenizer-encode", "--sf-dir", sf, "--model", str(model_dir),
         "--output", str(out)],
        spark=spark,
        seams=seams,
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert rows

    # reference re-encode: apply the frozen merges left-to-right per word
    def ref_merge(syms, pair):
        o, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                o.append(syms[i] + syms[i + 1])
                i += 2
            else:
                o.append(syms[i])
                i += 1
        return tuple(o)

    def ref_ntoks(word):
        syms = tuple(word)
        for pair in merges:
            syms = ref_merge(syms, pair)
        return len(syms)

    import duckdb

    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') "
        f"FROM read_parquet('{sf}/documents.parquet') WHERE text IS NOT NULL"
    ).fetchall()
    want = {
        d: (len(ws), sum(ref_ntoks(w) for w in ws)) for d, ws in docs
    }
    got = {r["doc_id"]: (r["n_words"], r["n_tokens"]) for r in rows}
    assert got == want
