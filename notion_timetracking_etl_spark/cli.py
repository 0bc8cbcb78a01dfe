"""Command-line surface — the engine's user-facing API.

Mirrors the reference CLI's eight commands (reference: src/cli/index.ts:
410-440): ``pull-notion``, ``normalize``, ``run``, ``audit-notion-schema``,
``excel-export``, ``pbi-provision``, ``pbi-refresh``, ``run-end-to-end`` —
same dataflow, Spark execution. All REST traffic stays on the driver
(rate-limited / governed); Spark does the heavy lifting between the
boundaries.

Seams for testing: ``main(argv, spark=..., seams=Seams(...))`` accepts an
existing SparkSession plus injectable Notion/Power BI transports so every
command is drivable against fakes (tests/test_cli.py).
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as _dt
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import SparkSession

from .config import (
    NotionConfig,
    TimeslicePropertyIds,
    WorkflowDefinitionPropertyIds,
    WorkflowStagePropertyIds,
    require_configured,
)
from .schemas import (
    RAW_RECORD_SCHEMA,
    TIMESLICE_SCHEMA,
    WORKFLOW_DEFINITION_SCHEMA,
    WORKFLOW_STAGE_SCHEMA,
)

DATASETS = ("timeslices", "workflowStages", "workflowDefinitions")


def utc_date_stamp(now: Callable[[], _dt.datetime] | None = None) -> str:
    """F31 (reference: src/lib/time.ts:1-3): UTC YYYY-MM-DD partition stamp."""
    dt = (now or (lambda: _dt.datetime.now(_dt.timezone.utc)))()
    return dt.strftime("%Y-%m-%d")


def load_config(path: str | None) -> tuple[NotionConfig, dict[str, str]]:
    """Config JSON: {"databases": {dataset: id}, "propertyIds": {dataset:
    {binding: propertyId}}} — the runtime property-ID seam (reference:
    src/config/env.ts:121-156)."""
    if not path:
        path = os.environ.get("NOTION_ETL_CONFIG", "")
    if not path or not os.path.exists(path):
        raise SystemExit(
            "config required: pass --config or set NOTION_ETL_CONFIG "
            '(JSON: {"databases": {...}, "propertyIds": {...}})'
        )
    with open(path) as f:
        doc = json.load(f)
    pids = doc.get("propertyIds", {})
    config = NotionConfig(
        timeslices=TimeslicePropertyIds(**pids.get("timeslices", {})),
        workflowStages=WorkflowStagePropertyIds(**pids.get("workflowStages", {})),
        workflowDefinitions=WorkflowDefinitionPropertyIds(
            **pids.get("workflowDefinitions", {})
        ),
    )
    return config, dict(doc.get("databases", {}))


def urllib_transport(method, url, headers, body):
    """Stdlib HTTP transport matching the injectable contract
    ``(method, url, headers, body) -> (status, headers, text)``."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, dict(resp.headers), resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers or {}), e.read().decode(errors="replace")


def _build_spark() -> SparkSession:
    from .session import build_session

    return build_session(app_name="notion-timetracking-etl-spark-cli")


class HttpNotionTransport:
    """Stdlib binding of the NotionTransport protocol (driver-side REST;
    rate limiting and retries live in NotionSource, not here)."""

    BASE = "https://api.notion.com/v1"
    VERSION = "2022-06-28"

    def __init__(self, token: str, http=urllib_transport):
        self._token = token
        self._http = http

    def _call(self, method: str, path: str, body: dict | None) -> dict:
        from .lib.retry import HttpError

        headers = {
            "Authorization": f"Bearer {self._token}",
            "Notion-Version": self.VERSION,
            "Content-Type": "application/json",
        }
        payload = json.dumps(body).encode() if body is not None else None
        status, resp_headers, text = self._http(
            method, f"{self.BASE}{path}", headers, payload
        )
        if status >= 400:
            raise HttpError(status, dict(resp_headers), text)
        return json.loads(text) if text else {}

    def retrieve_database(self, database_id: str) -> dict:
        return self._call("GET", f"/databases/{database_id}", None)

    def query_database(
        self, database_id: str, start_cursor: str | None, page_size: int
    ) -> dict:
        body: dict = {"page_size": page_size}
        if start_cursor:
            body["start_cursor"] = start_cursor
        return self._call("POST", f"/databases/{database_id}/query", body)


def _notion_source(transport):
    from .sources.notion import NotionSource

    if transport is None:
        token = os.environ.get("NOTION_TOKEN", "")
        if not token:
            raise SystemExit("NOTION_TOKEN required for Notion API commands")
        transport = HttpNotionTransport(token)
    return NotionSource(transport=transport)


def cmd_pull_notion(args, spark, seams) -> int:
    """reference: cli/index.ts:40-71 (runPullNotion)."""
    config, databases = load_config(args.config)
    source = _notion_source(seams.notion_transport)
    date = utc_date_stamp()
    for dataset in DATASETS:
        db_id = databases.get(dataset, "")
        if not db_id:
            raise SystemExit(f"no database id configured for dataset {dataset}")
        records = source.pull_dataset(dataset, db_id)
        from .sources.jsonl import dataset_dir

        out_dir = dataset_dir(args.data_dir, "raw", dataset, date)
        os.makedirs(out_dir, exist_ok=True)
        out_path = os.path.join(out_dir, "records.jsonl")
        with open(out_path, "w") as f:
            for rec in records:
                f.write(json.dumps(rec) + "\n")
        seams.log(f"pulled {len(records)} records dataset={dataset} -> {out_path}")
    return 0


def cmd_normalize(args, spark, seams) -> int:
    """reference: cli/index.ts:73-131 (runNormalize)."""
    from .operators.normalize import normalize_all
    from .operators.quality import evaluate_quality
    from .sinks.jsonl import write_jsonl
    from .sources.jsonl import read_jsonl

    config, _databases = load_config(args.config)
    for ids, name in (
        (config.timeslices, "timeslices"),
        (config.workflowStages, "workflowStages"),
        (config.workflowDefinitions, "workflowDefinitions"),
    ):
        require_configured(ids, name)  # V2 fail-fast

    raw = {
        ds: read_jsonl(spark, RAW_RECORD_SCHEMA, args.data_dir, "raw", ds)
        for ds in DATASETS
    }
    canon = normalize_all(
        raw["workflowDefinitions"], raw["workflowStages"], raw["timeslices"], config
    )
    run_date = args.run_date or utc_date_stamp()
    out = evaluate_quality(
        canon["timeslices"], canon["workflow_stages"], run_date=run_date
    )

    date = utc_date_stamp()
    write_jsonl(canon["workflow_definitions"], args.data_dir, "canon", "workflowDefinitions", date)
    write_jsonl(canon["workflow_stages"], args.data_dir, "canon", "workflowStages", date)
    write_jsonl(out["timeslices_clean"], args.data_dir, "canon", "timeslices", date)
    write_jsonl(out["issues"], args.data_dir, "canon", "qualityIssues", date)
    print(json.dumps(out["report"], indent=2, sort_keys=True))
    return 0


def cmd_audit_notion_schema(args, spark, seams) -> int:
    """reference: cli/index.ts:156-205 — emit the property catalog artifact."""
    _config, databases = load_config(args.config)
    source = _notion_source(seams.notion_transport)
    audit = {}
    for dataset in DATASETS:
        db_id = databases.get(dataset, "")
        if not db_id:
            continue
        db = source.retrieve_database(db_id)
        audit[dataset] = {
            name: {"id": val.get("id"), "type": val.get("type")}
            for name, val in (db.get("properties") or {}).items()
            if isinstance(val, dict)
        }
    out_path = args.output or os.path.join(args.data_dir, "notion-schema.json")
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(audit, f, indent=2, sort_keys=True)
    seams.log(f"schema audit -> {out_path}")
    return 0


@contextlib.contextmanager
def _published(spark, data_dir: str):
    """Derive the star schema once from the canon lake for one publishing
    command, and free the materialized pass when the command ends."""
    from .lifecycle import release_scoped_caches
    from .plans.derive import run_derive
    from .sources.jsonl import read_jsonl

    defs = read_jsonl(spark, WORKFLOW_DEFINITION_SCHEMA, data_dir, "canon", "workflowDefinitions")
    stages = read_jsonl(spark, WORKFLOW_STAGE_SCHEMA, data_dir, "canon", "workflowStages")
    slices = read_jsonl(spark, TIMESLICE_SCHEMA, data_dir, "canon", "timeslices")
    try:
        yield run_derive(defs, stages, slices)
    finally:
        release_scoped_caches()


def cmd_excel_export(args, spark, seams) -> int:
    """reference: cli/index.ts:219-273 (runExcelExport)."""
    from .sinks.excel import write_excel

    with _published(spark, args.data_dir) as result:
        out_path = args.output or os.path.join(args.data_dir, "export.xlsx")
        sheets = write_excel(result.tables, out_path)
    for sheet in sheets:
        seams.log(f"sheet {sheet.name}: {len(sheet.rows)} rows")
    print(json.dumps({"output": out_path, "sheets": [s.name for s in sheets]}))
    return 0


def _spec_for(result, dataset_name: str):
    from .plans.model import build_model_relationships
    from .sinks.pbi.spec import spec_from_frames, validate_spec

    spec = spec_from_frames(
        dataset_name, result.tables, build_model_relationships()
    )
    validate_spec(spec)  # V6
    return spec


def _pbi_client(transport):
    from .sinks.pbi.client import PowerBiClient, TokenProvider

    t = transport or urllib_transport
    missing = [
        v for v in ("PBI_TENANT_ID", "PBI_CLIENT_ID", "PBI_CLIENT_SECRET")
        if not os.environ.get(v)
    ]
    if transport is None and missing:
        raise SystemExit(f"missing Power BI credentials: {', '.join(missing)}")
    tokens = TokenProvider(
        t,
        os.environ.get("PBI_TENANT_ID", "tenant"),
        os.environ.get("PBI_CLIENT_ID", "client"),
        os.environ.get("PBI_CLIENT_SECRET", "secret"),
    )
    return PowerBiClient(t, tokens)


def _pbi_provision(args, seams, result) -> int:
    from .sinks.pbi.provision import ensure_dataset

    spec = _spec_for(result, args.dataset_name)
    client = _pbi_client(seams.pbi_transport)
    dataset_id = ensure_dataset(
        client, args.data_dir, args.group_id, args.dataset_name, spec
    )
    print(json.dumps({"datasetId": dataset_id}))
    return 0


def _pbi_refresh(args, seams, result) -> int:
    from .sinks.pbi.provision import ensure_dataset
    from .sinks.pbi.refresh import execute_wipe_and_reload

    spec = _spec_for(result, args.dataset_name)
    client = _pbi_client(seams.pbi_transport)
    dataset_id = ensure_dataset(
        client, args.data_dir, args.group_id, args.dataset_name, spec
    )
    refresh = execute_wipe_and_reload(
        client, args.group_id, dataset_id, spec, result.tables, log=seams.log
    )
    print(
        json.dumps(
            {
                "datasetId": dataset_id,
                "tables": refresh.tables_processed,
                "rows": refresh.total_rows_posted,
                "posts": refresh.total_post_requests,
                "counters": result.counters,
            }
        )
    )
    return 0


def cmd_pbi_provision(args, spark, seams) -> int:
    """reference: cli/index.ts:275-311 (S10)."""
    with _published(spark, args.data_dir) as result:
        return _pbi_provision(args, seams, result)


def cmd_pbi_refresh(args, spark, seams) -> int:
    """reference: cli/index.ts:313-408 (runPbiRefresh)."""
    with _published(spark, args.data_dir) as result:
        return _pbi_refresh(args, seams, result)


def cmd_run(args, spark, seams) -> int:
    """reference: cli/index.ts:207-210 — pull + normalize."""
    rc = cmd_pull_notion(args, spark, seams)
    return rc or cmd_normalize(args, spark, seams)


def cmd_run_end_to_end(args, spark, seams) -> int:
    """reference: cli/index.ts:212-217 — pull, normalize, provision, refresh;
    provision and refresh share one derive."""
    rc = cmd_pull_notion(args, spark, seams)
    rc = rc or cmd_normalize(args, spark, seams)
    if rc:
        return rc
    with _published(spark, args.data_dir) as result:
        return _pbi_provision(args, seams, result) or _pbi_refresh(args, seams, result)


def _emit_json_lines(df, output, seams) -> int:
    """Stream a DataFrame as JSON lines to a file or stdout — one partition
    in driver memory at a time (toLocalIterator), never a full collect()."""
    it = df.toJSON().toLocalIterator()
    n = 0
    if output:
        with open(output, "w", encoding="utf-8") as fh:
            for line in it:
                fh.write(line)
                fh.write("\n")
                n += 1
        seams.log(f"wrote {n} rows to {output}")
    else:
        for line in it:
            print(line)
            n += 1
        seams.log(f"{n} rows")
    return 0


def cmd_sql(args, spark, seams) -> int:
    """Engine extension: ad-hoc SQL over the lake tables.

    Registers every testdata table as a temp view (through load_table, so
    the timestamp-annotation contract holds) and executes the given ANSI
    SQL. Results stream to --output as JSONL or to stdout as JSON lines —
    via toJSON().toLocalIterator(), one partition in driver memory at a
    time, never a full collect()."""
    from .sources.tpch import register_views

    register_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    return _emit_json_lines(df, args.output, seams)


def cmd_run_query(args, spark, seams) -> int:
    """Engine extension: execute a registered query by name against --sf-dir
    (the same builders the driver contract exposes)."""
    from .queries import REGISTRY

    if args.query not in REGISTRY:
        seams.log(
            f"unknown query {args.query!r}; choose from: "
            + " ".join(sorted(REGISTRY))
        )
        return 2
    df = REGISTRY[args.query].spark(spark, args.sf_dir)
    return _emit_json_lines(df, args.output, seams)


def cmd_explain(args, spark, seams) -> int:
    """Engine extension: print a registered query's formatted physical plan
    (the 100 TB review surface: broadcast vs shuffle joins, pushed filters,
    codegen spans) without executing it."""
    from .queries import REGISTRY

    if args.query not in REGISTRY:
        seams.log(
            f"unknown query {args.query!r}; choose from: "
            + " ".join(sorted(REGISTRY))
        )
        return 2
    df = REGISTRY[args.query].spark(spark, args.sf_dir)
    # Public API only: df.explain prints the same formatted physical plan and
    # works on Spark Connect sessions (no _sc/_jvm there).
    df.explain(mode="formatted")
    return 0


def cmd_ann_fit(args, spark, seams) -> int:
    """Engine extension: train the ANN index models (k-means coarse
    quantizer + PQ subspace codebooks) on --sf-dir's embeddings and freeze
    them under --output (<out>/kmeans, <out>/pq) — the train-once half of
    the train-once/serve-forever seam (operators/model_store.py)."""
    from .operators.kmeans import kmeans_fit
    from .operators.model_store import save_kmeans_model, save_pq_model
    from .operators.pq import pq_fit
    from .queries.similarity import load_embeddings

    out = args.output or "ann_models"
    emb = load_embeddings(spark, args.sf_dir).select("vec_id", "embedding")
    _asg, cent = kmeans_fit(emb, k=8, iters=3, scoped=False)
    save_kmeans_model(cent, os.path.join(out, "kmeans"))
    models = pq_fit(emb, m=4, k=8, iters=2, scoped=False)
    save_pq_model(models, os.path.join(out, "pq"))
    seams.log(f"froze kmeans (8 cells) + pq (4x8 codebooks) under {out}")
    return 0


def cmd_ann_encode(args, spark, seams) -> int:
    """Engine extension: encode --sf-dir's embeddings against models frozen
    by ann-fit (--model dir): emits one JSONL row per vector with its
    coarse cell and the M PQ codes — the serve-side ingest path for
    corpora the fit never saw."""
    import pyspark.sql.functions as F

    from .operators.model_store import load_kmeans_model, load_pq_model
    from .operators.pq import pq_codes
    from .queries.similarity import load_embeddings

    model_dir = args.model
    emb = load_embeddings(spark, args.sf_dir).select("vec_id", "embedding")
    asg, _cent = load_kmeans_model(
        spark, emb, os.path.join(model_dir, "kmeans")
    )
    codes = pq_codes(load_pq_model(spark, emb, os.path.join(model_dir, "pq")))
    packed = codes.groupBy("vec_id").agg(
        F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc")
    ).select("vec_id", F.col("sc.code").alias("pq_codes"))
    out = (
        asg.select("vec_id", F.col("cid").alias("cell"))
        .join(packed, "vec_id")
        .orderBy("vec_id")
    )
    return _emit_json_lines(out, args.output, seams)


def cmd_tokenizer_fit(args, spark, seams) -> int:
    """Engine extension: learn a BPE merge list over --sf-dir's documents
    (operators/selection.py::bpe_fit — the corpus is scanned once into the
    word-frequency table; merge rounds iterate vocab-sized state) and
    freeze it under --output as a rank-ordered parquet — the merges file
    IS the tokenizer model, exactly how production tokenizers ship."""
    from .operators.selection import bpe_fit, word_frequency_table
    from .sources.tpch import load_table

    out = args.output or "bpe_model"
    n = int(args.merges)
    docs = load_table(spark, args.sf_dir, "documents")
    merges = bpe_fit(word_frequency_table(docs, "text"), n_merges=n)
    rows = [
        (rank, pair.split(" ", 1)[0], pair.split(" ", 1)[1], cnt)
        for rank, (pair, cnt) in enumerate(merges)
    ]
    spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    ).coalesce(1).write.mode("overwrite").parquet(out)
    seams.log(f"froze {len(rows)} BPE merges under {out}")
    return 0


def cmd_tokenizer_encode(args, spark, seams) -> int:
    """Engine extension: tokenize --sf-dir's documents with a model frozen
    by tokenizer-fit (--model dir): the rank-ordered merges load to the
    driver (model-sized, like centroids) and apply as the cross-engine
    replace-chain over the word-frequency table — then one broadcast join
    back gives per-document token counts. Emits JSONL rows
    (doc_id, n_words, n_tokens)."""
    import pyspark.sql.functions as F

    from .operators.dedup import words
    from .operators.selection import bpe_encode_sql, bpe_symbols_spark
    from .sources.tpch import load_table

    merges = tuple(
        (r["left"], r["right"])
        for r in spark.read.parquet(args.model).orderBy("rank").collect()
    )
    ntok = (
        f"cast(size(split(trim({bpe_encode_sql(bpe_symbols_spark('word'), merges)}),"
        " '  ')) as bigint)"
    )
    docs = load_table(spark, args.sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tok = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("word", F.expr(ntok).alias("n_toks"))
    )
    out = (
        tok.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )
    return _emit_json_lines(out, args.output, seams)


COMMANDS = {
    "pull-notion": cmd_pull_notion,
    "normalize": cmd_normalize,
    "run": cmd_run,
    "audit-notion-schema": cmd_audit_notion_schema,
    "excel-export": cmd_excel_export,
    "pbi-provision": cmd_pbi_provision,
    "pbi-refresh": cmd_pbi_refresh,
    "run-end-to-end": cmd_run_end_to_end,
    "sql": cmd_sql,
    "run-query": cmd_run_query,
    "explain": cmd_explain,
    "ann-fit": cmd_ann_fit,
    "ann-encode": cmd_ann_encode,
    "tokenizer-fit": cmd_tokenizer_fit,
    "tokenizer-encode": cmd_tokenizer_encode,
}

_NEEDS_SPARK = {
    "normalize", "run", "excel-export", "pbi-provision", "pbi-refresh",
    "run-end-to-end", "sql", "run-query", "explain", "ann-fit", "ann-encode",
    "tokenizer-fit", "tokenizer-encode",
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="notion-timetracking-etl-spark")
    sub = p.add_subparsers(dest="command", required=True)
    for name in COMMANDS:
        c = sub.add_parser(name)
        c.add_argument("--data-dir", default="data")
        c.add_argument("--config", default=None)
        c.add_argument("--run-date", default=None, help="injectable for determinism")
        c.add_argument("--output", default=None)
        c.add_argument("--group-id", default=os.environ.get("PBI_GROUP_ID", ""))
        c.add_argument(
            "--dataset-name", default=os.environ.get("PBI_DATASET_NAME", "TimeTracking")
        )
        if name in ("sql", "run-query", "explain"):
            c.add_argument("query")
        if name in ("sql", "run-query", "explain", "ann-fit", "ann-encode",
                    "tokenizer-fit", "tokenizer-encode"):
            c.add_argument(
                "--sf-dir",
                default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            )
        if name == "ann-encode":
            c.add_argument("--model", default="ann_models")
        if name == "tokenizer-fit":
            c.add_argument("--merges", default="24")
        if name == "tokenizer-encode":
            c.add_argument("--model", default="bpe_model")
    return p


class Seams:
    """Injectable integration points for tests."""

    def __init__(self, notion_transport=None, pbi_transport=None, log=None):
        self.notion_transport = notion_transport
        self.pbi_transport = pbi_transport
        self.log = log or (lambda m: print(m, file=sys.stderr))


def main(
    argv: list[str] | None = None,
    spark: SparkSession | None = None,
    seams: Seams | None = None,
) -> int:
    seams = seams or Seams()
    args = build_parser().parse_args(argv)
    if spark is None and args.command in _NEEDS_SPARK:
        spark = _build_spark()
    return COMMANDS[args.command](args, spark, seams)


if __name__ == "__main__":
    raise SystemExit(main())
