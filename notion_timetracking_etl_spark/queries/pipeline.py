"""Driver-checked parity queries for the REAL derive pipeline.

Canon tables (workflow_definitions / workflow_stages / timeslices) are
synthesized deterministically from the ``events`` testdata table — identical
formulas in PySpark and in the DuckDB oracle CTEs (md5-derived ids, modular
null injection, ISO-millis rendering) — then the engine side runs the actual
``plans.derive`` builders while the oracle re-states their semantics in SQL.
Hash-equality here is end-to-end evidence for the reference pipeline:
J1–J3 broadcast enrichment with label fallbacks, A6 dims with sha-colors,
W2/W3 spines, J4+A1 occupancy, A2/A3+J5/J6+P7 throughput, and the F13–F36
scalar layer in their real composition.

The synthesized fleet exercises every edge: null definitions (exclusion),
ghost definition references (uuid fallback chain), null stage numbers (→1),
fractional stage numbers (half-up), missing labels (key fallback), null
timestamps, negative intervals (occupancy skip), and stage-1 entry edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import session_cached
from ..plans import derive as D
from ..schemas import TIMESLICE_SCHEMA, WORKFLOW_DEFINITION_SCHEMA, WORKFLOW_STAGE_SCHEMA
from ..sources.tpch import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Shared SQL snippet builders (DuckDB dialect)
# ---------------------------------------------------------------------------


def _sql_uuid32(h: str) -> str:
    return (
        f"concat(substr({h},1,8),'-',substr({h},9,4),'-',substr({h},13,4),"
        f"'-',substr({h},17,4),'-',substr({h},21,12))"
    )


def _sql_iso(ts: str) -> str:
    return (
        f"concat(strftime({ts}, '%Y-%m-%dT%H:%M:%S'), '.', "
        f"lpad(CAST(epoch_ms({ts}) % 1000 AS VARCHAR), 3, '0'), 'Z')"
    )


def _sql_la_day_iso(ts: str) -> str:
    return (
        f"concat(strftime(timezone('America/Los_Angeles', timezone('UTC', {ts})), "
        f"'%Y-%m-%d'), 'T00:00:00.000Z')"
    )


def _sql_parse(s: str) -> str:
    return f"TRY_CAST({s} AS TIMESTAMP)"


def _sql_ole(ts: str) -> str:
    return f"(CAST(epoch_ms({ts}) + 2209161600000 AS DOUBLE) / 86400000.0)"


def _sql_uuid_maybe(s: str) -> str:
    """toUuidMaybe for inputs known to embed a 32-hex run (canon ids)."""
    h = f"regexp_extract(lower({s}), '[0-9a-f]{{32}}', 0)"
    return f"CASE WHEN {s} IS NULL THEN NULL ELSE {_sql_uuid32(h)} END"


_PALETTE_SQL = "list_value(" + ",".join(f"'{c}'" for c in D.COLOR_HEX_VALUES) + ")"


def _sql_color(key: str) -> str:
    idx = f"(CAST(concat('0x', substr(sha256({key}),1,8)) AS BIGINT) % 36)"
    return f"list_extract({_PALETTE_SQL}, CAST({idx} + 1 AS INT))"


def _sql_round_half_up(x: str) -> str:
    return f"CAST(floor(({x}) + 0.5) AS BIGINT)"


# The canon synthesis CTEs (DuckDB). Formulas mirror _synth_canon exactly.
_CANON_CTES = f"""
  defs AS (
    SELECT
      concat('workflow_definition_', md5(event_type)) AS workflow_definition_id,
      {_sql_uuid32("md5(event_type)")} AS source_page_id,
      CASE WHEN event_type <> 'click' THEN upper(event_type) END AS page_title
    FROM (SELECT DISTINCT event_type FROM events)
  ),
  stages AS (
    SELECT
      concat('workflow_stage_', md5(concat(event_type, '#', n))) AS workflow_stage_id,
      CASE WHEN n = 2
           THEN concat('workflow_definition_', md5(concat(event_type, '_ghost')))
           ELSE concat('workflow_definition_', md5(event_type)) END AS workflow_definition_id,
      {_sql_uuid32("md5(concat(event_type, '#', n))")} AS source_page_id,
      CASE WHEN n = 4 THEN NULL
           WHEN n = 3 THEN 2.5
           ELSE CAST(n AS DOUBLE) END AS stage_number,
      CASE WHEN n = 3 THEN NULL
           ELSE concat(upper(event_type), ' S', n) END AS stage_label
    FROM (SELECT DISTINCT event_type FROM events), (SELECT unnest([1,2,3,4]) AS n)
  ),
  ts_base AS (
    SELECT
      event_id, event_type, user_id,
      ts AS start_raw,
      CASE WHEN event_id % 23 = 0 THEN ts - INTERVAL 90 SECOND
           ELSE ts + INTERVAL 1 MINUTE * CAST(5 + event_id % 240 AS BIGINT)
      END AS end_raw
    FROM events
  ),
  slices AS (
    SELECT
      concat('timeslice_', md5(CAST(event_id AS VARCHAR))) AS timeslice_id,
      CASE WHEN event_id % 37 = 0 THEN NULL
           ELSE concat('workflow_definition_', md5(event_type)) END AS workflow_definition_id,
      concat('workflow_record_', md5(CAST(user_id AS VARCHAR))) AS workflow_record_id,
      CASE WHEN event_id % 11 = 0 THEN NULL
           ELSE concat('workflow_stage_',
                       md5(concat(event_type, '#', 1 + event_id % 4))) END AS from_step_id,
      CASE WHEN event_id % 13 = 0 THEN NULL
           ELSE concat('workflow_stage_',
                       md5(concat(event_type, '#', 1 + (event_id + 1) % 4))) END AS to_step_id,
      CASE WHEN event_id % 17 = 0 THEN NULL ELSE {_sql_iso("start_raw")} END AS started_at,
      CASE WHEN event_id % 19 = 0 THEN NULL ELSE {_sql_iso("end_raw")} END AS ended_at,
      CASE WHEN event_id % 17 = 0 OR event_id % 19 = 0 THEN NULL
           ELSE greatest(0, {_sql_round_half_up(
               "(CAST(epoch_ms(end_raw) AS DOUBLE) - epoch_ms(start_raw)) / 1000.0"
           )}) END AS duration_seconds,
      {_sql_uuid32("md5(concat('page', event_id))")} AS source_page_id,
      {_sql_iso("start_raw + INTERVAL 2 HOUR")} AS last_edited_time,
      {_sql_iso("start_raw - INTERVAL 1 HOUR")} AS created_time,
      CASE WHEN event_id % 5 = 0 THEN NULL
           ELSE concat('Slice ', event_id) END AS page_title
    FROM ts_base
  ),
  clean AS (SELECT * FROM slices WHERE workflow_definition_id IS NOT NULL)
"""

# Enriched-fact CTE shared by fact/dim_date oracles.
_FACT_CTE = f"""
  label_map AS (
    SELECT source_page_id AS wf_key, COALESCE(page_title, source_page_id) AS wf_label
    FROM defs
  ),
  fact AS (
    SELECT
      COALESCE(t.page_title, t.timeslice_id) AS name,
      COALESCE(d.page_title, lm.wf_label,
               COALESCE(d.source_page_id, {_sql_uuid_maybe("t.workflow_definition_id")},
                        'workflow_definition_unknown')) AS workflow_definition,
      COALESCE(d.source_page_id, {_sql_uuid_maybe("t.workflow_definition_id")},
               'workflow_definition_unknown') AS workflow_definition_key,
      {_sql_uuid_maybe("t.workflow_record_id")} AS workflow_record,
      fs.source_page_id AS from_stage_key,
      ts2.source_page_id AS to_stage_key,
      {_sql_round_half_up("fs.stage_number")} AS from_step_n,
      {_sql_round_half_up("ts2.stage_number")} AS to_step_n,
      fs.stage_label AS from_workflow_step,
      ts2.stage_label AS to_workflow_step,
      {_sql_ole(_sql_parse("t.started_at"))} AS from_time,
      {_sql_ole(_sql_parse("t.ended_at"))} AS to_time,
      {_sql_round_half_up("t.duration_seconds / 60.0")} AS minutes_diff,
      {_sql_iso(_sql_parse(
          "COALESCE(t.ended_at, t.started_at, t.last_edited_time, t.created_time)"
      ))} AS to_datetime,
      {_sql_la_day_iso(_sql_parse(
          "COALESCE(t.ended_at, t.started_at, t.last_edited_time, t.created_time)"
      ))} AS to_date
    FROM clean t
    LEFT JOIN defs d ON t.workflow_definition_id = d.workflow_definition_id
    LEFT JOIN label_map lm
      ON lm.wf_key = COALESCE(d.source_page_id, {_sql_uuid_maybe("t.workflow_definition_id")},
                              'workflow_definition_unknown')
    LEFT JOIN stages fs ON t.from_step_id = fs.workflow_stage_id
    LEFT JOIN stages ts2 ON t.to_step_id = ts2.workflow_stage_id
  )
"""


# ---------------------------------------------------------------------------
# Spark-side canon synthesis (identical formulas)
# ---------------------------------------------------------------------------


def _iso(col) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")


def _uuid_from_hex32(h) -> F.Column:
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def _null_str():
    return F.lit(None).cast("string")


def _with_schema(df: DataFrame, schema) -> DataFrame:
    """Fill unmentioned canon columns with typed nulls, ordered per schema."""
    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        elif field.name == "attributes":
            cols.append(
                F.map_from_arrays(F.array(), F.array()).cast(field.dataType).alias("attributes")
            )
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def synth_canon(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Synthesized canon, persisted once per corpus (session scope): 7
    registered queries and, within each, several pipeline branches (fact,
    spines, occupancy, throughput) read it, and the md5/ISO-formatting
    projection over events is CPU-heavy enough that re-deriving it per
    consumer dominates query time at bench scale. The reference
    materializes canon JSONL between stages for the same reason."""
    return session_cached(
        spark, sf_dir, "canon", lambda: _synth_canon(spark, sf_dir)
    )


def synth_derived(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The derived intermediates of the pipeline_* family (fact, DimStage,
    frame spine, hourly occupancy), checkpointed once per corpus — what the
    reference's derivePbiTableRows does (derive/index.ts:94-297 builds each
    table once and every sink reads the same arrays)."""
    return session_cached(
        spark, sf_dir, "derived", lambda: _synth_derived(spark, sf_dir)
    )


def _synth_derived(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Eager local checkpoints, not persists: the plans hold broadcast joins
    (J1–J3, the occupancy lookups), whose relations a persist would pin
    (lifecycle.py, session scope). Unlike ``flat_checkpoint``, a local
    checkpoint keeps the size estimate, so joins on ``dim_stage`` still
    broadcast."""
    c = synth_canon(spark, sf_dir)
    fact = D.build_fact_timeslices(
        c["clean"], c["defs"], c["stages"]
    ).localCheckpoint(eager=True)
    dim_stage = D.build_dim_stage(c["stages"], c["defs"]).localCheckpoint(eager=True)
    frames = D.build_dim_playback_frame(c["clean"]).localCheckpoint(eager=True)
    occ, _skipped, _clamped = D.build_stage_occupancy_hourly(
        c["clean"], c["stages"], dim_stage, frames
    )
    return {
        "fact": fact,
        "dim_stage": dim_stage,
        "frames": frames,
        "occ": occ.localCheckpoint(eager=True),
    }


def _synth_canon(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    ev = load_table(spark, sf_dir, "events")
    et_md5 = F.md5("event_type")

    defs = _with_schema(
        ev.select("event_type").distinct().select(
            F.concat(F.lit("workflow_definition_"), et_md5).alias("workflow_definition_id"),
            _uuid_from_hex32(et_md5).alias("source_page_id"),
            F.when(F.col("event_type") != "click", F.upper("event_type")).alias("page_title"),
        ),
        WORKFLOW_DEFINITION_SCHEMA,
    )

    n_col = F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("n")
    stage_base = ev.select("event_type").distinct().select("event_type", n_col)
    stage_md5 = F.md5(F.concat(F.col("event_type"), F.lit("#"), F.col("n").cast("string")))
    stages = _with_schema(
        stage_base.select(
            F.concat(F.lit("workflow_stage_"), stage_md5).alias("workflow_stage_id"),
            F.when(
                F.col("n") == 2,
                F.concat(
                    F.lit("workflow_definition_"),
                    F.md5(F.concat(F.col("event_type"), F.lit("_ghost"))),
                ),
            )
            .otherwise(F.concat(F.lit("workflow_definition_"), F.md5("event_type")))
            .alias("workflow_definition_id"),
            _uuid_from_hex32(stage_md5).alias("source_page_id"),
            F.when(F.col("n") == 4, F.lit(None).cast("double"))
            .when(F.col("n") == 3, F.lit(2.5))
            .otherwise(F.col("n").cast("double"))
            .alias("stage_number"),
            F.when(F.col("n") == 3, _null_str())
            .otherwise(
                F.concat(F.upper("event_type"), F.lit(" S"), F.col("n").cast("string"))
            )
            .alias("stage_label"),
        ),
        WORKFLOW_STAGE_SCHEMA,
    )

    dur_min = (F.lit(5) + F.col("event_id") % 240).cast("long")
    base = ev.select(
        "event_id",
        "event_type",
        "user_id",
        F.col("ts").alias("start_raw"),
        F.when(
            F.col("event_id") % 23 == 0,
            F.timestamp_micros(F.unix_micros("ts") - 90_000_000),
        )
        .otherwise(F.timestamp_micros(F.unix_micros("ts") + dur_min * 60_000_000))
        .alias("end_raw"),
    )
    step_id = lambda n_expr: F.concat(  # noqa: E731
        F.lit("workflow_stage_"),
        F.md5(F.concat(F.col("event_type"), F.lit("#"), n_expr.cast("string"))),
    )
    start_ms = F.unix_millis("start_raw")
    end_ms = F.unix_millis("end_raw")
    dur = F.greatest(
        F.lit(0).cast("long"),
        F.floor((end_ms - start_ms).cast("double") / 1000.0 + 0.5).cast("long"),
    )
    slices = _with_schema(
        base.select(
            F.concat(F.lit("timeslice_"), F.md5(F.col("event_id").cast("string"))).alias(
                "timeslice_id"
            ),
            F.when(F.col("event_id") % 37 == 0, _null_str())
            .otherwise(F.concat(F.lit("workflow_definition_"), F.md5("event_type")))
            .alias("workflow_definition_id"),
            F.concat(
                F.lit("workflow_record_"), F.md5(F.col("user_id").cast("string"))
            ).alias("workflow_record_id"),
            F.when(F.col("event_id") % 11 == 0, _null_str())
            .otherwise(step_id(F.lit(1) + F.col("event_id") % 4))
            .alias("from_step_id"),
            F.when(F.col("event_id") % 13 == 0, _null_str())
            .otherwise(step_id(F.lit(1) + (F.col("event_id") + 1) % 4))
            .alias("to_step_id"),
            F.when(F.col("event_id") % 17 == 0, _null_str())
            .otherwise(_iso(F.col("start_raw")))
            .alias("started_at"),
            F.when(F.col("event_id") % 19 == 0, _null_str())
            .otherwise(_iso(F.col("end_raw")))
            .alias("ended_at"),
            F.when(
                (F.col("event_id") % 17 == 0) | (F.col("event_id") % 19 == 0),
                F.lit(None).cast("long"),
            )
            .otherwise(dur)
            .alias("duration_seconds"),
            _uuid_from_hex32(
                F.md5(F.concat(F.lit("page"), F.col("event_id").cast("string")))
            ).alias("source_page_id"),
            _iso(F.timestamp_micros(F.unix_micros("start_raw") + 7_200_000_000)).alias(
                "last_edited_time"
            ),
            _iso(F.timestamp_micros(F.unix_micros("start_raw") - 3_600_000_000)).alias(
                "created_time"
            ),
            F.when(F.col("event_id") % 5 == 0, _null_str())
            .otherwise(F.concat(F.lit("Slice "), F.col("event_id").cast("string")))
            .alias("page_title"),
        ),
        TIMESLICE_SCHEMA,
    )
    defs, stages, slices = defs.persist(), stages.persist(), slices.persist()
    clean = slices.filter(F.col("workflow_definition_id").isNotNull())
    return {"defs": defs, "stages": stages, "slices": slices, "clean": clean}


# ---------------------------------------------------------------------------
# Registered pipeline queries
# ---------------------------------------------------------------------------


@register(
    "pipeline_fact_timeslices",
    "P2,J1,J2,J3,F13,F16,F25,F26,F27,F28,F29,F36",
    "The real FactTimeslices builder over synthesized canon: broadcast dim "
    "enrichment, label fallback chains, OLE serials, LA-day bucketing "
    "(reference: derive/index.ts:131-182).",
    oracle=f"""
        WITH {_CANON_CTES}, {_FACT_CTE}
        SELECT name, workflow_definition, workflow_record, from_stage_key,
               to_stage_key, from_step_n, to_step_n, from_workflow_step,
               to_workflow_step, from_time, to_time, minutes_diff,
               to_datetime, to_date
        FROM fact
        ORDER BY name
    """,
)
def pipeline_fact_timeslices(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = synth_derived(spark, sf_dir)["fact"]
    return fact.select(
        F.col("Name").alias("name"),
        F.col("Workflow Definition").alias("workflow_definition"),
        F.col("Workflow Record").alias("workflow_record"),
        "from_stage_key",
        "to_stage_key",
        F.col("From Step N").alias("from_step_n"),
        F.col("To Step N").alias("to_step_n"),
        F.col("From Workflow Step").alias("from_workflow_step"),
        F.col("To Workflow Step").alias("to_workflow_step"),
        F.col("From Time").alias("from_time"),
        F.col("To Time").alias("to_time"),
        F.col("Minutes Diff").alias("minutes_diff"),
        F.col("To DateTime").alias("to_datetime"),
        F.col("To Date").alias("to_date"),
    ).orderBy("name")


@register(
    "pipeline_dim_workflow",
    "A6,O1",
    "DimWorkflow dedup-to-dimension (reference: derive/index.ts:209-214).",
    oracle=f"""
        WITH {_CANON_CTES}
        SELECT source_page_id AS workflow_definition_key,
               COALESCE(page_title, source_page_id) AS workflow_definition
        FROM defs
        ORDER BY workflow_definition_key
    """,
)
def pipeline_dim_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = synth_canon(spark, sf_dir)
    return D.build_dim_workflow(c["defs"])


@register(
    "pipeline_dim_stage",
    "A6,F19,F23,O1,J3",
    "DimStage with sha256-derived colors, stage-number normalization (half-up, "
    "null→1), label/key fallbacks, ghost-definition uuid fallback "
    "(reference: derive/index.ts:184-218,709-714).",
    oracle=f"""
        WITH {_CANON_CTES},
        label_map AS (
          SELECT source_page_id AS wf_key, COALESCE(page_title, source_page_id) AS wf_label
          FROM defs
        ),
        enriched AS (
          SELECT s.source_page_id AS stage_key,
                 {_sql_color("s.source_page_id")} AS color_hex,
                 COALESCE(d.source_page_id, {_sql_uuid_maybe("s.workflow_definition_id")},
                          'workflow_definition_unknown') AS workflow_definition_key,
                 COALESCE(d.page_title, lm.wf_label,
                          COALESCE(d.source_page_id,
                                   {_sql_uuid_maybe("s.workflow_definition_id")},
                                   'workflow_definition_unknown')) AS workflow_definition,
                 COALESCE(s.stage_label, s.source_page_id) AS stage,
                 COALESCE(greatest(1, {_sql_round_half_up("s.stage_number")}), 1) AS stage_n,
                 concat(lpad(CAST(COALESCE(greatest(1, {_sql_round_half_up("s.stage_number")}), 1)
                                  AS VARCHAR), 2, '0'),
                        '. ', COALESCE(s.stage_label, s.source_page_id)) AS "Stage Label"
          FROM stages s
          LEFT JOIN defs d ON s.workflow_definition_id = d.workflow_definition_id
          LEFT JOIN label_map lm
            ON lm.wf_key = COALESCE(d.source_page_id,
                                    {_sql_uuid_maybe("s.workflow_definition_id")},
                                    'workflow_definition_unknown')
        )
        SELECT * FROM enriched ORDER BY stage_key
    """,
)
def pipeline_dim_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_derived(spark, sf_dir)["dim_stage"]


@register(
    "pipeline_dim_date",
    "W3,A5,F32,F35",
    "DimDate spine over the fact 'To Date' range "
    "(reference: derive/index.ts:378-414).",
    oracle=f"""
        WITH {_CANON_CTES}, {_FACT_CTE},
        r AS (
          SELECT CAST(min(substr(to_date, 1, 10)) AS DATE) AS lo,
                 CAST(max(substr(to_date, 1, 10)) AS DATE) AS hi
          FROM fact WHERE to_date IS NOT NULL
        ),
        spine AS (
          SELECT CAST(g.d AS DATE) AS d
          FROM r, LATERAL (SELECT unnest(generate_series(r.lo::TIMESTAMP, r.hi::TIMESTAMP,
                                                         INTERVAL 1 DAY)) AS d) g
        )
        SELECT concat(strftime(d, '%Y-%m-%d'), 'T00:00:00.000Z') AS "Date",
               CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_key,
               CAST(year(d) AS BIGINT) AS year,
               CAST(month(d) AS BIGINT) AS month_num,
               strftime(d, '%b') AS month_name,
               CAST(day(d) AS BIGINT) AS day_of_month,
               strftime(d, '%a') AS day_name
        FROM spine
        ORDER BY date_key
    """,
)
def pipeline_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.build_dim_date(synth_derived(spark, sf_dir)["fact"])


@register(
    "pipeline_playback_frames",
    "W1,W2,A4,F34",
    "DimPlaybackFrame hourly spine over all candidate timestamps "
    "(reference: derive/index.ts:416-450).",
    oracle=f"""
        WITH {_CANON_CTES},
        cand AS (
          SELECT {_sql_parse("started_at")} AS ts FROM clean
          UNION ALL SELECT {_sql_parse("ended_at")} FROM clean
          UNION ALL SELECT {_sql_parse("last_edited_time")} FROM clean
          UNION ALL SELECT {_sql_parse("created_time")} FROM clean
        ),
        r AS (
          SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
          FROM cand WHERE ts IS NOT NULL
        ),
        spine AS (
          SELECT g.h AS h, r.lo AS lo
          FROM r, LATERAL (SELECT unnest(generate_series(r.lo, r.hi, INTERVAL 1 HOUR)) AS h) g
        )
        SELECT CAST(date_diff('hour', lo, h) AS BIGINT) AS frame_n,
               {_sql_iso("h")} AS frame_datetime,
               {_sql_la_day_iso("h")} AS frame_date
        FROM spine
        ORDER BY frame_n
    """,
)
def pipeline_playback_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_derived(spark, sf_dir)["frames"]


_OCC_CTES = f"""
  iv AS (
    SELECT s.source_page_id AS stage_key,
           t.source_page_id AS workflow_record,
           {_sql_parse("t.started_at")} AS start_ts,
           {_sql_parse("t.ended_at")} AS end_ts
    FROM clean t
    JOIN stages s ON t.from_step_id = s.workflow_stage_id
  ),
  valid AS (
    SELECT * FROM iv
    WHERE start_ts IS NOT NULL AND end_ts IS NOT NULL AND end_ts >= start_ts
  ),
  exploded AS (
    SELECT v.stage_key, v.workflow_record, g.h
    FROM valid v, LATERAL (
      SELECT unnest(generate_series(date_trunc('hour', v.start_ts),
                                    date_trunc('hour', v.end_ts),
                                    INTERVAL 1 HOUR)) AS h
    ) g
    WHERE g.h >= v.start_ts
  ),
  occ AS (
    SELECT h, stage_key, COUNT(DISTINCT workflow_record) AS item_count
    FROM exploded GROUP BY h, stage_key
  ),
  cand AS (
    SELECT {_sql_parse("started_at")} AS ts FROM clean
    UNION ALL SELECT {_sql_parse("ended_at")} FROM clean
    UNION ALL SELECT {_sql_parse("last_edited_time")} FROM clean
    UNION ALL SELECT {_sql_parse("created_time")} FROM clean
  ),
  spine_lo AS (
    SELECT date_trunc('hour', min(ts)) AS lo FROM cand WHERE ts IS NOT NULL
  ),
  dim_stage AS (
    SELECT s.source_page_id AS stage_key,
           COALESCE(d.page_title, lm.wf_label,
                    COALESCE(d.source_page_id, {_sql_uuid_maybe("s.workflow_definition_id")},
                             'workflow_definition_unknown')) AS workflow_definition,
           COALESCE(s.stage_label, s.source_page_id) AS stage,
           COALESCE(greatest(1, {_sql_round_half_up("s.stage_number")}), 1) AS stage_n
    FROM stages s
    LEFT JOIN defs d ON s.workflow_definition_id = d.workflow_definition_id
    LEFT JOIN (SELECT source_page_id AS wf_key,
                      COALESCE(page_title, source_page_id) AS wf_label FROM defs) lm
      ON lm.wf_key = COALESCE(d.source_page_id,
                              {_sql_uuid_maybe("s.workflow_definition_id")},
                              'workflow_definition_unknown')
  )
"""


@register(
    "pipeline_occupancy_hourly",
    "J4,A1,P6,P8,F33,F34",
    "The real StageOccupancy_Hourly: interval explode-to-hours + exact "
    "countDistinct + frame/stage decoration "
    "(reference: derive/index.ts:452-530).",
    oracle=f"""
        WITH {_CANON_CTES}, {_OCC_CTES}
        SELECT CAST(date_diff('hour', sl.lo, o.h) AS BIGINT) AS frame_n,
               {_sql_iso("o.h")} AS snapshot_dt,
               {_sql_la_day_iso("o.h")} AS snapshot_day,
               strftime(timezone('America/Los_Angeles', timezone('UTC', o.h)),
                        '%Y-%m-%d %H:%M') AS snapshot_label,
               ds.workflow_definition, ds.stage, ds.stage_n, o.stage_key,
               o.item_count, o.item_count AS objective_count
        FROM occ o, spine_lo sl
        JOIN dim_stage ds ON o.stage_key = ds.stage_key
        ORDER BY frame_n, o.stage_key
    """,
)
def pipeline_occupancy_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = synth_derived(spark, sf_dir)["occ"]
    return rows.select(
        "frame_n",
        "snapshot_dt",
        "snapshot_day",
        "snapshot_label",
        "workflow_definition",
        "stage",
        "stage_n",
        "stage_key",
        "item_count",
        F.col("Objective Count").alias("objective_count"),
    ).orderBy("frame_n", "stage_key")


@register(
    "pipeline_throughput_daily",
    "A2,A3,J5,J6,P7,F29,F35",
    "The real StageThroughput_Daily: LA-day entries/exits, stage-1 entry-edge "
    "rule, occupancy peak/avg, full-outer merge, zero suppression "
    "(reference: derive/index.ts:532-643).",
    oracle=f"""
        WITH {_CANON_CTES}, {_OCC_CTES},
        entries_a AS (
          SELECT {_sql_la_day_iso(_sql_parse("t.started_at"))} AS bucket_day,
                 s.source_page_id AS stage_key, COUNT(*) AS n
          FROM clean t JOIN stages s ON t.from_step_id = s.workflow_stage_id
          WHERE t.started_at IS NOT NULL AND {_sql_parse("t.started_at")} IS NOT NULL
          GROUP BY 1, 2
        ),
        exits AS (
          SELECT {_sql_la_day_iso(_sql_parse("t.ended_at"))} AS bucket_day,
                 s.source_page_id AS stage_key, COUNT(*) AS exit_count
          FROM clean t JOIN stages s ON t.from_step_id = s.workflow_stage_id
          WHERE t.ended_at IS NOT NULL AND {_sql_parse("t.ended_at")} IS NOT NULL
          GROUP BY 1, 2
        ),
        entries_b AS (
          SELECT {_sql_la_day_iso(_sql_parse(
              "COALESCE(t.ended_at, t.started_at, t.last_edited_time, t.created_time)"
          ))} AS bucket_day,
                 s.source_page_id AS stage_key, COUNT(*) AS n
          FROM clean t
          JOIN stages s ON t.to_step_id = s.workflow_stage_id
          WHERE t.from_step_id IS NULL AND t.to_step_id IS NOT NULL
            AND {_sql_round_half_up("s.stage_number")} = 1
            AND {_sql_parse(
                "COALESCE(t.ended_at, t.started_at, t.last_edited_time, t.created_time)"
            )} IS NOT NULL
          GROUP BY 1, 2
        ),
        entries AS (
          SELECT bucket_day, stage_key, CAST(SUM(n) AS BIGINT) AS entry_count
          FROM (SELECT * FROM entries_a UNION ALL SELECT * FROM entries_b)
          GROUP BY bucket_day, stage_key
        ),
        occ_d AS (
          SELECT {_sql_la_day_iso("h")} AS bucket_day, stage_key,
                 max(item_count) AS occupancy_peak,
                 CAST(SUM(item_count) AS DOUBLE) / COUNT(*) AS occupancy_avg
          FROM occ GROUP BY 1, 2
        ),
        merged AS (
          SELECT COALESCE(e.bucket_day, x.bucket_day, o.bucket_day) AS bucket_day,
                 COALESCE(e.stage_key, x.stage_key, o.stage_key) AS stage_key,
                 COALESCE(e.entry_count, 0) AS entry_count,
                 COALESCE(x.exit_count, 0) AS exit_count,
                 COALESCE(o.occupancy_peak, 0) AS occupancy_peak,
                 COALESCE(o.occupancy_avg, 0.0) AS occupancy_avg
          FROM entries e
          FULL JOIN exits x USING (bucket_day, stage_key)
          FULL JOIN occ_d o ON o.bucket_day = COALESCE(e.bucket_day, x.bucket_day)
                           AND o.stage_key = COALESCE(e.stage_key, x.stage_key)
        )
        SELECT m.bucket_day,
               CAST(strftime(CAST(substr(m.bucket_day, 1, 10) AS DATE), '%Y%m%d') AS BIGINT)
                 AS bucket_n,
               ds.workflow_definition, ds.stage, ds.stage_n, m.stage_key,
               m.entry_count, m.exit_count, m.occupancy_peak, m.occupancy_avg
        FROM merged m
        JOIN dim_stage ds ON m.stage_key = ds.stage_key
        WHERE m.entry_count > 0 OR m.exit_count > 0
           OR m.occupancy_peak > 0 OR m.occupancy_avg > 0
        ORDER BY m.bucket_day, m.stage_key
    """,
)
def pipeline_throughput_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = synth_canon(spark, sf_dir)
    d = synth_derived(spark, sf_dir)
    rows, _counters = D.build_stage_throughput_daily(
        c["clean"], c["stages"], d["dim_stage"], d["occ"]
    )
    return rows.orderBy("bucket_day", "stage_key")


@register(
    "pipeline_stage_relation_diagnostic",
    "J8,A10,F12",
    "Stage-relation hypothesis diagnostic (reference: scripts/"
    "diagnose-stage-relations.mjs:70-140 set cardinalities, :412-466 "
    "scoreHypothesis): set intersections between timeslice step ids and the "
    "stage canon-id universe, a UUID harvest (F12) over synthesized nested "
    "attribute values intersected with stage page ids, and the rule-based "
    "classification, all as one summary row. Every set is computed "
    "distributed (distinct + broadcast semi/anti joins); only the final "
    "1-row combine crosses to the driver.",
    oracle=f"""
        WITH {_CANON_CTES},
        rel AS (
          SELECT DISTINCT u AS uuid FROM (
            SELECT {_sql_uuid32("substr(from_step_id, 16, 32)")} AS u
            FROM slices WHERE from_step_id IS NOT NULL
            UNION ALL
            SELECT source_page_id FROM slices
          )
        ),
        m AS (
          SELECT
            (SELECT COUNT(*) FROM slices) AS timeslices_total,
            (SELECT COUNT(*) FROM slices WHERE from_step_id IS NOT NULL)
              AS timeslices_with_from,
            (SELECT COUNT(*) FROM slices WHERE to_step_id IS NOT NULL)
              AS timeslices_with_to,
            (SELECT COUNT(DISTINCT t.from_step_id) FROM slices t
              JOIN stages g ON t.from_step_id = g.workflow_stage_id)
              AS resolved_from_count,
            (SELECT COUNT(DISTINCT t.to_step_id) FROM slices t
              JOIN stages g ON t.to_step_id = g.workflow_stage_id)
              AS resolved_to_count,
            (SELECT COUNT(DISTINCT t.from_step_id) FROM slices t
              WHERE t.from_step_id IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM stages g WHERE g.workflow_stage_id = t.from_step_id))
              AS unresolved_from_count,
            (SELECT COUNT(DISTINCT t.to_step_id) FROM slices t
              WHERE t.to_step_id IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM stages g WHERE g.workflow_stage_id = t.to_step_id))
              AS unresolved_to_count,
            (SELECT COUNT(*) FROM rel) AS relation_uuid_unique_count,
            (SELECT COUNT(*) FROM rel JOIN stages g ON rel.uuid = g.source_page_id)
              AS relation_stage_matches_count
        )
        SELECT CAST(timeslices_total AS BIGINT) AS timeslices_total,
               CAST(timeslices_with_from AS BIGINT) AS timeslices_with_from,
               CAST(timeslices_with_to AS BIGINT) AS timeslices_with_to,
               CAST(resolved_from_count AS BIGINT) AS resolved_from_count,
               CAST(resolved_to_count AS BIGINT) AS resolved_to_count,
               CAST(unresolved_from_count AS BIGINT) AS unresolved_from_count,
               CAST(unresolved_to_count AS BIGINT) AS unresolved_to_count,
               CAST(relation_uuid_unique_count AS BIGINT) AS relation_uuid_unique_count,
               CAST(relation_stage_matches_count AS BIGINT) AS relation_stage_matches_count,
               CASE
                 WHEN resolved_from_count = 0 AND resolved_to_count = 0
                      AND relation_stage_matches_count
                          <= GREATEST(1, CAST(floor(relation_uuid_unique_count * 0.01) AS BIGINT))
                   THEN 'likely_wrong_relation_properties_or_entity_domain'
                 WHEN resolved_from_count = 0 AND resolved_to_count = 0
                      AND relation_stage_matches_count > 0
                   THEN 'likely_missing_or_partial_workflow_stage_ingestion'
                 WHEN resolved_from_count > 0 OR resolved_to_count > 0
                   THEN 'partial_overlap'
                 ELSE 'undetermined'
               END AS classification
        FROM m
    """,
)
def pipeline_stage_relation_diagnostic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.extract import harvest_relation_uuids

    c = synth_canon(spark, sf_dir)
    slices, stages = c["slices"], c["stages"]

    # Synthesized nested attribute value per slice: the from-step's page UUID
    # (relation-shaped) plus the slice's own page UUID — a deterministic twin
    # of the reference's attribute walk input, harvested with the REAL F12
    # operator (render-to-JSON + one regexp pass, JVM-side).
    attr_value = F.struct(
        F.array(
            F.when(
                F.col("from_step_id").isNotNull(),
                _uuid_from_hex32(F.substring("from_step_id", 16, 32)),
            )
        ).alias("relation"),
        F.col("source_page_id").alias("page"),
    )
    harvested = (
        slices.select(F.explode(harvest_relation_uuids(attr_value)).alias("uuid"))
        .distinct()
    )

    stage_ids = stages.select(F.col("workflow_stage_id").alias("sid")).distinct()
    stage_pages = stages.select(F.col("source_page_id").alias("uuid")).distinct()
    from_set = (
        slices.filter(F.col("from_step_id").isNotNull())
        .select(F.col("from_step_id").alias("sid"))
        .distinct()
    )
    to_set = (
        slices.filter(F.col("to_step_id").isNotNull())
        .select(F.col("to_step_id").alias("sid"))
        .distinct()
    )

    def n(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(alias))

    # stage-id / page-id universes are tiny by construction → broadcast the
    # small side of every membership join
    counts = (
        n(slices.select("timeslice_id"), "timeslices_total")
        .crossJoin(n(slices.filter(F.col("from_step_id").isNotNull()), "timeslices_with_from"))
        .crossJoin(n(slices.filter(F.col("to_step_id").isNotNull()), "timeslices_with_to"))
        .crossJoin(n(from_set.join(F.broadcast(stage_ids), "sid", "semi"), "resolved_from_count"))
        .crossJoin(n(to_set.join(F.broadcast(stage_ids), "sid", "semi"), "resolved_to_count"))
        .crossJoin(n(from_set.join(F.broadcast(stage_ids), "sid", "anti"), "unresolved_from_count"))
        .crossJoin(n(to_set.join(F.broadcast(stage_ids), "sid", "anti"), "unresolved_to_count"))
        .crossJoin(n(harvested, "relation_uuid_unique_count"))
        .crossJoin(
            n(
                harvested.join(F.broadcast(stage_pages), "uuid", "semi"),
                "relation_stage_matches_count",
            )
        )
    )
    no_resolution = (F.col("resolved_from_count") == 0) & (
        F.col("resolved_to_count") == 0
    )
    near_zero_matches = F.col("relation_stage_matches_count") <= F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("relation_uuid_unique_count") * 0.01).cast("long"),
    )
    return counts.select(
        "*",
        F.when(
            no_resolution & near_zero_matches,
            F.lit("likely_wrong_relation_properties_or_entity_domain"),
        )
        .when(
            no_resolution & (F.col("relation_stage_matches_count") > 0),
            F.lit("likely_missing_or_partial_workflow_stage_ingestion"),
        )
        .when(
            (F.col("resolved_from_count") > 0) | (F.col("resolved_to_count") > 0),
            F.lit("partial_overlap"),
        )
        .otherwise(F.lit("undetermined"))
        .alias("classification"),
    )
