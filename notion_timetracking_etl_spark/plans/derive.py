"""The derive pipeline: canon tables → 7-table star schema.

Spark-first re-expression of the reference's analytical core
(src/sinks/pbi/refresh/derive/index.ts:94-297):

- All dim lookups (J1–J3) are broadcast hash joins — dims are small by
  construction, the fact table never shuffles for enrichment.
- The interval-point containment join (J4) is linearized: each interval
  explodes to its covered hour frames and the count-distinct becomes a plain
  hash aggregation on (hour, stage) — no frames×intervals blowup; at 100 TB
  the cost is O(interval-hours), shuffled once on the group keys.
- RI assertions (V4/J7) are anti-joins, all three in one job; run counters
  (V7) are one tagged-union aggregate, also one job.

:func:`run_derive` is one publish pass, as the reference's
derivePbiTableRows builds each table once for every sink: it materializes
the canon timeslices (read by the fact, frame-spine, occupancy and
throughput pipelines and by the counters) and then each of the seven tables,
in dependency order, as query-scoped checkpoints (``lifecycle.py``). Every
later reader — the dependent tables, the checks and every sink — reads the
materialized rows instead of re-running lineage, and
``release_scoped_caches()`` frees the whole pass when the publish ends.
The ``build_*`` functions stay lazy plans; the ``pipeline_*`` queries build
from them directly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from ..functions.datetimes import (
    iso_utc_millis,
    la_date_iso,
    la_snapshot_label,
    ole_serial,
    parse_iso,
    round_half_up,
)
from ..functions.strings import color_index, pad2, to_uuid_maybe
from ..lifecycle import query_scoped
from ..operators.intervals import DEFAULT_MAX_HOURS, explode_to_hour_frames

# Stage color palette (reference: derive/index.ts:55-92) — output data, the
# assignment rule is sha256(stage_key)[:8] % 36 (derive/index.ts:709-714).
COLOR_HEX_VALUES = [
    "#FF68A0", "#FF6C8B", "#FF7076", "#FF735F", "#FF7643", "#FF7800",
    "#EF8600", "#E19000", "#D59800", "#C89F00", "#BBA500", "#ABAC00",
    "#98B300", "#7BBB00", "#3DC500", "#00C55B", "#00C380", "#00C197",
    "#00BFA8", "#00BDB6", "#00BBC3", "#00B9CF", "#00B7DD", "#00B4EC",
    "#0EAFFF", "#51A9FF", "#6DA4FF", "#829EFF", "#9398FF", "#A491FF",
    "#B688FF", "#CA7BFF", "#E365FF", "#FF41F7", "#FF56D2", "#FF61B7",
]

EXPECTED_TABLE_NAMES = (
    "FactTimeslices",
    "DimWorkflow",
    "DimStage",
    "DimDate",
    "DimPlaybackFrame",
    "StageOccupancy_Hourly",
    "StageThroughput_Daily",
)


@dataclass
class DeriveResult:
    tables: dict[str, DataFrame]
    counters: dict[str, int] = field(default_factory=dict)


class ReferentialIntegrityError(ValueError):
    """V4 assert failure (reference: derive/index.ts:220-250)."""


def _stage_color(stage_key: Column) -> Column:
    """assignStageColorHex (derive/index.ts:709-714)."""
    palette = F.array(*[F.lit(c) for c in COLOR_HEX_VALUES])
    return F.element_at(palette, (color_index(stage_key, len(COLOR_HEX_VALUES)) + 1).cast("int"))


def _normalize_stage_number(n: Column) -> Column:
    """max(1, round(n)) default 1 (derive/index.ts:331-336)."""
    return F.coalesce(
        F.greatest(F.lit(1).cast("long"), round_half_up(n).cast("long")),
        F.lit(1).cast("long"),
    )


def _normalize_stage_number_or_null(n: Column) -> Column:
    """round(n) or null (derive/index.ts:338-343)."""
    return round_half_up(n).cast("long")


def _workflow_key_and_label(
    df: DataFrame, defs: DataFrame, canon_id_col: str
) -> DataFrame:
    """The shared key/label fallback chain (derive/index.ts:132-141,186-194):
    key = def.source_page_id ?? uuid(canon_id) ?? 'workflow_definition_unknown';
    label = def.page_title ?? labelByKey(key) ?? key.
    Adds columns ``workflow_definition_key`` / ``workflow_definition_label``.
    """
    def_lookup = defs.select(
        F.col("workflow_definition_id").alias("__def_canon_id"),
        F.col("source_page_id").alias("__def_page_id"),
        F.col("page_title").alias("__def_title"),
    )
    label_map = defs.select(
        F.col("source_page_id").alias("__wf_key"),
        F.coalesce("page_title", "source_page_id").alias("__wf_label"),
    )
    out = df.join(
        F.broadcast(def_lookup), F.col(canon_id_col) == F.col("__def_canon_id"), "left"
    )
    key = F.coalesce(
        F.col("__def_page_id"),
        to_uuid_maybe(F.col(canon_id_col)),
        F.lit("workflow_definition_unknown"),
    )
    out = out.withColumn("workflow_definition_key", key)
    out = out.join(
        F.broadcast(label_map),
        F.col("workflow_definition_key") == F.col("__wf_key"),
        "left",
    )
    out = out.withColumn(
        "workflow_definition_label",
        F.coalesce("__def_title", "__wf_label", "workflow_definition_key"),
    )
    return out.drop("__def_canon_id", "__def_page_id", "__def_title", "__wf_key", "__wf_label")


def _stage_lookup(stages: DataFrame, prefix: str) -> DataFrame:
    return stages.select(
        F.col("workflow_stage_id").alias(f"{prefix}_canon_id"),
        F.col("source_page_id").alias(f"{prefix}_stage_key"),
        F.col("stage_number").alias(f"{prefix}_stage_number"),
        F.col("stage_label").alias(f"{prefix}_stage_label"),
    )


def build_fact_timeslices(
    timeslices: DataFrame, defs: DataFrame, stages: DataFrame
) -> DataFrame:
    """FactTimeslices (derive/index.ts:131-182): J1/J2 broadcast enrichment +
    the 24-column projection with OLE serials and LA-day bucketing."""
    fact = _workflow_key_and_label(timeslices, defs, "workflow_definition_id")
    fact = fact.join(
        F.broadcast(_stage_lookup(stages, "from")),
        F.col("from_step_id") == F.col("from_canon_id"),
        "left",
    ).join(
        F.broadcast(_stage_lookup(stages, "to")),
        F.col("to_step_id") == F.col("to_canon_id"),
        "left",
    )
    to_datetime_raw = F.coalesce("ended_at", "started_at", "last_edited_time", "created_time")
    return fact.select(
        F.coalesce("page_title", "timeslice_id").alias("Name"),
        F.coalesce(to_uuid_maybe(F.col("from_event_id")), F.col("from_event_id")).alias(
            "From Event"
        ),
        F.col("from_status").alias("From Status"),
        _normalize_stage_number_or_null(F.col("from_stage_number")).alias("From Step N"),
        F.col("from_task_name").alias("From Task Name"),
        F.col("from_task_page_id").alias("From Task Page ID"),
        ole_serial(parse_iso(F.col("started_at"))).alias("From Time"),
        F.col("from_stage_label").alias("From Workflow Step"),
        round_half_up(F.col("duration_seconds").cast("double") / 60.0)
        .cast("long")
        .alias("Minutes Diff"),
        F.coalesce("page_title", "timeslice_id").alias("Slice Label"),
        F.coalesce(to_uuid_maybe(F.col("to_event_id")), F.col("to_event_id")).alias(
            "To Event"
        ),
        F.col("to_status").alias("To Status"),
        _normalize_stage_number_or_null(F.col("to_stage_number")).alias("To Step N"),
        F.col("to_task_name").alias("To Task Name"),
        F.col("to_task_page_id").alias("To Task Page ID"),
        ole_serial(parse_iso(F.col("ended_at"))).alias("To Time"),
        F.col("to_stage_label").alias("To Workflow Step"),
        F.col("workflow_definition_label").alias("Workflow Definition"),
        F.coalesce(
            to_uuid_maybe(F.col("workflow_record_id")), F.col("workflow_record_id")
        ).alias("Workflow Record"),
        F.col("workflow_type").alias("Workflow Type"),
        iso_utc_millis(parse_iso(to_datetime_raw)).alias("To DateTime"),
        la_date_iso(parse_iso(to_datetime_raw)).alias("To Date"),
        F.col("from_stage_key").alias("from_stage_key"),
        F.col("to_stage_key").alias("to_stage_key"),
    )


def build_dim_workflow(defs: DataFrame) -> DataFrame:
    """DimWorkflow (derive/index.ts:209-214)."""
    return (
        defs.select(
            F.col("source_page_id").alias("workflow_definition_key"),
            F.coalesce("page_title", "source_page_id").alias("workflow_definition"),
        )
        .dropDuplicates(["workflow_definition_key"])
        .orderBy("workflow_definition_key")
    )


def build_dim_stage(stages: DataFrame, defs: DataFrame) -> DataFrame:
    """DimStage (derive/index.ts:184-207,216-218): last-write-wins by stage_key,
    sha-derived color, 'NN. label' display label."""
    enriched = _workflow_key_and_label(stages, defs, "workflow_definition_id")
    stage_n = _normalize_stage_number(F.col("stage_number"))
    return (
        enriched.select(
            F.col("source_page_id").alias("stage_key"),
            _stage_color(F.col("source_page_id")).alias("color_hex"),
            F.col("workflow_definition_key"),
            F.col("workflow_definition_label").alias("workflow_definition"),
            F.coalesce("stage_label", "source_page_id").alias("stage"),
            stage_n.alias("stage_n"),
            F.concat(
                pad2(stage_n), F.lit(". "), F.coalesce("stage_label", "source_page_id")
            ).alias("Stage Label"),
        )
        .dropDuplicates(["stage_key"])
        .orderBy("stage_key")
    )


def build_dim_date(fact: DataFrame) -> DataFrame:
    """DimDate (derive/index.ts:378-414): UTC day spine over fact 'To Date'
    range; month/day names at LA-noon reference (same calendar day)."""
    bounds = fact.filter(
        F.col("To Date").isNotNull() & (F.length("To Date") > 0)
    ).agg(
        F.min(F.to_date(F.substring("To Date", 1, 10))).alias("lo"),
        F.max(F.to_date(F.substring("To Date", 1, 10))).alias("hi"),
    )
    spine = bounds.filter(F.col("lo").isNotNull()).select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    return spine.select(
        F.concat(F.date_format("d", "yyyy-MM-dd"), F.lit("T00:00:00.000Z")).alias("Date"),
        F.date_format("d", "yyyyMMdd").cast("long").alias("date_key"),
        F.year("d").cast("long").alias("year"),
        F.month("d").cast("long").alias("month_num"),
        F.date_format("d", "MMM").alias("month_name"),
        F.dayofmonth("d").cast("long").alias("day_of_month"),
        F.date_format("d", "EEE").alias("day_name"),
    ).orderBy("date_key")


def build_dim_playback_frame(timeslices: DataFrame) -> DataFrame:
    """DimPlaybackFrame (derive/index.ts:416-450): hourly frames over the
    min..max of all candidate timestamps; frame_n is hour-delta arithmetic."""
    candidates = timeslices.select(
        F.explode(
            F.array(
                parse_iso(F.col("started_at")),
                parse_iso(F.col("ended_at")),
                parse_iso(F.col("last_edited_time")),
                parse_iso(F.col("created_time")),
            )
        ).alias("ts")
    ).filter(F.col("ts").isNotNull())
    bounds = candidates.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.filter(F.col("lo").isNotNull()).select(
        "lo", F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    return spine.select(
        ((F.unix_timestamp("h") - F.unix_timestamp("lo")) / 3600)
        .cast("long")
        .alias("frame_n"),
        iso_utc_millis(F.col("h")).alias("frame_datetime"),
        la_date_iso(F.col("h")).alias("frame_date"),
    ).orderBy("frame_n")


def _stage_intervals(timeslices: DataFrame, stages: DataFrame) -> DataFrame:
    """Valid [start,end] intervals keyed by the from-step's stage_key
    (derive/index.ts:464-491). Invalid rows are counted by the caller."""
    with_key = timeslices.join(
        F.broadcast(
            stages.select(
                F.col("workflow_stage_id").alias("__sid"),
                F.col("source_page_id").alias("stage_key"),
            )
        ),
        F.col("from_step_id") == F.col("__sid"),
        "inner",
    )
    return with_key.select(
        "stage_key",
        F.col("source_page_id").alias("workflow_record"),
        parse_iso(F.col("started_at")).alias("start_ts"),
        parse_iso(F.col("ended_at")).alias("end_ts"),
    )


def build_stage_occupancy_hourly(
    timeslices: DataFrame,
    stages: DataFrame,
    dim_stage: DataFrame,
    frames: DataFrame,
    approx_rsd: float | None = None,
    max_interval_hours: int = DEFAULT_MAX_HOURS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """StageOccupancy_Hourly (derive/index.ts:452-530).

    Returns (rows, skipped_intervals, clamped_intervals) — the latter two
    feed V7 counters. Strategy: explode each valid interval to its covered
    on-the-hour frames (start<=h<=end ⇔ h in [ceil_h(start), floor_h(end)]),
    aggregate exact distinct workflow_records, then decorate from broadcast
    DimStage and the frame spine. Linear in interval-hours; no
    frames×intervals product. Interval length is capped at
    ``max_interval_hours`` (operators/intervals.py): one corrupt far-future
    ``end_ts`` costs 10k rows, not millions, and the clamp is counted, not
    silent.

    ``approx_rsd`` is the documented 100 TB variant of A1 (SURVEY §2.4): pass
    a relative standard deviation (e.g. 0.05) to switch the per-(frame, stage)
    distinct count to HyperLogLog++ ``approx_count_distinct`` — constant
    sketch memory per group and a map-side-combinable partial, where exact
    ``countDistinct`` must shuffle every distinct (group, record) pair.
    ``None`` (default) keeps the exact, oracle-hash-matching semantics.
    """
    iv = _stage_intervals(timeslices, stages)
    invalid = iv.filter(
        F.col("start_ts").isNull()
        | F.col("end_ts").isNull()
        | (F.col("end_ts") < F.col("start_ts"))
    )
    valid = iv.filter(
        F.col("start_ts").isNotNull()
        & F.col("end_ts").isNotNull()
        & (F.col("end_ts") >= F.col("start_ts"))
    )
    exploded, clamped = explode_to_hour_frames(
        valid, ("stage_key", "workflow_record"), max_hours=max_interval_hours
    )
    distinct_records = (
        F.countDistinct("workflow_record")
        if approx_rsd is None
        else F.approx_count_distinct("workflow_record", rsd=approx_rsd)
    )
    occ = exploded.groupBy("h", "stage_key").agg(
        distinct_records.alias("item_count")
    )
    frame_keyed = frames.select(
        F.to_timestamp(F.regexp_replace("frame_datetime", "Z$", "")).alias("h"),
        "frame_n",
        "frame_datetime",
        "frame_date",
    )
    rows = (
        occ.join(frame_keyed, "h", "inner")
        .join(F.broadcast(dim_stage), "stage_key", "inner")
        .select(
            "frame_n",
            F.col("frame_datetime").alias("snapshot_dt"),
            F.col("frame_date").alias("snapshot_day"),
            la_snapshot_label(F.col("h")).alias("snapshot_label"),
            "workflow_definition",
            "stage",
            "stage_n",
            "stage_key",
            "item_count",
            F.col("item_count").alias("Objective Count"),
        )
        .orderBy("frame_n", "stage_key")
    )
    return rows, invalid, clamped


def build_stage_throughput_daily(
    timeslices: DataFrame,
    stages: DataFrame,
    dim_stage: DataFrame,
    occupancy_hourly: DataFrame,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """StageThroughput_Daily (derive/index.ts:532-643).

    entries/exits per LA-day × from-stage (A2), the stage-1 entry-edge rule
    (from_step null, to_step→stage_n==1: entry on the event day), occupancy
    peak/avg per day (A3), key-union full-outer merge (J5), DimStage inner
    join (J6), all-zero suppression (P7).
    Returns (rows, counter_dfs) where counter_dfs feed the V7 counters.
    """
    from_keyed = timeslices.join(
        F.broadcast(
            stages.select(
                F.col("workflow_stage_id").alias("__sid"),
                F.col("source_page_id").alias("stage_key"),
            )
        ),
        F.col("from_step_id") == F.col("__sid"),
        "inner",
    )
    entries_a = (
        from_keyed.withColumn("bucket_day", la_date_iso(parse_iso(F.col("started_at"))))
        .filter(F.col("bucket_day").isNotNull())
        .groupBy("bucket_day", "stage_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exits = (
        from_keyed.withColumn("bucket_day", la_date_iso(parse_iso(F.col("ended_at"))))
        .filter(F.col("bucket_day").isNotNull())
        .groupBy("bucket_day", "stage_key")
        .agg(F.count(F.lit(1)).alias("exit_count"))
    )

    # Stage-1 entry edges (derive/index.ts:571-591)
    to_stage = stages.select(
        F.col("workflow_stage_id").alias("__tid"),
        F.col("source_page_id").alias("stage_key"),
        F.col("stage_number").alias("__to_n"),
    )
    edge_base = (
        timeslices.filter(F.col("from_step_id").isNull() & F.col("to_step_id").isNotNull())
        .join(F.broadcast(to_stage), F.col("to_step_id") == F.col("__tid"), "inner")
        .withColumn("__to_stage_n", _normalize_stage_number_or_null(F.col("__to_n")))
    )
    stage1 = edge_base.filter(F.col("__to_stage_n") == 1).withColumn(
        "bucket_day",
        la_date_iso(
            parse_iso(
                F.coalesce("ended_at", "started_at", "last_edited_time", "created_time")
            )
        ),
    )
    edge_counted = stage1.filter(F.col("bucket_day").isNotNull())
    edge_skipped = stage1.filter(F.col("bucket_day").isNull())
    non_stage1 = edge_base.filter(
        F.col("__to_stage_n").isNull() | (F.col("__to_stage_n") != 1)
    )
    entries_b = edge_counted.groupBy("bucket_day", "stage_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    entries = (
        entries_a.unionByName(entries_b)
        .groupBy("bucket_day", "stage_key")
        .agg(F.sum("n").cast("long").alias("entry_count"))
    )

    occ_daily = occupancy_hourly.groupBy(
        F.col("snapshot_day").alias("bucket_day"), "stage_key"
    ).agg(
        F.max("item_count").alias("occupancy_peak"),
        (F.sum("item_count").cast("double") / F.count(F.lit(1))).alias("occupancy_avg"),
    )

    merged = (
        entries.join(exits, ["bucket_day", "stage_key"], "full_outer")
        .join(occ_daily, ["bucket_day", "stage_key"], "full_outer")
        .na.fill(
            {"entry_count": 0, "exit_count": 0, "occupancy_peak": 0, "occupancy_avg": 0.0}
        )
    )
    rows = (
        merged.join(F.broadcast(dim_stage), "stage_key", "inner")
        .filter(
            (F.col("entry_count") > 0)
            | (F.col("exit_count") > 0)
            | (F.col("occupancy_peak") > 0)
            | (F.col("occupancy_avg") > 0)
        )
        .select(
            "bucket_day",
            F.date_format(F.to_date(F.substring("bucket_day", 1, 10)), "yyyyMMdd")
            .cast("long")
            .alias("bucket_n"),
            "workflow_definition",
            "stage",
            "stage_n",
            "stage_key",
            "entry_count",
            F.coalesce("exit_count", F.lit(0)).cast("long").alias("exit_count"),
            F.col("occupancy_peak").cast("long").alias("occupancy_peak"),
            "occupancy_avg",
        )
        .orderBy("bucket_day", "stage_key")
    )
    counters = {
        "entry_edge_counted": edge_counted,
        "entry_edge_skipped_missing_timestamp": edge_skipped,
        "non_stage1_entry_edge_observed": non_stage1,
    }
    return rows, counters


def _tagged_union(legs: list[DataFrame]) -> DataFrame:
    """Tag each leg with its position ``tag`` and union them, so one
    aggregate over the union answers every leg in one job."""
    return reduce(
        DataFrame.unionByName,
        [leg.withColumn("tag", F.lit(i)) for i, leg in enumerate(legs)],
    )


RI_SAMPLE = 10


def assert_referential_integrity(
    fact: DataFrame, dim_workflow: DataFrame, dim_stage: DataFrame,
    defs: DataFrame, stages: DataFrame,
) -> None:
    """V4 (derive/index.ts:220-250): raise with ≤10 offender sample.

    The three anti-joins run as one job: a tagged union of their distinct
    offending keys, cut to the ``RI_SAMPLE`` smallest per check. The first
    failing check in reference order raises: fact stage keys, then
    DimWorkflow keys, then DimStage keys."""
    stage_keys = stages.select(F.col("source_page_id").alias("k"))
    def_keys = defs.select(F.col("source_page_id").alias("k"))
    fact_keys = (
        fact.select(F.col("from_stage_key").alias("k"))
        .unionByName(fact.select(F.col("to_stage_key").alias("k")))
        .filter(F.col("k").isNotNull() & (F.length("k") > 0))
    )
    offending = _tagged_union([
        fact_keys.join(stage_keys, "k", "left_anti"),
        dim_workflow.select(F.col("workflow_definition_key").alias("k"))
        .join(def_keys, "k", "left_anti"),
        dim_stage.select(F.col("stage_key").alias("k"))
        .join(stage_keys, "k", "left_anti"),
    ]).distinct()
    sample = sorted(
        offending.withColumn(
            "rn", F.row_number().over(Window.partitionBy("tag").orderBy("k"))
        )
        .filter(F.col("rn") <= RI_SAMPLE)
        .collect(),
        key=lambda r: r["rn"],
    )
    for tag, message in enumerate((
        "FactTimeslices references stage keys not present in workflowStages",
        "DimWorkflow contains keys not present in workflowDefinitions",
        "DimStage contains keys not present in workflowStages",
    )):
        keys = [r["k"] for r in sample if r["tag"] == tag]
        if keys:
            raise ReferentialIntegrityError(f"{message}: {', '.join(keys)}")


def _count_rows(frames: dict[str, DataFrame]) -> dict[str, int]:
    """The row count of every frame, in one job (one conditional count per
    tag over their tagged union)."""
    legs = _tagged_union([df.select() for df in frames.values()])
    row = legs.agg(
        *[F.count(F.when(F.col("tag") == i, 1)) for i in range(len(frames))]
    ).first()
    return {name: int(n) for name, n in zip(frames, row)}


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` computed once now, as a query-scoped checkpoint: its readers
    scan the stored rows (partitions and row order kept), and
    ``release_scoped_caches()`` frees them. Unlike ``persist()``, the
    checkpoint shares no CacheManager entry with an equal plan another
    scope cached, so the release frees only this pass; unlike
    ``flat_checkpoint``, it keeps the size estimate, so joins on it still
    broadcast."""
    return query_scoped(df.localCheckpoint(eager=True))


def run_derive(
    workflow_definitions: DataFrame,
    workflow_stages: DataFrame,
    timeslices: DataFrame,
    check_integrity: bool = True,
) -> DeriveResult:
    """Full derive (derive/index.ts:94-297): 7 tables + V7 counters, in one
    query-scoped pass (module docstring). The caller frees it with
    ``release_scoped_caches()`` once every sink has read the tables."""
    timeslices = _materialized(timeslices)

    fact = _materialized(
        build_fact_timeslices(timeslices, workflow_definitions, workflow_stages)
    )
    dim_workflow = _materialized(build_dim_workflow(workflow_definitions))
    dim_stage = _materialized(build_dim_stage(workflow_stages, workflow_definitions))
    if check_integrity:
        assert_referential_integrity(
            fact, dim_workflow, dim_stage, workflow_definitions, workflow_stages
        )
    dim_date = _materialized(build_dim_date(fact))
    frames = _materialized(build_dim_playback_frame(timeslices))
    occupancy, skipped_iv, clamped_iv = build_stage_occupancy_hourly(
        timeslices, workflow_stages, dim_stage, frames
    )
    occupancy = _materialized(occupancy)
    throughput, edge_dfs = build_stage_throughput_daily(
        timeslices, workflow_stages, dim_stage, occupancy
    )
    throughput = _materialized(throughput)

    counters = _count_rows({
        "occupancy_skipped_missing_or_invalid_interval": skipped_iv,
        "occupancy_clamped_overlong_interval": clamped_iv,
        **edge_dfs,
    })
    tables = {
        "FactTimeslices": fact,
        "DimWorkflow": dim_workflow,
        "DimStage": dim_stage,
        "DimDate": dim_date,
        "DimPlaybackFrame": frames,
        "StageOccupancy_Hourly": occupancy,
        "StageThroughput_Daily": throughput,
    }
    # V5 table-set exactness (derive/index.ts:691-703)
    assert tuple(tables) == EXPECTED_TABLE_NAMES
    return DeriveResult(tables=tables, counters=counters)
