"""Unit tests for the as-of join, banded range join, Misra-Gries
heavy-hitter and bottom-k operators (the temporal/sketch extension family).

Each operator is checked against a brute-force/naive formulation on small
hand-built frames — semantics first — plus the properties that make them safe
at scale: tie determinism, partitioning independence, and exact-superset
candidate guarantees.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.operators.asof import asof_join
from notion_timetracking_etl_spark.operators.rangejoin import band_join
from notion_timetracking_etl_spark.operators.sketch import (
    bottom_k,
    heavy_hitters,
    misra_gries_summary,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


TS = "2024-01-01 00:{:02d}:{:02d}"


def t(m, s=0):
    import datetime

    return datetime.datetime(2024, 1, 1, 0, m, s)


# ---------------------------------------------------------------- as-of join


def test_asof_backward_strict_basic(spark):
    left = _events(spark, [(1, 7, t(10)), (2, 7, t(20)), (3, 8, t(5))])
    right = _events(spark, [(100, 7, t(9)), (101, 7, t(15)), (102, 9, t(1))])
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", ["event_id"], tiebreak="event_id"
    )
    got = {r.event_id: r.asof_event_id for r in out.collect()}
    # user 7: ts=10 matches right@9; ts=20 matches right@15. user 8: no match.
    assert got == {1: 100, 2: 101, 3: None}


def test_asof_strict_excludes_equal_ts_inclusive_takes_it(spark):
    left = _events(spark, [(1, 7, t(10))])
    right = _events(spark, [(100, 7, t(10))])
    strict = asof_join(
        left, right, ["user_id"], "ts", "ts", ["event_id"], tiebreak="event_id"
    )
    assert strict.collect()[0].asof_event_id is None
    incl = asof_join(
        left,
        right,
        ["user_id"],
        "ts",
        "ts",
        ["event_id"],
        tiebreak="event_id",
        strict=False,
    )
    assert incl.collect()[0].asof_event_id == 100


def test_asof_tie_on_right_ts_takes_largest_tiebreak(spark):
    left = _events(spark, [(1, 7, t(10))])
    right = _events(spark, [(100, 7, t(9)), (105, 7, t(9)), (90, 7, t(9))])
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", ["event_id"], tiebreak="event_id"
    )
    assert out.collect()[0].asof_event_id == 105


def test_asof_matches_naive_on_testdata(spark, sf_dir):
    from notion_timetracking_etl_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    got = {
        r.pid: r.asof_event_id
        for r in asof_join(
            purchases, views, ["user_id"], "ts", "ts", ["event_id"], "event_id"
        ).collect()
    }
    # naive: max-ts view strictly before each purchase, built driver-side
    vrows = views.collect()
    by_user: dict[int, list] = {}
    for v in vrows:
        by_user.setdefault(v.user_id, []).append(v)
    for p in purchases.collect():
        prior = [v for v in by_user.get(p.user_id, []) if v.ts < p.ts]
        want = (
            max(prior, key=lambda v: (v.ts, v.event_id)).event_id if prior else None
        )
        assert got[p.pid] == want


# ----------------------------------------------------------- banded range join


def test_band_join_matches_naive_predicate_join(spark, sf_dir):
    from notion_timetracking_etl_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    activity = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("a_id"), "user_id", F.col("ts").alias("a_ts")
    )
    banded = band_join(errors, activity, ["user_id"], "ts", "a_ts", -600, 0)
    naive = errors.join(activity, "user_id").filter(
        (F.col("a_ts") >= F.col("ts") - F.expr("INTERVAL 600 SECOND"))
        & (F.col("a_ts") < F.col("ts"))
    )
    b = {(r.event_id, r.a_id) for r in banded.collect()}
    n = {(r.event_id, r.a_id) for r in naive.collect()}
    assert b == n and len(b) > 0


def test_band_join_window_edges_half_open(spark):
    left = _events(spark, [(1, 7, t(10))])
    right = spark.createDataFrame(
        [
            (200, 7, t(0)),  # exactly ts-600: included (>= lower)
            (201, 7, t(9, 59)),  # inside
            (202, 7, t(10)),  # exactly ts: excluded (< upper)
            (203, 7, t(0) .replace(second=0, microsecond=0)),  # dup guard row
        ],
        "a_id long, user_id long, a_ts timestamp",
    ).filter(F.col("a_id") != 203)
    out = band_join(left, right, ["user_id"], "ts", "a_ts", -600, 0)
    assert {r.a_id for r in out.collect()} == {200, 201}


def test_band_join_emits_each_pair_once_and_left_outer_pads(spark):
    left = _events(spark, [(1, 7, t(10)), (2, 9, t(10))])
    right = spark.createDataFrame(
        [(300, 7, t(5))], "a_id long, user_id long, a_ts timestamp"
    )
    inner = band_join(left, right, ["user_id"], "ts", "a_ts", -600, 0)
    assert [(r.event_id, r.a_id) for r in inner.collect()] == [(1, 300)]
    louter = band_join(left, right, ["user_id"], "ts", "a_ts", -600, 0, "left_outer")
    rows = {r.event_id: r.a_id for r in louter.collect()}
    assert rows == {1: 300, 2: None} and louter.count() == 2


# ------------------------------------------------------------- heavy hitters


def test_misra_gries_candidates_are_superset_of_true_heavies(spark):
    # 60 'a', 25 'b', rest singletons → with k=4, heavy (>n/4) is only 'a'
    items = ["a"] * 60 + ["b"] * 25 + [f"x{i}" for i in range(15)]
    df = spark.createDataFrame([(i,) for i in items], "item string")
    summary = misra_gries_summary(df, "item", 4).collect()
    cands = {r.item for r in summary if r.item is not None}
    assert "a" in cands
    # sentinel rows carry the exact per-partition counts — one MG pass yields n
    assert sum(r.n_part for r in summary if r.item is None) == len(items)
    # at most k candidate rows per partition
    n_parts = df.rdd.getNumPartitions()
    assert len(cands) <= 4 * n_parts


def test_heavy_hitters_exact_and_partition_independent(spark):
    items = ["a"] * 60 + ["b"] * 25 + [f"x{i}" for i in range(15)]
    df = spark.createDataFrame([(i,) for i in items], "item string")
    for parts in (1, 3, 7):
        got = {
            (r.item, r.cnt)
            for r in heavy_hitters(df.repartition(parts), "item", 4).collect()
        }
        assert got == {("a", 60)}  # 60*4 > 100, 25*4 !> 100


def test_heavy_hitters_threshold_is_strict(spark):
    # 25 of each of 4 items: count*k == n exactly → nothing is heavy at k=4
    items = ["a"] * 25 + ["b"] * 25 + ["c"] * 25 + ["d"] * 25
    df = spark.createDataFrame([(i,) for i in items], "item string")
    assert heavy_hitters(df, "item", 4).count() == 0


# ---------------------------------------------------------------------------
# In-query audit flags for the approx queries must have a failure mode
# (r3 verdict: "today there is none"; r8: the audits moved INTO the
# registered queries so the driver hash-checks them)
# ---------------------------------------------------------------------------


def test_bitmap_user_activity_multiword_parity(spark, tmp_path):
    # r6 task #7: spans far beyond the old 63-day single-word contract
    # must stay hash-identical across engines AND match hand-computed
    # ground truth, including consecutive pairs that cross word boundaries.
    import datetime as dt

    import duckdb

    from notion_timetracking_etl_spark.queries import REGISTRY
    from tests.parity import _canonical

    base = dt.datetime(2024, 1, 1, 12)
    rows = []

    def ev(u, day):
        rows.append(
            (len(rows) + 1, base + dt.timedelta(days=day), u, "a", 1.0, "{}")
        )

    for d in (0, 1, 62, 63):  # user 1: within pair (0,1) + boundary (62,63)
        ev(1, d)
    for d in (125, 126):  # user 2: boundary pair across words 1 -> 2
        ev(2, d)
    for d in (62, 188):  # user 3: same bit positions, NON-adjacent words
        ev(3, d)
    for d in range(60, 130):  # user 4: a 70-day run crossing two boundaries
        ev(4, d)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    spec = REGISTRY["bitmap_user_activity"]
    sdf = spec.spark(spark, str(tmp_path))
    s_rows = [tuple(r) for r in sdf.collect()]
    s = _canonical(s_rows, [c.lower() for c in sdf.columns])
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT *"
        f" FROM read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    res = con.execute(spec.oracle)
    d_cols = [c[0].lower() for c in res.description]
    assert s == _canonical(res.fetchall(), d_cols)
    got = {
        r.active_days: (r.n_users, r.total_consec_pairs)
        for r in sdf.collect()
    }
    assert got[4] == (1, 2)  # user 1
    assert got[2] == (2, 1)  # user 2 (one boundary pair) + user 3 (none)
    assert got[70] == (1, 69)  # user 4's unbroken run


def test_quantile_rank_flags_accept_sketch_and_reject_broken(spark, sf_dir):
    # r8: the rank-error audit is now IN the registered query (the flags
    # are the hashed output). A healthy sketch passes; a deliberately
    # shifted estimate must flip exactly its own flag.
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.sketches import (
        APPROX_PCT_ACCURACY,
        quantile_rank_flags,
    )
    from notion_timetracking_etl_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events")
    pct = F.expr(
        f"approx_percentile(value, array(0.5, 0.9, 0.99), {APPROX_PCT_ACCURACY})"
    )
    summ = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("value").cast("bigint").alias("n_vals"),
        pct.getItem(0).alias("p50"),
        pct.getItem(1).alias("p90"),
        pct.getItem(2).alias("p99"),
    )
    ok = quantile_rank_flags(ev, summ).collect()
    assert ok
    for r in ok:
        assert r.p50_in_bound and r.p90_in_bound and r.p99_in_bound, r
    # a broken sketch: p50 shifted far outside any rank-error band
    broken = summ.withColumn("p50", F.col("p50") * 10 + 100)
    bad = quantile_rank_flags(ev, broken).collect()
    assert all(not r.p50_in_bound for r in bad), bad
    assert all(r.p90_in_bound and r.p99_in_bound for r in bad), bad


def test_occupancy_hll_flag_accepts_healthy_and_rejects_broken(spark):
    # the 4-sigma predicate itself: floor of 2 in the sparse regime,
    # 4*rsd*exact beyond it (rsd=0.05 -> +-20 at exact=100)
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.occupancy import (
        hll_within_bound,
    )

    df = spark.createDataFrame(
        [(100, 100), (100, 119), (100, 121), (1, 3), (1, 4), (0, 2), (0, 3)],
        "exact long, est long",
    )
    got = {
        (r.exact, r.est): r.ok
        for r in df.select(
            "exact",
            "est",
            hll_within_bound(F.col("est"), F.col("exact")).alias("ok"),
        ).collect()
    }
    assert got[(100, 100)] and got[(100, 119)] and not got[(100, 121)]
    assert got[(1, 3)] and not got[(1, 4)]
    assert got[(0, 2)] and not got[(0, 3)]


class _GroupState:
    """The slice of pyspark's GroupState a streaming state function reads."""

    def __init__(self):
        self.get = None

    @property
    def exists(self):
        return self.get is not None

    def update(self, value):
        self.get = value


def test_bottom_k_breaks_hash_collisions_on_value(spark):
    """Rows that share (group, h) but differ in value: under the quantile
    sample's (h, value) order the lowest values survive, whatever the input
    row order and partition count — in the batch operator and in the
    streaming state function under three micro-batch splits."""
    import random

    import pandas as pd

    from notion_timetracking_etl_spark.streaming.sketch import _bottomk_update_fn

    rows = [
        ("a", 5, 3.0), ("a", 5, 1.0), ("a", 5, 2.0), ("a", 7, 0.5),
        ("a", 9, 0.1), ("b", 4, 8.0), ("b", 4, 6.0), ("b", 6, 7.0),
    ]
    expected = {
        1: {("a", 5, 1.0), ("b", 4, 6.0)},
        2: {("a", 5, 1.0), ("a", 5, 2.0), ("b", 4, 6.0), ("b", 4, 8.0)},
    }
    orders = [rows, rows[::-1]] + [
        random.Random(seed).sample(rows, len(rows)) for seed in (1, 2)
    ]
    for ordered in orders:
        df = spark.createDataFrame(ordered, "g string, h long, value double")
        for n_parts in (1, 4):
            parts = df.repartition(n_parts)
            for k, want in expected.items():
                got = bottom_k(parts, ["g"], k, order=("h", "value"))
                assert {tuple(r) for r in got.collect()} == want, (
                    ordered, n_parts, k,
                )
        for batch_rows in (len(ordered), 3, 1):
            for k, want in expected.items():
                update, states = _bottomk_update_fn(k), {}
                for i in range(0, len(ordered), batch_rows):
                    batch = pd.DataFrame(
                        ordered[i:i + batch_rows], columns=["g", "h", "value"]
                    )
                    for g, pdf in batch.groupby("g"):
                        state = states.setdefault(g, _GroupState())
                        emitted = pd.concat(list(update((g,), iter([pdf]), state)))
                    assert len(emitted) <= k
                got = {
                    (g, h, v) for g, st in states.items() for h, v in zip(*st.get)
                }
                assert got == want, (ordered, batch_rows, k)
