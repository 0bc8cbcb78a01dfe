"""Property tests for the warehouse-maintenance operators: salted join
equivalence under skew, and SCD2 merge row-class semantics."""

from __future__ import annotations

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.operators.scd import scd2_merge
from notion_timetracking_etl_spark.operators.skewjoin import salted_join


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((v is None, v) for v in t))


def test_salted_join_equals_plain_join_under_skew(spark):
    # 90% of fact rows share one hot key — the shape salting exists for
    fact = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("rid"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("attr")
    )
    for salt in (2, 8, 17):
        salted = salted_join(fact, dim, on="k", tiebreaker="rid", salt=salt)
        plain = fact.join(dim, "k")
        assert _rows(salted) == _rows(plain)
    # left joins preserve unmatched fact rows exactly once
    dim_small = dim.filter(F.col("k") < 5)
    salted_l = salted_join(
        fact, dim_small, on="k", tiebreaker="rid", salt=4, how="left"
    )
    assert _rows(salted_l) == _rows(fact.join(dim_small, "k", "left"))


def test_salted_join_spreads_hot_key_across_salt_buckets(spark):
    fact = spark.range(1000).select(F.lit(1).alias("k"), F.col("id").alias("rid"))
    salts = fact.select(F.pmod(F.hash("rid"), F.lit(8)).alias("s")).distinct()
    assert salts.count() == 8  # every sub-key receives rows


def test_scd2_merge_row_classes(spark):
    current = spark.createDataFrame(
        [
            # closed history passes through
            ("a", "A0", "t0", "t1"),
            # open rows
            ("a", "A1", "t1", None),
            ("b", "B1", "t1", None),
            ("c", "C1", "t1", None),
        ],
        "k string, title string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [
            ("a", "A2", "t2"),   # differing -> close + open
            ("b", "B1", "t2"),   # no-op -> kept open
            ("d", "D1", "t2"),   # new key -> open
        ],
        "k string, title string, effective_ts string",
    )
    merged = _rows(scd2_merge(current, updates, key="k", attrs=["title"]))
    assert sorted(merged, key=str) == sorted(
        [
            ("a", "A0", "t0", "t1"),
            ("a", "A1", "t1", "t2"),
            ("a", "A2", "t2", None),
            ("b", "B1", "t1", None),
            ("c", "C1", "t1", None),
            ("d", "D1", "t2", None),
        ],
        key=str,
    )


def test_scd2_merge_null_attr_transitions(spark):
    current = spark.createDataFrame(
        [("a", None, "t1", None), ("b", "B", "t1", None)],
        "k string, title string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [("a", None, "t2"), ("b", None, "t2")],
        "k string, title string, effective_ts string",
    )
    merged = _rows(scd2_merge(current, updates, key="k", attrs=["title"]))
    # null == null is a no-op (eqNullSafe); B -> null is a real change
    assert sorted(merged, key=str) == sorted(
        [
            ("a", None, "t1", None),
            ("b", "B", "t1", "t2"),
            ("b", None, "t2", None),
        ],
        key=str,
    )


def test_global_ranks_equal_builtin_window_functions(spark):
    # the distributed rank (range-repartition + offsets) must reproduce the
    # built-in no-partition window's row_number/ntile/percent_rank/cume_dist
    # bit-for-bit, across sizes that exercise every ntile remainder class
    from pyspark.sql import Window

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.rank import (
        ntile_from_rank,
        with_global_ranks,
    )

    for n_rows, k in [(1, 10), (7, 10), (100, 10), (1003, 7)]:
        df = spark.range(n_rows).select(
            (F.col("id") * 37 % 11).alias("v"), F.col("id").alias("uid")
        )
        ranked, n = with_global_ranks(df, [F.col("v").desc(), F.col("uid")])
        assert n == n_rows
        got = ranked.select(
            "uid",
            "rn",
            ntile_from_rank(F.col("rn"), n, k).alias("nt"),
            ((F.col("rn") - 1) / F.lit(max(n - 1, 1))).alias("pr"),
            (F.col("rn") / F.lit(n)).alias("cd"),
        )
        w = Window.orderBy(F.col("v").desc(), "uid")
        want = df.select(
            "uid",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.ntile(k).over(w).cast("bigint").alias("nt"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        assert _rows(got) == _rows(want)
        release_scoped_caches()


def test_global_prefix_sum_matches_builtin_running_total(spark):
    from pyspark.sql import Window

    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.rank import (
        with_global_prefix_sum,
    )

    for n in (1, 17, 1000):
        df = spark.range(n).select(
            F.col("id").alias("k"), ((F.col("id") * 13) % 7).alias("v")
        )
        got = with_global_prefix_sum(df, [F.col("k")], "v", out_col="run")
        w = (
            Window.orderBy("k")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = df.select("k", F.sum("v").over(w).cast("bigint").alias("run"))
        assert _rows(got.select("k", "run")) == _rows(want)
        release_scoped_caches()


def test_global_prefix_sum_all_null_partition(spark):
    """A range partition whose values are ALL NULL sums to NULL; the driver-
    side offset fold must treat it as 0, not raise TypeError. Keys are
    clustered so at least one partition is entirely NULL-valued."""
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches
    from notion_timetracking_etl_spark.operators.rank import (
        with_global_prefix_sum,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 50, F.col("id") % 5).alias("v"),
    )
    got = with_global_prefix_sum(
        df.filter(F.col("v").isNotNull() | (F.col("k") < 50)),
        [F.col("k")],
        "v",
        out_col="run",
        num_partitions=4,  # keys 0..49 (all NULL v) fill whole partitions
    )
    rows = {r["k"]: r["run"] for r in got.collect()}
    release_scoped_caches()
    # SQL running-total semantics: an all-NULL prefix is NULL, and the NULL
    # partition's offset contribution downstream is 0 (not a TypeError).
    assert rows[49] is None
    assert rows[99] == sum(i % 5 for i in range(50, 100))
