"""TPC-H canon completion (engine extension): the remaining classic query
shapes — EXISTS/NOT-EXISTS semi-joins, correlated scalar subqueries,
conditional-share ratios, HAVING-gated IN subqueries, disjunctive bracket
predicates, left-join distributions — adapted to the testdata star schema
(which has no partsupp/commitdate/receiptdate/phone columns; each adaptation
keeps the canonical PLAN shape, which is the point).

Scale posture: nation/region and region-filtered supplier sets broadcast
(bounded dims); customer/part joins are left to AQE's runtime size decision
rather than force-broadcast (at TPC-H SF100k those are billion-row tables);
lineitem⋈orders is always the one shuffled fact join; every scalar subquery
is a 1-row aggregate broadcast, every correlated subquery is decorrelated
into one grouped aggregate + an equi-join (never a per-row re-execution).
Ratio outputs divide two decimal-exact sums with a single IEEE divide so both
engines produce bit-identical doubles (helpers.py convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..lifecycle import scoped_persist
from ..sources.tpch import load_table
from .helpers import dsum, dsum_sql, ordered_small
from .registry import register

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _eu_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-filtered supplier set with nation name — a bounded broadcast
    build side (region prunes nations, nations prune suppliers)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return load_table(spark, sf_dir, "supplier").join(
        F.broadcast(eu_nations), F.col("s_nationkey") == F.col("n_nationkey")
    )


_EU_SUPP_SQL = """
    SELECT s.*, n.n_name FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
"""


@register(
    "tpch_order_priority_waiting",
    "J8-ext,A7",
    "TPC-H Q4 shape: orders per priority that had at least one lineitem "
    "shipped more than 60 days after the order date — EXISTS rewritten by "
    "Catalyst as a left-semi hash join on orderkey with the non-equi "
    "date condition evaluated join-side. The order date window prunes the "
    "orders scan; the semi join never duplicates orders however many "
    "lineitems match.",
    oracle="""
        SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-07-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
)
def tpch_order_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    waited = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return ordered_small(
        waited.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count")
        ),
        "o_orderpriority",
    )


@register(
    "tpch_revenue_forecast",
    "A8,P-ext",
    "TPC-H Q6 shape: the what-if discount-elimination revenue — a pure "
    "scan-side query where ALL THREE predicates (ship-year, discount band, "
    "quantity cap) must reach the parquet scan and the single decimal-exact "
    "sum partial-aggregates map-side to one row per partition.",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def tpch_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


@register(
    "tpch_volume_shipping",
    "J1,J2,A3",
    "TPC-H Q7 shape: bilateral trade volume between two nations by ship "
    "year — the supplier AND customer nation chains resolve via two "
    "broadcast lookups of the same 25-row dim, the directed-pair "
    "disjunction prunes after both lookups, and the only shuffle is "
    "lineitem⋈orders (customer resolved by AQE's size call).",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               {dsum_sql(_REVENUE.replace("l_", "l.l_"), "revenue")}
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("cn_key"),
                                F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return ordered_small(
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        ).agg(dsum(F.expr(_REVENUE)).alias("revenue")),
        "supp_nation",
        "cust_nation",
        "l_year",
    )


@register(
    "tpch_market_share",
    "A2,A9,J1",
    "TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold into "
    "AMERICA-region customers, per order year — the conditional-share "
    "pattern: numerator and denominator are decimal-exact sums over the "
    "same joined rows (single pass, map-side combinable) divided once in "
    "IEEE double, so both engines agree bitwise.",
    oracle=f"""
        SELECT o_year,
               CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5'
                                  THEN volume ELSE 0 END AS DECIMAL(38,6)))
                    AS DOUBLE)
               / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)
                 AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                 {_REVENUE.replace("l_", "l.l_")} AS volume,
                 n1.n_name AS supp_nation
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n2.n_regionkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
          WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        ) nations
        GROUP BY o_year
        ORDER BY o_year
    """,
)
def tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    am_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("am_key"))
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(am_nations), F.col("c_nationkey") == F.col("am_key")
    ).select("c_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
    )
    vol = F.expr(_REVENUE)
    return ordered_small(
        joined.groupBy(
            F.year("o_orderdate").cast("bigint").alias("o_year")
        ).agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
                / dsum(vol)
            ).alias("mkt_share")
        ),
        "o_year",
    )


@register(
    "tpch_nation_product_revenue",
    "J1,J2,A3",
    "TPC-H Q9 shape (partsupp-free adaptation): revenue from parts whose "
    "name contains 'red', by supplier nation and order year — the deep "
    "join tree (fact ⋈ part ⋈ orders ⋈ supplier→nation) with the LIKE "
    "filter pruning parts before the fact join. Nation lookup broadcasts; "
    "part⋈lineitem is AQE-sized.",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               {dsum_sql(_REVENUE.replace("l_", "l.l_"), "amount")}
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
)
def tpch_nation_product_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    snation = supp.join(
        F.broadcast(nation),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(snation), li.l_suppkey == F.col("s_suppkey"))
    )
    return ordered_small(
        joined.groupBy(
            "nation", F.year("o_orderdate").cast("bigint").alias("o_year")
        ).agg(dsum(F.expr(_REVENUE)).alias("amount")),
        "nation",
        "o_year",
    )


@register(
    "tpch_customer_order_distribution",
    "J5-ext,A7",
    "TPC-H Q13 shape: distribution of per-customer order counts with an "
    "ON-clause filter (non-urgent orders only) — the LEFT join must keep "
    "zero-order customers, so the filter lives in the join condition, not "
    "WHERE. Two-level aggregate: per-customer counts shuffle on custkey, "
    "the count-of-counts histogram is a tiny second shuffle.",
    oracle="""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
          SELECT c.c_custkey,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return ordered_small(
        per_cust.groupBy("c_count").agg(
            F.count(F.lit(1)).cast("bigint").alias("custdist")
        ),
        "custdist",
        "c_count",
    )


@register(
    "tpch_promo_revenue_share",
    "A2,A9",
    "TPC-H Q14 shape: PROMO parts' percentage of monthly 1997 revenue — "
    "conditional numerator over total denominator, both decimal-exact in "
    "ONE aggregation pass, scaled by 100 before the single IEEE divide "
    "(operation order mirrored in the oracle so doubles match bitwise).",
    oracle=f"""
        SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
               CAST(100.0 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                        THEN {_REVENUE.replace("l_", "l.l_")} ELSE 0
                        END AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(SUM(CAST({_REVENUE.replace("l_", "l.l_")}
                        AS DECIMAL(38,6))) AS DOUBLE) AS DOUBLE)
                 AS promo_revenue_pct
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY ship_month
        ORDER BY ship_month
    """,
)
def tpch_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    vol = F.expr(_REVENUE)
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return ordered_small(
        joined.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        ).agg(
            (
                (F.lit(100.0)
                 * dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)))
                / dsum(vol)
            ).cast("double").alias("promo_revenue_pct")
        ),
        "ship_month",
    )


@register(
    "tpch_top_supplier",
    "A3,O3,J1",
    "TPC-H Q15 shape: the supplier(s) whose 1997Q1 shipped revenue equals "
    "the global maximum — the revenue view is computed ONCE (query-scoped "
    "persist), its 1-row max broadcasts back over it (BNLJ against a "
    "scalar build, the allowed pattern), and equality on the decimal-exact "
    "double cannot flip between engines.",
    oracle=f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 {dsum_sql(_REVENUE, "total_revenue")}
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s.s_suppkey
    """,
)
def tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = scoped_persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            dsum(F.expr(_REVENUE)).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    top = (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )
    return ordered_small(top, "s_suppkey")


@register(
    "tpch_large_orders",
    "J8-ext,A3,O3",
    "TPC-H Q18 shape: orders whose total quantity exceeds 250 (p99 of this "
    "corpus) — the HAVING-gated IN subquery becomes a grouped aggregate on "
    "orderkey followed by a semi join, re-aggregating the surviving "
    "lineitems with customer context. The threshold compare uses the "
    "decimal sum on BOTH sides so the boundary cannot flip.",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o.o_totalprice,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                 AS total_qty
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 250)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
)
def tpch_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "bk"),
        F.col("o_orderkey") == F.col("bk"),
        "left_semi",
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice", "total_qty",
        )
    )
    return ordered_small(top, "o_totalprice", "o_orderkey")


@register(
    "tpch_bracket_revenue",
    "P-ext,A8",
    "TPC-H Q19 shape: revenue under three disjunctive (brand, size, "
    "quantity) brackets — the classic OR-of-conjuncts predicate. The part "
    "side prefilters to the union of bracket brands/sizes at its scan; "
    "the full disjunction evaluates after the join; one decimal-exact sum.",
    oracle=f"""
        SELECT {dsum_sql(_REVENUE.replace("l_", "l.l_"), "revenue")}
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return joined.filter(bracket).agg(dsum(F.expr(_REVENUE)).alias("revenue"))


@register(
    "tpch_last_shipper_waiting",
    "J8-ext,A1,A3,O3",
    "TPC-H Q21 shape: EUROPE suppliers who were the STRICT last shipper on "
    "multi-supplier F-status orders — the EXISTS (another supplier's line) "
    "plus NOT EXISTS (another supplier shipping on/after) pair. "
    "Decorrelated: per-(order, supplier) max shipdate, then per-order "
    "argmax uniqueness (count of suppliers at the max == 1), so the whole "
    "correlated pair costs two keyed aggregates on orderkey — never a "
    "per-row subquery replay.",
    oracle=f"""
        WITH l1 AS (
          SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderstatus = 'F'
        )
        SELECT s.s_name, CAST(COUNT(DISTINCT x.l_orderkey) AS BIGINT)
                 AS numwait
        FROM l1 x
        JOIN ({_EU_SUPP_SQL}) s ON s.s_suppkey = x.l_suppkey
        WHERE EXISTS (
            SELECT 1 FROM l1 y
            WHERE y.l_orderkey = x.l_orderkey
              AND y.l_suppkey <> x.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM l1 z
            WHERE z.l_orderkey = x.l_orderkey
              AND z.l_suppkey <> x.l_suppkey
              AND z.l_shipdate >= x.l_shipdate)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
)
def tpch_last_shipper_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    ).join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.max("smax").alias("omax"),
        F.count(F.lit(1)).alias("nsupp"),
    )
    at_max = per_supp.join(per_order, "l_orderkey").filter(
        F.col("smax") == F.col("omax")
    )
    # the strict last shipper exists only when exactly ONE supplier sits at
    # the order max and the order has >= 2 suppliers
    uniq = at_max.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_at_max"),
        F.first("l_suppkey").alias("winner"),
        F.first("nsupp").alias("nsupp"),
    ).filter((F.col("n_at_max") == 1) & (F.col("nsupp") >= 2))
    eu = _eu_suppliers(spark, sf_dir).select("s_suppkey", "s_name")
    top = (
        uniq.join(F.broadcast(eu), uniq.winner == eu.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
    return ordered_small(top, "s_name")


@register(
    "tpch_idle_rich_customers",
    "J7,A8,A3",
    "TPC-H Q22 shape: customers with above-average positive balance and "
    "no orders since 1999 (idle), by market segment — the anti join + "
    "scalar-average subquery pair. The average is a 1-row broadcast; the "
    "anti join shuffles only the date-pruned custkeys; the threshold uses "
    "the davg decimal convention on both engines so membership cannot "
    "flip.",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                 AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(c2.c_acctbal)
            FROM customer c2 WHERE c2.c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY segment
        ORDER BY segment
    """,
)
def tpch_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    avg_pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    rich_idle = (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return ordered_small(
        rich_idle.groupBy(F.col("c_mktsegment").alias("segment")).agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        ),
        "segment",
    )


@register(
    "tpch_min_balance_supplier",
    "J3-ext,A4,O3",
    "TPC-H Q2 shape (partsupp-free: DISTINCT lineitem (part, supplier) "
    "pairs stand in for the catalog): for each mid-size ECONOMY part, the "
    "EUROPE supplier with the minimum account balance among those who "
    "shipped it — the correlated MIN subquery decorrelated into a grouped "
    "min + equality join-back on the same candidate set (computed once, "
    "query-scoped persist).",
    oracle=f"""
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        eu AS ({_EU_SUPP_SQL}),
        cand AS (
          SELECT p.p_partkey, p.p_name, eu.s_suppkey, eu.s_name, eu.n_name,
                 eu.s_acctbal
          FROM part p
          JOIN ps ON ps.l_partkey = p.p_partkey
          JOIN eu ON eu.s_suppkey = ps.l_suppkey
          WHERE p.p_size BETWEEN 10 AND 15 AND p.p_type = 'ECONOMY'
        )
        SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_name
        FROM cand c
        WHERE c.s_acctbal = (
          SELECT MIN(c2.s_acctbal) FROM cand c2
          WHERE c2.p_partkey = c.p_partkey)
        ORDER BY c.s_acctbal DESC, c.p_partkey, c.s_suppkey
        LIMIT 100
    """,
)
def tpch_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    eu = _eu_suppliers(spark, sf_dir).select(
        "s_suppkey", "s_name", "n_name", "s_acctbal"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey", "p_name")
    cand = scoped_persist(
        part.join(ps, part.p_partkey == ps.l_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "n_name",
                "s_acctbal")
    )
    mins = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    top = (
        cand.join(
            mins,
            (cand.p_partkey == mins.mk)
            & (cand.s_acctbal == mins.min_bal),
        )
        # LIMIT tie-break must match the oracle exactly: acctbal DESC,
        # partkey, suppkey
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(100)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
    )
    return ordered_small(top, "p_partkey")


@register(
    "tpch_small_quantity_revenue",
    "J1-ext,A3-ext",
    "TPC-H Q17 shape (small-quantity-order revenue): average yearly revenue "
    "lost if orders below 20% of a part's average quantity moved to bulk. "
    "The correlated scalar subquery (per-part AVG) decorrelates into one "
    "grouped aggregate joined back to the fact; the selective part filter "
    "(one brand + small sizes) broadcasts so the lineitem scan never "
    "shuffles. The 0.2x threshold compares the shared decimal-exact "
    "average — bit-identical on both engines. Completes the TPC-H canon "
    "to every shape the testdata's schema can express (Q11/Q20 need the "
    "absent partsupp table).",
    oracle=f"""
        WITH sel AS (
          SELECT p_partkey FROM part
          WHERE p_brand = 'Brand#4' AND p_size < 15
        ),
        avgs AS (
          SELECT l_partkey,
                 {
                     "CAST(SUM(CAST((CASE WHEN isfinite(CAST(l_quantity AS DOUBLE))"
                     " THEN l_quantity END) AS DECIMAL(38,6))) AS DOUBLE)"
                     " / COUNT(CASE WHEN isfinite(CAST(l_quantity AS DOUBLE))"
                     " THEN l_quantity END)"
                 } AS avg_qty
          FROM lineitem JOIN sel ON p_partkey = l_partkey
          GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
               CAST(CAST(SUM(CAST((CASE WHEN isfinite(CAST(l_extendedprice
                    AS DOUBLE)) THEN l_extendedprice END) AS DECIMAL(38,6)))
                    AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
        FROM lineitem
        JOIN avgs ON avgs.l_partkey = lineitem.l_partkey
        WHERE l_quantity < 0.2 * avg_qty
    """,
)
def tpch_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import davg

    li = load_table(spark, sf_dir, "lineitem")
    sel = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#4") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    scoped = li.join(
        F.broadcast(sel), li.l_partkey == sel.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avgs = scoped.groupBy("l_partkey").agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    small = scoped.join(F.broadcast(avgs), "l_partkey").filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return small.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
        (dsum(F.col("l_extendedprice")) / F.lit(7.0))
        .cast("double")
        .alias("avg_yearly"),
    )
