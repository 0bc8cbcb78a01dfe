"""Cross-engine parity helpers.

The driver hash-compares Spark results against DuckDB values, so every
floating-point aggregate must be bit-identical across engines. Conventions:

- **Sums of doubles**: cast the (double) operand to DECIMAL(38,6) per row —
  a deterministic half-up rounding both engines share — SUM exactly in decimal
  (order-independent, immune to Spark's nondeterministic partition order), and
  cast the total back to double. ``dsum`` / ``DSUM_SQL``.
- **Averages**: exact decimal sum divided by COUNT in double: one IEEE divide,
  identical both sides. ``davg`` / ``DAVG_SQL``.
- **Timestamps in outputs**: render to strings (``yyyy-MM-dd HH:mm:ss``) so
  tz-naive DuckDB values and tz-aware Spark values cannot diverge.
- **Integral outputs**: cast to BIGINT both sides (DuckDB ``year()`` etc.
  return BIGINT; Spark's return INT).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
DATE_FMT_SPARK = "yyyy-MM-dd"
DATE_FMT_DUCK = "%Y-%m-%d"


def _finite(col: Column) -> Column:
    """NaN/±inf → NULL, so non-finite doubles fall out of aggregates like
    SQL NULLs do — on BOTH engines. Without the guard the convention
    diverges hard: Spark's decimal cast nulls NaN while DuckDB's RAISES
    (`can't be cast ... INT128`), so one corrupt measure kills the oracle
    (ROBUSTNESS.md round-5). A no-op for finite values (and for integral
    inputs, which can never be non-finite)."""
    d = col.cast("double")
    return F.when(~F.isnan(d) & (F.abs(d) < F.lit(float("inf"))), col)


def _finite_sql(expr: str) -> str:
    """DuckDB twin of :func:`_finite` (isfinite(NULL) is NULL → stays NULL)."""
    return f"CASE WHEN isfinite(CAST(({expr}) AS DOUBLE)) THEN ({expr}) END"


def dsum(col: Column) -> Column:
    """Order-independent, cross-engine-exact sum of a double expression;
    non-finite inputs are excluded (see :func:`_finite`)."""
    return F.sum(_finite(col).cast("decimal(38,6)")).cast("double")


def davg(col: Column) -> Column:
    """Cross-engine-exact average: exact decimal sum / count of FINITE
    values, one double divide."""
    g = _finite(col)
    return (
        F.sum(g.cast("decimal(38,6)")).cast("double") / F.count(g)
    ).cast("double")


def dsum_sql(expr: str, alias: str) -> str:
    g = _finite_sql(expr)
    return f"CAST(SUM(CAST(({g}) AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def davg_sql(expr: str, alias: str) -> str:
    g = _finite_sql(expr)
    return (
        f"CAST(CAST(SUM(CAST(({g}) AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({g}) AS DOUBLE) AS {alias}"
    )


def fmt_ts(col: Column) -> Column:
    """Render a timestamp column as a parity-safe string (UTC session tz)."""
    return F.date_format(col, TS_FMT_SPARK)


def ordered_small(df, *cols: str):
    """Total order for a small result set in a single plan execution.

    ``orderBy`` range-partitions, and its boundary sampling re-executes the
    upstream lineage past the last materialized shuffle — for plans ending in
    ``mapInPandas`` that runs every Python stage twice. A 1-partition shuffle +
    in-partition sort yields the same total order in one pass.

    HARD RULE: only for results BOUNDED regardless of input size (top-k lists,
    fixed pair samples, dimension tables). Anything O(corpus) — one row per
    document/media/distinct key — must use a distributed ``orderBy`` instead
    (for Python-seam plans, placed UPSTREAM of the seam: mapInPandas preserves
    in-partition order, so the sort survives and is never double-executed)."""
    return df.repartition(1).sortWithinPartitions(*cols)


def la_local(col: Column) -> Column:
    """UTC instant → America/Los_Angeles wall-clock (SURVEY F29/F33)."""
    return F.from_utc_timestamp(col, "America/Los_Angeles")


def la_local_sql(expr: str) -> str:
    """DuckDB twin of :func:`la_local` for naive-UTC timestamps."""
    return f"timezone('America/Los_Angeles', timezone('UTC', ({expr})))"


def davg_floor_micros(col: Column) -> Column:
    """Cross-engine-exact average for COMPUTED doubles (scores, norms).

    ``davg``'s decimal(38,6) cast rounds HALF_UP from the double's shortest
    decimal string in Spark but from the binary value in DuckDB — a real
    divergence when a full-mantissa computed double sits on a 6-dp rounding
    boundary (hit by text_quality_bands at sf0.001). Floor-to-micro-units has
    no tie to break: ``x * 1e6`` is the same double on both engines and
    ``floor`` of any double is unambiguous. Sum the exact BIGINT micros,
    then divide in the mirrored order (sum/count first, then /1e6)."""
    return (
        F.sum(F.floor(col * F.lit(1000000.0))).cast("double") / F.count(col)
    ) / F.lit(1000000.0)


def davg_floor_micros_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 1000000.0) AS BIGINT)) AS DOUBLE)"
        f" / COUNT({expr}) / 1000000.0 AS {alias}"
    )
