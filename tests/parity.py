"""Local Spark↔DuckDB parity harness.

Mirrors the driver's correctness gate: for each registry entry, run the Spark
builder and the DuckDB oracle over the same sf directory and compare row count,
column names, and an order-insensitive value hash.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass

import duckdb

from notion_timetracking_etl_spark.sources.tpch import TPCH_TABLES


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr round-trips doubles exactly; -0.0 normalized
        if v == 0.0:
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _canonical(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append("\x01".join(_norm_cell(row[i]) for i in order))
    out.sort()
    return out


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


_SPARK_TYPE_NORM = {
    "tinyint": "i64",
    "smallint": "i64",
    "int": "i32",
    "bigint": "i64",
    "float": "f64",
    "double": "f64",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "binary": "bytes",
}


def _norm_spark_type(t: str) -> str:
    if t.startswith("timestamp"):
        return "ts"
    if t.startswith("decimal"):
        return "dec" + t[len("decimal"):]
    if t.startswith("array<"):
        return "[" + _norm_spark_type(t[6:-1]) + "]"
    return _SPARK_TYPE_NORM.get(t, t)


def _norm_duck_type(t: str) -> str:
    """DuckDB type name → the same vocabulary as :func:`_norm_spark_type`.

    The driver's value hash is type-sensitive (a DuckDB HUGEINT hashes
    differently from a Spark BIGINT even for equal values — see the round-1
    conditional_flags failure), so type parity is part of the gate."""
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"):
        return "i64"
    if t == "INTEGER":
        return "i32"
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if t in ("FLOAT", "DOUBLE"):
        return "f64"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t == "BLOB":
        return "bytes"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t.startswith("DECIMAL"):
        return "dec" + t[len("DECIMAL"):].lower().replace(" ", "")
    if t.endswith("[]"):
        return "[" + _norm_duck_type(t[:-2]) + "]"
    return t.lower()


def _render_class(norm: str) -> str:
    """Collapse normalized types into the classes the value hash actually
    distinguishes. Plain ints up to 64 bits arrive as python ints on both
    sides and render identically; HUGEINT does not (round-1
    ``conditional_flags``), so it stays its own class. Arrays recurse."""
    if norm in ("i32", "i64"):
        return "int"
    if norm.startswith("[") and norm.endswith("]"):
        return "[" + _render_class(norm[1:-1]) + "]"
    return norm


def compare_query(spark, con, spec, sf_dir: str) -> ParityResult:
    sdf = spec.spark(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_types = {c.lower(): _norm_spark_type(t) for c, t in sdf.dtypes}
    s_rows = [tuple(r) for r in sdf.collect()]
    # free the query-scoped intermediates (never clearCache(): see lifecycle)
    from notion_timetracking_etl_spark.lifecycle import release_scoped_caches

    release_scoped_caches()
    if spec.oracle is None:
        if spec.check is not None:
            err = spec.check(s_rows, s_cols, con)
            if err:
                return ParityResult(spec.name, False, f"bound check failed: {err}")
            return ParityResult(
                spec.name, True, f"rows-only + bound check: {len(s_rows)} rows"
            )
        return ParityResult(spec.name, True, f"rows-only: {len(s_rows)} rows")
    d_types = {
        r[0].lower(): _norm_duck_type(str(r[1]))
        for r in con.execute(f"DESCRIBE {spec.oracle}").fetchall()
    }
    res = con.execute(spec.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    type_diffs = {
        c: (s_types[c], d_types[c])
        for c in s_types
        if c in d_types and _render_class(s_types[c]) != _render_class(d_types[c])
    }
    if type_diffs:
        return ParityResult(
            spec.name,
            False,
            f"type mismatch (spark vs duck): {type_diffs} — the driver's "
            "value hash is type-sensitive; cast both sides per helpers.py",
        )
    if sorted(s_cols) != sorted(d_cols):
        return ParityResult(
            spec.name, False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
        )
    if len(s_rows) != len(d_rows):
        return ParityResult(
            spec.name, False, f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
        )
    s_canon = _canonical(s_rows, s_cols)
    d_canon = _canonical(d_rows, d_cols)
    if s_canon != d_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:3]
        return ParityResult(
            spec.name,
            False,
            "value mismatch; first diffs (spark vs duck): "
            + " || ".join(f"{a!r} <> {b!r}" for a, b in diffs),
        )
    return ParityResult(spec.name, True, f"match: {len(s_rows)} rows")
