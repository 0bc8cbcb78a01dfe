"""Result hashing and the DuckDB oracle-hash cache.

A result's hash is sha256 over its sorted lower-cased column names and the
sorted canonical row strings of ``tests/parity.py`` (``_canonical``), so a
Spark result and its DuckDB oracle hash equal exactly when the parity test
would call them equal.

Oracle hashes are expensive (the dedup family's oracles are O(n^2) SQL), so
they are computed once per (query, sf, oracle-SQL digest) and filed in
``oracle_hashes.json`` beside this file. The runner looks them up before the
workload process starts, so DuckDB never runs in a timed region, in set-up
or in the process tree whose memory is measured. It recomputes only the
entries whose oracle SQL changed and keeps them in the work directory.

Refresh the committed cache (and check, on every query, that the Arrow
rendering the benchmark times hashes the same as the ``collect()`` rendering
the parity test uses)::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import sys
import tempfile

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "oracle_hashes.json")


def _parity():
    # tests/ is not a package; the parity module lives there as a script
    root = os.path.dirname(HERE)
    if os.path.join(root, "tests") not in sys.path:
        sys.path.insert(0, os.path.join(root, "tests"))
    import parity

    return parity


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def _fix_cell(v, typ: pa.DataType):
    """Arrow ``to_pylist`` value -> the value ``Row`` collect() yields."""
    if v is None:
        return None
    if pa.types.is_timestamp(typ) and typ.tz is not None:
        # collect() hands back naive datetimes in the (UTC) process zone
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if pa.types.is_struct(typ):
        return tuple(
            _fix_cell(v[typ.field(i).name], typ.field(i).type)
            for i in range(typ.num_fields)
        )
    if pa.types.is_map(typ):
        return {
            _fix_cell(k, typ.key_type): _fix_cell(x, typ.item_type) for k, x in v
        }
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_fix_cell(x, typ.value_type) for x in v]
    return v


def _needs_fix(typ: pa.DataType) -> bool:
    return (
        (pa.types.is_timestamp(typ) and typ.tz is not None)
        or pa.types.is_struct(typ)
        or pa.types.is_map(typ)
        or pa.types.is_list(typ)
        or pa.types.is_large_list(typ)
    )


def arrow_rows(table: pa.Table) -> list[tuple]:
    cols = []
    for col in table.columns:
        vals = col.to_pylist()
        if _needs_fix(col.type):
            vals = [_fix_cell(v, col.type) for v in vals]
        cols.append(vals)
    return list(zip(*cols)) if cols else [()] * table.num_rows


def rows_hash(rows, cols) -> str:
    cols = [c.lower() for c in cols]
    h = hashlib.sha256()
    h.update("\x02".join(sorted(cols)).encode())
    for line in _parity()._canonical(rows, cols):
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def arrow_hash(table: pa.Table) -> str:
    return rows_hash(arrow_rows(table), table.column_names)


def oracle_hash(con, sql: str) -> tuple[str, int]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return rows_hash(rows, cols), len(rows)


class OracleCache:
    """Oracle hashes for one sf, keyed by query and oracle-SQL digest.

    Reads the committed file, then the work directory's overlay; writes only
    the overlay."""

    def __init__(self, sf: str, overlay_path: str):
        self.sf = sf
        self.overlay_path = overlay_path
        self.entries: dict[str, dict] = {}
        for path in (COMMITTED, overlay_path):
            try:
                with open(path, encoding="utf-8") as fh:
                    doc = json.load(fh)
            except FileNotFoundError:
                continue
            if doc.get("sf") == sf:
                self.entries.update(doc["queries"])

    def lookup(self, name: str, sql: str) -> dict | None:
        e = self.entries.get(name)
        if e is not None and e["oracle_sha"] == sql_digest(sql):
            return e
        return None

    def fill(self, specs, sf_dir: str, log=print) -> None:
        """Compute the oracle hash of every spec the cache lacks."""
        missing = [s for s in specs if self.lookup(s.name, s.oracle) is None]
        if not missing:
            return
        con = _parity().duck_connection(sf_dir)
        try:
            for spec in missing:
                log(f"oracle: computing {spec.name}")
                digest, n = oracle_hash(con, spec.oracle)
                self.entries[spec.name] = {
                    "oracle_sha": sql_digest(spec.oracle), "hash": digest, "rows": n,
                }
        finally:
            con.close()
        self.save(self.overlay_path)

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {"sf": self.sf,
                 "queries": dict(sorted(self.entries.items()))},
                fh, indent=1,
            )
            fh.write("\n")


def expected(names: list[str], log=print) -> dict[str, dict]:
    """The oracle entry (hash and row count) of every query in ``names``,
    computing the ones the cache lacks."""
    import workloads

    if workloads.ROOT not in sys.path:
        sys.path.insert(0, workloads.ROOT)
    from notion_timetracking_etl_spark.queries import REGISTRY

    cache = OracleCache(workloads.SF, workloads.work_dir("oracle_hashes.json"))
    cache.fill([REGISTRY[q] for q in names], workloads.SF_DIR, log=log)
    return {q: cache.lookup(q, REGISTRY[q].oracle) for q in names}


def _refresh() -> int:
    """Recompute every workload query's oracle hash into the committed file
    and check Arrow-vs-collect rendering parity on Spark for each one."""
    import workloads

    sys.path.insert(0, workloads.ROOT)
    from notion_timetracking_etl_spark.queries import REGISTRY
    from notion_timetracking_etl_spark.operators.dedup import release_scoped_caches

    sf_dir = workloads.SF_DIR
    names = sorted(
        {q for w in workloads.WORKLOADS.values() for q in workloads.oracle_queries(w)}
    )
    cache = OracleCache(workloads.SF, COMMITTED)
    cache.entries = {}
    cache.fill([REGISTRY[n] for n in names], sf_dir)
    tmp = workloads.work_dir("tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    spark = workloads.build_bench_session(tmp)
    bad = []
    for n in names:
        df = REGISTRY[n].spark(spark, sf_dir)
        a = arrow_hash(df.toArrow())
        c = rows_hash([tuple(r) for r in df.collect()], df.columns)
        release_scoped_caches()
        ok = a == c == cache.entries[n]["hash"]
        cache.entries[n]["arrow_matches_collect"] = a == c
        print(f"{n}: arrow==collect {a == c}, ==oracle {a == cache.entries[n]['hash']}")
        if not ok:
            bad.append(n)
    spark.stop()
    cache.save(COMMITTED)
    print(f"{len(names) - len(bad)}/{len(names)} queries agree; mismatches: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(_refresh())
