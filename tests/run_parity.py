"""Standalone parity runner mirroring the driver's CORRECTNESS gate.

Unlike the pytest suite (which uses ``session.build_session`` and therefore
carries this repo's confs), this builds a VANILLA SparkSession — no nanos
conf, no UTC pin, default shuffle partitions — exactly what the driver's
harness does. Round 1 failed 17/44 queries on precisely that gap.

Usage: python tests/run_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # the mapInPandas workers unpickle seam functions by module reference;
    # exported before the JVM starts, the path reaches the JVM and every
    # Python worker it forks, from any working directory, with no conf
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from notion_timetracking_etl_spark.queries import REGISTRY
    from tests.parity import compare_query, duck_connection

    spark = (
        SparkSession.builder.appName("parity-vanilla")
        .master("local[16]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duck_connection(sf_dir)

    names = sorted(n for n in REGISTRY if not only or n in only)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            result = compare_query(spark, con, REGISTRY[name], sf_dir)
            ok, detail = result.ok, result.detail
        except Exception as e:  # noqa: BLE001 — mirror the driver's err capture
            ok, detail = False, f"ERROR: {type(e).__name__}: {e}"
        dt = time.time() - t0
        status = "ok " if ok else "FAIL"
        print(f"{status} {name:40s} {dt:6.1f}s  {detail[:2000]}", flush=True)
        if not ok:
            failures.append(name)

    print(f"\n{len(names) - len(failures)}/{len(names)} green", flush=True)
    if failures:
        print("failing: " + " ".join(failures), flush=True)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
