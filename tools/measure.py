"""Per-query measurement harness for the optimization rounds (guide §1).

Usage: python tools/measure.py [--tag before|after] [--runs N] [--explain-only]
                               [--sink noop|count] query [query ...]

For each named query, on a bench-identical session (tools/harness.py):

- captures ``df.explain("formatted")`` to ``plans/r12/<query>_<tag>.txt``
- times the query min-of-N with the noop sink (computes every column of
  every row, no driver transfer — guide §1.4) AND with ``.count()``
  (bench.py's timed action, for apples-to-apples with BASELINE rows)
- labels each job (``setJobDescription``) so the UI/event log is readable

Prints one JSON line per query: {"query", "noop_min", "count_min",
"noop_runs", "count_runs"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from notion_timetracking_etl_spark.lifecycle import release_scoped_caches  # noqa: E402
from notion_timetracking_etl_spark.queries import REGISTRY  # noqa: E402
from tools.harness import settle, warm_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--round", default="r13", help="plans/<round>/ output dir")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("--no-explain", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.round,
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = warm_session("measure")

    for name in args.queries:
        if name not in REGISTRY:
            print(json.dumps({"query": name, "error": "not registered"}))
            continue
        if not args.no_explain:
            df = REGISTRY[name].spark(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{args.tag}.txt"),
                "w", encoding="utf-8",
            ) as fh:
                fh.write(plan)
            release_scoped_caches()
        if args.explain_only:
            print(json.dumps({"query": name, "explained": True}))
            continue

        noop_runs: list[float] = []
        count_runs: list[float] = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} noop#{i}")
            t0 = time.perf_counter()
            (REGISTRY[name].spark(spark, args.sf_dir)
             .write.format("noop").mode("overwrite").save())
            noop_runs.append(time.perf_counter() - t0)
            settle(spark)
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} count#{i}")
            t0 = time.perf_counter()
            REGISTRY[name].spark(spark, args.sf_dir).count()
            count_runs.append(time.perf_counter() - t0)
            settle(spark)
        spark.sparkContext.setJobDescription(None)
        print(
            json.dumps(
                {
                    "query": name,
                    "noop_min": round(min(noop_runs), 3),
                    "count_min": round(min(count_runs), 3),
                    "noop_runs": [round(r, 3) for r in noop_runs],
                    "count_runs": [round(r, 3) for r in count_runs],
                }
            ),
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
