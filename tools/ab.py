"""Interleaved A/B harness for the optimization rounds (guide §1).

Times a query's CURRENT (working-tree) builder against the builder from an
arbitrary git rev of its defining module, alternating A, B, A, B, ... inside
ONE bench-identical session so JVM warm-up drift hits both variants equally
(the round-12 measurement caveat: cross-session comparisons are worthless).

Usage: python tools/ab.py --rev HEAD --module queries/forget.py \
                          [--runs N] [--sink noop|count] query [query ...]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from notion_timetracking_etl_spark.queries import REGISTRY  # noqa: E402
from tools.harness import settle, warm_session  # noqa: E402


def load_rev_registry(rev: str, module_rel: str) -> dict:
    """Import ``<rev>:notion_timetracking_etl_spark/<module_rel>`` into the
    package under a shadow name and return the queries it registers."""
    import notion_timetracking_etl_spark.queries.registry as reg

    src = subprocess.run(
        ["git", "-C", os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
         "show", f"{rev}:notion_timetracking_etl_spark/{module_rel}"],
        capture_output=True, text=True, check=True,
    ).stdout
    pkg_dir = os.path.dirname(os.path.abspath(reg.__file__))
    shadow = os.path.join(pkg_dir, "_ab_shadow.py")
    with open(shadow, "w", encoding="utf-8") as fh:
        fh.write(src)
    real = reg.REGISTRY
    reg.REGISTRY = {}
    try:
        importlib.import_module(
            "notion_timetracking_etl_spark.queries._ab_shadow"
        )
        shadow_registry = reg.REGISTRY
    finally:
        reg.REGISTRY = real
        os.unlink(shadow)
    return shadow_registry


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--module", required=True,
                    help="path under notion_timetracking_etl_spark/, e.g. queries/forget.py")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sink", default="noop", choices=["noop", "count"])
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    old_reg = load_rev_registry(args.rev, args.module)

    spark = warm_session("ab")

    def run_once(builder, label: str) -> float:
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        df = builder(spark, args.sf_dir)
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        dt = time.perf_counter() - t0
        settle(spark)
        return dt

    for name in args.queries:
        new_b = REGISTRY[name].spark
        old_b = old_reg[name].spark
        # one unmeasured warm-up each so first-plan JIT doesn't bias run 1
        run_once(old_b, f"{name} warmup-old")
        run_once(new_b, f"{name} warmup-new")
        olds, news = [], []
        for i in range(args.runs):
            olds.append(run_once(old_b, f"{name} old#{i}"))
            news.append(run_once(new_b, f"{name} new#{i}"))
        print(json.dumps({
            "query": name,
            "old_runs": [round(r, 3) for r in olds],
            "new_runs": [round(r, 3) for r in news],
            "old_min": round(min(olds), 3),
            "new_min": round(min(news), 3),
            "adjacent_wins_new": sum(n < o for o, n in zip(olds, news)),
        }), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
