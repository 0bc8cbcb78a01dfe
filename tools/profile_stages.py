"""Stage-level profile of one registered query via the Spark UI REST API.

Runs the query once (noop sink) on a bench-identical session with the UI
enabled, then dumps every stage's name, duration, task time, shuffle bytes
and row counts — the guide-§1 empirical loop without a browser.

Usage: SPARK_GRAFT_UI=true python tools/profile_stages.py query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_UI", "true")

from notion_timetracking_etl_spark.lifecycle import release_scoped_caches  # noqa: E402
from notion_timetracking_etl_spark.queries import REGISTRY  # noqa: E402
from tools.harness import warm_session  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    spark = warm_session("profile")

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages() -> list[dict]:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.load(r)

    for name in names:
        release_scoped_caches()
        before_ids = {s["stageId"] for s in stages()}
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        (REGISTRY[name].spark(spark, os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
         .write.format("noop").mode("overwrite").save())
        wall = time.perf_counter() - t0
        new = [s for s in stages() if s["stageId"] not in before_ids]
        new.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        total_run = sum(s.get("executorRunTime") or 0 for s in new)
        print(f"\n=== {name}: wall {wall:.2f}s, {len(new)} stages, "
              f"executorRunTime sum {total_run/1000:.2f}s ===")
        # submission-time gaps: sort by submissionTime to see scheduling holes
        by_sub = sorted(new, key=lambda s: s.get("submissionTime") or "")
        for s in new[:25]:
            nm = (s.get("description") or s.get("name") or "")[:90]
            print(json.dumps({
                "stage": s["stageId"],
                "tasks": s.get("numCompleteTasks"),
                "runtime_s": round((s.get("executorRunTime") or 0) / 1000, 2),
                "cpu_s": round((s.get("executorCpuTime") or 0) / 1e9, 2),
                "in_rows": s.get("inputRecords"),
                "sh_read_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
                "sh_write_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 1),
                "name": nm,
            }))
        # wall-clock attribution: submission→completion per stage
        print("-- timeline (first 40 by submission) --")
        for s in by_sub[:40]:
            sub = s.get("submissionTime", "")
            comp = s.get("completionTime", "")
            print(f"  {s['stageId']:>5} {sub[11:23]} -> {comp[11:23]} "
                  f"run={((s.get('executorRunTime') or 0))/1000:6.2f}s "
                  f"{(s.get('name') or '')[:60]}")

    release_scoped_caches()
    spark.stop()


if __name__ == "__main__":
    main()
