"""Session factory behaviour that only shows outside this checkout."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from notion_timetracking_etl_spark.queries import REGISTRY
from notion_timetracking_etl_spark.session import build_session

spark = build_session(app_name="cwd-probe", master="local[2]", shuffle_partitions=2)
print("ROWS", REGISTRY["multimodal_near_dup"].spark(spark, {sf_dir!r}).count())
spark.stop()
"""


def _run_outside_checkout(tmp_path, argv: list[str]) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, *argv],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-3000:])
    return proc.stdout


def test_python_seam_query_runs_from_any_working_directory(tmp_path, sf_dir):
    """mapInPandas workers unpickle the decode functions by module
    reference; run from a directory that does not hold the package, they
    can only import it through the path their session hands them: the conf
    build_session sets, or the PYTHONPATH the vanilla-session parity runner
    exports before its JVM starts."""
    out = _run_outside_checkout(
        tmp_path, ["-c", _SCRIPT.format(repo=REPO, sf_dir=sf_dir)]
    )
    rows = [ln for ln in out.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, out[-2000:]

    out = _run_outside_checkout(
        tmp_path,
        [
            os.path.join(REPO, "tests", "run_parity.py"),
            sf_dir,
            "multimodal_near_dup",
        ],
    )
    assert "1/1 green" in out, out[-2000:]
