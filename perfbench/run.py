"""Benchmark runner: one workload, one fresh process, one JSON result line.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 40 --trace 0

Run from the repository root. Before the workload process starts, the runner
looks up the oracle hash of every query the workload checks (``oracle.py``),
computing any the cache lacks. It then starts the workload process
(``worker.py``) with ``PYTHONPATH`` at the repository root on
``local[<nproc>]``, waits for it and prints the metrics. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` turns on the Spark event log,
the streaming listener and the layer spans and prints the per-layer metrics.

End-to-end metrics:

- ``setup_s``: process start to ready (interpreter, package import,
  SparkSession, JVM and Python-worker warm-up). Oracle work is excluded.
- ``wall_s``: the one pass of the closed loop in a fresh session, summed
  over its operations (build, plan, execute, Arrow delivery, and for
  ``etl_star`` the publish). Every per-operation latency is printed too.
- ``retained_mb``: what the session still holds after the pass, once its
  garbage is collected: the JVM heap in use after a full collection (cached
  tables, broadcast and model blocks) plus the driver's Python proportional
  set size. Work moved into session caches shows here. Peak resident memory
  is not used: under the package's own heap settings it follows when the
  collector grows the heap, and varies by a fifth between runs.

A failed operation (exception, oracle-hash mismatch, sink row-count mismatch)
counts in ``failed`` and makes ``correct`` false; it is never skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0  # a run must end within 180 s

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "retained_mb": "MB"}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_pids(pgid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the workload's process group and wait until
    every member has gone."""
    for _ in range(100):
        pids = _group_pids(pgid)
        if not pids:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    _fail(f"processes {pids} did not exit")


def run_workload(name: str, seed: int, trace: int, t_start: float) -> dict:
    import oracle
    import workloads

    run_dir = workloads.work_dir("runs", f"{name}-s{seed}-t{trace}")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    expect = os.path.join(run_dir, "expect.json")
    with open(expect, "w", encoding="utf-8") as fh:
        json.dump(oracle.expected(workloads.oracle_queries(workloads.WORKLOADS[name]),
                                  log=lambda m: print(m, file=sys.stderr)), fh)
    out = os.path.join(run_dir, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(workloads.cpus()),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        TZ="UTC",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", name,
        "--seed", str(seed), "--trace", str(trace),
        "--expect", expect, "--out", out,
    ]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "wb") as log:
        env["PERFBENCH_SPAWN_TIME"] = repr(time.time())
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            while proc.poll() is None:
                if time.monotonic() - t_start > DEADLINE_S:
                    _fail(f"workload {name} did not finish within {DEADLINE_S:.0f} s")
                time.sleep(0.2)
        finally:
            _stop_group(proc.pid)
            proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        _fail(f"workload process exited {proc.returncode}:\n{tail}")
    with open(out, encoding="utf-8") as fh:
        return json.load(fh)


def report(res: dict, trace: int) -> dict:
    """Human-readable lines on stdout, then the metrics dict."""
    print(f"workload {res['workload']} seed {res['seed']}: {len(res['ops'])} operations")
    print("  latency: " + ", ".join(f"{op['name']} {op['s']:.3f}s" for op in res["ops"]))
    for f in res["failures"]:
        print(f"  FAILED {f['op']}: {f['error']}")
    print("  memory: " + ", ".join(f"{k} {v:.1f}" for k, v in res["memory"].items()))
    if trace:
        import layers

        lay = res["layers"]
        print("  self time by layer: " + ", ".join(
            f"{k} {v:.3f}s" for k, v in lay["self_ranking"]))
        print(f"  jobs {lay['jobs_total']} ({lay['jobs_unattributed']} outside every span)")
        return {k: {"value": v, "unit": layers.UNITS[k]} for k, v in lay["metrics"].items()}
    e2e = {"setup_s": res["setup_s"], "wall_s": res["wall_s"],
           "retained_mb": sum(res["memory"].values())}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the process-group cleanup


def main() -> int:
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # A run measures one whole pass of fixed work, which takes about
    # BENCHMARK.json's run_seconds; --seconds is accepted but cuts nothing,
    # so every run times the same operations.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "notion_timetracking_etl_spark", "__init__.py")):
        _fail(f"{ROOT} holds no notion_timetracking_etl_spark package to benchmark")
    if not os.path.isfile(os.path.join(ROOT, "tests", "parity.py")):
        _fail(f"{ROOT} holds no tests/parity.py to render results with")
    import workloads

    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in workloads.WORKLOADS for n in names):
        _fail(f"unknown workload {args.workload}; have {sorted(workloads.WORKLOADS)}")
    metrics: dict = {}
    attempted = failed = 0
    for name in names:
        t0 = t_start if len(names) == 1 else time.monotonic()
        res = run_workload(name, args.seed, args.trace, t0)
        m = report(res, args.trace)
        for k, v in m.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        metrics.update(m if len(names) == 1 else {f"{name}.{k}": v for k, v in m.items()})
        attempted += len(res["ops"])
        failed += len(res["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
