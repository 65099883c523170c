"""sparklog benchmark launcher.

    python3 logbench/run.py --workload log_query --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Pins the run environment, runs one
workload (``driver.py``) in a child process and prints its result as the
last line of standard output: one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything else (Spark's log
and progress bars, the per-run context line, the traced run's layer
table) goes to standard error.

Pinned per run:
- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (the session
  default of 32 oversubscribes a small machine);
- ``SPARK_LOCAL_DIRS``, ``TMPDIR``, the JVM's ``java.io.tmpdir`` and the
  working directory (where ``spark-warehouse`` and derby files land)
  all inside a fresh directory under ``.bench_runs/``, deleted after
  the run, so no state carries from one run to the next;
- ``PYTHONPATH`` = the checkout root, so Spark's Python workers can
  import ``pulsar_spark``;
- ``SPARK_GRAFT_DRIVER_MEM`` = 1g, to bound the JVM on a shared machine
  (``driver.py`` also fixes and pre-touches the heap).

The traced run (``--trace 1``) also writes its spans to
``.bench_out/<workload>-seed<seed>-spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("log_query", "crawl_curate")
CHILD_TIMEOUT_S = 160


def _stop_group(pgid: int) -> None:
    """Kill what is left of the run's process group (the JVM, Python
    workers) and wait until every member has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pulsar_spark", "__init__.py")):
        print(f"no pulsar_spark package under {ROOT}: run from a checkout of the repo",
              file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", result_path,
        "--spans", os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"),
    ]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno(),
                             start_new_session=True)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {CHILD_TIMEOUT_S} s; stopped", file=sys.stderr)
        rc = -1
    finally:
        _stop_group(child.pid)
        child.wait()
        result = None
        if os.path.isfile(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or result is None:
        return rc or 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
