"""Benchmark launcher: ``python3 gridbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root.

It pins the launch environment (workers' PYTHONPATH, driver memory,
``local[k]`` with k at most the usable cores, Spark's local and temp
directories inside ``gridbench/out``, no console progress bar), runs one
measurement in a child process, relays its output (the last line is the
JSON result), and stops every process the run started before it exits.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from gridbench import procfs  # noqa: E402
from gridbench.spec import WORKLOADS  # noqa: E402

MAX_CPUS = 4  # the same local[4] on any machine with at least four cores
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 170


def launch_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        # Python workers import the program from the checkout
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf", "spark.ui.showConsoleProgress=false",
                # the heap is committed and touched up front, so peak RSS
                # moves with the program's off-heap and Python memory rather
                # than with when the collector chose to grow the heap
                "--driver-java-options", shlex.quote(f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
                "pyspark-shell",
            ]
        ),
    )
    return env


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process of the run's session, and wait
    until none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        pids = procfs.session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while procfs.session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    out = os.path.join(ROOT, "gridbench", "out")
    run_dir = os.path.join(out, f"launch-{os.getpid()}")
    cmd = [
        sys.executable, "-m", "gridbench.main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--work", os.path.join(run_dir, "work"), "--cpus", str(cpus),
    ]
    # a terminated launcher still stops the run and removes its files
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    child = None
    try:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=launch_env(run_dir), stdout=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        try:
            stdout, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_session(child.pid, grace_s=2.0)
            stdout, _ = child.communicate()
            print(f"gridbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            child.returncode = child.returncode or 1
    finally:
        if child is not None:
            stop_session(child.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    if child.returncode != 0:
        sys.stderr.write(stdout)  # no result line on stdout for a failed run
        print(f"gridbench: run failed with exit code {child.returncode}", file=sys.stderr)
        return 1
    sys.stdout.write(stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
