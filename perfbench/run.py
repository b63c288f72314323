"""Benchmark launcher for the spinterps_spark retention engine.

    python3 perfbench/run.py --workload build|maintain --seed N \
        --seconds S --trace 0|1

Run it from the root of a source checkout. It sets the environment the
engine needs on a 4-core / ~15 GB box for its own processes only (no repo
file changes), runs perfbench/harness.py in a new session, relays
its standard output (the last line is the JSON result), stops every
process the run started and removes its scratch directory. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

from procs import session_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
# the whole run, set-up included, must end well inside 180 s
CHILD_TIMEOUT_S = 170


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def driver_mem() -> str:
    # a third of the box, at most 8g: session.py's 24g default does not fit
    # a 15 GB machine, and the benchmark's store is a few hundred MB
    return f"{max(1, min(8, int(mem_total_gb() / 3)))}g"


def child_env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    # SPARK_LOCAL_DIRS, when set by the caller, would override the
    # spark.local.dir that session.py derives from SPARK_GRAFT_LOCAL_DIR
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "shuffle")
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "shuffle")
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    return env


def stop_session(sid: int) -> None:
    """SIGTERM every process of the run's session, SIGKILL what is left
    after 10 s, and wait until none runs."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10.0
        while time.time() < deadline:
            if not session_pids(sid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("build", "maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "spinterps_spark", "__init__.py")):
        print(f"perfbench: no spinterps_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("shuffle", "tmp"):
        os.makedirs(os.path.join(WORK, sub))
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--root", ROOT]
    proc = subprocess.Popen(cmd, env=child_env(), cwd=ROOT,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s, stopped",
              file=sys.stderr)
        out, code = "", 3
    finally:
        stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    if code != 0:
        # no result line on failure: the partial output goes to stderr
        sys.stderr.write(out)
        return code or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
