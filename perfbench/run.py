"""Benchmark entry point.

    python3 perfbench/run.py --workload {filter,near_dedup} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Starts the workload in its own session
(``perfbench/workload.py``), forwards its output, and on exit stops
every process left in that session and waits for each to end.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The exit code
is non-zero when the package is missing, a run fails, or any output
disagrees with the reference.

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` a separate traced run times
each layer (``perfbench/trace_layers.py``) and writes its spans to
``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

import procstat

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("filter", "near_dedup")
# the driver heap, fixed so that runs compare (session.py reads it)
DRIVER_MEM = "1g"
CHILD_TIMEOUT_S = 160


def _stop_session(sid: int) -> None:
    """SIGTERM every process of the session, SIGKILL what is left after
    5 s, and return only once none of them is running."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for pid in procstat.session_pids(sid, live_only=True):
            try:
                os.kill(int(pid), sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline:
            if not procstat.session_pids(sid, live_only=True):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="data-quality-check-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int,
                    help="input rows instead of the workload's own size "
                         "(the smoke test runs the harness on a tiny input)")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    if not os.path.isfile(os.path.join(ROOT, "data_quality_check_spark",
                                       "__init__.py")):
        print(f"perfbench: package data_quality_check_spark not found under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(BENCH_DIR, ".work", str(os.getpid()))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit first runs a launcher JVM; keep it out of /tmp too
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData "
                               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # the perplexity model caches its trained tensor on disk
        "DQC_MODEL_CACHE": os.path.join(BENCH_DIR, ".cache", "models"),
        "PYTHONUNBUFFERED": "1",
    })
    cmd = [sys.executable, os.path.join(BENCH_DIR, "workload.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--t0", repr(time.time()), "--work", work]
    if a.rows:
        cmd += ["--rows", str(a.rows)]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S} s",
              file=sys.stderr)
        child.kill()
        rc = 1
    finally:
        child.wait()
        _stop_session(child.pid)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
