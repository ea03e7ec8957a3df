#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout.  Each run is isolated: a fresh directory
under ``.bench_run/`` holds the run's inputs, ``TMPDIR``,
``SPARK_LOCAL_DIRS``, the warehouse and the event log, and is the working
directory of the worker process; it is deleted when the run ends, and
every process the run started (Spark JVM, Python workers) is stopped
first.  Traced runs leave their spans under ``.bench_out/``.

The last line of standard output is the result JSON; the line before it
(``DETAIL {...}``) carries the workload's own numbers and noise readings.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "decode_bulk", "schema_churn", "table_commits")
#: hard cap on one run, below the 180 s a run may take
TIMEOUT_S = 170


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the run's process group; wait until it is empty."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for self-tests")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "anglerfish_spark", "__init__.py")):
        print(f"error: no anglerfish_spark package next to {HERE}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "events")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "BENCH_T0": repr(t0),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            # Python workers import the engine from the checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
        }
    )
    env.pop("SPARK_MASTER", None)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--run-dir", run_dir,
        "--out-dir", os.path.join(ROOT, ".bench_out"),
    ] + (["--tiny"] if args.tiny else [])
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    last = ""
    code = 1
    try:
        deadline = t0 + TIMEOUT_S

        def on_alarm(*_):
            raise TimeoutError

        signal.signal(signal.SIGALRM, on_alarm)
        signal.alarm(max(1, int(deadline - time.time())))
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line
                elif line.startswith("DETAIL "):
                    print(line, flush=True)
                else:
                    print(line, file=sys.stderr, flush=True)
            code = proc.wait()
        except TimeoutError:
            print(f"error: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            code = 124
        finally:
            signal.alarm(0)
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if code != 0 or not last:
        print(f"error: worker exited with {code}", file=sys.stderr)
        return code or 1
    print(last, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
