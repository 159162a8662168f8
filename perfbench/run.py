#!/usr/bin/env python3
"""Benchmark launcher: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``, run from the repository root.

It pins host-fitting Spark settings, lands the workload's seeded inputs
before any clock starts, runs the measurement in a fresh worker process
(``worker.py``), waits for that process and everything it started to
end, and prints the run's result as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.

Everything it writes stays under ``.bench_work/`` in the current
directory, which is removed at the end of the run.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402,F401  (fails fast when the benchmark is incomplete)
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "fledge_south_csvplayback_spark"
# A run must end within 180 s; the worker is stopped in time to clean up.
# Measured worker walls on a 4-vCPU VM are in METRICS.md.
RUN_DEADLINE_S = 174
MAX_CPUS = 4
DRIVER_MEMORY = "3g"  # well under the session default of 48g


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="small inputs, for the smoke test")
    return p.parse_args(argv)


def host_env(root: str, work: str) -> dict[str, str]:
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM spark-submit starts: temp files under the work dir,
        # and no hsperfdata file, which the JVM would put in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p
        ),
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def stop_group(pgid: int, grace_s: float) -> None:
    """SIGTERM, then SIGKILL, what is left of the worker's process group
    (the JVM and any Python workers), waiting until no member is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: {PACKAGE}/ not found under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    try:
        env = host_env(root, work)
        print(
            f"perfbench: workload={args.workload} seed={args.seed} "
            f"seconds={args.seconds:g} trace={args.trace} "
            f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
            f"SPARK_DRIVER_MEMORY={env['SPARK_DRIVER_MEMORY']}",
            flush=True,
        )
        wl = WORKLOADS[args.workload](work, args.tiny)
        wl.land(args.seed)
        if args.trace:
            for probe in wl.probes():
                probe.land(args.seed)
        cfg = {
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "tiny": args.tiny,
            "work": work,
            "t_spawn": time.time(),
        }
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            env=env,
            cwd=root,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=RUN_DEADLINE_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            print("error: worker timed out", file=sys.stderr)
            os.killpg(proc.pid, signal.SIGKILL)
            code = proc.wait()
        stop_group(proc.pid, 10.0)
        if code != 0:
            print(f"error: worker exited with {code}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
