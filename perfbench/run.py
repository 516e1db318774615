"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Derives the run environment from the
machine (CPU count, driver heap from RAM, Spark scratch and temp dirs
inside the checkout, the checkout on PYTHONPATH so Python workers can
import the engine), then runs the workload in a fresh child process
and relays its result line. Workloads: serve, batch.
Notes on what each measures: perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "batch")
CHILD_TIMEOUT_S = 170


def machine_env(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = max(1024, min(4096, ram // 4 // 2**20))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def stop_group(child: subprocess.Popen) -> None:
    """Stop every process of the child's group (the child, its JVM and
    Python workers) and wait until the group is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            child.poll()
            try:
                os.killpg(child.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mcp_vector_search_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(base, "traces")
    env = machine_env(work)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"], traces):
        os.makedirs(d, exist_ok=True)
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", work,
        "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
    ]
    # own process group: the child's JVM and Python workers are stopped
    # with it whatever way the run ends
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
        rc = child.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        out, rc = "", 124
    finally:
        stop_group(child)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: {args.workload} run failed (exit {rc})", file=sys.stderr)
        return rc or 1
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
