"""KG-construction benchmark entry point.

    python3 perfbench/run.py --workload extract_ref --seed 1 --seconds 1 --trace 0

Run from the repository root. Prints one JSON line of run details (the
pinned environment, host probe, every job's samples and any output
problems), then, as the last line, the result: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Workloads and
metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HEAP_MB = 2048  # fixed driver heap, whatever the parallelism


def pin_environment(parallelism: int) -> dict:
    """Fix the run environment before numpy or the JVM start: one BLAS
    thread per process, a driver heap independent of parallelism and
    capped at a quarter of physical RAM, and every scratch path inside
    the checkout."""
    state = os.path.join(ROOT, ".perfbench")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = min(HEAP_MB, ram_mb // 4)
    env = {"OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
           "MKL_NUM_THREADS": "1",
           "DUKE_SPARK_DRIVER_MEM": f"{heap_mb}m",
           "DUKE_SPARK_WAREHOUSE": os.path.join(state, "warehouse"),
           "SPARK_LOCAL_DIRS": os.path.join(state, "spark-local"),
           "TMPDIR": os.path.join(state, "tmp"),
           "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    os.environ.update(env)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return {"parallelism": parallelism, "driver_heap_mb": heap_mb,
            "blas_threads": 1, "nproc": len(os.sched_getaffinity(0)),
            "ram_mb": ram_mb, "python": sys.version.split()[0]}


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the JVM and every other process this run started, and wait
    until each has exited."""
    from pyspark import SparkContext

    from perfbench.procfs import descendants

    pids = descendants()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:  # killed below
                pass

    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in filter(alive, pids):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while any(map(alive, pids)) and time.monotonic() < deadline:
            time.sleep(0.1)
        deadline = time.monotonic() + timeout


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_ref", "post_stages", "graph_topics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a "
                         "tiny one)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every job's output before its check "
                         "(the smoke test's fault injection)")
    args = ap.parse_args(argv)

    parallelism = min(4, len(os.sched_getaffinity(0)))
    env = pin_environment(parallelism)
    sys.path.insert(0, ROOT)
    import numpy
    import pyspark

    from perfbench.harness import measure

    env.update(pyspark=pyspark.__version__, numpy=numpy.__version__)
    try:
        result, info = measure(args.workload, args.seed, args.seconds,
                               bool(args.trace), ROOT, parallelism,
                               size=args.size, corrupt=args.corrupt)
    finally:
        stop_processes()
    print(json.dumps({"env": env, **info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
