"""Record-linkage benchmark: one workload per call, or all of them.

    python3 perfbench/run.py --workload scan_crawl --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --tiny      # every workload, small inputs

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``); the line before it
holds the run's details (versions, box, LinkConfig, raw samples). Exits
non-zero when a check fails. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _box() -> tuple[int, float]:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, kb / 2**20


def _pin_environment(work: str, cores: int, heap_gb: int) -> None:
    """Unset the program's tuning knobs and keep every file the run writes
    inside the checkout. Must run before pyspark is imported."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM the run starts (the Spark launcher too) keeps its temp
        # and perf-data files out of /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def _run_all(args) -> int:
    from workloads import WORKLOADS

    results, status = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        results[name] = res
        status = status or proc.returncode or (0 if res["correct"] else 1)
        print(f"== {name}: correct={res['correct']} "
              f"error_rate={res['failed'] / max(res['attempted'], 1):.3f}")
        for k, m in res["metrics"].items():
            print(f"   {k:28s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps(results))
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the benchmark's own tests")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mix_blink_spark")):
        print(f"mix_blink_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    cores, ram_gb = _box()
    # a quarter of the box's memory, so the JVM, its Python workers and the
    # page cache holding the inputs all fit
    heap_gb = max(1, min(8, int(ram_gb // 4)))
    work = os.path.join(ROOT, ".perfbench", "work")
    _pin_environment(work, cores, heap_gb)
    sys.path[:0] = [HERE, ROOT]

    if args.workload == "all":
        return _run_all(args)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    env = workloads.Env(ROOT, cores)
    if args.trace:
        import traced

        result, details = traced.traced_run(env, args.workload, args.seed, args.tiny)
    else:
        result, details = workloads.timed_run(env, args.workload, args.seed, args.seconds, args.tiny)
    details["box"] = _versions() | {"nproc": cores, "ram_gb": round(ram_gb, 1), "heap_gb": heap_gb}
    print(json.dumps({"details": details}))
    print(json.dumps(result), flush=True)
    if not result["correct"]:
        for p in details.get("problems", []):
            print(f"check failed: {p}", file=sys.stderr)
        return 1
    return 0


def _versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    java_bin = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    try:
        java = subprocess.run([java_bin if os.path.exists(java_bin) else "java", "-version"],
                              capture_output=True, text=True).stderr.splitlines()
    except OSError:
        java = []
    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "java": next((line for line in java if "version" in line), ""),
    }


if __name__ == "__main__":
    sys.exit(main())
