"""Benchmark entry point.

    python3 perfbench/run.py --workload city_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON record of the run, then,
as the last line, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1``. Everything the run writes stays under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # every run must end within 180 s


def host_settings(work: str) -> dict:
    """Fit the program to this host through its deployment settings:
    ``SPARK_GRAFT_CPUS`` from the CPUs this process may use, the driver
    heap from an eighth of the memory, and every temporary file under
    ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = int(fh.readline().split()[1])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_kib // 8 // 1024}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    import pyspark

    return {
        "cpus": cpus,
        "mem_gib": round(mem_kib / 2**20, 2),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["city_dense", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "kblock_spark")):
        print(f"perfbench: no kblock_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    host = host_settings(work)

    import tempfile

    import workloads

    tempfile.tempdir = None  # pick up TMPDIR
    metrics, record = workloads.run(
        args.workload, args.seed, args.seconds, bool(args.trace), work,
        deadline=start + RUN_LIMIT_S,
    )
    record.update(host=host, trace=args.trace, run_s=time.time() - start)
    shutil.rmtree(work, ignore_errors=True)
    records = os.path.join(os.getcwd(), ".perfbench_work", "records.jsonl")
    with open(records, "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
