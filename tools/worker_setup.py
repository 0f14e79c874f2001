"""Python worker start-up cost, measured inside the workers.

Runs ``--jobs`` mapInPandas jobs of ``--tasks`` tasks each in a fresh
local session per mode, with a timing daemon in front of Spark's worker
that records, for every task, how long ``pyspark.worker_util.
setup_spark_files`` took and how many ``zipimporter`` objects the worker
holds afterwards. Modes:

- ``stock``: Spark's own ``pyspark.daemon`` (pyspark from ``pyspark.zip``);
- ``pyworker``: the engine daemon as configured (Spark's archives off
  ``sys.path``).

Prints per mode the first Python job's wall time after a JVM-only warm-up
job (daemon start, worker forks and first imports included), the median
of the later jobs, and the per-task
``setup_spark_files`` median / p90 / max with the zipimporter counts.

    python tools/worker_setup.py [--rounds 3] [--jobs 8] [--tasks 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODES = ("stock", "pyworker")

# Imported by the worker as ``python -m _timed_daemon <worker module>``.
_DAEMON = '''
import os, sys, time, zipimport

mode = os.environ["WORKER_SETUP_MODE"]
if mode == "pyworker":
    from sdc_mapreduce_spark import pyworker

    pyworker._drop_archives()

import pyspark.daemon
import pyspark.worker

_setup = pyspark.worker.setup_spark_files


def timed_setup(infile):
    t0 = time.perf_counter()
    _setup(infile)
    dt = time.perf_counter() - t0
    n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    with open(os.environ["WORKER_SETUP_LOG"], "a") as f:
        f.write(f"{os.getpid()} {dt:.6f} {n}\\n")


pyspark.worker.setup_spark_files = timed_setup
pyspark.daemon.manager()
'''


def _one_session(mode: str, jobs: int, tasks: int) -> dict:
    """Child process: one fresh session, ``jobs`` Python jobs; returns the
    job wall times and the per-task records of the timing daemon."""
    sys.path.insert(0, REPO)
    from sdc_mapreduce_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="worker-setup-")
    with open(os.path.join(tmp, "_timed_daemon.py"), "w") as f:
        f.write(_DAEMON)
    log = os.path.join(tmp, "tasks.log")
    spark = get_spark(
        f"worker-setup-{mode}",
        master=f"local[{tasks}]",
        shuffle_partitions=tasks,
        extra_conf={
            "spark.python.daemon.module": "_timed_daemon",
            "spark.executorEnv.PYTHONPATH": os.pathsep.join([tmp, REPO]),
            "spark.executorEnv.WORKER_SETUP_MODE": mode,
            "spark.executorEnv.WORKER_SETUP_LOG": log,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # a JVM-only job first, so the first Python job's time is the daemon's
    # start, the worker forks and their first imports, not executor start-up
    spark.range(1000).selectExpr("sum(id)").collect()
    df = spark.range(tasks * 64).repartition(tasks)

    def kernel(batches):
        for pdf in batches:
            yield pdf

    walls = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        df.mapInPandas(kernel, "id long").write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    spark.stop()
    with open(log) as f:
        records = [line.split() for line in f]
    shutil.rmtree(tmp)
    return {
        "walls": walls,
        "setup_s": [float(r[1]) for r in records],
        "zipimporters": [int(r[2]) for r in records],
    }


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--jobs", type=int, default=8)
    ap.add_argument("--tasks", type=int, default=4)
    ap.add_argument("--child", choices=MODES, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        print(json.dumps(_one_session(args.child, args.jobs, args.tasks)))
        return 0
    runs: dict[str, list[dict]] = {m: [] for m in MODES}
    for rnd in range(args.rounds):
        order = MODES if rnd % 2 == 0 else MODES[::-1]
        for mode in order:
            out = subprocess.run(
                [sys.executable, __file__, "--child", mode, "--jobs", str(args.jobs),
                 "--tasks", str(args.tasks)],
                capture_output=True, text=True, check=True,
            ).stdout
            runs[mode].append(json.loads(out.strip().splitlines()[-1]))
            r = runs[mode][-1]
            print(f"round {rnd + 1} {mode:9s} first job {r['walls'][0]:.3f} s  "
                  f"later jobs median {statistics.median(r['walls'][1:]):.3f} s  "
                  f"setup_spark_files median {statistics.median(r['setup_s']) * 1e3:.2f} ms "
                  f"({len(r['setup_s'])} tasks)  zipimporters {sorted(set(r['zipimporters']))}")
    print()
    for mode in MODES:
        setup = [s for r in runs[mode] for s in r["setup_s"]]
        zips = sorted({z for r in runs[mode] for z in r["zipimporters"]})
        first = [r["walls"][0] for r in runs[mode]]
        later = [w for r in runs[mode] for w in r["walls"][1:]]
        print(f"{mode:9s} setup_spark_files per task: median {statistics.median(setup) * 1e3:.2f} ms, "
              f"p90 {_pct(setup, 0.9) * 1e3:.2f} ms, max {max(setup) * 1e3:.2f} ms over {len(setup)} tasks; "
              f"zipimporters per worker {zips}; first job median {statistics.median(first):.3f} s "
              f"(runs {', '.join(f'{x:.3f}' for x in first)}); later jobs median {statistics.median(later):.3f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
