"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dedup_text --seed 1 --seconds 18 --trace 0

Steps: generate (or reuse) the seed's inputs, start the Spark session and
warm it up (``setup_s``, which excludes input generation), run the
workload (see ``queryset.py`` and ``jobservice.py``), check every output,
stop the JVM and wait for it. With ``--trace 0`` the last stdout line
carries the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics. The line before it is a detail record (environment,
host steal and load, raw samples); spans and the detail record are also
written to ``.perfbench/results/``.

End-to-end figures are scaled to a nominal host speed: on the shared host
the same run reads up to ~2.5x slower at some times than at others.
``op_latency_s`` and ``ops_per_s`` use the host-speed factor of
``harness.HostSpeed`` (per-layer metric ``host.speed_factor``);
``setup_s`` uses ``harness.python_reference_s`` taken just before the
JVM starts and just after set-up. The unscaled figures are in the detail
record under ``unscaled``.

Inputs, oracle hashes and results live under ``.perfbench/`` at the root
of the checkout; Spark's local and temp directories under a per-run
directory there, removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("dedup_text", "jobservice_closed_loop")
HARD_LIMIT_S = 170  # the run is killed (JVM first) past this


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(run_dir: str) -> dict:
    """Keep every file Spark and Python write inside the checkout, and size
    the session for a small shared machine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _warm_up(spark) -> None:
    """One small JVM job on data unrelated to any workload, so the first
    measured step does not pay executor start-up. Cold costs specific to a
    workload (Python workers, plan code generation) are paid by its
    untimed check pass."""
    spark.range(1000).selectExpr("sum(id)").collect()


def _stop_jvm(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    from perfbench import gen
    from perfbench.harness import (
        PYTHON_REFERENCE_NOMINAL_S, HostSpeed, HostWindow, Run, RssSampler, environment, log,
        process_start_time, python_reference_s, write_json,
    )

    t_proc = process_start_time()
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    extra_conf = _configure_env(run_dir)
    # the program under test; absent -> ImportError, no result line
    from sdc_mapreduce_spark.session import get_spark

    from perfbench import jobservice, queryset

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    host = HostWindow()
    rss = RssSampler()
    rss.start()

    t0 = time.time()
    manifest = gen.build(work, args.workload, args.seed)
    manifest["oracle_cache"] = os.path.join(os.path.dirname(manifest["sf_dir"]), "oracle.json")
    gen_s = time.time() - t0
    run.span("generate", t0, t0 + gen_s)

    setup_ref = [python_reference_s()]
    t1 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm_proc = getattr(SparkContext._gateway, "proc", None)

    def _watchdog() -> None:
        log(f"run exceeded {HARD_LIMIT_S}s; killing the JVM and exiting")
        if jvm_proc is not None:
            jvm_proc.kill()
        os._exit(3)

    timer = threading.Timer(max(HARD_LIMIT_S - (time.time() - t_proc), 1), _watchdog)
    timer.daemon = True
    timer.start()
    t2 = time.time()
    _warm_up(spark)
    svc = jobservice.Service(spark, manifest, run_dir) if args.workload != "dedup_text" else None
    t3 = time.time()
    setup_ref.append(python_reference_s())
    speed = HostSpeed(spark)
    run.span("session.start", t1, t2)
    run.span("session.warmup", t2, t3)
    setup_s = t3 - t_proc - (t1 - t0)  # input generation and the reference left out
    run.metric("session.start_s", t2 - t1, "s")
    run.metric("session.warmup_s", t3 - t2, "s")
    run.detail["environment"] = environment(spark, manifest)
    run.detail["generate_s"] = gen_s

    try:
        if svc is None:
            queryset.run_workload(run, spark, manifest, run_dir, speed)
        else:
            try:
                jobservice.run_workload(run, spark, manifest, run_dir, svc, speed)
            finally:
                svc.stop()
    finally:
        _stop_jvm(spark)
        rss.stop()
    timer.cancel()
    # JVM start-up is over before the Spark reference can run
    run.metric("setup_s", setup_s * PYTHON_REFERENCE_NOMINAL_S / min(setup_ref), "s")
    run.detail.setdefault("unscaled", {})["setup_s"] = setup_s
    run.metric("process.peak_rss_mb", rss.peak / 1e6, "MB")
    run.metric("host.speed_factor", speed.factor(), "ratio")
    run.detail["host"] = {**host.close(), "reference_s": speed.samples,
                          "speed_factor": speed.factor(), "setup_reference_s": setup_ref}
    run.detail["failures"] = run.failures
    shutil.rmtree(run_dir, ignore_errors=True)

    result = run.result(names)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "attempted": run.attempted, "failed": run.failed,
              "all_metrics": {k: v[0] for k, v in run.metrics.items()}, **run.detail}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    write_json(os.path.join(work, "results", f"{tag}.json"), detail)
    write_json(os.path.join(work, "results", f"{tag}-spans.json"), run.spans)
    if args.trace:
        for n in names:
            log(f"{n:32s} {run.metrics[n][0]:14.6f} {run.metrics[n][1]}")
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
