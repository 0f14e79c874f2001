"""Workload ``dedup_text``: the Python/Arrow-kernel query set, run
in-process from the benchmark thread.

A run is: one untimed check pass (each query collected and compared with
its DuckDB oracle), WARM_PASSES untimed passes, then timed passes (each
query built and run to the noop sink, pins drained after it) until
``--seconds`` of them have passed, with at least MIN_TIMED_PASSES passes;
the last pass stops at the deadline. A host-speed mark follows each timed
query, outside the timed window. In traced mode the timed passes alternate
between traced and untraced (the difference is the tracing overhead), and
the query set is also pushed once through the HTTP job path and once
in-process with the same parquet sink.
"""

from __future__ import annotations

import os
import statistics
import time

from sdc_mapreduce_spark import cache
from sdc_mapreduce_spark.client import MapReduceClient
from sdc_mapreduce_spark.queries import REGISTRY
from sdc_mapreduce_spark.webclient import JobServer

from perfbench import checks, jobpath
from perfbench.harness import (
    HostSpeed, LayerTotals, Run, SparkProbe, Window, emit_end_to_end, summarize,
)

QUERIES = (
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix",
    "dedup_embedding_ann",
    "simsearch_topk_arrow",
)

# Each query keeps getting faster over its first few runs in a JVM (JIT
# compilation); the check pass takes the steepest part. More untimed
# passes would not fit the run budget on a slow host.
WARM_PASSES = 0
MIN_TIMED_PASSES = 2


def _check_pass(run: Run, spark, sf_dir: str, oracle: dict) -> None:
    for q in QUERIES:
        t0 = time.time()
        try:
            df = REGISTRY[q].fn(spark, sf_dir)
            key = checks.result_key(list(df.columns), [tuple(r) for r in df.collect()])
            problem = checks.mismatch(key, oracle[q])
        except Exception as exc:
            problem = f"raised {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        finally:
            cache.drain_pins(spark)
        run.op(problem is None, f"check {q}: {problem}")
        run.span(f"check:{q}", t0, time.time(), ok=problem is None)


class _Pass:
    """One pass over QUERIES; traced passes set a job group around each
    builder call and each action and read the status store after."""

    def __init__(self, run: Run, spark, sf_dir: str, probe: SparkProbe | None,
                 totals: LayerTotals, layers: dict, name: str) -> None:
        self.run, self.spark, self.sf_dir = run, spark, sf_dir
        self.probe, self.totals, self.layers, self.name = probe, totals, layers, name
        self.latency: dict[str, float] = {}
        self.failed: list[float] = []
        self.ops = 0

    def go(self, stop_at: float | None = None, between=None) -> None:
        """Run the queries in order, calling ``between`` after each; none
        is started after ``stop_at``."""
        t0 = time.time()
        parent = self.run.span(self.name, t0, t0, traced=self.probe is not None)
        for q in QUERIES:
            if stop_at is not None and time.time() >= stop_at:
                break
            self._query(q, parent)
            if between is not None:
                between()
        self.run.close_span(parent, time.time())

    def _query(self, q: str, parent: int) -> None:
        sc = self.spark.sparkContext
        traced = self.probe is not None
        groups = (f"pb-{self.name}-{q}-build", f"pb-{self.name}-{q}-exec")
        self.ops += 1
        t0 = time.time()
        try:
            if traced:
                sc.setJobGroup(groups[0], f"perfbench {q} build")
            df = REGISTRY[q].fn(self.spark, self.sf_dir)
            t1 = time.time()
            if traced:
                sc.setJobGroup(groups[1], f"perfbench {q} exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            ok, why = True, ""
        except Exception as exc:
            t1 = t2 = time.time()
            ok, why = False, f"{q} raised {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        finally:
            if traced:
                sc.setJobGroup("", "")
        pins = len(cache.pinned_frames(self.spark))
        cache.drain_pins(self.spark)
        t3 = time.time()
        self.run.op(ok, why)
        if not ok:
            self.failed.append(t2 - t0)
            return
        self.latency[q] = t2 - t0
        span = self.run.span(f"query:{q}", t0, t2, parent)
        self.run.span("build", t0, t1, span)
        self.run.span("exec", t1, t2, span)
        self.run.span("drain", t2, t3, span)
        if traced:
            eager = len(sc.statusTracker().getJobIdsForGroup(groups[0]))
            self.totals.add(self.probe.read(list(groups)))
            for k, v in (("build_s", t1 - t0), ("exec_s", t2 - t1), ("eager_jobs", eager),
                         ("pins", pins), ("drain_s", t3 - t2)):
                self.layers.setdefault(k, []).append(v)


def _job_round(run: Run, spark, sf_dir: str, work: str,
               oracle: dict) -> tuple[list[dict], JobServer]:
    """Each query once through JobServer, POST /queries with a parquet sink;
    each output is checked against the oracle."""
    server = JobServer(spark, state_dir=os.path.join(work, "state"), max_concurrent=1)
    server.start()
    client = MapReduceClient(f"http://127.0.0.1:{server.port}",
                             staging_dir=os.path.join(work, "staging"))
    recs = []
    for q in QUERIES:
        spec = {"kind": "query", "name": q}
        rec = jobpath.submit_and_wait(client, spec, sf_dir, os.path.join(work, "jobs", q), [])
        problem = jobpath.query_job_problem(rec, oracle)
        run.op(problem is None, f"job {q}: {problem}")
        recs.append(rec)
    return recs, server


def emit_query_layers(run: Run, layers: dict[str, list[float]]) -> None:
    """Per-operation means of the builder, action and cache layers."""
    mean = lambda k: statistics.fmean(layers[k]) if layers.get(k) else 0.0  # noqa: E731
    run.metric("queries.build_s", mean("build_s"), "s")
    run.metric("queries.exec_s", mean("exec_s"), "s")
    run.metric("queries.eager_jobs", mean("eager_jobs"), "count")
    run.metric("cache.pins", mean("pins"), "count")
    run.metric("cache.drain_s", mean("drain_s"), "s")


def run_workload(run: Run, spark, manifest: dict, work: str, speed: HostSpeed) -> None:
    sf_dir = manifest["sf_dir"]
    t0 = time.time()
    oracle = checks.oracle_keys(sf_dir, list(QUERIES), manifest["oracle_cache"])
    run.detail["oracle_s"] = time.time() - t0
    _check_pass(run, spark, sf_dir, oracle)

    probe = SparkProbe(spark) if run.trace else None
    totals, layers = LayerTotals(), {}
    for i in range(WARM_PASSES):
        _Pass(run, spark, sf_dir, None, totals, layers, f"warm-{i}").go()

    passes: list[tuple[bool, _Pass]] = []
    window = Window()

    def between_queries() -> None:
        window.pause()
        speed.mark()
        window.resume()

    while len(passes) < MIN_TIMED_PASSES or window.wall < run.seconds:
        traced = run.trace and len(passes) % 2 == 0
        p = _Pass(run, spark, sf_dir, probe if traced else None, totals, layers,
                  f"pass-{len(passes)}")
        window.resume()
        p.go(time.time() + run.seconds - window.wall if len(passes) >= MIN_TIMED_PASSES else None,
             between_queries)
        window.pause()
        passes.append((traced, p))
    window.ops = sum(p.ops for _, p in passes)

    plain = [p for traced, p in passes if not traced]
    latency = {q: [p.latency[q] for p in plain if q in p.latency] for q in QUERIES}
    run.detail["per_query_s"] = {
        q: [p.latency.get(q) for _, p in passes] for q in QUERIES
    }
    run.detail["query_latency_summary"] = summarize([v for vs in latency.values() for v in vs])
    run.detail["timed"] = {"wall_s": window.wall, "ops": window.ops}
    if not run.trace:
        emit_end_to_end(run, window, latency, [v for p in plain for v in p.failed],
                        sum(len(p.latency) for p in plain),
                        speed.factor())
        return

    emit_query_layers(run, layers)
    totals.emit(run)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    traced_lat = [v for traced, p in passes if traced for v in p.latency.values()]
    plain_lat = [v for p in plain for v in p.latency.values()]
    run.metric("trace.overhead_s", med(traced_lat) - med(plain_lat), "s")
    run.metric("trace.read_s", probe.read_s / max(totals.ops, 1), "s")
    run.detail["layers_by_op"] = layers

    recs, server = _job_round(run, spark, sf_dir, work, oracle)
    try:
        specs = [{"kind": "query", "name": q} for q in QUERIES]
        inproc = jobpath.inprocess_round(run, spark, specs, sf_dir, work, [], reps=1)
        jobpath.emit_job_layers(run, recs, server, inproc)
    finally:
        server.stop()
