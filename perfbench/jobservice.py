"""Workload ``jobservice``: the HTTP job path under a closed loop.

An in-process ``webclient.JobServer(max_concurrent=1)`` (the reference's
single leader) with a fresh state directory serves two client threads.
Each thread submits its next job only after its previous one reached a
terminal status. Jobs alternate between word count over the seeded Zipf
text (``POST /``, 3 reducers, KV-text sink) and ``POST /queries`` jobs
rotating over QUERIES with a parquet sink.

A run is: WARM_ROUNDS untimed jobs per spec, then the closed loop for
``--seconds`` in SEGMENTS segments with a host-speed mark after each;
every job's output is checked afterwards. In traced mode
one client thread reads the status store by the runner's ``sdc-job-<id>``
group after each of its jobs, and each spec is also run twice in-process.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time

from sdc_mapreduce_spark.client import MapReduceClient
from sdc_mapreduce_spark.webclient import JobServer

from perfbench import checks, jobpath
from perfbench.harness import (
    HostSpeed, LayerTotals, Run, SparkProbe, Window, emit_end_to_end, summarize,
)
from perfbench.queryset import emit_query_layers

QUERIES = ("q3_shipping_priority", "events_sessionize", "text_quality", "dedup_bloom_prefilter")
CLIENTS = 2
WARM_ROUNDS = 1  # untimed jobs per spec before the closed loop
SEGMENTS = 4


def _specs():
    """wordcount, query, wordcount, query, ... with the queries rotating."""
    queries = itertools.cycle(QUERIES)
    for i in itertools.count():
        yield {"kind": "wordcount"} if i % 2 == 0 else {"kind": "query", "name": next(queries)}


class Service:
    """The server, a client and the staged word-count inputs of one run."""

    def __init__(self, spark, manifest: dict, work: str) -> None:
        self.sf_dir = manifest["sf_dir"]
        self.server = JobServer(spark, state_dir=os.path.join(work, "state"), max_concurrent=1)
        self.server.start()
        self.client = MapReduceClient(f"http://127.0.0.1:{self.server.port}",
                                      staging_dir=os.path.join(work, "staging"))
        self.staged = [self.client.upload(t["path"]) for t in manifest["text_files"]]
        self.out = os.path.join(work, "jobs")
        self._n = itertools.count()

    def job(self, spec: dict) -> dict:
        out = os.path.join(self.out, f"{next(self._n):05d}-{jobpath.spec_key(spec)}")
        return jobpath.submit_and_wait(self.client, spec, self.sf_dir, out, self.staged)

    def stop(self) -> None:
        self.server.stop()


def _output_problem(rec: dict, oracle: dict, expected_words) -> str | None:
    if rec["kind"] == "wordcount":
        if rec["status"] != "COMPLETED":
            return f"status {rec['status']} {rec.get('error', '')}"
        problems = checks.kv_sink_problems(rec["out"], jobpath.WORDCOUNT_REDUCERS, expected_words)
        return "; ".join(problems[:3]) or None
    return jobpath.query_job_problem(rec, oracle)


def _closed_loop(run: Run, svc: Service, probe: SparkProbe | None, totals: LayerTotals,
                 speed: HostSpeed) -> tuple[list[dict], Window]:
    """SEGMENTS closed-loop segments of ``--seconds / SEGMENTS`` each; the
    clients finish their jobs in flight at the end of a segment, and a
    host-speed mark follows each."""
    specs = _specs()
    lock = threading.Lock()
    recs: list[dict] = []
    window = Window()

    def client_loop(traced: bool, deadline: float, out: list[dict]) -> None:
        while time.time() < deadline:
            with lock:
                spec = next(specs)
            rec = svc.job(spec)
            rec["traced"] = traced
            with lock:
                out.append(rec)
            if traced and rec.get("job_id") is not None:
                totals.add(probe.read([f"sdc-job-{rec['job_id']}"]))

    for _ in range(SEGMENTS):
        seg: list[dict] = []
        window.resume()
        deadline = time.time() + run.seconds / SEGMENTS
        # in traced mode only the first client reads the status store after
        # each of its jobs; the other client's jobs are the untraced baseline
        threads = [
            threading.Thread(target=client_loop, name=f"client-{i}",
                             args=(probe is not None and i == 0, deadline, seg))
            for i in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window.pause(max([r.get("t_seen") or time.time() for r in seg], default=None))
        speed.mark()
        recs += seg
    window.ops = len(recs)
    return recs, window


def run_workload(run: Run, spark, manifest: dict, work: str, svc: Service,
                 speed: HostSpeed) -> None:
    t0 = time.time()
    oracle = checks.oracle_keys(manifest["sf_dir"], list(QUERIES), manifest["oracle_cache"])
    expected = checks.expected_word_counts([t["path"] for t in manifest["text_files"]])
    run.detail["oracle_s"] = time.time() - t0

    specs = [{"kind": "wordcount"}] + [{"kind": "query", "name": q} for q in QUERIES]
    warm = [svc.job(spec) for _ in range(WARM_ROUNDS) for spec in specs]
    probe = SparkProbe(spark) if run.trace else None
    totals = LayerTotals()
    recs, window = _closed_loop(run, svc, probe, totals, speed)

    for rec in warm + recs:
        problem = _output_problem(rec, oracle, expected)
        rec["ok"] = problem is None
        run.op(problem is None, f"job {jobpath.spec_key(rec)}: {problem}")
        if rec.get("t_seen"):
            run.span(f"job:{jobpath.spec_key(rec)}", rec["t_post"], rec["t_seen"],
                     job_id=rec["job_id"], polls=rec["polls"])
    plain = [r for r in recs if not r["traced"]]
    latency = {
        jobpath.spec_key(s): [r["latency_s"] for r in plain
                              if r["ok"] and jobpath.spec_key(r) == jobpath.spec_key(s)]
        for s in specs
    }
    run.detail["job_latency_s"] = latency
    run.detail["job_latency_summary"] = summarize([v for vs in latency.values() for v in vs])
    run.detail["timed"] = {"wall_s": window.wall, "ops": window.ops}
    if not run.trace:
        failed = [r.get("latency_s", window.wall) for r in recs if not r["ok"]]
        emit_end_to_end(run, window, latency, failed, sum(r["ok"] for r in recs),
                        speed.factor())
        return

    layers: dict = {}
    inproc = jobpath.inprocess_round(run, spark, specs, svc.sf_dir, svc.out, svc.staged,
                                     reps=2, layers=layers)
    emit_query_layers(run, layers)
    totals.emit(run)
    traced = [r["latency_s"] for r in recs if r["traced"] and "latency_s" in r]
    plain_lat = [r["latency_s"] for r in plain if "latency_s" in r]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    run.metric("trace.overhead_s", med(traced) - med(plain_lat), "s")
    run.metric("trace.read_s", probe.read_s / max(totals.ops, 1), "s")
    jobpath.emit_job_layers(run, recs, svc.server, inproc)
