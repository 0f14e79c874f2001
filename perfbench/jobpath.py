"""The HTTP job path as a client sees it: submit through
``client.MapReduceClient`` or ``POST /queries``, poll with the SDK's
``JobHandle.wait``, and read the ``webclient.JobServer`` job records."""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request

from sdc_mapreduce_spark import cache
from sdc_mapreduce_spark import mapreduce as mr
from sdc_mapreduce_spark.client import DEFAULT_SHARD_SIZE, JobHandle, MapReduceClient
from sdc_mapreduce_spark.queries import REGISTRY

from perfbench import checks
from perfbench.harness import Run, dir_bytes

WORDCOUNT_REDUCERS = 3


class CountingHandle(JobHandle):
    """``JobHandle`` that counts status polls and notes when the terminal
    status was first seen; ``wait`` itself is the SDK's."""

    polls = 0
    seen_at = 0.0

    def status(self) -> dict:
        self.polls += 1
        st = super().status()
        if st["status"] not in ("CREATED", "RUNNING"):
            self.seen_at = time.time()
        return st


def post_query(base_url: str, name: str, sf_dir: str, output_path: str) -> int:
    """``POST /queries`` (the SDK covers only the word-count endpoint)."""
    body = json.dumps({"name": name, "sf_dir": sf_dir, "output_path": output_path})
    req = urllib.request.Request(
        f"{base_url}/queries", data=body.encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())["job_id"]


def submit_and_wait(client: MapReduceClient, spec: dict, sf_dir: str, out: str,
                    staged: list[str]) -> dict:
    """Run one job spec through the service and return its client-side
    record. ``spec`` is ``{"kind": "wordcount"}`` or ``{"kind": "query",
    "name": ...}``. HTTP errors and timeouts become ``status="ERROR"``."""
    rec = {**spec, "out": out, "t_post": time.time(), "status": "ERROR"}
    try:
        if spec["kind"] == "wordcount":
            job_id = client.submit(
                staged, reducer_count=WORDCOUNT_REDUCERS, output_path=out
            ).job_id
        else:
            job_id = post_query(client.base_url, spec["name"], sf_dir, out)
        rec["submit_s"] = time.time() - rec["t_post"]
        handle = CountingHandle(client.base_url, job_id)
        rec["status"] = handle.wait(timeout=120.0)
        rec.update(job_id=job_id, polls=handle.polls, t_seen=handle.seen_at)
        rec["latency_s"] = handle.seen_at - rec["t_post"]
    except Exception as exc:  # HTTP error, timeout, refused connection
        rec["error"] = f"{type(exc).__name__}: {exc}"
    return rec


def query_job_problem(rec: dict, oracle: dict) -> str | None:
    """None when a ``POST /queries`` job completed and its parquet output
    matches the query's oracle key, else the reason."""
    if rec["status"] != "COMPLETED":
        return f"status {rec['status']} {rec.get('error', '')}"
    try:
        got = checks.parquet_result_key(rec["out"])
    except (OSError, ValueError) as exc:  # missing output; ArrowInvalid is a ValueError
        return f"output unreadable: {exc}"
    return checks.mismatch(got, oracle[rec["name"]])


def plan_inprocess(spark, spec: dict, sf_dir: str, out: str, staged: list[str]):
    """The same job spec the runner executes, called directly: returns the
    built frame and its sink. Word count gets ``webclient``'s plan and KV
    sink on a child session with the job's shard size; a query gets its
    registry builder and a parquet sink."""
    if spec["kind"] == "wordcount":
        session = spark.newSession()
        session.conf.set("spark.sql.files.maxPartitionBytes", str(DEFAULT_SHARD_SIZE))
        df = mr.word_count(mr.read_text(session, staged))
        return df, lambda: mr.write_kv_text(
            df, out, key_col="word", value_col="cnt", num_partitions=WORDCOUNT_REDUCERS
        )
    df = REGISTRY[spec["name"]].fn(spark, sf_dir)
    return df, lambda: df.write.mode("overwrite").parquet(out)


def spec_key(spec: dict) -> str:
    return spec.get("name") or spec["kind"]


def inprocess_round(run: Run, spark, specs: list[dict], sf_dir: str, work: str,
                    staged: list[str], reps: int, layers: dict | None = None,
                    ) -> dict[str, list[float]]:
    """Every spec ``reps`` times, called directly from the benchmark thread
    with job groups around builder and sink; returns build+sink seconds by
    spec. With ``layers``, builder/action/cache figures are added to it."""
    sc = spark.sparkContext
    times: dict[str, list[float]] = {}
    for rep in range(reps):
        for spec in specs:
            key = spec_key(spec)
            groups = (f"pb-inproc-{rep}-{key}-build", f"pb-inproc-{rep}-{key}-exec")
            t0 = t1 = time.time()
            try:
                sc.setJobGroup(groups[0], f"perfbench in-process {key} build")
                _, sink = plan_inprocess(
                    spark, spec, sf_dir, os.path.join(work, "inproc", f"{rep}-{key}"), staged)
                t1 = time.time()
                sc.setJobGroup(groups[1], f"perfbench in-process {key} exec")
                sink()
                ok, why = True, ""
            except Exception as exc:
                ok, why = False, f"in-process {key} raised {type(exc).__name__}"
            finally:
                sc.setJobGroup("", "")
            t2 = time.time()
            pins = len(cache.pinned_frames(spark))
            cache.drain_pins(spark)
            t3 = time.time()
            run.op(ok, why)
            if not ok:
                continue
            times.setdefault(key, []).append(t2 - t0)
            if layers is not None:
                for k, v in (("build_s", t1 - t0), ("exec_s", t2 - t1), ("pins", pins),
                             ("eager_jobs", len(sc.statusTracker().getJobIdsForGroup(groups[0]))),
                             ("drain_s", t3 - t2)):
                    layers.setdefault(k, []).append(v)
    return times


def emit_job_layers(run: Run, recs: list[dict], server, inprocess: dict[str, list[float]]) -> None:
    """Job-layer metrics from client records and the server's job records,
    plus the job-path overhead against in-process runs of the same specs."""
    done = [r for r in recs if r.get("job_id") is not None]
    jobs = {j.job_id: j for j in server.queue.all()}
    waits, runs, notices = [], [], []
    for r in done:
        j = jobs[r["job_id"]]
        if j.started_at and j.finished_at:
            waits.append(j.started_at - j.submitted_at)
            runs.append(j.finished_at - j.started_at)
            notices.append(r["t_seen"] - j.finished_at)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    run.metric("jobs.queue_wait_s.p50", med(waits), "s")
    run.metric("jobs.run_s.p50", med(runs), "s")
    run.metric("client.submit_s.p50", med([r["submit_s"] for r in done]), "s")
    run.metric("client.notice_s.p50", med(notices), "s")
    run.metric("client.polls_per_job",
               sum(r["polls"] for r in done) / max(len(done), 1), "count")
    run.metric("sink.mb", sum(dir_bytes(r["out"]) for r in done) / max(len(done), 1) / 1e6, "MB")
    overhead = []
    for key, times in inprocess.items():
        lat = [r["latency_s"] for r in done if spec_key(r) == key]
        if lat and times:
            overhead.append(statistics.median(lat) - statistics.median(times))
    run.metric("jobpath.inprocess_s.p50", med([t for ts in inprocess.values() for t in ts]), "s")
    run.metric("jobpath.overhead_s.p50", med(overhead), "s")
    run.detail["jobs"] = {
        "queue_wait_s": waits, "run_s": runs, "notice_s": notices,
        "latency_by_spec": {
            k: [r["latency_s"] for r in done if spec_key(r) == k] for k in inprocess
        },
        "inprocess_by_spec": inprocess,
    }
