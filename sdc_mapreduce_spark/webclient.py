"""HTTP job-submission facade over the JobQueue.

The reference exposes job submission as a tiny REST endpoint (reference
src/webclient/webclient.cpp:17-55): ``POST /`` with JSON
``{files, shard_size, reducer_count}`` validates the three fields, persists
a job spec (ZooKeeper znodes there, the JobQueue's JSON state dir here) and
replies ``"Job successfully submitted: <id>"``; a master process then picks
the job up and runs the fixed word-count DAG. This module is that surface
on Spark:

- ``POST /`` — same three required fields, same 400 messages on each
  missing field (webclient.cpp:23-28), plus an optional ``output_path``
  (the reference hard-codes its output blob name). The submitted job is the
  reference's one application: word count over the given text files,
  ``reducer_count`` partitions, partition-sorted KV text sink.
- ``GET /jobs/<id>`` — the status the reference stores in
  ``/jobs/job_N/status`` znodes and never exposes over HTTP (users read ZK
  directly); here it's a proper endpoint returning the full job record.
- ``GET /jobs`` — all job records, newest last.

``max_concurrent`` daemon runner threads (default 1: the reference
master's single-leader execute loop, src/master/master.cpp:338-372) drain
the queue FIFO; each blocks on the queue's condition until a job arrives.
``shard_size`` maps to Spark's ``files.maxPartitionBytes`` for the job's
scan: the same knob (input bytes per map task) the reference's byte-range
sharder implements by hand (src/master/sharding.h:28-83).

Usage::

    server = JobServer(spark, state_dir)   # port 0 (the default) -> ephemeral
    server.start()
    requests.post(f"http://localhost:{server.port}/", json={...})
    server.stop()
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from sdc_mapreduce_spark import mapreduce as mr
from sdc_mapreduce_spark.jobs import JobQueue, JobRunner, QueueFullError


def _wordcount_plan(files: list[str]):
    def plan(spark: SparkSession):
        return mr.word_count(mr.read_text(spark, files))

    return plan


def _kv_sink(output_path: str, reducer_count: int):
    def sink(df):
        mr.write_kv_text(
            df,
            output_path,
            key_col="word",
            value_col="cnt",
            num_partitions=reducer_count,
        )

    return sink


class _Handler(BaseHTTPRequestHandler):
    server_version = "SDCMapReduceSpark/1.0"

    # the ThreadingHTTPServer subclass below carries .queue/.runner
    def _reply(self, code: int, payload: dict | str) -> None:
        body = (
            json.dumps(payload) if isinstance(payload, dict) else payload
        ).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # silence per-request stderr noise
        pass

    def _read_json(self) -> dict | None:
        """Parse the drained request body; None means the 400 was sent."""
        try:
            return json.loads(self._body or b"{}")
        except ValueError:  # malformed JSON
            self._reply(400, {"error": "invalid JSON"})
            return None

    def do_POST(self):
        # drain the body FIRST, for every path: replying (404/409/429/...)
        # while the request body sits unread resets the connection on
        # non-trivial payloads, so the client sees a broken pipe instead of
        # the status code
        try:
            length = int(self.headers.get("Content-Length", 0))
        except ValueError:
            # can't drain without a parseable length — reply 400 and close
            # the connection explicitly rather than guessing at the body
            self.close_connection = True
            return self._reply(400, {"error": "invalid Content-Length"})
        self._body = self.rfile.read(length) if length > 0 else b""
        parts = [p for p in self.path.split("/") if p]
        if len(parts) == 3 and parts[0] == "jobs" and parts[2] == "cancel":
            return self._cancel_job(parts[1])
        submit = {
            "": self._submit_wordcount,
            "/queries": self._submit_query,
            "/mapreduce": self._submit_legacy,
        }.get(self.path.rstrip("/"))
        if submit is None:
            return self._reply(404, {"error": "not found"})
        try:
            return submit()
        except QueueFullError:
            # the queue's lock-held CREATED-backlog bound, for every endpoint
            return self._reply(429, {"error": "job queue full"})

    def _submit_wordcount(self):
        """POST / — the reference webclient's word-count submission."""
        body = self._read_json()
        if body is None:
            return None
        # field validation with the reference's exact messages
        # (webclient.cpp:23-28)
        if "reducer_count" not in body:
            return self._reply(400, {"error": "Reducer count missing"})
        if "shard_size" not in body:
            return self._reply(400, {"error": "Shard size missing"})
        if "files" not in body:
            return self._reply(400, {"error": "Input file paths missing"})
        files = body["files"]
        if not isinstance(files, list) or not files:
            return self._reply(400, {"error": "Input file paths missing"})
        try:
            reducer_count = int(body["reducer_count"])
            shard_size = int(body["shard_size"])
        except (TypeError, ValueError):
            return self._reply(
                400, {"error": "reducer_count and shard_size must be integers"}
            )
        # a negative maxPartitionBytes plans an empty scan (the job would
        # complete over no rows) and 0 fails at run time; the sink needs at
        # least one reduce partition
        if reducer_count < 1 or shard_size < 1:
            return self._reply(
                400, {"error": "reducer_count and shard_size must be positive"}
            )
        output_path = body.get("output_path")

        sink = _kv_sink(output_path, reducer_count) if output_path else None
        job_id = self.server.queue.submit(
            _wordcount_plan([str(f) for f in files]),
            sink=sink,
            name=body.get("name", "wordcount"),
            # the reference's per-job shard_size, applied job-scoped by the
            # runner on an isolated child session (input bytes per map task)
            conf={"spark.sql.files.maxPartitionBytes": str(shard_size)},
        )
        return self._submitted(job_id)

    def _submitted(self, job_id: int):
        return self._reply(
            200,
            {"job_id": job_id, "message": f"Job successfully submitted: {job_id}"},
        )

    def _cancel_job(self, job_id_raw: str):
        """POST /jobs/<id>/cancel: cancel a queued or running job (runner
        interrupts the Spark job group of a running one). Terminal jobs
        return 409 with their unchanged status."""
        try:
            job_id = int(job_id_raw)
            before = self.server.queue.status(job_id)
        except (KeyError, ValueError):
            return self._reply(404, {"error": f"no job {job_id_raw}"})
        from sdc_mapreduce_spark.jobs import CREATED, RUNNING

        if before not in (CREATED, RUNNING):
            return self._reply(
                409, {"error": f"job {job_id} already {before}", "status": before}
            )
        status = self.server.runner.cancel(job_id)
        return self._reply(200, {"job_id": job_id, "status": status})

    def _submit_legacy(self):
        """POST /mapreduce — the reference's ALTERNATE (pre-ZooKeeper)
        submitter (reference src/app.py:8-13): a Flask route taking FORM
        fields ``shard_size`` and ``file`` and spawning the master as a
        fire-and-forget subprocess, replying ``{"message": "Job
        submitted"}`` with no job id. Same contract here — urlencoded form
        body, same two fields, same reply — except the job goes through the
        same bounded queue as every other submission instead of an
        unsupervised process spawn (the reference superseded this path with
        the ZK queue for exactly that reason)."""
        from urllib.parse import parse_qs

        form = {
            k: v[-1]
            for k, v in parse_qs(
                (self._body or b"").decode("utf-8", "replace")
            ).items()
        }
        # Flask's request.form['missing'] aborts with 400 — same here.
        if "shard_size" not in form or "file" not in form:
            return self._reply(400, {"error": "shard_size and file required"})
        try:
            shard_size = int(form["shard_size"])
        except ValueError:
            return self._reply(400, {"error": "shard_size must be an integer"})
        if shard_size < 1:
            return self._reply(400, {"error": "shard_size must be positive"})
        self.server.queue.submit(
            _wordcount_plan([form["file"]]),
            name="legacy-mapreduce",
            conf={"spark.sql.files.maxPartitionBytes": str(shard_size)},
        )
        # the legacy reply carries no job id (src/app.py:13) — byte-for-byte
        return self._reply(200, {"message": "Job submitted"})

    def _submit_query(self):
        """POST /queries {name, sf_dir?, output_path?}: run ANY registered
        query from the engine's inventory as a queued job — the step past
        the reference's single hard-coded application (its master runs only
        word count; here the control plane fronts the full query surface).
        Results land as parquet at output_path, or the job completes with
        result_rows only."""
        body = self._read_json()  # body already drained by do_POST
        if body is None:
            return None
        from sdc_mapreduce_spark.catalog import DEFAULT_SF_DIR
        from sdc_mapreduce_spark.queries import REGISTRY

        name = body.get("name")
        if not name:
            return self._reply(400, {"error": "query name missing"})
        if name not in REGISTRY:
            return self._reply(400, {"error": f"unknown query {name!r}"})
        sf_dir = str(body.get("sf_dir") or DEFAULT_SF_DIR)
        output_path = body.get("output_path")
        fn = REGISTRY[name].fn

        def plan(spark, _fn=fn, _sf=sf_dir):
            return _fn(spark, _sf)

        sink = None
        if output_path:
            def sink(df, _out=str(output_path)):
                df.write.mode("overwrite").parquet(_out)

        job_id = self.server.queue.submit(plan, sink=sink, name=f"query:{name}")
        return self._submitted(job_id)

    def do_GET(self):
        parts = [p for p in self.path.split("/") if p]
        if parts == ["queries"]:
            from sdc_mapreduce_spark.queries import REGISTRY

            return self._reply(200, {"queries": sorted(REGISTRY)})
        if parts == ["jobs"]:
            return self._reply(200, {"jobs": self.server.queue.records()})
        if len(parts) == 2 and parts[0] == "jobs":
            try:
                record = self.server.queue.record(int(parts[1]))
            except (KeyError, ValueError):
                return self._reply(404, {"error": f"no job {parts[1]}"})
            return self._reply(200, record)
        return self._reply(404, {"error": "not found"})


class JobServer(ThreadingHTTPServer):
    """HTTP facade + a bounded pool of runner threads over one JobQueue.

    ``max_concurrent`` (default 1 = the reference master's single-leader
    semantics) caps how many jobs execute at once inside the shared Spark
    session — Spark's FAIR/FIFO scheduler multiplexes their stages across
    the same executors, so the bound is about driver-side plan/action
    concurrency, not cluster slots. The queue's CREATED backlog is bounded
    by ``jobs.MAX_PENDING``: submissions past it get HTTP 429 instead of
    unbounded queue growth. Job records persist under ``state_dir``, and a
    server started on the same directory recovers them."""

    daemon_threads = True

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        max_concurrent: int = 1,
    ) -> None:
        super().__init__((host, port), _Handler)
        self.queue = JobQueue(state_dir)
        self.runner = JobRunner(spark, self.queue)
        self.max_concurrent = max(1, int(max_concurrent))
        self._workers: list[threading.Thread] = []

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start(self) -> None:
        self._workers = [threading.Thread(target=self.serve_forever, daemon=True)]
        # runner threads block on the queue's condition, not a poll sleep
        # like the reference master's 5 s loop
        self._workers += [
            threading.Thread(
                target=self.runner.run_pending,
                daemon=True,
                name=f"sdc-runner-{i}",
            )
            for i in range(self.max_concurrent)
        ]
        for t in self._workers:
            t.start()

    def stop(self) -> None:
        self.queue.close()  # wakes idle runner threads
        self.shutdown()
        for t in self._workers:
            t.join(timeout=5)
        self.server_close()
