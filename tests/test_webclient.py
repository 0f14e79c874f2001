"""HTTP job-submission facade: the reference webclient's REST contract
(POST {files, shard_size, reducer_count} → job id, field-by-field 400s,
reference src/webclient/webclient.cpp:17-55) served over the JobQueue, plus
the GET status surface the reference keeps in ZooKeeper znodes."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from sdc_mapreduce_spark.webclient import JobServer


@pytest.fixture()
def server(spark, tmp_path):
    srv = JobServer(spark, str(tmp_path / "state"))
    srv.start()
    yield srv
    srv.stop()


def _post(port: int, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _get(port: int, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}", timeout=30
        ) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_submit_wordcount_over_http_end_to_end(server, tmp_path):
    inp = tmp_path / "input.txt"
    inp.write_text("hello world\nhello again\nworld world\n")
    out = tmp_path / "out"

    code, body = _post(
        server.port,
        {
            "files": [str(inp)],
            "shard_size": 1 << 20,
            "reducer_count": 2,
            "output_path": str(out),
        },
    )
    assert code == 200
    job_id = body["job_id"]
    assert body["message"] == f"Job successfully submitted: {job_id}"

    assert server.queue.wait_for(job_id) == "COMPLETED"
    code, status = _get(server.port, f"/jobs/{job_id}")
    assert code == 200
    assert status["status"] == "COMPLETED"
    assert status["error"] is None

    # the sink wrote partition-sorted "key value" text; merged counts must
    # match the input
    counts: dict[str, int] = {}
    for part in out.glob("part-*"):
        for line in part.read_text().splitlines():
            k, v = line.split()
            counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"hello": 2, "world": 3, "again": 1}


def test_submit_validation_messages(server, tmp_path):
    """Field-by-field 400s with the reference's exact messages
    (webclient.cpp:23-28), and 400 for a non-positive shard size or
    reducer count."""
    inp = str(tmp_path / "x.txt")
    not_positive = "reducer_count and shard_size must be positive"
    cases = [
        ({"shard_size": 1, "files": [inp]}, "Reducer count missing"),
        ({"reducer_count": 1, "files": [inp]}, "Shard size missing"),
        ({"reducer_count": 1, "shard_size": 1}, "Input file paths missing"),
        ({"reducer_count": 1, "shard_size": 1, "files": []}, "Input file paths missing"),
        ({"reducer_count": 1, "shard_size": 0, "files": [inp]}, not_positive),
        ({"reducer_count": 1, "shard_size": -1, "files": [inp]}, not_positive),
        ({"reducer_count": 0, "shard_size": 1, "files": [inp]}, not_positive),
        ({"reducer_count": -3, "shard_size": 1, "files": [inp]}, not_positive),
    ]
    for payload, msg in cases:
        code, body = _post(server.port, payload)
        assert code == 400, payload
        assert body["error"] == msg


def test_failed_job_reports_error_status(server, tmp_path):
    code, body = _post(
        server.port,
        {
            "files": [str(tmp_path / "does_not_exist.txt")],
            "shard_size": 1 << 20,
            "reducer_count": 1,
        },
    )
    assert code == 200
    job_id = body["job_id"]
    assert server.queue.wait_for(job_id) == "FAILED"
    _, status = _get(server.port, f"/jobs/{job_id}")
    assert status["error"]


def test_jobs_listing_and_unknown_job(server, tmp_path):
    code, body = _get(server.port, "/jobs/99999")
    assert code == 404
    inp = tmp_path / "a.txt"
    inp.write_text("a b\n")
    _post(
        server.port,
        {"files": [str(inp)], "shard_size": 1024, "reducer_count": 1},
    )
    code, body = _get(server.port, "/jobs")
    assert code == 200
    assert len(body["jobs"]) >= 1
    assert {j["job_id"] for j in body["jobs"]}


def test_client_sdk_end_to_end(server, tmp_path):
    """The client SDK workflow mirroring the reference's
    clientsdk/submit_map_reduce.py: upload inputs to staging, POST the job
    with the reference's default shard_size/reducer_count, poll to
    completion, read the partition-sorted output."""
    from sdc_mapreduce_spark.client import MapReduceClient

    src = tmp_path / "local_input.txt"
    src.write_text("x y\nx z\n")
    out = tmp_path / "sdk_out"

    client = MapReduceClient(
        f"http://127.0.0.1:{server.port}", staging_dir=str(tmp_path / "staging")
    )
    staged = client.upload(str(src))
    assert staged != str(src) and "staging" in staged

    handle = client.submit([staged], output_path=str(out), name="sdk-wc")
    assert handle.wait() == "COMPLETED"
    assert handle.status()["name"] == "sdk-wc"

    counts: dict[str, int] = {}
    for part in out.glob("part-*"):
        for line in part.read_text().splitlines():
            k, v = line.split()
            counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"x": 2, "y": 1, "z": 1}


def test_non_integer_counts_get_400_and_conf_does_not_leak(server, spark, tmp_path):
    code, body = _post(
        server.port,
        {"files": ["x"], "shard_size": "huge", "reducer_count": 1},
    )
    assert code == 400
    assert "integer" in body["error"]

    # a completed job's shard_size must not leak into the shared session
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    inp = tmp_path / "leak.txt"
    inp.write_text("a b\n")
    code, body = _post(
        server.port,
        {"files": [str(inp)], "shard_size": 1024, "reducer_count": 1},
    )
    assert code == 200
    assert server.queue.wait_for(body["job_id"]) == "COMPLETED"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before


def test_client_cli_submits_and_waits(server, tmp_path, capsys):
    """The CLI twin of the reference's submit executable: stage, submit,
    wait, exit 0 on completion."""
    from sdc_mapreduce_spark.client import main

    src = tmp_path / "cli_input.txt"
    src.write_text("p q\np r\n")
    out = tmp_path / "cli_out"
    rc = main(
        [
            "--url",
            f"http://127.0.0.1:{server.port}",
            "--files",
            str(src),
            "--output",
            str(out),
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "Job successfully submitted" in printed and "COMPLETED" in printed
    counts: dict[str, int] = {}
    for part in out.glob("part-*"):
        for line in part.read_text().splitlines():
            k, v = line.split()
            counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"p": 2, "q": 1, "r": 1}


def test_submit_registered_query_over_http(server, spark, tmp_path):
    """POST /queries runs any registered query as a queued job — the control
    plane fronting the full query inventory instead of the reference's one
    hard-coded application. Output parquet must equal running the query
    directly."""
    out = tmp_path / "q_out"
    code, body = _post_path(
        server.port,
        "/queries",
        {
            "name": "q1_pricing_summary",
            "sf_dir": "/root/testdata/sf0.01",
            "output_path": str(out),
        },
    )
    assert code == 200
    assert server.queue.wait_for(body["job_id"]) == "COMPLETED"

    from sdc_mapreduce_spark.queries import REGISTRY

    direct = REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.01")
    got = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want and len(got) > 0

    code, body = _post_path(server.port, "/queries", {"name": "no_such_query"})
    assert code == 400 and "unknown query" in body["error"]
    code, body = _post_path(server.port, "/queries", {})
    assert code == 400 and "name missing" in body["error"]


def test_completed_query_job_releases_its_pins(server, sf_dir, tmp_path):
    """A job's builder pins (persists) shared frames; the runner drains the
    job's own session after the sink, so a long-lived server does not keep
    every submitted query's caches alive."""
    from sdc_mapreduce_spark import cache

    before = {id(df) for frames in cache._PINNED.values() for df in frames}
    code, body = _post_path(
        server.port,
        "/queries",
        {
            "name": "dedup_minhash_lsh",
            "sf_dir": sf_dir,
            "output_path": str(tmp_path / "q_out"),
        },
    )
    assert code == 200
    assert server.queue.wait_for(body["job_id"]) == "COMPLETED"
    leaked = [
        df for frames in cache._PINNED.values() for df in frames if id(df) not in before
    ]
    assert leaked == []


def _post_path(port: int, path: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_queries_listing(server):
    code, body = _get(server.port, "/queries")
    assert code == 200
    assert "q1_pricing_summary" in body["queries"]
    assert len(body["queries"]) >= 119


def test_client_upload_disambiguates_same_basename(server, tmp_path):
    from sdc_mapreduce_spark.client import MapReduceClient

    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir(); b.mkdir()
    (a / "words.txt").write_text("x 1\n")
    (b / "words.txt").write_text("y 2\n")
    client = MapReduceClient(
        f"http://127.0.0.1:{server.port}", staging_dir=str(tmp_path / "stage")
    )
    s1 = client.upload(str(a / "words.txt"))
    s2 = client.upload(str(b / "words.txt"))
    assert s1 != s2
    assert open(s1).read() == "x 1\n" and open(s2).read() == "y 2\n"


def _slow_plan():
    """A plan whose action takes ~tens of seconds on the test session: many
    partitions each sleeping in a Python UDF — interruptible task work."""

    def plan(spark):
        import time as _t

        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        @F.udf(LongType())
        def snooze(x):
            _t.sleep(0.5)
            return x

        # filter on the UDF so count() cannot prune it away
        return spark.range(128, numPartitions=128).filter(snooze("id") >= 0)

    return plan


def _cancel(port: int, job_id) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/jobs/{job_id}/cancel", data=b"", method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _wait_status(server, job_id, want, timeout=30.0):
    import time as _t

    deadline = _t.time() + timeout
    while _t.time() < deadline:
        if server.queue.status(job_id) == want:
            return True
        _t.sleep(0.05)
    return False


def test_cancel_running_job_over_http(server):
    """A RUNNING job must be interrupted via its Spark job group and end
    CANCELLED (not FAILED), releasing the worker for the next job."""
    jid = server.queue.submit(_slow_plan(), name="slow")
    assert _wait_status(server, jid, "RUNNING")
    code, body = _cancel(server.port, jid)
    assert code == 200
    assert server.queue.wait_for(jid, timeout=60) == "CANCELLED"
    job = server.queue.job(jid)
    assert "cancel" in (job.error or "")
    # worker must be free again: a quick job completes normally afterwards
    jid2 = server.queue.submit(lambda spark: spark.range(5), name="quick")
    assert server.queue.wait_for(jid2, timeout=60) == "COMPLETED"


def test_cancel_queued_job_and_terminal_conflict(server):
    """CREATED → cancel flips straight to CANCELLED and the runner skips
    it; cancelling a terminal job is a 409 no-op; unknown id is 404."""
    slow = server.queue.submit(_slow_plan(), name="slow")
    queued = server.queue.submit(lambda spark: spark.range(5), name="queued")
    assert _wait_status(server, slow, "RUNNING")
    code, body = _cancel(server.port, queued)
    assert code == 200 and body["status"] == "CANCELLED"
    _cancel(server.port, slow)
    assert server.queue.wait_for(slow, timeout=60) == "CANCELLED"
    # queued job must never have run
    assert server.queue.status(queued) == "CANCELLED"
    code, body = _cancel(server.port, queued)
    assert code == 409
    code, _ = _cancel(server.port, 424242)
    assert code == 404


def test_bounded_concurrency_two_workers(spark, tmp_path):
    """max_concurrent=2: a fast job overtakes a slow one instead of
    queueing behind it (the single-leader bottleneck the bound lifts)."""
    srv = JobServer(spark, str(tmp_path / "state"), max_concurrent=2)
    srv.start()
    try:
        slow = srv.queue.submit(_slow_plan(), name="slow")
        fast = srv.queue.submit(lambda s: s.range(5), name="fast")
        assert srv.queue.wait_for(fast, timeout=60) == "COMPLETED"
        # Overtaking is the claim: fast finished while slow is UNFINISHED.
        # Slow may still read CREATED for an instant on a loaded machine
        # (its worker thread hasn't flipped the status yet), so assert
        # not-finished now and poll-wait for RUNNING before cancelling.
        assert srv.queue.status(slow) in ("CREATED", "RUNNING")
        assert _wait_status(srv, slow, "RUNNING")
        srv.runner.cancel(slow)
        assert srv.queue.wait_for(slow, timeout=60) == "CANCELLED"
    finally:
        srv.stop()


def test_max_pending_backlog_replies_429(spark, tmp_path, monkeypatch):
    """Submissions past the CREATED backlog bound get 429 on both submit
    endpoints instead of growing the queue without limit."""
    from sdc_mapreduce_spark import jobs

    monkeypatch.setattr(jobs, "MAX_PENDING", 1)
    srv = JobServer(spark, str(tmp_path / "state"))
    srv.start()
    try:
        slow = srv.queue.submit(_slow_plan(), name="slow")
        assert _wait_status(srv, slow, "RUNNING")
        inp = tmp_path / "in.txt"
        inp.write_text("a b c\n")
        payload = {"files": [str(inp)], "shard_size": 1 << 20, "reducer_count": 1}
        code1, body1 = _post(srv.port, payload)
        assert code1 == 200
        code2, body2 = _post(srv.port, payload)
        assert code2 == 429 and "full" in body2["error"]
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/queries",
            data=json.dumps({"name": "wordcount"}).encode(),
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                qcode = resp.status
        except urllib.error.HTTPError as err:
            qcode = err.code
        assert qcode == 429
        srv.runner.cancel(slow)
        srv.queue.wait_for(slow, timeout=60)
        srv.queue.wait_for(body1["job_id"], timeout=60)
    finally:
        srv.stop()


def test_client_sdk_cancel(server):
    from sdc_mapreduce_spark.client import JobHandle

    jid = server.queue.submit(_slow_plan(), name="slow")
    assert _wait_status(server, jid, "RUNNING")
    handle = JobHandle(base_url=f"http://127.0.0.1:{server.port}", job_id=jid)
    handle.cancel()
    assert handle.wait(timeout=60) == "CANCELLED"


def test_legacy_flask_submitter_contract(server, tmp_path):
    """The reference's ALTERNATE submitter (src/app.py:8-13): POST
    /mapreduce with urlencoded form fields shard_size + file, fire-and-
    forget, reply {"message": "Job submitted"} with no job id. The job
    still runs (through the queue) and completes as a word count."""
    import urllib.parse

    inp = tmp_path / "legacy.txt"
    inp.write_text("alpha beta alpha\n")
    data = urllib.parse.urlencode(
        {"shard_size": 1 << 20, "file": str(inp)}
    ).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/mapreduce",
        data=data,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == {"message": "Job submitted"}

    # the fire-and-forget job is real: newest job completes with 2 rows
    job = server.queue.all()[-1]
    assert job.name == "legacy-mapreduce"
    assert server.queue.wait_for(job.job_id, timeout=60.0) == "COMPLETED"
    assert server.queue.job(job.job_id).result_rows == 2

    # Flask's request.form[...] 400s on a missing field — same here; a
    # non-positive shard size is a 400 too
    n_jobs = len(server.queue.all())
    for form in (
        {"file": str(inp)},
        {"shard_size": 0, "file": str(inp)},
        {"shard_size": -1, "file": str(inp)},
    ):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/mapreduce",
            data=urllib.parse.urlencode(form).encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                code = resp.status
        except urllib.error.HTTPError as err:
            code = err.code
        assert code == 400, form
    assert len(server.queue.all()) == n_jobs


def test_wait_for_wakes_on_cancel_over_http(server):
    """A thread blocked in ``queue.wait_for`` returns CANCELLED as soon as
    the job is cancelled over HTTP while it waits."""
    import threading

    jid = server.queue.submit(_slow_plan(), name="slow")
    assert _wait_status(server, jid, "RUNNING")
    got = []
    waiter = threading.Thread(
        target=lambda: got.append(server.queue.wait_for(jid, timeout=60))
    )
    waiter.start()
    waiter.join(timeout=0.3)
    assert waiter.is_alive() and not got  # blocked on the running job
    code, _ = _cancel(server.port, jid)
    assert code == 200
    waiter.join(timeout=60)
    assert got == ["CANCELLED"]


def test_idle_server_does_not_poll_and_stops_its_runners(spark, tmp_path):
    """Idle runner threads block on the queue's condition: each makes one
    claim attempt and then no more until work arrives (no periodic tick),
    and ``stop()`` wakes them so every runner thread has exited when it
    returns."""
    import time

    srv = JobServer(spark, str(tmp_path / "state"), max_concurrent=2)
    claims = []
    claim_next = srv.queue.claim_next

    def counting_claim(*args, **kwargs):
        claims.append(time.monotonic())
        return claim_next(*args, **kwargs)

    srv.queue.claim_next = counting_claim
    srv.start()
    time.sleep(0.7)
    assert len(claims) == 2, claims  # one blocking claim per runner thread
    t0 = time.monotonic()
    srv.stop()
    assert time.monotonic() - t0 < 4.0
    assert srv._workers and not any(t.is_alive() for t in srv._workers)
