"""Job control plane: FIFO ordering, status lifecycle, failure capture
(SURVEY.md O17 / §3.1 — the reference's ZK job queue semantics)."""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager

from pyspark.sql import functions as F

from sdc_mapreduce_spark import jobs as J


@contextmanager
def _runner(spark, q):
    """One runner thread over ``q``, started the way JobServer.start starts
    its runners; on exit the queue is closed and the thread joined."""
    t = threading.Thread(target=J.JobRunner(spark, q).run_pending, daemon=True)
    t.start()
    try:
        yield
    finally:
        q.close()
        t.join(timeout=5)
    assert not t.is_alive()


def _run_all(spark, q) -> None:
    """Run every job submitted to ``q`` so far to a terminal status."""
    with _runner(spark, q):
        for job in q.all():
            q.wait_for(job.job_id)


def test_fifo_order_and_lifecycle(spark, tmp_path):
    q = J.JobQueue(str(tmp_path / "state"))
    ran: list[int] = []

    def plan(tag):
        def _p(s):
            ran.append(tag)
            return s.range(3).select(F.col("id"))

        return _p

    j1 = q.submit(plan(1), name="first")
    j2 = q.submit(plan(2), name="second")
    assert q.status(j1) == J.CREATED and q.status(j2) == J.CREATED

    _run_all(spark, q)
    # the runner claims in sequence order — the reference master's
    # lowest-znode-first poll.
    assert ran == [1, 2]
    assert q.status(j1) == J.COMPLETED and q.status(j2) == J.COMPLETED
    assert q.job(j1).result_rows == 3
    # Durable job-spec: one JSON per job, like the znode tree.
    state = json.loads((tmp_path / "state" / "job_1.json").read_text())
    assert state["status"] == "COMPLETED" and state["name"] == "first"


def test_concurrent_queries_share_one_session(spark, sf_dir):
    """The engine as a multi-tenant query service: one SparkSession runs
    many queries concurrently (FAIR-ish interleaving of independent jobs —
    what the reference's single-slot workers could never do, SURVEY.md Q6).
    Every concurrent result must equal its sequential twin."""
    from concurrent.futures import ThreadPoolExecutor

    from sdc_mapreduce_spark.queries import REGISTRY

    names = ["q6_forecast_revenue", "join_semi", "set_union", "agg_distinct"]

    def run(name):
        return name, REGISTRY[name].fn(spark, sf_dir).collect()

    sequential = dict(run(n) for n in names)
    with ThreadPoolExecutor(max_workers=4) as pool:
        concurrent = dict(pool.map(run, names))
    for n in names:
        assert sorted(map(tuple, concurrent[n])) == sorted(
            map(tuple, sequential[n])
        ), n


def test_sink_and_failure(spark, tmp_path):
    q = J.JobQueue(str(tmp_path / "state"))
    out = tmp_path / "out"

    def ok_plan(s):
        return s.range(5).select(F.col("id").alias("key"), F.lit(1).alias("value"))

    j_ok = q.submit(ok_plan, sink=lambda df: df.write.mode("overwrite").parquet(str(out)))

    def bad_plan(s):
        raise ValueError("boom")

    j_bad = q.submit(bad_plan, name="bad")

    _run_all(spark, q)
    assert q.status(j_ok) == J.COMPLETED
    assert spark.read.parquet(str(out)).count() == 5
    # The reference stalls forever on failure (quirk Q7); we record FAILED.
    assert q.status(j_bad) == J.FAILED
    assert "boom" in q.job(j_bad).error


def test_queue_recovers_state_and_fails_orphans(spark, tmp_path):
    """Restart semantics: a new queue over the same state dir sees completed
    history unchanged, marks jobs caught mid-flight (RUNNING) or never
    started (CREATED) as FAILED with an orphan note, and continues the
    sequence numbering — no stall, no id reuse (the reference's master
    stalls forever on a lost task, quirk Q7)."""
    import json as _json

    from sdc_mapreduce_spark.jobs import JobQueue

    state = tmp_path / "state"
    q1 = JobQueue(str(state))
    done_id = q1.submit(lambda s: s.range(3), name="done")
    _run_all(spark, q1)
    assert q1.status(done_id) == "COMPLETED"
    # simulate a crash mid-job: persist a RUNNING record by hand
    (state / "job_99.json").write_text(
        _json.dumps(
            {
                "job_id": 99,
                "name": "inflight",
                "status": "RUNNING",
                "submitted_at": 1.0,
                "started_at": 2.0,
                "finished_at": None,
                "error": None,
                "result_rows": None,
            }
        )
    )

    q2 = JobQueue(str(state))
    assert q2.status(done_id) == "COMPLETED"
    assert q2.job(done_id).result_rows == 3
    assert q2.status(99) == "FAILED"
    assert "orphaned" in q2.job(99).error
    # recovered orphans are terminal: nothing pending to re-run
    assert all(j.status not in (J.CREATED, J.RUNNING) for j in q2.all())
    # sequence continues past the recovered max id
    new_id = q2.submit(lambda s: s.range(1), name="after-restart")
    assert new_id == 100


def test_recover_skips_corrupt_record(spark, tmp_path):
    """A truncated/garbage job file (external corruption; _publish itself is
    atomic) must not poison recovery of the healthy records."""
    from sdc_mapreduce_spark.jobs import JobQueue

    state = tmp_path / "state"
    q1 = JobQueue(str(state))
    ok = q1.submit(lambda s: s.range(2), name="ok")
    _run_all(spark, q1)
    (state / "job_50.json").write_text('{"job_id": 50, "status": "RUNN')  # truncated

    q2 = JobQueue(str(state))
    assert q2.status(ok) == "COMPLETED"
    assert 50 not in {j.job_id for j in q2.all()}


def test_submit_enforces_pending_bound_atomically(tmp_path, monkeypatch):
    """The CREATED-backlog bound lives in submit, under the queue lock —
    the (N+1)th pending submit raises QueueFullError even with no HTTP
    pre-check in front of it."""
    import pytest

    monkeypatch.setattr(J, "MAX_PENDING", 2)
    q = J.JobQueue(str(tmp_path / "state"))
    q.submit(lambda s: None, name="a")
    q.submit(lambda s: None, name="b")
    with pytest.raises(J.QueueFullError):
        q.submit(lambda s: None, name="c")
    # draining one slot reopens the bound
    q.request_cancel(1)
    assert q.submit(lambda s: None, name="c") == 3


def test_genuine_failure_during_cancel_stays_failed(spark, tmp_path):
    """A plan that raises an unrelated error while cancel_requested happens
    to be set must record FAILED with the real traceback — only the
    cancellation interrupt itself maps to CANCELLED."""
    q = J.JobQueue(str(tmp_path / "state"))

    def bad_plan(s):
        # simulate a cancel racing in just before the genuine failure
        q.job(jid).cancel_requested = True
        raise ValueError("plan bug, not a cancellation")

    jid = q.submit(bad_plan, name="bad")
    _run_all(spark, q)
    job = q.job(jid)
    assert job.status == J.FAILED
    assert "plan bug" in job.error


def test_job_conf_isolated_per_job_session(spark, tmp_path):
    """Job-scoped confs run on a child session: the shared session's value
    is untouched during and after a job that overrides it."""
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    seen = {}

    def plan(s):
        seen["in_job"] = s.conf.get(key)
        seen["shared_during"] = spark.conf.get(key)
        return s.range(1)

    q = J.JobQueue(str(tmp_path / "state"))
    jid = q.submit(plan, name="conf", conf={key: "12345678"})
    _run_all(spark, q)
    assert q.job(jid).status == J.COMPLETED
    assert seen["in_job"] == "12345678"
    assert seen["shared_during"] == before
    assert spark.conf.get(key) == before


def test_wait_for_raises_timeout_while_running(tmp_path):
    """``wait_for`` has one timeout behaviour, the client SDK's: a job still
    RUNNING at the deadline raises TimeoutError instead of returning its
    non-terminal status."""
    import pytest

    q = J.JobQueue(str(tmp_path / "state"))
    jid = q.submit(lambda s: None, name="held")
    assert q.claim_next().job_id == jid
    with pytest.raises(TimeoutError, match="RUNNING"):
        q.wait_for(jid, timeout=0.2)


def test_wait_for_returns_recovered_orphan_failed_at_once(tmp_path):
    """A job that restart recovery orphaned is terminal on load: waiting on
    it returns FAILED without sitting out the timeout."""
    import time

    state = tmp_path / "state"
    state.mkdir()
    (state / "job_7.json").write_text(
        json.dumps({"job_id": 7, "name": "inflight", "status": "RUNNING",
                    "submitted_at": 1.0, "started_at": 2.0})
    )
    q = J.JobQueue(str(state))
    t0 = time.monotonic()
    assert q.wait_for(7, timeout=30) == J.FAILED
    assert time.monotonic() - t0 < 1.0


def test_completed_record_is_published_whole(spark, tmp_path):
    """The waiter wakes on a record that is complete everywhere at once:
    ``finished_at`` set in memory, and the state file equal to the record
    (a restart at that moment recovers COMPLETED, not an orphan)."""
    state = tmp_path / "state"
    q = J.JobQueue(str(state))
    with _runner(spark, q):
        jid = q.submit(lambda s: s.range(4), name="whole")
        assert q.wait_for(jid, timeout=60) == J.COMPLETED
        rec = q.record(jid)
        assert rec["finished_at"] is not None and rec["result_rows"] == 4
        assert json.loads((state / f"job_{jid}.json").read_text()) == rec
