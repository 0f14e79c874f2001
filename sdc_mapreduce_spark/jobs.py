"""Job control plane: the reference's submit → queue → poll → complete UX
as a thin local facade (SURVEY.md O17 / §3.1-3.2).

The reference persists a job spec as ZooKeeper znodes
(/jobs/job_N/{status,shard_size,reducer_count,files} — reference
src/webclient/webclient.cpp:42-51), a master polls for the first job with
status CREATED in sequence order (reference src/master/master.cpp:300-336),
executes the fixed map→reduce DAG, then marks the znode COMPLETED
(reference src/master/master.cpp:374-381).

Here a job is a named DataFrame plan + sink; the queue is an in-process
FIFO (sequence-numbered like ZK sequential znodes) backed by one JSON state
file per job, and its runner executes one job at a time — the
single-leader semantics of the reference master.
Spark's DAGScheduler replaces the task-level scheduling entirely
(SURVEY.md O18: FIFO × first-idle-worker becomes locality-aware task
slots); what this module keeps is the *durable job-spec + status
lifecycle* a user of the reference interacts with. Statuses mirror the
reference exactly: CREATED → RUNNING → COMPLETED (plus FAILED, which the
reference lacks — its phase barrier stalls forever on a lost task, quirk
Q7).
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from sdc_mapreduce_spark.cache import drain_pins

CREATED = "CREATED"
RUNNING = "RUNNING"
COMPLETED = "COMPLETED"
FAILED = "FAILED"
# Past the reference's lifecycle (its master has no cancel path — a job
# once CREATED always runs to completion): a queued job can be cancelled
# before it starts, and a running one is interrupted via Spark job-group
# cancellation (JobRunner.cancel).
CANCELLED = "CANCELLED"
# The CREATED backlog a queue accepts; a submit past it raises
# QueueFullError (HTTP 429 from webclient.JobServer). The reference has no
# such bound — its queue is ZooKeeper-limited only.
MAX_PENDING = 1000


@dataclass
class Job:
    """One queued job: mirrors reference Job (src/master/job.h:5-23) minus
    the blob/shard plumbing Spark owns."""

    job_id: int
    plan: Callable[[SparkSession], DataFrame]
    sink: Callable[[DataFrame], None] | None = None
    name: str = ""
    # session confs applied for THIS job only (set before plan+action,
    # restored after) — e.g. the reference's per-job shard_size maps to
    # files.maxPartitionBytes without leaking into the shared session
    conf: dict[str, str] = field(default_factory=dict)
    status: str = CREATED
    submitted_at: float = field(default_factory=time.time)
    started_at: float | None = None
    finished_at: float | None = None
    error: str | None = None
    result_rows: int | None = None
    cancel_requested: bool = False

    @property
    def group_id(self) -> str:
        """Spark job-group id for this queue job — the cancellation handle
        (every action the runner fires for this job is tagged with it)."""
        return f"sdc-job-{self.job_id}"

    def record(self) -> dict:
        """The job's durable fields: its state file and its HTTP status
        body both serialize exactly this."""
        return {
            "job_id": self.job_id,
            "name": self.name,
            "status": self.status,
            "submitted_at": self.submitted_at,
            "started_at": self.started_at,
            "finished_at": self.finished_at,
            "error": self.error,
            "result_rows": self.result_rows,
        }


class JobQueue:
    """Sequence-numbered FIFO with the reference's poll semantics.

    ``submit`` is the webclient's znode-create (reference
    src/webclient/webclient.cpp:42-51); ``claim_next`` is the master's
    get_next_job scan — lowest sequence number with status CREATED
    (reference src/master/master.cpp:300-336, ordering
    src/util/zook.h:161-181).

    Every status change happens here, under one ``threading.Condition``:
    the transition, its state file and ``notify_all`` form one step, so a
    reader never sees a half-applied record and waiters (runner threads,
    ``wait_for``, the cancel reaper) wake on the change instead of polling
    for it.
    """

    def __init__(self, state_dir: str) -> None:
        self._jobs: dict[int, Job] = {}
        self._seq = 0
        self._cond = threading.Condition()
        self._closed = False
        self._state_dir = Path(state_dir)
        self._state_dir.mkdir(parents=True, exist_ok=True)
        with self._cond:
            self._recover()

    def _recover(self) -> None:
        """Reload persisted job records on construction — the restart
        semantics the reference gets from ZooKeeper durability. Jobs found
        RUNNING belonged to a dead runner: mark them FAILED (with an
        explicit orphan note) rather than resuming — their plan callables
        died with the previous process. Contrast the reference, whose
        master stalls forever on a lost in-flight task (quirk Q7,
        SURVEY.md §2.1). CREATED jobs likewise cannot re-run (no plan), so
        they are failed with the same note; only their history survives."""
        for path in sorted(self._state_dir.glob("job_*.json")):
            try:
                rec = json.loads(path.read_text())
            except (OSError, json.JSONDecodeError):
                # _publish is atomic (tmp + replace), so a bad record means
                # external corruption; skip it rather than refusing to
                # recover every healthy job
                continue
            job = Job(
                job_id=rec["job_id"],
                plan=_unrecoverable_plan,
                name=rec.get("name", ""),
                status=rec["status"],
                submitted_at=rec.get("submitted_at") or 0.0,
                started_at=rec.get("started_at"),
                finished_at=rec.get("finished_at"),
                error=rec.get("error"),
                result_rows=rec.get("result_rows"),
            )
            if job.status in (CREATED, RUNNING):
                job.error = (
                    f"orphaned by runner restart (was {job.status}; plan not "
                    "recoverable across processes — resubmit)"
                )
                job.status = FAILED
                job.finished_at = job.finished_at or time.time()
            self._jobs[job.job_id] = job
            self._publish(job)
        if self._jobs:
            self._seq = max(self._jobs)

    def submit(
        self,
        plan: Callable[[SparkSession], DataFrame],
        sink: Callable[[DataFrame], None] | None = None,
        name: str = "",
        conf: dict[str, str] | None = None,
    ) -> int:
        with self._cond:
            # the pending bound is enforced HERE, under the queue lock, so
            # two concurrent submits can never both take the last slot
            pending = len(self._created())
            if pending >= MAX_PENDING:
                raise QueueFullError(f"job queue full ({pending} pending >= {MAX_PENDING})")
            self._seq += 1
            job = Job(
                job_id=self._seq, plan=plan, sink=sink, name=name, conf=conf or {}
            )
            self._jobs[job.job_id] = job
            self._publish(job)
            return job.job_id

    def claim_next(self) -> Job | None:
        """Atomically claim the lowest-sequence CREATED job: flips it to
        RUNNING under the lock so concurrent runner workers never execute
        the same job twice (the multi-worker analog of the reference
        master's single-leader scan). Blocks until a job arrives; None once
        the queue is closed."""
        with self._cond:
            self._cond.wait_for(lambda: self._closed or self._created())
            if self._closed:
                return None
            job = self._created()[0]
            job.status = RUNNING
            job.started_at = time.time()
            self._publish(job)
            return job

    def finish(
        self,
        job: Job,
        status: str,
        error: str | None,
        result_rows: int | None,
    ) -> None:
        """Publish a claimed job's outcome: every terminal field lands in
        the same step, so no reader sees COMPLETED without ``finished_at``
        or a state file that still says RUNNING."""
        with self._cond:
            job.status, job.error, job.result_rows = status, error, result_rows
            job.finished_at = time.time()
            self._publish(job)

    def close(self) -> None:
        """Stop handing out jobs and wake every waiting runner thread."""
        with self._cond:
            self._closed = True
            self._cond.notify_all()

    def wait_for(self, job_id: int, timeout: float = 60.0) -> str:
        """Block until the job is terminal and return its status; raise
        TimeoutError if it is still CREATED/RUNNING at the deadline."""
        with self._cond:
            job = self._jobs[job_id]
            if not self._cond.wait_for(
                lambda: job.status not in (CREATED, RUNNING), timeout
            ):
                raise TimeoutError(f"job {job_id} still {job.status} after {timeout}s")
            return job.status

    def _created(self) -> list[Job]:
        return [j for _, j in sorted(self._jobs.items()) if j.status == CREATED]

    def request_cancel(self, job_id: int) -> str:
        """Cancel a job. Returns the status the job held at the decision
        point: CREATED means it was cancelled before starting (now
        CANCELLED); RUNNING means the flag is set and the caller must
        interrupt the executing action (JobRunner.cancel does both);
        terminal statuses are returned unchanged (cancel is a no-op)."""
        with self._cond:
            job = self._jobs[job_id]
            was = job.status
            if was == CREATED:
                job.status = CANCELLED
                job.error = "cancelled before start"
                job.finished_at = time.time()
                self._publish(job)
            elif was == RUNNING:
                job.cancel_requested = True
            return was

    def status(self, job_id: int) -> str:
        return self._jobs[job_id].status

    def record(self, job_id: int) -> dict:
        with self._cond:
            return self._jobs[job_id].record()

    def records(self) -> list[dict]:
        with self._cond:
            return [self._jobs[jid].record() for jid in sorted(self._jobs)]

    def all(self) -> list[Job]:
        with self._cond:
            return [self._jobs[jid] for jid in sorted(self._jobs)]

    def job(self, job_id: int) -> Job:
        return self._jobs[job_id]

    def _publish(self, job: Job) -> None:
        # Caller holds the condition. Durable job-spec analog of the znode
        # tree: one JSON file per job, written before any waiter wakes so a
        # woken reader and the disk agree. Written atomically (tmp + rename)
        # so a crash mid-write — the exact scenario recovery exists for —
        # can never leave a truncated record that poisons the next _recover.
        final = self._state_dir / f"job_{job.job_id}.json"
        tmp = final.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(job.record()))
        os.replace(tmp, final)
        self._cond.notify_all()


class QueueFullError(RuntimeError):
    """Raised by JobQueue.submit when the CREATED backlog is at its bound."""


def _unrecoverable_plan(spark):
    raise RuntimeError("job recovered from disk; its plan is not re-runnable")


class JobRunner:
    """Single-leader job executor: drains the queue one job at a time, like
    the reference master's execute loop (reference
    src/master/master.cpp:338-372) without the 5 s poll sleep — the queue
    signals instead of being polled. The runner only reports outcomes;
    ``JobQueue`` writes every status."""

    def __init__(self, spark: SparkSession, queue: JobQueue) -> None:
        self.spark = spark
        self.queue = queue

    def run_pending(self) -> None:
        """Run jobs in sequence order as they arrive until the queue is
        closed: a runner thread's loop. Claims are atomic
        (JobQueue.claim_next), so any number of worker threads can run this
        concurrently without double-running a job."""
        while (job := self.queue.claim_next()) is not None:
            self._run(job)

    def cancel(self, job_id: int) -> str:
        """Cancel a job wherever it is in the lifecycle; returns the job's
        current status. A RUNNING job's Spark actions are interrupted via
        its job group (the runner tags every action with Job.group_id and
        ``interruptOnCancel=True``). ``cancelJobGroup`` only kills jobs
        already ACTIVE, so a single call races an action that hasn't
        registered yet; a short-lived reaper re-fires the cancel every
        0.2 s until the worker observes ``cancel_requested`` (checked
        before the action) or the interrupted action raises — either way
        the job records CANCELLED, not FAILED — and exits on that status
        change."""
        was = self.queue.request_cancel(job_id)
        if was == RUNNING:
            group = self.queue.job(job_id).group_id
            sc = self.spark.sparkContext

            def _reap() -> None:
                deadline = time.time() + 30
                while time.time() < deadline:
                    try:
                        self.queue.wait_for(job_id, timeout=0.2)
                        return
                    except TimeoutError:
                        sc.cancelJobGroup(group)

            sc.cancelJobGroup(group)
            threading.Thread(target=_reap, daemon=True, name=f"reap-{job_id}").start()
        return self.queue.status(job_id)

    def _run(self, job: Job) -> None:
        sc = self.spark.sparkContext
        # job-group tag is thread-local (PySpark pinned-thread mode), so
        # concurrent workers tag only their own actions
        sc.setJobGroup(
            job.group_id, job.name or f"job {job.job_id}", interruptOnCancel=True
        )
        status, error, rows = FAILED, "runner interrupted", None
        # Every job runs on its OWN child session. SQL confs are
        # session-scoped state, and spark.conf on the shared session is
        # global — with concurrent workers, set/restore there races (one
        # worker can snapshot another's override as the "old" value and
        # resurrect it, silently changing e.g. file-split planning for the
        # other job). The pin ledger is keyed by session too, so draining
        # this one after the sink releases exactly the frames this job's
        # builder pinned, never a concurrent job's. newSession() shares the
        # SparkContext and cache but isolates SQLConf; the session is
        # discarded with the job, so nothing to restore.
        session = self.spark.newSession()
        try:
            for k, v in job.conf.items():
                session.conf.set(k, v)
            df = job.plan(session)
            if job.cancel_requested:  # cancelled before the action registered
                raise _CancelledBeforeAction("cancelled before action")
            if job.sink is not None:
                job.sink(df)
            else:
                # No sink → still execute the plan (the reference never
                # returns results inline; completion IS the result).
                rows = df.count()
            status, error = COMPLETED, None
        except Exception as exc:
            if job.cancel_requested and _is_cancellation(exc):
                status, error = CANCELLED, "cancelled while running"
            else:
                # A genuine failure stays FAILED with its traceback even if
                # a cancel happened to be requested around the same moment —
                # only the cancellation interrupt itself maps to CANCELLED.
                status, error = FAILED, traceback.format_exc(limit=10)
        finally:
            drain_pins(session)
            sc.setJobGroup("", "")
            self.queue.finish(job, status, error, rows)


class _CancelledBeforeAction(RuntimeError):
    """Sentinel raised when the pre-action cancel_requested check fires."""


def _is_cancellation(exc: Exception) -> bool:
    """True iff the exception is plausibly the cancellation interrupt — not
    an unrelated failure that raced a cancel. Three tiers:

    - the pre-action sentinel: always the cancellation;
    - gateway-level errors (module ``py4j.*``): the killed in-flight call
      can tear the Py4J connection down, surfacing as a bare
      protocol/network error with no 'cancel' in the message — with a
      cancel in flight these are the interrupt with overwhelming
      likelihood;
    - Spark SEMANTIC errors (module ``pyspark.*`` — AnalysisException and
      friends, which cancelJobGroup cannot cause) only count when their
      message actually mentions the cancel/interrupt; a genuine plan bug
      that raced the cancel keeps FAILED with its real traceback.

    Pure-Python exceptions never classify as cancellation."""
    if isinstance(exc, _CancelledBeforeAction):
        return True
    mod = type(exc).__module__
    if mod.startswith("py4j"):
        return True
    if mod.startswith("pyspark"):
        msg = str(exc).lower()
        return "cancel" in msg or "interrupt" in msg
    return False
