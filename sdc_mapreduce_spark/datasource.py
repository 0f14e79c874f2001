"""Custom Python DataSource (Spark 4 DataSource API) for the reference's
key-value text format.

The reference's entire data model is lines of ``"<key> <value>"`` in text
blobs, scanned as fixed-size byte shards with record-aligned boundaries
(reference src/util/shard.h:7-16, src/master/sharding.h:27-83 byte-range
packing; src/worker/worker.cpp:124-182 boundary adjustment;
src/app/reducer.py:11-24 malformed-row drop). This module re-expresses that
contract as a first-class pluggable Spark source:

- ``partitions()`` is the reference's shard planner: greedy capacity
  packing of ``shard_size`` bytes per shard, spanning file boundaries
  exactly like createShardAllocations (tail of file i + head of file i+1
  share a shard; only the last shard is smaller) — each shard becomes one
  Spark input partition, so scan parallelism is data-size-driven exactly
  like the reference's master (SURVEY.md O6).
- ``read()`` applies the line-boundary protocol (the robust form of the
  reference's isalnum ±lookahead adjustment, SURVEY.md O7/Q5): a partition
  starting mid-file discards its partial first line and reads one line past
  its end — every line is produced by exactly one partition, no
  double/half-reads.
- malformed pairs (wrong token count, non-integer value) are dropped, the
  reference's reducer semantics (SURVEY.md O15).

Usage::

    spark.dataSource.register(KVTextDataSource)
    df = (spark.read.format("kvtext")
          .option("path", "/data/pairs.txt")
          .option("shard_size", 50000).load())

    # streaming: ingest blobs as they arrive in the directory,
    # exactly-once across restarts (offset = ingested file set)
    stream = (spark.readStream.format("kvtext")
              .option("path", "/data/incoming").load())
"""

from __future__ import annotations

import glob
import os
import warnings
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

DEFAULT_SHARD_SIZE = 50_000  # the reference client's SHARD_SIZE default
# (reference clientsdk/job_details.py:5)

# Streaming-only partition-count guard (VERDICT r9 ask #1). A micro-batch
# materializes ONE Python worker per planned partition more or less at
# once, so an unbounded shard count is a crash cliff, not just overhead:
# at the 10x corpus the 50 KB default planned thousands of Python-source
# partitions in a single batch and starved worker startup ("Python worker
# failed to connect back", CHECKS_r09/scale_sf1ish_remaining.txt). The
# batch reader is deliberately NOT capped — batch tasks launch through the
# scheduler at executor-slot concurrency and reuse workers, and the scan
# certs exercise deliberately tiny shards there. The stream reader
# coalesces its planned shards to at most this many partitions per batch;
# the shard PLAN is unchanged — coalescing concatenates whole
# record-aligned shards, so row ownership is untouched.
MAX_BATCH_SHARDS = 128

# Advisory bound for the BATCH reader (VERDICT r10 ask #7): batch scans
# are deliberately uncapped (tasks launch at executor-slot concurrency and
# reuse workers, unlike a micro-batch's all-at-once worker fan-out), but a
# plan wider than this warns — cheap insurance that a 10x-style corpus
# surprise announces itself instead of silently planning 100k partitions.
WARN_BATCH_PARTITIONS = 10_000


class KVShard(InputPartition):
    """One capacity-packed shard: a list of ``(path, start, end)`` byte-range
    segments, possibly spanning multiple files — the Spark twin of the
    reference's ShardAllocation {id, capacity, files: [ShardFileInfo]}
    (src/util/shard.h:7-16): the tail of file i and the head of file i+1
    land in the same shard when the tail alone is under capacity.
    """

    def __init__(self, segments: list[tuple[str, int, int]]):
        self.segments = segments

    @property
    def capacity(self) -> int:
        return sum(end - start for _, start, end in self.segments)


def _parse_options(options) -> tuple[str, int]:
    path = options.get("path")
    if not path:
        raise ValueError("kvtext: 'path' option is required")
    shard_size = int(options.get("shard_size", DEFAULT_SHARD_SIZE))
    if shard_size <= 0:
        raise ValueError("kvtext: shard_size must be positive")
    return path, shard_size


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)
        )
    return [path]


def plan_shards(paths: list[str], shard_size: int) -> list[KVShard]:
    # The reference's createShardAllocations (src/master/sharding.h:28-83):
    # greedy capacity packing — each shard holds exactly shard_size bytes
    # of ranges, spanning file boundaries (tail of file i + head of file
    # i+1 in one shard); only the final shard may be smaller.
    shards: list[KVShard] = []
    current: list[tuple[str, int, int]] = []
    current_cap = 0
    for p in paths:
        size = os.path.getsize(p)
        start = 0
        while start < size:
            needed = shard_size - current_cap
            end = min(start + needed, size)
            current.append((p, start, end))
            current_cap += end - start
            if current_cap == shard_size:
                shards.append(KVShard(current))
                current, current_cap = [], 0
            start = end
    if current:
        shards.append(KVShard(current))
    return shards


def coalesce_shards(shards: list[KVShard], max_shards: int) -> list[KVShard]:
    """Cap a shard plan at ``max_shards`` partitions by concatenating
    CONTIGUOUS runs of shards (adjacent in plan order, so merged segments
    stay sequential within each file — one seek per original shard at
    most). Groups are balanced by CUMULATIVE SEGMENT BYTES, not shard
    count (ADVICE r10): count-balanced groups over shards of unequal size
    are byte-skewed; for equal-sized shards (every packed plan but its
    last shard) the byte split degenerates to the count split.
    Row ownership is untouched — ``read_shard`` applies the
    line-boundary protocol per SEGMENT, and coalescing only concatenates
    whole segments.

    The split is the OPTIMAL contiguous min-max partition (binary search
    on the bottleneck bytes + greedy feasibility, O(n log total)): the
    largest coalesced partition is as small as any contiguous grouping
    can make it — the property that matters, since the widest partition
    is the straggler task. May emit fewer than ``max_shards`` groups when
    that loses nothing (the bottleneck is a single fat shard)."""
    if max_shards < 1:
        raise ValueError(f"max_shards must be >= 1, got {max_shards}")
    n = len(shards)
    if n <= max_shards:
        return shards
    caps = [s.capacity for s in shards]

    def groups_needed(limit: int) -> int:
        groups, acc = 1, 0
        for c in caps:
            if acc + c <= limit:
                acc += c
            else:
                groups += 1
                acc = c
        return groups

    lo, hi = max(caps), sum(caps)
    while lo < hi:
        mid = (lo + hi) // 2
        if groups_needed(mid) <= max_shards:
            hi = mid
        else:
            lo = mid + 1
    out: list[KVShard] = []
    cur_segs: list[tuple[str, int, int]] = []
    acc = 0
    for s in shards:
        if cur_segs and acc + s.capacity > lo:
            out.append(KVShard(cur_segs))
            cur_segs, acc = [], 0
        cur_segs.extend(s.segments)
        acc += s.capacity
    out.append(KVShard(cur_segs))
    return out


def read_shard(partition: KVShard) -> Iterator[tuple]:
    for path, start, end in partition.segments:
        with open(path, "rb") as fh:
            fh.seek(start)
            if start > 0:
                # line-boundary protocol: the partition to our left owns
                # the line spanning the boundary — skip to the next full
                # line
                fh.readline()
            while fh.tell() <= end:
                raw = fh.readline()
                if not raw:
                    break
                parts = raw.decode("utf-8", errors="replace").split()
                if len(parts) != 2:
                    continue  # malformed: wrong token count (O15)
                try:
                    value = int(parts[1])
                except ValueError:
                    continue  # malformed: non-integer value (O15)
                yield (parts[0], value)
                # note: the loop condition uses tell() BEFORE the read, so
                # a line that starts exactly at `end` is read HERE (the next
                # partition skips it as its first line), and a line
                # starting before `end` is fully consumed here even if it
                # extends past it


class KVTextReader(DataSourceReader):
    def __init__(self, options):
        path, self.shard_size = _parse_options(options)
        self.paths = _list_files(path)
        if not self.paths:
            raise ValueError(f"kvtext: no files under {path!r}")

    def partitions(self):
        shards = plan_shards(self.paths, self.shard_size)
        if len(shards) > WARN_BATCH_PARTITIONS:
            # Advisory only (VERDICT r10 ask #7): the batch reader stays
            # deliberately uncapped — batch tasks launch at executor-slot
            # concurrency and reuse workers, and the scan certs exercise
            # deliberately tiny shards — but a plan this wide usually
            # means the shard_size default met a much bigger corpus (the
            # 10x streaming incident shape). Announce it instead of
            # letting the next scale surprise arrive silently.
            warnings.warn(
                f"kvtext: planned {len(shards)} batch partitions "
                f"(> {WARN_BATCH_PARTITIONS}); consider a larger "
                "shard_size for this input size",
                stacklevel=2,
            )
        return shards or [KVShard([(self.paths[0], 0, 0)])]

    def read(self, partition: KVShard) -> Iterator[tuple]:
        return read_shard(partition)


class KVTextStreamReader(DataSourceStreamReader):
    """Streaming flavor of the kvtext scan: the blob-store arrival model
    (files are immutable; new data means NEW files in the directory — how
    the reference's container actually grows). Each microbatch ingests the
    files that appeared since the last committed offset, capacity-packed by
    the same shard planner as the batch reader.

    The offset is the sorted list of already-ingested file names, so a
    restart from a checkpoint replans exactly the not-yet-committed files —
    exactly-once at file granularity. At real scale the offset would be a
    compacted high-watermark (e.g. blob list-after marker), not a full name
    list; the name list keeps the semantics transparent here.

    **Admission control / bounded catch-up (VERDICT r11 ask #3).** Spark's
    ``Trigger.AvailableNow`` cannot be supported natively by ANY Python
    data source in Spark 4.1: the JVM wrapper every Python stream reader
    runs behind (``PythonMicroBatchStream``) implements only
    ``MicroBatchStream`` + ``AcceptsLatestSeenOffset`` — not
    ``SupportsTriggerAvailableNow``/``SupportsAdmissionControl`` — and the
    Python runner protocol forwards exactly four calls (initialOffset /
    latestOffset / partitions / commit), so the engine's fallback to
    single-batch execution is structural upstream, not a gap in this
    source. The EQUIVALENT semantics are therefore implemented
    source-side, the same way Spark's own ``FileStreamSource`` does
    admission control via ``maxFilesPerTrigger``:

    - ``max_batch_files`` (0 = unbounded, the default): ``latestOffset``
      admits at most this many NEW files per micro-batch — the ReadLimit
      analog. The reader tracks its own position; on a checkpoint restart
      the engine re-plans the last logged batch through
      ``partitions(start, end)`` before asking for a new offset (the
      documented contract ``_SimpleStreamReaderWrapper`` in pyspark itself
      relies on), which re-seeds the position. If that call ever didn't
      happen, admission falls back to unbounded for one batch — still
      exactly-once, just not rate-limited.
    - ``available_now=true``: snapshots the directory listing at query
      start and admits only those files — Trigger.AvailableNow's "process
      what was available when the query started" scope. Combined with
      ``max_batch_files`` this yields the multi-batch bounded backfill a
      production catch-up run needs; :func:`drain_available_now` watches
      query progress and stops the query once the snapshot is covered
      (the engine-side stop AvailableNow would have provided).
    """

    def __init__(self, options):
        self._path, self.shard_size = _parse_options(options)
        if not os.path.isdir(self._path):
            raise ValueError(
                f"kvtext streaming: 'path' must be a directory, got {self._path!r}"
            )
        self.max_batch_files = int(options.get("max_batch_files", 0))
        if self.max_batch_files < 0:
            raise ValueError(
                "kvtext streaming: max_batch_files must be >= 0, got "
                f"{self.max_batch_files}"
            )
        self.available_now = (
            str(options.get("available_now", "false")).lower() == "true"
        )
        # Directory snapshot taken ONCE at reader construction (= query
        # start): the AvailableNow scope. None when running open-ended.
        self._goal: set[str] | None = (
            set(_list_files(self._path)) if self.available_now else None
        )
        # Last end offset this reader knows about (admission-control
        # position). Seeded by initialOffset() on a fresh query, by the
        # engine's last-logged-batch replay through partitions() on a
        # checkpoint restart, and advanced by latestOffset()/commit().
        self._current: list[str] | None = None

    def initialOffset(self) -> dict:
        self._current = []
        return {"files": []}

    def latestOffset(self) -> dict:
        avail = (
            self._goal if self._goal is not None else set(_list_files(self._path))
        )
        if self._current is None:
            # First engine call on a fresh query start is latestOffset()
            # (observed: initialOffset arrives later, when the engine
            # resolves batch 0's start) — treat unknown position as the
            # empty initial offset, exactly like pyspark's own
            # _SimpleStreamReaderWrapper. A checkpoint RESTART never lands
            # here: the engine re-plans the last logged batch through
            # partitions() (the contract that same wrapper depends on),
            # which re-seeds the position first.
            self._current = []
        seen = set(self._current)
        new = sorted(avail - seen)
        if self.max_batch_files and len(new) > self.max_batch_files:
            new = new[: self.max_batch_files]
        self._current = sorted(seen | set(new))
        return {"files": self._current}

    def partitions(self, start: dict, end: dict):
        # Re-seed the admission position: on restart the engine re-plans
        # the last batch in the offset log before calling latestOffset().
        # Union (not assignment) so the position can never REGRESS — a
        # replay of an old batch must not cause files after it to be
        # re-admitted (duplicate ingestion).
        self._current = sorted(set(self._current or []) | set(end.get("files", [])))
        new = sorted(set(end.get("files", [])) - set(start.get("files", [])))
        shards = plan_shards(new, self.shard_size)
        # Partition-count guard (see MAX_BATCH_SHARDS): a
        # micro-batch must never plan unbounded Python partitions — the
        # shard planner mirrors the reference's capacity packing
        # (src/master/sharding.h:27-83) and the cap re-packs per batch.
        shards = coalesce_shards(shards, MAX_BATCH_SHARDS)
        # Spark requires >= 1 partition per batch; an empty shard reads 0 rows
        return shards or [KVShard([])]

    def read(self, partition: KVShard) -> Iterator[tuple]:
        return read_shard(partition)

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint log; nothing source-side to GC.
        # Keep the admission position at least at the committed offset
        # (a no-op in steady state, a re-seed on restart replay).
        self._current = sorted(set(self._current or []) | set(end.get("files", [])))


class KVTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kvtext"

    def schema(self) -> str:
        return "key string, value long"

    def reader(self, schema) -> KVTextReader:
        return KVTextReader(self.options)

    def streamReader(self, schema) -> KVTextStreamReader:
        return KVTextStreamReader(self.options)


def register_kvtext(spark) -> None:
    spark.dataSource.register(KVTextDataSource)


def drain_available_now(
    query,
    goal_files: set[str] | list[str],
    timeout: float = 300.0,
    poll: float = 0.2,
) -> int:
    """Engine-side half of the kvtext AvailableNow protocol (see
    ``KVTextStreamReader``): watch a running streaming query until the
    kvtext source's end offset covers ``goal_files`` (every file that was
    available when the query started), then stop the query gracefully.
    This is the stop condition ``Trigger.AvailableNow`` would apply
    engine-side if the Python data source API could declare support for
    it. Progress is only reported for COMPLETED micro-batches, so by the
    time the goal is covered every goal file's batch has fully committed
    its sink effects.

    Returns the number of micro-batches that carried input rows (from
    ``recentProgress``), so callers can certify a bounded multi-batch
    drain (``max_batch_files`` < total files ⇒ returned count > 1).
    Raises TimeoutError if the goal is not covered within ``timeout``.
    """
    import json as _json
    import time as _time

    goal = set(goal_files)
    deadline = _time.time() + timeout
    while _time.time() < deadline:
        prog = query.lastProgress
        if prog and prog.get("sources"):
            eo = prog["sources"][0].get("endOffset")
            if isinstance(eo, str):
                # Python-source offsets surface in progress events as the
                # dict's repr (single quotes), not JSON — try both.
                try:
                    eo = _json.loads(eo)
                except ValueError:
                    import ast as _ast

                    try:
                        eo = _ast.literal_eval(eo)
                    except (ValueError, SyntaxError):
                        eo = None
            covered = set((eo or {}).get("files", []))
            if goal <= covered:
                query.stop()
                if not query.awaitTermination(60):
                    raise TimeoutError(
                        "kvtext drain: query did not stop within 60s"
                    )
                return sum(
                    1
                    for p in query.recentProgress
                    if p.get("numInputRows", 0) > 0
                )
        if not query.isActive:
            raise RuntimeError(
                "kvtext drain: query terminated before covering the goal "
                f"(exception: {query.exception()})"
            )
        _time.sleep(poll)
    query.stop()
    raise TimeoutError(
        f"kvtext drain: goal not covered within {timeout}s "
        f"({len(goal)} goal files)"
    )
