"""Shared machinery of the benchmark: the run record, the percentile rule,
the peak-RSS sampler, the host/environment snapshot, spans, and the reader
of Spark's status store.

Everything here measures from outside the program: it times calls into
public entry points and reads Spark's own status store (the UI REST API on
localhost) for the job groups the benchmark sets.
"""

from __future__ import annotations

import json
import math
import os
import platform
import re
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# percentiles the tail rule may pick, lowest first
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0)


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT.match(unit))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest candidate percentile with at least ``min_beyond``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= min_beyond:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out: dict = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        tail = tail_percentile(len(values))
        if tail is not None and tail > 50:
            out[f"p{tail:g}"] = percentile(values, tail)
    return out


def interquartile_mean(values: list[float]) -> float:
    """Mean of the samples left after dropping the lowest and the highest
    quarter (n // 4 at each end). Unlike the median it does not jump by a
    whole step when samples are quantized, as job latencies are by the
    client's poll interval."""
    s = sorted(values)
    k = len(s) // 4
    return statistics.fmean(s[k:len(s) - k])


def mean_by_kind(samples: dict[str, list[float]]) -> float | None:
    """Mean over operation kinds of each kind's interquartile mean; kinds
    without samples are left out, None when no kind has any. Each kind
    weighs the same however many samples it has, so the figure does not
    move with the mix of kinds that fit in a run."""
    means = [interquartile_mean(v) for v in samples.values() if v]
    return statistics.fmean(means) if means else None


class Window:
    """The timed part of a run, possibly in several segments: wall time
    and operations."""

    def __init__(self) -> None:
        self.first = self.last = 0.0
        self.wall = 0.0
        self.ops = 0
        self._t = 0.0

    def resume(self) -> None:
        self._t = time.time()
        self.first = self.first or self._t

    def pause(self, end: float | None = None) -> None:
        """Close a segment, at ``end`` when given (the last completion)."""
        self.last = end or time.time()
        self.wall += max(self.last - self._t, 0.0)


def emit_end_to_end(run: "Run", window: Window, latency: dict[str, list[float]],
                    failed_latency: list[float], done: int, speed: float) -> None:
    """The end-to-end metrics of the timed window (``setup_s`` is set by
    the caller), scaled by the host ``speed`` factor (see ``HostSpeed``);
    the unscaled figures go to the detail record.
    ``latency`` holds the latencies of successful operations by kind; when
    none succeeded, the failed attempts' times stand in so the result line
    still carries every metric (and ``correct`` is false)."""
    lat = mean_by_kind(latency)
    if lat is None:
        lat = statistics.median(failed_latency) if failed_latency else window.wall
    raw = {"op_latency_s": lat, "ops_per_s": max(done, 1) / max(window.wall, 1e-9)}
    run.detail["unscaled"] = raw
    run.metric("op_latency_s", raw["op_latency_s"] * speed, "s")
    run.metric("ops_per_s", raw["ops_per_s"] / speed, "1/s")


class Run:
    """Counts, spans and metric values of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.spans: list[dict] = []
        self._span_seq = 0

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what[:300])

    def metric(self, name: str, value: float, unit: str) -> None:
        if not (valid_metric_name(name) and valid_unit(unit)):
            raise ValueError(f"invalid metric name or unit: {name!r} {unit!r}")
        self.metrics[name] = (float(value), unit)

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a finished span; returns its id for children to cite."""
        self._span_seq += 1
        self.spans.append(
            {"id": self._span_seq, "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return self._span_seq

    def close_span(self, span_id: int, end: float) -> None:
        self.spans[span_id - 1]["end"] = end

    def result(self, names: list[str]) -> dict:
        missing = [n for n in names if n not in self.metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]} for n in names
            },
        }


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc every ``interval``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="rss")

    def sample(self) -> int:
        kids = _children_map()
        total, todo = 0, list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def spark_reference_s(spark) -> float:
    """Seconds of one run of a fixed Spark SQL job that calls none of the
    program's own code: code-generated JVM work on every core, task
    scheduling and a result sent back to Python."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(hash(id))").collect()
    return time.perf_counter() - t0


def python_reference_s(reps: int = 5) -> float:
    """Best-of-``reps`` seconds of a fixed single-threaded pure-Python loop.
    It needs no JVM, so it can be taken around the JVM's start-up, and it
    has no warm-up of its own; it follows the host's slow spells less
    closely than ``spark_reference_s`` (~1.7x where the workloads see
    ~2-2.5x)."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


# the references on the host the reported times are scaled to
REFERENCE_NOMINAL_S = 0.05
PYTHON_REFERENCE_NOMINAL_S = 0.02


class HostSpeed:
    """How fast the shared host runs the JVM right now. The same code on
    the same input runs up to ~2.5x slower at some times than at others,
    in CPU time as much as in wall time and with little time stolen, so
    no longer run or median takes it out. Times are reported scaled by
    ``factor``: nominal over the median of reference marks spread over the
    timed window, between its operations, where the program is idle. A
    mark is the best of a few runs: the first run after an operation is
    slowed by the program's own background work (cache eviction, GC)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.samples: list[float] = []
        for _ in range(15):  # JIT and codegen for the job itself
            spark_reference_s(spark)

    def mark(self, reps: int = 3) -> None:
        self.samples.append(min(spark_reference_s(self.spark) for _ in range(reps)))

    def factor(self) -> float:
        return REFERENCE_NOMINAL_S / statistics.median(self.samples)


class HostWindow:
    """Host steal share and load average bracketing a run."""

    def __init__(self) -> None:
        self.t0 = time.time()
        self.steal0 = _steal_jiffies()
        self.load0 = [round(x, 2) for x in os.getloadavg()]

    def close(self) -> dict:
        steal1 = _steal_jiffies()
        wall = max(time.time() - self.t0, 1e-9)
        pct = None
        if self.steal0 is not None and steal1 is not None:
            stolen = (steal1 - self.steal0) / os.sysconf("SC_CLK_TCK")
            pct = round(100.0 * stolen / (wall * (os.cpu_count() or 1)), 3)
        return {
            "steal_pct": pct,
            "loadavg_start": self.load0,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "wall_s": round(wall, 3),
        }


def environment(spark, manifest: dict) -> dict:
    sc = spark.sparkContext
    conf = sc.getConf()
    jvm = sc._jvm.java.lang.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": conf.get("spark.driver.memory", None),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": manifest["seed"],
        "inputs": {"tables": manifest["tables"], "text_files": [
            {k: v for k, v in t.items() if k != "path"} for t in manifest["text_files"]
        ]},
    }


_SIZE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_MULT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size_metric(text: str) -> float:
    """Bytes from a SQL size metric as the status store formats it: either
    ``"8.0 MiB"`` or ``"total (min, med, max ...)\\n8.0 MiB (...)"``; the
    total is the first size after the header line."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_MULT[m.group(2)]


PYTHON_IO_METRICS = ("data sent to Python workers", "data returned from Python workers")
STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled", "numTasks",
)


class SparkProbe:
    """Reads stage and SQL-node metrics for given job groups from the
    status store behind the Spark UI.

    The store keeps only the most recent jobs and stages (1000 by default),
    so callers read right after each operation. Listener events reach the
    store asynchronously, so ``read`` first waits for Spark's listener bus
    to drain, then (briefly) for every stage to reach a terminal status."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._bus = self.sc._jsc.sc().listenerBus()
        self._sql_offset = 0
        self.read_s = 0.0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def read(self, groups: list[str]) -> dict:
        t0 = time.time()
        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {f: 0.0 for f in STAGE_FIELDS}
        out.update(jobs=len(job_ids), stages=0, python_io_bytes=0.0, task_skew=1.0)
        slowest = None
        for sid in sorted(stage_ids):
            attempts = self._stage(sid)
            for a in attempts:
                if a.get("status") == "SKIPPED":
                    continue
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += a.get(f, 0) or 0
                if slowest is None or a["executorRunTime"] > slowest[2]:
                    slowest = (sid, a["attemptId"], a["executorRunTime"])
        if slowest is not None and slowest[2] > 0:
            q = self._get(
                f"/stages/{slowest[0]}/{slowest[1]}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_skew"] = q[1] / max(q[0], 1.0)
        out["python_io_bytes"] = self._python_io(set(job_ids))
        self.read_s += time.time() - t0
        return out

    def _stage(self, sid: int) -> list[dict]:
        deadline = time.time() + 3.0
        while True:
            try:
                attempts = self._get(f"/stages/{sid}?details=false")
            except urllib.error.HTTPError:
                attempts = []
            done = attempts and all(
                a.get("status") in ("COMPLETE", "SKIPPED", "FAILED") for a in attempts
            )
            if done or time.time() > deadline:
                return attempts
            time.sleep(0.02)

    def _python_io(self, job_ids: set[int]) -> float:
        """Bytes to and from Python workers on SQL nodes of executions that
        ran any of ``job_ids``. Executions are listed incrementally; one
        still running (another client's) is listed again next time."""
        if not job_ids:
            return 0.0
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={self._sql_offset}&length=1000"
        )
        running = [e["id"] for e in execs if e.get("status") == "RUNNING"]
        if execs:
            self._sql_offset = min(running) if running else execs[-1]["id"] + 1
        total = 0.0
        for e in execs:
            ran = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") in PYTHON_IO_METRICS:
                        total += parse_size_metric(m.get("value", ""))
        return total


class LayerTotals:
    """Per-operation averages of status-store reads across traced ops."""

    def __init__(self) -> None:
        self.ops = 0
        self.sums: dict[str, float] = {}
        self.skews: list[float] = []

    def add(self, probe_out: dict) -> None:
        self.ops += 1
        for k, v in probe_out.items():
            if k != "task_skew":
                self.sums[k] = self.sums.get(k, 0.0) + v
        self.skews.append(probe_out["task_skew"])

    def emit(self, run: Run) -> None:
        n = max(self.ops, 1)
        s = lambda k: self.sums.get(k, 0.0) / n  # noqa: E731
        mb = 1e6
        run.metric("spark.jobs", s("jobs"), "count")
        run.metric("spark.stages", s("stages"), "count")
        run.metric("spark.tasks", s("numTasks"), "count")
        run.metric("spark.core_s", s("executorRunTime") / 1e3, "s")
        run.metric("spark.cpu_s", s("executorCpuTime") / 1e9, "s")
        run.metric("spark.cpu_frac",
                   s("executorCpuTime") / 1e6 / max(s("executorRunTime"), 1e-9), "ratio")
        run.metric("spark.gc_s", s("jvmGcTime") / 1e3, "s")
        run.metric("spark.input_mb", s("inputBytes") / mb, "MB")
        run.metric("spark.shuffle_write_mb", s("shuffleWriteBytes") / mb, "MB")
        run.metric("spark.shuffle_read_mb", s("shuffleReadBytes") / mb, "MB")
        run.metric("spark.spill_mb", s("diskBytesSpilled") / mb, "MB")
        run.metric("spark.python_io_mb", s("python_io_bytes") / mb, "MB")
        run.metric("spark.task_skew",
                   statistics.median(self.skews) if self.skews else 1.0, "ratio")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
