"""The driver parses only the LAST 2,000 bytes of bench stdout and reads
the final JSON line — round 6 lost its bench signal when the payload
outgrew that window. These tests pin the emission contract without
running the bench."""

from __future__ import annotations

import json

import pytest


def test_bench_compact_line_fits_driver_tail_window():
    """A compact line built from the CURRENT bench query set with
    worst-case-width timings must stay well inside the 2,000-byte tail
    window (budget 1,500, the bench.py guard threshold)."""
    from sdc_mapreduce_spark.queries import bench_queries

    names = list(bench_queries())
    compact = json.dumps(
        {
            "metric": "headline_query_set_wall_clock",
            "value": 99999.999,
            "unit": "sec",
            "queries": {n: 99999.999 for n in names},
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(compact) <= 1500, (
        f"compact bench line is {len(compact)} bytes for {len(names)} "
        "queries — trim the bench set or the emission before the driver "
        "window overflows again"
    )


def test_bench_compact_payload_is_last_print_in_source():
    """bench.py must print the compact summary LAST (after the detail
    line) — the driver parses the final JSON line of the stdout tail."""
    with open("bench.py") as fh:
        src = fh.read()
    assert src.rindex("print(compact)") > src.rindex("print(detail)")


def test_timed_runs_stall_rerun_rule(monkeypatch):
    """VERDICT r10 ask #4: a sample set whose max/min spread exceeds
    SPREAD_MAX must trigger extra samples (up to MAX_REPEATS) AND record
    the event — the r10 10x 'stallrun' artifact (join_broadcast_dim
    1.68-62.2 s in one session) showed a silent host stall contaminating
    a driver-visible bench number. Deterministic via a scripted clock."""
    import bench as benchmod

    # scripted per-sample durations: sample 3 is a 10 s host stall
    durations = [0.1, 0.1, 10.0, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1]
    ticks = []
    t = 0.0
    for d in durations:
        ticks += [t, t + d]
        t += d + 1.0
    it = iter(ticks)
    monkeypatch.setattr(benchmod.time, "time", lambda: next(it))

    events: list = []
    after_calls = []
    samples = benchmod._timed_runs(
        lambda: None,
        after_run=lambda: after_calls.append(1),
        name="stalled_query",
        stall_events=events,
    )
    # the stall keeps global max/min above SPREAD_MAX forever, so the rule
    # extends to exactly MAX_REPEATS and stops
    assert len(samples) == benchmod.MAX_REPEATS
    assert len(after_calls) == len(samples)  # hygiene hook ran per sample
    assert benchmod._median(samples) == 0.1  # median self-heals the stall
    assert len(events) == 1
    ev = events[0]
    assert ev["query"] == "stalled_query"
    assert ev["samples"] == samples
    assert ev["final_spread"] == 100.0
    assert ev["settled"] is False


def test_timed_runs_quiet_run_records_nothing(monkeypatch):
    """A clean 3-sample run must not extend and must not log an event."""
    import bench as benchmod

    durations = [0.1, 0.11, 0.1]
    ticks = []
    t = 0.0
    for d in durations:
        ticks += [t, t + d]
        t += d + 1.0
    it = iter(ticks)
    monkeypatch.setattr(benchmod.time, "time", lambda: next(it))
    events: list = []
    samples = benchmod._timed_runs(lambda: None, name="q", stall_events=events)
    assert len(samples) == benchmod.REPEATS
    assert events == []


def test_bench_skew_toggle(monkeypatch):
    """SPARK_GRAFT_BENCH_SKEW=0 must disable the skew suites (used for the
    100x scale-corpus run, where the fixtures' 30x events replication
    would dwarf the headline measurement); default is on."""
    import importlib

    import bench as benchmod

    monkeypatch.setenv("SPARK_GRAFT_BENCH_SKEW", "0")
    importlib.reload(benchmod)
    assert benchmod.RUN_SKEW is False
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SKEW")
    importlib.reload(benchmod)
    assert benchmod.RUN_SKEW is True
    # main() must consult the toggle before building the skew fixtures
    with open("bench.py") as fh:
        src = fh.read()
    assert src.index("if RUN_SKEW:") < src.index('_make_skewed_events(spark, "1pct")')


def _scripted_clock(monkeypatch, durations):
    import bench as benchmod

    ticks = []
    t = 0.0
    for d in durations:
        ticks += [t, t + d]
        t += d + 1.0
    it = iter(ticks)
    monkeypatch.setattr(benchmod.time, "time", lambda: next(it))


def test_settled_runs_retries_unsettled_pass(monkeypatch):
    """VERDICT r11 ask #2: one contended window must not be the skew
    suite's official number. Pass 1 carries a persistent 10 s stall (never
    settles, extends to MAX_REPEATS); pass 2 is clean — _settled_runs must
    discard pass 1 and report pass 2 as settled."""
    import bench as benchmod

    pass1 = [0.1, 0.1, 10.0, 0.1, 0.1, 0.1, 0.1]  # MAX_REPEATS, unsettled
    pass2 = [0.2, 0.2, 0.2]  # REPEATS, settled
    _scripted_clock(monkeypatch, pass1 + pass2)
    stalls: list = []
    samples, settled, passes = benchmod._settled_runs(
        lambda: None, name="q", stalls=stalls
    )
    assert samples == pass2
    assert settled is True
    assert passes == 2
    # pass 1's contaminated set stays inspectable, tagged with its pass
    assert len(stalls) == 1 and stalls[0]["query"] == "q#pass1"
    assert stalls[0]["settled"] is False


def test_settled_runs_keeps_min_median_when_nothing_settles(monkeypatch):
    """If every pass is contended, report the minimum-median pass (stalls
    only inflate) with settled=False so the artifact is honest."""
    import bench as benchmod

    bad = [0.5, 0.5, 30.0, 0.5, 0.5, 0.5, 0.5]  # median 0.5
    worse = [2.0, 2.0, 30.0, 2.0, 2.0, 2.0, 2.0]  # median 2.0
    _scripted_clock(monkeypatch, worse + bad + worse)
    stalls: list = []
    samples, settled, passes = benchmod._settled_runs(
        lambda: None, name="q", stalls=stalls
    )
    assert samples == bad  # pass 2 had the smallest median
    assert settled is False
    assert passes == benchmod.SKEW_SETTLE_PASSES
    assert len(stalls) == benchmod.SKEW_SETTLE_PASSES


def test_bench_order_is_pinned_canonical():
    """The bench execution order must NOT track the registry's rotating
    priority order (VERDICT r9 ask #2: r9's rotation moved the warm-up
    neighborhood and produced a phantom 11-35% 'regression' of five
    queries with unchanged plans). bench.py pins _BENCH_ORDER; new
    bench-flagged queries append at the END."""
    import bench as benchmod
    from sdc_mapreduce_spark.queries import bench_queries

    flagged = set(bench_queries())
    ordered = list(benchmod._ordered_bench())
    pinned = [n for n in benchmod._BENCH_ORDER if n in flagged]
    assert ordered[: len(pinned)] == pinned
    assert set(ordered) == flagged
    # the pinned list should not name queries that no longer exist
    assert set(benchmod._BENCH_ORDER) <= flagged
    # r12: every bench-flagged query is folded into the literal — if this
    # fails because you just bench-flagged a new query, append it to the
    # END of _BENCH_ORDER (never reorder the established series)
    assert len(benchmod._BENCH_ORDER) == 23
    assert flagged == set(benchmod._BENCH_ORDER)


def test_steal_audit_reads_and_summarizes(monkeypatch):
    """r13 steal audit: _read_steal returns the cumulative steal-jiffies
    counter (monotonic across reads) and _steal_summary converts a
    bracketed delta into stolen-core-seconds and percent-of-core-time —
    the per-artifact interference evidence loadavg cannot provide
    (cross-VM steal is invisible to in-VM load)."""
    import bench as benchmod

    s1 = benchmod._read_steal()
    if s1 is None:  # ADVICE r13: hosts without /proc/stat (e.g. macOS)
        pytest.skip("no /proc/stat steal counter on this host")
    s2 = benchmod._read_steal()
    assert s2 >= s1 >= 0

    # deterministic summary math: 10 stolen core-seconds over a 100 s
    # window on N cores
    hz = 100
    monkeypatch.setattr(
        benchmod.os, "sysconf", lambda name: hz, raising=False
    )
    wall = 100.0
    t0 = 1000.0
    monkeypatch.setattr(benchmod.time, "time", lambda: t0 + wall)
    monkeypatch.setattr(benchmod, "_read_steal", lambda: 5000 + 10 * hz)
    out = benchmod._steal_summary(5000, t0)
    cores = benchmod.os.cpu_count() or 1
    assert out["stolen_core_sec"] == 10.0
    assert out["pct_of_core_time"] == round(100.0 * 10.0 / (wall * cores), 2)


def test_steal_summary_handles_missing_counter():
    import bench as benchmod

    assert benchmod._steal_summary(None, 0.0) is None


def test_bench_records_the_parallelism_it_ran_with(spark):
    """The detail JSON carries master, sc.defaultParallelism and
    SPARK_GRAFT_CPUS; on the test session the recorded parallelism is the
    CPU count the session was sized by."""
    import os

    import bench as benchmod
    from sdc_mapreduce_spark.session import default_parallelism

    rec = benchmod._parallelism(spark)
    assert rec["master"] == spark.sparkContext.master
    assert rec["spark_graft_cpus"] == os.environ.get("SPARK_GRAFT_CPUS")
    assert rec["default_parallelism"] == default_parallelism()
