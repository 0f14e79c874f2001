"""Structured Streaming: file-source streams driven with availableNow
triggers into memory sinks; streaming results must match the batch twins.
Every stream runs through ``queries.scratch``, which fails a stalled
stream with TimeoutError instead of handing back a partial sink, and drops
its memory-sink views."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.queries.scratch import scratch
from sdc_mapreduce_spark.streaming.events import (
    replay_events,
    session_aggregate,
    stateful_user_totals,
    stream_stream_error_purchase_join,
    streaming_dedup,
    tumbling_counts,
)

_EVENT_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def _replay(spark, sf_dir, dest, **kw):
    """The events fixture landed in ``dest`` as a replayable file stream,
    ``ts`` read as session-zoned TIMESTAMP (watermarks need it)."""
    return replay_events(
        load_table(spark, sf_dir, "events"),
        str(dest),
        *_EVENT_COLUMNS,
        event_time="zoned",
        **kw,
    )


@pytest.fixture
def events_stream(spark, sf_dir, tmp_path):
    return _replay(spark, sf_dir, tmp_path / "events")


def _drain(s, df, output_mode: str = "append"):
    """Run ``df`` to completion into a memory sink of scope ``s``; its rows."""
    return s.memory(
        df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    ).collect()


def test_tumbling_counts_match_batch(spark, sf_dir, events_stream):
    assert events_stream.isStreaming
    with scratch(spark) as s:
        rows = _drain(s, tumbling_counts(events_stream))
    got = {
        (r["window_start"], r["event_type"]): (r["cnt"], round(r["sum_value"], 6))
        for r in rows
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt", "sum_value")
    )
    expected = {
        (r["ws"], r["event_type"]): (r["cnt"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    # append mode only emits windows the watermark has passed; every emitted
    # window must match the batch result, and most windows must be emitted
    # (only the trailing watermark horizon may be withheld).
    assert got
    for key, val in got.items():
        assert expected[key] == val
    assert len(got) >= len(expected) * 0.9


def test_streaming_dedup_drops_duplicates(spark, sf_dir, tmp_path):
    # land the events twice into one source: every event appears twice
    ev = load_table(spark, sf_dir, "events")
    dup_dir = str(tmp_path / "dup")
    replay_events(ev, dup_dir, *_EVENT_COLUMNS, event_time="zoned")
    stream = replay_events(ev, dup_dir, *_EVENT_COLUMNS, event_time="zoned")
    with scratch(spark) as s:
        rows = _drain(s, streaming_dedup(stream, ["event_id"], watermark="10 minutes"))
    counts = {}
    for r in rows:
        counts[r["event_id"]] = counts.get(r["event_id"], 0) + 1
    assert counts, "dedup emitted nothing"
    assert all(c == 1 for c in counts.values()), "duplicates survived streaming dedup"


def test_session_aggregate_runs(spark, events_stream):
    with scratch(spark) as s:
        rows = _drain(s, session_aggregate(events_stream, watermark="30 minutes"))
    assert rows
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)


def test_stateful_user_totals_match_batch(spark, sf_dir, events_stream):
    """The applyInPandasWithState accumulator's final emission per user must
    equal the batch groupBy — state survives across micro-batches. Totals
    are exact micro-unit longs, so they compare exactly."""
    with scratch(spark) as s:
        rows = _drain(s, stateful_user_totals(events_stream, watermark="10 minutes"), "update")
    # update mode re-emits a row per state change; the accumulator is
    # monotone, so the row with the largest n_events is the lifetime total
    got: dict[int, tuple[int, int]] = {}
    for r in rows:
        if r["user_id"] not in got or r["n_events"] > got[r["user_id"]][0]:
            got[r["user_id"]] = (r["n_events"], r["value_micro_sum"])
    ev = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: (r["n"], r["micro"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("micro"),
        )
        .collect()
    }
    assert got == expected


def test_stream_stream_join_matches_batch(spark, sf_dir, events_stream):
    """Every pair the stream-stream join emits must exist in the batch
    range-join result, and it must emit the vast majority of them (pairs in
    the trailing watermark horizon may be withheld at end-of-stream)."""
    with scratch(spark) as s:
        rows = _drain(s, stream_stream_error_purchase_join(events_stream))
    got = {(r["error_event_id"], r["purchase_event_id"]) for r in rows}
    from sdc_mapreduce_spark.queries.events_queries import events_range_join

    expected = {
        (r["error_event_id"], r["purchase_event_id"])
        for r in events_range_join(spark, sf_dir).collect()
    }
    assert got <= expected, f"stream emitted pairs batch lacks: {got - expected}"
    assert len(got) >= 0.9 * len(expected), (len(got), len(expected))


def test_checkpoint_restart_is_exactly_once(spark, events_stream, tmp_path):
    """Restarting a checkpointed query over an unchanged source must add
    nothing: the checkpoint records consumed files, so the second run
    commits zero new batches (file-sink exactly-once)."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    with scratch(spark) as s:

        def run_once():
            s.run(
                tumbling_counts(events_stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        run_once()
        first = spark.read.parquet(out).count()
        assert first > 0
        run_once()
        assert spark.read.parquet(out).count() == first, "restart duplicated rows"


def test_foreach_batch_custom_sink(spark, sf_dir, tmp_path):
    """foreachBatch: each micro-batch lands through arbitrary batch-writer
    code (here: appended parquet) — the escape hatch for sinks Structured
    Streaming lacks natively. Total delivered rows must equal the source."""
    out = str(tmp_path / "fb_out")

    def write_batch(batch_df, batch_id: int):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    with scratch(spark) as s:
        s.run(
            _replay(spark, sf_dir, tmp_path / "events", max_files_per_trigger=2)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    delivered = spark.read.parquet(out)
    expected = load_table(spark, sf_dir, "events").count()
    assert delivered.count() == expected
    # maxFilesPerTrigger=2 over 4 source files → at least 2 micro-batches
    assert delivered.select("batch_id").distinct().count() >= 2


def _click_events(spark, rows: list[tuple[int, str]]):
    """Click events from (event_id, "yyyy-MM-dd HH:mm:ss") pairs."""
    return spark.createDataFrame(
        [
            (event_id, dt.datetime.fromisoformat(ts), event_id, "click", 1.0, "{}")
            for event_id, ts in rows
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy end-to-end: a row older than the watermark when it
    arrives is DROPPED — the already-emitted window is final (append mode)
    and never re-emitted with the late row counted. The watermark survives
    the restart via the checkpoint."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    with scratch(spark) as s:

        def deliver(rows):
            # file sink: the one sink that recovers watermark + progress
            # from the checkpoint across restarts (memory sink cannot)
            stream = replay_events(
                _click_events(spark, rows),
                src,
                *_EVENT_COLUMNS,
                event_time="zoned",
                files=1,
            )
            s.run(
                tumbling_counts(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        # run 1: two rows in the 12:00 window, one at 12:31 to advance the
        # watermark (10 min delay) to 12:21 > 12:05 → the 12:00 window emits
        deliver(
            [
                (1, "2024-06-01 12:00:01"),
                (2, "2024-06-01 12:04:00"),
                (3, "2024-06-01 12:31:00"),
            ]
        )
        first = {
            r["window_start"]: r["cnt"] for r in spark.read.parquet(out).collect()
        }
        assert any(ws.minute == 0 for ws in first) and all(
            cnt == 2 for ws, cnt in first.items() if ws.minute == 0
        )

        # run 2: one LATE row for the closed 12:00 window (12:01 < watermark
        # 12:21 → dropped) plus a fresh 12:50 row that pushes the watermark
        # to 12:40, emitting the 12:30 window with cnt=1 — never a corrected
        # 12:00 window
        deliver([(4, "2024-06-01 12:01:00"), (5, "2024-06-01 12:50:00")])
    both = [
        (r["window_start"], r["cnt"]) for r in spark.read.parquet(out).collect()
    ]
    second = [kv for kv in both if kv[0] not in first]
    assert all(
        ws.minute != 0 for ws, _ in second
    ), "late row re-opened a closed window"
    assert [(ws.minute, cnt) for ws, cnt in second] == [(30, 1)]
    # and the closed 12:00 window was emitted exactly once, still cnt=2
    assert sum(1 for ws, _ in both if ws.minute == 0) == 1


def test_watermark_append_emission_boundary_is_inclusive(spark, tmp_path):
    """Pins the append-mode finalization boundary the watermark
    certification's oracle encodes: with max event time 10:00:00 and a
    10-minute delay the watermark lands EXACTLY on the 09:45–09:50 window
    end, and that window IS emitted (window_end <= watermark, inclusive)
    while the still-open 10:00 window is withheld."""
    stream = replay_events(
        _click_events(spark, [(1, "2024-06-01 09:46:00"), (2, "2024-06-01 10:00:00")]),
        str(tmp_path / "bnd_src"),
        *_EVENT_COLUMNS,
        event_time="zoned",
        files=1,
    )
    agg = tumbling_counts(stream).select(
        F.col("window_start").cast("timestamp_ntz").alias("ws"), "cnt"
    )
    with scratch(spark) as s:
        rows = _drain(s, agg)
    assert [(r["ws"].strftime("%H:%M"), r["cnt"]) for r in rows] == [("09:45", 1)]


def test_json_roundtrip_preserves_schema(events_stream):
    assert dict(events_stream.dtypes)["ts"] == "timestamp"
    assert dict(events_stream.dtypes)["value"] == "double"


def test_kvtext_kill_and_resume_mid_stream_exactly_once(spark, tmp_path):
    """Kill-and-resume for the kvtext stream source under a CONTINUOUS
    trigger: a running query ingests blob 1 and is stopped mid-stream (not
    at an availableNow boundary); more blobs arrive while it is down; a new
    query on the same checkpoint must ingest exactly the missed files —
    no re-read of committed offsets (file-set offset, datasource.py
    KVTextStreamReader), no loss, across two kill/resume cycles."""
    import time as _t

    from sdc_mapreduce_spark.datasource import register_kvtext

    d = tmp_path / "incoming"
    d.mkdir()
    (d / "blob1.txt").write_text("a 1\nb 2\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    register_kvtext(spark)

    def start_continuous():
        return (
            spark.readStream.format("kvtext")
            .option("path", str(d))
            .option("shard_size", 4)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )

    def sink_rows():
        try:
            return sorted(
                (r["key"], r["value"]) for r in spark.read.parquet(out).collect()
            )
        except Exception:  # sink dir not created yet
            return []

    def wait_for(expected, timeout=120):
        deadline = _t.time() + timeout
        while _t.time() < deadline:
            if sink_rows() == expected:
                return True
            _t.sleep(0.2)
        return False

    q = start_continuous()
    try:
        assert wait_for([("a", 1), ("b", 2)]), f"first batch missing: {sink_rows()}"
    finally:
        q.stop()  # kill mid-stream, between processingTime ticks

    # data arrives while the query is down
    (d / "blob2.txt").write_text("c 3\n")
    (d / "blob3.txt").write_text("a 4\nd 5\n")

    q = start_continuous()
    try:
        assert wait_for(
            [("a", 1), ("a", 4), ("b", 2), ("c", 3), ("d", 5)]
        ), f"resume lost/duplicated rows: {sink_rows()}"
        # keep it running a few ticks: committed files must never re-ingest
        _t.sleep(1.0)
        assert sink_rows() == [("a", 1), ("a", 4), ("b", 2), ("c", 3), ("d", 5)]
    finally:
        q.stop()

    # second kill/resume cycle with one more late blob
    (d / "blob4.txt").write_text("e 6\n")
    q = start_continuous()
    try:
        assert wait_for(
            [("a", 1), ("a", 4), ("b", 2), ("c", 3), ("d", 5), ("e", 6)]
        ), f"second resume wrong: {sink_rows()}"
    finally:
        q.stop()


def test_tumbling_throughput_floor(spark, sf_dir, tmp_path):
    """Throughput canary: the tumbling-window pipeline must stay JVM-side.
    Replicates the fixture stream ~30x (so per-row work dominates fixed
    micro-batch overhead) and asserts a deliberately generous events/sec
    floor — a row-at-a-time Python regression in streaming/events.py is
    ~2 orders of magnitude off this pace and trips it; normal CI noise
    does not."""
    import time

    out = str(tmp_path / "events_big")
    ev = load_table(spark, sf_dir, "events")
    reps = spark.range(30).select(F.col("id").alias("__rep"))
    big = (
        ev.crossJoin(reps)
        .withColumn("event_id", F.col("event_id") + F.col("__rep") * 10_000_000)
        .drop("__rep")
    )
    n_events = big.count()
    stream = replay_events(big, out, *_EVENT_COLUMNS, event_time="zoned", files=8)
    t0 = time.monotonic()
    with scratch(spark) as s:
        rows = _drain(s, tumbling_counts(stream))
    elapsed = time.monotonic() - t0
    assert rows
    rate = n_events / elapsed
    # floor chosen ~50x below the JVM-side rate and ~50x above a
    # row-at-a-time Python pace, so contention noise can't trip it but a
    # real regression can't hide
    assert rate >= 1000, f"streaming throughput regressed: {rate:.0f} ev/s ({elapsed:.1f}s for {n_events})"


def test_cdc_upsert_supersession_and_replay_idempotent(spark, tmp_path):
    """Cross-batch CDC semantics: a later delivery supersedes an earlier
    version, a tombstone hides the key, a post-tombstone change revives it,
    and replaying a landed batch (foreachBatch redelivery) leaves the
    snapshot bit-identical instead of double-counting."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.streaming.events import read_cdc_snapshot

    snap = str(tmp_path / "snap")

    def land(rows, batch_id):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double"
        )
        delta = (
            df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_changes"),
                F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                    "__last"
                ),
            )
            .withColumn("__batch", F.lit(batch_id))
        )
        # per-write dynamic overwrite, as cdc_upsert_stream does: a
        # session conf would change every later overwrite in the session
        delta.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("__batch").parquet(snap)

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    land([(0, t(0), 1, "view", 1.0), (1, t(1), 2, "click", 2.0)], 0)
    # user 1 tombstoned, user 2 superseded
    land([(2, t(2), 1, "error", 0.0), (3, t(3), 2, "purchase", 9.0)], 1)
    # user 1 revived after the tombstone
    land([(4, t(4), 1, "click", 7.0)], 2)

    def state():
        return sorted(map(tuple, read_cdc_snapshot(spark, snap).collect()))

    first = state()
    assert first == [
        (1, 4, "click", 7.0, 3),
        (2, 3, "purchase", 9.0, 2),
    ]
    # replay batch 1 (redelivery after failure): identical snapshot
    land([(2, t(2), 1, "error", 0.0), (3, t(3), 2, "purchase", 9.0)], 1)
    assert state() == first


def test_streaming_session_window_matches_batch_sessionize(spark, sf_dir):
    """The streaming session_window certification (round 7): run through
    REAL micro-batches (maxFilesPerTrigger=1) in complete mode, the merged
    session set must equal the batch lag→flag→running-count sessionize —
    session state merging across batches is the property under test."""
    from sdc_mapreduce_spark.operators.skew import sessionize_plain
    from sdc_mapreduce_spark.queries.events_queries import (
        events_streaming_session_certified,
    )

    got = sorted(
        map(tuple, events_streaming_session_certified(spark, sf_dir).collect())
    )
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_plain(ev).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_embedding_screen_matches_batch_index(spark, sf_dir):
    """The streaming ingestion-screen certification (round 8): the
    new-vector feed replayed through REAL micro-batches
    (maxFilesPerTrigger=1), each probing the persisted SRP bucket index
    via foreachBatch, must emit exactly the one-shot batch screen's reject
    list — per-delivery index probing with no lost/duplicated micro-batch
    is the property under test."""
    from sdc_mapreduce_spark.queries.dedup_queries import (
        dedup_incremental_embedding_index,
        dedup_streaming_embedding_certified,
    )

    got = sorted(
        map(tuple, dedup_streaming_embedding_certified(spark, sf_dir).collect())
    )
    want = sorted(
        map(tuple, dedup_incremental_embedding_index(spark, sf_dir).collect())
    )
    assert got == want and len(got) > 0


def _sdcms_temp_entries() -> set[str]:
    import glob
    import tempfile

    return set(glob.glob(os.path.join(tempfile.gettempdir(), "sdcms_*")))


def test_stalled_stream_times_out_and_leaves_nothing(spark, monkeypatch):
    """A stream that never terminates (rate source, no availableNow) must
    fail loudly, not hand back a partial sink: past the scratch deadline
    the query is stopped and TimeoutError raised, and the scope's exit
    leaves no active query, sink view or scratch directory behind."""
    import sdc_mapreduce_spark.queries.scratch as scratch_mod

    monkeypatch.setattr(scratch_mod, "AWAIT_S", 1)
    views = {t.name for t in spark.catalog.listTables()}
    dirs = []
    with pytest.raises(TimeoutError):
        with scratch_mod.scratch(spark) as s:
            dirs += [s.dir(), s.dir()]
            s.memory(
                spark.readStream.format("rate")
                .load()
                .writeStream.option("checkpointLocation", dirs[0])
            )
    assert spark.streams.active == []
    assert dirs and not any(os.path.exists(d) for d in dirs)
    assert {t.name for t in spark.catalog.listTables()} == views


def test_driver_certs_leave_no_views_queries_or_dirs(spark, sf_dir):
    """Memory-sink, foreachBatch and batch scratch builders run on one
    session must leave the session as they found it: no temp view holding
    sink rows, no active stream, no sdcms_* scratch entry in the temp
    dir."""
    from sdc_mapreduce_spark.queries.events_queries import (
        events_streaming_tumbling_certified,
        events_streaming_update_certified,
    )
    from sdc_mapreduce_spark.queries.mapreduce_queries import (
        kvtext_scan_certified,
    )

    views = {t.name for t in spark.catalog.listTables()}
    entries = _sdcms_temp_entries()
    for build in (
        events_streaming_tumbling_certified,
        events_streaming_update_certified,
        kvtext_scan_certified,
    ):
        assert build(spark, sf_dir).count() > 0
    assert {t.name for t in spark.catalog.listTables()} == views
    assert spark.streams.active == []
    assert _sdcms_temp_entries() <= entries


def test_streaming_cert_spark_version_pin():
    """Version tripwire (VERDICT r9 ask #7): the watermark-cert oracles
    (EVENTS_STREAMING_WATERMARK_SQL / EVENTS_STREAMING_RESTART_SQL) encode
    availableNow late-data behavior OBSERVED on Spark 4.1.x — upstream
    documents late dropping only as "may or may not", so a minor/major
    bump is allowed to change it legally. This assertion fails on any
    version change so the upgrade consciously re-runs the behavior pins
    (test_watermark_drops_late_rows,
    test_watermark_append_emission_boundary_is_inclusive) and re-derives
    the oracle counting rules if the engine moved."""
    import pyspark

    assert pyspark.__version__.startswith("4.1."), (
        f"Spark version is now {pyspark.__version__}: re-verify the "
        "availableNow watermark behavior pinned by "
        "test_watermark_drops_late_rows / "
        "test_watermark_append_emission_boundary_is_inclusive and "
        "re-derive the EVENTS_STREAMING_{WATERMARK,RESTART}_SQL counting "
        "rules in queries/events_queries.py before trusting the certs"
    )
