"""Streaming operators over the events schema (FIXTURES.md Group B).

Batch and stream share one logical plan in Structured Streaming, so each
operator here takes whatever DataFrame it is given: the registered
``events_streaming_*_certified`` queries run them over
:func:`replay_events` file streams (``availableNow`` trigger), and the
batch twin ``events_sliding`` runs ``sliding_counts`` on the table.

Watermark policy (ours to define — the reference has no streaming at all):
event-time = ``ts``; late rows older than the watermark delay are dropped;
windowed aggregates emit in append mode once the watermark passes window
end. State stores stay bounded because every stateful operator below is
keyed by (window | user) x watermark — the requirement for unbounded-input
deployments. The windowed, dedup and per-user operators take the
watermark delay as a required argument; None runs one without a
watermark, as the certifications do for finite replays in complete or
update mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

# Event time in a replay file is microsecond wall-clock text. How it reads
# back: "ntz" as TIMESTAMP_NTZ, the same naive value in any session zone;
# "zoned" as TIMESTAMP in the session zone, which watermarks accept; "utc"
# as TIMESTAMP from text carrying an explicit +0000 offset, so the parsed
# instants are the same in every session zone.
_TS_TEXT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_EVENT_TIME = {
    # encoding -> (ts type, reader option, reader pattern, written offset)
    "ntz": (TimestampNTZType(), "timestampNTZFormat", _TS_TEXT, ""),
    "zoned": (TimestampType(), "timestampFormat", _TS_TEXT, ""),
    "utc": (TimestampType(), "timestampFormat", _TS_TEXT + "xx", "+0000"),
}


def replay_events(
    events: DataFrame,
    dest: str,
    *cols: str,
    event_time: str = "ntz",
    files: int = 4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Land ``events.select(*cols)`` as ``files`` json files in ``dest``
    and return a file stream over ``dest`` (the replayable analog of a
    Kafka topic; swapping in ``format('kafka')`` changes only the reader).
    The stream's schema is the projection's, with ``ts`` read in the
    ``event_time`` encoding. Files are appended, so a second call on the
    same ``dest`` adds a delivery that a checkpointed query picks up on
    restart."""
    ts_type, option, pattern, offset = _EVENT_TIME[event_time]
    text = F.concat(F.date_format("ts", _TS_TEXT), F.lit(offset)).alias("ts")
    landed = events.select(*(text if c == "ts" else c for c in cols))
    landed.repartition(files).write.mode("append").json(dest)
    schema = StructType(
        [
            StructField(f.name, ts_type if f.name == "ts" else f.dataType)
            for f in landed.schema
        ]
    )
    reader = (
        events.sparkSession.readStream.schema(schema)
        .format("json")
        .option(option, pattern)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(dest)


def _watermarked(events: DataFrame, col: str, delay: str | None) -> DataFrame:
    """``events`` with an event-time watermark on ``col``; ``delay=None``
    means none (complete/update runs, and NTZ event time, which
    ``withWatermark`` rejects)."""
    return events if delay is None else events.withWatermark(col, delay)


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str | None = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window: count + value sum per (window, type)."""
    return (
        _watermarked(events, "ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    *,
    watermark: str | None,
) -> DataFrame:
    """Sliding event-time window (overlapping assignment): each event
    counts in window/slide windows."""
    return (
        _watermarked(events, "ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def session_stats() -> list[Column]:
    """The aggregates of one session: n_events, session_start and
    session_end (its first and last event time)."""
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    ]


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", *, watermark: str | None
) -> DataFrame:
    """Session windows: dynamic-length windows that close after ``gap`` of
    per-user inactivity (``F.session_window``, merging across
    micro-batches). A session spans its first to its last event."""
    return (
        _watermarked(events, "ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(*session_stats())
        .select("user_id", "session_start", "session_end", "n_events")
    )


def stream_stream_error_purchase_join(
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each error event paired with the same
    user's purchases in the following ``horizon`` (the streaming twin of the
    batch events_range_join query).

    Both sides carry watermarks and the join condition time-bounds the match
    window, so the state store retains each side only for
    watermark + horizon — the requirements for bounded-state stream-stream
    joins. One input stream, filtered two ways, joins against itself the
    same way two topics would."""
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        F.col("user_id"),
        F.col("ts").alias("error_ts"),
    ).withWatermark("error_ts", watermark)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return errors.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("error_ts"))
        & (F.col("purchase_ts") <= F.col("error_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("error_event_id", "purchase_event_id", "user_id")


def stateful_user_totals(events: DataFrame, *, watermark: str | None) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    lifetime totals (event count + value sum), re-emitted on every update.

    Each value is floored to integer micro-units once and the state sums
    longs, so the totals are exact and do not depend on how the engine
    splits the input into micro-batches; the last emission per user (the
    largest n_events) is the lifetime total.

    This is the arbitrary-state escape hatch for operators the built-in
    windowed aggregations can't express (per-key accumulators, custom
    eviction, decaying counters). State is one tiny tuple per user — bounded
    by cardinality, not stream length; the per-batch work is Arrow-batched
    pandas, not row-at-a-time Python."""
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["value_micro"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_micro_sum": [total]}
        )

    return (
        _watermarked(events, "ts", watermark)
        .select(
            "user_id", F.floor(F.col("value") * 1e6).cast("long").alias("value_micro")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, value_micro_sum long",
            stateStructType="n long, total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    *,
    watermark: str | None,
) -> DataFrame:
    """Streaming exact dedup on ``keys``. With a watermark delay,
    ``dropDuplicatesWithinWatermark`` keeps state only for the watermark
    window, the bounded-state form; without one (None) it is
    ``dropDuplicates`` over the whole stream (exact, unbounded state)."""
    if watermark is None:
        return events.dropDuplicates(keys)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def fold_changes(changes: DataFrame) -> DataFrame:
    """Per-key (user_id, n_changes, __last): the key's change count and
    its latest version as one max-struct over (ts, event_id, ...), which
    event_id uniqueness makes a total order. Both aggregates combine
    map-side, so a change log folds in one shuffle of (key, last-row)
    pairs."""
    return changes.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("__last"),
    )


def live_rows(folded: DataFrame) -> DataFrame:
    """The applied table from per-key (n_changes, __last) folds: one row
    per key whose latest change is not an 'error' delete tombstone."""
    return folded.filter(F.col("__last.event_type") != "error").select(
        "user_id",
        F.col("__last.event_id").alias("last_event_id"),
        F.col("__last.event_type").alias("last_event_type"),
        F.col("__last.value").alias("last_value"),
        "n_changes",
    )


def cdc_upsert_stream(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
):
    """Streaming CDC apply — the change-feed twin of the batch
    ``events_cdc_apply``: every change row is an upsert of its key's state
    ('error' rows are delete tombstones) and the applied table is
    latest-version-wins per key, maintained continuously across
    micro-batches.

    Exactly-once discipline: each micro-batch reduces to per-key
    (n_changes, max-version struct) — the same order-agnostic max-struct as
    the batch operator — and lands it as a DELTA partition keyed by
    batch_id with dynamic partition overwrite, so a replayed batch rewrites
    ITS OWN partition to identical content instead of double-counting
    (foreachBatch may re-deliver a batch after a failure; an accumulate-
    in-place merge would not be idempotent). :func:`read_cdc_snapshot`
    compacts the deltas with ONE partial-aggregable groupBy and filters
    tombstoned keys. At scale the delta set is folded periodically with the
    same compaction writer the engine already ships
    (sources.compact_parquet); per-batch delta size is O(keys touched
    in the batch), never history size.

    Tombstones are RETAINED in the snapshot: a tombstone is its key's
    latest state and must win over earlier-version redeliveries; only the
    reader hides it.
    """

    def land(batch_df: DataFrame, batch_id: int) -> None:
        delta = fold_changes(batch_df).withColumn("__batch", F.lit(batch_id))
        (
            # dynamic overwrite scoped to THIS write (DataFrameWriter
            # option, not session conf): a session-wide conf.set here
            # would silently change overwrite semantics for every later
            # partitioned write on the shared session
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(snapshot_dir)
        )

    return (
        changes.writeStream.foreachBatch(land)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Compact the CDC delta partitions into the applied table: one
    map-side-combinable groupBy folds every batch's per-key aggregate
    (counts add; the max-version struct is associative), then tombstoned
    keys are hidden."""
    deltas = spark.read.parquet(snapshot_dir)
    return live_rows(
        deltas.groupBy("user_id").agg(
            F.sum("n_changes").alias("n_changes"),
            F.max("__last").alias("__last"),
        )
    )
