"""Event-table queries: batch forms of the streaming operators (tumbling
windows, sessionization), JSON extraction, as-of and time-range joins, and
the streaming certifications.

The ``events_streaming_*_certified`` queries run the
``sdc_mapreduce_spark.streaming.events`` operators over ``replay_events``
file streams, so the streaming runtime itself answers an oracle-checked
query; the batch forms are the rest of the oracle-checkable surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.operators.relational import (
    asof_join,
    range_join_time,
    scd2_history,
)
from sdc_mapreduce_spark.queries.base import QuerySpec, dsum, sql_dsum
from sdc_mapreduce_spark.queries.scratch import Scratch, scratch
from sdc_mapreduce_spark.streaming.events import (
    cdc_upsert_stream,
    fold_changes,
    live_rows,
    read_cdc_snapshot,
    replay_events,
    session_aggregate,
    session_stats,
    sliding_counts,
    stateful_user_totals,
    stream_stream_error_purchase_join,
    streaming_dedup,
    tumbling_counts,
)

# --- DuckDB oracle fragments ---------------------------------------------

# flagged(user_id, ts, event_id, is_new): 1 where an event opens a session
# (first of its user, or more than 30 minutes after the previous one).
_FLAGGED = """flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) >
                   LAG(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
)"""

# sessions(user_id, ts, session_id): the running count of session starts.
_SESSIONS = f"""{_FLAGGED}, sessions AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
)"""

# errors(event_id, user_id, ts) and purchases(user_id, ts,
# purchase_event_id, purchase_value): the two sides of the as-of joins.
_ERRORS_PURCHASES = """errors AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'
), purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         event_id AS purchase_event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)"""


def _first_purchase_sql(cmp: str, order: str, note: str = "") -> str:
    """The as-of oracle: each error with the first purchase of the same
    user whose ``p.ts {cmp} e.ts``, first in ``order`` (ROW_NUMBER over the
    ``_ERRORS_PURCHASES`` join); ``note`` is SQL comment text opening the
    ranking CTE."""
    return f"""
WITH {_ERRORS_PURCHASES}, cand AS ({note}
  SELECT e.event_id, e.user_id, p.purchase_event_id, p.purchase_value,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY {order}) AS rn
  FROM errors e JOIN purchases p
    ON e.user_id = p.user_id AND p.ts {cmp} e.ts
)
SELECT event_id, user_id, purchase_event_id, purchase_value
FROM cand WHERE rn = 1
ORDER BY event_id
"""


def _islands_sql(ts: str) -> str:
    """CTEs ``o`` and ``i(user_id, event_type, ts, island)``: each user's
    runs of a constant event_type (gaps and islands); ``ts`` is the
    projected timestamp expression."""
    return f"""o AS (
  SELECT user_id, event_type, {ts}, event_id,
         CASE WHEN LAG(event_type) OVER w IS NULL
                   OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), i AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM o
)"""


# changes(user_id, event_type, valid_from, event_id): the events where a
# user's event_type changes (SCD2 run starts).
_CHANGES = """ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
)"""


# --- Spark fragments -------------------------------------------------------


def _user_order() -> WindowSpec:
    """Each user's events in (ts, event_id) order: the event_id tie-break
    keeps every per-user window deterministic when timestamps repeat."""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def _user_running() -> WindowSpec:
    """``_user_order`` framed from the user's first event to the current
    one, for running aggregates."""
    return _user_order().rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _errors_purchases(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """errors(event_id, user_id, ts) and purchases(user_id, ts,
    purchase_event_id, purchase_value): the Spark twin of
    ``_ERRORS_PURCHASES``."""
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    return errors, purchases


def _purchase_asof(ev: DataFrame, direction: str) -> DataFrame:
    """Each error with the same user's as-of purchase in ``direction``
    (operators.relational.asof_join); errors with no such purchase are
    dropped."""
    errors, purchases = _errors_purchases(ev)
    joined = asof_join(
        errors,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_value_cols=["purchase_event_id", "purchase_value"],
        direction=direction,
    )
    return joined.filter(F.col("purchase_event_id").isNotNull()).select(
        "event_id", "user_id", "purchase_event_id", "purchase_value"
    )


def _islands(ev: DataFrame, **extra: Column) -> DataFrame:
    """(user_id, interval_id, event_type, valid_from, valid_to, *extra):
    each user's maximal runs of one event_type (gaps and islands). The
    change flag is a lag over ``_user_order`` and the island id its
    running sum, so both windows share one (user_id) exchange and sort,
    and the run aggregate groups on the same key. ``extra`` names further
    aggregates per run."""
    prev = F.lag("event_type").over(_user_order())
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    return (
        ev.withColumn("__chg", chg)
        .withColumn("__island", F.sum("__chg").over(_user_running()))
        .groupBy("user_id", "__island")
        .agg(
            F.min("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            *(c.alias(name) for name, c in extra.items()),
        )
        .select(
            "user_id",
            F.col("__island").cast("int").alias("interval_id"),
            "event_type",
            "valid_from",
            "valid_to",
            *extra,
        )
    )


def _drained(s: Scratch, stream: DataFrame, mode: str) -> DataFrame:
    """Run ``stream`` to completion (availableNow) in output ``mode`` into
    a memory sink of ``s`` and return the sink's rows."""
    return s.memory(
        stream.writeStream.outputMode(mode)
        .option("checkpointLocation", s.dir())
        .trigger(availableNow=True)
    )


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window counts per event type: the batch form of
    streaming.tumbling_counts, kept separate because its value sum is the
    exact ``dsum`` decimal its oracle checks, not the operator's double."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


EVENTS_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       {sql_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute windows every 5 minutes: each event lands in two
    windows (batch form of streaming.sliding_counts). The oracle enumerates
    the two covering window starts per event and groups on them."""
    return sliding_counts(load_table(spark, sf_dir, "events"), watermark=None)


EVENTS_SLIDING_SQL = """
WITH covering AS (
  SELECT event_type,
         UNNEST([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL '5 minutes']) AS window_start
  FROM events
)
SELECT window_start, event_type, COUNT(*) AS cnt
FROM covering GROUP BY window_start, event_type
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a session breaks after 30 minutes of per-user
    inactivity. lag → new-session flag → running count = session id; then
    per-session aggregates. Two window passes over one shuffle key
    (user_id) — Spark reuses the partitioning between them."""
    from sdc_mapreduce_spark.operators.skew import sessionize_plain

    return sessionize_plain(load_table(spark, sf_dir, "events"), gap_minutes=30)


EVENTS_SESSIONIZE_SQL = f"""
WITH {_SESSIONS}
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


def events_sessionize_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-DRIVEN sessionization (operators.skew.sessionize_auto,
    VERDICT r9 ask #8): one sampled per-key row-count probe over the
    pruned user_id column picks sessionize_plain when every key fits a
    single window task (the fixture regime at every SF) and the chunked
    decomposition when the estimated max-key rows exceed the per-task
    threshold. Both candidate plans are result-identical, so this shares
    events_sessionize's oracle regardless of the choice; the plan-
    selection behavior itself is pinned by tests/test_skew.py."""
    from sdc_mapreduce_spark.operators.skew import sessionize_auto

    return sessionize_auto(load_table(spark, sf_dir, "events"), gap_minutes=30)


def events_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant sessionization (operators.skew.sessionize_chunked):
    per-(user, day) local windows + a per-user span merge. Result-identical
    to events_sessionize — shares its oracle — while splitting a hot user's
    per-event window work across their active days; see the operator
    docstring for the 100 TB argument and tests/test_skew.py for the
    hot-user equivalence proof."""
    from sdc_mapreduce_spark.operators.skew import sessionize_chunked

    return sessionize_chunked(load_table(spark, sf_dir, "events"))


def events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` operator (the merging-window
    primitive Structured Streaming uses for session state), batch form,
    certified against the manual lag→flag→running-count sessionization: it
    must produce the identical session partition of every user's stream —
    same oracle, same columns. session_window merges events closer than the
    gap into one window; per-user session ids are recovered by ranking
    window starts (one extra window pass on the same user key). A
    divergence between the native operator's merge semantics and the
    composition turns this row red."""
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(*session_stats())
    w = Window.partitionBy("user_id").orderBy(F.col("w.start").asc())
    return sessions.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
    )


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream:
    counts and probabilities of event_type → next event_type (lag window
    per user, then a global pair aggregate). The probability is an exact
    count ratio, so the doubles hash cross-engine. One shuffle on user_id
    for the ordering window, one tiny pair aggregate — the sequence-mining
    shape behind next-action prediction features."""
    ev = load_table(spark, sf_dir, "events")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(_user_order()))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("prev_type")
    return (
        pairs.withColumn(
            "p", F.col("n") / F.sum("n").over(w_tot)
        )
        .orderBy("prev_type", "next_type")
    )


EVENTS_TRANSITION_SQL = """
WITH o AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM o WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
FROM pairs
ORDER BY prev_type, next_type
"""


def events_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators.relational.asof_join,
    direction='forward'): each error matched to the same user's EARLIEST
    purchase at or after it — the look-ahead twin of events_asof_join
    (outcome attribution: "what did the user buy after the error"). Same
    union+window composition, time ordering reversed; ties at equal
    timestamps resolve to the minimum purchase id (deterministic window
    tie-break), which the oracle ranks with the same total order."""
    ev = load_table(spark, sf_dir, "events")
    return _purchase_asof(ev, "forward").orderBy("event_id")


EVENTS_ASOF_FORWARD_SQL = _first_purchase_sql(
    ">=", "p.ts ASC, p.purchase_event_id ASC"
)


def events_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM feature engineering — the classic per-entity ML feature triple:
    Recency (seconds from each user's last purchase to the corpus's global
    last event), Frequency (purchase count), Monetary (decimal-exact value
    sum), plus tenure (first-to-last purchase span). One partial-agg
    shuffle on user_id; the global anchor timestamp is a broadcast scalar.
    All durations are whole-second longs from NTZ interval casts — exact
    and zone-free."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("__anchor"))
    purchases = ev.filter(F.col("event_type") == "purchase")
    per_user = purchases.groupBy("user_id").agg(
        F.max("ts").alias("__last"),
        F.min("ts").alias("__first"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("value", "monetary"),
    )
    return (
        per_user.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (F.col("__anchor") - F.col("__last"))
            .cast("long")
            .alias("recency_seconds"),
            "frequency",
            "monetary",
            (F.col("__last") - F.col("__first"))
            .cast("long")
            .alias("tenure_seconds"),
        )
        .orderBy("user_id")
    )


EVENTS_RFM_SQL = f"""
WITH anchor AS (
  SELECT MAX(CAST(ts AS TIMESTAMP)) AS a FROM events
), p AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id,
       (epoch_us((SELECT a FROM anchor)) - epoch_us(MAX(ts))) // 1000000
         AS recency_seconds,
       COUNT(*) AS frequency,
       {sql_dsum('value', 'monetary')},
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS tenure_seconds
FROM p
GROUP BY user_id
ORDER BY user_id
"""


def events_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: the semi-structured props column parsed
    with ``parse_json`` into a Variant and field-extracted with
    ``try_variant_get`` — the open-schema JSON path that avoids both
    schema-on-write (from_json needs the full struct up front) and
    per-access string re-parsing (get_json_object). Aggregated per
    event_type so the extracted ints are hash-pinned. Variant parse is a
    scan-local map stage; the aggregate is the only shuffle."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_k"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("k").alias("k_sum"),
        )
        .orderBy("event_type")
    )


EVENTS_VARIANT_SQL = """
WITH x AS (
  SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_k,
       MIN(k) AS k_min, MAX(k) AS k_max,
       CAST(SUM(k) AS BIGINT) AS k_sum
FROM x
GROUP BY event_type
ORDER BY event_type
"""


def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) imputation — the standard
    time-series gap repair: per-user streams with values deterministically
    nulled (event_id % 7 == 0 simulates sensor dropouts) are forward-filled
    with ``last_value(..., ignoreNulls)`` over an unbounded-preceding rows
    frame. Emits the filled value plus was_filled; leading nulls (no prior
    observation) stay NULL. One shuffle on the user key; filled values are
    exact copies of input doubles — nothing to drift cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    holed = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value_holed"),
    )
    filled = F.last("value_holed", ignorenulls=True).over(_user_running())
    return (
        holed.select(
            "event_id",
            "user_id",
            filled.alias("value_filled"),
            (F.col("value_holed").isNull() & filled.isNotNull()).alias(
                "was_filled"
            ),
        )
        .orderBy("event_id")
    )


EVENTS_FORWARD_FILL_SQL = """
WITH holed AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_holed
  FROM events
)
SELECT event_id, user_id,
       LAST_VALUE(value_holed IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS value_filled,
       value_holed IS NULL AND LAST_VALUE(value_holed IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL
         AS was_filled
FROM holed
ORDER BY event_id
"""


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-cohort retention matrix: users grouped by first-seen day,
    fraction active at day offsets 0..7. The canonical product-analytics
    shape: two user-keyed aggregations (first-seen, distinct active days)
    share the user_id exchange, then the tiny per-cohort size table joins
    broadcast — no user-level data survives past the second aggregation."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("activity_day")
    ).distinct()
    joined = (
        activity.join(firsts, "user_id")
        .withColumn("day_offset", F.datediff("activity_day", "cohort_day"))
        .filter(F.col("day_offset").between(0, 7))
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active") / F.col("cohort_size")).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


EVENTS_COHORT_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id,
         CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS activity_day
  FROM events
), j AS (
  SELECT a.user_id, f.cohort_day,
         datediff('day', f.cohort_day, a.activity_day) AS day_offset
  FROM activity a JOIN firsts f USING (user_id)
  WHERE datediff('day', f.cohort_day, a.activity_day) BETWEEN 0 AND 7
), sizes AS (
  SELECT cohort_day, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_day
)
SELECT j.cohort_day, CAST(j.day_offset AS INT) AS day_offset,
       COUNT(DISTINCT j.user_id) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       COUNT(DISTINCT j.user_id) / s.cohort_size AS retention
FROM j JOIN sizes s USING (cohort_day)
GROUP BY j.cohort_day, j.day_offset, s.cohort_size
ORDER BY j.cohort_day, j.day_offset
"""


def events_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.streaming_dedup's state semantics: keep the
    FIRST event per (user_id, event_type) within each 10-minute bucket —
    windowed deduplication as an oracle-checkable query (the streaming form
    with dropDuplicatesWithinWatermark is verified against batch in
    tests/test_streaming.py). One shuffle on the dedup key."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.window("ts", "10 minutes")["start"].alias("bucket_start")
    w = Window.partitionBy("user_id", "event_type", "bucket_start").orderBy(
        "ts", "event_id"
    )
    return (
        ev.select("event_id", "user_id", "event_type", "ts", bucket)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_id", "user_id", "event_type", "bucket_start")
        .orderBy("bucket_start", "user_id", "event_type")
    )


EVENTS_DEDUP_WINDOWED_SQL = """
WITH bucketed AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket_start
  FROM events
), ranked AS (
  SELECT event_id, user_id, event_type, bucket_start,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type, bucket_start
                            ORDER BY ts, event_id) AS rn
  FROM bucketed
)
SELECT event_id, user_id, event_type, bucket_start
FROM ranked WHERE rn = 1
ORDER BY bucket_start, user_id, event_type
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the props column, then a grouped count
    over the extracted value — the semi-structured path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_mod"), "value")
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value"))
        .orderBy("k_mod")
    )


EVENTS_JSON_SQL = f"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       COUNT(*) AS cnt,
       {sql_dsum('value', 'sum_value')}
FROM events
GROUP BY 1 ORDER BY 1
"""


def events_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props column into map<string,long>
    (``from_json``), then cardinality / key containment / value access —
    the semi-structured column workflow beyond single-path extraction."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,long>")
    return ev.select(
        "event_id",
        F.size(m).alias("n_props"),
        F.array_contains(F.map_keys(m), "k").cast("int").alias("has_k"),
        F.element_at(m, "k").alias("k_value"),
    )


EVENTS_MAP_SQL = """
SELECT event_id,
       CAST(len(json_keys(props)) AS INT) AS n_props,
       CAST(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                 THEN 1 ELSE 0 END AS INT) AS has_k,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
FROM events
"""


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event matched to the same user's most recent
    purchase at or before it (union+window composition — see
    operators.relational.asof_join; DuckDB oracle uses native ASOF JOIN)."""
    return _purchase_asof(load_table(spark, sf_dir, "events"), "backward")


EVENTS_ASOF_SQL = _first_purchase_sql(
    "<=",
    "p.ts DESC, p.purchase_event_id DESC, p.purchase_value DESC",
    """
  -- explicit window instead of native ASOF JOIN: among purchases sharing
  -- the winning timestamp, ASOF picks an unspecified row, while the Spark
  -- operator deterministically carries the max (purchase_event_id,
  -- purchase_value) tuple — replay that exact total order here""",
)


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: (error, purchase) pairs of the same user with the
    purchase in the hour after the error — bucketed equi-join, not a
    nested-loop (operators.relational.range_join_time)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"), "user_id", F.col("ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = range_join_time(
        errors,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="purchase_ts",
        lower_seconds=0,
        upper_seconds=3600,
    )
    return joined.select("error_event_id", "purchase_event_id", "user_id")


EVENTS_RANGE_SQL = """
SELECT e.event_id AS error_event_id, p.event_id AS purchase_event_id, e.user_id
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'error') e
JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND p.ts >= e.ts
 AND p.ts <= e.ts + INTERVAL '1 hour'
"""


def events_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: monthly counts, value sums, and distinct users per
    event type — the standard time-series downsample. One shuffle on the
    (month, type) key; the distinct-user count is the exact form (swap to
    approx_count_distinct at 100 TB, see agg_approx_sketches)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("value", "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("month", "event_type")
    )


EVENTS_MONTHLY_SQL = f"""
SELECT CAST(DATE_TRUNC('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
       event_type,
       COUNT(*) AS cnt,
       {sql_dsum('value', 'sum_value')},
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY month, event_type
"""


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key — the CDC-compaction / snapshot operator (SQL
    QUALIFY shape): row_number over (user, ts desc) with the unique
    event_id tiebreak, keep rank 1. One shuffle on user_id; no join back,
    no global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "value")
    )


LATEST_EVENT_SQL = """
SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap-filling: hourly counts + value sums
    per event type over the COMPLETE hour grid — buckets with no events
    appear as explicit zeros (the downstream-join/charting contract a plain
    groupBy breaks; hourly granularity so the fixture genuinely has empty
    cells to fill). The grid is sequence(min_hour, max_hour) exploded
    against the distinct types; the fill join broadcasts the AGGREGATED
    counts — the build side of the left join, itself bounded by the grid
    size (a broadcast hint on the left/preserved side of a left-outer join
    is a no-op: Spark can only broadcast the build side). The fact table
    contributes the single data-sized shuffle (one groupBy) at any SF."""
    ev = load_table(spark, sf_dir, "events")
    # zone-independent hour truncation: date_trunc would CAST the ntz ts to
    # session-zone timestamp (this query runs in the driver's session,
    # whose zone we don't control) — subtracting the wall-clock sub-hour
    # fields keeps the value TIMESTAMP_NTZ end-to-end
    hour = F.expr(
        "ts - make_dt_interval(0, 0, extract(minute FROM ts), extract(second FROM ts))"
    )
    counts = ev.groupBy(hour.alias("hour"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")
    )
    bounds = ev.agg(F.min(hour).alias("__lo"), F.max(hour).alias("__hi"))
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("INTERVAL '1' HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    return (
        grid.join(F.broadcast(counts), ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


EVENTS_RESAMPLE_GAPFILL_SQL = f"""
WITH counts AS (
  SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour,
         event_type,
         COUNT(*) AS cnt,
         {sql_dsum('value', 'sum_value')}
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM counts
), hours AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
), grid AS (
  SELECT h.hour, t.event_type
  FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT g.hour AS hour, g.event_type AS event_type,
       COALESCE(c.cnt, 0) AS cnt,
       COALESCE(c.sum_value, 0.0) AS sum_value
FROM grid g
LEFT JOIN counts c ON c.hour = g.hour AND c.event_type = g.event_type
ORDER BY g.hour, g.event_type
"""


def events_streaming_tumbling_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming engine, driver-certified: replay the
    events table as a json file stream, run ``tumbling_counts`` to
    completion (availableNow trigger, COMPLETE output mode so every window
    is emitted — no watermark-withheld tail), and return its result for
    the oracle hash. The answer is produced by the streaming runtime itself
    — micro-batch planning, state store, event-time windows — rather than
    a batch twin; a state-management bug that batch plans can't exhibit
    turns this row red. Counts only (exact integers): streaming's double
    sums accumulate in arrival order, so the deterministic value-sum
    surface stays with the batch twins. Event time is read as
    TIMESTAMP_NTZ: this query runs inside the DRIVER's session, whose
    timezone we don't control, and a zoned parse would shift window
    boundaries relative to the naive-timestamp DuckDB oracle."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"), s.dir(), "ts", "event_type", "value"
        )
        agg = tumbling_counts(stream, watermark=None)
        result = _drained(
            s, agg.select("window_start", "event_type", "cnt"), "complete"
        )
        return result.orderBy("window_start", "event_type")


EVENTS_STREAMING_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS cnt
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def events_streaming_sliding_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SLIDING-window twin of events_streaming_tumbling_certified: the
    real micro-batch engine runs ``sliding_counts`` (a 10-minute window
    sliding every 5 minutes, so every event belongs to exactly TWO
    overlapping windows) to completion, and the result earns its own
    oracle hash. Overlapping window-assignment is a distinct state-store
    code path from tumbling — Spark expands each row into duration/slide
    window copies before the stateful aggregation — so the tumbling cert
    alone does not exercise it. The oracle replays the expansion: window
    starts for event t are bucket5(t) and bucket5(t) − 5 minutes."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"), s.dir(), "ts", "event_type"
        )
        result = _drained(s, sliding_counts(stream, watermark=None), "complete")
        return result.orderBy("window_start", "event_type")


EVENTS_STREAMING_SLIDING_SQL = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
           - (t.o * INTERVAL '5 minutes') AS window_start,
         event_type
  FROM events, UNNEST([0, 1]) AS t(o)
)
SELECT window_start, event_type, COUNT(*) AS cnt
FROM expanded
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def events_streaming_watermark_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPEND-mode watermark finalization, driver-certified by the real
    micro-batch engine: the events table replays as a json file stream
    (two files per micro-batch) into ``tumbling_counts`` under its
    10-minute watermark in APPEND output mode — so the sink receives
    exactly the windows the watermark has CLOSED, and the still-open tail
    (every window whose end exceeds max_event_time − 10min) is withheld.
    The oracle twin replays that contract: counts over all events where
    window_end <= max(ts) − 10 minutes. This certifies the state-eviction
    path the other streaming certifications never touch (they run
    complete/update shapes): watermark tracking across micro-batches,
    append-mode finalization, and the emission boundary — which is
    INCLUSIVE (a window whose end equals the watermark exactly is
    emitted; pinned by tests/test_streaming.py's aligned fixture).

    Two engine facts this query encodes, both verified empirically:
    (1) under Trigger.AvailableNow the watermark advances across planned
    micro-batches but input rows arriving late in a later batch MERGE
    into (or re-open) their window's state rather than being dropped —
    the hard guarantee is finalization, not input-dropping, so the twin
    must count ALL rows. SPARK-VERSION DEPENDENCY: Spark documents
    late-data dropping as "may or may not" — pinned on Spark 4.1.2 by
    tests/test_streaming.py (the aligned fixture and
    test_watermark_drops_late_rows), which must stay in CI across any
    Spark upgrade; if this cert ever goes red after a version bump,
    triage it as an ENGINE-BEHAVIOR change (re-derive the twin's counting
    rule), not an oracle bug; (2) the event-time watermark is millisecond-
    floored, which cannot flip the emitted set here because window ends
    are minute-aligned while the fixture's max ts is misaligned by
    seconds (checked at every SF). Event time must be a zoned TIMESTAMP
    (watermarks reject NTZ); 5-minute window starts still display
    zone-independently because every real UTC offset is a multiple of
    5 minutes, so the collected naive datetimes match the naive oracle
    (the --tz Asia/Kolkata audit exercises exactly this)."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"),
            s.dir(),
            "ts",
            "event_type",
            "value",
            event_time="zoned",
            max_files_per_trigger=2,
        )
        result = _drained(s, _closed_windows(stream), "append")
        return result.orderBy("window_start", "event_type")


def _closed_windows(stream: DataFrame) -> DataFrame:
    """``tumbling_counts`` under its 10-minute watermark, with the zoned
    window start cast back to NTZ (= session-tz wall clock) BEFORE
    collecting: plain collect() renders TimestampType in the driver
    *process* zone, not the session zone, so a zoned column would shift
    under the --tz audit while NTZ round-trips."""
    return tumbling_counts(stream).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "cnt",
    )


def events_streaming_update_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UPDATE-mode delta emission, driver-certified: the events table
    replays as a 4-file json stream forced through one-file micro-batches
    into ``tumbling_counts`` in UPDATE output mode, and every batch's
    emissions land (tagged with the batch id) in a parquet sink via
    foreachBatch. Update mode re-emits a key each time its aggregate
    CHANGES, so the certified invariant is versioning, not append-once:
    for every (window, event_type) the LATEST emission must equal the full
    batch-twin count — regardless of how the files split into
    micro-batches, the last delta always carries the total. A state bug
    that loses or double-applies a per-batch increment turns exactly this
    row red. This is the one output mode the other streaming
    certifications don't exercise (tumbling/session run complete, the
    watermark cert runs append). Event time stays TIMESTAMP_NTZ — update
    mode needs no watermark, which keeps the replay zone-proof and the
    state finite only because the replay is (availableNow; an unbounded
    deployment would keep the watermark, as incremental_rollup does)."""
    with scratch(spark) as s:
        ckpt, sink = s.dir(), s.dir()
        stream = replay_events(
            load_table(spark, sf_dir, "events"),
            s.dir(),
            "ts",
            "event_type",
            "value",
            max_files_per_trigger=1,
        )
        agg = tumbling_counts(stream, watermark=None)

        def land(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("__b", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(sink)

        s.run(
            agg.select("window_start", "event_type", "cnt")
            .writeStream.foreachBatch(land)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        emitted = spark.read.parquet(sink)
        w = Window.partitionBy("window_start", "event_type").orderBy(
            F.col("__b").desc()
        )
        result = (
            emitted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("window_start", "event_type", "cnt")
            .orderBy("window_start", "event_type")
        )
        return s.local(result)


def events_streaming_restart_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint-restart recovery, driver-certified — the exactly-once +
    watermark-persistence semantics no single-run certification can
    reach: the stream runs TWICE against one checkpoint. Run 1 processes
    events before Jan 21 (append mode, ``tumbling_counts`` under its
    10-minute watermark into a parquet sink) and finalizes every window
    the phase-1 watermark closes. Run 2 restarts from the checkpoint with
    the remaining events PLUS a late echo of the first day's rows: the
    recovered watermark (a checkpoint artifact, not session state) drops
    the echo — inside one availableNow run late rows merge
    (events_streaming_watermark_certified pins that), but across a
    restart the watermark is active from batch start, so the drop is
    real — and the still-open phase-1 windows, whose state survived in
    the checkpoint, absorb the fresh tail and finalize under the new
    watermark. The oracle replays the two-phase contract exactly:
    windows closed by wm1 count phase-1 rows only; windows in
    (wm1, wm2] count everything; the final open tail is withheld.
    A broken state restore, a re-emitted finalized window, a lost or
    double-processed file — each turns this row red."""
    cutoff = F.expr("timestamp_ntz'2024-01-21 00:00:00'")
    echo_end = F.expr("timestamp_ntz'2024-01-02 00:00:00'")
    with scratch(spark) as s:
        src, ckpt, sink = s.dir(), s.dir(), s.dir()
        ev = load_table(spark, sf_dir, "events")

        def run(delivery: DataFrame) -> None:
            stream = replay_events(
                delivery, src, "ts", "event_type", "value", event_time="zoned", files=2
            )
            s.run(
                _closed_windows(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        run(ev.filter(F.col("ts") < cutoff))
        # restart input: the fresh tail + a LATE ECHO of day-1 rows (all
        # of whose windows the phase-1 watermark already finalized)
        run(
            ev.filter(F.col("ts") >= cutoff).unionByName(
                ev.filter(F.col("ts") < echo_end)
            )
        )
        result = (
            spark.read.parquet(sink)
            .select("window_start", "event_type", "cnt")
            .orderBy("window_start", "event_type")
        )
        return s.local(result)


# SPARK-VERSION-PINNED ORACLE (VERDICT r9 ask #7): the two-watermark
# counting rule below encodes OBSERVED Spark 4.1.2 availableNow behavior —
# rows below the recovered watermark in run 2 are dropped at INPUT, while
# within a run, late rows in a later planned micro-batch merge into their
# window's state (upstream documents late dropping only as "may or may
# not"). tests/test_streaming.py::test_watermark_drops_late_rows and
# ::test_streaming_cert_spark_version_pin trip on any behavior/version
# change; on a bump, re-derive this rule empirically, don't patch the SQL.
EVENTS_STREAMING_RESTART_SQL = """
WITH p1 AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-21 00:00:00'
), wm AS (
  SELECT (SELECT MAX(ts) FROM p1) - INTERVAL '10 minutes' AS wm1,
         (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
           - INTERVAL '10 minutes' AS wm2
), closed1 AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
         event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM p1, wm
  WHERE time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes'
          <= wm.wm1
  GROUP BY 1, 2
), closed2 AS (
  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
           AS window_start,
         event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events, wm
  WHERE time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
          + INTERVAL '5 minutes' > wm.wm1
    AND time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
          + INTERVAL '5 minutes' <= wm.wm2
  GROUP BY 1, 2
)
SELECT * FROM closed1
UNION ALL
SELECT * FROM closed2
ORDER BY window_start, event_type
"""


# SPARK-VERSION-PINNED ORACLE (VERDICT r9 ask #7): counts ALL rows of a
# closed window — pinned Spark 4.1.2 availableNow behavior is that
# below-watermark rows arriving in a LATER PLANNED BATCH of the same run
# still merge into (or re-open) window state before append finalization;
# the emission boundary is inclusive (window_end <= watermark). Tripwires:
# tests/test_streaming.py::test_watermark_append_emission_boundary_is_inclusive
# and ::test_streaming_cert_spark_version_pin. On a Spark bump, re-verify
# the behavior first; a red here is an engine change, not an oracle bug.
EVENTS_STREAMING_WATERMARK_SQL = """
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events)
SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM events, m
WHERE time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
        + INTERVAL '5 minutes' <= mx - INTERVAL '10 minutes'
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def events_change_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands compression — the SCD2/state-history operator:
    collapse each user's event stream into maximal intervals of constant
    event_type, emitting (user, interval_id, event_type, valid_from,
    valid_to, n_events). Change flag = lag over (ts, event_id); island id
    = running sum of flags; both windows share one (user_id) exchange and
    sort, and the interval aggregate groups on the same key — a single
    shuffle end to end. Hot users hit the same per-user window cliff as
    sessionize; the chunk-merge decomposition (operators.skew) applies
    identically."""
    ev = load_table(spark, sf_dir, "events")
    return _islands(ev, n_events=F.count(F.lit(1))).orderBy(
        "user_id", "interval_id"
    )


EVENTS_CHANGE_INTERVALS_SQL = f"""
WITH {_islands_sql("ts")}
SELECT user_id, CAST(island AS INT) AS interval_id,
       MIN(event_type) AS event_type,
       CAST(MIN(ts) AS TIMESTAMP) AS valid_from,
       CAST(MAX(ts) AS TIMESTAMP) AS valid_to,
       COUNT(*) AS n_events
FROM i
GROUP BY user_id, island
ORDER BY user_id, interval_id
"""


def events_anomaly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier audit (operators.relational.
    robust_anomalies): discrete median + MAD per event_type, events beyond
    3.5 MADs flagged with their z score. Exact-selection medians (no
    interpolation arithmetic) keep every double engine-replayable."""
    from sdc_mapreduce_spark.operators.relational import robust_anomalies

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return robust_anomalies(
        ev, ["event_type"], "value", "event_id", n_mads=3.5
    ).orderBy("event_id")


EVENTS_ANOMALY_ROBUST_SQL = """
WITH e AS (
  SELECT event_id, event_type, value FROM events
), n AS (
  SELECT event_type, COUNT(*) AS c FROM e GROUP BY 1
), r AS (
  SELECT e.*, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS rn
  FROM e
), med AS (
  SELECT r.event_type, r.value AS med
  FROM r JOIN n USING (event_type) WHERE rn = (c + 1) // 2
), d AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS dev
  FROM e JOIN med m USING (event_type)
), r2 AS (
  SELECT d.*, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY dev, event_id) AS rn
  FROM d
), mad AS (
  SELECT event_type, dev AS mad
  FROM r2 JOIN n USING (event_type) WHERE rn = (c + 1) // 2
)
SELECT d.event_id, d.event_type, d.value, d.med, mad.mad,
       (d.value - d.med) / mad.mad AS z
FROM d JOIN mad USING (event_type)
WHERE mad.mad > 0 AND d.dev > 3.5 * mad.mad
ORDER BY d.event_id
"""


def events_streaming_dedup_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second driver-certified streaming query: the streaming DEDUP state
    store, run by the real micro-batch engine. The events table replays as
    a json stream, projected to the dedup key (user_id, event_type,
    10-minute bucket) BEFORE ``streaming_dedup`` — so the output is the
    exact distinct-key set regardless of which physical arrival survives —
    and streamed to completion with an availableNow trigger in append
    mode. A state-store bug (key lost, key re-emitted, hash collision)
    changes the emitted set and turns this row red against the batch
    DISTINCT oracle. Exact-state dedup (no watermark TTL) keeps the finite
    certification run deterministic; the watermark-TTL form is covered in
    tests/test_streaming.py."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"), s.dir(), "ts", "user_id", "event_type"
        )
        keys = stream.select(
            "user_id",
            "event_type",
            F.window("ts", "10 minutes")["start"].alias("bucket_start"),
        )
        result = _drained(
            s,
            streaming_dedup(
                keys, ["user_id", "event_type", "bucket_start"], watermark=None
            ),
            "append",
        )
        return result.orderBy("bucket_start", "user_id", "event_type")


def events_streaming_stateful_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third driver-certified streaming query: ARBITRARY STATE via
    ``applyInPandasWithState`` (``stateful_user_totals``), run by the real
    micro-batch engine. Per-user lifetime totals accumulate in exact
    integer micro-units (each value is floor-quantized once, then summed
    as longs — order-free, so the result is identical however the engine
    batches the files), and the final state emission per user is
    recovered as the row with the largest n_events (n strictly increases
    across a user's emissions, so this is batching-invariant). The oracle
    is the plain per-user aggregate; a state-store round-trip bug
    (lost/duplicated state between batches) changes the totals and turns
    the row red. No watermark: NoTimeout state needs none."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"), s.dir(), "user_id", "value"
        )
        emitted = _drained(s, stateful_user_totals(stream, watermark=None), "update")
        return (
            emitted.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "value_micro_sum")).alias("__f"))
            .select(
                "user_id",
                F.col("__f.n_events").alias("n_events"),
                F.col("__f.value_micro_sum").alias("value_micro_sum"),
            )
            .orderBy("user_id")
        )


EVENTS_STREAMING_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT)
         AS value_micro_sum
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def events_streaming_join_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth driver-certified streaming query: a STREAM-STREAM time-bounded
    inner join (``stream_stream_error_purchase_join``) run by the real
    micro-batch engine (the remaining major streaming operator family after
    windowed aggregation, dedup state, and arbitrary state). One replayable
    json stream, filtered into error and purchase sides, each watermarked,
    joined on user within a 1-hour look-ahead — the bounded-state join
    plan. Watermarks require a zoned event time, and the driver's session
    zone is uncontrolled, so the stream's timestamp strings carry an
    EXPLICIT +0000 offset: the parsed instants — and therefore the matched
    pair set — are identical in any session zone, and the output is ids
    only. Oracle = the batch interval predicate."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"),
            s.dir(),
            "event_id",
            "ts",
            "user_id",
            "event_type",
            event_time="utc",
        )
        result = _drained(s, stream_stream_error_purchase_join(stream), "append")
        return result.orderBy("error_event_id", "purchase_event_id")


EVENTS_STREAMING_JOIN_SQL = """
WITH e AS (
  SELECT event_id AS error_event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'
), p AS (
  SELECT event_id AS purchase_event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
)
SELECT e.error_event_id, p.purchase_event_id, e.user_id
FROM e JOIN p ON e.user_id = p.user_id
 AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL '1 hour'
ORDER BY e.error_event_id, p.purchase_event_id
"""


EVENTS_STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type,
       time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket_start
FROM events
ORDER BY bucket_start, user_id, event_type
"""


def events_cogroup_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via COGROUPED applyInPandas — the cogroup member of the
    Pandas-UDF API family (grouped-agg, grouped-map, and scalar forms are
    covered elsewhere): each user's error and purchase frames arrive as a
    pair of Arrow-backed pandas DataFrames and are merged with
    ``pd.merge_asof``. Ties are made deterministic by sorting purchases by
    (ts, purchase_event_id) — merge_asof(backward) takes the last tied row,
    i.e. the max event id at the latest eligible timestamp — and the oracle
    ranks with exactly that total order (no engine-defined ASOF tie choice).
    Scale shape: one cogroup shuffle on user_id, Arrow-vectorized per-group
    merges, output ∝ errors. The declarative union+window form
    (events_asof_join) is the zero-Python twin; this query exists to pin
    the cogroup API contract."""
    import pandas as pd

    errors, purchases = _errors_purchases(load_table(spark, sf_dir, "events"))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "purchase_event_id", "purchase_value"]
            )
        left = left.sort_values(["ts", "event_id"], kind="mergesort")
        right = right.sort_values(
            ["ts", "purchase_event_id"], kind="mergesort"
        )
        merged = pd.merge_asof(
            left, right.drop(columns=["user_id"]), on="ts", direction="backward"
        )
        merged = merged.dropna(subset=["purchase_event_id"])
        return pd.DataFrame(
            {
                "event_id": merged["event_id"].astype("int64"),
                "user_id": merged["user_id"].astype("int64"),
                "purchase_event_id": merged["purchase_event_id"].astype("int64"),
                "purchase_value": merged["purchase_value"].astype("float64"),
            }
        )

    out = (
        errors.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            "event_id long, user_id long, purchase_event_id long, "
            "purchase_value double",
        )
    )
    return out.orderBy("event_id")


EVENTS_COGROUP_ASOF_SQL = _first_purchase_sql(
    "<=", "p.ts DESC, p.purchase_event_id DESC"
)


def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators.relational.
    interval_overlap_join): each user's 30-minute-gap sessions intersected
    with their constant-event-type regimes (the gaps-and-islands intervals)
    — "which activity regimes does each session span", the temporal-join
    shape behind attribution and incident analysis. Bucketed equi-join with
    the allocation-bucket dedup, never a nested loop; overlap durations are
    exact integer microseconds."""
    from sdc_mapreduce_spark.operators.skew import sessionize_plain

    ev = load_table(spark, sf_dir, "events")
    sessions = sessionize_plain(ev).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    from sdc_mapreduce_spark.operators.relational import interval_overlap_join

    pairs = interval_overlap_join(
        sessions,
        _islands(ev),
        on="user_id",
        left_start="session_start",
        left_end="session_end",
        right_start="valid_from",
        right_end="valid_to",
        span_seconds=3600,
    )
    # NTZ-safe exact duration: interval -> whole seconds (floor). unix_micros
    # needs a zoned TIMESTAMP and a zone round-trip is DST-hazardous in the
    # driver's uncontrolled session zone.
    overlap_s = (
        F.least(F.col("session_end"), F.col("valid_to"))
        - F.greatest(F.col("session_start"), F.col("valid_from"))
    ).cast("long")
    return pairs.select(
        "user_id",
        "session_id",
        "interval_id",
        "event_type",
        overlap_s.alias("overlap_seconds"),
    ).orderBy("user_id", "session_id", "interval_id")


EVENTS_INTERVAL_OVERLAP_SQL = f"""
WITH {_FLAGGED}, sessions AS (
  SELECT user_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS session_id,
         ts
  FROM flagged
), sess AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM sessions GROUP BY user_id, session_id
), {_islands_sql("CAST(ts AS TIMESTAMP) AS ts")}, isl AS (
  SELECT user_id, CAST(island AS INT) AS interval_id,
         MIN(event_type) AS event_type,
         MIN(ts) AS valid_from, MAX(ts) AS valid_to
  FROM i GROUP BY user_id, island
)
SELECT s.user_id, s.session_id, isl.interval_id, isl.event_type,
       (epoch_us(LEAST(s.session_end, isl.valid_to))
         - epoch_us(GREATEST(s.session_start, isl.valid_from))) // 1000000
         AS overlap_seconds
FROM sess s JOIN isl
  ON s.user_id = isl.user_id
 AND s.session_start <= isl.valid_to
 AND isl.valid_from <= s.session_end
ORDER BY s.user_id, s.session_id, isl.interval_id
"""


def events_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / change-log apply with delete tombstones — the lakehouse MERGE
    pattern: every event is an upsert of its user's row ('error' rows are
    delete tombstones), and the applied table is latest-version-wins per
    key. Implemented as ONE partial-aggregable max-struct aggregation —
    F.max(struct(ts, event_id, ...)) picks the latest change atomically
    (event_id uniqueness makes the order total), so applying a 100 TB
    change log is a single map-side-combining shuffle of (key, last-row)
    pairs, NOT a per-key row_number window (whose hot keys serialize).
    Tombstoned keys are absent from the output; n_changes counts the key's
    full change history."""
    ev = load_table(spark, sf_dir, "events")
    return live_rows(fold_changes(ev)).orderBy("user_id")


EVENTS_CDC_APPLY_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value, n_changes
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""




def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension-history build (operators.relational.scd2_history):
    treat each user's event_type stream as a changing attribute and emit the
    validity-interval table — consecutive identical states collapse into one
    run, half-open [valid_from, valid_to) intervals, NULL valid_to + is_current
    on the latest run. One shuffle on user_id; run-collapse and interval
    stitching share the same window partitioning."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_history(
        ev, key_col="user_id", attr_col="event_type", ts_col="ts",
        tiebreak_col="event_id",
    ).orderBy("user_id", "version")


EVENTS_SCD2_HISTORY_SQL = f"""
WITH {_CHANGES}
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w AS valid_to,
       CAST(row_number() OVER w AS INT) AS version,
       (lead(valid_from) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
ORDER BY user_id, version
"""



def events_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment — certifies that scd2_history and asof_join
    COMPOSE: a 20% event sample is labeled with its containing SCD2 run
    (state, version) and the strictly-next state transition, the churn-style
    "time to next change" training label. One backward as-of join against
    the history carries the run's (state, valid_to, version) struct
    atomically; next_change_at is the containing run's valid_to — strictly
    after ts by run-maximality — and NULL on each user's current run. Plan:
    the history's single key shuffle feeds the as-of union window on the
    same key; no interval blowup join anywhere."""
    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(
        ev, key_col="user_id", attr_col="event_type", ts_col="ts",
        tiebreak_col="event_id",
    ).select(
        "user_id", F.col("event_type").alias("state"), "valid_from",
        "valid_to", "version",
    )
    sample = ev.filter(F.col("event_id") % 5 == 0).select(
        "event_id", "user_id", "ts", "event_type"
    )
    # version LEADS the carried struct: asof_join's equal-timestamp
    # tie-break is struct-lexicographic, and two SCD2 runs share valid_from
    # exactly when a user changes state twice at the same ts — the
    # zero-length [t, t) run must LOSE to the later (higher-version) run,
    # which is what the oracle's containment predicate (ts < valid_to)
    # selects. Leading with state would let a lexicographically-large state
    # name carry the empty run and violate the strictly-after contract of
    # next_change_at.
    out = asof_join(
        sample, hist, on="user_id", left_time="ts", right_time="valid_from",
        right_value_cols=["version", "state", "valid_to"],
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type", "state", "version",
        F.col("valid_to").alias("next_change_at"),
        (F.col("valid_to") - F.col("ts")).cast("long").alias("secs_to_change"),
    ).orderBy("event_id")


EVENTS_PIT_ENRICHMENT_SQL = f"""
WITH {_CHANGES}, hist AS (
  SELECT user_id, event_type AS state, valid_from,
         lead(valid_from) OVER w AS valid_to,
         CAST(row_number() OVER w AS INT) AS version
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
)
SELECT e.event_id, e.user_id, e.ts, e.event_type, h.state, h.version,
       h.valid_to AS next_change_at,
       (epoch_us(CAST(h.valid_to AS TIMESTAMP))
          - epoch_us(CAST(e.ts AS TIMESTAMP))) // 1000000 AS secs_to_change
FROM (SELECT event_id, user_id, ts, event_type
      FROM events WHERE event_id % 5 = 0) e
JOIN hist h
  ON e.user_id = h.user_id AND e.ts >= h.valid_from
 AND (e.ts < h.valid_to OR h.valid_to IS NULL)
ORDER BY event_id
"""



def events_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — the robust-preprocessing enrichment: clip
    each event's value to its event_type's [p1, p99] band and flag which
    tail it came from. Two-pass plan that survives 100 TB: pass 1 is a
    grouped percentile aggregate (O(groups) rows), pass 2 broadcasts those
    bounds back onto the fact scan — no fact-side shuffle at all. Both
    engines clip against the same round(.,4) bounds so the boundary
    comparisons are bit-identical; at extreme scale swap the exact
    percentile for approx_percentile (t-digest) and keep the same plan."""
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.expr("round(percentile(value, 0.01), 4)").alias("p_lo"),
        F.expr("round(percentile(value, 0.99), 4)").alias("p_hi"),
    )
    return (
        ev.join(F.broadcast(pct), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
            .alias("value_clipped"),
            (F.col("value") < F.col("p_lo")).alias("clipped_low"),
            (F.col("value") > F.col("p_hi")).alias("clipped_high"),
        )
        .orderBy("event_id")
    )


EVENTS_WINSORIZE_SQL = """
WITH pct AS (
  SELECT event_type,
         ROUND(QUANTILE_CONT(value, 0.01), 4) AS p_lo,
         ROUND(QUANTILE_CONT(value, 0.99), 4) AS p_hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       LEAST(GREATEST(e.value, p.p_lo), p.p_hi) AS value_clipped,
       (e.value < p.p_lo) AS clipped_low,
       (e.value > p.p_hi) AS clipped_high
FROM events e JOIN pct p USING (event_type)
ORDER BY e.event_id
"""



def events_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression of value on time plus Pearson r — the
    closed-form distributed form: one partial-agg shuffle of six EXACT
    moment sums, then O(groups) driver-free arithmetic. Determinism
    discipline (see queries/base.py caveat): the double `value` is
    quantized per-row to exact centi-units and the time axis to whole
    seconds from a broadcast anchor, every sum accumulates in decimal
    (order-independent), and both engines then run the IDENTICAL IEEE
    double expression over those exact sums — so slope/intercept/r
    hash-match despite being genuine floating-point statistics. At 100 TB
    this is the only shape that works: moments are map-side combinable,
    no global sort, no per-group state."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("__t0"))
    base = ev.crossJoin(F.broadcast(t0)).select(
        "event_type",
        (F.col("ts") - F.col("__t0")).cast("long").alias("x"),
        F.expr("cast(round(value * 100) as bigint)").alias("yc"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("cast(sum(cast(x as decimal(28,0))) as double)").alias("sx"),
        # factor-wise decimal casts: x*x evaluated in int64 BEFORE a cast
        # wraps silently at scale (x ~ seconds over years, yc ~ centi-units);
        # decimal(19,0) x decimal(19,0) -> decimal(38,0) is exact for any
        # long pair
        F.expr(
            "cast(sum(cast(x as decimal(19,0)) * cast(x as decimal(19,0)))"
            " as double)"
        ).alias("sxx"),
        F.expr("cast(sum(cast(yc as decimal(28,0))) as double)").alias("syc"),
        F.expr(
            "cast(sum(cast(x as decimal(19,0)) * cast(yc as decimal(19,0)))"
            " as double)"
        ).alias("sxyc"),
        F.expr(
            "cast(sum(cast(yc as decimal(19,0)) * cast(yc as decimal(19,0)))"
            " as double)"
        ).alias("syyc"),
    )
    nn = F.col("n").cast("double")
    den_x = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = nn * F.col("syyc") - F.col("syc") * F.col("syc")
    cov_n = nn * F.col("sxyc") - F.col("sx") * F.col("syc")
    slope = (cov_n / den_x) / F.lit(100.0)
    return s.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((F.col("syc") / F.lit(100.0) - slope * F.col("sx")) / nn).alias(
            "intercept"
        ),
        (cov_n / F.sqrt(den_x * den_y)).alias("r"),
    ).orderBy("event_type")


EVENTS_GROUPED_REGRESSION_SQL = """
WITH t0 AS (SELECT min(ts) AS t0 FROM events),
base AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP))
            - epoch_us(CAST((SELECT t0 FROM t0) AS TIMESTAMP))) // 1000000
           AS x,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events
), s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
           AS DOUBLE) AS sxx,
         CAST(SUM(CAST(yc AS DECIMAL(28,0))) AS DOUBLE) AS syc,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
           AS DOUBLE) AS sxyc,
         CAST(SUM(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
           AS DOUBLE) AS syyc
  FROM base GROUP BY event_type
), d AS (
  SELECT event_type, n, sx, syc,
         (CAST(n AS DOUBLE) * sxx - sx * sx) AS den_x,
         (CAST(n AS DOUBLE) * syyc - syc * syc) AS den_y,
         (CAST(n AS DOUBLE) * sxyc - sx * syc) AS cov_n
  FROM s
), sl AS (
  SELECT *, (cov_n / den_x) / 100.0 AS slope FROM d
)
SELECT event_type, n, slope,
       (syc / 100.0 - slope * sx) / CAST(n AS DOUBLE) AS intercept,
       cov_n / sqrt(den_x * den_y) AS r
FROM sl ORDER BY event_type
"""



def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 serial correlation of event values per type — the temporal-
    drift / non-stationarity audit (IID metrics assume r1 ~ 0; a feed
    whose consecutive values correlate is batched, stuck, or ramping):
    Pearson r between each value and its successor in the deterministic
    (ts, event_id) order. Exactly the grouped-regression determinism
    discipline: values centi-quantized per row, the lag pairing is one
    (type)-keyed window, the five moment sums accumulate in decimal, and
    both engines run the identical IEEE double expression over those
    exact sums. Returns (event_type, n_pairs, r1). One window + one
    aggregate sharing the (event_type) exchange; per-type data volume is
    the sessionize-cliff caveat, with the same chunked escape hatch."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = (
        ev.select(
            "event_type",
            "ts",
            "event_id",
            F.expr("cast(round(value * 100) as bigint)").alias("xc"),
        )
        .withColumn("yc", F.lead("xc").over(w))
        .filter(F.col("yc").isNotNull())
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("cast(sum(cast(xc as decimal(28,0))) as double)").alias("sx"),
        F.expr(
            "cast(sum(cast(xc as decimal(19,0)) * cast(xc as decimal(19,0)))"
            " as double)"
        ).alias("sxx"),
        F.expr("cast(sum(cast(yc as decimal(28,0))) as double)").alias("sy"),
        F.expr(
            "cast(sum(cast(xc as decimal(19,0)) * cast(yc as decimal(19,0)))"
            " as double)"
        ).alias("sxy"),
        F.expr(
            "cast(sum(cast(yc as decimal(19,0)) * cast(yc as decimal(19,0)))"
            " as double)"
        ).alias("syy"),
    )
    nn = F.col("n_pairs").cast("double")
    den = F.sqrt(
        (nn * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nn * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "event_type",
        "n_pairs",
        ((nn * F.col("sxy") - F.col("sx") * F.col("sy")) / den).alias("r1"),
    ).orderBy("event_type")


EVENTS_AUTOCORRELATION_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS xc,
         LEAD(CAST(round(value * 100) AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS yc
  FROM events
), p AS (
  SELECT event_type, xc, yc FROM base WHERE yc IS NOT NULL
), s AS (
  SELECT event_type, COUNT(*) AS n_pairs,
         CAST(SUM(CAST(xc AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0)))
           AS DOUBLE) AS sxx,
         CAST(SUM(CAST(yc AS DECIMAL(28,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(xc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
           AS DOUBLE) AS sxy,
         CAST(SUM(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
           AS DOUBLE) AS syy
  FROM p GROUP BY event_type
)
SELECT event_type, n_pairs,
       (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
         / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS r1
FROM s ORDER BY event_type
"""


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — the marketing-analytics enrichment: each
    purchase is credited to the user's most recent PRECEDING non-purchase
    event (the touch), with the touch's id/type/time and the whole-second
    gap. One window over (user, time): the touch candidates ride a single
    last(ignorenulls) struct so the carried row is atomic (the asof_join
    discipline); purchases with no prior touch keep NULLs. One shuffle on
    user_id, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct("event_id", "event_type", "ts"),
    )
    # (ts, event_id) ordering, not ts alone: duplicate (user_id, ts) rows
    # would otherwise make the carried touch partition-order luck — the
    # same tie-break discipline as sessionize / scd2_history / asof_join.
    return (
        ev.withColumn("__touch", F.last(touch, ignorenulls=True).over(_user_running()))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("__touch.event_id").alias("touch_event_id"),
            F.col("__touch.event_type").alias("touch_type"),
            F.col("__touch.ts").alias("touch_ts"),
            (F.col("ts") - F.col("__touch.ts")).cast("long").alias(
                "secs_since_touch"
            ),
        )
        .orderBy("event_id")
    )


EVENTS_ATTRIBUTION_SQL = """
WITH carried AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
                    IGNORE NULLS)
           OVER w AS touch_event_id,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER w AS touch_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER w AS touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, touch_event_id, touch_type, touch_ts,
       (epoch_us(CAST(ts AS TIMESTAMP))
          - epoch_us(CAST(touch_ts AS TIMESTAMP))) // 1000000
         AS secs_since_touch
FROM carried WHERE event_type = 'purchase'
ORDER BY event_id
"""


def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution — the fractional-credit
    counterpart of last-touch: every purchase credits ALL of the user's
    non-purchase touches within a 1-day lookback, each weighted by
    2^(−gap/half_life) with a 1-hour half-life, shares normalized per
    purchase. Returns (purchase_id, touch_id, touch_type, gap_s, w_micro,
    credit_share) ordered by (purchase_id, touch_id).

    Determinism: the one transcendental per pair, pow(0.5, gap/3600), is
    quantized ONCE to integer micro-units (round half-up — the
    temperature_mix discipline), per-purchase totals are exact long sums,
    and credit_share is a single division of exact integers — bitwise
    engine-replayable. Same-timestamp touches are included (gap 0,
    weight 1), symmetric in both engines.

    Scale shape: the purchase×touch pairing is the bucketed time-range
    join (operators.relational.range_join_time — equi-join on
    (user, epoch-bucket), never a nested loop), pair volume is bounded by
    the lookback horizon, and normalization is one partial-agg shuffle on
    purchase_id."""
    from sdc_mapreduce_spark.operators.relational import range_join_time

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("p_ts"),
    )
    pairs = range_join_time(
        touches,
        purchases,
        on="user_id",
        left_time="touch_ts",
        right_time="p_ts",
        lower_seconds=0,
        upper_seconds=86400,
    )
    gap = (F.col("p_ts") - F.col("touch_ts")).cast("long")
    weighted = pairs.select(
        "purchase_id",
        "touch_id",
        "touch_type",
        gap.alias("gap_s"),
        # FLOOR, not round: whole-hour gaps make pow(0.5, k) exactly
        # dyadic and 1e6*2^-7 = 7812.5 is an exact half-tie — Spark
        # (HALF_UP) and DuckDB (half-even) disagree on it (caught at
        # sf0.01, gap 25200 s). floor has no tie; on exact values it is
        # identical everywhere, and off-tie ULP noise moves it only
        # within the quantization step the micro-grid already absorbs.
        # double(3600), NOT the literal 3600.0: Spark parses that literal
        # as DECIMAL(5,1), so gap/3600.0 would be decimal division with a
        # truncated scale feeding pow a slightly-off exponent (~1e-7
        # relative — 43 of 2878 quantized weights flipped vs libm)
        F.expr(
            "cast(floor(1e6 * pow(0.5, "
            "cast(p_ts - touch_ts as long) / double(3600))) as bigint)"
        ).alias("w_micro"),
    )
    # touches beyond ~20 half-lives quantize to 0 micro-units; drop them
    # BEFORE normalization or a purchase whose touches are all horizon-old
    # has W=0 and the share division blows up (ANSI) — zero-weight rows
    # carry no credit by definition, so the semantics are unchanged
    weighted = weighted.filter(F.col("w_micro") > 0)
    totals = weighted.groupBy("purchase_id").agg(
        F.sum("w_micro").alias("__W")
    )
    return (
        weighted.join(totals, "purchase_id")
        .select(
            "purchase_id",
            "touch_id",
            "touch_type",
            "gap_s",
            "w_micro",
            (
                F.col("w_micro").cast("double") / F.col("__W").cast("double")
            ).alias("credit_share"),
        )
        .orderBy("purchase_id", "touch_id")
    )


EVENTS_ATTRIBUTION_DECAY_SQL = """
WITH touches AS (
  SELECT event_id AS touch_id, user_id, event_type AS touch_type,
         CAST(ts AS TIMESTAMP) AS touch_ts
  FROM events WHERE event_type <> 'purchase'
), purchases AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
  FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT p.purchase_id, t.touch_id, t.touch_type,
         (epoch_us(p.p_ts) - epoch_us(t.touch_ts)) // 1000000 AS gap_s
  FROM purchases p JOIN touches t ON t.user_id = p.user_id
  WHERE t.touch_ts <= p.p_ts
    AND p.p_ts <= t.touch_ts + INTERVAL '86400 seconds'
), weighted AS (
  SELECT purchase_id, touch_id, touch_type, gap_s,
         CAST(floor(1e6 * pow(0.5, gap_s / 3600.0)) AS BIGINT) AS w_micro
  FROM pairs
), wnz AS (
  SELECT * FROM weighted WHERE w_micro > 0
), totals AS (
  SELECT purchase_id, SUM(w_micro) AS W FROM wnz GROUP BY purchase_id
)
SELECT w.purchase_id, w.touch_id, w.touch_type, w.gap_s, w.w_micro,
       CAST(w.w_micro AS DOUBLE) / CAST(t.W AS DOUBLE) AS credit_share
FROM wnz w JOIN totals t USING (purchase_id)
ORDER BY purchase_id, touch_id
"""


def events_streaming_cdc_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC-upsert path, driver-certified end to end: the
    events change log replays as a json file stream forced through
    MULTIPLE micro-batches (maxFilesPerTrigger), each batch lands its
    per-key latest-version delta via foreachBatch
    (streaming.events.cdc_upsert_stream — idempotent batch-partitioned
    deltas), and the compacted snapshot (read_cdc_snapshot) must equal the
    BATCH CDC apply — it shares events_cdc_apply's oracle verbatim. A bug
    in cross-batch upsert semantics (a later batch failing to supersede an
    earlier version, tombstone mishandling, double-counted replays) turns
    this row red in a way no batch plan can."""
    with scratch(spark) as s:
        snap, ckpt = s.dir(), s.dir()
        stream = replay_events(
            load_table(spark, sf_dir, "events"),
            s.dir(),
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            files=8,
            max_files_per_trigger=2,
        )
        s.run(cdc_upsert_stream(stream, snap, ckpt))
        return s.local(read_cdc_snapshot(spark, snap).orderBy("user_id"))


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint estimation per event_type — the
    level-shift detector a metrics pipeline runs over daily aggregates:
    the day at which the cumulative sum of (daily mean − global mean)
    deviations attains its maximum magnitude is the classic CUSUM
    changepoint. Scale shape: ONE combinable groupBy collapses the fact
    table to O(types × days) daily rows; the per-type cumulative window
    runs over that tiny aggregate, never the raw events — so the plan is a
    scan-speed map stage plus toy-sized windows at any corpus size.
    Determinism: daily sums are exact centi-unit longs, each day's
    deviation is ONE identical double expression quantized to integer
    micro-units (half-up), cumulative sums then accumulate as exact longs,
    and the argmax tie-breaks (|cusum| desc, day asc) in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.expr("sum(cast(round(value * 100) as bigint))").alias("sc"),
        F.count(F.lit(1)).alias("cnt"),
    )
    glob = daily.groupBy("event_type").agg(
        F.sum("sc").alias("gsc"), F.sum("cnt").alias("gcnt")
    )
    dev_micro = F.expr(
        "cast(round((cast(sc as double) / cast(cnt as double)"
        " - cast(gsc as double) / cast(gcnt as double)) * 10000) as bigint)"
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = (
        daily.join(F.broadcast(glob), "event_type")
        .withColumn("__dev", dev_micro)
        .withColumn("cusum_micro", F.sum("__dev").over(w_cum))
        .withColumn(
            "n_days", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_micro")).desc(), F.col("day").asc()
    )
    return (
        cus.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            "cusum_micro",
            "n_days",
        )
        .orderBy("event_type")
    )


EVENTS_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         SUM(CAST(round(value * 100) AS BIGINT)) AS sc,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), g_all AS (
  SELECT event_type, SUM(sc) AS gsc, SUM(cnt) AS gcnt
  FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, d.day,
         CAST(round((CAST(d.sc AS DOUBLE) / CAST(d.cnt AS DOUBLE)
             - CAST(g.gsc AS DOUBLE) / CAST(g.gcnt AS DOUBLE)) * 10000)
           AS BIGINT) AS dev_micro
  FROM daily d JOIN g_all g USING (event_type)
), cus AS (
  SELECT event_type, day,
         CAST(SUM(dev_micro) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cusum_micro,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM dev
)
SELECT event_type, day AS changepoint_day, cusum_micro, n_days
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        ORDER BY abs(cusum_micro) DESC, day ASC) AS rn FROM cus)
WHERE rn = 1 ORDER BY event_type
"""


def events_streaming_session_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming SESSION-WINDOW state, driver-certified by the real
    micro-batch engine: the events table replays as a json file stream
    forced through multiple micro-batches (maxFilesPerTrigger) into
    ``session_aggregate`` — the NATIVE merging ``session_window``
    (30-minute gap) per user, the batch form of which
    events_sessionize_native certifies — in complete output mode, and the
    final session set must equal the manual lag→flag→running-count
    sessionization oracle. This is the one stateful shape the other
    streaming certifications don't cover: session state MERGES across
    micro-batches (two open sessions can fuse when a gap-bridging event
    arrives in a later batch), so a merge-semantics bug in the session
    state store turns exactly this row red. Complete mode keeps the
    certification run watermark-free (NTZ event time, the oracle
    discipline); a production deployment bounds state with the watermark
    + append mode instead — the trade is documented, not hidden."""
    with scratch(spark) as s:
        stream = replay_events(
            load_table(spark, sf_dir, "events"),
            s.dir(),
            "ts",
            "user_id",
            max_files_per_trigger=1,
        )
        result = _drained(s, session_aggregate(stream, watermark=None), "complete")
        return result.orderBy("user_id", "session_start")


EVENTS_STREAMING_SESSION_SQL = f"""
WITH {_SESSIONS}
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""



def events_time_purged_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free temporal split audit (functions.splits.
    time_purged_split — the purged walk-forward split of Lopez de Prado
    ch.7, the standard eval protocol for event/time-series models): tag
    every event train / purged / test around a cutoff with a 12-hour
    embargo band, then audit each side — row and user counts, the split's
    time span, and leaky_users, the number of this split's users that also
    appear in another split (time splits cannot avoid entity overlap; the
    audit QUANTIFIES the temporal-leakage pressure instead of hiding it).
    The split tag is a pure map-stage expression (partition-prunable on a
    date-partitioned table); the audit is two aggregations."""
    from sdc_mapreduce_spark.functions.splits import time_purged_split

    ev = load_table(spark, sf_dir, "events")
    tagged = time_purged_split(
        ev, cutoff="2024-01-20 00:00:00", embargo_minutes=720
    )
    per_split_users = tagged.select("split", "user_id").distinct()
    multi = (
        per_split_users.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__ns"))
        .filter(F.col("__ns") > 1)
        .select("user_id")
    )
    leaky = (
        per_split_users.join(multi, "user_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("__leaky"))
    )
    stats = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    return (
        stats.join(leaky, "split", "left")
        .select(
            "split",
            "n_events",
            "n_users",
            F.coalesce(F.col("__leaky"), F.lit(0)).cast("bigint").alias(
                "leaky_users"
            ),
            "min_ts",
            "max_ts",
        )
        .orderBy("split")
    )


EVENTS_TIME_PURGED_SPLIT_SQL = """
WITH tagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
                THEN 'train'
              WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
                     + INTERVAL 720 MINUTE
                THEN 'purged'
              ELSE 'test' END AS split
  FROM events
), psu AS (
  SELECT DISTINCT split, user_id FROM tagged
), multi AS (
  SELECT user_id FROM psu GROUP BY user_id HAVING COUNT(*) > 1
), leaky AS (
  SELECT split, COUNT(*) AS n FROM psu JOIN multi USING (user_id)
  GROUP BY split
)
SELECT t.split,
       COUNT(*) AS n_events,
       COUNT(DISTINCT t.user_id) AS n_users,
       CAST(COALESCE(ANY_VALUE(l.n), 0) AS BIGINT) AS leaky_users,
       MIN(t.ts) AS min_ts,
       MAX(t.ts) AS max_ts
FROM tagged t LEFT JOIN leaky l ON l.split = t.split
GROUP BY t.split
ORDER BY t.split
"""


QUERIES: dict[str, QuerySpec] = {
    "events_time_purged_split": QuerySpec(
        events_time_purged_split, EVENTS_TIME_PURGED_SPLIT_SQL
    ),
    "events_streaming_session_certified": QuerySpec(
        events_streaming_session_certified, EVENTS_STREAMING_SESSION_SQL
    ),
    "events_changepoint_cusum": QuerySpec(
        events_changepoint_cusum, EVENTS_CHANGEPOINT_SQL
    ),
    "events_streaming_cdc_certified": QuerySpec(
        events_streaming_cdc_certified, EVENTS_CDC_APPLY_SQL
    ),
    "events_attribution_last_touch": QuerySpec(
        events_attribution_last_touch, EVENTS_ATTRIBUTION_SQL
    ),
    "events_attribution_time_decay": QuerySpec(
        events_attribution_time_decay, EVENTS_ATTRIBUTION_DECAY_SQL
    ),
    "events_autocorrelation": QuerySpec(
        events_autocorrelation, EVENTS_AUTOCORRELATION_SQL
    ),
    "events_winsorize_clip": QuerySpec(events_winsorize_clip, EVENTS_WINSORIZE_SQL),
    "events_grouped_regression": QuerySpec(
        events_grouped_regression, EVENTS_GROUPED_REGRESSION_SQL
    ),
    "events_scd2_history": QuerySpec(events_scd2_history, EVENTS_SCD2_HISTORY_SQL),
    "events_pit_enrichment": QuerySpec(events_pit_enrichment, EVENTS_PIT_ENRICHMENT_SQL),
    "events_cdc_apply": QuerySpec(events_cdc_apply, EVENTS_CDC_APPLY_SQL),
    "events_change_intervals": QuerySpec(
        events_change_intervals, EVENTS_CHANGE_INTERVALS_SQL
    ),
    "events_interval_overlap": QuerySpec(
        events_interval_overlap, EVENTS_INTERVAL_OVERLAP_SQL
    ),
    "events_cogroup_asof_pandas": QuerySpec(
        events_cogroup_asof_pandas, EVENTS_COGROUP_ASOF_SQL
    ),
    "events_streaming_dedup_certified": QuerySpec(
        events_streaming_dedup_certified, EVENTS_STREAMING_DEDUP_SQL
    ),
    "events_streaming_stateful_certified": QuerySpec(
        events_streaming_stateful_certified, EVENTS_STREAMING_STATEFUL_SQL
    ),
    "events_streaming_join_certified": QuerySpec(
        events_streaming_join_certified, EVENTS_STREAMING_JOIN_SQL
    ),
    "events_anomaly_robust": QuerySpec(
        events_anomaly_robust, EVENTS_ANOMALY_ROBUST_SQL
    ),
    "events_tumbling": QuerySpec(events_tumbling, EVENTS_TUMBLING_SQL, bench=True),
    "events_sliding": QuerySpec(events_sliding, EVENTS_SLIDING_SQL),
    "events_sessionize": QuerySpec(events_sessionize, EVENTS_SESSIONIZE_SQL, bench=True),
    "events_sessionize_auto": QuerySpec(
        events_sessionize_auto, EVENTS_SESSIONIZE_SQL
    ),
    "events_sessionize_salted": QuerySpec(
        events_sessionize_salted, EVENTS_SESSIONIZE_SQL, bench=True
    ),
    "events_sessionize_native": QuerySpec(
        events_sessionize_native, EVENTS_SESSIONIZE_SQL
    ),
    "events_json_extract": QuerySpec(events_json_extract, EVENTS_JSON_SQL),
    "events_map_fns": QuerySpec(events_map_fns, EVENTS_MAP_SQL),
    "events_asof_join": QuerySpec(events_asof_join, EVENTS_ASOF_SQL),
    "events_range_join": QuerySpec(events_range_join, EVENTS_RANGE_SQL),
    "events_monthly_rollup": QuerySpec(events_monthly_rollup, EVENTS_MONTHLY_SQL),
    "latest_event_per_user": QuerySpec(latest_event_per_user, LATEST_EVENT_SQL),
    "events_transition_matrix": QuerySpec(
        events_transition_matrix, EVENTS_TRANSITION_SQL
    ),
    "events_forward_fill": QuerySpec(events_forward_fill, EVENTS_FORWARD_FILL_SQL),
    "events_variant_json": QuerySpec(events_variant_json, EVENTS_VARIANT_SQL),
    "events_rfm_features": QuerySpec(events_rfm_features, EVENTS_RFM_SQL),
    "events_asof_join_forward": QuerySpec(
        events_asof_join_forward, EVENTS_ASOF_FORWARD_SQL
    ),
    "events_cohort_retention": QuerySpec(
        events_cohort_retention, EVENTS_COHORT_RETENTION_SQL
    ),
    "events_dedup_windowed": QuerySpec(
        events_dedup_windowed, EVENTS_DEDUP_WINDOWED_SQL
    ),
    "events_resample_gapfill": QuerySpec(
        events_resample_gapfill, EVENTS_RESAMPLE_GAPFILL_SQL
    ),
    "events_streaming_tumbling_certified": QuerySpec(
        events_streaming_tumbling_certified, EVENTS_STREAMING_TUMBLING_SQL
    ),
    "events_streaming_sliding_certified": QuerySpec(
        events_streaming_sliding_certified, EVENTS_STREAMING_SLIDING_SQL
    ),
    "events_streaming_watermark_certified": QuerySpec(
        events_streaming_watermark_certified, EVENTS_STREAMING_WATERMARK_SQL
    ),
    "events_streaming_update_certified": QuerySpec(
        events_streaming_update_certified, EVENTS_STREAMING_TUMBLING_SQL
    ),
    "events_streaming_restart_certified": QuerySpec(
        events_streaming_restart_certified, EVENTS_STREAMING_RESTART_SQL
    ),
}
