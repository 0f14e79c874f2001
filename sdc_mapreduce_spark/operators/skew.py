"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on by
default in session.py) handles most skew at runtime by splitting oversized
shuffle partitions. Salting is the explicit, planner-independent fallback
for the cases AQE can't fix:

- a join where ONE key holds a double-digit percentage of the fact table
  (AQE splits the partition, but every split still collides on the same
  hot key's hash bucket on the build side);
- ``count(distinct)``-style aggregations where a hot group overwhelms a
  single reducer even after map-side partial aggregation.

The reference's hash partitioner (``std::hash % R``, reference
src/worker/worker.cpp:244-250) has exactly this failure mode and no
mitigation; with R=3 one hot word owns a third of the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SALT_COL = "__salt"
# sessionize_auto picks the chunked plan when its probe estimates more
# than MAX_ROWS_PER_TASK rows for one key (~a comfortable single-task
# window sort at ~100 B/row); the probe samples SAMPLE_FRACTION of the
# key column.
MAX_ROWS_PER_TASK = 500_000
SAMPLE_FRACTION = 0.05


def sessionize_plain(
    ev: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """The baseline single-window sessionization (lag → new-session flag →
    running count → per-session aggregate). One shuffle on the bare user
    key: correct everywhere, but a hot user's entire event stream lands on
    one reducer — the plan ``sessionize_chunked`` exists to fix. Kept as
    the oracle-shaped twin and the skew-bench comparison point."""
    w_order = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    prev_ts = F.lag(ts_col).over(w_order)
    gap = F.expr(f"INTERVAL '{gap_minutes}' MINUTE")
    is_new = F.when(prev_ts.isNull() | (F.col(ts_col) > prev_ts + gap), 1).otherwise(0)
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_session = ev.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w_cum)
    )
    return with_session.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )


def sessionize_chunked(
    ev: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Skew-resistant sessionization, result-identical to the plain
    single-window plan (queries/events_queries.py::events_sessionize).

    Sessions can't be salted with a uniform random salt — a session boundary
    depends on the gap to the *previous* event, so a user's stream must stay
    ordered. The scalable decomposition is time-chunking:

    1. per-(user, day) local sessionize — the per-EVENT window work, the
       expensive pass, now split across days, so a hot user holding 50% of
       all events occupies as many partitions as they have active days
       instead of one;
    2. collapse each local session to one span row (start, end, n_events) —
       a partial aggregation that shrinks the data by the mean session size
       before anything is re-keyed by bare user;
    3. per-user merge of span rows: a chunk's first session continues the
       previous chunk's last one when the boundary gap ≤ the timeout —
       exactly the plain plan's rule, applied to sessions instead of events.

    The merge window IS keyed by bare user, but over span rows, whose count
    per user is bounded by active-chunks + true sessions — at 100 TB that is
    orders of magnitude below the event count, which is what makes the plan
    survive a hot user. Session ids come out as 1..K in time order, same as
    the plain plan, so the two plans share one oracle.

    MEASURED REGIME (bench.py skew suite, sf0.1 x30 = 3M rows, local[32],
    re-established round 9): the chunked plan wins the PATHOLOGICAL fixture
    — one user holding ~60% of all events — by ~1.5x (1.65 s vs 2.44 s
    median), because the plain plan serializes that user's whole stream
    into a single window task. On MODERATE skew (1% of users holding ~50%,
    so each hot key still fits one task comfortably) the plain plan wins by
    a fixed ~0.3-0.4 s: the chunked plan's second pipeline (span exchange +
    merge window) is a per-stage constant, not proportional work, so the
    gap is pure stage overhead at bench scale and amortizes away as data
    grows. Use chunked when any single key can exceed one task's sort
    capacity (the 100 TB default); use plain when the max per-key row count
    is known-bounded.
    """
    gap = F.expr(f"INTERVAL '{gap_minutes}' MINUTE")
    # day chunks keyed by to_date (a 4-byte DATE key): measurably cheaper
    # than a date_trunc TIMESTAMP key through the window's exchange+sort at
    # bench scale, identical chunk boundaries
    chunked = ev.withColumn("__chunk", F.to_date(F.col(ts_col)))
    w_local = Window.partitionBy(user_col, "__chunk").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    prev_ts = F.lag(ts_col).over(w_local)
    is_new = F.when(prev_ts.isNull() | (F.col(ts_col) > prev_ts + gap), 1).otherwise(0)
    local = chunked.withColumn("__new", is_new).withColumn(
        "__lsid",
        F.sum("__new").over(
            w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = local.groupBy(user_col, "__chunk", "__lsid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )
    w_user = Window.partitionBy(user_col).orderBy(
        F.col("session_start").asc(), F.col("session_end").asc()
    )
    prev_end = F.lag("session_end").over(w_user)
    starts_new = F.when(
        prev_end.isNull() | (F.col("session_start") > prev_end + gap), 1
    ).otherwise(0)
    merged = spans.withColumn("__mnew", starts_new).withColumn(
        "session_id",
        F.sum("__mnew").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return merged.groupBy(user_col, "session_id").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
    )


def sessionize_auto(
    ev: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    seed: int = 42,
) -> DataFrame:
    """Statistics-driven sessionize plan selection (VERDICT r9 ask #8):
    the chunked/plain regime split documented on sessionize_chunked, as
    code instead of advice. One cheap probe — sample ``SAMPLE_FRACTION``
    of the KEY COLUMN ONLY (column-pruned scan, no other columns move),
    count rows per key, scale the max back up — then:

    - estimated max-key rows > ``MAX_ROWS_PER_TASK``: some key would
      overflow a single window task's sort at materialization time →
      ``sessionize_chunked`` (the hot key spreads over its active days);
    - otherwise: ``sessionize_plain`` — one shuffle, no second pipeline,
      the measured winner whenever every key fits a task.

    The probe is one sampled aggregation job at plan-build time: O(keys)
    shuffle rows, independent of fact width. The two candidate plans are
    result-identical (shared oracle; tests/test_skew.py), so a sampling
    misestimate near the threshold costs only the plans' measured
    ~0.3-0.4 s constant, never correctness.

    Every call runs its own probe: caching the answer per plan would be
    process-global state that silently goes stale when the data behind a
    plan changes."""
    probe = ev.select(user_col).sample(fraction=SAMPLE_FRACTION, seed=seed)
    row = probe.groupBy(user_col).count().agg(F.max("count").alias("mx")).first()
    est_max = (row["mx"] or 0) / SAMPLE_FRACTION
    plan = sessionize_chunked if est_max > MAX_ROWS_PER_TASK else sessionize_plain
    return plan(
        ev,
        gap_minutes=gap_minutes,
        user_col=user_col,
        ts_col=ts_col,
        id_col=id_col,
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the skewed side gets a uniform salt in
    [0, n_salts); the small side is replicated once per salt value; the join
    key becomes (key, salt), spreading each hot key over ``n_salts`` reduce
    partitions. Costs n_salts x |small| replication — use for
    fact ⋈ medium-dim joins too big to broadcast but small enough to
    replicate.

    The salt must only be *uniform*, not reproducible: xxhash64 of the whole
    skewed row plus a per-row ordinal. The ordinal
    (``monotonically_increasing_id``) is what guarantees fully-identical hot
    rows still spread across salts — hashing the row columns alone would
    send every duplicate of a hot row to the same reducer. The join RESULT
    is salt-invariant, so the ordinal's run-to-run instability is harmless.

    Only ``inner`` and ``left`` joins are supported: the right side is
    replicated once per salt, so an unmatched right row would surface
    ``n_salts`` times under ``right``/``full`` semantics.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (right side is "
            f"replicated per salt; right/full would duplicate unmatched "
            f"right rows), got {how!r}"
        )
    salted_left = skewed.withColumn(
        SALT_COL,
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id(), *[F.col(c) for c in skewed.columns]),
            F.lit(n_salts),
        ),
    )
    replicated_right = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return salted_left.join(replicated_right, on=[on, SALT_COL], how=how).drop(SALT_COL)


def salted_distinct_count(
    df: DataFrame, group_col: str, distinct_col: str, n_salts: int = 16
) -> DataFrame:
    """COUNT(DISTINCT x) per group, skew-split: phase 1 dedups (group, salt,
    x) locally — the hot group's distinct-set is partitioned across salts —
    phase 2 sums per-salt partial counts. Same two-shuffle cost as Spark's
    own distinct-aggregate expansion but with the hot group spread over
    ``n_salts`` reducers in phase 1."""
    salted = df.select(
        F.col(group_col),
        F.col(distinct_col),
        F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salts)).alias(SALT_COL),
    )
    partial = (
        salted.groupBy(group_col, SALT_COL)
        .agg(F.countDistinct(distinct_col).alias("__partial"))
    )
    return partial.groupBy(group_col).agg(
        F.sum("__partial").alias(f"n_distinct_{distinct_col}")
    )
