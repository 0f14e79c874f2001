"""Composite relational operators built from DataFrame primitives.

The reference framework has no joins, windows, or top-k at all — its only
grouped operator is the hash-shuffle + reduce (SURVEY.md O10-O13, §2.2).
These are the standard large-scale compositions for the operators Spark
itself doesn't ship as single calls (as-of join, time-range join), plus thin
top-k helpers. Everything shuffles on explicit keys and avoids
driver-side collection, so the plans hold on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """Global top-k: Catalyst plans ``orderBy().limit(k)`` as TakeOrdered —
    per-partition heap + single driver merge of k rows per partition, never a
    full global sort. The scalable idiom at any data size."""
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k within each group via ``row_number`` — one shuffle on the group
    key; no driver involvement, skew handled by AQE."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def top_k_per_group_salted(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rn",
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
    salt_expr=None,
) -> DataFrame:
    """Skew-resistant top-k per group, result-identical to
    ``top_k_per_group``.

    A plain per-group window sends EVERY row of a hot group to one reducer.
    The two-phase form bounds that: phase 1 ranks within (group, salt) —
    the hot group spread over ``n_salts`` partitions — keeping only k rows
    per salt; phase 2 re-ranks the surviving ≤ n_salts*k rows per group.
    Correct because each group's true top-k rows each win their own salt's
    local top-k (any row beating them locally would also beat them
    globally), so phase 2 always sees them. The salt is content-hashed, not
    random, so the plan is deterministic and retry-safe. As with any
    row_number top-k, ``order_cols`` must be a total order (include a
    unique tie-break column) for exact row-level parity with the plain
    form.

    ``salt_cols`` names the columns the salt hashes (default: all).
    Because a total order is already required, the tie-break column(s)
    alone identify rows — passing just those keeps the salt equally
    uniform while letting Catalyst prune every column the query doesn't
    read (hashing all columns would otherwise force a full-width scan,
    e.g. dragging a map column through the shuffle for a 3-column
    top-k).

    ``salt_expr`` supplies the raw salt value directly (the operator
    applies ``pmod(..., n_salts)``); pass a unique numeric id column when
    one exists. Measured at bench scale: a salt CORRELATED with the scan
    order (``id % n`` on a monotonically-assigned id — cyclic through the
    salt space) keeps the phase-1 sort at ~1.1x the plain window, while
    any pseudorandom salt (xxhash64, murmur, or even arithmetic mixing)
    costs ~2-2.5x — the sorter's comparator branches become unpredictable
    once the salt decorrelates from the input order. Uniformity only needs
    to hold across each GROUP's rows, which a modular unique-id salt
    gives, so prefer it; the xxhash64 default remains for rows with no
    usable id.

    SCOPE OF THE WALL-CLOCK CLAIM (settled round 7): on a single node the
    salted form does NOT beat the plain window at any skew we can
    construct — even with ONE key holding 60% of a 3M-row input
    (bench fixture, sf0.1 x30), the plain plan's single-task sort of the
    hot group is cheaper than the salted plan's second shuffle (~1.0 s vs
    ~1.2 s), because a few-million-row in-memory sort on one core is
    simply fast. The operator's value claim is therefore STRUCTURAL, not
    local wall-clock: it bounds per-task row count at ~max(rows/n_salts,
    n_salts*k) per group, which is what prevents a straggler/spill/OOM
    task when a hot group's row count exceeds a single executor task's
    budget — a cluster-scale property asserted structurally in
    tests/test_skew.py (phase-1 partition bound) rather than chased in
    the local bench, whose skew suite reports only the sessionize pair
    (where the crossover IS locally demonstrable)."""
    if salt_expr is None:
        salt_src = salt_cols if salt_cols is not None else df.columns
        salt_expr = F.xxhash64(*[F.col(c) for c in salt_src])
    salt = F.pmod(salt_expr, F.lit(n_salts)).cast("int")
    w_local = Window.partitionBy(*partition_cols, "__salt").orderBy(*order_cols)
    survivors = (
        df.withColumn("__salt", salt)
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= k)
        .drop("__salt", "__lrn")
    )
    return top_k_per_group(survivors, partition_cols, order_cols, k, rank_col)


def global_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int = 32,
) -> DataFrame:
    """Exact global running sum WITHOUT the single-partition window.

    ``sum().over(Window.orderBy(...))`` moves every row to one partition
    (Spark warns about it) — the classic scalability cliff. The two-phase
    form keeps all heavy work distributed:

    1. range-partition on the order key (partition i's keys all precede
       partition i+1's), cumsum per partition (window partitioned by
       ``spark_partition_id`` — no data movement beyond the range shuffle);
    2. per-partition totals (one tiny row each) are prefix-summed on the
       driver and broadcast-joined back as offsets.

    The driver-side state is O(num_partitions), never O(rows).

    Supports integral, floating and decimal ``value_col`` types: the offset
    frame's dtype is derived from the aggregated total's dtype (``SUM(int)``
    → long, ``SUM(double)`` → double, ``SUM(decimal(p,s))`` → widened
    decimal), so the broadcast offsets always match what the join adds.
    """
    # materialize the ranged layout ONCE: repartitionByRange samples split
    # points per job, so the cumsum pass and the totals pass would otherwise
    # each draw their own bounds and disagree on partition ids
    ranged = (
        df.repartitionByRange(num_partitions, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local_cum", F.sum(value_col).over(w))
    totals_df = ranged.groupBy("__pid").agg(F.sum(value_col).alias("__t"))
    # the aggregated dtype (not the input dtype) is what the prefix offsets
    # must carry: SUM widens (int->long, decimal(p,s)->decimal(p+10,s))
    total_dt = totals_df.schema["__t"].dataType.simpleString()
    if total_dt in ("float", "double"):
        zero = 0.0
    elif total_dt.startswith("decimal"):
        from decimal import Decimal

        zero = Decimal(0)
    else:
        zero = 0
    totals = sorted((r["__pid"], r["__t"]) for r in totals_df.collect())
    offsets, acc = [], zero
    for pid, t in totals:
        offsets.append((pid, acc))
        acc += t if t is not None else zero
    spark = df.sparkSession
    offset_df = spark.createDataFrame(offsets, f"__pid int, __offset {total_dt}")
    return (
        local.join(F.broadcast(offset_df), "__pid")
        .withColumn(out_col, F.col("__local_cum") + F.col("__offset"))
        .drop("__pid", "__local_cum", "__offset")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_time <= left_time`` (backward) sharing the ``on`` key.

    Implemented as the union-tag-window composition: tag both sides, union,
    single window sorted by (key, time) carrying ``last(right_value, ignorenulls)``
    forward, then keep left rows. One shuffle on the key, no non-equi join —
    this is the pattern that scales (a naive ``left.ts >= right.ts`` join is
    a broadcast-nested-loop and dies at size). The reference has no join
    operator of any kind (SURVEY.md §2.2).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lcols = left.columns
    tagged_left = left.select(
        F.col(on).alias("__key"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*lcols).alias("__left"),
        # The right payload travels as ONE struct so the carried row is
        # always ATOMIC: carrying each value column through its own
        # last(ignorenulls) would let a NULL field in the winning right row
        # backfill from a DIFFERENT (earlier) right row, tearing the result
        # row across two right rows.
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(f"{c}:{dict(right.dtypes)[c]}" for c in right_value_cols)
            + ">"
        )
        .alias("__rvals"),
    )
    tagged_right = right.select(
        F.col(on).alias("__key"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            tagged_left.schema["__left"].dataType.simpleString()
        ).alias("__left"),
        F.struct(*[F.col(c) for c in right_value_cols]).alias("__rvals"),
    )
    unioned = tagged_left.unionByName(tagged_right)

    # Tie-break among right rows sharing a timestamp: order by the value
    # struct (field-lexicographic — identical to ordering by the columns in
    # sequence) so `last()` carries a DETERMINISTIC row — backward picks the
    # max (value-col) tuple at the latest eligible time, forward the min at
    # the earliest (the desc ordering's last-seen row). Without this the
    # carried row among equal-time rights is partition-order luck.
    if direction == "backward":
        # Right rows sort before left rows at equal time => "at or before".
        w = (
            Window.partitionBy("__key")
            .orderBy(
                F.col("__t").asc(), F.col("__is_left").asc(), F.col("__rvals").asc()
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy("__key")
            .orderBy(
                F.col("__t").desc(), F.col("__is_left").asc(), F.col("__rvals").desc()
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    filled = unioned.select(
        "__is_left",
        "__left",
        F.last("__rvals", ignorenulls=True).over(w).alias("__rvals"),
    )
    return filled.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__left.{c}").alias(c) for c in lcols],
        *[F.col(f"__rvals.{c}").alias(c) for c in right_value_cols],
    )


def range_join_time(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    lower_seconds: int,
    upper_seconds: int,
) -> DataFrame:
    """Time-range join: pairs with the same key and
    ``right_time - left_time`` in ``[lower_seconds, upper_seconds]``.

    Bucketize both sides to ``span``-sized epoch buckets and equi-join on
    (key, bucket) with the left side exploded to the covering buckets, then
    apply the exact range predicate. Turns a non-equi join (O(n*m)
    nested-loop in Spark) into a hash join whose cost tracks bucket
    co-membership — the standard interval-join strategy at scale.
    """
    span = max(upper_seconds - lower_seconds, 1)

    # Bucket ids come from second-truncated epochs (unix_timestamp), which is
    # fine for *routing* as long as the left side explodes to a covering
    # bucket range (±1 absorbs the truncation); the *exact* predicate below
    # is interval arithmetic on the native timestamps, full precision.
    left_epoch = F.unix_timestamp(F.col(left_time))
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                ((left_epoch + lower_seconds) / span).cast("long") - 1,
                ((left_epoch + upper_seconds) / span).cast("long") + 1,
            )
        ),
    )
    rb = right.withColumn(
        "__bucket", (F.unix_timestamp(F.col(right_time)) / span).cast("long")
    )
    joined = lb.join(rb, on=[on, "__bucket"]).drop("__bucket")
    lo = F.expr(f"INTERVAL '{lower_seconds}' SECOND")
    hi = F.expr(f"INTERVAL '{upper_seconds}' SECOND")
    return joined.filter(
        (F.col(right_time) >= F.col(left_time) + lo)
        & (F.col(right_time) <= F.col(left_time) + hi)
    )


def robust_anomalies(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    n_mads: float = 3.5,
) -> DataFrame:
    """Robust outlier detection per group: median + MAD (median absolute
    deviation) with the classic |value - median| > n_mads * MAD flag — the
    heavy-tail-safe alternative to mean/stddev z-scores, whose moments an
    outlier itself corrupts. Returns the anomalous rows with their group
    median, MAD, and z score.

    Determinism discipline: the median is the DISCRETE lower-middle element
    (rank (n+1)/2 under (value, id) ordering), an exact selection of an
    input double — no interpolation arithmetic, whose formula differs
    between engines ((a+b)/2 vs a+(b-a)/2 can disagree in the last ULP).
    MAD is the same selection over |v - med|. Every emitted double is
    either an input value or a single IEEE op on two replayable doubles,
    so the result hash-matches cross-engine.

    Scale shape: two window passes shuffled on the group key (rank + count
    per group), then the tiny per-group (median, MAD) table broadcasts back
    onto the scan. Few hot groups are the window's skew hazard; at extreme
    cardinality-skew the standard trade is approx_percentile (one pass,
    partial-aggregable, no rank window) at the cost of the exactness this
    audit form exists to provide."""
    gc = [F.col(c) for c in group_cols]
    w_cnt = Window.partitionBy(*gc)
    w_val = w_cnt.orderBy(F.col(value_col), F.col(id_col))
    mid = F.floor((F.count(F.lit(1)).over(w_cnt) + 1) / 2).cast("long")
    med = (
        df.withColumn("__rn", F.row_number().over(w_val))
        .withColumn("__mid", mid)
        .filter(F.col("__rn") == F.col("__mid"))
        .select(*group_cols, F.col(value_col).alias("med"))
    )
    dev = df.join(F.broadcast(med), group_cols).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("med"))
    )
    w_dev = w_cnt.orderBy(F.col("__dev"), F.col(id_col))
    mad = (
        dev.withColumn("__rn", F.row_number().over(w_dev))
        .withColumn("__mid", mid)
        .filter(F.col("__rn") == F.col("__mid"))
        .select(*group_cols, F.col("__dev").alias("mad"))
    )
    flagged = dev.join(F.broadcast(mad), group_cols)
    return (
        flagged.filter(
            (F.col("mad") > 0)
            & (F.col("__dev") > F.lit(n_mads) * F.col("mad"))
        )
        .withColumn("z", (F.col(value_col) - F.col("med")) / F.col("mad"))
        .drop("__dev")
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 8,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact equi-depth histogram — the optimizer-statistics / data-profiling
    primitive (CBO histograms, skew diagnosis, quantile-bucket features):
    rows ranked globally by (value, id) and cut into ``n_buckets`` buckets of
    near-equal depth, bucket = floor((rank-1) * k / n). Returns one row per
    bucket: (bucket, n_rows, lo, hi).

    The global ranking is the two-phase :func:`global_running_sum` over the
    (value, id) range key — NEVER ``row_number() over (order by value)``,
    whose single-partition window is the scalability cliff this module
    exists to avoid. Bucket cuts are integer arithmetic on exact ranks and
    the emitted lo/hi are input doubles (exact selections, no interpolation),
    so the result replays bitwise in an external engine. At 100 TB the
    one-shot approximation is approx_percentile; this is the exact audit
    form with the same distributed shape."""
    ordered = df.select(
        F.struct(F.col(value_col).alias("v"), F.col(id_col).alias("i")).alias(
            "__ord"
        ),
        F.col(value_col).alias("__v"),
    ).withColumn("__one", F.lit(1).cast("long"))
    ranked = global_running_sum(
        ordered, "__ord", "__one", out_col="__rank", num_partitions=num_partitions
    )
    n = ranked.agg(F.count(F.lit(1)).alias("__n"))
    bucket = F.floor(
        (F.col("__rank") - 1) * F.lit(n_buckets) / F.col("__n")
    ).cast("int")
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(bucket.alias("bucket"), "__v")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        )
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col,
    tie_cols: list[str],
) -> DataFrame:
    """Exact weighted median per group — selection semantics: the smallest
    value (in (value, *tie_cols) total order) whose running weight reaches
    half the group total, i.e. the first row with 2·cumweight >= W. The
    weight expression must be an exact integer column (centi-quantize
    doubles first), so the halfway test is pure integer comparison — no
    0.5·W double, no interpolation — and the selected value is an input
    double that replays bitwise in any engine. Returns
    (*group_cols, total_weight, wmedian).

    Shape: one window (cumsum) + one aggregate (total) sharing the same
    group-key exchange, then a rank-1 filter. With few huge groups the
    per-group window is the standard single-partition cliff — the same
    escape hatches as sessionize apply (two-phase global_running_sum per
    group, or histogram pre-bucketing to narrow the candidate range
    before the exact pass)."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(value_col).asc(), *[F.col(c).asc() for c in tie_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("__cw", F.sum(weight_col).over(w))
    tot = df.groupBy(*group_cols).agg(F.sum(weight_col).alias("__W"))
    hit = (
        cum.join(tot, group_cols)
        .filter(F.lit(2) * F.col("__cw") >= F.col("__W"))
    )
    rw = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).asc(), *[F.col(c).asc() for c in tie_cols]
    )
    return (
        hit.withColumn("__rn", F.row_number().over(rw))
        .filter(F.col("__rn") == 1)
        .select(
            *group_cols,
            F.col("__W").alias("total_weight"),
            F.col(value_col).alias("wmedian"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 10,
    l: int = 3,
) -> DataFrame:
    """k-anonymity / l-diversity audit — the privacy gate a user-data
    pipeline runs before release: every quasi-identifier combination must
    be shared by >= k rows (re-identification resistance) and carry >= l
    distinct sensitive values (attribute-disclosure resistance; a
    k-anonymous group that is sensitive-homogeneous still leaks). Returns
    one row per QI group: (*quasi_cols, group_size, n_sensitive,
    is_k_anonymous, is_l_diverse) — the audit trail that says exactly
    which cells need generalization or suppression.

    Scale shape: ONE aggregation keyed on the quasi-identifier tuple with
    a distinct-count on the sensitive column (partial-agg combinable);
    output cardinality is the QI-combination count, never row count. The
    sensitive column should be pre-bucketed by the caller (exact integer
    buckets keep the distinct count engine-portable)."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(F.col(sensitive_col)).alias("n_sensitive"),
        (F.count(F.lit(1)) >= k).alias("is_k_anonymous"),
        (F.countDistinct(F.col(sensitive_col)) >= l).alias("is_l_diverse"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    span_seconds: int = 3600,
) -> DataFrame:
    """Interval×interval overlap join — the general form of the time-range
    join (range_join_time is point×interval): pairs with the same key whose
    [start, end] intervals intersect (closed-interval semantics).

    Spark plans a raw ``l.start <= r.end AND r.start <= l.end`` condition
    as a nested loop; at scale the standard strategy is temporal bucketing:
    each interval explodes to the ``span_seconds``-sized epoch buckets it
    touches, the two sides equi-join on (key, bucket), and the exact
    predicate runs full-precision on the native timestamps. Every
    overlapping pair shares ≥1 bucket, so nothing is missed; to emit each
    pair exactly ONCE without a distinct (a second shuffle), a pair is kept
    only in its ALLOCATION bucket — the bucket of max(l_start, r_start),
    which both coverage ranges contain whenever the intervals overlap (the
    standard dedup-free allocation trick of distributed interval joins).
    Cost tracks sum(interval_length)/span per side; pick ``span_seconds``
    near the typical interval length.

    Bucket ids come from second-truncated epochs (zone-consistent within
    the query); truncation only widens coverage, never narrows it, and the
    emitted rows are filtered by exact interval arithmetic."""
    span = max(int(span_seconds), 1)

    def _b(col):
        return (F.unix_timestamp(F.col(col)) / span).cast("long")

    lb = left.withColumn("__lsb", _b(left_start)).withColumn(
        "__bucket", F.explode(F.sequence(F.col("__lsb"), _b(left_end)))
    )
    rb = right.withColumn("__rsb", _b(right_start)).withColumn(
        "__bucket", F.explode(F.sequence(F.col("__rsb"), _b(right_end)))
    )
    joined = lb.join(rb, [on, "__bucket"])
    alloc = F.greatest(F.col("__lsb"), F.col("__rsb"))
    return (
        joined.filter(F.col("__bucket") == alloc)
        .filter(
            (F.col(left_start) <= F.col(right_end))
            & (F.col(right_start) <= F.col(left_end))
        )
        .drop("__bucket", "__lsb", "__rsb")
    )


def scd2_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history build: from an append-only
    change log, the per-entity validity-interval table
    (key, attr, valid_from, valid_to, version, is_current) — the lakehouse
    dimension-history pattern (valid_to is NULL on the current row,
    half-open intervals [valid_from, valid_to)).

    Plan: ONE shuffle on the entity key; run-collapse (drop rows whose
    attribute equals the previous row's) and interval stitching
    (lead(valid_from)) are two window passes over the SAME
    (key, time, tiebreak) partitioning+sort, so Catalyst reuses the
    exchange — no second shuffle. ``tiebreak_col`` (a unique id) makes
    equal-timestamp ordering deterministic; without it the collapsed run
    boundaries are partition-order luck.

    At 100 TB the window serializes per entity, which is the correct
    semantics (history is inherently sequential per key) and safe for
    dimension-shaped data (bounded rows per entity); a pathological hot
    entity would need the chunked pre-aggregation treatment in
    operators.skew, which run-collapse does not admit losslessly.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    changes = (
        df.withColumn("__prev", F.lag(attr_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col(attr_col)))
        .select(
            key_col,
            attr_col,
            F.col(ts_col).alias("valid_from"),
            tiebreak_col,
        )
    )
    w2 = Window.partitionBy(key_col).orderBy("valid_from", tiebreak_col)
    return changes.select(
        key_col,
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    num_partitions: int = 32,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — the distribution-drift
    detector: max |CDF_a(v) - CDF_b(v)| over the pooled value axis, with
    the argmax value (ties broken toward the smallest value).

    Scale shape: one map-side-combinable groupBy collapses the fact table
    to (distinct value, count_a, count_b); both cumulative counts then run
    through the SAME two-phase global cumsum used by global_running_sum —
    range-partition once, per-partition prefix sums, O(num_partitions)
    driver offsets broadcast back — so there is never a single-partition
    window even when the metric has ~row-many distinct values. Counts are
    exact longs; both engines derive the CDFs with the identical
    cast-to-double division, so the statistic is hash-deterministic.
    """
    pts = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col(group_col) == group_b, 1).otherwise(0)
            ).alias("cb"),
        )
    )
    ranged = (
        pts.repartitionByRange(num_partitions, F.col("v"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__la", F.sum("ca").over(w)).withColumn(
        "__lb", F.sum("cb").over(w)
    )
    totals = sorted(
        (r["__pid"], r["__ta"], r["__tb"])
        for r in ranged.groupBy("__pid")
        .agg(F.sum("ca").alias("__ta"), F.sum("cb").alias("__tb"))
        .collect()
    )
    offsets, acc_a, acc_b = [], 0, 0
    for pid, ta, tb in totals:
        offsets.append((pid, acc_a, acc_b))
        acc_a += ta or 0
        acc_b += tb or 0
    n_a, n_b = acc_a, acc_b
    if n_a == 0 or n_b == 0:
        raise ValueError(
            f"ks_two_sample: empty sample (n_a={n_a}, n_b={n_b}) — both "
            "groups must contain rows; a silent NaN statistic would read "
            "as 'no drift'"
        )
    spark = df.sparkSession
    offset_df = spark.createDataFrame(
        offsets, "__pid int, __oa bigint, __ob bigint"
    )
    cdf_a = (F.col("__la") + F.col("__oa")).cast("double") / F.lit(n_a).cast(
        "double"
    )
    cdf_b = (F.col("__lb") + F.col("__ob")).cast("double") / F.lit(n_b).cast(
        "double"
    )
    scored = (
        local.join(F.broadcast(offset_df), "__pid")
        .select(
            F.col("v").alias("at_value"),
            F.lit(n_a).cast("bigint").alias("n_a"),
            F.lit(n_b).cast("bigint").alias("n_b"),
            cdf_a.alias("cdf_a"),
            cdf_b.alias("cdf_b"),
            F.abs(cdf_a - cdf_b).alias("ks_stat"),
        )
    )
    return scored.orderBy(F.col("ks_stat").desc(), F.col("at_value").asc()).limit(1)


def gini_concentration(
    df: DataFrame,
    value_col: str,
    key_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Gini coefficient of a measure's concentration across keys — the
    inequality / hot-key audit ("what fraction of revenue sits on how few
    users"), via the rank formula G = (2·Σ rank·v − (n+1)·Σv) / (n·Σv).

    Scale shape: one combinable groupBy collapses the fact table to
    per-key centi-unit totals (exact longs); the global rank over
    (total, key) is the two-phase :func:`global_running_sum` — never a
    single-partition row_number window; the two moment sums accumulate in
    decimal (order-free) and the final G is one identical IEEE double
    expression in both engines. Returns one row:
    (n_keys, total_centi, gini).
    """
    totals = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.expr(f"sum(cast(round({value_col} * 100) as bigint))").alias("vc")
    )
    ordered = totals.select(
        F.struct(F.col("vc").alias("v"), F.col("__k").alias("k")).alias("__ord"),
        "vc",
    ).withColumn("__one", F.lit(1).cast("long"))
    ranked = global_running_sum(
        ordered, "__ord", "__one", out_col="__rank", num_partitions=num_partitions
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").alias(
            "total_centi"
        ),
        # nullif: an all-zero measure yields an explicit NULL gini, not a
        # silent NaN that canonicalizes differently per engine
        # cast each factor to decimal BEFORE multiplying: `__rank * vc`
        # evaluated in int64 first can silently wrap at 100 TB scale
        # (rank ~1e9 keys x vc ~1e9+ centi-units) in non-ANSI Spark while
        # DuckDB raises on BIGINT overflow. decimal(19,0) x decimal(19,0)
        # -> decimal(38,0) holds any long*long product exactly (max ~8.5e37).
        F.expr(
            "(2.0 * cast(sum(cast(__rank as decimal(19,0))"
            " * cast(vc as decimal(19,0))) as double)"
            " - (cast(count(1) as double) + 1.0)"
            " * cast(sum(cast(vc as decimal(38,0))) as double))"
            " / nullif(cast(count(1) as double)"
            " * cast(sum(cast(vc as decimal(38,0))) as double), 0.0)"
        ).alias("gini"),
    )
