"""Salting: results must be identical to the unsalted operators; the salt
must actually spread hot keys across partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdc_mapreduce_spark.operators.skew import (
    SALT_COL,
    salted_distinct_count,
    salted_join,
)


def _skewed_df(spark):
    # 90% of rows share key 0 — the pathological shape
    return spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )


def test_salted_join_equals_plain_join(spark):
    fact = _skewed_df(spark)
    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")
    )
    plain = sorted(
        (r.k, r.payload, r.dim_val)
        for r in fact.join(dim, "k").collect()
    )
    salted = sorted(
        (r.k, r.payload, r.dim_val)
        for r in salted_join(fact, dim, "k", n_salts=8).collect()
    )
    assert salted == plain
    assert len(plain) > 0


def test_salt_spreads_hot_key(spark):
    fact = _skewed_df(spark)
    salted = fact.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8))
    )
    per_salt = (
        salted.filter(F.col("k") == 0).groupBy(SALT_COL).count().collect()
    )
    assert len(per_salt) == 8, "hot key not spread over all salts"
    counts = [r["count"] for r in per_salt]
    assert max(counts) < sum(counts) * 0.5, f"salt distribution degenerate: {counts}"


def test_salted_join_rejects_right_and_full(spark):
    """The right side is replicated per salt, so right/full semantics would
    duplicate unmatched right rows n_salts times — must be refused."""
    import pytest

    fact = _skewed_df(spark)
    dim = spark.range(5).select(F.col("id").alias("k"))
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="inner"):
            salted_join(fact, dim, "k", how=how)


def test_salted_join_spreads_fully_identical_rows(spark):
    """A constant-key fact of IDENTICAL rows (same key AND same payload) must
    still fan out across salts — the per-row ordinal in the salt hash, not
    the column values, guarantees this."""
    fact = (
        spark.range(4000)
        .select(F.lit(0).alias("k"), F.lit(7).alias("payload"))
        .repartition(8)
    )
    dim = spark.createDataFrame([(0, 100)], "k long, dim_val long")
    out = salted_join(fact, dim, "k", n_salts=8)
    assert out.count() == 4000
    # reproduce the salt expression on the identical-row fact: every salt
    # bucket must receive a share
    salted = fact.withColumn(
        SALT_COL,
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id(), *[F.col(c) for c in fact.columns]),
            F.lit(8),
        ),
    )
    counts = [r["count"] for r in salted.groupBy(SALT_COL).count().collect()]
    assert len(counts) == 8, f"identical rows collapsed onto {len(counts)} salts"
    assert max(counts) < sum(counts) * 0.5


def test_salted_distinct_count_equals_exact(spark):
    df = _skewed_df(spark).select(
        F.col("k"), (F.col("payload") % 97).alias("v")
    )
    exact = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    salted = {
        r.k: r.n_distinct_v
        for r in salted_distinct_count(df, "k", "v", n_salts=8).collect()
    }
    assert salted == exact


def _hot_user_events(spark, sf_dir):
    """Skewed variant of the events table: remap half of all users onto
    user 0 so one key owns ~50% of events — the 1%-of-users/50%-of-events
    shape the plain per-user window plan degrades on."""
    from sdc_mapreduce_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )


def _plain_sessionize(ev):
    from pyspark.sql import Window

    w_order = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev_ts = F.lag("ts").over(w_order)
    is_new = F.when(
        prev_ts.isNull() | (F.col("ts") > prev_ts + F.expr("INTERVAL '30' MINUTE")), 1
    ).otherwise(0)
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_session = ev.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w_cum)
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _rows(df):
    return sorted(
        (r.user_id, r.session_id, r.n_events, r.session_start, r.session_end)
        for r in df.collect()
    )


def test_sessionize_chunked_equals_plain_uniform(spark, sf_dir):
    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.operators.skew import sessionize_chunked

    ev = load_table(spark, sf_dir, "events")
    assert _rows(sessionize_chunked(ev)) == _rows(_plain_sessionize(ev))


def test_sessionize_chunked_equals_plain_hot_user(spark, sf_dir):
    """Chunk-merge must reconstruct the exact session structure even when
    one user owns half the events and their sessions span day boundaries."""
    from sdc_mapreduce_spark.operators.skew import sessionize_chunked

    ev = _hot_user_events(spark, sf_dir).cache()
    try:
        assert _rows(sessionize_chunked(ev)) == _rows(_plain_sessionize(ev))
    finally:
        ev.unpersist()


def test_sessionize_auto_selects_by_key_stats_and_matches_oracle(spark, sf_dir, monkeypatch):
    """sessionize_auto must (a) return the shared-oracle result whatever
    plan it picks, and (b) pick the plan the key statistics dictate: a
    tiny per-task threshold forces the chunked decomposition (visible as
    the __chunk key in the analyzed plan), a huge one forces plain."""
    from sdc_mapreduce_spark.operators import skew
    from sdc_mapreduce_spark.operators.skew import sessionize_auto

    ev = _hot_user_events(spark, sf_dir).cache()
    try:
        # default probe on the hot fixture — whatever it picks must match
        assert _rows(sessionize_auto(ev)) == _rows(_plain_sessionize(ev))
        monkeypatch.setattr(skew, "SAMPLE_FRACTION", 1.0)
        monkeypatch.setattr(skew, "MAX_ROWS_PER_TASK", 1)
        forced_chunk = sessionize_auto(ev)
        monkeypatch.setattr(skew, "MAX_ROWS_PER_TASK", 10**12)
        forced_plain = sessionize_auto(ev)
        assert "__chunk" in forced_chunk._jdf.queryExecution().analyzed().toString()
        assert (
            "__chunk" not in forced_plain._jdf.queryExecution().analyzed().toString()
        )
        assert _rows(forced_chunk) == _rows(forced_plain)
    finally:
        ev.unpersist()


def test_sessionize_chunked_merges_cross_boundary_sessions(spark):
    """A stream straddling midnight with gaps < timeout must come out as
    ONE session (the local day-chunk split is invisible), while a > timeout
    gap inside a chunk still splits."""
    import datetime as dt

    from sdc_mapreduce_spark.operators.skew import sessionize_chunked

    base = dt.datetime(2024, 1, 1, 23, 50)
    rows = [
        (1, 1, base),                                  # 23:50 day 1
        (2, 1, base + dt.timedelta(minutes=15)),       # 00:05 day 2 (same session)
        (3, 1, base + dt.timedelta(minutes=25)),       # 00:15 day 2 (same session)
        (4, 1, base + dt.timedelta(hours=5)),          # 04:50 day 2 (new session)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )
    out = {
        r.session_id: (r.n_events, r.session_start, r.session_end)
        for r in sessionize_chunked(ev).collect()
    }
    assert len(out) == 2
    assert out[1][0] == 3 and out[2][0] == 1
    assert out[1][1] == rows[0][2] and out[1][2] == rows[2][2]


def test_salted_topk_equals_plain_on_hot_group(spark):
    """Two-phase salted top-k must equal the plain window top-k even when
    one group owns 90% of rows, and its phase-1 exchange must key on the
    salt (the skew split) before the bare-group phase-2 exchange."""
    from sdc_mapreduce_spark.operators.relational import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    df = _skewed_df(spark)  # 90% of rows on key 0
    order = [F.col("payload").desc(), F.col("payload").asc()]
    plain = top_k_per_group(df, ["k"], order, 5).collect()
    salted = top_k_per_group_salted(df, ["k"], order, 5, n_salts=8).collect()
    as_set = lambda rows: {(r.k, r.payload, r.rn) for r in rows}
    assert as_set(salted) == as_set(plain)
    assert len(plain) > 0

    from sdc_mapreduce_spark.plans import executed_plan

    plan = executed_plan(top_k_per_group_salted(df, ["k"], order, 5, n_salts=8))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 2, plan
    assert "__salt" in exchanges[1] and "__salt" not in exchanges[0], plan


def test_topk_salted_salt_expr_parity(spark):
    """Uniformly salted top-k with an arithmetic salt_expr must be
    row-identical to the plain window on a skewed frame where one group
    dwarfs the rest."""
    from sdc_mapreduce_spark.operators.relational import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    rows = [(0, i, float((i * 7919) % 1000)) for i in range(5000)]  # hot group
    rows += [(g, 100_000 + g * 100 + i, float(i)) for g in range(1, 40) for i in range(8)]
    df = spark.createDataFrame(rows, "g int, id int, v double")
    args = (["g"], [F.col("v").desc(), F.col("id").asc()], 5)
    plain = sorted(map(tuple, top_k_per_group(df, *args).collect()))
    salted = sorted(
        map(tuple, top_k_per_group_salted(df, *args, salt_expr=F.col("id")).collect())
    )
    assert plain == salted
    assert len(plain) == 5 + 39 * 5
