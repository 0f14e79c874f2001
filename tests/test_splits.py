"""Deterministic hash splitting: content-keyed, layout-invariant,
fraction-respecting train/val/test assignment."""

from __future__ import annotations

import pytest

from sdc_mapreduce_spark.functions.splits import (
    SPLIT_FRACTIONS,
    hash_split,
    split_column,
    split_sql_case,
)


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(0, 20000).withColumnRenamed("id", "doc_id")


def test_fractions_approximately_honored(spark, keyed):
    counts = {
        r["split"]: r["n"]
        for r in hash_split(keyed, "doc_id").groupBy("split").count()
        .withColumnRenamed("count", "n").collect()
    }
    total = sum(counts.values())
    assert total == 20000
    assert abs(counts["train"] / total - 0.90) < 0.01
    assert abs(counts["val"] / total - 0.05) < 0.005
    assert abs(counts["test"] / total - 0.05) < 0.005


def test_assignment_is_partitioning_invariant(spark, keyed):
    a = {r["doc_id"]: r["split"] for r in hash_split(keyed, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(keyed.repartition(13), "doc_id").collect()
    }
    assert a == b


def test_salt_changes_assignment(spark, keyed):
    a = {r["doc_id"]: r["split"] for r in hash_split(keyed, "doc_id").collect()}
    c = {
        r["doc_id"]: r["split"]
        for r in hash_split(keyed, "doc_id", salt="v2").collect()
    }
    assert a != c  # a new salt re-rolls the split
    moved = sum(1 for k in a if a[k] != c[k])
    assert moved > 1000  # ...substantially, not marginally


def test_sql_case_matches_spark_assignment(spark, keyed):
    import duckdb

    rows = [(r["doc_id"], r["split"]) for r in hash_split(keyed, "doc_id").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k, _ in rows[:2000]])
    case = split_sql_case("doc_id", SPLIT_FRACTIONS)
    duck = dict(con.execute(f"SELECT doc_id, {case} FROM t").fetchall())
    for k, s in rows[:2000]:
        assert duck[k] == s


def test_fraction_validation(spark, keyed):
    with pytest.raises(ValueError):
        keyed.withColumn("split", split_column("doc_id", {"a": 0.5, "b": 0.2})).collect()


def test_single_split_and_many_splits(spark, keyed):
    one = keyed.withColumn("split", split_column("doc_id", {"all": 1.0}))
    assert one.filter(one["split"] != "all").count() == 0
    many = dict(
        keyed.withColumn("split", split_column("doc_id", {f"s{i}": 0.1 for i in range(10)}))
        .groupBy("split")
        .count()
        .collect()
    )
    assert len(many) == 10
    for n in many.values():
        assert abs(n / 20000 - 0.1) < 0.01


def test_mix_rebalance_plan_hits_target_mix(spark):
    """The binding group keeps everything (fraction exactly 1.0) and the
    planned kept counts reproduce the target mix."""
    import pytest

    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.functions.splits import mix_rebalance_plan

    # 100 web / 50 books / 50 code: targets 50/25/25 -> web binds (1.0)
    rows = [(i, "web" if i < 100 else ("books" if i < 150 else "code"))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    plan = {
        r["domain"]: r
        for r in mix_rebalance_plan(
            df, "domain", {"web": 0.5, "books": 0.25, "code": 0.25}
        ).collect()
    }
    assert plan["web"]["keep_fraction"] == 1.0
    assert plan["web"]["n_kept"] == 100
    assert plan["books"]["n_kept"] == 50 and plan["code"]["n_kept"] == 50

    # a group with no target share is an error, not a silent drop
    with pytest.raises(ValueError, match="target share"):
        mix_rebalance_plan(df, "domain", {"web": 0.75, "books": 0.25})

    # skewed case: books over target binds the scale below 1 everywhere else
    plan2 = {
        r["domain"]: r
        for r in mix_rebalance_plan(
            df, "domain", {"web": 0.8, "books": 0.1, "code": 0.1}
        ).collect()
    }
    assert plan2["books"]["keep_fraction"] < 1.0
    assert plan2["web"]["keep_fraction"] == 1.0
    # kept counts respect the 8:1:1 mix
    assert plan2["web"]["n_kept"] == 100
    assert plan2["books"]["n_kept"] == plan2["code"]["n_kept"] == 12


def test_mix_rebalance_clamps_rounding_and_rejects_absent_targets(spark):
    """{A:1, B:4} with targets {0.31, 0.69} puts the binding group's raw
    keep fraction at 1.0000000000000002 in IEEE doubles — the plan must
    clamp so the stratified_sample apply path never rejects it; a target
    group absent from the data is an error (the mix would be silently
    unreachable)."""
    import pytest

    from sdc_mapreduce_spark.functions.splits import (
        mix_rebalance_plan,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "B"), (3, "B"), (4, "B")],
        "doc_id long, domain string",
    )
    plan = mix_rebalance_plan(df, "domain", {"A": 0.31, "B": 0.69})
    fracs = {r["domain"]: r["keep_fraction"] for r in plan.collect()}
    assert all(0.0 <= f <= 1.0 for f in fracs.values()), fracs
    # the apply path must accept the plan's fractions verbatim
    stratified_sample(df, "doc_id", "domain", fracs).collect()

    with pytest.raises(ValueError, match="absent from the data"):
        mix_rebalance_plan(df, "domain", {"A": 0.5, "B": 0.25, "C": 0.25})


def test_mix_rebalance_zero_target_drops_domain(spark):
    from sdc_mapreduce_spark.functions.splits import mix_rebalance_plan

    df = spark.createDataFrame(
        [(i, "keep" if i < 6 else "drop") for i in range(10)],
        "doc_id long, domain string",
    )
    plan = {
        r["domain"]: r
        for r in mix_rebalance_plan(df, "domain", {"keep": 1.0, "drop": 0.0}).collect()
    }
    assert plan["drop"]["keep_fraction"] == 0.0 and plan["drop"]["n_kept"] == 0
    assert plan["keep"]["keep_fraction"] == 1.0 and plan["keep"]["n_kept"] == 6


def test_corpus_shuffle_is_layout_invariant_permutation(spark, sf_dir):
    """The shuffle must be a true permutation (every doc exactly once,
    positions contiguous per shard), identical under re-partitioning, and
    epoch-fresh under a salt change."""
    from sdc_mapreduce_spark.functions.splits import corpus_shuffle
    from sdc_mapreduce_spark.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    out = corpus_shuffle(docs, key="doc_id", n_shards=8)
    rows = out.collect()
    n = docs.count()
    assert len(rows) == n
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), f"shard {shard} gaps"
    # layout invariance
    again = corpus_shuffle(docs.repartition(13), key="doc_id", n_shards=8)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # a different salt is a different permutation
    other = corpus_shuffle(docs, key="doc_id", n_shards=8, salt="shuffle-v2")
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other.collect()))


def test_quantize_int8_roundtrip_error_bound(spark, sf_dir):
    """q in [-127,127]; dequantized values within scale/2 of the original
    (half-up rounding bound); zero vectors quantize to zeros, scale 0."""
    from sdc_mapreduce_spark.functions.simsearch import quantize_int8
    from sdc_mapreduce_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    joined = (
        quantize_int8(emb)
        .join(emb.withColumnRenamed("embedding", "x"), "vec_id")
        .collect()
    )
    assert joined
    for r in joined:
        q, scale, x = r["q"], r["scale"], [float(v) for v in r["x"]]
        assert all(-127 <= qi <= 127 for qi in q)
        if scale == 0:
            assert all(qi == 0 for qi in q)
            continue
        for qi, xi in zip(q, x):
            assert abs(qi * scale - xi) <= scale / 2 + 1e-12

    zero = spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    zr = quantize_int8(zero).collect()[0]
    assert zr["scale"] == 0.0 and list(zr["q"]) == [0, 0, 0]


def test_pack_sequences_conservation_and_fullness(spark):
    from sdc_mapreduce_spark.functions.splits import pack_sequences

    rows = [(i, " ".join(f"t{i}_{j}" for j in range(7 + (i * 13) % 29)))
            for i in range(1, 40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, seq_len=32).collect()

    # conservation: every doc's spans sum to its token count
    want = {i: len(t.split()) for i, t in rows}
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens_in_seq"]
    assert per_doc == want

    # fullness: every sequence except the last holds exactly seq_len tokens,
    # and spans within a sequence tile it contiguously
    per_seq = {}
    for r in out:
        per_seq.setdefault(r["seq_id"], []).append(
            (r["start_in_seq"], r["n_tokens_in_seq"])
        )
    last = max(per_seq)
    for sid, spans in per_seq.items():
        spans.sort()
        pos = 0
        for start, n in spans:
            assert start == pos, (sid, spans)
            pos = start + n
        if sid != last:
            assert pos == 32, (sid, pos)


def test_temperature_mix_boosts_rare_groups(spark):
    """alpha<1 gives rare groups a larger keep fraction than dominant ones;
    realized kept counts track keep_frac * n within hash-sampling noise."""
    from sdc_mapreduce_spark.functions.splits import temperature_mix

    rows = (
        [(i, "big") for i in range(2000)]
        + [(10_000 + i, "mid") for i in range(400)]
        + [(20_000 + i, "rare") for i in range(40)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = {r["lang"]: r for r in temperature_mix(df, budget_frac=0.5).collect()}
    assert got["rare"]["keep_frac"] > got["mid"]["keep_frac"] > got["big"]["keep_frac"]
    assert got["rare"]["keep_frac"] == 1.0  # tiny group fully kept
    assert got["rare"]["n_kept"] == 40
    for lang in ("big", "mid"):
        expect = got[lang]["keep_frac"] * got[lang]["n_docs"]
        assert abs(got[lang]["n_kept"] - expect) < 0.15 * got[lang]["n_docs"]
    # total kept lands near the budget (half the corpus)
    total_kept = sum(r["n_kept"] for r in got.values())
    assert abs(total_kept - 1220) < 200  # 0.5 * 2440 docs


def test_weighted_sample_biases_toward_heavy_weights(spark):
    """Heavy rows dominate the sample; k >= n degenerates to all rows;
    zero-weight rows are never drawn ahead of positive ones."""
    from sdc_mapreduce_spark.functions.splits import weighted_sample

    rows = [(i, 1000) for i in range(50)] + [(100 + i, 1) for i in range(50)]
    rows.append((999, 0))
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, k=30, weight_col="w").collect()
    heavy = sum(1 for r in got if r["doc_id"] < 100)
    assert heavy >= 25  # weight ratio 1000:1 -> sample is almost all heavy
    assert all(r["doc_id"] != 999 for r in got)
    everything = weighted_sample(df, k=200, weight_col="w").collect()
    assert len(everything) == 101


def test_weighted_sample_plans_take_ordered(spark, sf_dir):
    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.functions.splits import weighted_sample
    from sdc_mapreduce_spark.plans import executed_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(weighted_sample(docs, k=25, weight_col="n_chars"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_source_cap_mix_truncates_only_over_cap(spark, sf_dir):
    """Hard share cap: groups over cap_frac of the corpus get
    keep_frac < 1 and land within one hash-bucket quantum of the cap;
    groups under it pass whole (n_kept == n_docs). Deterministic across
    runs."""
    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.functions.splits import source_cap_mix

    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    rows = {
        r["lang"]: r
        for r in source_cap_mix(docs, group_col="lang", cap_frac=0.3).collect()
    }
    assert sum(r["n_docs"] for r in rows.values()) == total
    over = {k for k, r in rows.items() if r["n_docs"] > 0.3 * total}
    assert over, "fixture should have a dominant language"
    for k, r in rows.items():
        if k in over:
            assert r["keep_frac"] < 1.0
            assert r["n_kept"] < r["n_docs"]
            # the 16-bit content-hash predicate lands within sampling noise
            # of the cap target (binomial; generous 30% relative slack on a
            # small fixture group)
            target = r["keep_frac"] * r["n_docs"]
            assert abs(r["n_kept"] - target) <= max(5, 0.3 * target)
        else:
            assert r["keep_frac"] == 1.0 and r["n_kept"] == r["n_docs"]
    again = {
        r["lang"]: r["n_kept"]
        for r in source_cap_mix(docs, group_col="lang", cap_frac=0.3).collect()
    }
    assert again == {k: r["n_kept"] for k, r in rows.items()}


def test_quota_sample_exact_budget_and_largest_remainder(spark):
    """Hamilton allocation invariants: realized total == budget EXACTLY,
    per-stratum quotas differ from exact proportionality by < 1 seat, and
    the leftover seat goes to the largest remainder. 7/3 split of B=5:
    exact shares 3.5/1.5, floors 3/1, one leftover seat; both remainders
    equal (5*7 % 10 = 5 = 5*3 % 10) so the tie-break hands it to the
    lexicographically first stratum."""
    from sdc_mapreduce_spark.functions.splits import quota_sample

    rows = [(i, "a") for i in range(7)] + [(100 + i, "b") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = quota_sample(df, "lang", budget=5).collect()
    assert len(got) == 5
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang["a"]) == 4 and len(by_lang["b"]) == 1  # tie -> 'a'
    assert {r["quota"] for r in by_lang["a"]} == {4}
    # ranks are contiguous from 1 within each stratum
    assert sorted(r["pick_rank"] for r in by_lang["a"]) == [1, 2, 3, 4]
    # determinism: same call returns the same doc ids
    again = {r["doc_id"] for r in quota_sample(df, "lang", budget=5).collect()}
    assert again == {r["doc_id"] for r in got}


def test_quota_sample_refuses_budget_over_population(spark):
    """budget > N would silently undershoot the exact-total invariant
    (some strata get quota > their size) — the guard raises instead
    (ADVICE r8)."""
    import pytest

    from sdc_mapreduce_spark.functions.splits import quota_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, lang string"
    )
    with pytest.raises(ValueError, match="budget=10 exceeds population N=3"):
        quota_sample(df, "lang", budget=10)


def test_time_purged_split_three_way_partition(spark):
    """Every row lands in exactly one of train/purged/test; boundaries are
    half-open ([train)[purged)[test…): cutoff itself is purged, cutoff +
    embargo is test; the union is the input."""
    import datetime as dt

    from sdc_mapreduce_spark.functions.splits import time_purged_split

    base = dt.datetime(2024, 1, 20, 0, 0, 0)
    rows = [
        (1, base - dt.timedelta(seconds=1)),   # train (strictly before)
        (2, base),                              # purged (== cutoff)
        (3, base + dt.timedelta(minutes=59)),   # purged (inside embargo)
        (4, base + dt.timedelta(minutes=60)),   # test (== cutoff+embargo)
        (5, base + dt.timedelta(days=2)),       # test
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz")
    got = {
        r["event_id"]: r["split"]
        for r in time_purged_split(
            df, cutoff="2024-01-20 00:00:00", embargo_minutes=60
        ).collect()
    }
    assert got == {1: "train", 2: "purged", 3: "purged", 4: "test", 5: "test"}
