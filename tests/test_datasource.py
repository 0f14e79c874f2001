"""Custom kvtext Python DataSource: byte-range sharding, line-boundary
alignment (no double/half-reads across shard edges), malformed-row drop —
the reference's scan contract (SURVEY.md O6/O7/O15) as a pluggable source."""

from __future__ import annotations

import random

import pytest

from sdc_mapreduce_spark.datasource import register_kvtext


@pytest.fixture(scope="module")
def kv_file(tmp_path_factory):
    rng = random.Random(42)
    path = tmp_path_factory.mktemp("kvtext") / "pairs.txt"
    expected: dict[str, int] = {}
    lines = []
    for i in range(500):
        key, value = f"key{i}", rng.randint(-10**9, 10**9)
        expected[key] = value
        lines.append(f"{key} {value}")
    # malformed rows the source must drop (reference src/app/reducer.py:11-24)
    lines.insert(100, "onlyonetoken")
    lines.insert(200, "three tokens here")
    lines.insert(300, "badvalue notanint")
    path.write_text("\n".join(lines) + "\n")
    return str(path), expected


def _read(spark, path: str, shard_size: int):
    register_kvtext(spark)
    return (
        spark.read.format("kvtext")
        .option("path", path)
        .option("shard_size", shard_size)
        .load()
    )


def test_kvtext_reads_all_rows_and_drops_malformed(spark, kv_file):
    path, expected = kv_file
    df = _read(spark, path, shard_size=256)
    got = {r["key"]: r["value"] for r in df.collect()}
    assert got == expected


def test_kvtext_shards_are_real_partitions(spark, kv_file):
    path, _ = kv_file
    df = _read(spark, path, shard_size=256)
    assert df.rdd.getNumPartitions() > 10


def test_kvtext_boundary_alignment_is_shard_size_invariant(spark, kv_file):
    """Every line must be produced by exactly one shard no matter where the
    byte boundaries fall — sweep shard sizes (including ones landing
    mid-line) and require identical multisets."""
    path, expected = kv_file
    for shard_size in (37, 64, 101, 4096, 10**7):
        rows = _read(spark, path, shard_size).collect()
        assert len(rows) == len(expected), f"shard_size={shard_size}"
        assert {r["key"]: r["value"] for r in rows} == expected


def test_kvtext_multi_file_dir_and_edge_files(spark, tmp_path):
    """A directory source: multiple files, one empty, one all-malformed —
    union of per-file results, no crashes on degenerate shards."""
    d = tmp_path / "kvdir"
    d.mkdir()
    (d / "a.txt").write_text("x 1\ny 2\n")
    (d / "b.txt").write_text("")  # empty file → zero shards
    (d / "c.txt").write_text("junk\nmore junk here\n")  # all malformed
    (d / "d.txt").write_text("z -3")  # no trailing newline
    df = _read(spark, str(d), shard_size=4)
    got = {r["key"]: r["value"] for r in df.collect()}
    assert got == {"x": 1, "y": 2, "z": -3}


def test_kvtext_crlf_and_extra_whitespace(spark, tmp_path):
    p = tmp_path / "crlf.txt"
    p.write_bytes(b"a 1\r\nb\t2\r\n  c   3  \r\n")
    df = _read(spark, str(p), shard_size=5)
    assert {r["key"]: r["value"] for r in df.collect()} == {"a": 1, "b": 2, "c": 3}


def test_kvtext_packed_shard_spans_two_files(tmp_path):
    """O6 parity with the reference's createShardAllocations
    (src/master/sharding.h:28-83): the tail of file i and the head of file
    i+1 pack into ONE shard; every shard except the last is exactly
    shard_size bytes of ranges."""
    from sdc_mapreduce_spark.datasource import KVTextReader

    d = tmp_path / "pack"
    d.mkdir()
    (d / "a.txt").write_text("a 1\nb 2\nc 3\n")  # 12 bytes
    (d / "b.txt").write_text("d 4\ne 5\nf 6\n")  # 12 bytes
    reader = KVTextReader({"path": str(d), "shard_size": "10"})
    shards = reader.partitions()
    # 24 bytes total / 10 per shard -> [10, 10, 4]
    assert [s.capacity for s in shards] == [10, 10, 4]
    # the second shard must span the a.txt tail AND the b.txt head
    spanning = shards[1]
    assert [seg[0].rsplit("/", 1)[-1] for seg in spanning.segments] == [
        "a.txt",
        "b.txt",
    ]
    assert spanning.segments[0][1:] == (10, 12)
    assert spanning.segments[1][1:] == (0, 8)


def test_read_shard_line_at_boundary_belongs_to_left_shard(tmp_path):
    """A line that starts exactly at a shard's end offset is read by that
    shard; the shard starting there skips it as its first line."""
    from sdc_mapreduce_spark.datasource import KVShard, read_shard

    f = tmp_path / "abc.txt"
    f.write_text("a 1\nb 2\nc 3\n")  # "b 2" starts at byte 4
    left = list(read_shard(KVShard([(str(f), 0, 4)])))
    right = list(read_shard(KVShard([(str(f), 4, 12)])))
    assert left == [("a", 1), ("b", 2)]
    assert right == [("c", 3)]


def test_kvtext_packing_preserves_rows(spark, tmp_path):
    """Packed shard plans must yield every row exactly once for every shard
    size — the line-boundary protocol holds across the intra-shard file
    segments too."""
    d = tmp_path / "packrows"
    d.mkdir()
    rng = random.Random(7)
    expected: dict[str, int] = {}
    for f in range(4):
        lines = []
        for i in range(60):
            key, value = f"f{f}k{i}", rng.randint(-(10**6), 10**6)
            expected[key] = value
            lines.append(f"{key} {value}")
        (d / f"part{f}.txt").write_text("\n".join(lines) + "\n")
    register_kvtext(spark)
    for shard_size in (23, 128, 997, 10**6):
        rows = (
            spark.read.format("kvtext")
            .option("path", str(d))
            .option("shard_size", shard_size)
            .load()
            .collect()
        )
        assert len(rows) == len(expected), f"shard_size={shard_size}"
        assert {r["key"]: r["value"] for r in rows} == expected


def test_kvtext_typed_value_column(spark, kv_file):
    path, _ = kv_file
    df = _read(spark, path, shard_size=1024)
    assert dict(df.dtypes) == {"key": "string", "value": "bigint"}
    assert df.schema["value"].dataType.simpleString() == "bigint"


def test_kvtext_streaming_ingests_new_files_exactly_once(spark, tmp_path):
    """Streaming kvtext: blobs arriving in the directory are ingested
    incrementally (offset = ingested file set), exactly once across a
    checkpointed restart — batch 1 reads a.txt; after restart with the same
    checkpoint, only the newly-arrived b.txt is read."""
    d = tmp_path / "incoming"
    d.mkdir()
    (d / "a.txt").write_text("x 1\ny 2\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    register_kvtext(spark)

    def run_once():
        q = (
            spark.readStream.format("kvtext")
            .option("path", str(d))
            .option("shard_size", 4)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "stream did not finish in time"
        finally:
            q.stop()

    run_once()
    got1 = {(r["key"], r["value"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {("x", 1), ("y", 2)}

    (d / "b.txt").write_text("z 3\nx 4\n")
    run_once()
    rows = [(r["key"], r["value"]) for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == [("x", 1), ("x", 4), ("y", 2), ("z", 3)]

    # idempotent: a third run with no new files appends nothing
    run_once()
    assert len(spark.read.parquet(out).collect()) == 4


def test_coalesce_shards_caps_and_preserves_segments():
    """The partition-count guard re-packs CONTIGUOUS shard runs: capacity
    is conserved, segment order is preserved, and n <= cap passes through
    untouched."""
    from sdc_mapreduce_spark.datasource import KVShard, coalesce_shards

    shards = [KVShard([(f"f{i // 3}", (i % 3) * 10, (i % 3) * 10 + 10)]) for i in range(11)]
    out = coalesce_shards(shards, 4)
    assert len(out) == 4
    # contiguous: flattened segments identical and in order
    assert [seg for s in out for seg in s.segments] == [
        seg for s in shards for seg in s.segments
    ]
    # balanced: group sizes differ by at most one input shard
    sizes = [len(s.segments) for s in out]
    assert max(sizes) - min(sizes) <= 1
    assert sum(s.capacity for s in out) == sum(s.capacity for s in shards)
    # no-op below the cap; hard error on a nonsensical bound
    assert coalesce_shards(shards, 11) is shards
    with pytest.raises(ValueError):
        coalesce_shards(shards, 0)


def test_coalesce_shards_balances_bytes_not_counts():
    """ADVICE r10: over shards of unequal size a COUNT-balanced grouping is
    byte-skewed. The coalesce must minimize the largest group's bytes over
    contiguous splits (the straggler task)."""
    from sdc_mapreduce_spark.datasource import KVShard, coalesce_shards

    # 6 files x (one 50 B body shard + one 1 B tail shard)
    shards = []
    for i in range(6):
        shards.append(KVShard([(f"f{i}", 0, 50)]))
        shards.append(KVShard([(f"f{i}", 50, 51)]))
    out = coalesce_shards(shards, 4)
    assert len(out) <= 4
    # contiguity + byte conservation
    assert [seg for s in out for seg in s.segments] == [
        seg for s in shards for seg in s.segments
    ]
    assert sum(s.capacity for s in out) == 306
    # optimal contiguous min-max here is 101 B (two 50 B bodies must share
    # a group by pigeonhole); the old count split also hit 101 on THIS
    # fixture, so pin the optimality bound rather than a beats-old claim
    assert max(s.capacity for s in out) == 101
    # a fixture where the count split (3+3+3+3) yields a 150 B bottleneck:
    # per-file shards 50/50/1 — byte-optimal keeps every group <= 101
    shards2 = []
    for i in range(4):
        shards2.append(KVShard([(f"g{i}", 0, 50)]))
        shards2.append(KVShard([(f"g{i}", 50, 100)]))
        shards2.append(KVShard([(f"g{i}", 100, 101)]))
    out2 = coalesce_shards(shards2, 4)
    assert len(out2) <= 4
    assert max(s.capacity for s in out2) == 101
    assert sum(s.capacity for s in out2) == 404


def test_kvtext_batch_reader_warns_on_wide_plans(tmp_path):
    """VERDICT r10 ask #7: the batch reader stays uncapped, but a plan
    wider than WARN_BATCH_PARTITIONS must emit an advisory warning (and
    stay silent below it)."""
    import warnings

    from sdc_mapreduce_spark.datasource import WARN_BATCH_PARTITIONS, KVTextReader

    f = tmp_path / "data.txt"
    n_bytes = 4 * (WARN_BATCH_PARTITIONS // 4 + 1)
    f.write_bytes(b"k 1\n" * (n_bytes // 4))
    # shard_size=1 -> one shard per byte, just over the warn bound
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        parts = KVTextReader({"path": str(f), "shard_size": "1"}).partitions()
        assert len(parts) == n_bytes > WARN_BATCH_PARTITIONS
    assert any(
        f"kvtext: planned {n_bytes} batch partitions" in str(x.message) for x in w
    )
    # below the bound (shard_size=2 -> half as many shards): silent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        KVTextReader({"path": str(f), "shard_size": "2"}).partitions()
    assert not w


def test_kvtext_streaming_partition_guard(spark, tmp_path):
    """Regression for the r9 10x-corpus crash ("Python worker failed to
    connect back"): a micro-batch over a corpus that plans thousands of
    default-size shards must coalesce to <= MAX_BATCH_SHARDS partitions AT
    THE SOURCE — and still read every row exactly once."""
    from sdc_mapreduce_spark.datasource import (
        MAX_BATCH_SHARDS,
        KVTextStreamReader,
        plan_shards,
    )

    d = tmp_path / "guard"
    d.mkdir()
    expected: dict[str, int] = {}
    for f in range(3):
        lines = []
        for i in range(400):
            key = f"f{f}k{i}"
            expected[key] = i
            lines.append(f"{key} {i}")
        (d / f"blob{f}.txt").write_text("\n".join(lines) + "\n")

    # tiny shards -> way more planned shards than the cap
    reader = KVTextStreamReader({"path": str(d), "shard_size": "64"})
    end = reader.latestOffset()
    assert len(plan_shards(sorted(end["files"]), 64)) > MAX_BATCH_SHARDS
    parts = reader.partitions({"files": []}, end)
    assert 1 <= len(parts) <= MAX_BATCH_SHARDS

    # end-to-end: the coalesced batch still yields every line exactly once
    register_kvtext(spark)
    out = str(tmp_path / "guard_out")
    q = (
        spark.readStream.format("kvtext")
        .option("path", str(d))
        .option("shard_size", 64)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "guard_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not finish in time"
    finally:
        q.stop()
    got = {r["key"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert got == expected


def test_streaming_wordcount_same_plan_as_batch(spark, tmp_path):
    """The reference's one application, continuously: the UNCHANGED batch
    word_count definition (tokenize -> groupBy -> count) runs on the
    streaming kvtext source, and its complete-mode state converges to the
    batch answer as new blobs arrive."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark import mapreduce as mr

    d = tmp_path / "wc_incoming"
    d.mkdir()
    (d / "a.txt").write_text("alpha 1\nbeta 2\n")
    register_kvtext(spark)

    stream = (
        spark.readStream.format("kvtext")
        .option("path", str(d))
        .load()
        .select(F.col("key").alias("value"))  # lines of words
    )
    counts = mr.word_count(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("wc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not finish in time"
    finally:
        q.stop()
    got1 = {r["word"]: r["cnt"] for r in spark.sql("SELECT * FROM wc_stream").collect()}
    assert got1 == {"alpha": 1, "beta": 1}

    (d / "b.txt").write_text("alpha 3\ngamma 4\n")
    q2 = (
        counts.writeStream.format("memory")
        .queryName("wc_stream2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q2.awaitTermination(300), "stream did not finish in time"
    finally:
        q2.stop()
    got2 = {
        r["word"]: r["cnt"] for r in spark.sql("SELECT * FROM wc_stream2").collect()
    }
    assert got2 == {"alpha": 2, "beta": 1, "gamma": 1}


# --- admission control / AvailableNow-equivalent (r12, VERDICT r11 #3) ----


def test_kvtext_stream_admission_bounds_files_per_batch(tmp_path):
    """max_batch_files is the ReadLimit analog: successive latestOffset
    calls admit at most N new files each, in sorted order, until caught
    up — then the offset stops advancing (no empty-batch churn)."""
    from sdc_mapreduce_spark.datasource import KVTextStreamReader

    d = tmp_path / "adm"
    d.mkdir()
    for f in range(5):
        (d / f"blob{f}.txt").write_text(f"k{f} {f}\n")

    r = KVTextStreamReader({"path": str(d), "max_batch_files": "2"})
    assert r.initialOffset() == {"files": []}
    o1 = r.latestOffset()
    assert len(o1["files"]) == 2
    o2 = r.latestOffset()
    assert len(o2["files"]) == 4
    assert set(o1["files"]) < set(o2["files"])
    o3 = r.latestOffset()
    assert len(o3["files"]) == 5
    # caught up: offset is stable
    assert r.latestOffset() == o3
    # the per-batch delta is exactly the newly admitted files
    parts = r.partitions(o1, o2)
    segs = {p for part in parts for p, _, _ in part.segments}
    assert segs == set(o2["files"]) - set(o1["files"])


def test_kvtext_stream_admission_reseeds_from_replayed_batch(tmp_path):
    """Checkpoint-restart path: a FRESH reader whose first engine call is
    the replay of the last logged batch (partitions(start, end)) must
    continue bounded admission from `end`, not re-admit from scratch."""
    from sdc_mapreduce_spark.datasource import KVTextStreamReader

    d = tmp_path / "replay"
    d.mkdir()
    files = []
    for f in range(4):
        p = d / f"blob{f}.txt"
        p.write_text(f"k{f} {f}\n")
        files.append(str(p))
    files.sort()

    r = KVTextStreamReader({"path": str(d), "max_batch_files": "1"})
    # engine replays the last logged batch on restart (the contract
    # pyspark's own _SimpleStreamReaderWrapper depends on)
    r.partitions({"files": files[:1]}, {"files": files[:2]})
    nxt = r.latestOffset()
    assert nxt["files"] == files[:3]  # exactly one new file admitted

    # commit() alone also re-seeds (belt and braces)
    r2 = KVTextStreamReader({"path": str(d), "max_batch_files": "1"})
    r2.commit({"files": files[:3]})
    assert r2.latestOffset()["files"] == files[:4]

    # no seed at all = fresh query start (first engine call IS
    # latestOffset): bounded admission from the empty initial offset,
    # mirroring pyspark's _SimpleStreamReaderWrapper
    r3 = KVTextStreamReader({"path": str(d), "max_batch_files": "1"})
    assert r3.latestOffset()["files"] == files[:1]


def test_kvtext_stream_available_now_scopes_to_start_snapshot(tmp_path):
    """available_now=true snapshots the listing at reader construction:
    files landing later are NOT admitted (Trigger.AvailableNow scope)."""
    from sdc_mapreduce_spark.datasource import KVTextStreamReader

    d = tmp_path / "snap"
    d.mkdir()
    (d / "a.txt").write_text("a 1\n")
    (d / "b.txt").write_text("b 2\n")
    r = KVTextStreamReader(
        {"path": str(d), "available_now": "true", "max_batch_files": "1"}
    )
    r.initialOffset()
    (d / "c.txt").write_text("c 3\n")  # arrives after query start
    o1 = r.latestOffset()
    o2 = r.latestOffset()
    o3 = r.latestOffset()
    assert len(o1["files"]) == 1 and len(o2["files"]) == 2
    assert o3 == o2  # caught up to the snapshot; c.txt is out of scope
    assert not any(f.endswith("c.txt") for f in o2["files"])


def test_kvtext_drain_available_now_multibatch(spark, tmp_path):
    """End-to-end bounded multi-batch drain: 4 files, max_batch_files=1,
    drain_available_now stops the query once the start snapshot is covered
    and reports >= 4 data-carrying micro-batches; every row lands exactly
    once."""
    from sdc_mapreduce_spark.datasource import drain_available_now

    d = tmp_path / "drain"
    d.mkdir()
    expected = {}
    goal = []
    for f in range(4):
        p = d / f"blob{f}.txt"
        p.write_text(f"k{f} {f * 10}\n")
        expected[f"k{f}"] = f * 10
        goal.append(str(p))

    register_kvtext(spark)
    out = str(tmp_path / "drain_out")
    q = (
        spark.readStream.format("kvtext")
        .option("path", str(d))
        .option("max_batch_files", 1)
        .option("available_now", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "drain_ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    n_batches = drain_available_now(q, goal, timeout=300)
    assert n_batches >= 4, f"expected a multi-batch drain, got {n_batches}"
    got = {r["key"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert got == expected
