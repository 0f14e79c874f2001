"""Sources and sinks: range-clustered compaction, bucketed-table shuffle
elimination, compressed text blobs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sdc_mapreduce_spark import sources as io


def test_sorted_global_write_totally_ordered(spark, tmp_path):
    """compact_parquet with order_cols range-clusters the rewrite: every
    output file is internally sorted and file i's keys all precede file
    i+1's, a total order across the directory."""
    import glob

    src = str(tmp_path / "unsorted")
    spark.createDataFrame(
        [((i * 7919) % 1000, f"v{i}") for i in range(1000)], "k int, v string"
    ).repartition(8).write.parquet(src)
    out = str(tmp_path / "sorted")
    io.compact_parquet(spark, src, out, target_file_bytes=1024, order_cols=["k"])
    parts = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(parts) > 1, "need multiple range partitions to prove global order"
    last_max = None
    for p in parts:
        ks = [r.k for r in spark.read.parquet(p).collect()]
        assert ks == sorted(ks), "file not internally sorted"
        if last_max is not None and ks:
            assert ks[0] >= last_max, "file ranges overlap — not a total order"
        if ks:
            last_max = ks[-1]


def test_bucketed_table_join_has_no_shuffle(spark, tmp_path):
    a = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("vb"))
    io.write_bucketed_table(a, "bt_a", ["id"], num_buckets=8, sort_cols=["id"])
    io.write_bucketed_table(b, "bt_b", ["id"], num_buckets=8, sort_cols=["id"])
    # disable auto-broadcast so a shuffle WOULD appear if bucketing failed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() == 1000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_gzip_text_blob_scan(spark, tmp_path):
    """Compressed text blobs (the common 100 TB wire format) decode
    transparently through the text source, and the word-count pipeline runs
    unchanged on them. Gzip is non-splittable — one partition per .gz file,
    so parallelism = file count; the test's two files must yield two
    partitions (at scale: many files, or recompress to a splittable codec)."""
    import gzip

    from sdc_mapreduce_spark import mapreduce as mr

    d = tmp_path / "gz"
    d.mkdir()
    with gzip.open(d / "a.txt.gz", "wt") as fh:
        fh.write("alpha beta\nalpha gamma\n")
    with gzip.open(d / "b.txt.gz", "wt") as fh:
        fh.write("beta beta\n")
    df = mr.read_text(spark, str(d))
    assert df.rdd.getNumPartitions() == 2
    got = {r["word"]: r["cnt"] for r in mr.word_count(df).collect()}
    assert got == {"alpha": 2, "beta": 3, "gamma": 1}


def test_compact_parquet_bin_packs_small_files(spark, tmp_path):
    import glob

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    # simulate a streaming sink's accretion: 64 tiny files
    df.repartition(64).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    n = io.compact_parquet(spark, src, dst, ["k"], target_file_bytes=256 * 1024)
    out_files = glob.glob(f"{dst}/part-*.parquet")
    assert len(out_files) == n
    assert len(out_files) < 16  # an order of magnitude fewer files
    # content identical
    a = {(r["id"], r["k"]) for r in spark.read.parquet(dst).collect()}
    assert len(a) == 20_000
