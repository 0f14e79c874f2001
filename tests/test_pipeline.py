"""End-to-end curation pipeline: stage composition, threshold behavior,
exact-duplicate collapse."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.pipeline import curate


def test_quality_threshold_filters(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    kept = curate(docs, min_quality=0.58).count()
    assert 0 < kept < total


def test_exact_dup_collapses_to_lowest_id(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "a completely different document about something else entirely ok"),
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in curate(docs, min_quality=0.0).collect()}
    assert kept == {1, 3}


def test_curate_pack_write_roundtrip(spark, sf_dir, tmp_path):
    """The full 100 TB user story end-to-end at test scale: curate (quality
    gate + exact dedup) -> assign docs to size-bounded shards via the
    distributed running sum -> write parquet partitioned by shard -> read
    back. Every kept doc lands in exactly one shard directory, shard
    assignment is contiguous in doc order, and no shard (except possibly
    the last) exceeds its budget by more than one document."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.operators.relational import global_running_sum
    from sdc_mapreduce_spark.pipeline import curate

    docs = load_table(spark, sf_dir, "documents")
    kept = curate(docs, min_quality=0.58)
    enriched = kept.join(docs.select("doc_id", "n_chars"), "doc_id")

    budget = 20_000
    assigned = global_running_sum(
        enriched, "doc_id", "n_chars", out_col="cum", num_partitions=8
    ).withColumn("shard", F.floor((F.col("cum") - F.col("n_chars")) / budget))

    out = str(tmp_path / "shards")
    assigned.write.partitionBy("shard").mode("overwrite").parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == kept.count()
    # one shard per doc, and hive partitioning recovered the shard column
    assert back.select("doc_id").distinct().count() == back.count()
    per_shard = {
        r["shard"]: r["chars"]
        for r in back.groupBy("shard")
        .agg(F.sum("n_chars").alias("chars"))
        .collect()
    }
    max_chars = max(
        r["n_chars"] for r in enriched.select("n_chars").collect()
    )
    for shard, chars in per_shard.items():
        assert chars <= budget + max_chars, (shard, chars)
    # contiguity: doc order and shard order agree
    rows = sorted(
        (r["doc_id"], r["shard"]) for r in back.select("doc_id", "shard").collect()
    )
    shards_in_doc_order = [s for _, s in rows]
    assert shards_in_doc_order == sorted(shards_in_doc_order)


def test_curate_full_filters_compose(spark):
    """Each stage of the full pipeline must bite: the repetitive doc falls
    to the dup-2gram gate, the benchmark-overlapping doc to the
    contamination gate, the exact duplicate to dedup, and the clean doc
    survives with all its scores attached."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.pipeline import curate_full

    clean = "the quick brown fox jumps over the lazy dog and runs far away today"
    # ids chosen so none of the kept candidates is == 0 mod 97 (benchmark
    # members are contaminated by definition and must screen out)
    docs = spark.createDataFrame(
        [
            (10, clean),
            (11, clean),  # exact duplicate of 10 -> dedup keeps 10
            (12, "spam spam spam spam spam spam spam spam spam spam and spam"),
            (13, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (97, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    kept = {
        r["doc_id"]: r
        for r in curate_full(
            docs, bench, min_quality=0.0, max_dup_2gram=0.55, max_contamination=0.5
        ).collect()
    }
    assert 10 in kept and 11 not in kept  # dedup keeps lowest id
    assert 12 not in kept  # repetition gate
    assert 13 not in kept and 97 not in kept  # contamination gate (full overlap)
    assert kept[10]["contamination"] == 0.0
    assert 0.0 <= kept[10]["dup_2gram_fraction"] <= 0.55
