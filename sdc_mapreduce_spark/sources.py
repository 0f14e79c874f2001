"""Sinks and table maintenance beyond the reference's text blobs.

The reference's only storage interface is whole/ranged text-blob reads and
blob uploads against one Azure container (SURVEY.md O1-O5, reference
src/util/blob.cpp:33-94); its text source and key-value sink live in
``mapreduce`` (``read_text``, ``write_kv_text``). Spark's DataSource API
generalizes that to any Hadoop-compatible filesystem and format; this
module holds the two writers the registered queries use for data kept
across jobs:

- ``write_bucketed_table`` — sorted-bucketed parquet tables (shuffle-free
  joins on the bucket key for repeat consumers);
- ``compact_parquet`` — small-file compaction, range-clustered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    num_buckets: int = 32,
) -> None:
    """Sorted-bucketed parquet table (saved through the catalog — bucketing
    metadata lives in the metastore). Joins/aggregations on the bucket key
    across two tables bucketed the same way run with ZERO shuffle — the
    persisted-data analog of the reference's hash-partitioned intermediate
    files (SURVEY.md O10), kept across jobs instead of per-job."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .saveAsTable(table_name)
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    order_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the table-maintenance pass every long-lived
    100 TB dataset needs (streaming sinks and per-batch ingests accrete
    thousands of tiny files; each costs a task + an open at read time).
    Bin-packs the directory into ceil(total_bytes / target) output files,
    range-clustered on ``order_cols`` (an OPTIMIZE + sort, so min/max
    pruning improves too). Sizing reads only filesystem metadata (no data
    pass); the rewrite is one exchange. Returns the output file count
    chosen.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total // target_file_bytes))
    (
        spark.read.parquet(src_path)
        .repartitionByRange(n_files, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(dst_path)
    )
    return n_files
