"""MapReduce-parity queries: the reference's own application surface
(word count, KV-pair parse + grouped sum, subprocess user code) run over the
documents corpus.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_mapreduce_spark import mapreduce as mr
from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.queries.base import QuerySpec
from sdc_mapreduce_spark.queries.scratch import AWAIT_S, scratch

_USERCODE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "usercode")

# One tokenizer contract, two engines: Spark splits on \s+ and keeps
# Unicode-alphanumeric tokens — \p{L}\p{N}, the regex form of the
# reference's str.isalnum filter (reference src/app/mapper.py:16, which is
# Unicode-aware) — and the oracle does the identical split+filter in DuckDB
# (RE2 supports the same category classes).
WORDCOUNT_SQL = """
WITH toks AS (
  SELECT UNNEST(string_split_regex(text, '\\s+')) AS word FROM documents
)
SELECT word, COUNT(*) AS cnt
FROM toks
WHERE word <> '' AND regexp_full_match(word, '[\\p{L}\\p{N}]+')
GROUP BY word
"""


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship app (reference src/app/mapper.py +
    reducer.py) on the declarative path: explode/split/filter/groupBy —
    whole-stage codegen end-to-end, partial+final agg on the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return mr.word_count(docs.select(F.col("text").alias("value")), text_col="value").select(
        "word", "cnt"
    )


def wordcount_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same computation through the faithful subprocess contract
    (``rdd.pipe`` running stdin→stdout user scripts — SURVEY.md O8/O13/O19).
    Same oracle as ``wordcount``: the two paths must agree (quirk Q3's
    associativity makes partial-aggregation granularity invisible)."""
    docs = load_table(spark, sf_dir, "documents")
    py = sys.executable
    out = mr.map_reduce_pipe(
        docs.select(F.col("text").alias("value")),
        mapper_cmd=[py, os.path.join(_USERCODE, "wc_mapper.py")],
        reducer_cmd=[py, os.path.join(_USERCODE, "wc_reducer.py")],
        num_partitions=3,
    )
    return out.select(F.col("key").alias("word"), F.col("value").alias("cnt"))


def kv_parse_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's universal ``"key value"`` text data model
    (reference src/worker/worker.cpp:247): serialize typed rows to KV lines,
    parse them back (malformed rows injected and dropped, reference
    src/app/reducer.py:11-12,21-24), grouped sum per key."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.concat_ws(" ", F.col("l_returnflag"), F.col("l_linenumber")).alias("value")
    )
    malformed = spark.createDataFrame(
        [("toofew",), ("way too many tokens here",), ("badint xyz",)], ["value"]
    )
    parsed = mr.parse_kv_lines(lines.unionByName(malformed))
    return mr.group_reduce_sum(parsed).select(
        F.col("key"), F.col("value").alias("total")
    )


KV_PARSE_SUM_SQL = """
SELECT l_returnflag AS key, CAST(SUM(l_linenumber) AS BIGINT) AS total
FROM lineitem GROUP BY l_returnflag
"""


def kvtext_scan_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom ``kvtext`` Python DataSource (SURVEY.md O2/O6/O7/O15 — the
    reference's byte-shard scan contract as a pluggable Spark 4 source),
    driver-certified end-to-end: serialize lineitem to KV text files with
    malformed lines interleaved, read them back through
    ``spark.read.format('kvtext')`` with a shard size small enough to force
    many byte-range shards and cross-file packing, grouped-sum the parsed
    pairs, and hash against the oracle computed straight from the parquet
    table. A boundary-alignment or malformed-drop bug in the DataSource
    turns this row red."""
    from sdc_mapreduce_spark.datasource import register_kvtext

    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.concat_ws(" ", F.col("l_returnflag"), F.col("l_linenumber")).alias("value")
    )
    malformed = spark.createDataFrame(
        [("toofew",), ("way too many tokens here",), ("badint xyz",)], ["value"]
    )
    with scratch(spark) as s:
        out = s.dir()
        lines.unionByName(malformed).repartition(4).write.mode("overwrite").text(out)
        register_kvtext(spark)
        parsed = (
            spark.read.format("kvtext")
            .option("path", out)
            .option("shard_size", 4096)
            .load()
        )
        result = (
            mr.group_reduce_sum(parsed)
            .select(F.col("key"), F.col("value").alias("total"))
            .orderBy("key")
        )
        return s.local(result)


KVTEXT_SCAN_SQL = """
SELECT l_returnflag AS key, CAST(SUM(l_linenumber) AS BIGINT) AS total
FROM lineitem GROUP BY l_returnflag ORDER BY key
"""


def kv_sink_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's partition-sorted KV-text SINK contract (SURVEY.md
    O4/O14/Q4), driver-certified: grouped sums written through write_kv_text
    (3 reduce partitions, keys hash-disjoint across files, sorted within
    each), read back from the output files, and returned as the parsed
    (key, total) rows plus booleans asserting the on-disk contract held —
    at most 3 part files (Spark's text writer skips empty reduce
    partitions, so with few distinct keys fewer files can appear — the
    union-of-partitions comparison of quirk Q4), every file's keys sorted,
    no key in two files.
    The oracle recomputes the sums from parquet and emits literal TRUEs, so
    a sink regression (lost sort, wrong partitioning, format drift)
    hash-mismatches. File inspection is driver-side over 3 small files
    (O(distinct keys) — the contract's own output size)."""
    import glob

    li = load_table(spark, sf_dir, "lineitem")
    sums = mr.group_reduce_sum(
        li.select(
            F.col("l_returnflag").alias("key"),
            F.col("l_linenumber").alias("value"),
        ),
    )
    with scratch(spark) as s:
        out = s.dir()
        mr.write_kv_text(sums, out, num_partitions=3)
        files = sorted(glob.glob(f"{out}/part-*"))
        parsed: list[tuple[str, int]] = []
        sorted_ok = True
        seen_in: dict[str, int] = {}
        disjoint_ok = True
        for fi, fp in enumerate(files):
            keys = []
            with open(fp, encoding="utf-8") as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    k, v = line.rstrip("\n").split(" ", 1)
                    keys.append(k)
                    parsed.append((k, int(v)))
                    if k in seen_in and seen_in[k] != fi:
                        disjoint_ok = False
                    seen_in[k] = fi
            if keys != sorted(keys):
                sorted_ok = False
        rows = [
            (k, v, 1 <= len(files) <= 3, sorted_ok and disjoint_ok)
            for k, v in sorted(parsed)
        ]
        return spark.createDataFrame(
            rows, "key string, total bigint, files_ok boolean, layout_ok boolean"
        )


KV_SINK_CERT_SQL = """
SELECT l_returnflag AS key, CAST(SUM(l_linenumber) AS BIGINT) AS total,
       TRUE AS files_ok, TRUE AS layout_ok
FROM lineitem GROUP BY l_returnflag ORDER BY key
"""


def kvtext_streaming_restart_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-restart exactly-once certification for the custom
    STREAMING kvtext source (datasource.py::KVTextStreamReader — offset =
    ingested file set, VERDICT r8 ask #7; the events restart cert covers
    the streaming ENGINE, this one covers the custom SOURCE's offset
    contract). Two bounded AvailableNow-equivalent drains share one
    checkpoint (VERDICT r11 ask #3): each run streams with
    ``max_batch_files=1`` + ``available_now=true`` — the source-side
    admission control that stands in for SupportsTriggerAvailableNow /
    ReadLimit, which the Python DataSource API structurally cannot declare
    (see KVTextStreamReader's docstring) — so every phase drains its blobs
    across MULTIPLE micro-batches (a real bounded backfill, not the
    engine's single-batch fallback), and ``drain_available_now`` stops the
    query once the start-of-run snapshot is covered. Run 1 streams the
    phase-1 blobs through a grouped running sum (update mode, foreachBatch
    appends with batch ids); new blobs then land in the directory and run
    2 restarts from the checkpoint. Last-batch-wins per key must equal the
    batch totals over ALL lines, which the oracle computes straight from
    parquet — a source that re-ingests committed files after restart
    doubles the affected keys, one that loses offset or aggregation state
    undershoots, and either hash-mismatches. ``multi_batch_ok`` certifies
    that BOTH runs drained >= 2 data-carrying micro-batches (the oracle
    pins it TRUE). Malformed lines interleave in BOTH phases and must be
    dropped by the shard reader (O15 under streaming)."""
    import glob

    from pyspark.sql import Window

    from sdc_mapreduce_spark.datasource import drain_available_now, register_kvtext

    with scratch(spark) as s:
        src, ckpt, sink = s.dir(), s.dir(), s.dir()
        li = load_table(spark, sf_dir, "lineitem")
        lines = li.select(
            F.concat_ws(" ", F.col("l_returnflag"), F.col("l_linenumber")).alias(
                "value"
            ),
            (F.col("l_orderkey") % 2 == 0).alias("__p1"),
        )
        malformed = spark.createDataFrame(
            [("toofew", True), ("way too many tokens here", False), ("badint xyz", True)],
            "value string, __p1 boolean",
        )
        lines = lines.unionByName(malformed)

        # repartition (NOT coalesce: a 1-partition scan coalesces to 1
        # file, and the leftover file would hold only malformed lines — 0
        # valid rows — defeating the multi-batch data certification)
        phase1 = lines.filter(F.col("__p1")).select("value").repartition(2)
        phase2 = lines.filter(~F.col("__p1")).select("value").repartition(2)
        register_kvtext(spark)

        def run() -> int:
            # DEFAULT shard_size on purpose (VERDICT r9 ask #1): the
            # partition-count guard now lives in the SOURCE —
            # KVTextStreamReader coalesces its shard plan to at most
            # MAX_BATCH_SHARDS partitions per micro-batch — so this cert
            # exercises the default path every caller gets, at any corpus
            # size, instead of working around the old cliff query-side.
            # max_batch_files=1 + available_now=true: each blob becomes
            # its own micro-batch and the run stops once the files present
            # at run start are drained — the bounded multi-batch catch-up
            # Trigger.AvailableNow performs for JVM sources (r11 ask #3).
            goal = sorted(glob.glob(os.path.join(src, "*.txt")))
            parsed = (
                spark.readStream.format("kvtext")
                .option("path", src)
                .option("max_batch_files", 1)
                .option("available_now", "true")
                .load()
            )
            agg = parsed.groupBy("key").agg(F.sum("value").alias("total"))

            def land(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.withColumn("__b", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(sink)

            q = (
                agg.writeStream.foreachBatch(land)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )
            # drain_available_now stops the query only after a COMPLETED
            # batch's end offset covers the goal — a timeout here means the
            # drain never caught up; proceeding would read a partial sink
            # and start a second query against the still-active checkpoint.
            return drain_available_now(s.track(q), goal, timeout=AWAIT_S)

        s.land(phase1, "text", src, "p1")
        batches_run1 = run()
        s.land(phase2, "text", src, "p2")
        batches_run2 = run()
        # each phase lands 2 blobs and max_batch_files=1, so a bounded
        # multi-batch drain shows >= 2 data batches per run; the restart
        # run must NOT re-ingest phase-1 blobs (that would show up both
        # here as extra batches and in the oracle totals as doubling)
        multi_batch_ok = batches_run1 >= 2 and batches_run2 >= 2

        emitted = spark.read.parquet(sink)
        w = Window.partitionBy("key").orderBy(F.col("__b").desc())
        result = (
            emitted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "key", "total", F.lit(multi_batch_ok).alias("multi_batch_ok")
            )
            .orderBy("key")
        )
        return s.local(result)


KVTEXT_STREAMING_RESTART_SQL = """
SELECT l_returnflag AS key, CAST(SUM(l_linenumber) AS BIGINT) AS total,
       TRUE AS multi_batch_ok
FROM lineitem GROUP BY l_returnflag ORDER BY key
"""


def csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode malformed-record contract, driver-certified: events
    are materialized as CSV with a deterministic corruption rule (every
    event_id % 97 == 0 row gets a non-numeric value field), read back with
    an explicit schema + columnNameOfCorruptRecord, and audited per
    event_type: rows, rows whose value parsed, rows quarantined in the
    corrupt column. This is the ingest-robustness contract a production
    loader relies on — bad rows must surface as data, not as task failures
    — and the oracle recomputes the expected quarantine counts from the
    clean table, so a parser that silently drops or mis-attributes rows
    hash-mismatches. Per-row cost is the CSV parse itself; the audit is one
    partial-agg shuffle on event_type."""
    with scratch(spark) as s:
        out = s.dir()
        ev = load_table(spark, sf_dir, "events")
        value_field = F.when(
            F.col("event_id") % 97 == 0, F.lit("xx")
        ).otherwise(F.coalesce(F.col("value").cast("string"), F.lit("0.0")))
        # concat_ws silently DROPS null fields — a null anywhere would emit
        # a short line that PERMISSIVE mis-parses instead of quarantining,
        # silently diverging from the oracle's event_id-parity rule. Every
        # nullable field is therefore coalesced to an explicit sentinel
        # that round-trips (and the oracle groups by the same coalesced
        # event_type), so a future fixture with NULLs stays green.
        lines = ev.select(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.coalesce(
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                    F.lit("1970-01-01 00:00:00.000000"),
                ),
                F.coalesce(F.col("user_id").cast("string"), F.lit("-1")),
                F.coalesce(F.col("event_type"), F.lit("__null__")),
                value_field,
            ).alias("value")
        )
        lines.repartition(4).write.mode("overwrite").text(out)
        parsed = (
            spark.read.schema(
                "event_id long, ts timestamp_ntz, user_id long, "
                "event_type string, value double, _bad string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .csv(out)
        )
        audit = (
            parsed.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("value").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_value_parsed"),
                F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_quarantined"),
            )
            .orderBy("event_type")
        )
        return s.local(audit)


CSV_MALFORMED_SQL = """
SELECT COALESCE(event_type, '__null__') AS event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_value_parsed,
       CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined
FROM events
GROUP BY COALESCE(event_type, '__null__')
ORDER BY event_type
"""


def orc_partitioned_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC + hive-partitioned layout, driver-certified: lineitem written to
    ORC partitioned by l_returnflag, read back with a partition filter
    (which prunes directories at planning time — asserted in
    tests/test_sources.py) plus a pushed row-group predicate, then
    aggregated. The oracle computes the same slice from parquet, so a
    round-trip fidelity bug in either the ORC writer, the partition
    discovery, or the pushdown turns this row red."""
    with scratch(spark) as s:
        out = s.dir()
        li = load_table(spark, sf_dir, "lineitem")
        li.write.mode("overwrite").partitionBy("l_returnflag").orc(out)
        back = (
            spark.read.orc(out)
            .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 25))
            .groupBy("l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_linenumber")).cast("long").alias("sum_lines"),
                F.min("l_quantity").alias("min_qty"),
                F.max("l_quantity").alias("max_qty"),
            )
            .orderBy("l_linestatus")
        )
        return s.local(back)


ORC_PARTITIONED_SQL = """
SELECT l_linestatus, COUNT(*) AS n,
       CAST(SUM(l_linenumber) AS BIGINT) AS sum_lines,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity >= 25
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def parquet_schema_evolution_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingestion contract, driver-certified: two parquet
    deliveries of the events feed — an old one WITHOUT the value column
    (even event ids) and a new one WITH it (odd ids) — land in one dataset
    directory and are read back with ``mergeSchema``; rows from the old
    files must surface with value NULL, not fail or be dropped. The audit
    counts per event_type total rows and value-bearing rows; the oracle
    recomputes both from the clean table via the id-parity rule, so a
    merge bug (lost rows, misaligned columns) hash-mismatches. This is the
    append-only schema-evolution path a long-lived 100 TB dataset takes on
    every producer upgrade."""
    with scratch(spark) as s:
        out = s.dir()
        ev = load_table(spark, sf_dir, "events")
        old = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        )
        new = ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "value"
        )
        old.write.mode("overwrite").parquet(f"{out}/delivery=old")
        new.write.mode("overwrite").parquet(f"{out}/delivery=new")
        merged = spark.read.option("mergeSchema", "true").parquet(out)
        audit = (
            merged.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("value").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_with_value"),
            )
            .orderBy("event_type")
        )
        return s.local(audit)


PARQUET_EVOLUTION_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def compact_parquet_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, driver-certified: lineitem is deliberately
    scattered into 64 tiny files (the debris a per-batch ingest leaves),
    compacted through sources.compact_parquet with l_shipdate clustering,
    and re-read. The query RAISES unless the compacted directory holds
    exactly the planned file count and strictly fewer files than the
    debris, so the driver row witnesses the maintenance pass actually
    consolidating; the oracle recomputes the same aggregate from the raw
    table, so the rewrite must also be byte-faithful to the data. At
    100 TB this is the OPTIMIZE pass that keeps scan task counts
    proportional to bytes, not to ingest batch history."""
    import glob as _glob

    from sdc_mapreduce_spark.queries.base import dsum
    from sdc_mapreduce_spark.sources import compact_parquet

    with scratch(spark) as s:
        src, dst = s.dir(), s.dir()
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
        )
        li.repartition(64).write.mode("overwrite").parquet(src)
        n_src = len(_glob.glob(src + "/part-*"))
        planned = compact_parquet(
            spark, src, dst, target_file_bytes=1 << 20, order_cols=["l_shipdate"]
        )
        n_dst = len(_glob.glob(dst + "/part-*"))
        if n_dst != planned or n_dst >= n_src:
            raise AssertionError(
                f"compaction did not consolidate: {n_src} -> {n_dst} "
                f"(planned {planned})"
            )
        back = (
            spark.read.parquet(dst)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("l_linenumber").cast("long").alias("sum_lines"),
                dsum("l_quantity", "sum_qty"),
            )
            .orderBy("l_returnflag")
        )
        return s.local(back)


COMPACT_PARQUET_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(SUM(l_linenumber) AS BIGINT) AS sum_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def bucketed_join_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-bucketed co-located join, driver-certified: orders and
    customer are persisted through sources.write_bucketed_table with the
    SAME bucketing (8 buckets on the customer key), re-read from the
    catalog, and joined — the query RAISES if any Exchange appears in the
    join's physical plan, so the driver row witnesses that the join ran
    with ZERO shuffle off bucket co-location (the persisted-data analog of
    the reference's hash-partitioned intermediate files, SURVEY.md O10,
    kept across jobs instead of per-job; at 100 TB this is the layout that
    turns every recurring fact-dim join into a scan-local merge). The
    oracle computes the same join + aggregate from the raw parquet, so
    bucketing must also preserve the DATA exactly, not just the plan
    shape."""
    import uuid

    from sdc_mapreduce_spark.plans import executed_plan
    from sdc_mapreduce_spark.queries.base import dsum
    from sdc_mapreduce_spark.sources import write_bucketed_table

    tag = uuid.uuid4().hex[:8]
    t_orders = f"sdcms_bkt_orders_{tag}"
    t_cust = f"sdcms_bkt_cust_{tag}"
    # disable auto-broadcast so the co-located sort-merge join is what gets
    # planned (a broadcast would ALSO avoid the shuffle, but it is not the
    # property being certified, and at real fact-fact scale it is not
    # available). SQL confs are per session, so this runs on a child
    # session: the session other jobs share keeps its threshold.
    iso = spark.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(
            load_table(iso, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ),
            t_orders,
            ["o_custkey"],
            num_buckets=8,
            sort_cols=["o_custkey"],
        )
        write_bucketed_table(
            load_table(iso, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            t_cust,
            ["c_custkey"],
            num_buckets=8,
            sort_cols=["c_custkey"],
        )
        o = iso.table(t_orders)
        c = iso.table(t_cust)
        joined = o.join(c, o["o_custkey"] == c["c_custkey"])
        plan = executed_plan(joined)
        if "Exchange" in plan:
            raise AssertionError(
                "bucketed co-located join planned a shuffle:\n" + plan
            )
        agg = (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", "total_price"),
            )
            .orderBy("c_mktsegment")
        )
        with scratch(spark) as s:
            return s.local(agg)
    finally:
        for t in (t_orders, t_cust):
            iso.sql(f"DROP TABLE IF EXISTS {t}")


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES: dict[str, QuerySpec] = {
    "bucketed_join_certified": QuerySpec(bucketed_join_certified, BUCKETED_JOIN_SQL),
    "compact_parquet_certified": QuerySpec(
        compact_parquet_certified, COMPACT_PARQUET_SQL
    ),
    "csv_malformed_audit": QuerySpec(csv_malformed_audit, CSV_MALFORMED_SQL),
    "orc_partitioned_certified": QuerySpec(
        orc_partitioned_certified, ORC_PARTITIONED_SQL
    ),
    "parquet_schema_evolution_certified": QuerySpec(
        parquet_schema_evolution_certified, PARQUET_EVOLUTION_SQL
    ),
    "wordcount": QuerySpec(wordcount, WORDCOUNT_SQL, bench=True),
    "wordcount_pipe": QuerySpec(wordcount_pipe, WORDCOUNT_SQL),
    "kv_parse_sum": QuerySpec(kv_parse_sum, KV_PARSE_SUM_SQL),
    "kvtext_scan_certified": QuerySpec(kvtext_scan_certified, KVTEXT_SCAN_SQL),
    "kv_sink_certified": QuerySpec(kv_sink_certified, KV_SINK_CERT_SQL),
    "kvtext_streaming_restart_certified": QuerySpec(
        kvtext_streaming_restart_certified, KVTEXT_STREAMING_RESTART_SQL
    ),
}
