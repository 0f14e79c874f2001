"""The reference's MapReduce surface, re-expressed on Spark DataFrames.

The reference framework (surveyed in SURVEY.md §2) executes exactly one shape
of job: byte-range-sharded text scan → user Python mapper (stdin→stdout
``"key value"`` lines, reference src/worker/python_executor.h:10-28) → hash
shuffle on key (reference src/worker/worker.cpp:244-250) → partial + final
grouped reduction (reference src/worker/worker.cpp:290-299,
src/app/reducer.py:17-27) → per-partition key-sorted text sink (reference
src/app/reducer.py:26-27). This module provides that surface three ways:

- **native**: fully declarative DataFrame ops — tokenize/flatMap as
  ``explode(split(...))``, reduce as ``groupBy().agg`` (Catalyst gives the
  partial/final aggregation split automatically, the exact analog of the
  reference's per-file partial + merged final reduce);
- **callable**: arbitrary Python ``mapper(record) -> [(k, v)]`` and
  associative ``reducer(v, v) -> v`` via RDD ``flatMap`` / ``reduceByKey``
  (map-side combine = the reference's partial-aggregation contract, Q3);
- **pipe**: the literal stdin/stdout subprocess contract via ``rdd.pipe``,
  able to run unmodified user mapper/reducer scripts.

At 100 TB the native path is the one to use: whole-stage codegen end-to-end,
no Python in the hot loop; ``callable``/``pipe`` exist for user-code parity.
"""

from __future__ import annotations

import shlex
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The reference treats a "word" as a maximal alphanumeric run and drops any
# token failing str.isalnum() (reference src/app/mapper.py:16); shard
# boundaries are aligned to these runs (reference src/worker/worker.cpp:
# 156-169). After per-line reads, tokenizing with a whitespace split plus an
# alnum filter reproduces the same record semantics with no custom splitter.
# Python's str.isalnum is UNICODE-aware (letters ∪ numerics of any script),
# so the filter uses the Unicode categories \p{L}\p{N}, not [A-Za-z0-9] —
# the ASCII form silently drops every non-Latin word the reference keeps.
ALNUM_TOKEN = r"^[\p{L}\p{N}]+$"
WHITESPACE = r"\s+"


def read_text(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Text source: one row per line, column ``value`` (SURVEY.md O1/O2).

    Split planning (the reference's createShardAllocations, reference
    src/master/sharding.h:27-83) is Spark's FileScan: ``maxPartitionBytes``
    splits plus small-file bin-packing, with line-boundary alignment replacing
    the reference's isalnum boundary adjustment (O7).
    """
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.text(paths)


def tokenize(df: DataFrame, text_col: str = "value", out_col: str = "token") -> DataFrame:
    """Explode text into alphanumeric word records — the mapper's tokenize +
    filter stage (reference src/app/mapper.py:4-18), JVM-side.
    """
    tok = F.explode(F.split(F.col(text_col), WHITESPACE)).alias(out_col)
    return (
        df.select(tok)
        .filter(F.col(out_col) != "")
        .filter(F.col(out_col).rlike(ALNUM_TOKEN))
    )


def word_count(df: DataFrame, text_col: str = "value") -> DataFrame:
    """The reference's one shipped application (reference src/app/mapper.py +
    reducer.py) as a declarative plan: tokenize → groupBy(token).count().

    Catalyst plans this as partial HashAggregate → shuffle on token → final
    HashAggregate — the same partial/final split the reference implements by
    running the reducer once per intermediate file and once over the merged
    partials (reference src/worker/worker.cpp:290-299). Scales with the
    number of distinct keys per partition, not input bytes.
    """
    return (
        tokenize(df, text_col=text_col, out_col="word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def map_reduce(
    df: DataFrame,
    mapper: Callable[[Any], Iterable[tuple[Any, Any]]],
    reducer: Callable[[Any, Any], Any],
    num_partitions: int | None = None,
    reference_quirks: bool = False,
) -> DataFrame:
    """General user-code contract: Python mapper + associative reducer.

    ``flatMap`` + ``reduceByKey`` — reduceByKey's map-side combine is the
    reference's partial-aggregation semantics (Q3: the user reducer must be
    associative/commutative, reference src/worker/worker.cpp:290-299).
    Honors ``num_partitions`` (fixing quirk Q2, where the reference ignores
    the client's reducer_count and hard-codes 3, reference
    src/master/master.cpp:243).

    ``reference_quirks=True`` reproduces quirk Q1 (SURVEY.md §6): the
    reference worker's shuffle write keeps only each mapped record's KEY and
    emits the literal value ``1`` (reference src/worker/worker.cpp:229,247),
    so ANY mapper degenerates to count semantics regardless of the values it
    emits. Off by default — the fixed behavior honors the mapper's values.
    """
    spark = df.sparkSession
    rdd = df.rdd.flatMap(lambda row: mapper(row))
    if reference_quirks:
        rdd = rdd.map(lambda kv: (kv[0], 1))
    reduced = rdd.reduceByKey(reducer, numPartitions=num_partitions)
    return spark.createDataFrame(reduced, schema="key string, value long")


def map_reduce_pipe(
    df: DataFrame,
    mapper_cmd: str | list[str],
    reducer_cmd: str | list[str],
    num_partitions: int = 3,
    text_col: str = "value",
    reference_quirks: bool = False,
) -> DataFrame:
    """The faithful subprocess contract (SURVEY.md O8/O13/O19): run
    *unmodified* stdin→stdout mapper/reducer scripts via ``rdd.pipe``.

    Phases mirror the reference worker (reference src/worker/worker.cpp:
    184-305): pipe input lines through the mapper per partition, hash-
    partition the emitted ``"key value"`` lines on key, then pipe each
    reduce partition through the reducer (which aggregates per key over its
    whole partition — equivalent to the reference's reduce over concatenated
    partials). ``num_partitions`` defaults to 3 for golden parity with quirk
    Q2 (reference src/master/master.cpp:243).

    ``reference_quirks=True`` adds quirk Q1: the reference worker rewrites
    every mapper output line to ``first_token + " 1"`` before the shuffle
    (reference src/worker/worker.cpp:229,247 — ``sub_tokens[0]`` plus the
    literal ``"1"``), discarding whatever value the user mapper emitted. A
    non-count mapper therefore still produces count semantics.
    """
    spark = df.sparkSession
    mapper_cmd = _as_cmd(mapper_cmd)
    reducer_cmd = _as_cmd(reducer_cmd)

    # checkCode=True: a mapper/reducer that exits nonzero FAILS the job
    # loudly. The pipe default (ignore exit status) would silently truncate
    # results on a crashed script; the reference's failure mode is worse
    # still — its phase barrier stalls forever on a lost task (quirk Q7,
    # SURVEY.md §2.1) — so fail-fast is the engine's contract here.
    mapped = (
        df.select(F.col(text_col).cast("string"))
        .rdd.map(lambda r: r[0] if r[0] is not None else "")
        .pipe(mapper_cmd, checkCode=True)
    )
    if reference_quirks:
        # Q1 value-discard: keep only the first token, emit literal "1"
        # (empty mapper lines are dropped; the reference writes "" + " 1"
        # for them, but its reducer then drops the 1-token line anyway).
        mapped = mapped.filter(lambda line: line.split() != []).map(
            lambda line: f"{line.split()[0]} 1"
        )
    # Hash-partition on the first token = the reference's
    # std::hash(key) % num_reducers shuffle write (worker.cpp:244-250).
    keyed = mapped.map(lambda line: (line.split(" ", 1)[0], line)).partitionBy(
        num_partitions
    )
    reduced = keyed.map(lambda kv: kv[1]).pipe(reducer_cmd, checkCode=True)
    pairs = reduced.map(_parse_kv_line).filter(lambda kv: kv is not None)
    return spark.createDataFrame(pairs, schema="key string, value long")


def _as_cmd(cmd: str | list[str]) -> str:
    if isinstance(cmd, list):
        return " ".join(shlex.quote(c) for c in cmd)
    return cmd


def _parse_kv_line(line: str) -> tuple[str, int] | None:
    # Malformed-line drop semantics of the reference reducer (reference
    # src/app/reducer.py:11-12,21-24): wrong token count or non-int value
    # rows are silently skipped.
    parts = line.split()
    if len(parts) != 2:
        return None
    try:
        return parts[0], int(parts[1])
    except ValueError:
        return None


def parse_kv_lines(df: DataFrame, text_col: str = "value") -> DataFrame:
    """Parse ``"key value"`` text lines into (key string, value long),
    dropping malformed rows — the reference's universal intermediate data
    model (reference src/worker/worker.cpp:247, src/app/reducer.py:8-14),
    declaratively (no Python in the loop).
    """
    parts = F.split(F.col(text_col), WHITESPACE)
    return (
        df.select(parts.alias("p"))
        .filter(F.size("p") == 2)
        .select(
            F.col("p")[0].alias("key"),
            # try_cast, not cast: non-integer values become NULL and are
            # dropped below instead of failing the job (ANSI mode throws on
            # malformed cast) — the reference's silent-skip semantics.
            F.col("p")[1].try_cast("long").alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )


def group_reduce_sum(df: DataFrame, key_col: str = "key", value_col: str = "value") -> DataFrame:
    """Grouped SUM per key — the reference reducer's defaultdict accumulation
    (reference src/app/reducer.py:17-27). Partial/final agg is automatic.
    """
    return df.groupBy(key_col).agg(F.sum(value_col).alias("value"))


def write_kv_text(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    value_col: str = "value",
    num_partitions: int = 3,
) -> None:
    """Partition-sorted ``key<space>value`` text sink — the reference's output
    contract (SURVEY.md O14/Q4): one file per reduce partition, keys
    hash-disjoint across partitions, sorted within each (reference
    src/app/reducer.py:26-27, src/worker/worker.cpp:298-303).
    """
    (
        df.select(
            F.concat_ws(
                " ", F.col(key_col).cast("string"), F.col(value_col).cast("string")
            ).alias("value"),
            F.col(key_col).alias("__k"),
        )
        .repartition(num_partitions, "__k")
        .sortWithinPartitions("__k")
        .select("value")
        .write.mode("overwrite")
        .text(path)
    )


def python_word_mapper(row: Any) -> Iterable[tuple[str, int]]:
    """Reference-contract word-count mapper for the ``callable`` mode:
    whitespace split, keep str.isalnum() tokens, emit (word, 1)
    (semantics of reference src/app/mapper.py:4-18)."""
    text = row[0] if row and row[0] is not None else ""
    for tok in text.split():
        if tok.isalnum():
            yield (tok, 1)


def python_sum_reducer(a: int, b: int) -> int:
    """Associative/commutative sum — quirk Q3's combiner contract."""
    return a + b
