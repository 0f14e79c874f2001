"""MapReduce-parity semantics (SURVEY.md §2 O1-O19, quirks Q1-Q4):
declarative / callable / subprocess paths must agree; the KV sink must
reproduce the reference's partition-sorted output contract."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from sdc_mapreduce_spark import mapreduce as mr

LINES = [
    "the quick brown fox",
    "the quick brown fox jumps",
    "the lazy dog!! the end...",
    "punct-uation is: dropped entirely",
]
# Reference semantics: whitespace tokens, keep only str.isalnum() ones
# (so "dog!!", "punct-uation", "is:", "dropped"… -> only fully alnum count).
EXPECTED = {
    "the": 4,
    "quick": 2,
    "brown": 2,
    "fox": 2,
    "jumps": 1,
    "lazy": 1,
    "dropped": 1,
    "entirely": 1,
}


def _df(spark):
    return spark.createDataFrame([(line,) for line in LINES], ["value"])


def as_dict(df, k="word", v="cnt"):
    return {r[k]: r[v] for r in df.collect()}


def test_wordcount_native(spark):
    assert as_dict(mr.word_count(_df(spark))) == EXPECTED


def test_wordcount_callable_mode(spark):
    out = mr.map_reduce(
        _df(spark), mr.python_word_mapper, mr.python_sum_reducer, num_partitions=2
    )
    assert as_dict(out, "key", "value") == EXPECTED


def test_wordcount_pipe_mode(spark):
    import sys

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sdc_mapreduce_spark",
        "usercode",
    )
    out = mr.map_reduce_pipe(
        _df(spark),
        [sys.executable, os.path.join(base, "wc_mapper.py")],
        [sys.executable, os.path.join(base, "wc_reducer.py")],
        num_partitions=3,
    )
    assert as_dict(out, "key", "value") == EXPECTED


def test_quirk_q1_value_discard_on_synthetic_text(spark, tmp_path):
    """Quirk Q1 (SURVEY.md §6): the reference worker rewrites every mapped
    record to its key plus the literal value 1 before the shuffle
    (worker.cpp:229,247). With ``reference_quirks=True`` a mapper that emits
    word LENGTHS still yields word counts, in the subprocess and the
    callable modes; without it the lengths are summed."""
    import sys

    inp = tmp_path / "input.txt"
    inp.write_text("\n".join(LINES) + "\n")
    df = mr.read_text(spark, str(inp))
    honest_want = {w: c * len(w) for w, c in EXPECTED.items()}

    mapper_py = tmp_path / "len_mapper.py"
    mapper_py.write_text(
        "import sys\n"
        "for line in sys.stdin:\n"
        "    for tok in line.split():\n"
        "        if tok.isalnum():\n"
        "            print(f'{tok} {len(tok)}')\n"
    )
    mapper_cmd = [sys.executable, str(mapper_py)]
    reducer_cmd = [
        sys.executable,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "sdc_mapreduce_spark",
            "usercode",
            "wc_reducer.py",
        ),
    ]
    piped = mr.map_reduce_pipe(df, mapper_cmd, reducer_cmd, reference_quirks=True)
    assert as_dict(piped, "key", "value") == EXPECTED
    honest = mr.map_reduce_pipe(df, mapper_cmd, reducer_cmd)
    assert as_dict(honest, "key", "value") == honest_want

    def len_mapper(row):
        return [(t, len(t)) for t in (row[0] or "").split() if t.isalnum()]

    called = mr.map_reduce(df, len_mapper, mr.python_sum_reducer, reference_quirks=True)
    assert as_dict(called, "key", "value") == EXPECTED
    honest_called = mr.map_reduce(df, len_mapper, mr.python_sum_reducer)
    assert as_dict(honest_called, "key", "value") == honest_want


def test_parse_kv_drops_malformed(spark):
    df = spark.createDataFrame(
        [("a 1",), ("b 2",), ("only_key",), ("a b c",), ("c notanint",), ("a 3",)],
        ["value"],
    )
    parsed = mr.parse_kv_lines(df)
    rows = [(r["key"], r["value"]) for r in parsed.collect()]
    assert sorted(rows) == [("a", 1), ("a", 3), ("b", 2)]
    summed = as_dict(mr.group_reduce_sum(parsed), "key", "value")
    assert summed == {"a": 4, "b": 2}


def test_kv_sink_partition_sorted(spark, tmp_path):
    """Q4 contract: R output files, keys hash-disjoint across partitions,
    sorted within each, 'key value' text format."""
    counts = mr.word_count(_df(spark)).select(
        F.col("word").alias("key"), F.col("cnt").alias("value")
    )
    out = str(tmp_path / "kv_out")
    mr.write_kv_text(counts, out, num_partitions=3)

    part_files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(part_files) == 3
    seen: dict[str, int] = {}
    for pf in part_files:
        with open(pf) as fh:
            lines = [line.rstrip("\n") for line in fh if line.strip()]
        keys = [line.split(" ")[0] for line in lines]
        assert keys == sorted(keys), f"partition {pf} not key-sorted"
        for line in lines:
            k, v = line.split(" ")
            assert k not in seen, f"key {k} appears in two partitions"
            seen[k] = int(v)
    assert seen == EXPECTED


def test_pipe_equals_native_on_fixture(spark, sf_dir):
    """Subprocess and declarative paths agree on real data (quirk Q3:
    associativity makes partial-agg granularity invisible)."""
    import sys

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("text").alias("value"))
        .limit(100)
    )
    native = as_dict(mr.word_count(docs))
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sdc_mapreduce_spark",
        "usercode",
    )
    piped = mr.map_reduce_pipe(
        docs,
        [sys.executable, os.path.join(base, "wc_mapper.py")],
        [sys.executable, os.path.join(base, "wc_reducer.py")],
    )
    assert as_dict(piped, "key", "value") == native


def test_pipe_crashing_mapper_fails_loudly(spark, tmp_path):
    """A user script that exits nonzero must FAIL the job (checkCode=True),
    never silently truncate output. Contrast: the reference's phase barrier
    stalls forever on a lost task (quirk Q7, SURVEY.md §2.1)."""
    import sys

    import pytest

    crash = tmp_path / "crash_mapper.py"
    crash.write_text(
        "import sys\n"
        "for i, line in enumerate(sys.stdin):\n"
        "    print(f'k{i} 1')\n"
        "    if i >= 1:\n"
        "        sys.exit(3)\n"
    )
    ok_reducer = tmp_path / "cat_reducer.py"
    ok_reducer.write_text("import sys\n[print(l, end='') for l in sys.stdin]\n")
    df = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["value"]).repartition(1)
    with pytest.raises(Exception, match="Pipe function .* exited with error code|exited with error"):
        mr.map_reduce_pipe(
            df,
            [sys.executable, str(crash)],
            [sys.executable, str(ok_reducer)],
            num_partitions=1,
        ).collect()
