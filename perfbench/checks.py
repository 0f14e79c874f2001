"""Output checks: DuckDB oracle hashes for registry queries, and the
reference's KV-text sink contract for word-count jobs.

Oracle results use the normalisation of ``tools/check_oracle.py`` (row
count, sorted column names, order-insensitive value hash), so a query that
passes here passes the repository's own oracle gate on the same tables.
They are computed once per seed and cached next to the generated inputs.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from tools.check_oracle import value_hash


def result_key(cols: list[str], rows: list[tuple]) -> dict:
    return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(cols, rows)}


def parquet_result_key(path: str) -> dict:
    """``result_key`` of a parquet sink's output directory."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    return result_key(tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()])


def oracle_keys(sf_dir: str, names: list[str], cache_path: str) -> dict[str, dict]:
    """``{query: result_key}`` from each query's DuckDB twin over the
    parquet tables in ``sf_dir``; cached in ``cache_path``."""
    cached: dict = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb

        from sdc_mapreduce_spark.queries import REGISTRY

        con = duckdb.connect()
        for fn in sorted(os.listdir(sf_dir)):
            if fn.endswith(".parquet"):
                path = os.path.join(sf_dir, fn)
                con.execute(
                    f"CREATE VIEW {fn[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        for name in missing:
            res = con.execute(REGISTRY[name].oracle)
            cols = [d[0] for d in res.description]
            cached[name] = result_key(cols, res.fetchall())
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1)
        os.replace(tmp, cache_path)
    return {n: cached[n] for n in names}


def mismatch(got: dict, want: dict) -> str | None:
    """None when two result keys agree, else a one-line reason."""
    for field in ("rows", "cols", "hash"):
        if got[field] != want[field]:
            return f"{field}: got {got[field]!r}, want {want[field]!r}"
    return None


def expected_word_counts(paths: list[str]) -> Counter:
    """The reference mapper's semantics: whitespace split, keep
    ``str.isalnum()`` tokens."""
    counts: Counter = Counter()
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                counts.update(t for t in line.split() if t.isalnum())
    return counts


def kv_sink_problems(out_dir: str, reducers: int, expected: Counter) -> list[str]:
    """Check a ``write_kv_text`` output directory against the reference's
    sink contract: one ``part-*`` file per reducer, ``key count`` lines
    sorted by key within each file, keys disjoint across files, and the
    union equal to ``expected``. Returns the problems found (empty = ok)."""
    try:
        parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    except OSError as exc:
        return [f"unreadable output: {exc}"]
    problems = []
    if len(parts) != reducers:
        problems.append(f"{len(parts)} part files, want {reducers}")
    got: Counter = Counter()
    for part in parts:
        keys = []
        with open(os.path.join(out_dir, part), encoding="utf-8") as f:
            for line in f:
                fields = line.split()
                if len(fields) != 2 or not fields[1].isdigit():
                    problems.append(f"{part}: malformed line {line.rstrip()!r}")
                    continue
                keys.append(fields[0])
                if fields[0] in got:
                    problems.append(f"{part}: key {fields[0]!r} repeated")
                got[fields[0]] = int(fields[1])
        if keys != sorted(keys):
            problems.append(f"{part}: keys not sorted")
    if got != expected:
        lost = set(expected) - set(got)
        extra = set(got) - set(expected)
        wrong = sum(1 for k in set(got) & set(expected) if got[k] != expected[k])
        problems.append(
            f"counts differ: {len(lost)} missing, {len(extra)} extra, {wrong} wrong"
        )
    return problems
