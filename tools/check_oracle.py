"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB (same parquet tables registered as views),
then compares row count, sorted column names, and an order-insensitive
value hash (columns sorted by name, rows sorted by stringified tuple).

Usage:
    python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from sdc_mapreduce_spark.cache import drain_pins
from sdc_mapreduce_spark.catalog import TABLES, table_path
from sdc_mapreduce_spark.session import get_spark


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _spark_kind(dt: str) -> str:
    """Collapse a Spark simpleString dtype to a comparison kind."""
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("timestamp"):
        return "timestamp"
    for container in ("array", "map", "struct"):
        if dt.startswith(container):
            return container
    return dt


def _arrow_kind(t) -> str:
    import pyarrow.types as pt

    if pt.is_decimal(t):
        return "decimal"
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_string(t) or pt.is_large_string(t):
        return "string"
    if pt.is_date(t):
        return "date"
    if pt.is_boolean(t):
        return "boolean"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "binary"
    if pt.is_list(t) or pt.is_large_list(t):
        return "array"
    if pt.is_struct(t):
        return "struct"
    if pt.is_map(t):
        return "map"
    return str(t)


def type_mismatches(sdf, atab) -> list[str]:
    """The driver hashes values after Arrow/pandas normalization, so a DuckDB
    HUGEINT (decimal128) vs Spark BIGINT stringifies differently there even
    when fetchall() yields identical ints here. Flag any column whose type
    KIND differs between the Spark result and the oracle's Arrow schema."""
    skinds = {f.name: _spark_kind(f.dataType.simpleString()) for f in sdf.schema.fields}
    out = []
    for field in atab.schema:
        sk = skinds.get(field.name)
        ak = _arrow_kind(field.type)
        if sk is not None and sk != ak:
            out.append(f"type-kind mismatch col={field.name}: spark={sk} duck={ak}")
    return out


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("|".join(normalize_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def pandas_canon_hazards(cols: list[str], rows: list[tuple]) -> str | None:
    """Simulate the DRIVER's canonicalizer, which sorts results with pandas
    ``sort_values`` over every column before hashing: array/map-typed cells
    are unhashable there (pandas factorize), so a query can hash-match
    locally yet turn red at the driver (round-4 ``agg_collect_sets``).
    Returns the error string if the pandas sort would fail, else None."""
    import pandas as pd

    try:
        pdf = pd.DataFrame(rows, columns=cols)
        pdf.sort_values(by=list(pdf.columns))
    except Exception as exc:
        return f"{type(exc).__name__}: {exc}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--tz",
        default=None,
        help="override spark.sql.session.timeZone (the driver's session "
        "zone is outside our control; e.g. --tz Asia/Kolkata replays the "
        "round-5 timezone-independence audit)",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf(s) for the sweep session, e.g. "
        "--conf spark.sql.adaptive.enabled=false or "
        "--conf spark.sql.autoBroadcastJoinThreshold=-1 — certifies that "
        "results are independent of the physical-plan strategy the conf "
        "controls (only effective at session launch; repeatable)",
    )
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="override spark.sql.shuffle.partitions at session launch "
        "(e.g. 7 certifies partition-count independence)",
    )
    ap.add_argument(
        "--head",
        type=int,
        default=None,
        metavar="N",
        help="check only the first N registry entries — exactly the "
        "driver's bounded correctness window (N=50 replays next round's "
        "sample)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # Import smoke FIRST (round-7 postmortem): a module-level error in any
    # query module must be impossible to miss. The quarantine keeps the
    # registry alive, so check it explicitly and hard-fail here.
    import sdc_mapreduce_spark.queries as _q

    if _q.IMPORT_QUARANTINE:
        for _m, _tb in _q.IMPORT_QUARANTINE.items():
            print(f"IMPORT QUARANTINE: {_m}\n{_tb}", file=sys.stderr)
        print("FATAL: query modules failed to import — fix before checking")
        return 2

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(queries)
    if args.head is not None:
        names = names[: args.head]

    extra = {}
    for kv in args.conf:
        k, sep, v = kv.partition("=")
        if not sep:
            print(f"FATAL: --conf expects K=V, got {kv!r}")
            return 2
        extra[k] = v
    spark = get_spark(
        "check-oracle",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=extra or None,
    )
    for k, v in extra.items():
        # getOrCreate silently ignores launch confs on a pre-existing
        # session; re-set the SQL-dynamic ones and verify the rest took
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
        got = spark.conf.get(k, None)
        if got != v:
            print(f"FATAL: conf {k} is {got!r}, wanted {v!r} (static conf "
                  f"on an existing session?) — sweep would be mislabeled")
            return 2
    if args.tz:
        spark.conf.set("spark.sql.session.timeZone", args.tz)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf_dir, t)}')"
        )

    failures = []
    for name in names:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
            # per-query cache hygiene: release pin()'d persists + stray
            # cache entries + nudge the ContextCleaner for localCheckpoint
            # blocks — a full-registry session stays flat on executor
            # storage (cache.py::drain_pins)
            drain_pins(spark, gc_nudge=True, clear_cache=True)
        except Exception as exc:
            msg = str(exc).splitlines()[0][:200]
            print(f"  {name:32s} SPARK ERROR: {msg}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        hazard = pandas_canon_hazards(scols, srows)
        if hazard:
            print(f"  {name:32s} DRIVER-CANON HAZARD: {hazard[:160]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"  {name:32s} rows={len(srows):7d}  (rows-only, no oracle)  [{t_spark:.1f}s]")
            continue
        t0 = time.time()
        try:
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
        except Exception as exc:
            msg = str(exc).splitlines()[0][:200]
            print(f"  {name:32s} DUCKDB ERROR: {msg}")
            failures.append(name)
            continue
        t_duck = time.time() - t0

        # Arrow schema via LIMIT 0 (planned but short-circuited — the heavy
        # query body executes exactly once, in the fetchall above)
        schema_tab = con.execute(
            f"SELECT * FROM ({oracles[name]}) __schema_probe LIMIT 0"
        ).arrow()
        problems = type_mismatches(sdf, schema_tab)
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs, hd = value_hash(scols, srows), value_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted(tuple(normalize_cell(r[i]) for i in so) for r in srows)
                dset = sorted(tuple(normalize_cell(r[i]) for i in do) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        problems.append(f"  first diff:\n    spark={a}\n    duck ={b}")
                        break
        status = "OK " if not problems else "FAIL"
        print(
            f"  {name:32s} rows={len(srows):7d}  {status}  [spark {t_spark:.1f}s duck {t_duck:.1f}s]"
        )
        for p in problems:
            print(f"      {p}")
        if problems:
            failures.append(name)

    print()
    print(f"{len(names) - len(failures)}/{len(names)} queries match; failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
