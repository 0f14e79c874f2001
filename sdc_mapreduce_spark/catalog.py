"""Table catalog over the driver-materialized parquet fixtures (TESTDATA.md).

One parquet file per table under ``<sf_dir>/<name>.parquet``. Readers go
through ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition-split planning for free (the reference hand-rolled all
three: byte-range sharding, reference src/master/sharding.h:27-83).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns written as parquet TIMESTAMP(NANOS), which Spark has no native type
# for. We read them as raw nanosecond longs (legacy conf below) and rebuild a
# timestamp_ntz — NTZ specifically, so values are wall-clock identical across
# engines and session timezones (the DuckDB oracle reads them as naive
# timestamps).
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _nanos_to_ntz(col: str):
    # epoch-micros fit a double exactly (< 2^53 until year ~2255), so the
    # fractional-second interval below is lossless to microsecond precision.
    return F.expr(
        f"make_timestamp_ntz(1970,1,1,0,0,0)"
        f" + make_dt_interval(0,0,0, ({col} div 1000) / 1000000.0)"
    ).alias(col)


# (sf_dir, table) -> inferred StructType. A real catalog serves schemas from
# metadata, not by re-sampling parquet footers: passing the cached schema to
# every subsequent read skips the footer-inference job each query would
# otherwise launch (at 100 TB that job touches thousands of files).
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


# Single-file fixtures are written as ONE parquet row group, and a row
# group is the atomic split unit — `maxPartitionBytes` can never divide it,
# so every scan (and all narrow work above it: filters, per-doc scoring,
# tokenization, band hashing) runs as ONE task regardless of cluster size.
# Tables past this size get a round-robin spread to the default parallelism;
# Catalyst still pushes filters and column pruning through the exchange
# (plan-asserted in tests/test_plans.py), and dims below the threshold keep
# their single cheap partition (an exchange would only add a stage before
# their broadcast). On a real multi-file corpus the scan arrives with
# thousands of splits and the spread never triggers. The threshold is on
# COMPRESSED bytes, so it sits low: text compresses ~10x and the cost the
# spread addresses is per-row CPU, not I/O (594 KB of parquet is 5,000
# documents of interpreted tokenization).
#
# Only tables whose consumers do heavy per-row work (tokenization,
# shingling, per-vector folds) are spread: A/B at 10x showed documents/
# embeddings queries gaining 4-5x while spreading shuffle-light fact scans
# (q1 over lineitem, sessionize over events) only pays an extra exchange —
# those plans either aggregate in place or re-shuffle on their own keys
# immediately.
SPREAD_MIN_BYTES = 512 * 1024
SPREAD_TABLES: tuple[str, ...] = ("documents", "embeddings")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name in NANO_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cached = _SCHEMA_CACHE.get((sf_dir, name))
    if cached is not None:
        df = spark.read.schema(cached).parquet(table_path(sf_dir, name))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
        _SCHEMA_CACHE[(sf_dir, name)] = df.schema
    for col in NANO_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, _nanos_to_ntz(col))
    if name in SPREAD_TABLES:
        try:
            n_bytes = os.path.getsize(table_path(sf_dir, name))
        except OSError:
            n_bytes = 0
        if n_bytes >= SPREAD_MIN_BYTES:
            # target scales with input size (~256 KB compressed per task)
            # up to the core count: a 594 KB corpus gets 2 partitions (the
            # exchange is nearly free, scoring halves), a 6 MB one gets
            # ~22 — full fan-out only when there's enough per-task work to
            # amortize task launch + exchange.
            target = min(
                spark.sparkContext.defaultParallelism,
                max(2, n_bytes // (256 * 1024)),
            )
            if df.rdd.getNumPartitions() < target:
                df = df.repartition(target)
    return df
