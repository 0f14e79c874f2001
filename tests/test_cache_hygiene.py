"""pin()/drain_pins() cache hygiene (sdc_mapreduce_spark/cache.py, VERDICT
r9 ask #5 + r10 ask #5 / ADVICE r10): builders and library functions
register persists in a SESSION-KEYED ledger, harnesses release them after
materialization — a long sweep session must not accumulate executor
storage, and draining must not destroy caches the CALLER created."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdc_mapreduce_spark.cache import drain_pins, pin, pinned_frames


def test_pin_persists_and_drain_releases(spark):
    drain_pins(spark, clear_cache=True)  # clean slate
    df = pin(spark.range(1000).withColumn("x", F.col("id") * 2))
    assert df in pinned_frames(spark)
    df.count()  # materialize the cache
    assert df.storageLevel.useMemory
    drain_pins(spark, clear_cache=True)
    assert not pinned_frames(spark)
    # the block manager should hold no cached RDDs after a full drain
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_drain_spares_caller_caches(spark):
    """ADVICE r10: the per-query drain must release ONLY the ledger's pins
    — a cache the caller created outside pin() stays live (the old
    clearCache() default silently destroyed it)."""
    drain_pins(spark, clear_cache=True)
    mine = spark.range(500).withColumn("y", F.col("id") + 1).persist()
    try:
        mine.count()
        pinned = pin(spark.range(100))
        pinned.count()
        drain_pins(spark)  # default: no clearCache
        assert not pinned_frames(spark)
        assert mine.storageLevel.useMemory  # caller cache untouched
    finally:
        mine.unpersist()
    drain_pins(spark, clear_cache=True)


def test_library_only_call_path_is_drainable(spark):
    """VERDICT r10 ask #5: a third-party caller using ONLY the library
    functions (no query harness) must be able to release every internal
    persist with one drain_pins — the function's pins are in the ledger."""
    from sdc_mapreduce_spark.functions.simsearch import embedding_near_pairs_blocked

    drain_pins(spark, clear_cache=True)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = embedding_near_pairs_blocked(emb.limit(200), threshold=0.9)
    pairs.count()  # materialize: the internal pins are now live caches
    assert pinned_frames(spark), "library call should have pinned frames"
    drain_pins(spark)
    assert not pinned_frames(spark)
    # only-pins drain clears the block manager too: the library created no
    # caches outside the ledger on this path
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_registry_callables_drain_previous_pins(spark, tmp_path):
    """queries() wraps every callable with a drain of the PREVIOUS query's
    pins — the shape the driver runs. Building any query after a pin()'d
    one must leave the pin ledger holding only the new query's pins."""
    from sdc_mapreduce_spark import queries as qreg

    drain_pins(spark, clear_cache=True)
    leaked = pin(spark.range(10))
    leaked.count()
    fn = qreg.queries()["wordcount"]  # wordcount itself never pins
    fn(spark, "/root/testdata/sf0.001")
    assert leaked not in pinned_frames(spark)
    drain_pins(spark, clear_cache=True)
