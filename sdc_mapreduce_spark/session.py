"""SparkSession factory with scale-oriented defaults.

The reference hard-codes its execution config (shard_size=50000 bytes,
3 reducers — reference src/master/master.cpp:243, clientsdk/job_details.py:3-5).
Here every knob maps to a Spark conf that holds from local[32] up to a
1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting) so the
  static ``spark.sql.shuffle.partitions`` only needs to be an upper bound;
- broadcast threshold raised to 64 MiB — every dimension table in the star
  schema (region/nation/customer/supplier/part at bench SF) broadcast-joins
  instead of shuffling the fact table;
- Arrow enabled for the few pandas-UDF code paths;
- session timezone pinned to UTC so timestamp semantics are deterministic
  across engines (matters for the DuckDB correctness oracle);
- Python workers forked from ``pyworker``, a daemon that runs them on the
  unpacked pyspark instead of Spark's ``pyspark.zip``: with the archive on
  ``sys.path`` every task's ``importlib.invalidate_caches()`` re-reads it
  (about 0.24 s per task, against kernels that take milliseconds).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One BLAS thread per task (guide §4.2/§4.5): every Arrow kernel in this
# engine hands whole batches to numpy/OpenBLAS, and OpenBLAS defaults to
# one thread PER CORE — with 32 concurrent tasks that is 32x32 threads
# fighting for 32 cores. Measured on this host (skinny f64 matmul,
# 2048x64 @ 64x5000): 620 ms/iter multithreaded vs 155 ms/iter
# single-threaded — the unpinned default is 4x SLOWER even for ONE task,
# and pathological for a full stage. Set before the JVM launches so local
# Python workers (forked from this process) inherit it; on a cluster the
# same keys go out via spark.executorEnv below. Respect explicit operator
# overrides from the environment.
_BLAS_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
for _k in _BLAS_ENV:
    os.environ.setdefault(_k, "1")

DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: coalesce small shuffle partitions, split skewed ones,
    # convert to broadcast join at runtime when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Star-schema dims stay well under this; fact-table joins become
    # broadcast-hash instead of sort-merge (no fact shuffle).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Arrow batching for pandas UDF / mapInPandas paths (10-100x over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~128 MiB input splits: the Spark analog of the reference's shard_size
    # (SURVEY.md O6); bin-packing of small files is automatic.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Runtime row-level semi-join pruning (Bloom filter injected on the
    # probe side of selective joins — at 100 TB the difference between
    # shuffling the whole fact table and the matching sliver) is left at
    # its Spark-4 default (ON). NOTE: additionally forcing
    # `runtimeFilter.semiJoinReduction.enabled` was tried and REVERTED — it
    # sent planning time pathological on this query inventory (a 30 s
    # subset had not finished after 11 minutes).
    "spark.python.daemon.module": "sdc_mapreduce_spark.pyworker",
}

# Workers import the daemon module from here, whatever the driver's cwd
# (on a cluster the package sits at the same path on every executor, as
# the UDFs' by-reference helpers already require).
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "sdc_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster pass ~2-3x total executor cores (AQE coalesces the excess).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(DEFAULT_CONF)
    # local[*] runs executors inside the driver JVM, whose DEFAULT heap is
    # 1 GiB — a silent ceiling that OOMed four dedup queries on a 10x
    # corpus while the machine sat at 1% memory use. Only effective at JVM
    # launch (getOrCreate ignores it for an existing session, e.g. under
    # an external driver that built its own). On a real cluster this knob
    # is per-executor memory instead.
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or max(cpus, 8))
    # Cluster-mode twin of the process-env pin above (local workers inherit
    # the driver env; remote executors need the conf).
    for k in _BLAS_ENV:
        conf.setdefault(f"spark.executorEnv.{k}", os.environ[k])
    conf["spark.executorEnv.PYTHONPATH"] = _PACKAGE_PARENT
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
