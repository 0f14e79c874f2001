"""Isolate-order bench A/B (VERDICT r9 ask #2).

Times the named bench queries in THIS process in the given order — run it
once per scenario in a fresh process to isolate JVM/GC/cache state:

    python tools/bench_ab.py q3_shipping_priority            # one query, cold session
    python tools/bench_ab.py q3_shipping_priority q5_local_supplier

Same protocol as bench.py (session + Arrow-pool warm-up, untimed per-query
warm-up, median of 3, drain_pins between queries) so numbers are
comparable to BENCH_DETAIL.json medians. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdc_mapreduce_spark import queries as qreg
from sdc_mapreduce_spark.cache import drain_pins
from sdc_mapreduce_spark.catalog import DEFAULT_SF_DIR
from sdc_mapreduce_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: bench_ab.py <query> [<query> ...]")
    specs = {name: qreg.REGISTRY[name].fn for name in names}
    spark = get_spark("bench-ab")
    spark.sparkContext.setLogLevel("ERROR")
    # identical warm-up to bench.py
    next(iter(specs.values()))(spark, DEFAULT_SF_DIR).limit(1).collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    from bench import _median

    out: dict[str, list[float]] = {}
    for name, fn in specs.items():
        fn(spark, DEFAULT_SF_DIR).write.format("noop").mode("overwrite").save()
        drain_pins(spark)  # bench.py's r11 convention: timed runs start cold
        samples = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, DEFAULT_SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            drain_pins(spark)
        out[name] = samples
    # _median is repeat-count-agnostic (ADVICE r10: the old sorted(s)[1]
    # was only the median for exactly 3 samples)
    med = {n: _median(s) for n, s in out.items()}
    spark.stop()
    print(json.dumps({"order": names, "median": med, "runs": out}))


if __name__ == "__main__":
    main()
