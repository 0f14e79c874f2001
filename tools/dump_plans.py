"""Dump explain("formatted") for registered queries to
<out_dir>/<query>_<tag>.txt (before/after plan evidence for an
optimization change).

Usage: python tools/dump_plans.py <out_dir> <tag> [name ...]
    out_dir: e.g. plans/minhash; created if missing.
    tag: e.g. "before" or "after"; with no names, dumps the whole bench set.
Reads the fixture named by $SPARK_GRAFT_SF_DIR (catalog.DEFAULT_SF_DIR).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdc_mapreduce_spark.cache import drain_pins
from sdc_mapreduce_spark.catalog import DEFAULT_SF_DIR
from sdc_mapreduce_spark.plans import formatted_plan
from sdc_mapreduce_spark.queries import REGISTRY, bench_queries
from sdc_mapreduce_spark.session import get_spark


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(bench_queries())
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].fn(spark, DEFAULT_SF_DIR)
        plan = formatted_plan(df)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan + "\n")
        drain_pins(spark)
        print(name, "ok")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
