"""Dump the normalized explain("formatted") plan of registered queries to
<out_dir>/<query>_<tag>.txt, and one "<sha256> <query>" line per query to
<out_dir>/<tag>.sha256 (plan evidence for a change).

Usage: python tools/dump_plans.py <out_dir> <tag> [name ...]
    out_dir: e.g. plans/minhash; created if missing.
    tag: e.g. "before" or "after"; with no names, dumps the whole bench set.
Reads the fixture named by $SPARK_GRAFT_SF_DIR (catalog.DEFAULT_SF_DIR).

Plans are normalized with plans.normalized_plan (expression ids, plan ids,
scratch-dir names and RDD ids masked), so two runs of the same code give
the same .sha256 file and `diff before.sha256 after.sha256` lists the
queries whose plans changed. Dump both sides with the same names in the
same order. Three queries are unstable even so. table_profile and
q21_waiting_suppliers aggregate several DISTINCT columns, and Spark's
RewriteDistinctAggregates orders their Expand columns in hash order, which
can differ between processes. dedup_cluster_safe_split prints the executed
adaptive plan of its pinned LSH pair set: AQE numbers query stages (and the
codegen stages inside them) in the order it creates them, a stage is
created when its inputs finish, and the three cache stages over the one
pinned shingle-set table finish in a racy order, so the MapInPandas shuffle
stage and the id_b broadcast stage swap stage ids 3/4 and codegen ids 1/2.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdc_mapreduce_spark.cache import drain_pins
from sdc_mapreduce_spark.catalog import DEFAULT_SF_DIR
from sdc_mapreduce_spark.plans import formatted_plan, normalized_plan
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
    with open(os.path.join(out_dir, f"{tag}.sha256"), "w") as sums:
        for name in names:
            df = REGISTRY[name].fn(spark, DEFAULT_SF_DIR)
            plan = normalized_plan(formatted_plan(df)) + "\n"
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
            sums.write(f"{hashlib.sha256(plan.encode()).hexdigest()} {name}\n")
            drain_pins(spark)
            print(name, "ok")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
