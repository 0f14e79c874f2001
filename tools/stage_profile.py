"""Per-stage attribution for one registered query (guide §1/§7.1 without a
browser): run the query to the noop sink, then pull every stage's task-time,
I/O and shuffle bytes from the Spark UI REST API and print them sorted by
task time. Reads $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage: python tools/stage_profile.py <query> [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdc_mapreduce_spark.cache import drain_pins
from sdc_mapreduce_spark.catalog import DEFAULT_SF_DIR
from sdc_mapreduce_spark.queries import REGISTRY
from sdc_mapreduce_spark.session import get_spark


def main() -> int:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    fn = REGISTRY[name].fn
    # warm-up (bench.py protocol)
    fn(spark, DEFAULT_SF_DIR).write.format("noop").mode("overwrite").save()
    drain_pins(spark)
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    seen = {s["stageId"] for s in stages()}
    t0 = time.time()
    for _ in range(runs):
        fn(spark, DEFAULT_SF_DIR).write.format("noop").mode("overwrite").save()
        drain_pins(spark)
    wall = time.time() - t0
    rows = []
    for s in stages():
        if s["stageId"] in seen:
            continue
        rows.append(
            (
                s["executorRunTime"] / 1e3,
                s["stageId"],
                s["numCompleteTasks"],
                s.get("inputBytes", 0) / 1e6,
                s.get("shuffleReadBytes", 0) / 1e6,
                s.get("shuffleWriteBytes", 0) / 1e6,
                s.get("executorDeserializeTime", 0) / 1e3,
                (s.get("name") or "")[:60],
                (s.get("details") or "").split("\n")[0][:0],
            )
        )
    rows.sort(reverse=True)
    print(f"\n{name}: {runs} run(s), wall {wall:.2f}s  (task-time = core-seconds)")
    print(f"{'task-s':>8} {'stage':>6} {'tasks':>6} {'in MB':>8} {'shR MB':>8} {'shW MB':>8} {'deser-s':>8}  name")
    for r in rows:
        print(
            f"{r[0]:8.2f} {r[1]:6d} {r[2]:6d} {r[3]:8.1f} {r[4]:8.1f} {r[5]:8.1f} {r[6]:8.2f}  {r[7]}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
