#!/usr/bin/env python
"""Per-stage profile of one or more queries (guide §1/§7): runs each query
through the noop sink on the bench's session config (``get_spark`` with
the UI on) and prints the completed stages (duration, task count,
shuffle read/write, input bytes, Python boundary time) from the Spark
REST API — the evidence base for OPTIMIZATION_r13.md.

Usage: [SPARK_GRAFT_SF_DIR=...] python tools/profile_query.py q_a [q_b ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pot_spark import registry  # noqa: E402
from pot_spark.session import get_spark  # noqa: E402

UI_PORT = int(os.environ.get("SPARK_GRAFT_PROFILE_PORT", "4050"))


def _api(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    names = sys.argv[1:]
    registry.load_all_query_modules()
    spark = get_spark("profile_query", ui_port=UI_PORT)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    app_id = spark.sparkContext.applicationId
    # warm the session the way bench.py does (JVM/codegen + page cache)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pot_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        try:
            load(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass
    for name in names:
        fn = registry.QUERIES[name]
        before_stages = {s["stageId"] for s in _api(f"applications/{app_id}/stages")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        stages = [
            s
            for s in _api(f"applications/{app_id}/stages?status=COMPLETE")
            if s["stageId"] not in before_stages
        ]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        total_run = sum(s.get("executorRunTime") or 0 for s in stages)
        print(f"\n=== {name}: wall {wall:.2f}s, {len(stages)} stages, "
              f"sum executorRunTime {total_run/1000:.1f}s ===")
        print(f"{'stage':>5} {'run_s':>7} {'tasks':>5} {'in_MB':>7} "
              f"{'shR_MB':>7} {'shW_MB':>7} {'spill':>6}  name")
        for s in stages[:14]:
            nm = (s.get("name") or "")[:70]
            print(
                f"{s['stageId']:>5} {(s.get('executorRunTime') or 0)/1000:>7.2f} "
                f"{s.get('numCompleteTasks', 0):>5} "
                f"{(s.get('inputBytes') or 0)/1e6:>7.1f} "
                f"{(s.get('shuffleReadBytes') or 0)/1e6:>7.1f} "
                f"{(s.get('shuffleWriteBytes') or 0)/1e6:>7.1f} "
                f"{(s.get('diskBytesSpilled') or 0)/1e6:>6.1f}  {nm}"
            )


if __name__ == "__main__":
    main()
