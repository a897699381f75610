#!/usr/bin/env python
"""Per-microbatch profile of a streaming query (guide §1): executes the
plan run_streaming_query runs (runner.streaming_plan: same source,
builder, output mode, shuffle partitions and checkpoint placement; STREAM_P
overrides the partition count), but keeps the handle and dumps each
microbatch's durationMs breakdown (addBatch / getBatch / commitOffsets /
stateOperators) — where the wall time of the s_*_stream rotation rows goes.

Usage: python tools/profile_stream.py <runner_name> [sf_dir]
e.g. python tools/profile_stream.py s_outer_join /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pot_spark.session import get_spark  # noqa: E402
from pot_spark.streaming import runner as R  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("profile_stream")
    plan, mode, parts = R.streaming_plan(spark, name, sf_dir)
    parts = os.environ.get("STREAM_P") or parts
    if parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    ckpt_dir = R.checkpoint_dir()
    try:
        t0 = time.perf_counter()
        q = (
            plan.writeStream.outputMode(mode)
            .format("memory")
            .queryName(f"profile_{name}")
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            wall = time.perf_counter() - t0
            progress = list(q.recentProgress)
            plan_out = os.environ.get("STREAM_PLAN_OUT")
            if plan_out:
                with open(plan_out, "w") as f:
                    f.write(q._jsq.explainInternal(False))
            q.stop()
            q.awaitTermination(60)
    finally:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    print(f"\n=== {name}: wall {wall:.2f}s, {len(progress)} progress entries ===")
    for p in progress:
        d = p.get("durationMs", {})
        ops = p.get("stateOperators", [])
        srows = sum(o.get("numRowsTotal", 0) for o in ops)
        supd = sum(o.get("numRowsUpdated", 0) for o in ops)
        scommit = sum(o.get("commitTimeMs", 0) for o in ops)
        print(
            f"batch {p.get('batchId')}: in={p.get('numInputRows')} "
            f"trigger={d.get('triggerExecution')}ms "
            f"(addBatch={d.get('addBatch')}, getBatch={d.get('getBatch')}, "
            f"latestOffset={d.get('latestOffset')}, "
            f"queryPlanning={d.get('queryPlanning')}, "
            f"walCommit={d.get('walCommit')}, "
            f"commitOffsets={d.get('commitOffsets')}) "
            f"state[rows={srows} upd={supd} commitMs={scommit}]"
        )
    if progress:
        print("\nfull last progress:")
        print(json.dumps(progress[-1], indent=1, default=str)[:4000])


if __name__ == "__main__":
    main()
