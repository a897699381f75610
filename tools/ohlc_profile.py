#!/usr/bin/env python
"""Decompose s_ohlc_stream's sf1 wall time (r12 verdict item 6):
microbatch count vs state size vs driver-side complete-mode sink cost.

Runs build_ohlc at sf0.1 and /tmp/sf1_true in COMPLETE mode (the
registered twin's shape) and prints, per run: wall, microbatch count,
per-trigger durationMs breakdown (addBatch = the actual work,
getBatch/latestOffset = source overhead, walCommit/commitOffsets =
checkpoint overhead), stateOperators row/memory counts, and the batch
twin's wall on the same fixture — so the delta attributable to
streaming machinery (state store commit + complete-mode driver
collection) is a measured number, not a guess. Findings land in
SCALE.md ("s_ohlc_stream decomposition").

Usage: python tools/ohlc_profile.py [sf_dir ...]  (default: the two above)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def profile(spark, sf_dir: str) -> dict:
    from pot_spark import registry
    from pot_spark.streaming.runner import _event_stream, build_ohlc

    registry.load_all_query_modules()
    t0 = time.perf_counter()
    registry.QUERIES["q_ohlc_bars"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    batch_wall = time.perf_counter() - t0

    stream = _event_stream(spark, f"{sf_dir}/events.parquet")
    plan = build_ohlc(stream)
    spark.catalog.dropTempView("sink_ohlc_profile")
    t0 = time.perf_counter()
    q = (
        plan.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sink_ohlc_profile")
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
        q.awaitTermination(60)
    stream_wall = time.perf_counter() - t0
    bars = spark.table("sink_ohlc_profile").count()

    dur: dict[str, int] = {}
    state = {"numRowsTotal": 0, "memoryUsedBytes": 0, "commitTimeMs": 0}
    for p in progresses:
        for k, v in (p.get("durationMs") or {}).items():
            dur[k] = dur.get(k, 0) + v
        for op in p.get("stateOperators") or []:
            state["numRowsTotal"] = max(
                state["numRowsTotal"], op.get("numRowsTotal") or 0
            )
            state["memoryUsedBytes"] = max(
                state["memoryUsedBytes"], op.get("memoryUsedBytes") or 0
            )
            state["commitTimeMs"] += (op.get("commitTimeMs") or 0)
    return {
        "sf_dir": sf_dir,
        "batch_twin_wall_s": round(batch_wall, 2),
        "stream_wall_s": round(stream_wall, 2),
        "n_microbatches": sum(
            1 for p in progresses if (p.get("numInputRows") or 0) > 0
        ),
        "bars": bars,
        "durationMs_sum": dur,
        "state": state,
    }


def main() -> None:
    from pot_spark.session import get_spark

    spark = get_spark("ohlc_profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf1_true"]
    out = [profile(spark, d) for d in sf_dirs]
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
