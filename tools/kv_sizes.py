#!/usr/bin/env python
"""Store-level KV latency by pot size: p50 of a single-doc ``create``, a
whole-pot ``get``, the HTTP shim's whole-pot read ``get_json`` (warm and
cold) and a 64-doc ``create_batch`` at 10, 1k, 5k and 20k docs, on
``LocalStoreFS`` with no SparkSession, plus the largest/smallest ratio
of the ``create`` p50. The target for that ratio at 20k/10 docs is at most ~10x: a write
should cost little more than its parquet I/O.

Usage:
    python tools/kv_sizes.py                  # 10, 1000, 5000, 20000 docs
    python tools/kv_sizes.py --reps 30 --sizes 10,20000

Each size gets a fresh store in a temp dir, loaded with one batch of
~200-byte docs. Every rep upserts existing keys, so the pot size stays
put. The store's head cache serves the warm ``get``/``get_json`` reps
and the upserts' base; the cold ``get_json`` reps each read through a
new store over the same root, so they miss the cache and time the
parquet read, the per-doc parse and the body join. The process pins itself to one CPU where the OS allows it, so the
numbers are one core's work, comparable with the repo benchmark's.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = 64


def _doc(key: str, rng: random.Random) -> dict:
    return {
        "id": key,
        "owner": f"user-{rng.randrange(10_000)}",
        "score": rng.random(),
        "tags": [f"t{rng.randrange(50)}" for _ in range(4)],
        "note": "".join(rng.choice("abcdefghij") for _ in range(60)),
    }


def _p50_ms(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


def one_size(n_docs: int, reps: int) -> dict[str, float]:
    from pot_spark.kv.store import PotStore

    rng = random.Random(n_docs)
    keys = [f"k{i:06d}" for i in range(n_docs)]
    root = tempfile.mkdtemp(prefix=f"kv_sizes_{n_docs}_")
    try:
        store = PotStore(None, root)
        store.create_batch("p", {k: _doc(k, rng) for k in keys})

        def create() -> None:
            store.create("p", _doc(rng.choice(keys), rng))

        def batch() -> None:
            picked = rng.sample(keys, min(BATCH, n_docs))
            store.create_batch("p", {k: _doc(k, rng) for k in picked})

        # popped, so each store and its cached head are freed after its rep
        cold = [PotStore(None, root) for _ in range(reps)]
        return {
            "create": _p50_ms(create, reps),
            "get": _p50_ms(lambda: store.get("p"), reps),
            "get_json": _p50_ms(lambda: store.get_json("p"), reps),
            "cold_get_json": _p50_ms(lambda: cold.pop().get_json("p"), reps),
            "batch": _p50_ms(batch, reps),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", default="10,1000,5000,20000")
    ap.add_argument("--reps", type=int, default=15)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    try:
        os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})
    except (AttributeError, OSError):
        pass

    print(
        f"| docs | create p50 ms | get p50 ms | get_json p50 ms"
        f" | cold get_json p50 ms | {BATCH}-doc batch p50 ms |"
    )
    print("|---:|---:|---:|---:|---:|---:|")
    results = {}
    for n in sizes:
        results[n] = r = one_size(n, args.reps)
        print(
            f"| {n} | {r['create']:.1f} | {r['get']:.1f} | {r['get_json']:.1f}"
            f" | {r['cold_get_json']:.1f} | {r['batch']:.1f} |"
        )
    lo, hi = min(sizes), max(sizes)
    if lo != hi:
        ratio = results[hi]["create"] / results[lo]["create"]
        print(f"create p50 {hi}/{lo} docs: {ratio:.1f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
