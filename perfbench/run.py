"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the checkout root, writes a run record under
perfbench/_work/records/, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run is traced and the metrics are the per-layer ones. An output-check
failure prints the problems to stderr, reports correct=false and exits 1.
Workloads, metrics and what each layer metric should move: README.md.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_local_large", "kv_bucket_small")


def pin_one_cpu() -> int | None:
    """Pin this process, and so every child it starts, to one CPU.

    On a shared VM, waking a thread on another CPU can cost 3x more for
    minutes at a time (measured: a loopback HTTP round trip took ~1 ms on
    any single CPU but ~3.5 ms across CPUs during such a phase), which
    swung the KV latencies 1.5-2x between runs. On one CPU every wakeup is
    local, so the KV workloads measure a one-core server: the CPU work per
    op of the load generator, shim and emulator together."""
    try:
        cpu = max(os.sched_getaffinity(0))
        os.sched_setaffinity(0, {cpu})
        return cpu
    except (AttributeError, OSError):
        return None


def program_identity() -> dict:
    """git HEAD when the checkout is a repository, and always a digest of
    the program's sources (the checkout a benchmark runs in may not be)."""
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            head = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "pot_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                digest.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {"git_head": head, "source_sha256": digest.hexdigest()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a shell that starts this in the background ignores SIGINT, and the
    # children would inherit that and never stop on the shim's Ctrl-C;
    # a handled signal is reset to the default in every child instead
    signal.signal(signal.SIGINT, signal.default_int_handler)
    cpu = pin_one_cpu()

    if not os.path.isdir(os.path.join(ROOT, "pot_spark")):
        print(f"perfbench: no pot_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import kv

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    started = datetime.datetime.now(datetime.timezone.utc).isoformat()
    res = kv.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "started_at": started,
        "nproc": os.cpu_count(),
        "pinned_cpu": cpu,
        "python": sys.version.split()[0],
        **program_identity(),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: v[0] for k, v in res["metrics"].items()},
        **res["record"],
    }
    records = os.path.join(HERE, "_work", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{started[:19].replace(':', '')}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    correct = res["failed"] == 0
    # every process exits 0 when stopped; anything else (such as the
    # bucket-rooted CLI's abort at exit) is reported, never retried away
    bad_exit = [s for s in record["server_exit"] if any(v != 0 for v in s.values())]
    if bad_exit:
        print(f"perfbench: server exit status not 0: {bad_exit} (record {name})", file=sys.stderr)
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print(
            f"perfbench: {res['failed']} failed or wrong ops: "
            f"{record['errors'][:5]} {record['problems'][:5]} (logs in {work})",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
