"""KV-plane workloads: a closed-loop load generator against the HTTP shim.

Each run starts the shim (``python -m pot_spark ... serve``, or the traced
launcher kv_server.py) in its own process over a fresh store, loads the
pots through PotClient, drives a fixed, seeded list of operations from
CLIENTS threads, then checks every pot against a shadow model built from
the acknowledged writes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import select
import shutil
import signal
import socket
import statistics
import string
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from pot_spark.kv.client import PotClient  # noqa: E402
from pot_spark.kv.gcs_emulator import HttpObjectStoreClient  # noqa: E402

CLIENTS = 2
OP_MIX = (("get", 0.6), ("put", 0.3), ("batch", 0.1))
SETUPS = 3
LEG_S = 0.6  # nominal seconds per leg of the timed phase (see drive)
REF_PROBE_MS = 15.0  # times are scaled to a host where probe() reads this
BODY_CHARS = 150  # makes a doc ~200 bytes of JSON
BUCKET = "perfbench"
_ALPHABET = string.ascii_letters + string.digits + " "


@dataclass(frozen=True)
class KVSpec:
    bucket: bool  # bucket-rooted (--object-store) instead of local disk
    pots: int
    docs: int  # docs per pot
    batch: int  # docs per batch upsert
    zipf_s: float  # pot popularity exponent; 0 = uniform
    ops_per_s: float  # nominal rate: ops per run = seconds * ops_per_s


WORKLOADS = {
    "kv_local_large": KVSpec(
        bucket=False, pots=8, docs=5000, batch=64, zipf_s=1.1, ops_per_s=15.6
    ),
    # 64-doc batches cannot be made of a 32-doc pot's existing keys
    "kv_bucket_small": KVSpec(
        bucket=True, pots=64, docs=32, batch=16, zipf_s=0.0, ops_per_s=60.0
    ),
}


# -- host speed --------------------------------------------------------------


def _md5_ms() -> float:
    t0 = time.perf_counter()
    block = b"x" * 1024
    for _ in range(5000):
        block = hashlib.md5(block).digest() + block[:1008]
    return (time.perf_counter() - t0) * 1000


_PROBE_DOCS = {
    f"k{i:05d}": {"id": f"k{i:05d}", "v": "0", "body": "abc def " * 19} for i in range(300)
}


def _json_ms() -> float:
    t0 = time.perf_counter()
    for _ in range(20):
        json.loads(json.dumps(_PROBE_DOCS, sort_keys=True))
    return (time.perf_counter() - t0) * 1000


def _echo(sock: socket.socket) -> None:
    while data := sock.recv(4096):
        sock.sendall(data)


def _socket_ms() -> float:
    a, b = socket.socketpair()
    echo = threading.Thread(target=_echo, args=(b,))
    echo.start()
    t0 = time.perf_counter()
    for _ in range(1500):
        a.sendall(b"x" * 512)
        got = 0
        while got < 512:
            got += len(a.recv(4096))
    ms = (time.perf_counter() - t0) * 1000
    a.close()
    echo.join()
    b.close()
    return ms


def probe() -> float:
    """Host speed now, in ms: the mean of three fixed probes of the kinds
    of work the KV processes do, each the median of 3 runs of ~15 ms:
    hashing (an md5 chain), the interpreter (a JSON round trip of a
    300-doc map) and the kernel (socket round trips between two threads).
    It runs with no op in flight, on the CPU the KV processes share."""
    return statistics.fmean(
        statistics.median(f() for _ in range(3)) for f in (_md5_ms, _json_ms, _socket_ms)
    )


# -- inputs ------------------------------------------------------------------


def _doc(rng: random.Random, key: str, version: str) -> dict:
    return {"id": key, "v": version, "body": "".join(rng.choices(_ALPHABET, k=BODY_CHARS))}


def make_inputs(spec: KVSpec, seed: int, n_ops: int):
    """Initial pots and one op list per client, all from ``seed``."""
    rng = random.Random(seed)
    keys = [f"k{i:05d}" for i in range(spec.docs)]
    pots = {
        f"bench/p{p:02d}": {k: _doc(rng, k, "0") for k in keys}
        for p in range(spec.pots)
    }
    names = list(pots)
    weights = [1.0 / (i + 1) ** spec.zipf_s for i in range(spec.pots)]
    per_client = []
    for c in range(CLIENTS):
        crng = random.Random(f"{seed}/{c}")
        # the exact mix in a seeded order: every run does the same work
        n = n_ops // CLIENTS
        kinds = [k for k, share in OP_MIX for _ in range(round(share * n))]
        crng.shuffle(kinds)
        ops = []
        for i, kind in enumerate(kinds):
            pot = crng.choices(names, weights)[0]
            if kind == "get":
                ops.append((kind, pot, None))
                continue
            n = 1 if kind == "put" else spec.batch
            docs = {k: _doc(crng, k, f"{c}.{i}") for k in crng.sample(keys, n)}
            ops.append((kind, pot, docs))
        per_client.append(ops)
    return pots, per_client


# -- processes ---------------------------------------------------------------


class Proc:
    """A child process with a line protocol on stdout; stderr goes to a log."""

    def __init__(self, argv: list[str], log_path: str, env: dict) -> None:
        self.log_path = log_path
        self._log = open(log_path, "w")
        self.p = subprocess.Popen(
            argv,
            cwd=ROOT,
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
        )

    def readline(self, timeout: float) -> str:
        ready, _, _ = select.select([self.p.stdout], [], [], timeout)
        line = self.p.stdout.readline() if ready else ""
        if not line:
            self.stop()
            with open(self.log_path) as f:
                tail = f.read()[-2000:]
            raise RuntimeError(f"{self.p.args[1]}: no output line; log tail:\n{tail}")
        return line.strip()

    def send(self, line: str) -> None:
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def stop(self, interrupt: bool = False) -> int:
        """Ask the child to exit (SIGINT for the CLI, ``stop`` otherwise)
        and return its exit status; a child that hangs is killed (-9)."""
        if self.p.poll() is None:
            try:
                if interrupt:
                    self.p.send_signal(signal.SIGINT)
                else:
                    self.send("stop")
            except (BrokenPipeError, OSError):
                pass
            try:
                self.p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        for f in (self.p.stdin, self.p.stdout, self._log):
            try:
                f.close()
            except OSError:
                pass
        return self.p.returncode


class Cluster:
    """The shim (and the emulator, bucket-rooted) over one fresh store."""

    def __init__(self, spec: KVSpec, work: str, tag: str, spans_out: str | None):
        self.spans_out = spans_out
        self.root = os.path.join(work, f"store-{tag}")
        env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=work)
        py = sys.executable
        self.emulator = None
        self.shim = None
        try:
            store_args = ["--root", self.root]
            if spec.bucket:
                self.emulator = Proc(
                    [py, os.path.join(HERE, "gcs_server.py")],
                    os.path.join(work, f"gcs-{tag}.log"),
                    env,
                )
                endpoint = self.emulator.readline(60).split()[1]
                HttpObjectStoreClient(BUCKET, endpoint).create_bucket()
                store_args = [
                    "--root", "pots", "--object-store", endpoint, "--bucket", BUCKET,
                ]
            if spans_out:
                argv = [py, os.path.join(HERE, "kv_server.py"), *store_args,
                        "--spans-out", spans_out]
            else:
                argv = [py, "-m", "pot_spark", *store_args, "serve", "--port", "0"]
            self.shim = Proc(argv, os.path.join(work, f"shim-{tag}.log"), env)
            self.url = self.shim.readline(60).split()[-1]
        except BaseException:
            self.close()
            raise

    def stored_bytes(self) -> int:
        if self.emulator is not None:
            self.emulator.send("stats")
            return json.loads(self.emulator.readline(30))["bytes"]
        total = 0
        for d, _, files in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def close(self) -> dict:
        """Stop both processes; their exit statuses go into the run record."""
        status = {}
        if self.shim is not None:
            status["shim"] = self.shim.stop(interrupt=not self.spans_out)
        if self.emulator is not None:
            status["emulator"] = self.emulator.stop()
        shutil.rmtree(self.root, ignore_errors=True)
        return status


def load(url: str, pots: dict) -> None:
    client = PotClient(url)
    for path, docs in pots.items():
        gen = client.create(path, docs)
        if gen != 1:
            raise RuntimeError(f"setup: {path} loaded at generation {gen}")


# -- timed phase ---------------------------------------------------------------


class Op(NamedTuple):
    """One op as the load generator saw it."""

    kind: str  # get / put / batch
    pot: str
    t0: float
    t1: float
    gen: int | None  # generation a write was acknowledged at
    err: str | None  # why the op failed, None when it succeeded
    docs: dict | None
    leg: int
    client: int
    seq: int  # index in the client's op list

    @property
    def ok(self) -> bool:
        return self.err is None


def drive(urls: list[str], per_client: list, key_set: frozenset, segments: int):
    """Run every client's op list in a closed loop, in ``segments`` parts.

    Each segment runs on every cluster in ``urls`` in turn (one *leg* per
    segment and cluster): each client sends its share of the segment's
    ops to that cluster, and the leg ends when all clients are done. A
    host-speed probe runs before each leg and after the last, while no op
    is in flight. Host speed drifts on a scale of seconds, so short legs
    let each op's time be scaled by the speed around it. Returns, per
    cluster, its ``Op`` rows; the legs as (start, end); and the probes in
    ms, one more than the legs."""
    chunks = [
        [ops[len(ops) * i // segments : len(ops) * (i + 1) // segments] for i in range(segments)]
        for ops in per_client
    ]
    legs = [(seg, u) for seg in range(segments) for u in range(len(urls))]
    rows: list[list[Op]] = [[] for _ in urls]
    lock = threading.Lock()
    barrier = threading.Barrier(len(per_client) + 1)

    def worker(c: int) -> None:
        clients = [PotClient(url) for url in urls]
        for leg, (seg, u) in enumerate(legs):
            client, out = clients[u], []
            barrier.wait()
            base = len(per_client[c]) * seg // segments
            for i, (kind, pot, docs) in enumerate(chunks[c][seg]):
                gen = err = None
                t0 = time.perf_counter()
                try:
                    if kind == "get":
                        content = client.get(pot)
                    else:
                        gen = client.create(pot, docs)
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    err = f"{type(e).__name__}: {e}"
                t1 = time.perf_counter()
                if kind == "get" and err is None and content.keys() != key_set:
                    err = f"get returned {len(content)} keys"
                out.append(Op(kind, pot, t0, t1, gen, err, docs, leg, c, base + i))
            with lock:
                rows[u].extend(out)
            barrier.wait()

    threads = [threading.Thread(target=worker, args=(c,)) for c in range(len(per_client))]
    for t in threads:
        t.start()
    spans, probes = [], []
    try:
        for _ in legs:
            probes.append(probe())
            barrier.wait()
            t0 = time.perf_counter()
            barrier.wait()
            spans.append((t0, time.perf_counter()))
        probes.append(probe())
    finally:
        barrier.abort()  # a failed probe must not leave the workers waiting
        for t in threads:
            t.join()
    return rows, spans, probes


def speed_factors(probes: list[float]) -> list[float]:
    """Per leg, REF_PROBE_MS over the mean of the probes that bracket it:
    the factor that turns a time measured in that leg into the time at
    the reference host speed."""
    return [2 * REF_PROBE_MS / (a + b) for a, b in zip(probes, probes[1:])]


def check_final(url: str, pots: dict, rows: list) -> list[str]:
    """Every pot must equal its shadow: the initial docs with every
    acknowledged write applied in commit (generation) order, and each
    pot's generations must run 2, 3, ... without a gap or a repeat.
    Returns one problem string per wrong pot."""
    writes: dict[str, list] = {p: [] for p in pots}
    for r in rows:
        if r.kind != "get" and r.ok:
            writes[r.pot].append((r.gen, r.docs))
    client = PotClient(url)
    problems = []
    for pot, initial in pots.items():
        ws = sorted(writes[pot], key=lambda w: w[0])
        gens = [g for g, _ in ws]
        if gens != list(range(2, 2 + len(ws))):
            problems.append(f"{pot}: acknowledged generations {gens[:5]}... not 2..{len(ws) + 1}")
        shadow = dict(initial)
        for _g, docs in ws:
            shadow.update(docs)
        got = client.get(pot)
        if got != shadow:
            bad = sum(1 for k in shadow.keys() | got.keys() if got.get(k) != shadow.get(k))
            problems.append(f"{pot}: {bad} keys differ from the acknowledged writes")
    return problems


def live_bytes(pots: dict, rows: list) -> int:
    """Bytes of the live content as the store encodes it (key + JSON doc)."""
    final = {p: dict(d) for p, d in pots.items()}
    for r in sorted((r for r in rows if r.kind != "get" and r.ok), key=lambda r: r.gen):
        final[r.pot].update(r.docs)
    return sum(
        len(k) + len(json.dumps(doc, sort_keys=True))
        for content in final.values()
        for k, doc in content.items()
    )


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile, ``pct`` in whole percent."""
    s = sorted(values)
    return s[max(0, -(-pct * len(s) // 100) - 1)]


def latencies_ms(rows: list, factors: list[float]) -> dict[str, list[float]]:
    """Client latency of each successful op, per op type, scaled by the
    speed factor of the leg it ran in."""
    return {
        k: [(r.t1 - r.t0) * 1000 * factors[r.leg] for r in rows if r.kind == k and r.ok]
        for k, _ in OP_MIX
    }


def latency_metrics(rows: list, legs: list, factors: list[float]) -> dict:
    """Client latencies and throughput of one cluster's rows at the
    reference host speed."""
    lat = latencies_ms(rows, factors)
    busy = sum((legs[i][1] - legs[i][0]) * factors[i] for i in {r.leg for r in rows})
    return {
        "kv_get_p50_ms": (statistics.median(lat["get"]), "ms"),
        "kv_get_p95_ms": (percentile(lat["get"], 95), "ms"),
        "kv_put_p50_ms": (statistics.median(lat["put"]), "ms"),
        "kv_put_p95_ms": (percentile(lat["put"], 95), "ms"),
        "kv_batch_p50_ms": (statistics.median(lat["batch"]), "ms"),
        "kv_ops_per_s": (len(rows) / busy, "1/s"),
    }


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    """One run; returns the result dict (metrics + record fields).

    Untraced: SETUPS set-ups are timed and the last one serves the timed
    phase. Traced: one untraced and one traced cluster are set up, and
    the timed phase alternates between them leg by leg, so the gap
    between their latencies is the tracing overhead in one host phase."""
    spec = WORKLOADS[workload]
    segments = max(4, round(seconds / LEG_S))
    n_ops = max(CLIENTS * segments * 2, int(seconds * spec.ops_per_s))
    pots, per_client = make_inputs(spec, seed, n_ops)
    key_set = frozenset(next(iter(pots.values())))
    if trace:
        tags = [("untraced", None), ("traced", os.path.join(work, "spans.json"))]
    else:
        tags = [(str(i), None) for i in range(SETUPS)]
    setup_s, setup_probes, exits, clusters = [], [], [], []
    try:
        for i, (tag, spans_out) in enumerate(tags):
            before = probe()
            t0 = time.perf_counter()
            clusters.append(Cluster(spec, work, tag, spans_out))
            load(clusters[-1].url, pots)
            setup_s.append(time.perf_counter() - t0)
            setup_probes.append((before, probe()))
            if not trace and i < SETUPS - 1:
                exits.append(clusters.pop().close())
        rows, legs, probes = drive([c.url for c in clusters], per_client, key_set, segments)
        problems = [p for c, r in zip(clusters, rows) for p in check_final(c.url, pots, r)]
        stored = clusters[0].stored_bytes()
    finally:
        for c in clusters:
            exits.append(c.close())
    factors = speed_factors(probes)
    setup_norm = [s * 2 * REF_PROBE_MS / (a + b) for s, (a, b) in zip(setup_s, setup_probes)]
    all_rows = [r for rs in rows for r in rs]
    errors = [r.err for r in all_rows if not r.ok]
    metrics = {
        "setup_s": (statistics.median(setup_norm), "s"),
        **latency_metrics(rows[0], legs, factors),
        "kv_bytes_per_live_byte": (stored / live_bytes(pots, rows[0]), "ratio"),
    }
    raw = latency_metrics(rows[0], legs, [1.0] * len(legs))
    out = {
        "attempted": len(all_rows),
        "failed": len(errors) + len(problems),
        "metrics": metrics,
        "record": {
            "spec": spec.__dict__,
            "clients": CLIENTS,
            "op_mix": dict(OP_MIX),
            "ops": n_ops,
            "segments": segments,
            "ref_probe_ms": REF_PROBE_MS,
            "rig.calib_ms": statistics.median(probes),
            "probes_ms": probes,
            "setup_probes_ms": setup_probes,
            "setup_s_raw": setup_s,
            "setup_s_norm": setup_norm,
            "leg_s": [b - a for a, b in legs],
            "latency_ms": latencies_ms(rows[0], factors),
            "metrics_raw": {
                "setup_s": statistics.median(setup_s),
                **{k: v[0] for k, v in raw.items()},
            },
            "server_exit": exits,
            "errors": errors[:20],
            "problems": problems[:20],
            "stored_bytes": stored,
        },
    }
    if trace:
        from kv_trace import layer_metrics

        with open(os.path.join(work, "spans.json")) as f:
            dump = json.load(f)
        per_layer, accounting = layer_metrics(dump, rows[1], legs[0][0], legs[-1][1])
        # the tracing overhead: each op ran on both clusters, in adjacent
        # legs; the mean of traced minus untraced latency over those pairs,
        # both at the reference host speed
        untraced = {(r.client, r.seq): r for r in rows[0]}
        for k in ("get", "put"):
            gaps = [
                ((r.t1 - r.t0) * factors[r.leg] - (u.t1 - u.t0) * factors[u.leg]) * 1000
                for r in rows[1]
                if r.kind == k and r.ok and (u := untraced[r.client, r.seq]).ok
            ]
            per_layer[f"trace.overhead_ms.{k}"] = (statistics.fmean(gaps), "ms")
            accounting[k]["measured_overhead_ms"] = statistics.fmean(gaps)
        per_layer["rig.calib_ms"] = (statistics.median(probes), "ms")
        out["metrics"] = per_layer
        out["record"]["e2e_untraced"] = {k: v[0] for k, v in metrics.items()}
        out["record"]["e2e_traced"] = {
            k: v[0] for k, v in latency_metrics(rows[1], legs, factors).items()
        }
        out["record"]["accounting"] = accounting
    return out
