"""Per-layer metrics of a traced KV run, from the shim's spans and the
load generator's client-side op timings.

A request's layers nest as client -> kv.http_server -> kv.store ->
{kv.storefs, kv.backend} -> kv.gcs_emulator; each layer's self time is
its span minus its child spans (spans.self_times). Client self time is
the client-measured latency minus the shim's handler span, as means per
op type. So per op type the layer self times add up to the traced
client mean by construction; what tracing adds to that mean is measured
apart, against an untraced shim (kv.run).
"""

from __future__ import annotations

import statistics

from kv import percentile
from spans import self_times

LAYERS = ("kv.http_server", "kv.store", "kv.storefs", "kv.backend", "kv.gcs_emulator")
KINDS = ("get", "put", "batch")


def _layer(name: str) -> str:
    return name.rsplit(".", 1)[0]


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(dump: dict, rows: list, t_start: float, t_end: float):
    spans = dump["spans"]
    by_id = {s[0]: s for s in spans}
    selfs = self_times(spans)

    # root = the handler span of one timed request
    def root_of(sid: int) -> int:
        while by_id[sid][1]:
            sid = by_id[sid][1]
        return sid

    roots = {
        s[0]: s[5].get("op")
        for s in spans
        if not s[1] and s[2].startswith("kv.http_server.") and t_start <= s[3] <= t_end
    }
    tree: dict[int, list] = {r: [] for r in roots}
    for s in spans:
        if s[1]:
            r = root_of(s[0])
            if r in tree:
                tree[r].append(s)
    n = {k: sum(1 for op in roots.values() if op == k) for k in KINDS}

    def per_op(kind: str, pick) -> float:
        """Sum of pick(span) over the requests of one kind, per request."""
        if not n[kind]:
            return 0.0
        total = sum(pick(s) for r, op in roots.items() if op == kind for s in tree[r])
        return total / n[kind]

    def dur_ms(s) -> float:
        return (s[4] - s[3]) * 1000

    def real(s) -> bool:
        return not s[5].get("point")

    handler_ms = {
        k: _mean(dur_ms(by_id[r]) for r, op in roots.items() if op == k) for k in KINDS
    }
    client_ms = {
        k: _mean((r.t1 - r.t0) * 1000 for r in rows if r.kind == k and r.ok)
        for k in KINDS
    }
    self_ms: dict[str, dict[str, float]] = {}
    for k in KINDS:
        layer = {"kv.client": client_ms[k] - handler_ms[k]}
        layer["kv.http_server"] = _mean(
            selfs[r] * 1000 for r, op in roots.items() if op == k
        )
        for name in LAYERS[1:]:

            def self_in(s, name=name) -> float:
                return selfs[s[0]] * 1000 if real(s) and _layer(s[2]) == name else 0.0

            layer[name] = per_op(k, self_in)
        self_ms[k] = layer

    timed = [s for r in tree for s in tree[r]]

    def named(name: str) -> list:
        return [s for s in timed if s[2] == name]

    phase = {
        p: [dur_ms(s) for s in named(f"kv.store.phase.{p}")]
        for p in ("read", "write", "commit", "local_lock")
    }
    emulator = [s for s in timed if _layer(s[2]) == "kv.gcs_emulator"]
    pia = named("kv.backend.put_if_absent")
    user_bytes = sum(by_id[r][5].get("bytes_in", 0) for r in roots)
    written = sum(s[5].get("bytes", 0) for s in timed)
    spans_per_op = {k: per_op(k, lambda s: 1.0 if real(s) else 0.0) + 1 for k in KINDS}

    m = {}
    for k in KINDS:
        m[f"kv.client.self_ms.{k}"] = (self_ms[k]["kv.client"], "ms")
        m[f"kv.http_server.self_ms.{k}"] = (self_ms[k]["kv.http_server"], "ms")
    m["kv.store.get_ms"] = (_mean(dur_ms(s) for s in named("kv.store.get")), "ms")
    m["kv.store.read_ms"] = (_mean(phase["read"]), "ms")
    m["kv.store.write_ms"] = (_mean(phase["write"]), "ms")
    m["kv.store.commit_ms"] = (_mean(phase["commit"]), "ms")
    m["kv.store.lock_wait_ms.mean"] = (_mean(phase["local_lock"]), "ms")
    lock = phase["local_lock"]
    m["kv.store.lock_wait_ms.p95"] = (percentile(lock, 95) if lock else 0.0, "ms")

    def count(pred):
        return lambda s: 1.0 if pred(s[2]) else 0.0

    for k in ("get", "put"):
        m[f"kv.storefs.calls_per_op.{k}"] = (
            per_op(k, count(lambda n: _layer(n) == "kv.storefs")),
            "count",
        )
    for what in ("read", "write"):
        m[f"kv.storefs.parquet_{what}_ms"] = (
            _mean(dur_ms(s) for s in named(f"kv.storefs.{what}_parquet")),
            "ms",
        )
    m["kv.backend.put_if_absent_ms"] = (_mean(dur_ms(s) for s in pia), "ms")
    lost = sum(1 for s in pia if s[5].get("result") is False)
    m["kv.backend.commits_lost"] = (lost, "count")
    for k in ("get", "put"):
        m[f"kv.gcs_emulator.requests_per_op.{k}"] = (
            per_op(k, count(lambda n: _layer(n) == "kv.gcs_emulator")),
            "count",
        )
        m[f"kv.gcs_emulator.lists_per_op.{k}"] = (
            per_op(k, count(lambda n: n == "kv.gcs_emulator.list")),
            "count",
        )
    m["kv.gcs_emulator.round_trip_ms"] = (_mean(dur_ms(s) for s in emulator), "ms")
    m["kv.storage.bytes_written_per_user_byte"] = (
        written / user_bytes if user_bytes else 0.0,
        "ratio",
    )
    cost_ms = dump["span_cost_s"] * 1000
    accounting = {
        k: {
            "ops": n[k],
            "client_mean_ms": client_ms[k],
            "self_ms": self_ms[k],
            "self_sum_ms": sum(self_ms[k].values()),
            "spans_per_op": spans_per_op[k],
            # spans per op x the cost of one traced call, for comparison
            # with the measured traced-minus-untraced gap
            "estimated_overhead_ms": spans_per_op[k] * cost_ms,
        }
        for k in KINDS
    }
    return m, accounting
