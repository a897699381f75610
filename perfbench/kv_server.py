"""Traced launcher for the KV HTTP shim: builds PotStore the way
``python -m pot_spark serve`` does, wraps the calls into each layer with
spans, and serves with ``pot_spark.kv.http_server.serve``.

Layers and their span names:
  kv.http_server.*  _PotHandler.do_GET / do_POST (root span per request)
  kv.store.*        public PotStore methods
  kv.store.phase.*  StoreMetrics span listener (lock / read / write / commit)
  kv.storefs.*      I/O methods of the StoreFS instance
  kv.backend.*      put_if_absent of the commit backend
  kv.gcs_emulator.* HttpObjectStoreClient calls (one HTTP request each)

Usage: kv_server.py --root DIR [--object-store URL --bucket B] --spans-out F
Prints ``ready <url>``; on ``stop`` (or end of stdin) it shuts the server
down, writes the spans to F as JSON and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from pot_spark.kv import http_server  # noqa: E402
from pot_spark.kv.store import PotStore  # noqa: E402
from spans import Tracer, span_cost_s  # noqa: E402

STOREFS_IO = (
    "exists",
    "isdir",
    "listdir",
    "makedirs",
    "read_bytes",
    "write_bytes",
    "read_parquet",
    "write_parquet",
    "rm_file",
    "rmtree",
    "walk",
    "mtime",
)
EMULATOR_CALLS = ("upload", "download", "list", "delete", "mtime")


def build_store(args) -> tuple[PotStore, object]:
    """The same construction as pot_spark.__main__ for ``serve``."""
    if args.object_store is None:
        return PotStore(None, args.root), None
    from pot_spark.kv.backend import ConditionalPutBackend
    from pot_spark.kv.gcs_emulator import HttpObjectStoreClient
    from pot_spark.kv.storefs import ObjectStoreFS

    client = HttpObjectStoreClient(args.bucket, args.object_store)
    store = PotStore(
        None, args.root, backend=ConditionalPutBackend(client), fs=ObjectStoreFS(client)
    )
    return store, client


def instrument(store: PotStore, client, tracer: Tracer) -> None:
    handler = http_server._PotHandler
    for method in ("do_GET", "do_POST"):
        orig = getattr(handler, method)

        def traced(h, _orig=orig, _name=f"kv.http_server.{method}"):
            def run():
                attrs = tracer.current()[1]
                attrs["op"] = "get" if _name.endswith("GET") else "post"
                attrs["bytes_in"] = int(h.headers.get("Content-Length") or 0)
                return _orig(h)

            return tracer.call(_name, run)

        setattr(handler, method, traced)

    for method in ("get", "create", "remove", "list_paths"):
        tracer.wrap_method(store, method, f"kv.store.{method}")
    orig_batch = store.create_batch

    def create_batch(path, docs, **kw):
        root = tracer.root()
        if root is not None:
            root[1]["op"] = "put" if len(docs) == 1 else "batch"
        return tracer.call("kv.store.create_batch", orig_batch, path, docs, **kw)

    store.create_batch = create_batch
    store.metrics.add_span_listener(
        lambda name, seconds: tracer.point(f"kv.store.phase.{name}", seconds)
    )

    fs = store._fs
    local = client is None
    for method in STOREFS_IO:
        nbytes = None
        if local and method == "write_parquet":
            nbytes = lambda table, p: os.path.getsize(p)  # noqa: E731
        elif local and method == "write_bytes":
            nbytes = lambda p, data: len(data)  # noqa: E731
        tracer.wrap_method(fs, method, f"kv.storefs.{method}", nbytes)
    tracer.wrap_method(
        store.backend,
        "put_if_absent",
        "kv.backend.put_if_absent",
        (lambda target, payload: len(payload)) if local else None,
    )
    if client is not None:
        for method in EMULATOR_CALLS:
            nbytes = (
                (lambda key, payload, **kw: len(payload)) if method == "upload" else None
            )
            tracer.wrap_method(client, method, f"kv.gcs_emulator.{method}", nbytes)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--object-store", default=None)
    ap.add_argument("--bucket", default=None)
    ap.add_argument("--spans-out", required=True)
    args = ap.parse_args()

    store, client = build_store(args)
    tracer = Tracer()
    instrument(store, client, tracer)
    srv = http_server.serve(store, port=0)
    host, port = srv.server_address[:2]
    print(f"ready http://{host}:{port}", flush=True)
    try:
        for line in sys.stdin:
            if line.strip() == "stop":
                break
    finally:
        srv.shutdown()
        srv.server_close()
        with open(args.spans_out, "w") as f:
            json.dump({"spans": tracer.as_json(), "span_cost_s": span_cost_s()}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
