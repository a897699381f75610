"""CLI for the KV layer — the engine's counterpart of the reference's
`pot` binary (cmd/pot/main.go:15-100). Instead of an HTTP server bound
to a GCS bucket, the engine exposes the same operations directly against
a data root on any filesystem path; server-mode flags (-zip inline
archiving, -distributed-lock) map to the explicit `zip` subcommand and
the always-on put-if-absent commit protocol.

Usage:
    python -m pot_spark --root /data get some/path
    echo '{"id": "a", "v": 1}' | python -m pot_spark --root /data create some/path
    echo '{"k1": {...}, "k2": {...}}' | python -m pot_spark --root /data create some/path --batch
    python -m pot_spark --root /data remove some/path k1 k2
    python -m pot_spark --root /data list [prefix]
    python -m pot_spark --root /data generations some/path
    python -m pot_spark --root /data get-at some/path 3
    python -m pot_spark --root /data zip
    python -m pot_spark --root /data vacuum some/path
    python -m pot_spark --root /data restore some/path 3
    python -m pot_spark --root /data changes some/path 1 3

Documents are JSON on stdin; results are JSON on stdout. The norewrite
lease flags mirror the reference's query params (?norewrite=<seconds>
&generation=<n>, server_routes.go:86-103). Exit code 23 signals a
no-rewrite violation (HTTP 423 in the reference, server_routes.go:112).
"""

from __future__ import annotations

import argparse
import json
import sys

from pot_spark.kv.errors import NoRewriteViolated
from pot_spark.kv.store import open_store

EXIT_NOREWRITE = 23  # mirrors the reference's HTTP 423 Locked


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pot_spark", description=__doc__)
    ap.add_argument("--root", required=True, help="data root (the 'bucket')")
    ap.add_argument(
        "--object-store", default=None, metavar="ENDPOINT",
        help="GCS-JSON-API endpoint (e.g. a fake-gcs-server / the in-repo"
        " emulator URL): the store runs BUCKET-ROOTED — conditional-put"
        " commits AND the snapshot data plane through the object store,"
        " no filesystem mount (the reference's own deployment model,"
        " server.go:212-214). Requires --bucket.",
    )
    ap.add_argument(
        "--bucket", default=None,
        help="bucket name for --object-store; --root becomes the key"
        " prefix inside it",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_get = sub.add_parser("get")
    p_get.add_argument("path")

    p_get_at = sub.add_parser("get-at")
    p_get_at.add_argument("path")
    p_get_at.add_argument("generation", type=int)

    p_create = sub.add_parser("create")
    p_create.add_argument("path")
    p_create.add_argument("--batch", action="store_true")
    p_create.add_argument("--norewrite", type=float, default=None,
                          metavar="SECONDS",
                          help="lease duration in seconds; 0 disables the lease "
                               "check (reference canRewrite parity) — use a "
                               "large duration to hold a key")
    p_create.add_argument("--generation", type=int, default=0,
                          help="last known generation (ownership renewal)")

    p_remove = sub.add_parser("remove")
    p_remove.add_argument("path")
    p_remove.add_argument("keys", nargs="+")

    p_list = sub.add_parser("list")
    p_list.add_argument("prefix", nargs="?", default="")

    p_gens = sub.add_parser("generations")
    p_gens.add_argument("path")

    sub.add_parser("zip")

    p_export = sub.add_parser(
        "export",
        help="distributed per-pot snapshot export tree (the 100TB form "
        "of zip; Spark tasks when --spark, sequential otherwise)",
    )
    p_export.add_argument("dest")
    p_export.add_argument(
        "--spark", action="store_true",
        help="fan the per-pot copies out as Spark tasks",
    )

    p_vac = sub.add_parser("vacuum")
    p_vac.add_argument("path")

    p_compact = sub.add_parser("compact")
    p_compact.add_argument("path")

    p_restore = sub.add_parser("restore")
    p_restore.add_argument("path")
    p_restore.add_argument("generation", type=int)

    p_changes = sub.add_parser("changes")
    p_changes.add_argument("path")
    p_changes.add_argument("from_generation", type=int)
    p_changes.add_argument("to_generation", type=int, nargs="?", default=None)

    p_clone = sub.add_parser("clone")
    p_clone.add_argument("src")
    p_clone.add_argument("dst")
    p_clone.add_argument("--deep", action="store_true")

    p_serve = sub.add_parser(
        "serve",
        help="HTTP parity shim: the reference's GET/POST/DELETE + :list "
        "routes over this root (server_routes.go semantics)",
    )
    p_serve.add_argument("--host", default="127.0.0.1")
    p_serve.add_argument("--port", type=int, default=8080)
    p_serve.add_argument(
        "--zip", default=None, metavar="DEST",
        help="re-archive the store into <root>/DEST after every write "
        "(the reference's -zip flag, server_routes.go:160-166)",
    )

    args = ap.parse_args(argv)
    if args.object_store is not None and not args.bucket:
        ap.error("--object-store requires --bucket")
    store = open_store(args.root, args.object_store, args.bucket)

    if args.cmd == "get":
        json.dump(store.get(args.path), sys.stdout, sort_keys=True)
    elif args.cmd == "get-at":
        try:
            state = store.get_at(args.path, args.generation)
        except ValueError as e:  # vacuumed generation -> lifecycle error
            print(str(e), file=sys.stderr)
            return 1
        json.dump(state, sys.stdout, sort_keys=True)
    elif args.cmd == "create":
        body = json.load(sys.stdin)
        kwargs = {
            "norewrite": args.norewrite is not None,
            "norewrite_duration": args.norewrite or 0.0,
            "generation": args.generation,
        }
        try:
            if args.batch:
                resp = store.create_batch(args.path, body, **kwargs)
            else:
                resp = store.create(args.path, body, **kwargs)
        except NoRewriteViolated as e:
            print(str(e), file=sys.stderr)
            return EXIT_NOREWRITE
        json.dump(
            {"content": resp.content, "generation": resp.generation},
            sys.stdout,
            sort_keys=True,
        )
    elif args.cmd == "remove":
        store.remove(args.path, *args.keys)
        json.dump({"removed": args.keys}, sys.stdout)
    elif args.cmd == "list":
        json.dump(store.list_paths(args.prefix), sys.stdout)
    elif args.cmd == "generations":
        json.dump(store.list_generations(args.path), sys.stdout)
    elif args.cmd == "zip":
        from pot_spark.kv.archive import zip_store

        print(zip_store(store))
    elif args.cmd == "export":
        from pot_spark.kv.archive import export_snapshot

        spark = None
        if args.spark:
            from pot_spark.session import get_spark

            spark = get_spark("pot_export")
        n = export_snapshot(store, args.dest, spark=spark)
        json.dump({"exported": n, "dest": args.dest}, sys.stdout)
    elif args.cmd == "vacuum":
        json.dump({"removed": store.vacuum(args.path)}, sys.stdout)
    elif args.cmd == "compact":
        json.dump({"generation": store.compact(args.path)}, sys.stdout)
    elif args.cmd == "restore":
        try:
            gen = store.restore(args.path, args.generation)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 1
        json.dump({"generation": gen}, sys.stdout)
    elif args.cmd == "clone":
        try:
            gen = store.clone(args.src, args.dst, deep=args.deep)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 1
        json.dump({"generation": gen}, sys.stdout)
    elif args.cmd == "serve":
        from pot_spark.kv.http_server import serve

        srv = serve(store, host=args.host, port=args.port, zip_dest=args.zip)
        host, port = srv.server_address[:2]
        print(f"pot serving {store.root} on http://{host}:{port}", flush=True)
        try:
            while True:
                import time as _time

                _time.sleep(3600)
        except KeyboardInterrupt:
            srv.shutdown()
    elif args.cmd == "changes":
        try:
            feed = store.changes(args.path, args.from_generation, args.to_generation)
        except ValueError as e:  # vacuumed generation -> lifecycle error
            print(str(e), file=sys.stderr)
            return 1
        json.dump(
            {k: {"op": op, "doc": doc} for k, (op, doc) in feed.items()},
            sys.stdout,
            sort_keys=True,
        )
    if args.cmd != "zip":
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
