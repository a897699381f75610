"""HTTP parity shim for the reference's serving surface
(/root/reference/server_routes.go:18-166, behavior only): a stdlib
http.server wrapper mapping the reference's three routes onto PotStore,
so a user driving pot over HTTP (e.g. the OPA bundle workflow,
reference docs/howto_opa.md) can point the same client here.

Routes (all paths are pot paths, leading slash stripped):
  GET    /<path>          -> full pot content map  (server_routes.go:43-53),
                             served as PotStore.get_json builds it from
                             the stored doc text (no decode + re-encode);
                             doc text that is not exactly one JSON value
                             answers 500, never a 200
  GET    /<path>:list     -> {"paths": [...]}      (":list" suffix dispatch)
  POST   /<path>          -> upsert; body = one doc (key: id over name) or,
                             with ?batch, a {key: doc} map
                             (server.go:334-358, decodeBatchContent:411-423)
          query params: batch, norewrite=<Go duration>, generation=<int>
          (generation consulted only alongside norewrite,
          server_routes.go:86-104); success = 201 + CreateResponse JSON
          {"content": ..., "generation": ...}; a no-rewrite violation =
          423 Locked with empty body (server_routes.go:112-114), which the
          reference client maps back to ErrNoRewriteViolated
          (client.go:130-132); other errors = 500 text.
  DELETE /<path>?key=a&key=b -> remove keys, 200 (server_routes.go:138-158)

Like the reference, a configured zip destination re-archives the store
after every successful POST/DELETE (triggerZip, server_routes.go:160-166).

This is a single-host convenience front end for the KV plane only — the
analytics engine's surface stays the Python/Spark API. Not hardened for
the open internet (no auth, mirroring the reference).

Deliberate deviations from the reference's route quirks:
- malformed ?generation= answers 400 (the reference 500s,
  server_routes.go:96-100 — a client error reported as a server fault);
- a post-write zip failure answers a clean 500 (the reference has
  already committed the 201 header before triggerZip runs,
  server_routes.go:106-126, so its error lands on a half-written
  response);
- paths that escape the store root answer 400 (the reference's GCS
  namespace cannot express escape, so it has no such case);
- a GET body carries each doc as stored. Dict-plane docs are stored as
  ``json.dumps`` output, so their body is what re-encoding would give;
  doc text a ``create_df`` caller wrote in another form (other key order
  or spacing, raw UTF-8) is served verbatim. It parses to the same
  content.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional
from urllib.parse import parse_qs, unquote, urlparse

from pot_spark.kv.errors import CommitConflict, NoRewriteViolated
from pot_spark.kv.keys import derive_key
from pot_spark.kv.store import PotStore

_GO_DURATION_UNITS = {
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_GO_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")


def parse_go_duration(s: str) -> float:
    """Parse a Go time.ParseDuration string ("1m30s", "500ms") to
    seconds. Mirrors the route's leniency: an unparseable value means
    duration 0 (server_routes.go:88-91), i.e. a norewrite with no
    lease window."""
    if not s:
        return 0.0
    matched = _GO_DURATION_RE.findall(s)
    if not matched or "".join(n + u for n, u in matched) != s.lstrip("+"):
        return 0.0
    return sum(float(n) * _GO_DURATION_UNITS[u] for n, u in matched)


class _PotHandler(BaseHTTPRequestHandler):
    server_version = "pot-spark-shim"
    store: PotStore  # injected by serve()
    zip_dest: Optional[str] = None

    # -- helpers ------------------------------------------------------------

    def _send(self, status: int, content_type: str, body: bytes) -> None:
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _send_json(self, obj, status: int = 200) -> None:
        self._send(status, "application/json", (json.dumps(obj) + "\n").encode())

    def _send_error_text(self, status: int, msg: str) -> None:
        self._send(status, "text/plain; charset=utf-8", (msg + "\n").encode())

    def _rel_path(self) -> Optional[tuple[str, dict[str, list[str]]]]:
        """Decode the pot path; None (after a 400 response) for any path
        that could escape the store root. The reference is immune to
        traversal by construction — GCS object names are opaque keys,
        and gorilla/mux cleans paths — but a filesystem-backed shim must
        reject `..`/`.` segments itself (including percent-encoded ones,
        which unquote() has already decoded by this point); PotStore's
        _pot_dir containment check is the second line of defense."""
        u = urlparse(self.path)
        rel = unquote(u.path).lstrip("/")
        if any(seg in ("..", ".") for seg in rel.split("/")) or "\x00" in rel:
            self._send_error_text(400, "invalid pot path")
            return None
        return rel, parse_qs(u.query, keep_blank_values=True)

    def _trigger_zip(self) -> None:
        if self.zip_dest:
            from pot_spark.kv.archive import zip_store

            zip_store(self.store, self.zip_dest)

    def log_message(self, fmt: str, *args) -> None:  # quiet by default
        pass

    # -- routes -------------------------------------------------------------

    def do_GET(self) -> None:
        parsed = self._rel_path()
        if parsed is None:
            return
        rel, _ = parsed
        try:
            if rel == ":metrics":
                # counters endpoint: otel.go parity without the
                # dependency (StoreMetrics.as_dict)
                self._send_json(self.store.metrics.as_dict())
            elif rel.endswith(":list"):
                paths = self.store.list_paths(rel[: -len(":list")])
                self._send_json({"paths": paths})
            else:
                # the body is the stored doc text, validated by the store
                self._send(200, "application/json", self.store.get_json(rel) + b"\n")
        except Exception as e:  # noqa: BLE001 - 500 like the reference
            self._send_error_text(500, str(e))

    def do_POST(self) -> None:
        parsed = self._rel_path()
        if parsed is None:
            return
        rel, q = parsed
        try:
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n) if n else b""
            # empty body is a decode error like the reference's
            # json.Decoder EOF (server.go:343-345) -> 500, not {}
            body = json.loads(raw)
            norewrite = "norewrite" in q
            duration = parse_go_duration(q["norewrite"][0]) if norewrite else 0.0
            generation = 0
            if norewrite and "generation" in q:
                try:
                    generation = int(q["generation"][0])
                except ValueError:
                    # malformed request, not a server fault: 400, not 500
                    self._send_error_text(400, "invalid generation")
                    return
            if "batch" in q:
                if not isinstance(body, dict) or not all(
                    isinstance(v, dict) for v in body.values()
                ):
                    raise ValueError("batch body must be a {key: doc} map")
                resp = self.store.create_batch(
                    rel,
                    body,
                    norewrite=norewrite,
                    norewrite_duration=duration,
                    generation=generation,
                )
                content = body
            else:
                if not isinstance(body, dict):
                    raise ValueError("body must be a JSON object")
                resp = self.store.create(
                    rel,
                    body,
                    norewrite=norewrite,
                    norewrite_duration=duration,
                    generation=generation,
                )
                content = {derive_key(body): body}
            self._trigger_zip()
            self._send_json(
                {"content": content, "generation": resp.generation}, status=201
            )
        except NoRewriteViolated:
            # 423 Locked, empty body (server_routes.go:112-114)
            self.send_response(423)
            self.send_header("Content-Length", "0")
            self.end_headers()
        except CommitConflict as e:
            # 412 Precondition Failed: the reference's contract for
            # concurrent distributed-lock/commit contention
            # (readme.md:128, server.go:670-689). The engine retries OCC
            # internally first, so a client only sees this after the
            # retry budget is exhausted.
            self._send_error_text(412, str(e))
        except Exception as e:  # noqa: BLE001
            self._send_error_text(500, str(e))

    def do_DELETE(self) -> None:
        parsed = self._rel_path()
        if parsed is None:
            return
        rel, q = parsed
        try:
            # ?generation=N (engine extension): compare-and-delete — the
            # removal commits only if the pot is still at exactly that
            # generation, else 423 like any other ownership violation
            try:
                generation = int(q["generation"][0]) if "generation" in q else None
            except ValueError:
                self._send_error_text(400, "invalid generation")
                return
            self.store.remove(rel, *q.get("key", []), generation=generation)
            self._trigger_zip()
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()
        except NoRewriteViolated:
            self.send_response(423)
            self.send_header("Content-Length", "0")
            self.end_headers()
        except CommitConflict as e:
            self._send_error_text(412, str(e))
        except Exception as e:  # noqa: BLE001
            self._send_error_text(500, str(e))


def serve(
    store: PotStore,
    host: str = "127.0.0.1",
    port: int = 8080,
    zip_dest: Optional[str] = None,
) -> ThreadingHTTPServer:
    """Start the shim on a daemon thread; returns the server (call
    .shutdown() to stop). Port 0 picks a free port (read it back from
    server.server_address)."""
    handler = type(
        "_BoundPotHandler", (_PotHandler,), {"store": store, "zip_dest": zip_dest}
    )
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
