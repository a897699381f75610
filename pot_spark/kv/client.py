"""HTTP client for a pot server — the Python counterpart of the
reference's typed Go client (client.go:24-176, behavior only): always
batch-POSTs, keeps a per-path generation cache to assert ownership on
norewrite renewals, and maps the server's status contract back to typed
errors (423 Locked -> NoRewriteViolated, client.go:130-132; 412 -> the
engine's CommitConflict).

Targets the engine's own HTTP shim (`python -m pot_spark serve`,
pot_spark.kv.http_server) or any server speaking the reference's routes.
The Go client is typed via generics (Client[T] json-decodes into T);
here `model` is an optional per-doc decoder callable serving the same
purpose — pass e.g. a dataclass constructor, or leave None for plain
dicts. Spark-side typed projection stays PotStore.get_typed.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from typing import Any, Callable, Optional

from pot_spark.kv.errors import CommitConflict, NoRewriteViolated
from pot_spark.kv.keys import derive_key


def format_go_duration(seconds: float) -> str:
    """Render seconds as a Go duration string the server's parser (and
    Go's time.ParseDuration) accepts. Must NEVER round a positive lease
    down to zero: the server treats duration 0 as "no lease", so a
    sub-representable value silently disabling norewrite protection
    would be a correctness hole, not a rounding detail. Negative leases
    are rejected outright (the lenient server would parse them as 0)."""
    if seconds < 0:
        raise ValueError(f"negative lease duration: {seconds}")
    if seconds == int(seconds):
        return f"{int(seconds)}s"
    ms = seconds * 1000
    if ms == int(ms):
        return f"{int(ms)}ms"
    # sub-millisecond: exact-ish in ns, floored at 1ns so a positive
    # lease stays positive after the round trip
    return f"{max(1, round(seconds * 1e9))}ns"


class PotClient:
    """Client for one pot server; safe for concurrent use (the
    generation cache is the only shared mutable state, guarded like the
    Go client's ownedPathGenerationsMux, client.go:33-37)."""

    def __init__(
        self,
        base_url: str,
        model: Optional[Callable[[dict[str, Any]], Any]] = None,
        timeout: float = 30.0,
    ) -> None:
        self.base_url = base_url if base_url.endswith("/") else base_url + "/"
        self.model = model
        self.timeout = timeout
        # per-path last-owned generation, set from every CreateResponse
        # (client.go:148-152); consulted only on norewrite creates
        self._generations: dict[str, int] = {}
        self._generations_mux = threading.Lock()

    # -- plumbing ------------------------------------------------------------

    def _request(
        self,
        method: str,
        path: str,
        query: Optional[dict[str, str] | list[tuple[str, str]]] = None,
        body: Optional[bytes] = None,
    ) -> tuple[int, bytes]:
        # query accepts a list of pairs for repeated params (DELETE's
        # key=a&key=b); urlencode handles both shapes
        url = self.base_url + urllib.parse.quote(path)
        if query:
            url += "?" + urllib.parse.urlencode(query)
        req = urllib.request.Request(url, data=body, method=method)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    @staticmethod
    def _raise_for(status: int, raw: bytes) -> None:
        if status == 423:
            # empty body by contract (server_routes.go:112-114)
            raise NoRewriteViolated("no-rewrite violated")
        if status == 412:
            raise CommitConflict(raw.decode(errors="replace").strip() or "commit contention")
        raise RuntimeError(
            f"unexpected status code: {status}, body: {raw.decode(errors='replace').strip()}"
        )

    # -- API (client.go:54-176) ----------------------------------------------

    def get(self, path: str) -> dict[str, Any]:
        """Full pot content; missing pot reads as {} like the server."""
        status, raw = self._request("GET", path)
        if status != 200:
            self._raise_for(status, raw)
        content = json.loads(raw)
        if self.model is not None:
            return {k: self.model(v) for k, v in content.items()}
        return content

    def list_paths(self, path: str = "") -> list[str]:
        status, raw = self._request("GET", path + ":list")
        if status != 200:
            self._raise_for(status, raw)
        return json.loads(raw)["paths"]

    def create(
        self,
        path: str,
        docs: Any,
        *,
        norewrite: Optional[float | str] = None,
    ) -> int:
        """Always-batch create (client.go:93-121 sets batch
        unconditionally). `docs` is a list of documents (keys derived
        name/id like the server would) or an explicit {key: doc} map.
        With `norewrite` (seconds or a Go duration string) the cached
        generation rides along for lease renewal. Returns the new
        generation, also cached."""
        if isinstance(docs, dict):
            content = docs
        else:
            content = {derive_key(d): d for d in docs}
        query = {"batch": "true"}
        if norewrite is not None:
            query["norewrite"] = (
                norewrite
                if isinstance(norewrite, str)
                else format_go_duration(norewrite)
            )
            with self._generations_mux:
                if path in self._generations:
                    query["generation"] = str(self._generations[path])
        status, raw = self._request(
            "POST", path, query, json.dumps(content).encode()
        )
        if status != 201:
            self._raise_for(status, raw)
        generation = json.loads(raw)["generation"]
        if generation != 0:
            with self._generations_mux:
                self._generations[path] = generation
        return generation

    def remove(
        self, path: str, *keys: str, generation: Optional[int] = None
    ) -> None:
        """DELETE keys (client.go:155-176). `generation` (engine
        extension, absent from the reference client) makes the removal
        compare-and-delete: the server commits only if the pot is still
        at that generation, else 423 -> NoRewriteViolated — the
        TOCTOU-free lease release the local election example relies on."""
        query = [("key", k) for k in keys]
        if generation is not None:
            query.append(("generation", str(generation)))
        status, raw = self._request("DELETE", path, query or None)
        if status != 200:
            self._raise_for(status, raw)

    def drop_generation(self, path: str) -> None:
        """Forget cached ownership of `path` (after losing a lease)."""
        with self._generations_mux:
            self._generations.pop(path, None)

    def generation_of(self, path: str) -> int:
        """Last cached generation for `path` (0 when unowned)."""
        with self._generations_mux:
            return self._generations.get(path, 0)

    def metrics(self) -> dict[str, float]:
        """GET /:metrics — the server's counter + span export."""
        status, raw = self._request("GET", ":metrics")
        if status != 200:
            self._raise_for(status, raw)
        return json.loads(raw)
