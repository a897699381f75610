"""PotStore: path-scoped key->JSON-document store over versioned parquet
snapshots with an atomic put-if-absent commit manifest.

Semantics mirror the reference exactly (citations against
/root/reference):

- upsert derives the key from the doc's `name`, overridden by `id`
  (server.go:347-354); non-string key raises TypeError (the reference
  panics on the type assertion, server.go:350/353); a doc with neither
  gets key "" (Go zero value).
- upsert is last-writer-wins per key, unrelated keys preserved
  (server.go:385-393); batch bodies are applied atomically
  (server.go:334-339, 411-423).
- Get of a missing pot returns empty, not an error (server.go:468-491).
- Remove silently ignores missing keys and (re)writes the pot even when
  it didn't exist (server.go:494-548).
- no-rewrite: with an existing pot, rewriting an existing key is blocked
  iff norewrite is set AND duration > 0 AND NOT (committed_at + d < now)
  (canRewrite, server.go:262-264), UNLESS the caller holds the current
  generation (server.go:379-382). New keys are never blocked; the first
  conflicting key fails the whole request before anything is written
  (server.go:385-393). A missing pot skips the check entirely
  (server.go:369-371).
- ListPaths is a raw string-prefix filter and can never report a
  root-level pot (suffix match on "/data.json", server.go:432-466).

Storage model (the Spark-first replacement for one whole-rewritten
data.json object per pot, server.go:212-214, 396-400):

    <root>/<path>/_pot/commits/<generation>.json   -- manifest, put-if-absent
    <root>/<path>/_pot/snap-<generation>-<nonce>/  -- parquet snapshot dir

Every write — upsert, remove, bulk DataFrame upsert, restore, clone,
compact — goes through ONE optimistic commit loop (`_commit`): under the
per-path lock it reads the head manifest, lets the caller's stage
callable write a snapshot under a fresh name, and publishes generation
head+1 with a put-if-absent manifest create. A loser deletes its stage,
re-reads fresh state and retries; a winner re-stages its snapshot if a
cross-process vacuum reclaimed it before the publish. This is the
Delta-Lake-style protocol that replaces the reference's GCS generation
preconditions (server.go:670-702). The primitive is pluggable
(kv/backend.py): LocalFSBackend (staged write + fsync + os.link) by
default, or a conditional-put object-store backend (GCS
`if_generation_match=0` / S3+ABS `If-None-Match: *`) — the same
primitive the reference uses for its .potlock. Generation numbers are
the manifest versions (server.go:405).

Data plane: a manifest names either one snapshot dir or, on the
bucketed layout, one dir per key-hash bucket (possibly inherited from
earlier generations). `_parts` resolves either form to the parquet
files to read, and every reader — the per-doc dict APIs (pyarrow; a pot
mutation is a metadata-scale operation, a Spark job per PUT would add
nothing), `get_df` and the "pot" DataSource — reads exactly that list.
A dict-plane mutation merges on Arrow: it reads the head as a (key, doc)
table, drops the touched keys with one `is_in` filter, appends the
request's rows (the only docs it JSON-encodes) and writes one key-sorted
part through `_write_snapshot`. Untouched docs ride along as their stored
JSON text and are never decoded, so a write costs parquet I/O plus the
delta's codec work. A dict-plane read joins the stored doc text into
one JSON object body on Arrow (what the HTTP shim serves) and parses
each doc text once (what `get` returns, and the validation of the
body); `_read_content` is that one read. Both writers produce the
identical (key, doc) parquet layout, so a pot written by either path is
readable by both. At 100 TB a pot is a table: bulk upserts go through
`create_df` (left_anti + union, one shuffle on key) or
`create_df_bucketed` (only touched buckets rewritten), and `get_typed`
projects the JSON documents to a typed DataFrame for the relational
layer.

Each store keeps a head cache: per path, the last validated head's
(key, doc) arrays and GET body, under the head manifest's identity
(generation, snapshot, bucket files). It rests on one invariant: a
committed manifest and the snapshot it names never change (manifests
are put-if-absent, snapshot dirs carry a nonce), so while the listed
head has the cached identity, its content is the cached one — the
Delta Lake client rule of keeping the last-read table state and only
checking the log for a newer version. A shim GET then costs the head
lookup (a listdir and a manifest read) instead of a parquet read and a
per-doc parse; `get` skips the read but still parses, so each caller
gets a fresh dict; an upsert merges onto the cached arrays. A snapshot
damaged out of band under a cached head is no longer noticed by that
process. Two stores over one root share nothing, like two processes.
"""

from __future__ import annotations

import json
import logging
import threading
import time
import uuid
from collections import OrderedDict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pot_spark.kv.backend import CommitBackend, LocalFSBackend
from pot_spark.kv.errors import CommitConflict, NoRewriteViolated
from pot_spark.kv.keys import derive_key
from pot_spark.kv.storefs import LocalStoreFS

_LOG = logging.getLogger("pot_spark.kv")

_POT_DIRNAME = "_pot"
_COMMITS = "commits"
_MAX_COMMIT_RETRIES = 32

DOC_SCHEMA = "key string, doc string"
_ARROW_SCHEMA = pa.schema([("key", pa.string()), ("doc", pa.string())])
# keys json.dumps quotes without escaping: printable ASCII minus '"' and '\'
_PLAIN_KEY = r"^[ !#-\[\]-~]*$"
_SCAN = json.JSONDecoder().scan_once
# Head-cache budget per store (keys + doc text + GET body of each cached
# head), LRU-evicted by path. Measured entry sizes (~200-byte docs): 5k
# docs 0.96 MB of arrays + 0.95 MB of body, 32 docs 6 KB + 6 KB, 20k docs
# 3.8 + 3.8 MB. So kv_local_large's working set (8 x 5k) is ~15 MB and
# kv_bucket_small's (64 x 32) ~0.8 MB; 64 MiB holds either, or eight
# 20k-doc pots, and bounds what a server process keeps.
_HEAD_CACHE_BYTES = 64 << 20


def _join(arr: pa.Array, sep: str) -> pa.Scalar:
    """All of ``arr``'s strings joined with ``sep`` by one Arrow kernel."""
    one_row = pa.ListArray.from_arrays(pa.array([0, len(arr)], pa.int32()), arr)
    return pc.binary_join(one_row, sep)[0]


def _texts(arr: pa.Array) -> list[str]:
    """``arr``'s strings as a list by one join and one split on NUL, far
    cheaper than ``to_pylist``. No JSON text and no plain key holds a
    NUL, so a stored string that does raises."""
    texts = _join(arr, "\0").as_py().split("\0") if len(arr) else []
    if len(texts) != len(arr):
        raise ValueError("a stored key or doc holds a NUL")
    return texts


def _parse_doc(text: str) -> Any:
    """``json.loads(text)``. Doc text that is one bare JSON value (all
    that dict-plane writers store) goes straight to the C scanner, which
    skips ``json.loads``'s whitespace handling; any other text, valid or
    not, goes through ``json.loads``."""
    try:
        value, end = _SCAN(text, 0)
        if end == len(text):
            return value
    except StopIteration:  # text does not start with a JSON value
        pass
    return json.loads(text)


def _plain(keys: pa.Array) -> bool:
    return not pc.match_substring_regex(keys, _PLAIN_KEY).false_count


def _parse_docs(keys: pa.Array, docs: pa.Array, where: str) -> dict[str, Any]:
    """Each doc text parsed on its own, under its key; this is also the
    validation of a read. A null key or doc, doc text that is not
    exactly one JSON value (``json.JSONDecodeError``) or a key stored
    twice raises. Parsing the joined body instead would let two broken
    docs (``{"p": 1`` and ``2}, "y": 3``) join into valid JSON."""
    if keys.null_count or docs.null_count:
        raise ValueError(f"{where} stores a null key or doc")
    names = _texts(keys) if _plain(keys) else keys.to_pylist()
    content = {k: _parse_doc(d) for k, d in zip(names, _texts(docs))}
    if len(content) != len(keys):
        raise ValueError(f"{where} stores {len(keys)} docs under {len(content)} keys")
    return content


def _body(keys: pa.Array, docs: pa.Array) -> bytes:
    """The JSON object body ``{"<key>": <doc text>, ...}`` joined on
    Arrow from the stored doc text, with keys quoted as ``json.dumps``
    quotes them."""
    if not _plain(keys):
        # json.dumps's escaping of each key, without its quotes
        keys = pa.array([json.dumps(k)[1:-1] for k in keys.to_pylist()], pa.string())
    pairs = pc.binary_join_element_wise('"', keys, '": ', docs, "")
    return b"{" + _join(pairs, ", ").as_buffer().to_pybytes() + b"}"


@dataclass(frozen=True)
class _Head:
    """One validated pot head in a store's head cache: the identity of
    the manifest it was read or written under, its (key, doc) arrays
    and, once a GET built it, the body."""

    ident: tuple
    keys: pa.Array
    docs: pa.Array
    body: Optional[bytes] = None

    @property
    def nbytes(self) -> int:
        return self.keys.nbytes + self.docs.nbytes + len(self.body or b"")


class _HeadCache:
    """Validated heads by path, at most ``_HEAD_CACHE_BYTES`` in all,
    least recently used evicted first; a head over the budget is never
    kept. Entries are immutable, so a hit needs no copy. A lookup hits
    only on the caller's manifest identity, which is all correctness
    rests on. An entry never gives way to an older generation of its
    pot, so neither a reader that listed the head before a commit nor a
    `get_at` pushes the newer head out (a pot deleted and recreated out
    of band below its cached generation just misses until it passes
    it)."""

    def __init__(self) -> None:
        self._guard = threading.Lock()
        self._heads: OrderedDict[str, _Head] = OrderedDict()
        self.nbytes = 0

    def get(self, path: str, ident: tuple) -> Optional[_Head]:
        with self._guard:
            head = self._heads.get(path)
            if head is None or head.ident != ident:
                return None
            self._heads.move_to_end(path)
            return head

    def put(self, path: str, head: _Head) -> None:
        with self._guard:
            old = self._heads.get(path)
            if old is not None and old.ident[0] > head.ident[0]:
                return
            if old is not None:
                self.nbytes -= self._heads.pop(path).nbytes
            if head.nbytes > _HEAD_CACHE_BYTES:
                return
            self._heads[path] = head
            self.nbytes += head.nbytes
            while self.nbytes > _HEAD_CACHE_BYTES:
                self.nbytes -= self._heads.popitem(last=False)[1].nbytes


@dataclass
class CreateResponse:
    """Mirror of the reference's CreateResponse (server.go:267-270)."""

    content: dict[str, Any]
    generation: int


@dataclass
class StoreMetrics:
    """The reference's observability surface (server.go:64-81, 104-168):
    pot_writes/reads/lists/removes counters plus the local-lock wait
    histogram, reduced to its mean, plus per-phase span accumulators
    mirroring the reference's trace() spans (otel.go:70-98,
    server.go:273-313: create / local-lock / read / write / commit).
    On a cluster these would feed a SparkListener/metrics sink; the
    counters themselves are the contract.

    All mutation goes through bump()/observe_span(), which hold a lock:
    the HTTP shim's ThreadingHTTPServer drives the store from concurrent
    request threads, and bare ``+=`` on the counters loses increments."""

    writes: int = 0
    reads: int = 0
    lists: int = 0
    removes: int = 0
    lock_wait_s: float = 0.0
    lock_acquisitions: int = 0
    # head-cache lookups of an existing pot's head (reads and upserts)
    head_cache_hits: int = 0
    head_cache_misses: int = 0
    span_seconds: dict = field(default_factory=dict)
    span_calls: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._guard = threading.Lock()
        self._span_listeners: list = []

    def bump(self, **deltas: float) -> None:
        """Atomically add each delta to the named counter."""
        with self._guard:
            for k, v in deltas.items():
                setattr(self, k, getattr(self, k) + v)

    def add_span_listener(self, fn) -> None:
        """Register a per-call span callback ``fn(name, seconds)`` — the
        hook a host uses to emit REAL spans (OTel, statsd timers) with
        per-call latency attribution, which the aggregated sums below
        cannot reconstruct. Mirrors the reference wiring trace() into
        its OTel tracer (server.go:704-712, otel.go)."""
        with self._guard:
            self._span_listeners.append(fn)

    def observe_span(self, name: str, seconds: float) -> None:
        """Accumulate one timed phase (the reference's trace() span,
        server.go:704-712, reduced to a sum + call count per phase) and
        fan it out to any registered per-call listeners."""
        with self._guard:
            self.span_seconds[name] = self.span_seconds.get(name, 0.0) + seconds
            self.span_calls[name] = self.span_calls.get(name, 0) + 1
            listeners = list(self._span_listeners)
        for fn in listeners:  # outside the lock: a slow sink must not
            try:  #            serialize the store's mutation path
                fn(name, seconds)
            except Exception:  # noqa: BLE001 - a raising sink must never
                pass  # fail a mutation that has already committed

    @property
    def avg_local_lock_duration_ms(self) -> float:
        if not self.lock_acquisitions:
            return 0.0
        return self.lock_wait_s / self.lock_acquisitions * 1000.0

    def as_dict(self) -> dict[str, float]:
        """Export the counters as a flat dict — the reference's OTel
        metric export (otel.go:70-98) without the dependency: feed this
        to any metrics sink (StatsD, Prometheus textfile, a Spark
        custom metric source) on whatever cadence the host wants."""
        with self._guard:
            out = {
                "pot_writes": self.writes,
                "pot_reads": self.reads,
                "pot_lists": self.lists,
                "pot_removes": self.removes,
                "pot_local_lock_wait_seconds_total": self.lock_wait_s,
                "pot_local_lock_acquisitions": self.lock_acquisitions,
                "pot_local_lock_duration_avg_ms": self.avg_local_lock_duration_ms,
                "pot_head_cache_hits": self.head_cache_hits,
                "pot_head_cache_misses": self.head_cache_misses,
            }
            for name in sorted(self.span_seconds):
                out[f"pot_span_{name}_seconds_total"] = self.span_seconds[name]
                out[f"pot_span_{name}_calls"] = self.span_calls[name]
            return out


@dataclass
class _Manifest:
    """One commit record; `encode`/`decode` are its only wire codec."""

    generation: int
    committed_at: float
    snapshot: str
    n_keys: int
    # bucketed layout: {bucket_id: dir relative to the pot dir}; buckets
    # untouched by a commit keep pointing at earlier snapshots' files
    # (Delta-style file reuse -> O(delta) mutations, not O(table))
    files: Optional[dict[str, str]] = None

    def encode(self) -> bytes:
        record = {
            "generation": self.generation,
            "committed_at": self.committed_at,
            "snapshot": self.snapshot,
            "n_keys": self.n_keys,
        }
        if self.files is not None:
            record["files"] = self.files
        return json.dumps(record).encode()

    @classmethod
    def decode(cls, data: bytes) -> "_Manifest":
        m = json.loads(data)
        return cls(
            generation=m["generation"],
            committed_at=m["committed_at"],
            snapshot=m["snapshot"],
            n_keys=m["n_keys"],
            files=m.get("files"),
        )

    @property
    def ident(self) -> tuple:
        """What names this manifest's content. The generation alone does
        not: a deleted and recreated pot starts again at 1."""
        files = None if self.files is None else tuple(sorted(self.files.items()))
        return self.generation, self.snapshot, files

    def snapshot_dirs(self) -> set[str]:
        """The top-level snapshot dirs this manifest references (bucket
        entries look like "<snapdir>/__b=<k>")."""
        dirs = {self.snapshot}
        if self.files is not None:
            dirs.update(rel.split("/", 1)[0] for rel in self.files.values())
        return dirs


@dataclass
class _Stage:
    """What one attempt of the commit loop publishes: the manifest's
    snapshot fields, how to rewrite the staged data if a cross-process
    vacuum reclaims it before the publish lands (None when the attempt
    staged nothing, e.g. a metadata-only restore), and what to run with
    the committed manifest once the publish won, still under the path
    lock."""

    snapshot: str
    n_keys: int
    files: Optional[dict[str, str]] = None
    restage: Optional[Callable[[], None]] = None
    on_commit: Optional[Callable[["_Manifest"], None]] = None


def _manifest_name(generation: int) -> str:
    return f"{generation:020d}.json"


def _bucket_of(n_buckets: int):
    return F.pmod(F.hash("key"), F.lit(n_buckets)).cast("int")


class PotStore:
    """A pot server over a data root on any filesystem path."""

    def __init__(
        self,
        spark: Optional[SparkSession],
        root: str,
        backend: Optional["CommitBackend"] = None,
        fs=None,
    ) -> None:
        self.spark = spark
        # the data-plane seam (kv/storefs.py): manifest listing, snapshot
        # parquet I/O and tree maintenance all go through _fs — local
        # os/pyarrow by default, an object-store/fsspec filesystem for
        # bucket-rooted stores (pair it with the matching commit backend
        # so reads and the put-if-absent commit share one namespace)
        self._fs = fs or LocalStoreFS()
        if fs is not None and not isinstance(fs, LocalStoreFS) and backend is None:
            # defaulting to LocalFSBackend would split the namespaces:
            # commits on local disk, data in the bucket — readers would
            # silently see an empty store. Fail loudly instead.
            raise ValueError(
                "a non-local data-plane fs needs a commit backend writing"
                " to the same namespace (e.g. ConditionalPutBackend over"
                " the same object client)"
            )
        self.root = self._fs.canonical_root(root)
        # the commit-point seam (kv/backend.py): every generation publish
        # goes through backend.put_if_absent — local FS by default, a
        # conditional-put object store (GCS if_generation_match=0, S3/ABS
        # If-None-Match) in the reference's actual deployment model
        # (server.go:670-702)
        self.backend: CommitBackend = backend or LocalFSBackend()
        if not getattr(self.backend, "read_only", False):
            # read-only replicas (export tasks) must not write anything
            # into the source namespace — not even a root .dirmarker
            self._fs.makedirs(self.root)
        self._locks: dict[str, threading.RLock] = {}
        self._locks_guard = threading.Lock()
        self.metrics = StoreMetrics()
        self._heads = _HeadCache()
        # per-path last-read generation cache, like the typed client's
        # (client.go:148-152); used by callers for lease renewal.
        self.generation_cache: dict[str, int] = {}

    # -- path helpers -------------------------------------------------------

    def _pot_dir(self, path: str) -> str:
        path = path.strip("/")
        base = self._fs.normjoin(self.root, path) if path else self.root
        # containment gate: a pot path must never escape the store root.
        # The reference is immune by construction (GCS object namespace);
        # a filesystem root is not, so `..` segments (or anything that
        # normalizes outside root) are rejected here — the single choke
        # point every read/write/list path goes through.
        if not path:
            contained = True  # the root pot itself
        elif self.root:
            # a root of '/' (absolute-path fsspec) already ends with the
            # separator — don't double it or nothing would ever match
            root_pref = (
                self.root
                if self.root.endswith(self._fs.sep)
                else self.root + self._fs.sep
            )
            contained = base == self.root or base.startswith(root_pref)
        else:  # whole-bucket root (object store ""): no upward escapes
            contained = base not in ("", "..") and not base.startswith(
                ("..%s" % self._fs.sep, self._fs.sep)
            )
        if not contained:
            raise ValueError(f"pot path escapes the store root: {path!r}")
        return self._fs.join(base, _POT_DIRNAME)

    def _local_lock(self, path: str) -> threading.RLock:
        """Per-path in-process lock (reference's mutex map,
        server.go:617-661). Reads are snapshot-isolated and lock-free."""
        with self._locks_guard:
            if path not in self._locks:
                self._locks[path] = threading.RLock()
            return self._locks[path]

    # -- manifest I/O --------------------------------------------------------

    def _commits(self, path: str) -> tuple[str, list[str]]:
        """(commits dir, its manifest names oldest first); a pot that
        never committed has none."""
        commits = self._fs.join(self._pot_dir(path), _COMMITS)
        try:
            names = self._fs.listdir(commits)
        except FileNotFoundError:
            return commits, []
        return commits, sorted(n for n in names if n.endswith(".json"))

    def _read_manifest(self, commits: str, name: str) -> _Manifest:
        return _Manifest.decode(self._fs.read_bytes(self._fs.join(commits, name)))

    def _latest_manifest(self, path: str) -> Optional[_Manifest]:
        commits, names = self._commits(path)
        return self._read_manifest(commits, names[-1]) if names else None

    def _manifest_at(self, path: str, generation: int) -> Optional[_Manifest]:
        commits = self._fs.join(self._pot_dir(path), _COMMITS)
        try:
            return self._read_manifest(commits, _manifest_name(generation))
        except FileNotFoundError:
            return None

    def _try_commit(self, path: str, manifest: _Manifest) -> bool:
        """Put-if-absent publish of a FULLY WRITTEN manifest — the commit
        point, delegated to the pluggable backend (kv/backend.py).

        The backend contract: atomically create the target with complete
        content iff absent; readers never observe a partial manifest; a
        False return means another writer won this generation and the
        caller re-reads fresh state and retries. The default
        LocalFSBackend implements it as staged-write + fsync + os.link;
        object-store backends use the conditional put the reference
        itself relies on (GCS if_generation_match=0, server.go:670-702).
        """
        target = self._fs.join(
            self._pot_dir(path), _COMMITS, _manifest_name(manifest.generation)
        )
        return self.backend.put_if_absent(target, manifest.encode())

    # -- snapshot I/O (pyarrow fast path; layout identical to Spark's) ------

    def _snapshot_path(self, path: str, name: str) -> str:
        return self._fs.join(self._pot_dir(path), name)

    def _parts(
        self,
        path: str,
        manifest: _Manifest,
        buckets: Optional[Iterable[Any]] = None,
    ) -> list[str]:
        """The parquet files holding `manifest`'s content (only the given
        buckets' files when `buckets` is set on a bucketed manifest) —
        the one resolver every reader uses, one listdir per dir.

        A missing snapshot dir means vacuum reclaimed it: raise a CLEAR
        lifecycle error, since a raw FileNotFoundError out of a parquet
        read reads as corruption. A missing bucket subdir of a present
        snapshot is an empty bucket (stores without empty dirs keep
        nothing for it)."""
        if manifest.files is None:
            rels = [manifest.snapshot]
        else:
            keys = manifest.files if buckets is None else map(str, buckets)
            rels = [manifest.files[b] for b in keys]
        parts: list[str] = []
        for rel in rels:
            d = self._snapshot_path(path, rel)
            try:
                names = self._fs.listdir(d)
            except FileNotFoundError:
                if manifest.files is None or not self._fs.isdir(
                    self._snapshot_path(path, rel.rsplit("/", 1)[0])
                ):
                    raise ValueError(
                        f"generation {manifest.generation} of {path!r} was vacuumed"
                    ) from None
                continue
            # Spark snapshots carry _SUCCESS/.crc sidecars; read only parts
            parts.extend(
                sorted(self._fs.join(d, n) for n in names if n.endswith(".parquet"))
            )
        return parts

    def _read_table(self, parts: list[str]) -> pa.Table:
        tables = [self._fs.read_parquet(p, _ARROW_SCHEMA) for p in parts]
        return pa.concat_tables(tables) if tables else _ARROW_SCHEMA.empty_table()

    def _cached(self, path: str, manifest: _Manifest) -> Optional[_Head]:
        """The head cache's entry for ``manifest``, counted as a hit or a
        miss."""
        head = self._heads.get(path, manifest.ident)
        if head is None:
            self.metrics.bump(head_cache_misses=1)
        else:
            self.metrics.bump(head_cache_hits=1)
        return head

    def _read_content(
        self, manifest: Optional[_Manifest], path: str, body: bool = False
    ) -> Any:
        """The one dict-plane read: ``manifest``'s content as a fresh dict,
        or with ``body`` as the JSON object body ``{"<key>": <doc text>,
        ...}``.

        The body is joined on Arrow from the stored doc text, never from
        decoded docs (`_body`), so for dict-plane pots (doc text is
        ``json.dumps`` output) it equals ``json.dumps`` of the dict byte
        for byte. The dict is each doc text parsed on its own, which is
        also the validation (`_parse_docs`): bad stored text raises
        instead of reaching a reader.

        The head cache is checked first. A committed manifest and the
        snapshot it names never change, so under a cached identity the
        snapshot is not read again: the body comes from the cache (built
        on the first body read) and the dict is parsed from the cached
        arrays. A miss reads the parts and validates them, and only a
        read that validated is installed."""
        if manifest is None:
            return b"{}" if body else {}
        where = f"generation {manifest.generation} of {path!r}"
        head = self._cached(path, manifest)
        if head is None:
            table = self._read_table(self._parts(path, manifest))
            head = _Head(
                manifest.ident,
                table["key"].combine_chunks(),
                table["doc"].combine_chunks(),
            )
            content = _parse_docs(head.keys, head.docs, where)
            if not body:
                self._heads.put(path, head)
                return content
        elif not body:
            return _parse_docs(head.keys, head.docs, where)
        if head.body is None:
            head = _Head(head.ident, head.keys, head.docs, _body(head.keys, head.docs))
            self._heads.put(path, head)
        return head.body

    def _write_snapshot(self, path: str, name: str, table: pa.Table) -> None:
        """The one dict-plane snapshot writer: ``table`` (key, doc), which
        the caller has sorted by key, as a single part. Doc text is
        written as given."""
        snap_dir = self._snapshot_path(path, name)
        self._fs.makedirs(snap_dir)
        self._fs.write_parquet(table, self._fs.join(snap_dir, "part-00000.parquet"))

    def _restage_if_vacuumed(
        self, path: str, committed: "_Manifest", restage: Callable[[], None]
    ) -> None:
        """BEST-EFFORT narrowing of the stage-then-publish vacuum race
        (round-11 advice; scope honesty per round-12 advice): a
        vacuum() in ANOTHER process — where our per-path lock cannot
        serialize it — running with an aggressive grace window can
        reclaim this writer's staged snapshot between its last stage
        write and the manifest put_if_absent; the conditional PUT still
        succeeds, and the pot's new HEAD would then fail every read
        with "was vacuumed" until a later commit. Once we have WON the
        generation, any vacuum that LISTS from now on sees the snapshot
        referenced by the latest manifest and keeps it alive — but a
        vacuum that took its reclaim list BEFORE our publish may still
        delete at any later moment, so no post-publish check can fully
        close the window. This verify-restage-reverify loop (3 rounds)
        repairs every delete that lands while we are looking; the
        86400 s default grace window is the actual correctness
        guarantee against the delayed case. One isdir() per commit in
        the common (alive) case."""
        for _ in range(3):
            if self._fs.isdir(self._snapshot_path(path, committed.snapshot)):
                return
            restage()

    # -- norewrite gate ------------------------------------------------------

    @staticmethod
    def _can_rewrite(committed_at: float, now: float, duration: float) -> bool:
        """Lease expiry: strictly older than `duration` (server.go:262-264;
        boundary cases pinned by server_test.go:14-32)."""
        return committed_at + duration < now

    def _allow_rewrite(
        self,
        manifest: _Manifest,
        norewrite: bool,
        norewrite_duration: float,
        last_known_generation: int,
    ) -> bool:
        allow = True
        if norewrite:
            if norewrite_duration > 0 and not self._can_rewrite(
                manifest.committed_at, time.time(), norewrite_duration
            ):
                allow = False
            # ownership: holding the latest generation re-allows (this is
            # what makes leader-election lease renewal work,
            # server.go:379-382)
            if manifest.generation == last_known_generation:
                allow = True
        return allow

    # -- public API: the pot surface ----------------------------------------

    def get(self, path: str) -> dict[str, Any]:
        """Read-all at path; missing pot => empty map (server.go:468-491).
        Raises on stored doc text that is not exactly one JSON value
        (see `_read_content`). Each call returns a fresh dict."""
        return self._get(path, body=False)

    def get_json(self, path: str) -> bytes:
        """`get` as the JSON object body the HTTP shim serves for
        ``GET /<path>``: ``{"<key>": <doc text>, ...}`` built from the
        stored doc text, with the same validation, read count and
        generation-cache update as `get`. For dict-plane pots it equals
        ``json.dumps(get(path)).encode()`` byte for byte; doc text
        ``create_df`` stored in another form (other key order or
        spacing, raw UTF-8) is served as stored, parsing equal. While
        the head is unchanged the body comes from the head cache: a head
        lookup and no parquet read or parse (see `_read_content`)."""
        return self._get(path, body=True)

    def _get(self, path: str, body: bool) -> Any:
        self.metrics.bump(reads=1)
        manifest = self._latest_manifest(path)
        if manifest is not None:
            self.generation_cache[path] = manifest.generation
        return self._read_content(manifest, path, body)

    def get_at(self, path: str, generation: int) -> dict[str, Any]:
        """Time travel: read the pot as of a past generation (extension
        beyond the reference, whose GCS generations identify but cannot
        replay old states). Valid until `vacuum` reclaims the snapshot;
        missing generation => empty map, mirroring get()'s missing-path
        semantics."""
        return self._read_content(self._manifest_at(path, generation), path)

    def list_generations(self, path: str) -> list[tuple[int, float]]:
        """All retained (generation, committed_at) pairs, oldest first."""
        commits, names = self._commits(path)
        out = []
        for n in names:
            m = self._read_manifest(commits, n)
            out.append((m.generation, m.committed_at))
        return out

    def create(
        self,
        path: str,
        doc: dict[str, Any],
        *,
        norewrite: bool = False,
        norewrite_duration: float = 0.0,
        generation: int = 0,
    ) -> CreateResponse:
        """Single-doc upsert; key derived from name/id (server.go:272-407)."""
        return self._mutate(
            path,
            {derive_key(doc): doc},
            norewrite=norewrite,
            norewrite_duration=norewrite_duration,
            last_known_generation=generation,
        )

    def create_batch(
        self,
        path: str,
        docs: dict[str, dict[str, Any]],
        *,
        norewrite: bool = False,
        norewrite_duration: float = 0.0,
        generation: int = 0,
    ) -> CreateResponse:
        """Batch upsert: caller-supplied keys, all-or-nothing
        (server.go:334-339, 411-423)."""
        return self._mutate(
            path,
            dict(docs),
            norewrite=norewrite,
            norewrite_duration=norewrite_duration,
            last_known_generation=generation,
        )

    def replace_batch(self, path: str, docs: dict[str, dict[str, Any]]) -> CreateResponse:
        """Truncate-and-load: the new content replaces the whole pot in
        one commit (the overwrite mode of the "pot" DataSource writer;
        the reference has no replace — only per-key merge,
        server.go:385-393 — but its whole-object rewrite makes this the
        natural extension)."""
        return self._mutate(path, dict(docs), replace=True)

    def remove(
        self, path: str, *keys: str, generation: Optional[int] = None
    ) -> None:
        """Delete keys; missing keys are silent no-ops; writes the pot even
        if it didn't exist (server.go:494-548).

        ``generation`` (extension): compare-and-delete. When set, the
        removal commits only if the pot is still at exactly that
        generation, else raises NoRewriteViolated — the conditional
        mutation that closes the get-then-remove TOCTOU in lease
        release (a stalled ex-leader whose check passed before its
        lease expired can no longer delete the new leader's key: the
        new leader's election bumped the generation)."""
        self.metrics.bump(removes=1)
        self._mutate(path, {}, remove_keys=keys, require_generation=generation)

    def list_paths(self, subdir: str = "") -> list[str]:
        """Raw string-prefix listing of pot paths; a root-level pot is
        never listed (server.go:432-466)."""
        self.metrics.bump(lists=1)
        found = []
        for dirpath, dirnames, _ in self._fs.walk(self.root):
            if _POT_DIRNAME in dirnames:
                rel = (
                    self._fs.relpath(dirpath, self.root)
                    if self.root
                    else dirpath
                )
                rel = "" if rel == "." else rel.replace(self._fs.sep, "/")
                if rel and rel.startswith(subdir):
                    commits = self._fs.join(dirpath, _POT_DIRNAME, _COMMITS)
                    try:
                        has_commits = bool(self._fs.listdir(commits))
                    except FileNotFoundError:
                        has_commits = False
                    if has_commits:
                        found.append(rel)
            # never descend into pot internals
            dirnames[:] = [d for d in dirnames if d != _POT_DIRNAME]
        return sorted(found)

    # -- the commit loop (lock -> read head -> stage -> put-if-absent) ------

    @contextmanager
    def _span(self, name: str):
        """Time the block as one `name` span; a raising block records none."""
        t = time.perf_counter()
        yield
        self.metrics.observe_span(name, time.perf_counter() - t)

    def _commit(
        self, path: str, stage: Callable[[Optional[_Manifest], str], _Stage]
    ) -> _Manifest:
        """The one optimistic-concurrency commit loop every write of a pot
        goes through. Under the per-path lock, each attempt reads the
        head manifest, asks ``stage(head, name)`` to stage the next
        generation's snapshot under the fresh dir name ``name`` (or to
        reference existing snapshots, writing nothing), and publishes
        the manifest put-if-absent. A lost race deletes that attempt's
        stage, re-reads the head and retries; a won one repairs a stage
        a cross-process vacuum reclaimed before the publish. Stage
        callables raise to abort (norewrite, a missing restore target)."""
        if getattr(self.backend, "read_only", False):
            # fail BEFORE staging: a read-only replica that merely
            # refused at the commit point would still have littered the
            # source namespace with a snapshot dir + parquet
            raise RuntimeError(f"read-only store: refusing to write {path!r}")
        t_lock = time.perf_counter()
        with self._local_lock(path):
            lock_wait = time.perf_counter() - t_lock
            self.metrics.bump(lock_wait_s=lock_wait, lock_acquisitions=1)
            self.metrics.observe_span("local_lock", lock_wait)
            for _ in range(_MAX_COMMIT_RETRIES):
                head = self._latest_manifest(path)
                generation = (head.generation if head else 0) + 1
                name = f"snap-{generation:020d}-{uuid.uuid4().hex[:8]}"
                staged = stage(head, name)
                committed = _Manifest(
                    generation=generation,
                    committed_at=time.time(),
                    snapshot=staged.snapshot,
                    n_keys=staged.n_keys,
                    files=staged.files,
                )
                with self._span("commit"):
                    won = self._try_commit(path, committed)
                if won:
                    if staged.restage is not None:
                        self._restage_if_vacuumed(path, committed, staged.restage)
                    if staged.on_commit is not None:
                        staged.on_commit(committed)
                    self.generation_cache[path] = generation
                    return committed
                # lost the race: discard this attempt's stage, re-read, retry
                self._fs.rmtree(self._snapshot_path(path, name))
        raise CommitConflict(f"commit contention on {path!r} exceeded retries")

    def _commit_mutation(
        self, path: str, stage: Callable[[Optional[_Manifest], str], _Stage]
    ) -> _Manifest:
        """A data mutation: one `_commit`, counted in `writes` and timed
        as the reference's whole-call `create` span (server.go:273-313)."""
        self.metrics.bump(writes=1)
        with self._span("create"):
            return self._commit(path, stage)

    def _mutate(
        self,
        path: str,
        new_docs: dict[str, Any],
        *,
        remove_keys: Iterable[str] = (),
        norewrite: bool = False,
        norewrite_duration: float = 0.0,
        last_known_generation: int = 0,
        replace: bool = False,
        require_generation: Optional[int] = None,
    ) -> CreateResponse:
        """Dict-plane read -> merge -> stage of a whole snapshot, on Arrow.

        Only the request's own docs are encoded (``json.dumps`` with
        sorted keys); every untouched row is carried as its stored JSON
        text, byte for byte, so a write costs parquet I/O plus the delta's
        codec work, not a decode and re-encode of the whole pot. Two
        consequences: doc text another writer stored in non-canonical
        form (``create_df``) stays as written, and an unparseable doc
        under an untouched key no longer fails an unrelated upsert
        (``get`` still raises on it).

        The base is the head cache's arrays when they are the head's.
        A won commit installs the merged table as the new head, still
        under the path lock so the next writer finds it, only if its base
        was validated (a cached or empty head): a validated base plus
        ``json.dumps`` rows stays valid, while a base read from parquet
        may hold a bad untouched doc that a cached head would serve with
        a 200."""
        keys = list(new_docs)
        added = pa.table(
            {
                "key": keys,
                "doc": [json.dumps(new_docs[k], sort_keys=True) for k in keys],
            },
            schema=_ARROW_SCHEMA,
        )
        dropped = pa.array([*remove_keys, *keys], pa.string())

        def stage(head: Optional[_Manifest], name: str) -> _Stage:
            with self._span("read"):
                cached = None if head is None else self._cached(path, head)
                if head is None:
                    table = _ARROW_SCHEMA.empty_table()
                elif cached is not None:
                    table = pa.table([cached.keys, cached.docs], schema=_ARROW_SCHEMA)
                else:
                    table = self._read_table(self._parts(path, head))
            if require_generation is not None and (
                head is None or head.generation != require_generation
            ):
                raise NoRewriteViolated(
                    "conditional mutation lost: pot is at generation "
                    f"{head.generation if head else 0}, "
                    f"required {require_generation}"
                )
            if keys and head is not None and not self._allow_rewrite(
                head, norewrite, norewrite_duration, last_known_generation
            ):
                # fail before any write on the first taken key in request
                # order: all-or-nothing
                taken = pc.is_in(added["key"], value_set=table["key"])
                first = pc.index(taken, True).as_py()
                if first >= 0:
                    raise NoRewriteViolated(f"no-rewrite violated: {keys[first]}")
            if replace:
                merged = added
            else:
                kept = table.filter(
                    pc.invert(pc.is_in(table["key"], value_set=dropped))
                )
                merged = pa.concat_tables([kept, added])

            def write() -> None:
                self._write_snapshot(path, name, merged)

            with self._span("write"):
                merged = merged.sort_by("key")
                write()

            def install(committed: _Manifest) -> None:
                self._heads.put(
                    path,
                    _Head(
                        committed.ident,
                        merged["key"].combine_chunks(),
                        merged["doc"].combine_chunks(),
                    ),
                )

            validated = head is None or cached is not None
            return _Stage(
                name,
                merged.num_rows,
                restage=write,
                on_commit=install if validated and not merged["key"].null_count else None,
            )

        committed = self._commit_mutation(path, stage)
        return CreateResponse(content=new_docs, generation=committed.generation)

    # -- Spark data plane ----------------------------------------------------

    def _spark_read_parquet(self, parts: list[str]) -> DataFrame:
        """Read snapshot parquet files as a DataFrame. When the data-plane
        fs reports Spark-readable URLs (local paths, or a connector-backed
        gs://... prefix) this is a plain distributed parquet scan — the
        100 TB path. A connector-less object-store fs streams the parts
        through the fs client on the driver instead (the reference's
        own SDK posture, server.go:468-491: it too streams whole
        objects through the driver-side SDK)."""
        assert self.spark is not None, "PotStore needs a SparkSession for DataFrame APIs"
        if not parts:
            return self.spark.createDataFrame([], schema=DOC_SCHEMA)
        urls = [self._fs.spark_url(p) for p in parts]
        if all(u is not None for u in urls):
            return self.spark.read.schema(DOC_SCHEMA).parquet(*urls)
        table = self._read_table(parts)
        return self.spark.createDataFrame(table.to_pandas(), schema=DOC_SCHEMA)

    def _spark_write_parquet(
        self, df: DataFrame, snap_dir: str, partition_by: Optional[str] = None
    ) -> None:
        """Write a snapshot DataFrame through the data-plane fs. With a
        Spark-readable URL the write is fully distributed. Without one,
        Spark stages to a local temp dir and the parts stream through
        the fs client (upload_tree) — the merge/shuffle stays
        distributed; only the final byte movement is driver-side, which
        is exactly what the reference does for every write
        (server.go:396-400)."""
        url = self._fs.spark_url(snap_dir)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        if url is not None:
            writer.parquet(url)
            return
        import shutil as _shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="pot_spark_stage_")
        try:
            writer.parquet(tmp)
            self._fs.upload_tree(tmp, snap_dir)
        finally:
            _shutil.rmtree(tmp, ignore_errors=True)

    def _write_bucketed(
        self, df: DataFrame, snap_dir: str, n_buckets: int, buckets: Iterable[int]
    ) -> None:
        """The one bucketed writer: hash DataFrame[key, doc] into
        n_buckets and write ``snap_dir/__b=<k>/`` with each bucket routed
        to one task (one file per bucket dir, not one per task — the
        small-file hygiene the compactor otherwise pays). Every bucket in
        ``buckets`` gets a dir even when it holds no rows, so the
        manifest entry pointing at it never dangles."""
        df = df.withColumn("__b", _bucket_of(n_buckets))
        self._spark_write_parquet(df.repartition("__b"), snap_dir, partition_by="__b")
        for b in buckets:
            self._fs.makedirs(self._fs.join(snap_dir, f"__b={b}"))

    def get_df(self, path: str) -> DataFrame:
        """The pot as a DataFrame[key string, doc string]; missing pot =>
        empty DataFrame with the same schema."""
        return self._df_of(path, self._latest_manifest(path))

    def get_df_at(self, path: str, generation: int) -> DataFrame:
        """DataFrame time travel: the pot as of a past generation
        (DataFrame twin of get_at); missing generation => empty."""
        return self._df_of(path, self._manifest_at(path, generation))

    def _df_of(self, path: str, manifest: Optional[_Manifest]) -> DataFrame:
        # resolving the parts here fails at plan time with the lifecycle
        # error, not at action time with a parquet path error
        return self._spark_read_parquet(
            [] if manifest is None else self._parts(path, manifest)
        )

    def changes_df(
        self,
        path: str,
        from_generation: int,
        to_generation: Optional[int] = None,
        include_old: bool = False,
    ) -> DataFrame:
        """Spark-plane change feed: DataFrame[key, op, doc] with op in
        insert/update/delete between two generations — for pots too large
        to diff on the driver. With ``include_old`` the before-image rides
        along as ``old_doc`` (the Delta CDF preimage), which is what an
        incremental consumer needs to retract a deleted/updated row's
        contribution from a downstream aggregate. On the bucketed layout, buckets whose
        manifest file entries are identical in both generations are
        PRUNED before any read: a key always hashes to the same bucket,
        so an untouched bucket cannot contribute a change — the diff cost
        is O(changed buckets), mirroring the O(delta) write path."""
        m_old = self._manifest_at(path, from_generation)
        m_new = (
            self._latest_manifest(path)
            if to_generation is None
            else self._manifest_at(path, to_generation)
        )
        if (
            m_old is not None
            and m_new is not None
            and m_old.files is not None
            and m_new.files is not None
            and set(m_old.files) == set(m_new.files)
        ):
            changed = [b for b in m_new.files if m_old.files[b] != m_new.files[b]]
            old_df = self._spark_read_parquet(self._parts(path, m_old, changed))
            new_df = self._spark_read_parquet(self._parts(path, m_new, changed))
        else:
            old_df = self._df_of(path, m_old)
            new_df = self._df_of(path, m_new)
        o = old_df.select(F.col("key"), F.col("doc").alias("old_doc"))
        n = new_df.select(F.col("key"), F.col("doc").alias("new_doc"))
        j = o.join(n, "key", "full_outer")
        op = (
            F.when(F.col("old_doc").isNull(), "insert")
            .when(F.col("new_doc").isNull(), "delete")
            .otherwise("update")
        )
        cols = ["key", op.alias("op"), F.col("new_doc").alias("doc")]
        if include_old:
            cols.append(F.col("old_doc"))
        return (
            j.filter(
                F.col("old_doc").isNull()
                | F.col("new_doc").isNull()
                | (F.col("old_doc") != F.col("new_doc"))
            )
            .select(*cols)
        )

    def get_typed(
        self, path: str, schema, generation: Optional[int] = None
    ) -> DataFrame:
        """Typed projection of the documents (the engine's analogue of the
        typed Go client, client.go:14-38): parse the JSON doc column with
        an explicit schema. Timestamp fields parse at microsecond
        precision, matching the sink-side to_json format
        (pot_spark.streaming.sink.JSON_TS_OPTIONS). With ``generation``
        the projection is pinned to that snapshot (time travel), so the
        lazy DataFrame keeps reading the same files even after later
        commits advance the pot."""
        df = (
            self.get_df(path)
            if generation is None
            else self.get_df_at(path, generation)
        )
        opts = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}
        return df.select(
            "key", F.from_json("doc", schema, opts).alias("d")
        ).select("key", "d.*")

    def create_df(
        self,
        path: str,
        new_df: DataFrame,
        *,
        norewrite: bool = False,
        norewrite_duration: float = 0.0,
        generation: int = 0,
    ) -> int:
        """Bulk upsert from a DataFrame[key, doc]: old left_anti new +
        new, staged as a Spark-written parquet snapshot, published with
        the same put-if-absent commit. Returns the new generation.

        This is the 100 TB path: the merge is one shuffle on `key` (or
        zero with a broadcast of a small delta); the dict APIs above are
        the metadata-scale convenience path with identical layout.

        Duplicate keys WITHIN the batch are collapsed to one arbitrary
        row before merging: a JSON batch body can never carry the same
        key twice (object keys are unique, and the dict plane dedups
        structurally), so the DataFrame plane enforces the same
        one-row-per-key invariant — without this, left_anti + union
        would publish a pot with multiple rows per key. Callers that
        care WHICH duplicate wins must pre-aggregate deterministically."""
        assert self.spark is not None, "PotStore needs a SparkSession for DataFrame APIs"
        new_df = new_df.dropDuplicates(["key"])

        def stage(head: Optional[_Manifest], name: str) -> _Stage:
            old = self._df_of(path, head)
            if head is not None and not self._allow_rewrite(
                head, norewrite, norewrite_duration, generation
            ):
                conflict = new_df.join(old, "key", "left_semi").limit(1).collect()
                if conflict:
                    raise NoRewriteViolated(
                        f"no-rewrite violated: {conflict[0]['key']}"
                    )
            merged = old.join(new_df, "key", "left_anti").unionByName(new_df)
            snap_dir = self._snapshot_path(path, name)

            def write() -> None:
                self._spark_write_parquet(merged, snap_dir)

            with self._span("write"):
                write()
            return _Stage(name, -1, restage=write)

        return self._commit_mutation(path, stage).generation

    def create_df_bucketed(
        self, path: str, new_df: DataFrame, *, n_buckets: int = 16
    ) -> int:
        """O(delta) bulk upsert: keys hash into n_buckets fixed buckets;
        only buckets containing changed keys are merged and rewritten,
        every other bucket's files are carried into the new manifest
        untouched (Delta-style file reuse). Mutation cost is
        O(delta + affected-bucket bytes) instead of O(table) — at 100 TB
        with 10^5 buckets, a 1 GB delta rewrites ~1/10^5 of the table.

        The commit remains the same put-if-absent manifest; readers of
        any generation see a consistent bucket set. A pot previously
        written unbucketed (or with a different n_buckets) is fully
        re-bucketed on its first bucketed commit.

        Duplicate keys within the batch collapse to one arbitrary row,
        same invariant (and reasoning) as create_df.
        """
        assert self.spark is not None, "PotStore needs a SparkSession for DataFrame APIs"
        new_df = new_df.dropDuplicates(["key"])

        def stage(head: Optional[_Manifest], name: str) -> _Stage:
            if head is not None and head.files is not None and len(head.files) == n_buckets:
                affected = sorted(
                    r["__b"]
                    for r in new_df.select(_bucket_of(n_buckets).alias("__b"))
                    .distinct()
                    .collect()
                )
                old = self._spark_read_parquet(self._parts(path, head, affected))
                files = dict(head.files)
            else:
                # first bucketed commit (or layout change): re-bucket all
                affected = list(range(n_buckets))
                old = self._df_of(path, head)
                files = {}
            files.update({str(b): f"{name}/__b={b}" for b in affected})
            merged = old.join(new_df, "key", "left_anti").unionByName(new_df)
            snap_dir = self._snapshot_path(path, name)

            def write() -> None:
                self._write_bucketed(merged, snap_dir, n_buckets, affected)

            with self._span("write"):
                write()
            return _Stage(name, -1, files, write)

        return self._commit_mutation(path, stage).generation

    # -- maintenance ---------------------------------------------------------

    def changes(
        self, path: str, from_generation: int, to_generation: Optional[int] = None
    ) -> dict[str, tuple[str, Optional[dict[str, Any]]]]:
        """Change feed between two retained generations (the Delta CDF
        pattern): {key: (op, new_doc)} with op in insert/update/delete
        (new_doc None for deletes) — what an incremental consumer replays
        instead of re-reading the whole pot. Extension beyond the
        reference, whose generations can't be diffed (server.go:405).
        Reads and decodes both snapshots whole, bucketed or not;
        `changes_df` is the scale path, and it prunes a bucketed pot to
        the buckets whose file entries differ before reading."""
        old = self.get_at(path, from_generation)
        new = self.get(path) if to_generation is None else self.get_at(path, to_generation)
        out: dict[str, tuple[str, Optional[dict[str, Any]]]] = {}
        for k, v in new.items():
            if k not in old:
                out[k] = ("insert", v)
            elif old[k] != v:
                out[k] = ("update", v)
        for k in old:
            if k not in new:
                out[k] = ("delete", None)
        return out

    def restore(self, path: str, generation: int) -> int:
        """Metadata-only rollback (Delta-style RESTORE): publish a NEW
        generation whose manifest points back at `generation`'s snapshot.
        No data is copied or rewritten — the commit is O(1) regardless of
        pot size — and the rolled-back-over history stays readable via
        get_at() until vacuum reclaims it. Extension beyond the
        reference: GCS generations identify past states but cannot
        republish them (server.go:405). Raises ValueError if the target
        generation (or its already-vacuumed snapshot) is gone; returns
        the new generation number."""

        def stage(head: Optional[_Manifest], name: str) -> _Stage:
            target = self._manifest_at(path, generation)
            if target is None:
                raise ValueError(f"generation {generation} not found at {path!r}")
            # the vacuum check covers the plain snapshot AND every bucket
            # dir a bucketed manifest carries from older generations
            self._parts(path, target)
            return _Stage(target.snapshot, target.n_keys, target.files)

        return self._commit(path, stage).generation

    def clone(self, src: str, dst: str, deep: bool = False) -> int:
        """Delta-style CLONE of a pot to a new path. Shallow (default):
        an O(1) metadata commit whose manifest references `src`'s current
        snapshot files in place — no data copied, cost independent of pot
        size. The clone is copy-on-write: its next mutation stages its
        own snapshot, and `src` never observes clone writes. Until then
        the clone depends on `src`'s snapshot surviving — compact+vacuum
        on `src` invalidates shallow clones, exactly Delta's documented
        shallow-clone/VACUUM interaction. `deep=True` copies the snapshot
        files (O(data)) so the clone is fully independent. Locally the
        reference is a root-relative dir; on cloud storage it maps to
        absolute-URI file entries in the manifest (the same mechanism
        Delta shallow clones use). Extension beyond the reference: pot
        can only duplicate by re-POSTing documents (server.go:272-407).
        Returns the clone's new generation at `dst`."""
        src_m = self._latest_manifest(src)
        if src_m is None:
            raise ValueError(f"pot {src!r} does not exist")
        dst_dir = self._pot_dir(dst)

        def stage(head: Optional[_Manifest], name: str) -> _Stage:
            if not deep:
                # relative references into src's pot dir: the commit is
                # pure metadata, nothing is read or copied
                def ref(rel: str) -> str:
                    return self._fs.relpath(self._snapshot_path(src, rel), dst_dir)

                files = (
                    None
                    if src_m.files is None
                    else {b: ref(rel) for b, rel in src_m.files.items()}
                )
                return _Stage(ref(src_m.snapshot), src_m.n_keys, files)
            snap_dir = self._snapshot_path(dst, name)

            def copy() -> None:
                if src_m.files is None:
                    self._fs.copytree(self._snapshot_path(src, src_m.snapshot), snap_dir)
                    return
                self._fs.makedirs(snap_dir)
                for b, rel in src_m.files.items():
                    bucket_dst = self._fs.join(snap_dir, f"__b={b}")
                    try:
                        self._fs.copytree(self._snapshot_path(src, rel), bucket_dst)
                    except FileNotFoundError:
                        # empty bucket dir (marker-only on an object
                        # store): clone it as empty
                        self._fs.makedirs(bucket_dst)

            copy()
            files = (
                None
                if src_m.files is None
                else {b: f"{name}/__b={b}" for b in src_m.files}
            )
            return _Stage(name, src_m.n_keys, files, copy)

        return self._commit(dst, stage).generation

    def vacuum(self, path: str, grace_s: float = 86400.0) -> int:
        """Remove snapshots not referenced by the latest manifest (loser
        stages and superseded versions). Returns count removed.

        Three safety rules protect concurrent writers:
        - the per-path lock is held (an in-process writer can't be mid
          stage-then-commit);
        - UNREFERENCED stage dirs — commit-race losers left at a
          generation <= committed, and crashed writers' orphans at
          next_gen > committed — are reclaimed only once their newest
          mtime is older than ``grace_s``; younger ones are skipped
          rather than rmtree'd under an in-flight parquet write. After
          the grace window an uncommitted stage is garbage: its owner
          either already failed the manifest put-if-absent and retried
          at a fresh generation, or died between staging and
          publishing. ``grace_s`` is therefore a retention contract,
          exactly like Delta Lake's VACUUM retention (PAPERS.md, Delta
          Lake VLDB 2020 §3.2): it must exceed the longest
          stage-to-publish latency of any live writer, else a stalled
          writer could publish a manifest whose snapshot was reclaimed
          (readers detect that as an explicit "was vacuumed" error, not
          silent corruption). The DEFAULT is 24 h — Delta's equivalent
          retention default is 7 days, and a cross-process writer
          stalled minutes between stage and publish (GC pause,
          partition, slow driver work) must not lose its stage to a
          concurrently-scheduled janitor; tests and aggressive
          reclamation pass an explicit shorter grace. Belt-and-braces:
          every commit path also verifies its staged snapshot still
          exists immediately after winning the generation and restages
          it if reclaimed (_restage_if_vacuumed), so even a
          mis-configured grace window cannot strand a committed HEAD.
        Snapshots referenced by RETAINED HISTORY manifests (superseded
        committed versions) carry no in-flight risk — their commit is
        final — and are reclaimed immediately regardless of age."""
        with self._local_lock(path):
            commits, names = self._commits(path)
            if not names:
                return 0
            live = self._read_manifest(commits, names[-1]).snapshot_dirs()
            # every snapshot any retained commit manifest references:
            # these are finished writes (safe to reclaim when superseded)
            committed_refs = set(live)
            for cname in names[:-1]:
                try:
                    committed_refs |= self._read_manifest(commits, cname).snapshot_dirs()
                except (OSError, ValueError, KeyError):
                    continue
            pot_dir = self._pot_dir(path)
            now = time.time()
            removed = 0
            for name in self._fs.listdir(pot_dir):
                if not name.startswith("snap-") or name in live:
                    continue
                full = self._fs.join(pot_dir, name)
                if name not in committed_refs:
                    # unreferenced stage at gen <= committed: possibly a
                    # commit-race loser still writing — honor the grace.
                    # Age = NEWEST mtime anywhere in the snapshot tree:
                    # bucketed stage writes land in __b=<k> subdirs that
                    # never refresh the top-level dir's mtime, so the
                    # top-level stat alone would age out a stage that is
                    # actively being written. An fs that cannot report
                    # mtimes (object-store JSON subset) raises OSError →
                    # the stage is SKIPPED, never reclaimed blind:
                    # conservative liveness cost, zero corruption risk.
                    try:
                        newest = self._fs.mtime(full)
                        for dirpath, dirnames, filenames in self._fs.walk(full):
                            for child in dirnames + filenames:
                                newest = max(
                                    newest,
                                    self._fs.mtime(
                                        self._fs.join(dirpath, child)
                                    ),
                                )
                    except OSError:
                        continue  # vanished under us, or mtime-less fs
                    if now - newest < grace_s:
                        continue
                self._fs.rmtree(full)
                removed += 1
            return removed

    def compact(self, path: str) -> int:
        """Rewrite the pot's live content into ONE fresh snapshot at a new
        generation (the OPTIMIZE counterpart to `vacuum`). A long chain of
        O(delta) bucketed commits leaves the live table scattered across
        many generations' bucket dirs; compaction collapses it so readers
        touch one directory and `vacuum` can reclaim the entire history.
        Content is byte-identical before/after; the commit uses the same
        put-if-absent manifest publish, so concurrent writers just win or
        lose the generation race as usual. Returns the new generation (or
        0 if the pot is missing)."""
        if self._latest_manifest(path) is None:
            return 0  # a pot never loses its manifests once it has one

        def stage(head: Optional[_Manifest], name: str) -> _Stage:
            snap_dir = self._snapshot_path(path, name)
            files: Optional[dict[str, str]] = None
            if self.spark is None:
                table = self._read_table(self._parts(path, head)).sort_by("key")

                def write() -> None:
                    self._write_snapshot(path, name, table)

            elif head.files is not None:
                # preserve the bucket layout: every bucket rewritten
                # under the single new snapshot dir
                n_buckets = len(head.files)
                files = {str(b): f"{name}/__b={b}" for b in range(n_buckets)}

                def write() -> None:
                    self._write_bucketed(
                        self._df_of(path, head), snap_dir, n_buckets, range(n_buckets)
                    )

            else:

                def write() -> None:
                    self._spark_write_parquet(
                        self._df_of(path, head).coalesce(1), snap_dir
                    )

            write()

            def restage() -> None:
                # a Spark restage re-derives from the OLD head, whose
                # superseded-history snapshot vacuum reclaims with NO
                # grace — a second vacuum landing between the probe and
                # the restage read makes the repair itself raise. The
                # commit has already won, so the repair must not throw
                # out of it: leave the committed HEAD and log; readers
                # get the explicit "was vacuumed" error until the next
                # commit (round-12 advice item).
                try:
                    write()
                except (ValueError, FileNotFoundError, OSError) as e:
                    _LOG.error(
                        "compact(%r): committed generation %d but the "
                        "post-publish restage repair could not re-derive "
                        "the snapshot (old history vacuumed): %s",
                        path,
                        head.generation + 1,
                        e,
                    )

            return _Stage(name, head.n_keys, files, restage)

        return self._commit(path, stage).generation


def open_store(
    root: str, endpoint: Optional[str] = None, bucket: Optional[str] = None
) -> PotStore:
    """A Spark-less store over ``root``: local-rooted by default; with an
    object-store endpoint it runs BUCKET-ROOTED, with conditional-put
    commits and the snapshot data plane through one namespace
    (kv/storefs.py). The CLI's --object-store mode and the "pot" data
    source both open their stores here."""
    if endpoint is not None:
        from pot_spark.kv.backend import ConditionalPutBackend
        from pot_spark.kv.gcs_emulator import HttpObjectStoreClient
        from pot_spark.kv.storefs import ObjectStoreFS

        client = HttpObjectStoreClient(bucket, endpoint)
        return PotStore(
            None, root, backend=ConditionalPutBackend(client), fs=ObjectStoreFS(client)
        )
    return PotStore(None, root)
