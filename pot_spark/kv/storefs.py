"""StoreFS: the pluggable DATA-PLANE filesystem behind PotStore.

kv/backend.py made the COMMIT POINT pluggable (conditional put against
any object store); until round 10 everything else — manifest listing,
snapshot parquet reads/writes, vacuum/clone/export tree walks — was
plain ``os.*``/pyarrow local-path I/O, so a ``gs://`` root only worked
through a FUSE/NFS mount. The reference has no such gap: every read and
write goes straight to the bucket through the SDK (server.go:212-214,
396-400). StoreFS closes it: the store issues all data-plane I/O
through this seam, with three implementations:

- :class:`LocalStoreFS` — the default; byte-identical to the old
  direct os/shutil/pyarrow calls (no wrapper cost on the hot path:
  pyarrow still gets a plain path, not a file object).
- :class:`ObjectStoreFS` — a flat-namespace object store via any
  GCS-JSON-API-shaped client (``upload``/``download``/``list``/
  ``delete``); "directories" are key prefixes with zero-byte
  ``.dirmarker`` objects standing in for empty dirs. Exercised
  end-to-end over REAL HTTP against the in-repo emulator
  (kv/gcs_emulator.py), the same client object the conditional-put
  commit backend uses — so a bucket-rooted store commits AND reads
  through one namespace.
- :class:`FsspecStoreFS` — any fsspec ``AbstractFileSystem``
  (gcsfs, s3fs, adlfs, sshfs, ...), duck-typed so the dependency
  stays optional; production's ``gs://`` residency path.

Scale posture: the dict-plane data I/O through this seam is
driver-side SDK streaming — exactly the reference's own posture (it
reads/writes whole ``data.json`` objects through the GCS SDK, one
object per pot). The BULK plane stays Spark-native where a Hadoop
connector exists: each fs reports a ``spark_url`` and the store feeds
that URI to ``spark.read.parquet`` / ``df.write.parquet`` (distributed
end to end). Only when the fs declares no Spark-readable URL does the
store degrade to staging Spark output locally and streaming it through
the fs — documented, and never silent (the fs choice is explicit).

Empty-directory semantics: POSIX has real empty dirs; object stores do
not. ObjectStoreFS emulates them with ``.dirmarker`` keys so the
bucketed layout's "empty bucket dir" contract (store.py) holds across
backends; ``listdir`` never reports markers.
"""

from __future__ import annotations

import io
import os
import posixpath
import shutil
from typing import Iterator, Optional

import pyarrow as pa
import pyarrow.parquet as pq

_DIRMARKER = ".dirmarker"


class LocalStoreFS:
    """Direct os/shutil/pyarrow — the default and the fast path."""

    sep = os.sep

    def canonical_root(self, root: str) -> str:
        # realpath, not abspath: _pot_dir's containment check compares
        # normalized prefixes, which only holds if the root itself is
        # symlink-free
        return os.path.realpath(root)

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def normjoin(self, root: str, rel: str) -> str:
        return os.path.normpath(os.path.join(root, rel))

    def relpath(self, p: str, start: str) -> str:
        return os.path.relpath(p, start)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, d: str) -> list[str]:
        return os.listdir(d)

    def makedirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def write_bytes(self, p: str, data: bytes) -> None:
        # temp + atomic rename: a crashed writer never leaves a
        # truncated file at the published name
        tmp = p + f".staging-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)

    def read_parquet(self, p: str, schema: pa.Schema) -> pa.Table:
        return pq.read_table(p, schema=schema)

    def write_parquet(self, table: pa.Table, p: str) -> None:
        _write_parquet(table, p)

    def rm_file(self, p: str) -> None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass

    def rmtree(self, p: str) -> None:
        shutil.rmtree(p, ignore_errors=True)

    def copytree(self, src: str, dst: str) -> None:
        shutil.copytree(src, dst)

    def walk(self, top: str) -> Iterator[tuple[str, list[str], list[str]]]:
        return os.walk(top)

    def mtime(self, p: str) -> float:
        return os.path.getmtime(p)

    def spark_url(self, p: str) -> Optional[str]:
        return p

    def upload_tree(self, local_dir: str, dst: str) -> None:
        # local->local "upload" is only hit when a caller forces the
        # staged path; keep it correct anyway
        if os.path.exists(dst):
            shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(local_dir, dst)


def _write_parquet(table: pa.Table, sink) -> None:
    """The one snapshot-parquet encoder (path or file object). Every
    part a store writes is (key, doc) with one row per key, so both
    columns are all-unique and a dictionary page only costs time and
    bytes. Measured in memory on one pinned CPU with ~196 B JSON docs
    (median of 30), dictionary on -> off: 5k docs write 2.37 -> 1.52 ms,
    read 2.35 -> 1.88 ms, 159,824 -> 143,460 bytes; 20k docs write
    7.88 -> 5.58 ms, read 6.67 -> 6.11 ms, 8% fewer bytes."""
    pq.write_table(table, sink, use_dictionary=False)


def _read_parquet_buffer(data: bytes, schema: pa.Schema) -> pa.Table:
    """Decode one in-memory parquet object on the calling thread only.
    pyarrow's defaults hand the read to its CPU pool (use_threads) and
    its background I/O pool (pre_buffer); either pool still running at
    interpreter exit aborts the process with SIGABRT ("terminate called
    without an active exception"). Measured on 4 vCPUs, a process that
    reads one 32-row buffer and exits aborted 31/60 times with the
    defaults, 3/60 with only use_threads=False, 60/200 with only
    pre_buffer=False, and 0/200 with both off."""
    return pq.read_table(
        io.BytesIO(data), schema=schema, use_threads=False, pre_buffer=False
    )


def _iter_local_files(local_dir: str) -> Iterator[tuple[str, str]]:
    """(absolute file, path relative to local_dir) for every data file a
    Spark parquet write leaves behind — skipping _SUCCESS markers and
    .crc sidecars but KEEPING ``__b=...`` partition directories (they
    start with an underscore only at the file level)."""
    for dirpath, _dirnames, filenames in os.walk(local_dir):
        for fn in filenames:
            if fn == "_SUCCESS" or fn.startswith("."):
                continue
            full = os.path.join(dirpath, fn)
            yield full, os.path.relpath(full, local_dir).replace(os.sep, "/")


class _PosixPathMixin:
    """Shared flat-namespace path arithmetic (object stores, fsspec)."""

    sep = "/"

    def write_parquet(self, table: pa.Table, p: str) -> None:
        buf = io.BytesIO()
        _write_parquet(table, buf)
        self.write_bytes(p, buf.getvalue())

    def canonical_root(self, root: str) -> str:
        return posixpath.normpath(root.strip("/")) if root.strip("/") else ""

    def join(self, *parts: str) -> str:
        parts = [p for p in parts if p != ""]
        return posixpath.join(*parts) if parts else ""

    def normjoin(self, root: str, rel: str) -> str:
        return posixpath.normpath(posixpath.join(root, rel) if root else rel)

    def relpath(self, p: str, start: str) -> str:
        return posixpath.relpath(p, start)

    @staticmethod
    def _norm(p: str) -> str:
        """Collapse ``..`` segments before hitting the flat key
        namespace — shallow clones reference sibling pots through
        relative paths (store.py clone), which a POSIX fs resolves but
        an object key prefix match cannot."""
        return posixpath.normpath(p) if p else p

    def _tree_walk(
        self, top: str, child_keys: list[str]
    ) -> Iterator[tuple[str, list[str], list[str]]]:
        """os.walk-compatible topdown walk (INCLUDING dirnames-mutation
        pruning) synthesized from a flat key listing relative to top."""
        tree: dict[str, tuple[set, set]] = {"": (set(), set())}
        for rel in child_keys:
            segs = rel.split("/")
            for i in range(1, len(segs)):
                parent = "/".join(segs[: i - 1])
                tree.setdefault(parent, (set(), set()))[0].add(segs[i - 1])
                tree.setdefault("/".join(segs[:i]), (set(), set()))
            parent = "/".join(segs[:-1])
            node = tree.setdefault(parent, (set(), set()))
            if segs[-1] == _DIRMARKER:
                continue  # marker files never surface in walks
            node[1].add(segs[-1])
        stack = [""]
        while stack:
            rel = stack.pop(0)
            dirs, files = tree.get(rel, (set(), set()))
            dirnames, filenames = sorted(dirs), sorted(files)
            yield (self.join(top, rel) if rel else top), dirnames, filenames
            # honor caller pruning of dirnames (os.walk contract)
            stack[:0] = [self.join(rel, d) if rel else d for d in dirnames]


class ObjectStoreFS(_PosixPathMixin):
    """Data plane over a GCS-shaped object client (upload / download /
    list / delete — the JSON-API subset kv/gcs_emulator.py serves and
    real GCS exposes). Picklable iff the client is (the HTTP client is:
    bucket + endpoint strings), so export tasks can run executor-side.

    ``spark_url_prefix``: when the cluster mounts a Hadoop connector
    for this bucket (e.g. ``gs://bucket``), pass it so the bulk plane
    stays fully distributed; with None the store uses the documented
    stage-and-stream degrade for Spark writes and streams reads through
    the client (the reference's own SDK-streaming posture).

    Listing cost note: ``exists``/``isdir`` probe via a prefix listing,
    which the JSON API pages server-side; a production client wrapper
    should pass ``maxResults=1`` on those probes (the public
    ``objects.list`` parameter) — the store's access pattern only ever
    lists pot-scoped prefixes (one pot's commits or one snapshot dir),
    never the whole bucket, so listings stay O(pot), not O(store)."""

    def __init__(self, client, spark_url_prefix: Optional[str] = None) -> None:
        self.client = client
        self._spark_url_prefix = (
            spark_url_prefix.rstrip("/") if spark_url_prefix else None
        )

    # -- listing helpers ----------------------------------------------
    @staticmethod
    def _under(norm: str) -> str:
        """Key prefix covering everything under ``norm``. The bucket
        root canonicalizes to ``''`` (store.py supports whole-bucket
        roots); its children live under prefix ``''`` — NOT ``'/'``,
        which matches no flat-namespace key."""
        return norm + "/" if norm else ""

    def _children(self, d: str) -> list[str]:
        prefix = self._under(self._norm(d).rstrip("/"))
        return [
            k[len(prefix):]
            for k in self.client.list(prefix=prefix)
            if len(k) > len(prefix)
        ]

    def exists(self, p: str) -> bool:
        p = self._norm(p).rstrip("/")
        if not p:
            # bucket root: exists iff the bucket holds any object
            # (makedirs plants a marker in an empty bucket). Bounded
            # probe: one maxResults=1 page, never a full-bucket drain
            # (the pagination-following client would otherwise
            # enumerate every object just to test non-emptiness);
            # duck-typed so any GCS-shaped client without the kwarg
            # still works.
            try:
                return bool(self.client.list(prefix="", max_results=1))
            except TypeError:
                return bool(self.client.list(prefix=""))
        keys = self.client.list(prefix=p)
        return any(k == p or k.startswith(p + "/") for k in keys)

    def isdir(self, p: str) -> bool:
        return bool(self._children(p))

    def listdir(self, d: str) -> list[str]:
        kids = self._children(d)
        if not kids:
            raise FileNotFoundError(d)
        return sorted({k.split("/", 1)[0] for k in kids} - {_DIRMARKER})

    def makedirs(self, d: str) -> None:
        # object stores have no dirs; a zero-byte marker makes empty
        # dirs observable (bucketed layout's empty-bucket contract)
        d = self._norm(d)
        if not self.isdir(d):
            self.client.upload(self.join(d, _DIRMARKER), b"")

    def read_bytes(self, p: str) -> bytes:
        # raises FileNotFoundError on miss
        return self.client.download(self._norm(p))

    def write_bytes(self, p: str, data: bytes) -> None:
        # whole-object PUT: atomic on object stores by construction
        self.client.upload(self._norm(p), data)

    def rm_file(self, p: str) -> None:
        self.client.delete(self._norm(p))  # missing key: silent no-op

    def read_parquet(self, p: str, schema: pa.Schema) -> pa.Table:
        return _read_parquet_buffer(self.client.download(self._norm(p)), schema)

    def rmtree(self, p: str) -> None:
        # DIRECTORY semantics, matching shutil.rmtree: only keys under
        # the p/ prefix — a plain file at exactly p is refused there
        # (ignore_errors swallows it), so it survives here too; the
        # property test pins Local/Object parity on this
        p = self._norm(p).rstrip("/")
        prefix = self._under(p)
        for k in self.client.list(prefix=prefix):
            if k.startswith(prefix):
                self.client.delete(k)

    def copytree(self, src: str, dst: str) -> None:
        src = self._norm(src).rstrip("/")
        dst = self._norm(dst)
        prefix = self._under(src)
        found = False
        for k in self.client.list(prefix=prefix):
            self.client.upload(self.join(dst, k[len(prefix):]), self.client.download(k))
            found = True
        if not found:
            raise FileNotFoundError(src)

    def walk(self, top: str) -> Iterator[tuple[str, list[str], list[str]]]:
        top = self._norm(top).rstrip("/")
        return self._tree_walk(top, self._children(top))

    def mtime(self, p: str) -> float:
        # objects.get METADATA (the public ``updated`` field) when the
        # client exposes it — lets vacuum age-and-reclaim orphaned
        # stage dirs on bucket roots. A directory "path" has no object
        # of its own: fall back to its .dirmarker (vacuum's walk maxes
        # the real children itself). Without client support, vacuum
        # treats the unknowable mtime as "might be in-flight" and skips
        # the unreferenced stage (conservative: liveness cost, never
        # corruption — committed superseded snapshots still reclaim).
        stat = getattr(self.client, "mtime", None)
        if stat is None:
            raise OSError(f"mtime unsupported on object store: {p}")
        p = self._norm(p)
        try:
            return stat(p)
        except FileNotFoundError:
            try:
                return stat(self.join(p, _DIRMARKER))
            except FileNotFoundError:
                raise OSError(f"no object at {p}") from None

    def spark_url(self, p: str) -> Optional[str]:
        if self._spark_url_prefix is None:
            return None
        return f"{self._spark_url_prefix}/{p.lstrip('/')}"

    def upload_tree(self, local_dir: str, dst: str) -> None:
        dst = self._norm(dst)
        uploaded = False
        for full, rel in _iter_local_files(local_dir):
            with open(full, "rb") as f:
                self.client.upload(self.join(dst, rel), f.read())
            uploaded = True
        if not uploaded:
            self.makedirs(dst)


class FsspecStoreFS(_PosixPathMixin):
    """Data plane over any fsspec ``AbstractFileSystem`` (gcsfs, s3fs,
    adlfs, sshfs, ...), duck-typed — the production ``gs://`` residency
    path. Needs: open/exists/isdir/ls/find/makedirs/rm/modified/cp (all
    core AbstractFileSystem API). ``spark_scheme`` (e.g. ``"gs"``)
    makes the bulk plane fully Spark-native on connector-equipped
    clusters; without it the store uses the stage-and-stream degrade.

    The walk is synthesized from ``find`` instead of fs.walk so
    topdown-pruning (os.walk contract, used by list_paths) works on
    every fsspec version."""

    def __init__(self, fs, spark_scheme: Optional[str] = None) -> None:
        self.fs = fs
        self._scheme = spark_scheme

    def canonical_root(self, root: str) -> str:
        # Unlike bucket-namespace object stores (whose keys never start
        # with '/'), fsspec spans absolute-path filesystems too (local,
        # sshfs, memory://): stripping a leading '/' would silently turn
        # the store root into a relative path. Preserve it.
        stripped = root.strip("/")
        if not stripped:
            return "/" if root.startswith("/") else ""
        norm = posixpath.normpath(stripped)
        return ("/" + norm) if root.startswith("/") else norm

    def exists(self, p: str) -> bool:
        return self.fs.exists(self._norm(p))

    def isdir(self, p: str) -> bool:
        return self.fs.isdir(self._norm(p))

    def listdir(self, d: str) -> list[str]:
        d = self._norm(d)
        if not self.fs.exists(d):
            raise FileNotFoundError(d)
        names = [
            posixpath.basename(e.rstrip("/"))
            for e in self.fs.ls(d, detail=False)
        ]
        return sorted(n for n in names if n != _DIRMARKER)

    def makedirs(self, d: str) -> None:
        self.fs.makedirs(self._norm(d), exist_ok=True)

    def read_bytes(self, p: str) -> bytes:
        p = self._norm(p)
        try:
            with self.fs.open(p, "rb") as f:
                return f.read()
        except (FileNotFoundError, OSError):
            raise FileNotFoundError(p) from None

    def write_bytes(self, p: str, data: bytes) -> None:
        with self.fs.open(self._norm(p), "wb") as f:
            f.write(data)

    def read_parquet(self, p: str, schema: pa.Schema) -> pa.Table:
        with self.fs.open(self._norm(p), "rb") as f:
            return _read_parquet_buffer(f.read(), schema)

    def rm_file(self, p: str) -> None:
        try:
            self.fs.rm(self._norm(p))
        except FileNotFoundError:
            pass

    def rmtree(self, p: str) -> None:
        try:
            self.fs.rm(self._norm(p), recursive=True)
        except FileNotFoundError:
            pass

    def copytree(self, src: str, dst: str) -> None:
        src = self._norm(src).rstrip("/")
        dst = self._norm(dst)
        for k in self.fs.find(src):
            rel = k[len(src) + 1:] if k.startswith(src + "/") else posixpath.basename(k)
            with self.fs.open(k, "rb") as fin:
                data = fin.read()
            target = self.join(dst, rel)
            self.makedirs(posixpath.dirname(target))
            with self.fs.open(target, "wb") as fout:
                fout.write(data)

    def walk(self, top: str) -> Iterator[tuple[str, list[str], list[str]]]:
        top = self._norm(top).rstrip("/")
        prefix = top + "/"
        rels = [
            k[len(prefix):] for k in self.fs.find(top) if k.startswith(prefix)
        ]
        return self._tree_walk(top, rels)

    def mtime(self, p: str) -> float:
        p = self._norm(p)
        modified = getattr(self.fs, "modified", None)
        if modified is None:
            raise OSError(f"mtime unsupported: {p}")
        try:
            m = modified(p)
        except NotImplementedError as e:
            raise OSError(str(e)) from e
        return m.timestamp() if hasattr(m, "timestamp") else float(m)

    def spark_url(self, p: str) -> Optional[str]:
        if self._scheme is None:
            return None
        return f"{self._scheme}://{p.lstrip('/')}"

    def upload_tree(self, local_dir: str, dst: str) -> None:
        uploaded = False
        for full, rel in _iter_local_files(local_dir):
            target = self.join(dst, rel)
            self.makedirs(posixpath.dirname(target))
            with open(full, "rb") as fin, self.fs.open(target, "wb") as fout:
                fout.write(fin.read())
            uploaded = True
        if not uploaded:
            self.makedirs(dst)
