"""Commit backends: the put-if-absent primitive behind PotStore's commit
point, extracted as a seam so the store runs against object stores.

The reference's entire deployment model is conditional writes against a
cloud bucket (server.go:670-702: GCS ``if_generation_match`` /
``DoesNotExist`` preconditions guard both the .potlock and data.json
publishes). PotStore's Delta-style protocol needs exactly ONE primitive
from storage: atomically create a manifest object iff it does not
already exist, with full content visible to any subsequent reader.
Everything else (snapshot writes under unique names, manifest listing)
is plain I/O with no atomicity requirement.

Mapping of that primitive per store:

- local/NFS filesystem: write-temp + fsync + ``os.link`` (an atomic
  create-if-absent of complete content) — ``LocalFSBackend``;
- GCS: ``blob.upload_from_string(payload, if_generation_match=0)``,
  losing writers get 412 PreconditionFailed — ``GCSBackend`` (real
  binding, import-gated) or ``ConditionalPutBackend`` over any client;
- S3 (since 2024) / Azure Blob: ``PutObject`` with ``If-None-Match: *``
  — same shape, adapt via ``ConditionalPutBackend``;
- HDFS: write-temp + ``rename`` (rename fails if the target exists).

The OCC protocol above the seam is backend-agnostic: a ``False`` from
``put_if_absent`` means another writer won that generation; the store
re-reads fresh state and retries (store.py:PotStore._commit, the one
commit loop every write goes through). The race tests in
tests/test_kv_multiprocess.py parameterize over backends to pin that
the protocol — not the local-FS primitive — carries the guarantee.
"""

from __future__ import annotations

import os
import time
import uuid
from abc import ABC, abstractmethod


class PreconditionFailed(Exception):
    """A conditional put lost: the target object already exists.

    Mirrors GCS's 412 PreconditionFailed for ``if_generation_match=0``
    (the reference maps the same status to ErrLocked, server.go:688-696).
    """


class CommitBackend(ABC):
    """The one storage primitive the commit protocol needs."""

    #: read-only backends flip this; PotStore skips the constructor's
    #: root makedirs for them (a reader must not write the namespace)
    read_only = False

    @abstractmethod
    def put_if_absent(self, target: str, payload: bytes) -> bool:
        """Atomically create ``target`` holding exactly ``payload`` iff no
        object exists there. Returns True on win, False if the target
        already exists (another writer committed this generation first).
        Readers must never observe a partially-written target."""


class ReadOnlyBackend(CommitBackend):
    """For stores that only READ (e.g. per-task export replicas): any
    commit attempt is a contract error, not a silent namespace split.
    ``read_only`` also suppresses the constructor's root ``makedirs`` —
    a reader replica must never write (not even a .dirmarker) into the
    source namespace."""

    read_only = True

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        raise RuntimeError(
            f"read-only store: refusing to commit {target!r}"
        )


class LocalFSBackend(CommitBackend):
    """POSIX filesystems: stage under a dot-name the manifest lister
    ignores, fsync, then ``os.link`` — an atomic create-if-absent of
    complete content. Creating the target first and filling it after
    would expose readers to half-written JSON and a dead writer would
    brick the pot with a truncated commit file."""

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        d = os.path.dirname(target)
        os.makedirs(d, exist_ok=True)
        staging = os.path.join(d, f".staged-{uuid.uuid4().hex}")
        # the whole staging lifetime sits under one try/finally: an
        # ENOSPC/I-O error mid-write must not leak a permanent
        # .staged-* file into the commits dir
        try:
            with open(staging, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(staging, target)
            except FileExistsError:
                return False
            # durable commit point: fsync the directory so the link
            # entry itself survives power loss — without this a
            # put_if_absent that returned True can vanish, and a
            # competing writer could later "win" the same generation
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            return True
        finally:
            try:
                os.unlink(staging)
            except FileNotFoundError:
                pass


class ConditionalPutBackend(CommitBackend):
    """Adapter over any object-store client exposing the GCS-shaped
    ``upload(key, data, if_generation_match=0)`` call that raises
    :class:`PreconditionFailed` when the object exists.

    The client must be rooted such that ``key`` (the store-absolute
    manifest path) lands where the store's readers look — i.e. the
    bucket/prefix the client wraps IS the store root. This repo tests it
    with :class:`EmulatedObjectStoreClient`; production swaps in a thin
    wrapper over the real SDK with the same two-line ``upload``."""

    def __init__(self, client) -> None:
        self.client = client

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        try:
            self.client.upload(target, payload, if_generation_match=0)
            return True
        except PreconditionFailed:
            return False


class EmulatedObjectStoreClient:
    """A conditional-put object store emulated over a local directory:
    ``upload(key, data, if_generation_match=0)`` is atomic ACROSS
    PROCESSES and raises :class:`PreconditionFailed` on conflict —
    the observable contract of a GCS bucket, minus the network.

    Internally the emulation uses the same link primitive a real bucket
    replaces with server-side atomicity; what the parameterized race
    tests exercise is the store's OCC protocol THROUGH THE SEAM (retry
    on loss, generation bump, single winner), which is the part that
    survives a backend swap."""

    def __init__(self, bucket_root: str = "/") -> None:
        self.bucket_root = bucket_root

    def _object_path(self, key: str) -> str:
        if key.startswith("/") and self.bucket_root == "/":
            return key
        return os.path.join(self.bucket_root, key.lstrip("/"))

    def upload(
        self, key: str, data: bytes, if_generation_match: int | None = None
    ) -> None:
        path = self._object_path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if if_generation_match is None:
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)  # unconditional overwrite, still atomic
            return
        if if_generation_match != 0:
            raise NotImplementedError(
                "emulator supports only if_generation_match=0 (create-if-absent)"
            )
        staging = path + f".staged-{uuid.uuid4().hex}"
        with open(staging, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(staging, path)
        except FileExistsError:
            raise PreconditionFailed(key) from None
        finally:
            os.unlink(staging)


class GCSBackend(CommitBackend):
    """Real google-cloud-storage binding (import-gated — the dependency
    is optional and absent in this container; constructing the backend
    without it raises ImportError with the install hint).

    ``blob.upload_from_string(payload, if_generation_match=0)`` is the
    exact primitive the reference relies on for its lock and data
    publishes (server.go:670-702)."""

    def __init__(self, bucket_name: str, prefix: str = "") -> None:
        try:
            from google.api_core import exceptions as gexc  # type: ignore
            from google.cloud import storage  # type: ignore
        except ImportError as e:  # pragma: no cover - optional dependency
            raise ImportError(
                "GCSBackend requires google-cloud-storage "
                "(pip install google-cloud-storage)"
            ) from e
        self._bucket = storage.Client().bucket(bucket_name)
        self._prefix = prefix.strip("/")
        self._precondition_failed = gexc.PreconditionFailed

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        key = "/".join(p for p in (self._prefix, target.lstrip("/")) if p)
        blob = self._bucket.blob(key)
        try:
            blob.upload_from_string(payload, if_generation_match=0)
            return True
        except self._precondition_failed:
            return False


class FsspecBackend(CommitBackend):
    """Portability fallback: commit through any fsspec-style filesystem
    object — anything exposing ``open(path, "xb")`` with
    exclusive-create semantics, ``exists``, ``mv``,
    ``makedirs(path, exist_ok=True)`` and ``rm(path)``. Covers every
    storage a deployer can mount through fsspec (local, NFS, SSHFS,
    adlfs, ...) with one class.

    Protocol (two sidecars, both dot-named and suffix-free so manifest
    listers never see them):

    1. CLAIM — exclusive-create ``.<name>.claim`` decides the single
       winner for this generation (losers get False).
    2. PUBLISH — the winner writes the full payload to a staging key,
       then atomically ``mv``s it onto the target. Readers therefore
       observe either NO manifest or a COMPLETE one; a writer that
       hard-crashes mid-write can never leave a truncated file at the
       committed generation (the round-7 advice finding — the old
       commit point was the exclusive create itself, payload after).
    3. A late claimant re-checks the target after claiming: a winner
       removes its claim only AFTER the mv, so acquiring a freed claim
       implies the target is already visible — the re-check prevents a
       second mv from overwriting a committed manifest.

    Crash handling: a dead writer leaves a claim with no target —
    a LIVENESS stall (everyone gets False), never corruption. When the
    filesystem exposes ``modified``, claims older than
    ``claim_horizon_s`` with no target are reclaimed (same
    mtime-horizon degrade as the archive lock, archive.py). Each claim
    carries its writer's nonce, and the winner re-verifies claim
    ownership (and target absence) immediately before the publishing
    ``mv`` — so a writer stalled past the horizon but still alive
    (GC pause, network stall) whose claim was reclaimed aborts with
    False instead of mv'ing over the reclaimer's committed manifest
    (the round-8 advice finding: reclaim must keep the single-winner
    contract even when the "dead" writer resumes). RESIDUAL WINDOW:
    fsspec has no compare-and-swap, so the ownership re-check and the
    publishing ``mv`` cannot be one atomic step — a reclaim landing in
    the gap between ``_owns_claim()`` and ``mv`` (now one syscall wide,
    down from the whole stage write) can still let the stalled writer's
    mv overwrite the reclaimer's manifest. Both writers held the same
    generation's complete payload, so the committed content is a valid
    manifest either way; what the window costs is strict
    single-winner attribution. Deployers on shared filesystems should
    size ``claim_horizon_s`` well above their worst-case stall (GC
    pause, NFS retry storm) — the race requires a writer stalled past
    the horizon yet resuming within one syscall of the reclaimer's
    publish. Where true atomicity is required, use the conditional-put
    backend. Without ``modified`` the claim must be removed manually
    and put_if_absent says so in the docstring contract. In-process write failures roll
    back both sidecars. For object stores whose fsspec layer emulates
    "xb" with a non-atomic exists+put, this backend is NOT safe — use
    the conditional-put backend instead."""

    def __init__(
        self, fs, prefix: str = "/", claim_horizon_s: float = 300.0
    ) -> None:
        self.fs = fs
        # "/" mounts the fs at the filesystem root (targets are
        # store-absolute paths); a bucket-style prefix maps them under it
        self._prefix = prefix if prefix == "/" else prefix.rstrip("/")
        self.claim_horizon_s = claim_horizon_s

    @classmethod
    def from_url(cls, url: str) -> "FsspecBackend":
        """Build from an fsspec URL (``file:///data/pots``,
        ``ssh://host/path``, ...). Import-gated: fsspec is optional and
        absent in this container."""
        try:
            import fsspec  # type: ignore
        except ImportError as e:  # pragma: no cover - optional dependency
            raise ImportError(
                "FsspecBackend.from_url requires fsspec (pip install fsspec)"
            ) from e
        fs, _, paths = fsspec.get_fs_token_paths(url)
        return cls(fs, paths[0])

    def _key(self, target: str) -> str:
        t = target.lstrip("/")
        if self._prefix == "/":
            return "/" + t
        return f"{self._prefix}/{t}" if self._prefix else t

    def _claim_age(self, claim: str) -> float | None:
        """Seconds since the claim's last modification, or None when the
        fs cannot say (no ``modified`` support) — None disables reclaim."""
        modified = getattr(self.fs, "modified", None)
        if modified is None:
            return None
        try:
            mtime = modified(claim)
        except (OSError, NotImplementedError):
            return None
        ts = mtime.timestamp() if hasattr(mtime, "timestamp") else float(mtime)
        return time.time() - ts

    def _owns_claim(self, claim: str, nonce: bytes) -> bool:
        """True iff the claim file still exists and carries ``nonce``
        (written by this writer at claim time). A reclaimed-and-replaced
        claim holds the reclaimer's nonce; a missing claim means the
        reclaimer already published and cleaned up. Read failures count
        as lost ownership — returning False never commits, which is the
        safe side of the put-if-absent contract."""
        try:
            with self.fs.open(claim, "rb") as f:
                return f.read() == nonce
        except (OSError, FileNotFoundError):
            return False

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        key = self._key(target)
        parent, name = key.rsplit("/", 1) if "/" in key else ("", key)
        if parent:
            self.fs.makedirs(parent, exist_ok=True)
        claim = f"{parent}/.{name}.claim" if parent else f".{name}.claim"
        # one retry: the second pass only runs after reclaiming a
        # horizon-expired dead claim
        for _ in range(2):
            if self.fs.exists(key):
                return False
            nonce = uuid.uuid4().hex.encode()
            try:
                cf = self.fs.open(claim, "xb")
            except FileExistsError:
                if self.fs.exists(key):
                    return False  # committed while we looked
                age = self._claim_age(claim)
                if age is None or age < self.claim_horizon_s:
                    return False  # live (or unknowable) writer in flight
                try:  # dead writer: claim past horizon, no target
                    self.fs.rm(claim)
                except OSError:
                    pass
                continue
            try:
                cf.write(nonce)
            finally:
                cf.close()
            # a freed claim is only acquirable AFTER the previous
            # winner's mv — re-check so we never mv over a committed
            # manifest (claim removal below happens only post-publish)
            if self.fs.exists(key):
                try:
                    self.fs.rm(claim)
                except OSError:
                    pass
                return False
            stage = (
                f"{parent}/.{name}.stage-{uuid.uuid4().hex}"
                if parent
                else f".{name}.stage-{uuid.uuid4().hex}"
            )
            try:
                with self.fs.open(stage, "wb") as f:
                    f.write(payload)
                # Ownership re-check right before publishing: a writer
                # stalled past claim_horizon_s may have had its claim
                # reclaimed by a newer writer (round-8 advice). The
                # claim carries this writer's nonce; if the claim is
                # gone or holds someone else's nonce, the reclaimer
                # owns the generation now — abort instead of mv'ing
                # over what it committed (or is about to commit).
                if not self._owns_claim(claim, nonce) or self.fs.exists(key):
                    try:
                        self.fs.rm(stage)
                    except OSError:
                        pass
                    # if the claim is still OURS (key committed by an
                    # earlier winner before we claimed), release it so
                    # the dot-file doesn't linger until the horizon
                    if self._owns_claim(claim, nonce):
                        try:
                            self.fs.rm(claim)
                        except OSError:
                            pass
                    return False
                # commit point: atomic move of COMPLETE content
                self.fs.mv(stage, key)
            except BaseException:
                # roll both sidecars back so an in-process failure
                # neither bricks the generation nor leaks staging files
                # (the claim only if still ours — a reclaimer's claim
                # must survive our rollback)
                try:
                    self.fs.rm(stage)
                except OSError:
                    pass
                if self._owns_claim(claim, nonce):
                    try:
                        self.fs.rm(claim)
                    except OSError:
                        pass
                raise
            try:
                self.fs.rm(claim)
            except OSError:
                pass
            return True
        return False
