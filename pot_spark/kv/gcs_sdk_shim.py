"""Minimal ``google-cloud-storage``-compatible shim over the GCS JSON
API, for environments with no package index (this sandbox's PyPI is
unreachable, so the real SDK cannot be installed).

Why it exists: :class:`pot_spark.kv.backend.GCSBackend` is the
production commit binding — ``blob.upload_from_string(payload,
if_generation_match=0)`` is the exact primitive the reference relies on
(server.go:670-702) — but with the SDK absent its code path never
EXECUTES in tests; it only import-errors. This shim implements the
documented public API subset GCSBackend and the integration tests
touch (``Client``/``Bucket``/``Blob``,
``upload_from_string(if_generation_match=)``, ``download_as_bytes``,
``lookup_bucket``/``create_bucket``, and
``google.api_core.exceptions.PreconditionFailed``), speaking the same
JSON-API wire protocol to ``STORAGE_EMULATOR_HOST`` that the real SDK
speaks to it. API shapes follow only the PUBLIC docs:
https://cloud.google.com/python/docs/reference/storage/latest.

What it proves: GCSBackend's CALL PATTERN against the documented SDK
surface, end-to-end over real HTTP, including the 412 →
PreconditionFailed mapping and cross-process conditional-put races.
What it cannot prove: bug-for-bug fidelity of the real SDK itself —
that leg still runs wherever ``google-cloud-storage`` is installed
(the tests prefer the real package and only fall back to this shim).

``install()`` registers the shim as ``google.cloud.storage`` +
``google.api_core.exceptions`` in ``sys.modules`` ONLY when the real
packages are absent; it never shadows an installed SDK.
"""

from __future__ import annotations

import importlib.machinery
import importlib.util
import os
import sys
import types
import urllib.error
import urllib.request

from pot_spark.kv.backend import PreconditionFailed as _KvPreconditionFailed
from pot_spark.kv.gcs_emulator import HttpObjectStoreClient


class PreconditionFailed(Exception):
    """Stands in for google.api_core.exceptions.PreconditionFailed
    (the 412 mapping documented for conditional uploads). Used only
    when the GENUINE api_core is nowhere on disk — install() prefers
    the real class (see _load_real_api_core_exceptions)."""


# known on-disk copies of the real google-api-core package in pip-less
# environments (the gcloud CLI vendors it)
_API_CORE_CANDIDATES = [
    "/usr/lib/google-cloud-sdk/lib/third_party",
]
_real_api_core: object | None = None
_real_api_core_probed = False
# the class Blob raises and GCSBackend catches — rebound to the real
# api_core class by install() when one is found on disk
_PRECONDITION_CLS: type[Exception] = PreconditionFailed


def _load_real_api_core_exceptions():
    """Import the GENUINE ``google.api_core.exceptions`` from an on-disk
    copy (the gcloud CLI's vendored third_party), WITHOUT leaving the
    gcloud ``google`` namespace in sys.modules/sys.path — the import
    happens under a save/evict/restore of all google.* entries, and only
    the exceptions module object (whose classes stay valid after the
    eviction) is kept. This closes most of the round-11 'real SDK
    fidelity' gap the environment allows: the 412 -> PreconditionFailed
    mapping then uses google-api-core's REAL exception class (real MRO,
    real .code == 412), not a stand-in; only the storage Client/Bucket/
    Blob surface remains shimmed (PyPI is unreachable here — verified:
    'No matching distribution found for google-cloud-storage')."""
    global _real_api_core, _real_api_core_probed
    if _real_api_core_probed:
        return _real_api_core
    _real_api_core_probed = True
    for root in _API_CORE_CANDIDATES:
        if not os.path.isfile(
            os.path.join(root, "google", "api_core", "exceptions.py")
        ):
            continue
        saved = {
            m: sys.modules[m]
            for m in list(sys.modules)
            if m == "google" or m.startswith("google.")
        }
        saved_path = list(sys.path)
        try:
            for m in list(saved):
                del sys.modules[m]
            sys.path.insert(0, root)
            from google.api_core import exceptions as real_exc

            _real_api_core = real_exc
            return real_exc
        except Exception:  # noqa: BLE001 - fidelity upgrade is best-effort
            continue
        finally:
            sys.path[:] = saved_path
            for m in [
                m
                for m in sys.modules
                if m == "google" or m.startswith("google.")
            ]:
                del sys.modules[m]
            sys.modules.update(saved)
    return None


def _endpoint() -> str:
    ep = os.environ.get("STORAGE_EMULATOR_HOST", "")
    if not ep:
        raise RuntimeError(
            "gcs_sdk_shim needs STORAGE_EMULATOR_HOST (it only ever"
            " targets an emulator endpoint, never production GCS)"
        )
    return ep if "://" in ep else f"http://{ep}"


class Blob:
    def __init__(self, bucket: "Bucket", name: str) -> None:
        self.bucket = bucket
        self.name = name

    def _client(self) -> HttpObjectStoreClient:
        return HttpObjectStoreClient(self.bucket.name, _endpoint())

    def upload_from_string(
        self, data, content_type: str | None = None, if_generation_match: int | None = None
    ) -> None:
        payload = data.encode() if isinstance(data, str) else bytes(data)
        try:
            self._client().upload(
                self.name, payload, if_generation_match=if_generation_match
            )
        except _KvPreconditionFailed as e:
            # the ACTIVE class: the real api_core PreconditionFailed when
            # one was found on disk, else the stand-in — always the same
            # class GCSBackend imported from google.api_core.exceptions
            raise _PRECONDITION_CLS(str(e)) from e

    def download_as_bytes(self) -> bytes:
        return self._client().download(self.name)

    def exists(self) -> bool:
        try:
            self.download_as_bytes()
            return True
        except FileNotFoundError:
            return False


class Bucket:
    def __init__(self, client: "Client", name: str) -> None:
        self.client = client
        self.name = name

    def blob(self, name: str) -> Blob:
        return Blob(self, name)


class Client:
    """Constructor shape of storage.Client(project=...); honors
    STORAGE_EMULATOR_HOST exactly like the real SDK does."""

    def __init__(self, project: str | None = None, **_: object) -> None:
        self.project = project

    def bucket(self, name: str) -> Bucket:
        return Bucket(self, name)

    def lookup_bucket(self, name: str) -> Bucket | None:
        url = f"{_endpoint()}/storage/v1/b/{name}"
        try:
            urllib.request.urlopen(url, timeout=10)
            return Bucket(self, name)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def create_bucket(self, name: str) -> Bucket:
        HttpObjectStoreClient(name, _endpoint()).create_bucket()
        return Bucket(self, name)


def _have_real_sdk() -> bool:
    try:
        return importlib.util.find_spec("google.cloud.storage") is not None
    except (ImportError, ModuleNotFoundError, ValueError):
        return False


def install() -> bool:
    """Register the shim as google.cloud.storage/google.api_core.
    exceptions iff the real SDK is absent. Returns True when the shim
    is (now) the active provider. Idempotent; spawn-safe (child
    processes call it again before importing GCSBackend)."""
    if _have_real_sdk():
        return False
    def _shim_module(name: str) -> types.ModuleType:
        mod = sys.modules.get(name)
        if mod is None:
            mod = types.ModuleType(name)
            mod.__pot_spark_shim__ = True
            # Namespace-package shape: without a __path__, a later
            # `import google.protobuf` (a pip-installed protobuf beside
            # the shim) fails with "'google' is not a package" instead
            # of falling through to the path-based finder. Point
            # __path__ at any real on-disk portions of the namespace so
            # genuine submodules still import; [] when none exist.
            mod.__path__ = [
                d
                for d in (
                    os.path.join(entry, *name.split("."))
                    for entry in sys.path
                    if entry
                )
                if os.path.isdir(d)
            ]
            spec = importlib.machinery.ModuleSpec(name, None, is_package=True)
            spec.submodule_search_locations = mod.__path__
            mod.__spec__ = spec
        return mod

    storage_mod = _shim_module("google.cloud.storage")
    storage_mod.Client = Client
    storage_mod.Bucket = Bucket
    storage_mod.Blob = Blob
    exc_mod = _shim_module("google.api_core.exceptions")
    # prefer the GENUINE api_core exception class when an on-disk copy
    # exists (gcloud's vendored google-api-core): GCSBackend then
    # catches the real PreconditionFailed (real MRO, .code == 412)
    # end-to-end, and the Blob raise site uses the same class
    global _PRECONDITION_CLS
    real_exc = _load_real_api_core_exceptions()
    if real_exc is not None:
        _PRECONDITION_CLS = real_exc.PreconditionFailed
        exc_mod.__pot_spark_real_api_core__ = real_exc.__file__
    exc_mod.PreconditionFailed = _PRECONDITION_CLS
    api_core = _shim_module("google.api_core")
    api_core.exceptions = exc_mod
    cloud = _shim_module("google.cloud")
    cloud.storage = storage_mod
    google = _shim_module("google")
    google.cloud = cloud
    google.api_core = api_core
    for name, mod in (
        ("google", google),
        ("google.cloud", cloud),
        ("google.cloud.storage", storage_mod),
        ("google.api_core", api_core),
        ("google.api_core.exceptions", exc_mod),
    ):
        sys.modules[name] = mod
    return True


def uninstall() -> None:
    """Remove shim-registered modules (test hygiene); modules that
    existed before install() (no shim marker) are left alone."""
    for name in (
        "google.cloud.storage",
        "google.api_core.exceptions",
        "google.api_core",
        "google.cloud",
        "google",
    ):
        mod = sys.modules.get(name)
        if mod is not None and getattr(mod, "__pot_spark_shim__", False):
            del sys.modules[name]
