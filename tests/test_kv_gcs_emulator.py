"""REAL conditional-put integration over HTTP: the put-if-absent seam
raced across processes with the 412 coming back over a socket.

Two legs:

- ALWAYS RUNS: pot_spark.kv.gcs_emulator's FakeGCSServer (in-repo GCS
  JSON-API subset, real ThreadingHTTPServer) + the SDK-free
  HttpObjectStoreClient through ConditionalPutBackend — the genuine
  commit path, a genuine process/socket boundary, zero dependencies.
  When ``STORAGE_EMULATOR_HOST`` points at a live emulator
  (fake-gcs-server), that endpoint is used instead of self-provisioning.
- SDK leg (cluster images): the same flows through the real
  google-cloud-storage client — importorskips where the package is
  absent (like this container).

    docker run -p 4443:4443 fsouza/fake-gcs-server -scheme http
    export STORAGE_EMULATOR_HOST=http://localhost:4443
    python -m pytest tests/test_kv_gcs_emulator.py -q
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import urllib.request
import uuid

import pytest

from pot_spark.kv.backend import ConditionalPutBackend, PreconditionFailed
from pot_spark.kv.gcs_emulator import FakeGCSServer, HttpObjectStoreClient


def _reachable(endpoint: str) -> bool:
    try:
        urllib.request.urlopen(
            f"{endpoint.rstrip('/')}/storage/v1/b", timeout=2
        )
        return True
    except Exception:  # noqa: BLE001 - any failure means "not provisioned"
        return False


@pytest.fixture(scope="module")
def emulator_endpoint():
    ext = os.environ.get("STORAGE_EMULATOR_HOST")
    if ext and _reachable(ext):
        yield ext
        return
    server = FakeGCSServer()
    endpoint = server.start()
    try:
        yield endpoint
    finally:
        server.stop()


def test_http_conditional_put_end_to_end(emulator_endpoint):
    """Win once, lose thereafter (412 over the wire), content intact —
    through ConditionalPutBackend + the HTTP client against a live
    emulator endpoint."""
    bucket = f"pot-it-{uuid.uuid4().hex[:12]}"
    client = HttpObjectStoreClient(bucket, emulator_endpoint)
    client.create_bucket()
    be = ConditionalPutBackend(client)
    assert be.put_if_absent("/c/1.json", b'{"generation": 1}') is True
    assert be.put_if_absent("/c/1.json", b'{"generation": 9}') is False
    assert json.loads(client.download("/c/1.json"))["generation"] == 1
    # the raw precondition surfaces as the protocol exception
    with pytest.raises(PreconditionFailed):
        client.upload("/c/1.json", b"x", if_generation_match=0)


def _http_racer(args):
    endpoint, bucket, i, gen = args
    from pot_spark.kv.backend import ConditionalPutBackend
    from pot_spark.kv.gcs_emulator import HttpObjectStoreClient

    be = ConditionalPutBackend(HttpObjectStoreClient(bucket, endpoint))
    won = be.put_if_absent(
        f"/race/commits/{gen:020d}.json",
        json.dumps({"writer": i, "generation": gen}).encode(),
    )
    return i, won


def test_cross_process_race_over_http(emulator_endpoint):
    """The put-if-absent primitive raced across 4 processes, each
    speaking HTTP to one emulator: exactly ONE winner per generation
    and the committed payload is the winner's — the object-store
    deployment's commit race with a real socket boundary."""
    bucket = f"pot-race-{uuid.uuid4().hex[:12]}"
    client = HttpObjectStoreClient(bucket, emulator_endpoint)
    client.create_bucket()
    for gen in (1, 2):
        with mp.get_context("spawn").Pool(4) as pool:
            results = pool.map(
                _http_racer,
                [(emulator_endpoint, bucket, i, gen) for i in range(4)],
            )
        winners = [i for i, won in results if won]
        assert len(winners) == 1, results
        blob = json.loads(client.download(f"/race/commits/{gen:020d}.json"))
        assert blob["writer"] == winners[0]


def test_store_occ_through_http_backend(emulator_endpoint, tmp_path):
    """PotStore's full OCC protocol with its commit point on the HTTP
    conditional put: two writers, two generations, replayable history.
    The manifest READ path stays local-filesystem by design — the seam
    the protocol needs from object storage is exactly the conditional
    put, so the client mirrors committed manifests to the local root
    the readers list (the test_gcs_backend_drives_store_occ shape, now
    over a real wire)."""
    from pot_spark.kv.store import PotStore

    bucket = f"pot-occ-{uuid.uuid4().hex[:12]}"
    root = str(tmp_path)

    class MirroringClient(HttpObjectStoreClient):
        def upload(self, key, payload, if_generation_match=None):
            super().upload(key, payload, if_generation_match=if_generation_match)
            path = key if key.startswith("/") else f"/{key}"
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(payload)

    client = MirroringClient(bucket, emulator_endpoint)
    client.create_bucket()
    store = PotStore(None, root, backend=ConditionalPutBackend(client))
    store.create("gcs/pot", {"id": "a", "v": 1})
    store.create("gcs/pot", {"id": "b", "v": 2})
    assert set(store.get("gcs/pot")) == {"a", "b"}
    assert len(store.get_at("gcs/pot", 1)) == 1


# ---------------------------------------------------------------------------
# SDK leg: the same flows through the google-cloud-storage API surface.
# With the real package installed (cluster images) it runs the genuine
# SDK against STORAGE_EMULATOR_HOST; in this sandbox (public PyPI
# unreachable) it runs pot_spark.kv.gcs_sdk_shim — a vendored minimal
# implementation of the documented Client/Bucket/Blob subset over the
# same JSON-API endpoint — so GCSBackend's code path EXECUTES either
# way and the suite reports 0 skips. What the shim leg proves is
# GCSBackend's call pattern against the documented public API (incl.
# the 412 -> PreconditionFailed mapping) over real HTTP; SDK
# bug-for-bug fidelity is only claimed where the real package runs.
# ---------------------------------------------------------------------------


@pytest.fixture()
def sdk_env(emulator_endpoint, monkeypatch):
    """Yields 'sdk' (real package) or 'shim'; either way
    google.cloud.storage is importable and pointed at a live emulator
    endpoint via STORAGE_EMULATOR_HOST."""
    from pot_spark.kv import gcs_sdk_shim

    monkeypatch.setenv("STORAGE_EMULATOR_HOST", emulator_endpoint)
    installed = gcs_sdk_shim.install()
    try:
        yield "shim" if installed else "sdk"
    finally:
        if installed:
            gcs_sdk_shim.uninstall()


def _make_bucket(name: str) -> None:
    from google.cloud import storage

    client = storage.Client(project="test-project")
    if client.lookup_bucket(name) is None:
        client.create_bucket(name)


def test_gcs_backend_conditional_put_end_to_end(sdk_env):
    """Win once, lose thereafter, content intact — through the
    google-cloud-storage API surface (real SDK or the vendored shim),
    against a live emulator."""
    from pot_spark.kv.backend import GCSBackend

    bucket = f"pot-it-{uuid.uuid4().hex[:12]}"
    _make_bucket(bucket)
    be = GCSBackend(bucket)
    assert be.put_if_absent("/c/1.json", b'{"generation": 1}') is True
    assert be.put_if_absent("/c/1.json", b'{"generation": 9}') is False

    from google.cloud import storage

    blob = storage.Client(project="test-project").bucket(bucket).blob(
        "c/1.json"
    )
    assert json.loads(blob.download_as_bytes())["generation"] == 1


def _gcs_racer(args):
    bucket, i, gen = args
    from pot_spark.kv import gcs_sdk_shim

    gcs_sdk_shim.install()  # no-op when the real SDK is importable
    from pot_spark.kv.backend import GCSBackend

    be = GCSBackend(bucket)
    won = be.put_if_absent(
        f"/race/commits/{gen:020d}.json",
        json.dumps({"writer": i, "generation": gen}).encode(),
    )
    return i, won


def test_cross_process_race_through_real_client(sdk_env):
    """The same race through the google-cloud-storage conditional put
    (real SDK or shim — each RACER process resolves its own, spawn-
    fresh): exactly ONE winner per generation, committed payload is
    the winner's."""
    bucket = f"pot-race-{uuid.uuid4().hex[:12]}"
    _make_bucket(bucket)
    for gen in (1, 2):
        with mp.get_context("spawn").Pool(4) as pool:
            results = pool.map(
                _gcs_racer, [(bucket, i, gen) for i in range(4)]
            )
        winners = [i for i, won in results if won]
        assert len(winners) == 1, results

        from google.cloud import storage

        blob = (
            storage.Client(project="test-project")
            .bucket(bucket)
            .blob(f"race/commits/{gen:020d}.json")
        )
        assert json.loads(blob.download_as_bytes())["writer"] == winners[0]


def test_shim_binds_real_api_core_exception_when_on_disk(sdk_env):
    """Round-12 fidelity upgrade: PyPI is unreachable here (verified:
    'No matching distribution found'), but the gcloud CLI vendors the
    GENUINE google-api-core — when that copy exists on disk, the shim
    must bind google.api_core.exceptions.PreconditionFailed to the real
    class (real MRO through GoogleAPICallError, real .code == 412), so
    GCSBackend's 412 mapping is exercised against google-api-core's
    actual exception type, not a stand-in."""
    import importlib
    import os

    from pot_spark.kv import gcs_sdk_shim

    exc = importlib.import_module("google.api_core.exceptions")
    on_disk = any(
        os.path.isfile(os.path.join(r, "google", "api_core", "exceptions.py"))
        for r in gcs_sdk_shim._API_CORE_CANDIDATES
    )
    if sdk_env == "shim" and on_disk:
        assert getattr(exc, "__pot_spark_real_api_core__", None)
        assert exc.PreconditionFailed.code == 412
        mro = [c.__name__ for c in exc.PreconditionFailed.__mro__]
        assert "GoogleAPICallError" in mro
    # either way the active class is exactly what Blob raises on 412
    assert gcs_sdk_shim._PRECONDITION_CLS is exc.PreconditionFailed


def test_emulator_import_loads_no_engine():
    """The emulator process (and anything else that needs only a
    pot_spark.kv submodule) must not pay for pyspark/pyarrow: the
    package __init__s re-export PotStore/PotClient lazily."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, pot_spark.kv.gcs_emulator; "
            "print(sorted(m for m in ('pyspark', 'pyarrow') if m in sys.modules))",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout

