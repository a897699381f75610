"""PotClient vs the HTTP shim — the reference's typed-client flows
(client_test.go TestFlow:98-173, TestListPaths:61-96, the norewrite race
at client_test.go:175-245, and the election renewal protocol at
client_test.go:247-339) run client/server-split over real HTTP."""

from __future__ import annotations

import threading
import time

import pytest

from pot_spark.kv import CommitConflict, NoRewriteViolated, PotClient, PotStore
from pot_spark.kv.client import format_go_duration
from pot_spark.kv.http_server import parse_go_duration, serve


@pytest.fixture()
def srv(tmp_path):
    store = PotStore(None, str(tmp_path / "potroot"))
    server = serve(store, port=0)
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}", store
    server.shutdown()


def test_flow_roundtrip(srv):
    """client_test.go:98-173: create (always-batch under the hood),
    get it back golden-equal, list shows the path, remove empties."""
    base, _ = srv
    client = PotClient(base)
    doc = {
        "id": "test",
        "age": 10,
        "path": ["test", "path", "to", "test"],
        "NiceThings": [{"name": "test"}, {"name": "test2"}],
    }
    gen = client.create("test/path", [doc])
    assert gen == 1
    assert client.get("test/path") == {"test": doc}
    assert client.list_paths() == ["test/path"]
    assert client.list_paths("test") == ["test/path"]
    assert client.list_paths("other") == []
    client.remove("test/path", "test")
    assert client.get("test/path") == {}


def test_create_accepts_explicit_key_map(srv):
    base, _ = srv
    client = PotClient(base)
    client.create("m/p", {"k1": {"v": 1}, "k2": {"v": 2}})
    assert set(client.get("m/p")) == {"k1", "k2"}


def test_model_decoder_types_the_content(srv):
    """The Go client is Client[T]; the Python counterpart decodes each
    doc through `model` — same projection, duck-typed."""
    base, _ = srv
    client = PotClient(base)
    client.create("t/p", [{"id": "a", "age": 3}])
    typed = PotClient(base, model=lambda d: d["age"])
    assert typed.get("t/p") == {"a": 3}


def test_norewrite_race_and_generation_cache(srv):
    """client_test.go:175-245 + renewal: the loser maps 423 ->
    NoRewriteViolated; the winner's cached generation renews the lease
    without the caller threading generations by hand."""
    base, _ = srv
    w0, w1 = PotClient(base), PotClient(base)
    gen = w0.create("e/p", [{"id": "leader", "holder": "w0"}], norewrite=60.0)
    assert gen == 1 and w0.generation_of("e/p") == 1
    with pytest.raises(NoRewriteViolated):
        w1.create("e/p", [{"id": "leader", "holder": "w1"}], norewrite=60.0)
    # renewal via the cache: w0 just creates again
    assert w0.create("e/p", [{"id": "leader", "holder": "w0"}], norewrite=60.0) == 2
    assert w0.generation_of("e/p") == 2
    # after dropping ownership, w0 is an ordinary loser too
    w0.drop_generation("e/p")
    with pytest.raises(NoRewriteViolated):
        w0.create("e/p", [{"id": "leader", "holder": "w0"}], norewrite=60.0)


def test_conditional_remove_over_http(srv):
    """DELETE ?generation=N (engine extension): stale generation loses
    with 423 -> NoRewriteViolated; current generation commits."""
    base, _ = srv
    client = PotClient(base)
    client.create("c/p", [{"id": "a"}])
    client.create("c/p", [{"id": "b"}])  # generation now 2
    with pytest.raises(NoRewriteViolated):
        client.remove("c/p", "a", generation=1)
    assert set(client.get("c/p")) == {"a", "b"}
    client.remove("c/p", "a", generation=2)
    assert set(client.get("c/p")) == {"b"}


def test_commit_conflict_surfaces_as_typed_error(srv):
    base, store = srv

    def boom(*a, **k):
        raise CommitConflict("commit contention on 'x' exceeded retries")

    store.create_batch = boom
    with pytest.raises(CommitConflict):
        PotClient(base).create("x/p", [{"id": "k"}])


def test_metrics_over_client(srv):
    base, _ = srv
    client = PotClient(base)
    client.create("mm/p", [{"id": "k"}])
    client.get("mm/p")
    m = client.metrics()
    assert m["pot_writes"] >= 1 and m["pot_reads"] >= 1
    assert m["pot_span_create_calls"] >= 1


def test_format_go_duration_roundtrips():
    for s in (0.6, 1.0, 90.0, 0.001):
        assert parse_go_duration(format_go_duration(s)) == pytest.approx(s)


def test_format_go_duration_never_zeroes_a_positive_lease():
    """The server treats duration 0 as NO lease: a positive lease that
    formats to zero would silently disable norewrite protection."""
    for s in (0.0004, 1e-7, 1e-10):
        assert parse_go_duration(format_go_duration(s)) > 0.0, s
    with pytest.raises(ValueError):
        format_go_duration(-1.0)
    assert parse_go_duration(format_go_duration(0.0)) == 0.0  # explicit no-lease


def test_malformed_generation_is_400_not_500(srv):
    import json
    import urllib.error
    import urllib.request

    base, _ = srv
    PotClient(base).create("g/p", [{"id": "k"}])
    for url, method, body in (
        (f"{base}/g/p?key=k&generation=abc", "DELETE", None),
        (f"{base}/g/p?norewrite=1m&generation=abc", "POST", b'{"id": "k"}'),
    ):
        req = urllib.request.Request(url, data=body, method=method)
        try:
            with urllib.request.urlopen(req) as r:
                status = r.status
        except urllib.error.HTTPError as e:
            status = e.code
        assert status == 400, (method, url)


def test_election_over_http_single_winner_and_renewal(srv):
    """The election example's invariant, client/server-split
    (examples/election/main.go parity over the shim): run N HttpLease
    workers concurrently; the leadership log must show at least one
    election, renewals by the cache-held generation, handover, and no
    overlapping leadership sessions."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "election_example",
        os.path.join(os.path.dirname(__file__), "..", "examples", "election.py"),
    )
    election = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(election)

    base, _ = srv
    # shrink the clock so the test stays fast but still spans multiple
    # lease windows and voluntary releases
    log = election.run_election(
        lambda: election.HttpLease(base), n=3, run_turns=25
    )
    kinds = {k for k, _, _ in log}
    assert "elect" in kinds and "renew" in kinds
    assert election.check_no_overlap(log)


def test_election_example_http_mode_runs_clean():
    """The full client/server-split example: subprocess server via
    `python -m pot_spark serve`, PotClient workers, exit code 0."""
    import subprocess
    import sys

    res = subprocess.run(
        [sys.executable, "examples/election.py", "3", "20", "--http"],
        capture_output=True,
        text=True,
        timeout=120,
        cwd="/root/repo",
    )
    assert res.returncode == 0, res.stdout + res.stderr
    assert "OK" in res.stdout


def test_client_get_equals_store_get(srv):
    """The client parses the shim's stored-text body back to exactly the
    store's content, escaped keys and a missing pot included."""
    base, store = srv
    client = PotClient(base)
    store.create_batch(
        "eq/p",
        {'q"uote': {"v": 1}, "back\\slash": {"l": [1]}, "ctl\x01": {}, "ünï": {"s": "é"}},
    )
    for path in ("eq/p", "eq/missing"):
        assert client.get(path) == store.get(path)


def test_client_get_equals_store_get_on_bucketed_pot(spark, tmp_path):
    import json

    store = PotStore(spark, str(tmp_path / "potroot"))
    docs = {f"k{i:03d}": {"v": i} for i in range(24)}
    store.create_df_bucketed(
        "bk/p",
        spark.createDataFrame(
            [(k, json.dumps(v)) for k, v in docs.items()], schema="key string, doc string"
        ),
        n_buckets=4,
    )
    server = serve(store, port=0)
    host, port = server.server_address[:2]
    try:
        got = PotClient(f"http://{host}:{port}").get("bk/p")
    finally:
        server.shutdown()
    assert got == store.get("bk/p") == docs


def test_client_import_loads_no_engine():
    """A PotClient process needs only the standard library: importing
    the client must not load pyspark or pyarrow."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, pot_spark.kv.client; "
            "print(sorted(m for m in ('pyspark', 'pyarrow') if m in sys.modules))",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
