"""End-to-end CLI flow (the engine's counterpart of the reference's
binary + curl examples, readme.md:20-40): create -> get -> norewrite
conflict (exit 23) -> remove -> list -> generations -> vacuum."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(root, *args, stdin=None, check=True):
    p = subprocess.run(
        [sys.executable, "-m", "pot_spark", "--root", root, *args],
        input=stdin, capture_output=True, text=True, cwd=REPO,
    )
    if check:
        assert p.returncode == 0, p.stderr
    return p


def test_cli_flow(tmp_path):
    root = str(tmp_path)
    out = run(root, "create", "landmarks",
              stdin='{"id": "sagrada-familia", "age": 141}')
    resp = json.loads(out.stdout)
    assert resp["generation"] == 1

    out = run(root, "create", "landmarks", "--batch",
              stdin='{"eiffel-tower": {"id": "eiffel-tower", "age": 136}}')
    assert json.loads(out.stdout)["generation"] == 2

    got = json.loads(run(root, "get", "landmarks").stdout)
    assert set(got) == {"sagrada-familia", "eiffel-tower"}

    # norewrite on an existing key -> exit 23 (reference HTTP 423)
    p = run(root, "create", "landmarks", "--norewrite", "30",
            stdin='{"id": "sagrada-familia", "age": 1}', check=False)
    assert p.returncode == 23
    assert json.loads(run(root, "get", "landmarks").stdout)[
        "sagrada-familia"]["age"] == 141

    run(root, "remove", "landmarks", "eiffel-tower", "missing-key")
    assert set(json.loads(run(root, "get", "landmarks").stdout)) == {
        "sagrada-familia"}

    assert json.loads(run(root, "list").stdout) == ["landmarks"]
    gens = json.loads(run(root, "generations", "landmarks").stdout)
    assert [g for g, _ in gens] == [1, 2, 3]
    # time travel via CLI
    at2 = json.loads(run(root, "get-at", "landmarks", "2").stdout)
    assert set(at2) == {"sagrada-familia", "eiffel-tower"}
    run(root, "vacuum", "landmarks")
    assert set(json.loads(run(root, "get", "landmarks").stdout)) == {
        "sagrada-familia"}


def test_cli_compact(tmp_path):
    root = str(tmp_path / "r")
    run(root, "create", "p", stdin='{"id": "a", "v": 1}')
    run(root, "create", "p", stdin='{"id": "b", "v": 2}')
    out = run(root, "compact", "p")
    assert json.loads(out.stdout) == {"generation": 3}
    out = run(root, "get", "p")
    assert json.loads(out.stdout) == {"a": {"id": "a", "v": 1}, "b": {"id": "b", "v": 2}}
    out = run(root, "vacuum", "p")
    assert json.loads(out.stdout) == {"removed": 2}


def test_cli_restore(tmp_path):
    root = str(tmp_path)
    run(root, "create", "t", stdin='{"id": "a", "v": 1}')
    run(root, "create", "t", stdin='{"id": "b", "v": 2}')
    out = run(root, "restore", "t", "1")
    assert json.loads(out.stdout)["generation"] == 3
    got = json.loads(run(root, "get", "t").stdout)
    assert set(got) == {"a"}
    # restoring a generation that never existed is a clean error, exit 1
    p = run(root, "restore", "t", "99", check=False)
    assert p.returncode == 1 and "not found" in p.stderr


def test_election_example_runs_clean():
    p = subprocess.run(
        [sys.executable, "examples/election.py", "3", "20"],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert p.returncode == 0, p.stdout + p.stderr
    assert "OK" in p.stdout


def test_cli_bucket_rooted_roundtrip():
    """--object-store/--bucket: the CLI against an HTTP bucket — the
    reference binary's own deployment shape (`pot` bound to a GCS
    bucket), zero filesystem mounts."""
    from pot_spark.kv.gcs_emulator import FakeGCSServer, HttpObjectStoreClient

    server = FakeGCSServer()
    endpoint = server.start()
    try:
        HttpObjectStoreClient("clibkt", endpoint).create_bucket()
        base = [sys.executable, "-m", "pot_spark", "--root", "pots",
                "--object-store", endpoint, "--bucket", "clibkt"]

        def run_once(args: list, stdin: str | None = None):
            # one run per command: a nonzero exit (e.g. a native abort at
            # interpreter exit) is a real failure, never retried
            p = subprocess.run(
                base + args, input=stdin, capture_output=True,
                text=True, cwd=REPO, timeout=120,
            )
            assert p.returncode == 0, f"{args}: {p.stdout}{p.stderr}"
            return p

        run_once(["create", "t"], stdin='{"id": "a", "v": 1}')
        p = run_once(["get", "t"])
        assert json.loads(p.stdout) == {"a": {"id": "a", "v": 1}}
        p = run_once(["list"])
        assert json.loads(p.stdout) == ["t"]
    finally:
        server.stop()


def test_cli_bucket_rooted_get_exits_clean_every_time():
    """Regression: the bucket-rooted read decodes parquet from an
    in-memory buffer; pyarrow's threaded reader there aborted the
    process at interpreter exit (SIGABRT) in about half of all runs.
    Every one of 20 back-to-back `get`s must exit 0."""
    from pot_spark.kv.gcs_emulator import FakeGCSServer, HttpObjectStoreClient

    server = FakeGCSServer()
    endpoint = server.start()
    try:
        HttpObjectStoreClient("exitbkt", endpoint).create_bucket()
        base = [sys.executable, "-m", "pot_spark", "--root", "pots",
                "--object-store", endpoint, "--bucket", "exitbkt"]
        p = subprocess.run(
            base + ["create", "t"], input='{"id": "a", "v": 1}',
            capture_output=True, text=True, cwd=REPO, timeout=120,
        )
        assert p.returncode == 0, p.stderr
        codes = []
        for _ in range(20):
            p = subprocess.run(
                base + ["get", "t"], capture_output=True, text=True,
                cwd=REPO, timeout=120,
            )
            codes.append(p.returncode)
            if p.returncode == 0:
                assert json.loads(p.stdout) == {"a": {"id": "a", "v": 1}}
        assert codes == [0] * 20, codes
    finally:
        server.stop()


def test_bucket_store_example_runs_clean():
    p = subprocess.run(
        [sys.executable, "examples/bucket_store.py"],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert p.returncode == 0, p.stdout + p.stderr
    assert "exported pots: 2" in p.stdout


def test_cli_changes(tmp_path):
    root = str(tmp_path)
    run(root, "create", "t", stdin='{"id": "a", "v": 1}')
    run(root, "create", "t", stdin='{"id": "b", "v": 2}')
    run(root, "remove", "t", "a")
    out = json.loads(run(root, "changes", "t", "1", "3").stdout)
    assert out == {"a": {"op": "delete", "doc": None},
                   "b": {"op": "insert", "doc": {"id": "b", "v": 2}}}


def test_cli_export(tmp_path):
    """`export` writes the per-pot snapshot tree (the distributed form
    of `zip`); sequential mode here — the Spark fan-out is covered by
    test_kv_store.test_export_snapshot_distributed."""
    import os

    root = str(tmp_path / "root")
    run(root, "create", "a/b", stdin='{"id": "k1", "v": 1}')
    run(root, "create", "c", stdin='{"id": "k2"}')
    dest = str(tmp_path / "out")
    out = run(root, "export", dest)
    resp = json.loads(out.stdout)
    assert resp == {"exported": 2, "dest": dest}
    with open(os.path.join(dest, "a/b/data.json")) as f:
        assert json.load(f)["k1"]["v"] == 1
