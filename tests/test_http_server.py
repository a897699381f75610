"""HTTP parity shim vs the reference's client/server flow
(client_test.go TestFlow/TestElection/TestListPaths + server_routes.go
status contract): GET / GET :list / POST (batch, norewrite, generation)
/ DELETE, 201 on create, 423 Locked on a no-rewrite violation."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from pot_spark.kv import PotStore
from pot_spark.kv.http_server import parse_go_duration, serve


@pytest.fixture()
def srv(tmp_path):
    store = PotStore(None, str(tmp_path / "potroot"))
    server = serve(store, port=0)
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}", store
    server.shutdown()


def _req(url, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req) as r:
            raw = r.read()
            return r.status, json.loads(raw) if raw.strip() else None
    except urllib.error.HTTPError as e:
        return e.code, None


def test_flow_get_create_remove(srv):
    base, _ = srv
    # empty pot reads as {}
    assert _req(f"{base}/test/path") == (200, {})
    # single-doc POST: key derived id-over-name, 201 + CreateResponse
    obj = {"id": "test", "age": 10, "path": ["a", "b"]}
    status, resp = _req(f"{base}/test/path", "POST", obj)
    assert status == 201
    assert resp["content"] == {"test": obj}
    assert resp["generation"] == 1
    status, content = _req(f"{base}/test/path")
    assert status == 200 and content == {"test": obj}
    # DELETE ?key= removes; pot reads empty again
    status, _ = _req(f"{base}/test/path?key=test", "DELETE")
    assert status == 200
    assert _req(f"{base}/test/path") == (200, {})


def test_list_suffix_dispatch(srv):
    base, _ = srv
    assert _req(f"{base}/test/path:list") == (200, {"paths": []})
    _req(f"{base}/test/path", "POST", {"id": "x"})
    assert _req(f"{base}/test/path:list") == (200, {"paths": ["test/path"]})
    assert _req(f"{base}/other:list") == (200, {"paths": []})


def test_batch_post_is_two_level_map(srv):
    base, _ = srv
    docs = {"a": {"v": 1}, "b": {"v": 2}}
    status, resp = _req(f"{base}/b/p?batch", "POST", docs)
    assert status == 201 and resp["content"] == docs
    assert _req(f"{base}/b/p")[1] == docs


def test_norewrite_election_returns_423_locked(srv):
    base, _ = srv
    winner = {"id": "leader", "holder": "w0"}
    status, resp = _req(f"{base}/e/p?norewrite=1m", "POST", winner)
    assert status == 201
    gen = resp["generation"]
    # a second writer without the generation loses with 423 Locked
    status, _ = _req(f"{base}/e/p?norewrite=1m", "POST",
                     {"id": "leader", "holder": "w1"})
    assert status == 423
    assert _req(f"{base}/e/p")[1]["leader"]["holder"] == "w0"
    # the holder renews by generation ownership (server_routes.go:95-103)
    status, resp = _req(
        f"{base}/e/p?norewrite=1m&generation={gen}", "POST",
        {"id": "leader", "holder": "w0", "turn": 2},
    )
    assert status == 201 and resp["generation"] == gen + 1


def test_unparseable_duration_means_zero_lease(srv):
    base, _ = srv
    _req(f"{base}/d/p?norewrite=bogus", "POST", {"id": "k"})
    # duration 0 -> rewrite allowed immediately (lease expired by rule)
    status, _ = _req(f"{base}/d/p?norewrite=bogus", "POST", {"id": "k", "v": 2})
    assert status == 201


def test_parse_go_duration():
    assert parse_go_duration("1m30s") == 90.0
    assert parse_go_duration("500ms") == 0.5
    assert parse_go_duration("2h") == 7200.0
    assert parse_go_duration("1.5s") == 1.5
    assert parse_go_duration("bogus") == 0.0
    assert parse_go_duration("") == 0.0


def test_post_then_zip_trigger(tmp_path):
    import os

    store = PotStore(None, str(tmp_path / "zr"))
    server = serve(store, port=0, zip_dest="archive")
    host, port = server.server_address[:2]
    try:
        _req(f"http://{host}:{port}/z/p", "POST", {"id": "k"})
        assert os.path.exists(
            os.path.join(store.root, "archive", "bundle.tar.gz")
        )
    finally:
        server.shutdown()


def test_metrics_endpoint(srv):
    base, store = srv
    _req(f"{base}/mm/p", "POST", {"id": "k"})
    _req(f"{base}/mm/p")
    status, m = _req(f"{base}/:metrics")
    assert status == 200
    assert m["pot_writes"] >= 1 and m["pot_reads"] >= 1
    # span export rides along (otel.go:70-98 trace parity)
    assert m["pot_span_create_calls"] >= 1
    assert m["pot_span_local_lock_seconds_total"] <= m["pot_span_create_seconds_total"]
    # the GET hit the head the POST installed
    assert (m["pot_head_cache_hits"], m["pot_head_cache_misses"]) == (1, 0)


def test_path_traversal_rejected_with_400(srv, tmp_path):
    """A `..` segment (bare or percent-encoded) must never reach the
    filesystem: the reference's GCS namespace is traversal-immune, so
    the shim has to enforce the same property itself."""
    base, store = srv
    import os

    for evil in ("/../evil", "/a/../../evil", "/%2e%2e/evil", "/a/%2E%2E/%2e%2e/evil"):
        status, _ = _req(f"{base}{evil}", "POST", {"id": "x"})
        assert status == 400, evil
        assert _req(f"{base}{evil}")[0] == 400, evil
        assert _req(f"{base}{evil}?key=x", "DELETE")[0] == 400, evil
    # nothing escaped the store root: the parent of root gained no entries
    parent = os.path.dirname(store.root)
    assert not os.path.exists(os.path.join(parent, "evil"))
    # and a normal path still works after the rejected attempts
    assert _req(f"{base}/ok/p", "POST", {"id": "x"})[0] == 201


def test_store_rejects_traversal_paths(tmp_path):
    """Defense in depth: PotStore._pot_dir itself refuses to resolve a
    path outside the root, independent of the HTTP layer."""
    store = PotStore(None, str(tmp_path / "potroot"))
    for evil in ("../evil", "a/../../evil", "../../etc"):
        with pytest.raises(ValueError, match="escapes the store root"):
            store.get(evil)
        with pytest.raises(ValueError, match="escapes the store root"):
            store.create(evil, {"id": "x"})
    # interior `..` that stays inside the root is legal path algebra
    store.create("a/b/../c", {"id": "x"})
    assert store.get("a/c") == {"x": {"id": "x"}}


def test_commit_conflict_maps_to_412(srv):
    """readme.md:128 contract: commit contention surfaces as 412
    Precondition Failed, not a generic 500."""
    base, store = srv
    from pot_spark.kv.errors import CommitConflict

    def boom(*a, **k):
        raise CommitConflict("commit contention on 'x' exceeded retries")

    store.create = boom
    store.remove = boom
    assert _req(f"{base}/c/p", "POST", {"id": "x"})[0] == 412
    assert _req(f"{base}/c/p?key=x", "DELETE")[0] == 412


def test_shim_survives_junk_requests(srv):
    """Hostile-input posture for the network surface: malformed JSON,
    non-object bodies, empty bodies, unknown methods, and bare junk
    bytes must produce clean 4xx/5xx responses — never kill the server.
    A valid request afterwards still works."""
    import http.client
    import urllib.error
    import urllib.request

    base, _ = srv
    host_port = base[len("http://"):]

    def raw_status(method, path, body=None, headers=None):
        conn = http.client.HTTPConnection(host_port, timeout=10)
        try:
            conn.request(method, path, body=body, headers=headers or {})
            return conn.getresponse().status
        finally:
            conn.close()

    assert raw_status("POST", "/j/p", b"{not json") == 500
    assert raw_status("POST", "/j/p", b"[1, 2, 3]") == 500  # not an object
    # empty body = json decode error, like the reference's Decoder EOF
    # (server.go:343-345)
    assert raw_status("POST", "/j/p", b"") == 500
    assert raw_status("POST", "/j/p?batch", b'{"k": 42}') == 500  # doc not a map
    assert raw_status("PUT", "/j/p", b"{}") == 501  # unimplemented method
    # junk query strings parse leniently, never crash
    assert raw_status("GET", "/j/p?%%%=&&&") == 200
    # oversized declared Content-Length with a short body: the read
    # blocks until the client closes; the server thread must survive
    try:
        urllib.request.urlopen(
            urllib.request.Request(
                f"{base}/j/p",
                data=b"{}",
                method="POST",
                headers={"Content-Length": "10"},
            ),
            timeout=2,
        )
    except (urllib.error.URLError, TimeoutError, OSError):
        pass  # client-side timeout is fine; server must stay up
    # the server is still alive and correct after all of the above
    assert _req(f"{base}/j/q", "POST", {"id": "ok"})[0] == 201
    assert _req(f"{base}/j/q")[1] == {"ok": {"id": "ok"}}


def test_concurrent_writes_with_vacuum_and_compact(srv):
    """Maintenance under write load: four HTTP writers hammer distinct
    keys while vacuum+compact cycle concurrently. Invariants: no
    request errors, every writer's LAST value is the final state of its
    key, and the pot stays readable throughout (no reclaimed-snapshot
    reads, no truncated manifests)."""
    import threading

    base, store = srv
    errors: list = []
    last: dict[str, int] = {}
    stop = threading.Event()

    def writer(wid):
        i = 0
        while not stop.is_set():
            i += 1
            status, _ = _req(
                f"{base}/vc/p", "POST", {"id": f"k{wid}", "v": i}
            )
            if status != 201:
                errors.append((wid, i, status))
                return
            last[f"k{wid}"] = i

    def maintainer():
        while not stop.is_set():
            try:
                store.vacuum("vc/p", grace_s=0.0)
                store.compact("vc/p")
                content = store.get("vc/p")  # must stay readable
                assert isinstance(content, dict)
            except Exception as e:  # noqa: BLE001
                errors.append(("maint", str(e)))
                return

    ts = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    ts.append(threading.Thread(target=maintainer))
    for t in ts:
        t.start()
    import time as _time

    _time.sleep(2.0)
    stop.set()
    for t in ts:
        t.join()
    assert errors == []
    final = _req(f"{base}/vc/p")[1]
    for key, v in last.items():
        assert final[key]["v"] == v, key


def test_http_contention_exactly_one_winner(srv):
    """Two clients racing a norewrite create over HTTP (the
    client_test.go:175-245 race, client/server-split): exactly one 201,
    the loser sees 423 per the reference's status contract."""
    import threading

    base, _ = srv
    results = {}

    def attempt(who):
        results[who] = _req(
            f"{base}/race/p?norewrite=1m", "POST", {"id": "leader", "holder": who}
        )[0]

    ts = [threading.Thread(target=attempt, args=(w,)) for w in ("w0", "w1")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(results.values()) == [201, 423]
    # the pot holds exactly the winner's doc
    winner = [w for w, s in results.items() if s == 201][0]
    assert _req(f"{base}/race/p")[1]["leader"]["holder"] == winner


# -- GET body: built from the stored doc text, shape pinned to json.dumps --

ESCAPED_KEYS = {
    'q"uote': {"v": 1},
    "back\\slash": {"v": [1, 2]},
    "ctl\x01": {"n": None},
    "ünï": {"s": "é"},
    "plain": {"f": 1.5, "b": True},
    "": {},
}


def _raw_get(url):
    """(status, raw body bytes) of a GET, error statuses included."""
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(k, json.dumps(v, sort_keys=True)) for k, v in rows.items()],
        schema="key string, doc string",
    )


@pytest.fixture()
def spark_srv(spark, tmp_path):
    store = PotStore(spark, str(tmp_path / "potroot"))
    server = serve(store, port=0)
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}", store
    server.shutdown()


def test_get_body_matches_reencoded_content_for_escaped_keys(srv):
    base, store = srv
    store.create_batch("esc/p", ESCAPED_KEYS)
    assert store.get("esc/p") == ESCAPED_KEYS
    want = (json.dumps(store.get("esc/p")) + "\n").encode()
    assert _raw_get(f"{base}/esc/p") == (200, want)


def test_get_body_of_missing_pot_is_empty_object(srv):
    base, store = srv
    assert _raw_get(f"{base}/nope/p") == (200, b"{}\n")
    assert (json.dumps(store.get("nope/p")) + "\n").encode() == b"{}\n"


def test_get_body_of_multi_part_bucketed_pot(spark_srv, spark):
    base, store = spark_srv
    docs = {f"k{i:03d}": {"v": i, "t": f"x{i % 7}"} for i in range(40)}
    store.create_df_bucketed("bk/p", _docs_df(spark, docs), n_buckets=4)
    store.create_df_bucketed("bk/p", _docs_df(spark, {"k001": {"v": -1}}), n_buckets=4)
    m = store._latest_manifest("bk/p")
    assert len(store._parts("bk/p", m)) > 1
    got = store.get("bk/p")
    assert got == {**docs, "k001": {"v": -1}}
    assert _raw_get(f"{base}/bk/p") == (200, (json.dumps(got) + "\n").encode())


def test_get_json_bookkeeping_matches_get(srv):
    """One shim GET counts one read and refreshes the generation cache,
    exactly as PotStore.get does."""
    base, store = srv
    store.create_batch("bk/g", {"a": {"v": 1}})
    store.create_batch("bk/g", {"b": {"v": 2}})
    store.generation_cache.clear()
    reads = store.metrics.reads
    assert _raw_get(f"{base}/bk/g")[0] == 200
    assert store.metrics.reads == reads + 1
    assert store.generation_cache == {"bk/g": 2}


_GOOD = ("y", '{"v": 1}')


@pytest.mark.parametrize(
    "rows",
    [
        [("x", "{not json"), _GOOD],
        [("x", None), _GOOD],
        [("x", ""), _GOOD],
        [("x", '1, "zz": {}'), _GOOD],
        # the spilled pair repeats a real key
        [("x", '1, "y": {"v": 5}'), _GOOD],
        # two broken fragments that join into valid JSON with as many
        # pairs as rows, under the stored keys
        [("x", '{"p": 1'), ("y", '2}, "y": 3')],
        [("x", '{}\0{}'), _GOOD],
    ],
    ids=[
        "unparseable",
        "null",
        "empty",
        "spills_new_key",
        "spills_existing_key",
        "fragments_join",
        "nul",
    ],
)
def test_malformed_stored_doc_never_served_as_200(spark_srv, spark, rows):
    base, store = spark_srv
    store.create_df(
        "bad/p", spark.createDataFrame(rows, schema="key string, doc string")
    )
    with pytest.raises(ValueError):  # json.JSONDecodeError included
        store.get("bad/p")
    with pytest.raises(ValueError):
        store.get_at("bad/p", 1)
    status, raw = _raw_get(f"{base}/bad/p")
    assert status == 500, raw


def test_key_stored_twice_never_served_as_200(srv, monkeypatch):
    """No writer stores a key twice, but a snapshot read from disk that
    does fails the read instead of collapsing to one doc. Another store
    over the root writes the pot (the other-process writer), so the
    shim's store has no cached head and reads the snapshot; a read that
    fails installs nothing, so every read fails again."""
    base, store = srv
    PotStore(None, store.root).create_batch("dup/p", {"a": {"v": 1}})
    monkeypatch.setattr(
        store, "_read_table", lambda parts: pa.table({"key": ["a", "a"], "doc": ["1", "2"]})
    )
    for _ in range(2):
        with pytest.raises(ValueError, match="2 docs under 1 keys"):
            store.get("dup/p")
        assert _raw_get(f"{base}/dup/p")[0] == 500
    assert store.metrics.head_cache_hits == 0
    assert store.metrics.head_cache_misses == 4


@pytest.mark.parametrize("text", ['{"b":1,"a":"é"}', ' {"b":1,\n"a":"é"}\t'])
def test_non_canonical_stored_text_is_served_verbatim(spark_srv, spark, text):
    """create_df doc text in another form is served as stored; it parses
    to the same content get() returns."""
    base, store = spark_srv
    store.create_df(
        "raw/p", spark.createDataFrame([("x", text)], schema="key string, doc string")
    )
    status, raw = _raw_get(f"{base}/raw/p")
    assert status == 200
    assert raw == ('{"x": ' + text + "}\n").encode()
    assert json.loads(raw) == store.get("raw/p") == {"x": {"b": 1, "a": "é"}}


# -- head cache: a hit serves what a fresh read would, never a bad doc --


def test_upsert_onto_unparseable_doc_never_caches_it(spark_srv, spark):
    """A dict upsert onto a pot whose base came from parquet (here a
    create_df with an unparseable doc under another key) caches nothing,
    so the bad doc keeps failing every read."""
    base, store = spark_srv
    store.create_df(
        "bad/u",
        spark.createDataFrame([("x", "{not json"), _GOOD], schema="key string, doc string"),
    )
    for i in range(2):
        store.create("bad/u", {"id": f"z{i}"})
        with pytest.raises(ValueError):
            store.get("bad/u")
        for _ in range(2):
            assert _raw_get(f"{base}/bad/u")[0] == 500
    assert store.metrics.head_cache_hits == 0


def test_cached_body_equals_a_fresh_read(spark_srv, spark):
    """A GET served from the head cache (installed by a write, or by a
    read of a multi-part bucketed pot) is the body another store reads
    from the snapshot."""
    base, store = spark_srv
    store.create_batch("esc/p", ESCAPED_KEYS)
    store.create("esc/p", {"id": 'k"ü', "v": 1})
    docs = {f"k{i:03d}": {"v": i} for i in range(40)}
    store.create_df_bucketed("bk/p", _docs_df(spark, docs), n_buckets=4)
    store.create_df_bucketed("bk/p", _docs_df(spark, {"k001": {"v": -1}}), n_buckets=4)
    assert store.get("bk/p")  # the read installs the bucketed head
    store.get_json("bk/p")
    for path in ("esc/p", "bk/p"):
        hits = store.metrics.head_cache_hits
        status, raw = _raw_get(f"{base}/{path}")
        assert store.metrics.head_cache_hits == hits + 1
        assert (status, raw) == (200, PotStore(None, store.root).get_json(path) + b"\n")
    # an upsert onto the cached bucketed head caches its merge
    store.create("bk/p", {"id": "k002", "v": -2})
    hits = store.metrics.head_cache_hits
    raw = _raw_get(f"{base}/bk/p")[1]
    assert store.metrics.head_cache_hits == hits + 1
    assert raw == PotStore(None, store.root).get_json("bk/p") + b"\n"
    assert json.loads(raw)["k002"] == {"id": "k002", "v": -2}
