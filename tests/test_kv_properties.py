"""Property-based check of pot semantics: any sequence of upserts/
removes/restores must leave the store equal to a plain dict replaying
the reference's rules (last-writer-wins per key, id-over-name
derivation, silent remove, server.go:272-407, 494-548), every
historical generation must be replayable via time travel, and the
change feed against the first generation must replay the model diff.
The same dict model also runs through the FULL network stack
(PotClient -> HTTP shim -> PotStore), pinning the client/route/store
composition the reference exercises in client_test.go."""

from __future__ import annotations

import itertools
import shutil
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pot_spark.kv.store import PotStore, derive_key

_KEYS = ["a", "b", "c", "d"]

_doc = st.fixed_dictionaries(
    {},
    optional={
        "name": st.sampled_from(_KEYS),
        "id": st.sampled_from(_KEYS),
        "v": st.integers(min_value=0, max_value=9),
        "nested": st.fixed_dictionaries({"x": st.lists(st.integers(0, 3), max_size=2)}),
    },
)

_op = st.one_of(
    st.tuples(st.just("create"), _doc),
    st.tuples(
        st.just("create_batch"),
        st.dictionaries(st.sampled_from(_KEYS), _doc, max_size=3),
    ),
    st.tuples(st.just("remove"), st.lists(st.sampled_from(_KEYS + ["zz"]), max_size=2)),
    st.tuples(st.just("restore"), st.integers(min_value=1, max_value=12)),
)


def _replay_model(store: PotStore, ops, path: str = "p/q", check=None) -> None:
    """Drive any op sequence against ``store`` and a plain dict replaying
    the reference's rules; assert state, time travel, and the change
    feed agree after every mutation (shared by the local, HTTP, and
    bucket-rooted model tests). ``check(store, path)``, when given, runs
    after every op too."""
    model: dict = {}
    history = []  # (generation, state) after each mutation
    gen = 0
    for kind, arg in ops:
        if kind == "create":
            resp = store.create(path, arg)
            model[derive_key(arg)] = arg
            assert resp.generation == gen + 1
            gen = resp.generation
        elif kind == "create_batch":
            resp = store.create_batch(path, arg)
            model.update(arg)
            gen = resp.generation
        elif kind == "restore":
            if not history or arg > len(history):
                continue  # target never existed: nothing to restore
            target_gen, target_state = history[arg - 1]
            new_gen = store.restore(path, target_gen)
            assert new_gen == gen + 1
            gen, model = new_gen, dict(target_state)
        else:
            store.remove(path, *arg)
            for k in arg:
                model.pop(k, None)
            gen += 1
        assert store.get(path) == model
        if check is not None:
            check(store, path)
        history.append((gen, dict(model)))
    # time travel reproduces every intermediate state, including
    # states rolled back over by restore
    for g, state in history:
        assert store.get_at(path, g) == state
    # the change feed between any state and latest replays the model
    # diff exactly
    if history:
        g0, s0 = history[0]
        feed = store.changes(path, g0)
        for k, (op, doc) in feed.items():
            if op == "delete":
                assert k in s0 and k not in model
            else:
                assert model[k] == doc
                assert (k not in s0) if op == "insert" else (s0[k] != doc)
        unchanged = set(s0) & set(model) - set(feed)
        for k in unchanged:
            assert s0[k] == model[k]


def _assert_head_snapshot_layout(store: PotStore, path: str) -> None:
    """The invariants the Arrow merge in ``_mutate`` must keep: the head
    snapshot holds one row per key in strictly increasing key order, and
    the manifest's ``n_keys`` is its row count."""
    head = store._latest_manifest(path)
    table = store._read_table(store._parts(path, head))
    keys = table.column("key").to_pylist()
    assert all(a < b for a, b in zip(keys, keys[1:])), keys
    assert head.n_keys == table.num_rows


@settings(max_examples=60, deadline=None)
@given(ops=st.lists(_op, max_size=12))
def test_store_matches_dict_model(ops):
    root = tempfile.mkdtemp(prefix="pot_prop_")
    try:
        _replay_model(PotStore(None, root), ops, check=_assert_head_snapshot_layout)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="module")
def bucket_model_client():
    from pot_spark.kv.gcs_emulator import FakeGCSServer, HttpObjectStoreClient

    server = FakeGCSServer()
    endpoint = server.start()
    client = HttpObjectStoreClient("propmodel", endpoint)
    client.create_bucket()
    yield client
    server.stop()


_bucket_seq = itertools.count()


@settings(max_examples=25, deadline=None)
@given(ops=st.lists(_op, max_size=8))
def test_bucket_store_matches_dict_model(bucket_model_client, ops):
    """The SAME dict-model property over a fully bucket-rooted store
    (r10 storefs): every op sequence's state, every historical
    generation, and the change feed agree while all bytes cross the
    HTTP socket. Each example gets a fresh key-prefix root (hypothesis
    reuses the module-scoped emulator)."""
    from pot_spark.kv.backend import ConditionalPutBackend
    from pot_spark.kv.storefs import ObjectStoreFS

    client = bucket_model_client
    store = PotStore(
        None,
        f"roots/{next(_bucket_seq)}",
        backend=ConditionalPutBackend(client),
        fs=ObjectStoreFS(client),
    )
    _replay_model(store, ops)


# -- the same model over the network stack -----------------------------------

_http_op = st.one_of(
    st.tuples(st.just("create"), _doc),
    st.tuples(
        st.just("create_batch"),
        st.dictionaries(st.sampled_from(_KEYS), _doc, max_size=3),
    ),
    st.tuples(st.just("remove"), st.lists(st.sampled_from(_KEYS + ["zz"]), max_size=2)),
)


@pytest.fixture(scope="module")
def http_client():
    from pot_spark.kv.client import PotClient
    from pot_spark.kv.http_server import serve

    root = tempfile.mkdtemp(prefix="pot_http_prop_")
    server = serve(PotStore(None, root), port=0)
    host, port = server.server_address[:2]
    yield PotClient(f"http://{host}:{port}")
    server.shutdown()
    shutil.rmtree(root, ignore_errors=True)


_path_seq = itertools.count()


@settings(max_examples=40, deadline=None)
@given(ops=st.lists(_http_op, max_size=10))
def test_client_over_http_matches_dict_model(http_client, ops):
    """PotClient -> shim -> PotStore equals the dict model for any op
    sequence: last-writer-wins, id-over-name, silent remove — the whole
    stack, not just the store. Each example gets a fresh pot path
    (hypothesis reuses the module-scoped server)."""
    path = f"prop/{next(_path_seq)}"
    model: dict = {}
    gen = 0
    for kind, arg in ops:
        if kind == "create":
            gen2 = http_client.create(path, [arg])
            model[derive_key(arg)] = arg
            assert gen2 == gen + 1
            gen = gen2
        elif kind == "create_batch":
            gen = http_client.create(path, arg)
            model.update(arg)
        else:
            http_client.remove(path, *arg)
            for k in arg:
                model.pop(k, None)
            gen += 1
        assert http_client.get(path) == model
    if model:
        assert path in http_client.list_paths("prop")
