"""Object-store-native data plane (round-10): a PotStore rooted in a
BUCKET — manifests, snapshots, maintenance and export all flowing
through kv/storefs.py over REAL HTTP against the in-repo GCS emulator,
with the conditional-put commit backend sharing the same namespace.
This is the reference's actual deployment model (server.go:212-214,
396-400: every read/write goes to the bucket through the SDK) without
a FUSE/NFS mount anywhere.

Also pins FsspecStoreFS against an in-memory duck-typed fsspec fs (the
dependency stays optional, same pattern as the FsspecBackend tests)
and the LocalStoreFS/ObjectStoreFS walk/paths contract parity.
"""

from __future__ import annotations

import io
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pot_spark.kv.backend import ConditionalPutBackend
from pot_spark.kv.gcs_emulator import FakeGCSServer, HttpObjectStoreClient
from pot_spark.kv.store import PotStore
from pot_spark.kv.storefs import FsspecStoreFS, LocalStoreFS, ObjectStoreFS


@pytest.fixture()
def bucket_store_parts():
    server = FakeGCSServer()
    endpoint = server.start()
    client = HttpObjectStoreClient("pots-bucket", endpoint)
    client.create_bucket()
    yield client
    server.stop()


def _bucket_store(client, spark=None, root="warehouse/pots"):
    return PotStore(
        spark,
        root,
        backend=ConditionalPutBackend(client),
        fs=ObjectStoreFS(client),
    )


def test_bucket_rooted_store_end_to_end(bucket_store_parts, spark):
    """create -> get -> get_df -> create_df -> list/changes/time-travel
    -> export, all against the bucket over HTTP; zero local paths."""
    client = bucket_store_parts
    store = _bucket_store(client, spark)

    r1 = store.create("users", {"name": "ada", "role": "admin"})
    assert r1.generation == 1
    store.create_batch("users", {"bob": {"role": "dev"}})
    assert store.get("users") == {
        "ada": {"name": "ada", "role": "admin"},
        "bob": {"role": "dev"},
    }
    # the manifest really lives in the bucket (same namespace the
    # conditional-put commit wrote through)
    assert client.list(prefix="warehouse/pots/users/_pot/commits/")

    # Spark plane: read (streams through the client — no connector in
    # this container) and bulk upsert (stage-and-stream write)
    df = store.get_df("users")
    assert {(r.key, json.loads(r.doc)["role"]) for r in df.collect()} == {
        ("ada", "admin"),
        ("bob", "dev"),
    }
    delta = spark.createDataFrame(
        [("carol", json.dumps({"role": "ops"}))], "key string, doc string"
    )
    gen = store.create_df("users", delta)
    assert gen == 3
    assert store.get("users")["carol"] == {"role": "ops"}
    assert sorted(store.get_df("users").select("key").toPandas()["key"]) == [
        "ada",
        "bob",
        "carol",
    ]

    # listing, time travel, change feed
    store.create("teams/core", {"name": "core"})
    assert store.list_paths() == ["teams/core", "users"]
    assert store.get_at("users", 1) == {"ada": {"name": "ada", "role": "admin"}}
    changes = store.changes("users", 1)
    assert changes["carol"] == ("insert", {"role": "ops"})

    # maintenance: compact + vacuum reclaim superseded committed
    # snapshots even without mtimes (committed_refs path)
    store.compact("users")
    removed = store.vacuum("users", grace_s=0.0)
    assert removed >= 1
    assert store.get("users")["ada"] == {"name": "ada", "role": "admin"}

    # restore is metadata-only and still works over the bucket
    g = store.restore("teams/core", 1)
    assert g == 2


def test_bucket_rooted_export_snapshot(bucket_store_parts, spark):
    """export_snapshot routes per-pot writes through the SAME object
    namespace — no shared filesystem assumption (round-9 watch item)."""
    from pot_spark.kv.archive import export_snapshot

    client = bucket_store_parts
    store = _bucket_store(client, spark)
    store.create("users", {"name": "ada"})
    store.create("teams/core", {"name": "core"})

    n = export_snapshot(store, "exports/run1", spark=spark)
    assert n == 2
    exported = json.loads(client.download("exports/run1/users/data.json"))
    assert exported == {"ada": {"name": "ada"}}
    assert json.loads(
        client.download("exports/run1/teams/core/data.json")
    ) == {"core": {"name": "core"}}

    # dest under the store root is self-excluded (posix-normalized)
    store2 = _bucket_store(client, spark, root="warehouse/pots")
    n2 = export_snapshot(store2, "warehouse/pots/users", spark=None)
    assert n2 == 1  # "users" itself excluded, teams/core exported


def test_bucket_rooted_bucketed_layout(bucket_store_parts, spark):
    """create_df_bucketed's O(delta) layout (empty-bucket dirs included)
    survives the marker-based directory emulation."""
    client = bucket_store_parts
    store = _bucket_store(client, spark)
    rows = [(f"k{i}", json.dumps({"v": i})) for i in range(10)]
    df = spark.createDataFrame(rows, "key string, doc string")
    g1 = store.create_df_bucketed("big", df, n_buckets=4)
    assert g1 == 1
    got = store.get("big")
    assert len(got) == 10 and got["k3"] == {"v": 3}
    # delta touches ~1 bucket; untouched buckets carry forward
    delta = spark.createDataFrame(
        [("k3", json.dumps({"v": 33}))], "key string, doc string"
    )
    g2 = store.create_df_bucketed("big", delta, n_buckets=4)
    assert g2 == 2
    assert store.get("big")["k3"] == {"v": 33}
    assert len(store.get("big")) == 10
    # diff prunes to changed buckets only (bucketed fast path)
    ch = store.changes("big", 1, 2)
    assert set(ch) == {"k3"}


def test_bucket_rooted_clone_shallow_and_deep(bucket_store_parts, spark):
    client = bucket_store_parts
    store = _bucket_store(client, spark)
    store.create("src", {"name": "x", "v": 1})
    store.clone("src", "dst_shallow")
    assert store.get("dst_shallow") == {"x": {"name": "x", "v": 1}}
    store.clone("src", "dst_deep", deep=True)
    assert store.get("dst_deep") == {"x": {"name": "x", "v": 1}}
    # shallow clone is copy-on-write: mutating it never touches src
    store.create("dst_shallow", {"name": "y"})
    assert "y" not in store.get("src")


def test_object_store_norewrite_and_occ(bucket_store_parts):
    """The no-rewrite lease contract holds verbatim over the bucket."""
    from pot_spark.kv.errors import NoRewriteViolated

    client = bucket_store_parts
    store = _bucket_store(client, None)
    r = store.create("leases/leader", {"name": "n1"}, norewrite=True,
                     norewrite_duration=3600)
    with pytest.raises(NoRewriteViolated):
        store.create("leases/leader", {"name": "n1"}, norewrite=True,
                     norewrite_duration=3600)
    # holder of the current generation renews
    r2 = store.create(
        "leases/leader", {"name": "n1"}, norewrite=True,
        norewrite_duration=3600, generation=r.generation,
    )
    assert r2.generation == r.generation + 1


class _MemFS:
    """Minimal in-memory fsspec-shaped filesystem (open/exists/isdir/
    ls/find/makedirs/rm/modified) for FsspecStoreFS duck-type tests —
    flat key namespace, like every object-store fsspec backend."""

    def __init__(self):
        self.objects: dict[str, bytes] = {}

    class _W:
        def __init__(self, fs, key):
            self.fs, self.key, self.buf = fs, key, bytearray()

        def write(self, b):
            self.buf.extend(b)

        def __enter__(self):
            return self

        def __exit__(self, *a):
            self.fs.objects[self.key] = bytes(self.buf)

    def open(self, p, mode="rb"):
        import io

        if "w" in mode:
            return self._W(self, p)
        if p not in self.objects:
            raise FileNotFoundError(p)
        return io.BytesIO(self.objects[p])

    def exists(self, p):
        p = p.rstrip("/")
        return p in self.objects or any(
            k.startswith(p + "/") for k in self.objects
        )

    def isdir(self, p):
        p = p.rstrip("/")
        return any(k.startswith(p + "/") for k in self.objects)

    def ls(self, d, detail=False):
        d = d.rstrip("/")
        out = set()
        for k in self.objects:
            if k.startswith(d + "/"):
                seg = k[len(d) + 1:].split("/", 1)
                out.add(d + "/" + seg[0])
        return sorted(out)

    def find(self, d):
        d = d.rstrip("/")
        return sorted(k for k in self.objects if k.startswith(d + "/"))

    def makedirs(self, d, exist_ok=True):
        self.objects[d.rstrip("/") + "/.dirmarker"] = b""

    def rm(self, p, recursive=False):
        p = p.rstrip("/")
        hits = [
            k for k in self.objects if k == p or k.startswith(p + "/")
        ]
        if not hits:
            raise FileNotFoundError(p)
        for k in hits:
            del self.objects[k]

    def modified(self, p):
        raise NotImplementedError


class _MemBackend:
    """Commit backend over the same _MemFS namespace (the put-if-absent
    seam itself is race-tested in tests/test_kv_multiprocess.py; this
    just keeps commits and data in ONE namespace, which PotStore now
    enforces for non-local fs)."""

    def __init__(self, fs: _MemFS):
        self.fs = fs

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        import posixpath

        t = posixpath.normpath(target)
        if t in self.fs.objects:
            return False
        self.fs.objects[t] = payload
        return True


def test_non_local_fs_requires_matching_backend():
    with pytest.raises(ValueError, match="commit backend"):
        PotStore(None, "bucket/pots", fs=FsspecStoreFS(_MemFS()))


def test_fsspec_storefs_duck_typed_store():
    fs = _MemFS()
    store = PotStore(
        None, "bucket/pots", backend=_MemBackend(fs), fs=FsspecStoreFS(fs)
    )
    store.create("a", {"name": "k", "v": 1})
    store.create("b/c", {"name": "m"})
    assert store.get("a") == {"k": {"name": "k", "v": 1}}
    assert store.list_paths() == ["a", "b/c"]
    assert store.get_at("a", 1) == {"k": {"name": "k", "v": 1}}
    store.remove("a", "k")
    assert store.get("a") == {}
    # commits and snapshots really live in the fake's flat namespace
    assert any("_pot/commits/" in k for k in fs.objects)
    assert any(k.endswith(".parquet") for k in fs.objects)


def test_walk_contract_matches_os_walk(tmp_path):
    """ObjectStoreFS._tree_walk yields the same (dirs, files) sets as
    os.walk on an equivalent tree, including topdown pruning."""
    (tmp_path / "a" / "_pot").mkdir(parents=True)
    (tmp_path / "a" / "_pot" / "x.json").write_text("{}")
    (tmp_path / "a" / "sub").mkdir()
    (tmp_path / "a" / "sub" / "_pot").mkdir()
    (tmp_path / "top.txt").write_text("t")

    server = FakeGCSServer()
    endpoint = server.start()
    try:
        client = HttpObjectStoreClient("walkbucket", endpoint)
        client.create_bucket()
        import os

        for dirpath, _dirs, files in os.walk(tmp_path):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, tmp_path)
                client.upload(f"root/{rel}", open(full, "rb").read())
            if not files and not _dirs:
                client.upload(
                    f"root/{os.path.relpath(dirpath, tmp_path)}/.dirmarker", b""
                )
        ofs = ObjectStoreFS(client)

        def collect(walker, top, prune):
            seen = {}
            for dirpath, dirnames, filenames in walker:
                rel = os.path.relpath(dirpath, top).replace(os.sep, "/")
                seen[rel] = (sorted(dirnames), sorted(filenames))
                dirnames[:] = [d for d in dirnames if d != prune]
            return seen

        local = collect(os.walk(tmp_path), str(tmp_path), "_pot")
        remote = collect(ofs.walk("root"), "root", "_pot")
        assert local == remote
    finally:
        server.stop()


# ---------------------------------------------------------------------------
# Property: ObjectStoreFS's directory emulation agrees with the real
# filesystem on every observable op, over random small trees.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_seg = st.text(alphabet="abc", min_size=1, max_size=2)
_relpath = st.lists(_seg, min_size=1, max_size=3).map("/".join)


@settings(max_examples=25, deadline=None)
@given(
    files=st.dictionaries(_relpath, st.binary(max_size=8), max_size=6),
    probe=_relpath,
)
def test_objectstore_fs_matches_local_fs(files, probe):
    import tempfile

    from pot_spark.kv.storefs import LocalStoreFS

    # drop keys that are prefixes of other keys: a POSIX path cannot be
    # both a file and a directory (object stores allow it; the store
    # never creates such layouts)
    files = {
        k: v
        for k, v in files.items()
        if not any(o != k and o.startswith(k + "/") for o in files)
    }
    server = FakeGCSServer()
    endpoint = server.start()
    local_root = tempfile.mkdtemp(prefix="storefs_prop_")
    try:
        client = HttpObjectStoreClient("propbkt", endpoint)
        client.create_bucket()
        ofs = ObjectStoreFS(client)
        lfs = LocalStoreFS()
        import os

        for k, v in files.items():
            client.upload(f"root/{k}", v)
            full = os.path.join(local_root, k)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "wb") as f:
                f.write(v)

        def norm(d):
            # every directory that exists locally must listdir-match
            for dirpath, dirnames, filenames in os.walk(d):
                rel = os.path.relpath(dirpath, local_root)
                rel = "" if rel == "." else rel
                o_dir = f"root/{rel}" if rel else "root"
                if rel or files:
                    assert sorted(ofs.listdir(o_dir)) == sorted(
                        lfs.listdir(dirpath)
                    ), (rel, files)

        norm(local_root)
        # exists/isdir agree on probe paths (files, dirs, and misses)
        o_probe, l_probe = f"root/{probe}", os.path.join(local_root, probe)
        assert ofs.exists(o_probe) == lfs.exists(l_probe), probe
        assert ofs.isdir(o_probe) == lfs.isdir(l_probe), probe
        # read back every file byte-identically
        for k, v in files.items():
            assert ofs.read_bytes(f"root/{k}") == v
        # rmtree of the first dir-ish prefix agrees
        if files:
            victim = sorted(files)[0].split("/")[0]
            ofs.rmtree(f"root/{victim}")
            lfs.rmtree(os.path.join(local_root, victim))
            assert ofs.exists(f"root/{victim}") == lfs.exists(
                os.path.join(local_root, victim)
            )
    finally:
        server.stop()
        import shutil

        shutil.rmtree(local_root, ignore_errors=True)


def test_spark_url_composition():
    """The bulk-plane URL seam: with a connector prefix/scheme the store
    hands Spark a native URI (fully distributed reads/writes); without
    one, None selects the documented stage-and-stream degrade."""
    class _NullClient:  # never touched by spark_url
        pass

    ofs = ObjectStoreFS(_NullClient())
    assert ofs.spark_url("warehouse/pots/x") is None
    ofs2 = ObjectStoreFS(_NullClient(), spark_url_prefix="gs://mybucket")
    assert ofs2.spark_url("warehouse/pots/x") == "gs://mybucket/warehouse/pots/x"
    ffs = FsspecStoreFS(object())
    assert ffs.spark_url("bkt/pots/x") is None
    ffs2 = FsspecStoreFS(object(), spark_scheme="gs")
    assert ffs2.spark_url("bkt/pots/x") == "gs://bkt/pots/x"
    assert LocalStoreFS().spark_url("/data/pots") == "/data/pots"


# ---------------------------------------------------------------------------
# Round-11 advisor fixes: whole-bucket roots, paged listings, absolute
# fsspec roots, and the read-only export replica's write-free contract.
# ---------------------------------------------------------------------------


def test_whole_bucket_root_object_store():
    """store.py's containment branch explicitly supports a whole-bucket
    root (''); before round 11 ObjectStoreFS._children('') built prefix
    '/', which matches no flat key — list_paths/exists/walk on the root
    pot returned empty even with pots present."""
    server = FakeGCSServer()
    endpoint = server.start()
    try:
        client = HttpObjectStoreClient("rootbkt", endpoint)
        client.create_bucket()
        store = PotStore(
            None, "", backend=ConditionalPutBackend(client), fs=ObjectStoreFS(client)
        )
        store.create("users", {"name": "ada"})
        store.create("teams/core", {"name": "core"})
        assert store.list_paths() == ["teams/core", "users"]
        assert store.get("users") == {"ada": {"name": "ada"}}
        # root-level fs probes all see through the '' root now
        ofs = store._fs
        assert ofs.exists("")
        assert ofs.isdir("")
        assert "users" in ofs.listdir("")
        walked = {d for d, _, _ in ofs.walk("")}
        assert "users/_pot" in walked
        # the root pot itself: reachable, and (reference fine print,
        # server.go:450) invisible to :list
        store.create("", {"name": "rootdoc"})
        assert store.get("")["rootdoc"] == {"name": "rootdoc"}
        assert "" not in store.list_paths()
    finally:
        server.stop()


def test_http_list_follows_next_page_token():
    """Real GCS pages objects.list at maxResults=1000; a client that
    reads only the first page silently truncates — _latest_manifest's
    max() could return a stale generation. The emulator now pages too
    (page_size), and the client must drain nextPageToken."""
    server = FakeGCSServer(page_size=2)
    endpoint = server.start()
    try:
        client = HttpObjectStoreClient("paged", endpoint)
        client.create_bucket()
        keys = [f"pots/users/_pot/commits/{i:012d}.json" for i in range(1, 8)]
        for k in keys:
            client.upload(k, b"{}")
        client.upload("other/x", b"y")
        assert client.list(prefix="pots/users/_pot/commits/") == keys
        assert len(client.list(prefix="")) == 8
    finally:
        server.stop()


def test_bucket_store_correct_under_forced_paging():
    """End-to-end guard: with 1-item pages every manifest/snapshot
    listing is multi-page; the store must still resolve the LATEST
    generation (not the lexicographically-first page's max)."""
    server = FakeGCSServer(page_size=1)
    endpoint = server.start()
    try:
        client = HttpObjectStoreClient("tiny-pages", endpoint)
        client.create_bucket()
        store = PotStore(
            None,
            "warehouse/pots",
            backend=ConditionalPutBackend(client),
            fs=ObjectStoreFS(client),
        )
        for i in range(5):
            store.create("users", {"id": f"k{i}", "v": i})
        assert store.get("users") == {
            f"k{i}": {"id": f"k{i}", "v": i} for i in range(5)
        }
        assert store.get_at("users", 2) == {
            "k0": {"id": "k0", "v": 0},
            "k1": {"id": "k1", "v": 1},
        }
        assert store.list_paths() == ["users"]
    finally:
        server.stop()


def test_fsspec_canonical_root_preserves_absolute_paths():
    """FsspecStoreFS spans absolute-path filesystems (local fsspec,
    sshfs): the bucket-namespace mixin stripped the leading '/', turning
    the store root into a relative path."""
    ffs = FsspecStoreFS(_MemFS())
    assert ffs.canonical_root("/data/pots/") == "/data/pots"
    assert ffs.canonical_root("/") == "/"
    assert ffs.canonical_root("bucket/pots") == "bucket/pots"  # unchanged
    assert ffs.canonical_root("") == ""
    # and a store rooted at an absolute path round-trips through the fs
    fs = _MemFS()
    store = PotStore(
        None, "/srv/pots", backend=_MemBackend(fs), fs=FsspecStoreFS(fs)
    )
    assert store.root == "/srv/pots"
    store.create("a", {"name": "k"})
    assert store.get("a") == {"k": {"name": "k"}}
    assert store.list_paths() == ["a"]
    assert all(k.startswith("/srv/pots/") for k in fs.objects)


def test_readonly_export_replica_never_writes_source(bucket_store_parts):
    """The export task's read-only replica must not write ANYTHING into
    the source namespace — before round 11 PotStore.__init__'s root
    makedirs could plant a .dirmarker through a 'read-only' store."""
    from pot_spark.kv.backend import ReadOnlyBackend

    client = bucket_store_parts
    store = _bucket_store(client)
    store.create("users", {"name": "ada"})
    before = sorted(client.list(prefix=""))
    replica = PotStore(
        None, "warehouse/pots", backend=ReadOnlyBackend(), fs=ObjectStoreFS(client)
    )
    assert replica.get("users") == {"ada": {"name": "ada"}}
    assert sorted(client.list(prefix="")) == before
    with pytest.raises(RuntimeError, match="read-only"):
        replica.create("users", {"name": "eve"})
    assert sorted(client.list(prefix="")) == before


def test_bucket_root_exists_probe_is_bounded(bucket_store_parts):
    """exists('') must answer the bucket-root probe from ONE bounded
    listing page (maxResults=1), not a full pagination drain of every
    object in the bucket (round-11 advice)."""
    client = bucket_store_parts
    for i in range(5):
        client.upload(f"obj{i}", b"x")

    calls: list[dict] = []
    real_list = client.list

    def spying_list(prefix="", max_results=None):
        calls.append({"prefix": prefix, "max_results": max_results})
        return real_list(prefix=prefix, max_results=max_results)

    client.list = spying_list
    fs = ObjectStoreFS(client)
    assert fs.exists("") is True
    assert calls == [{"prefix": "", "max_results": 1}]
    # the bounded page really is bounded at the client level too
    assert len(real_list(prefix="", max_results=1)) == 1
    assert len(real_list(prefix="")) >= 5


def test_bucket_rooted_request_counts_per_op(bucket_store_parts):
    """Pin the object-store round trips of the two hot dict-plane ops on
    a 32-doc bucket-rooted pot, so a later change cannot quietly add a
    probe back. The head is cached from the first write on, so no op
    lists or fetches the snapshot. get = list commits + fetch manifest
    (2, 1 list). create = those 2 + snapshot dir probe and marker +
    parquet upload + conditional manifest put + the post-publish vacuum
    check (7, 3 lists)."""
    client = bucket_store_parts
    store = _bucket_store(client)
    store.create_batch("p", {f"k{i:02d}": {"v": i} for i in range(32)})

    calls: dict[str, int] = {}
    for method in ("upload", "download", "list", "delete", "mtime"):
        real = getattr(client, method)

        def counted(*a, _real=real, _method=method, **kw):
            calls[_method] = calls.get(_method, 0) + 1
            return _real(*a, **kw)

        setattr(client, method, counted)

    for i in range(3):
        calls.clear()
        assert len(store.get("p")) == 32 + i
        assert (sum(calls.values()), calls.get("list")) == (2, 1), calls
        calls.clear()
        store.create("p", {"id": f"new{i}"})
        assert (sum(calls.values()), calls.get("list")) == (7, 3), calls
    assert (store.metrics.head_cache_hits, store.metrics.head_cache_misses) == (6, 0)


@pytest.mark.parametrize("kind", ["local", "object", "fsspec"])
def test_snapshot_parquet_has_no_dictionary_page(kind, tmp_path, request):
    """Snapshot parts are (key, doc) with both columns all-unique, so
    every StoreFS writes them without dictionary encoding."""
    if kind == "local":
        fs, path = LocalStoreFS(), str(tmp_path / "part-00000.parquet")
    elif kind == "object":
        fs = ObjectStoreFS(request.getfixturevalue("bucket_store_parts"))
        path = "pots/snap/part-00000.parquet"
    else:
        fs, path = FsspecStoreFS(_MemFS()), "bucket/snap/part-00000.parquet"
    table = pa.table(
        {
            "key": [f"k{i}" for i in range(64)],
            "doc": [json.dumps({"name": f"k{i}", "v": i}) for i in range(64)],
        }
    )
    fs.write_parquet(table, path)
    meta = pq.ParquetFile(io.BytesIO(fs.read_bytes(path))).metadata
    cols = [meta.row_group(0).column(i) for i in range(meta.num_columns)]
    assert len(cols) == 2
    assert not any(c.has_dictionary_page for c in cols), kind
    assert fs.read_parquet(path, table.schema).equals(table)

