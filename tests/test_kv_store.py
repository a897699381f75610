"""pot-semantics tests, mirroring the reference's suite (SURVEY.md §5):
lease boundary cases (server_test.go:14-32), round-trip golden equality
(client_test.go:98-173), catalog listing (client_test.go:61-96),
norewrite races (client_test.go:175-245), election/renewal
(client_test.go:247-339).
"""

from __future__ import annotations

import json
import tarfile
import threading
import time

import pytest

from pot_spark.kv import NoRewriteViolated, PotStore
from pot_spark.kv.archive import zip_store
from pot_spark.kv.store import derive_key

# the reference's nested schema-complexity bar (client_test.go:18-25)
TEST_DOC = {
    "id": "test",
    "age": 10,
    "path": ["test", "path", "to", "test"],
    "NiceThings": [{"name": "test"}, {"name": "test2"}],
}


@pytest.fixture()
def store(tmp_path) -> PotStore:
    return PotStore(spark=None, root=str(tmp_path / "potroot"))


# -- key derivation (server.go:347-354) -------------------------------------


def test_key_from_name(store):
    store.create("p", {"name": "n1", "v": 1})
    assert set(store.get("p")) == {"n1"}


def test_id_overrides_name(store):
    # documented at readme.md:40: id takes precedence over name
    store.create("p", {"name": "n1", "id": "i1", "v": 1})
    assert set(store.get("p")) == {"i1"}


def test_no_key_fields_gives_empty_key(store):
    store.create("p", {"v": 1})
    assert set(store.get("p")) == {""}


def test_non_string_key_raises(store):
    # reference panics on the type assertion (server.go:350/353)
    with pytest.raises(TypeError):
        derive_key({"id": 42})
    with pytest.raises(TypeError):
        derive_key({"name": ["x"]})


# -- round-trip golden equality (client_test.go:98-173) ----------------------


def test_roundtrip_nested_doc(store):
    resp = store.create("test/path", TEST_DOC)
    assert resp.generation == 1
    got = store.get("test/path")
    # golden equality: canonical JSON byte-for-byte
    assert json.dumps(got["test"], sort_keys=True) == json.dumps(
        TEST_DOC, sort_keys=True
    )
    store.remove("test/path", "test")
    assert store.get("test/path") == {}


def test_get_missing_pot_is_empty(store):
    assert store.get("never/created") == {}


def test_upsert_preserves_unrelated_keys(store):
    store.create("p", {"id": "a", "v": 1})
    store.create("p", {"id": "b", "v": 2})
    store.create("p", {"id": "a", "v": 3})  # last-writer-wins on a
    got = store.get("p")
    assert got == {"a": {"id": "a", "v": 3}, "b": {"id": "b", "v": 2}}


def test_batch_upsert(store):
    store.create_batch("p", {"k1": {"v": 1}, "k2": {"v": 2}})
    assert set(store.get("p")) == {"k1", "k2"}


def test_remove_missing_key_is_noop(store):
    store.create("p", {"id": "a"})
    store.remove("p", "nope")  # silent (server.go:536-538)
    assert set(store.get("p")) == {"a"}


def test_remove_on_missing_pot_writes_empty_pot(store):
    store.remove("fresh/pot", "k")  # reference writes an empty pot
    assert store.get("fresh/pot") == {}
    assert "fresh/pot" in store.list_paths()


# -- catalog (client_test.go:61-96; server.go:432-466) -----------------------


def test_list_paths(store):
    assert store.list_paths() == []
    store.create("test/path", TEST_DOC)
    assert store.list_paths() == ["test/path"]
    store.create("test/other", {"id": "x"})
    assert store.list_paths("test/") == ["test/other", "test/path"]
    assert store.list_paths("test/p") == ["test/path"]  # raw string prefix


def test_root_pot_invisible_to_list(store):
    store.create("", {"id": "rooty"})
    assert store.get("")["rooty"] == {"id": "rooty"}
    assert store.list_paths() == []  # server.go:450: requires "/data.json"


# -- lease boundaries (server_test.go:14-32) ---------------------------------


def test_can_rewrite_boundaries():
    now = 1000.0
    assert PotStore._can_rewrite(now, now, 1.0) is False  # same time
    assert PotStore._can_rewrite(now, now + 1.000001, 1.0) is True  # past lease
    assert PotStore._can_rewrite(now, now + 2.0, 1.0) is True
    assert PotStore._can_rewrite(now, now + 1.0, 1.0) is False  # strict <


# -- norewrite semantics (server.go:365-393) ---------------------------------


def test_norewrite_blocks_existing_key(store):
    store.create("p", {"id": "k", "v": 1})
    with pytest.raises(NoRewriteViolated):
        store.create("p", {"id": "k", "v": 2}, norewrite=True, norewrite_duration=60)
    assert store.get("p")["k"]["v"] == 1  # nothing written


def test_norewrite_allows_new_keys(store):
    store.create("p", {"id": "k", "v": 1})
    store.create("p", {"id": "other", "v": 2}, norewrite=True, norewrite_duration=60)
    assert set(store.get("p")) == {"k", "other"}


def test_norewrite_missing_pot_always_allowed(store):
    # reader == nil skips the gate entirely (server.go:369-371)
    store.create("p", {"id": "k"}, norewrite=True, norewrite_duration=60)
    assert set(store.get("p")) == {"k"}


def test_norewrite_zero_duration_does_not_block(store):
    # d == 0 skips the lease check (server.go:373: only applies when > 0)
    store.create("p", {"id": "k", "v": 1})
    store.create("p", {"id": "k", "v": 2}, norewrite=True, norewrite_duration=0)
    assert store.get("p")["k"]["v"] == 2


def test_norewrite_lease_expiry_allows(store):
    store.create("p", {"id": "k", "v": 1})
    time.sleep(0.15)
    store.create("p", {"id": "k", "v": 2}, norewrite=True, norewrite_duration=0.1)
    assert store.get("p")["k"]["v"] == 2


def test_norewrite_generation_ownership_renews(store):
    # self-renewal within the lease window (server.go:379-382;
    # client_test.go:319-339)
    r1 = store.create("p", {"id": "k", "v": 1})
    for i in range(3):
        r1 = store.create(
            "p",
            {"id": "k", "v": 2 + i},
            norewrite=True,
            norewrite_duration=60,
            generation=r1.generation,
        )
    assert store.get("p")["k"]["v"] == 4


def test_norewrite_stale_generation_blocked(store):
    r1 = store.create("p", {"id": "k", "v": 1})
    store.create("p", {"id": "k2", "v": 0})  # bumps generation
    with pytest.raises(NoRewriteViolated):
        store.create(
            "p",
            {"id": "k", "v": 9},
            norewrite=True,
            norewrite_duration=60,
            generation=r1.generation,
        )


def test_batch_norewrite_all_or_nothing(store):
    store.create("p", {"id": "k1", "v": 1})
    with pytest.raises(NoRewriteViolated):
        store.create_batch(
            "p",
            {"new1": {"v": 1}, "k1": {"v": 9}, "new2": {"v": 2}},
            norewrite=True,
            norewrite_duration=60,
        )
    # the conflicting batch wrote NOTHING, including its fresh keys
    assert set(store.get("p")) == {"k1"}


# -- races: exactly-one-winner (client_test.go:175-245) ----------------------


def test_norewrite_race_single_winner(store):
    n = 5
    results: list[object] = [None] * n
    barrier = threading.Barrier(n)

    def contend(i: int) -> None:
        barrier.wait()
        try:
            store.create(
                "test/election",
                {"id": "leader", "writer": i},
                norewrite=True,
                norewrite_duration=60,
            )
            results[i] = "won"
        except NoRewriteViolated:
            results[i] = "lost"

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("won") == 1
    assert results.count("lost") == n - 1
    # surviving value matches the winner
    winner = results.index("won")
    assert store.get("test/election")["leader"]["writer"] == winner


# -- election protocol (client_test.go:247-318) ------------------------------


def test_election_renewal_and_takeover(store):
    lease = 0.3
    # primary acquires
    r = store.create(
        "e", {"id": "leader", "who": "primary"}, norewrite=True, norewrite_duration=lease
    )
    # secondary blocked while the lease is fresh
    with pytest.raises(NoRewriteViolated):
        store.create(
            "e", {"id": "leader", "who": "secondary"}, norewrite=True,
            norewrite_duration=lease,
        )
    # primary renews via generation ownership (still within lease)
    r = store.create(
        "e",
        {"id": "leader", "who": "primary"},
        norewrite=True,
        norewrite_duration=lease,
        generation=r.generation,
    )
    # after expiry the secondary takes over
    time.sleep(lease + 0.05)
    store.create(
        "e", {"id": "leader", "who": "secondary"}, norewrite=True,
        norewrite_duration=lease,
    )
    assert store.get("e")["leader"]["who"] == "secondary"


# -- generations & maintenance ------------------------------------------------


def test_generation_monotonic(store):
    g1 = store.create("p", {"id": "a"}).generation
    g2 = store.create("p", {"id": "b"}).generation
    store.remove("p", "a")
    g3 = store._latest_manifest("p").generation
    assert (g1, g2, g3) == (1, 2, 3)


def test_vacuum_drops_stale_snapshots(store):
    for i in range(4):
        store.create("p", {"id": f"k{i}"})
    removed = store.vacuum("p")
    assert removed == 3
    assert set(store.get("p")) == {"k0", "k1", "k2", "k3"}


# -- archive (server.go:550-614) ----------------------------------------------


def test_zip_store(store, tmp_path):
    store.create("landmarks", {"id": "sagrada-familia", "age": 141})
    store.create("landmarks", {"id": "eiffel-tower", "age": 136})
    store.create("deep/pot", {"id": "x"})
    store.create("", {"id": "rooty"})  # root pot IS archived (no suffix filter)
    bundle = zip_store(store)
    with tarfile.open(bundle) as tar:
        names = sorted(tar.getnames())
        assert names == ["data.json", "deep/pot/data.json", "landmarks/data.json"]
        lm = json.load(tar.extractfile("landmarks/data.json"))
    assert set(lm) == {"sagrada-familia", "eiffel-tower"}
    assert lm["sagrada-familia"]["age"] == 141
    # re-zip skips the archive dir itself
    bundle2 = zip_store(store)
    with tarfile.open(bundle2) as tar:
        assert not any(n.startswith("archive") for n in tar.getnames())


def test_zip_store_reclaims_stale_staging(store):
    """A crashed zip leaves its per-call-unique staging file behind; the
    next zip reclaims leftovers whose writer is dead (flock free) past
    the open->flock grace, and leaves fresh ones alone."""
    import os
    import time as _time

    store.create("z/p", {"id": "k"})
    zip_store(store)
    out_dir = os.path.join(store.root, "archive")
    stale = os.path.join(out_dir, "bundle.tar.gz.staging-999-deadbeef")
    fresh = os.path.join(out_dir, "bundle.tar.gz.staging-998-cafecafe")
    for p in (stale, fresh):
        with open(p, "wb") as f:
            f.write(b"partial")
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    zip_store(store)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # could be a live concurrent writer's


def test_zip_store_never_reclaims_live_staging(store):
    """Liveness is the flock, not mtime age: a zip that runs longer than
    any fixed horizon (advisor round 5 — a very large store) keeps its
    in-progress staging file because the sweep's non-blocking flock
    probe fails while the writer holds the lock."""
    import fcntl
    import os
    import time as _time

    store.create("z/p", {"id": "k"})
    out_dir = os.path.join(store.root, "archive")
    os.makedirs(out_dir, exist_ok=True)
    live = os.path.join(out_dir, "bundle.tar.gz.staging-997-feedface")
    holder = open(live, "wb")
    try:
        holder.write(b"partial")
        holder.flush()
        fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
        old = _time.time() - 7200  # far older than any age horizon
        os.utime(live, (old, old))
        zip_store(store)
        assert os.path.exists(live)  # live writer survived the sweep
    finally:
        holder.close()
    zip_store(store)
    assert not os.path.exists(live)  # dead writer is reclaimed promptly


def test_zip_store_failure_removes_staging(store, monkeypatch):
    import os

    store.create("z/p", {"id": "k"})
    out_dir = os.path.join(store.root, "archive")

    real_get = store.get

    def boom(path):
        if path == "":
            return real_get(path)  # root-pot probe runs before staging opens
        raise RuntimeError("mid-zip crash")

    monkeypatch.setattr(store, "get", boom)
    with pytest.raises(RuntimeError):
        zip_store(store)
    leftovers = [n for n in os.listdir(out_dir) if ".staging-" in n]
    assert leftovers == []


def test_zip_store_degrades_without_flock(store, monkeypatch):
    """On filesystems where flock raises ENOTSUP (NFS/SMB mounts), the
    archive must still succeed (advisor round 6: the locking upgrade
    must not regress the pre-flock everywhere-works behavior), and the
    sweep falls back to the mtime-horizon reclaim rule: past-horizon
    leftovers reclaimed, younger ones kept."""
    import errno
    import os
    import time as _time

    from pot_spark.kv import archive as archive_mod

    def no_flock(fileobj, flags):
        raise OSError(errno.ENOTSUP, "flock not supported")

    monkeypatch.setattr(archive_mod.fcntl, "flock", no_flock)
    store.create("z/p", {"id": "k"})
    bundle = zip_store(store)  # writer-side flock failure must not raise
    assert os.path.exists(bundle)
    out_dir = os.path.join(store.root, "archive")
    ancient = os.path.join(out_dir, "bundle.tar.gz.staging-996-0ldfile0")
    recent = os.path.join(out_dir, "bundle.tar.gz.staging-995-n3wfile0")
    for p in (ancient, recent):
        with open(p, "wb") as f:
            f.write(b"partial")
    old = _time.time() - 2 * archive_mod._STAGING_MTIME_HORIZON_SEC
    os.utime(ancient, (old, old))
    mid = _time.time() - 2 * archive_mod._STAGING_GRACE_SEC
    os.utime(recent, (mid, mid))  # past grace but inside the horizon
    zip_store(store)
    assert not os.path.exists(ancient)  # mtime rule reclaims it
    assert os.path.exists(recent)  # could be a live flock-less writer's


def test_vacuum_grace_tracks_bucket_subdir_writes(store):
    """The grace window must key off the NEWEST mtime in the snapshot
    tree: a bucketed stage write lands in __b=<k> subdirs without
    refreshing the top-level dir's mtime, and must not be reclaimed
    while its files are still being written."""
    import os
    import time as _time

    store.create("vg/p", {"id": "a"})
    pot_dir = store._pot_dir("vg/p")
    # simulate a commit-race loser's in-flight bucketed stage at the
    # committed generation: top-level dir backdated past the grace, but
    # a bucket file written just now
    stage = os.path.join(pot_dir, "snap-00000000000000000001-loser")
    bucket = os.path.join(stage, "__b=3")
    os.makedirs(bucket)
    with open(os.path.join(bucket, "part-0.parquet"), "wb") as f:
        f.write(b"in-flight")
    old = _time.time() - 3600
    os.utime(stage, (old, old))
    assert store.vacuum("vg/p", grace_s=60.0) == 0  # spared: tree is fresh
    # once the whole tree is old, it is garbage and goes
    for dirpath, dirnames, filenames in os.walk(stage):
        for child in dirnames + filenames:
            os.utime(os.path.join(dirpath, child), (old, old))
    os.utime(stage, (old, old))
    assert store.vacuum("vg/p", grace_s=60.0) == 1
    assert not os.path.exists(stage)


def test_time_travel_generations(tmp_path):
    from pot_spark.kv.store import PotStore

    store = PotStore(None, str(tmp_path))
    store.create("t/p", {"id": "a", "v": 1})
    store.create("t/p", {"id": "b", "v": 2})
    store.remove("t/p", "a")
    assert [g for g, _ in store.list_generations("t/p")] == [1, 2, 3]
    assert set(store.get_at("t/p", 1)) == {"a"}
    assert set(store.get_at("t/p", 2)) == {"a", "b"}
    assert set(store.get_at("t/p", 3)) == {"b"}
    assert store.get("t/p") == store.get_at("t/p", 3)
    assert store.get_at("t/p", 99) == {}  # missing generation => empty
    # vacuum keeps only the live snapshot: old generations become empty
    store.vacuum("t/p")
    assert store.get_at("t/p", 3) == store.get("t/p")


def test_store_metrics_counters(tmp_path):
    from pot_spark.kv.store import PotStore

    store = PotStore(None, str(tmp_path))
    store.create("m/p", {"id": "a"})
    store.create_batch("m/p", {"b": {"v": 1}, "c": {"v": 2}})
    store.get("m/p")
    store.get("m/p")
    store.remove("m/p", "a")
    store.list_paths()
    m = store.metrics
    assert m.writes == 3  # create + batch + the remove's rewrite
    assert m.reads == 2
    assert m.removes == 1
    assert m.lists == 1
    assert m.lock_acquisitions == 3
    assert m.avg_local_lock_duration_ms >= 0.0


def test_orphan_staged_snapshot_is_harmless_and_vacuumed(tmp_path):
    """Crash recovery: a writer that staged a snapshot but died before the
    manifest commit leaves an orphan dir — readers never see it, the next
    writer is unaffected, and vacuum reclaims it once it has aged past
    the in-flight-writer grace window (a FRESH unreferenced stage is
    indistinguishable from a commit-race loser mid-write, so default
    vacuum spares it)."""
    import os

    from pot_spark.kv.store import PotStore

    store = PotStore(None, str(tmp_path))
    store.create("c/p", {"id": "a", "v": 1})

    # simulate the crash: stage a snapshot for gen 2, write NO manifest
    orphan = store._snapshot_path("c/p", "snap-00000000000000000002-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"not a real parquet file")

    assert store.get("c/p") == {"a": {"id": "a", "v": 1}}  # reader unaffected
    resp = store.create("c/p", {"id": "b"})  # next writer commits gen 2 fine
    assert resp.generation == 2
    assert set(store.get("c/p")) == {"a", "b"}

    # first pass reclaims only the superseded gen-1 snapshot; the FRESH
    # orphan is inside the grace window and survives
    assert store.vacuum("c/p") == 1
    assert os.path.isdir(orphan)
    assert store.vacuum("c/p", grace_s=0.0) == 1
    assert not os.path.isdir(orphan)
    assert set(store.get("c/p")) == {"a", "b"}


def test_compact_dict_only_store(store):
    """compact() works without a SparkSession (pyarrow snapshot rewrite):
    new generation, identical content, old snapshots vacuumable."""
    store.create("p", {"id": "a", "v": 1})
    store.create("p", {"id": "b", "v": 2})
    gen = store.compact("p")
    assert gen == 3
    assert store.get("p") == {
        "a": {"id": "a", "v": 1},
        "b": {"id": "b", "v": 2},
    }
    assert store.vacuum("p") == 2
    assert store.get("p") == {
        "a": {"id": "a", "v": 1},
        "b": {"id": "b", "v": 2},
    }


def test_create_codec_work_does_not_scale_with_untouched_docs(tmp_path, monkeypatch):
    """A single-doc upsert encodes only its own doc and decodes none of
    the stored ones: it makes the same number of json.loads/json.dumps
    calls on a 10-doc pot as on a 1,000-doc pot."""
    import pot_spark.kv.store as store_mod

    def codec_calls(n_docs: int) -> dict[str, int]:
        store = PotStore(spark=None, root=str(tmp_path / f"n{n_docs}"))
        store.create_batch("p", {f"k{i:05d}": {"v": i} for i in range(n_docs)})
        calls = {"loads": 0, "dumps": 0}
        with monkeypatch.context() as m:
            for fn in calls:
                def counted(*args, _fn=fn, _real=getattr(json, fn), **kwargs):
                    calls[_fn] += 1
                    return _real(*args, **kwargs)

                m.setattr(store_mod.json, fn, counted)
            store.create("p", {"id": "new", "v": -1})
        assert len(store.get("p")) == n_docs + 1
        return calls

    small = codec_calls(10)
    assert small["dumps"] >= 1  # the wrappers did see the write
    assert codec_calls(1000) == small


def test_restore_rolls_back_metadata_only(store):
    store.create("r/p", {"id": "a", "v": 1})
    store.create("r/p", {"id": "b", "v": 2})
    store.remove("r/p", "a")
    gen = store.restore("r/p", 2)
    assert gen == 4  # restore is a NEW generation, not history rewrite
    assert set(store.get("r/p")) == {"a", "b"}
    assert store.get("r/p") == store.get_at("r/p", 2)
    # the rolled-back-over states remain time-travelable
    assert set(store.get_at("r/p", 3)) == {"b"}
    # further writes continue from the restored state
    store.create("r/p", {"id": "c", "v": 3})
    assert set(store.get("r/p")) == {"a", "b", "c"}


def test_restore_missing_generation_raises(store):
    store.create("r/q", {"id": "a", "v": 1})
    with pytest.raises(ValueError):
        store.restore("r/q", 99)


def test_restore_vacuumed_generation_raises(store):
    store.create("r/v", {"id": "a", "v": 1})
    store.create("r/v", {"id": "b", "v": 2})
    store.vacuum("r/v")
    with pytest.raises(ValueError):
        store.restore("r/v", 1)


def test_restore_survives_vacuum(store):
    store.create("r/w", {"id": "a", "v": 1})
    store.create("r/w", {"id": "b", "v": 2})
    store.restore("r/w", 1)
    # the restored manifest references generation 1's snapshot: vacuum
    # must treat it as live and the restored content must survive
    store.vacuum("r/w")
    assert set(store.get("r/w")) == {"a"}


def test_changes_feed_insert_update_delete(store):
    store.create_batch("cf/p", {"a": {"v": 1}, "b": {"v": 2}})  # gen 1
    store.create("cf/p", {"id": "a", "v": 10})  # gen 2: update a
    store.create("cf/p", {"id": "c", "v": 3})  # gen 3: insert c
    store.remove("cf/p", "b")  # gen 4: delete b
    feed = store.changes("cf/p", 1, 4)
    assert feed == {
        "a": ("update", {"id": "a", "v": 10}),
        "c": ("insert", {"id": "c", "v": 3}),
        "b": ("delete", None),
    }
    # to_generation omitted => diff against latest
    assert store.changes("cf/p", 1) == feed
    # adjacent generations see only their own delta
    assert store.changes("cf/p", 2, 3) == {"c": ("insert", {"id": "c", "v": 3})}
    # identical generations => empty feed; missing from-gen => all inserts
    assert store.changes("cf/p", 3, 3) == {}
    assert set(store.changes("cf/p", 99, 4)) == {"a", "c"}  # 99 reads empty


# -- clone ------------------------------------------------------------------


def test_shallow_clone_is_metadata_only_and_cow(store, tmp_path):
    store.create_batch("c/src", {"a": {"v": 1}, "b": {"v": 2}})
    gen = store.clone("c/src", "c/dst")
    assert gen == 1
    assert store.get("c/dst") == store.get("c/src")
    # O(1): no parquet data under the clone's pot dir (pure manifest)
    import os

    dst_dir = store._pot_dir("c/dst")
    data_files = [
        f for _, _, fs in os.walk(dst_dir) for f in fs if f.endswith(".parquet")
    ]
    assert data_files == []
    # copy-on-write both directions
    store.create("c/dst", {"id": "a", "v": 10})
    assert store.get("c/src")["a"] == {"v": 1}
    store.create("c/src", {"id": "b", "v": 20})
    assert store.get("c/dst")["b"] == {"v": 2}


def test_deep_clone_survives_source_vacuum(store):
    store.create_batch("d/src", {"a": {"v": 1}})
    store.clone("d/src", "d/deep", deep=True)
    # supersede + reclaim the source snapshot entirely
    store.create("d/src", {"id": "a", "v": 2})
    store.compact("d/src")
    store.vacuum("d/src")
    assert store.get("d/deep") == {"a": {"v": 1}}


def test_clone_missing_source_raises(store):
    with pytest.raises(ValueError):
        store.clone("c/nope", "c/dst2")


def test_clone_onto_existing_pot_replaces_at_next_generation(store):
    store.create_batch("e/src", {"x": {"v": 1}})
    store.create_batch("e/dst", {"y": {"v": 9}})
    gen = store.clone("e/src", "e/dst")
    assert gen == 2
    assert store.get("e/dst") == {"x": {"v": 1}}
    # history is retained: the pre-clone state is still readable
    assert store.get_at("e/dst", 1) == {"y": {"v": 9}}


def test_remove_with_generation_is_compare_and_delete(store):
    res = store.create_batch("g/cad", {"leader": {"v": 1}})
    # stale guard: pot moved on since gen was read -> refuse, keep key
    store.create_batch("g/cad", {"leader": {"v": 2}})
    with pytest.raises(NoRewriteViolated):
        store.remove("g/cad", "leader", generation=res.generation)
    assert store.get("g/cad") == {"leader": {"v": 2}}
    # current guard: removal commits
    cur = store.get("g/cad")  # refresh generation cache
    store.remove("g/cad", "leader", generation=store.generation_cache["g/cad"])
    assert store.get("g/cad") == {}
    # guard against a missing pot also refuses
    with pytest.raises(NoRewriteViolated):
        store.remove("g/nope", "k", generation=1)
    # unguarded remove keeps the silent-no-op semantics
    store.remove("g/cad", "leader")


def test_vacuum_grace_spares_fresh_commit_race_loser_stage(store):
    """A cross-process commit-race loser can be mid-write in a stage dir
    whose generation EQUALS the newly committed one. vacuum must skip
    unreferenced stage dirs younger than the grace window (it cannot
    tell them from in-flight writes), and reclaim them once aged."""
    import os

    store.create("vg", {"id": "a"})
    store.create("vg", {"id": "b"})  # committed generation 2
    pot_dir = store._pot_dir("vg")
    # simulate the loser: staged at gen 2, never committed, just written
    loser = os.path.join(pot_dir, "snap-" + format(2, "020d") + "-10531041")
    os.makedirs(loser)
    removed = store.vacuum("vg")  # default grace: 24 h
    assert os.path.isdir(loser), "fresh loser stage must survive vacuum"
    assert removed >= 1  # the superseded gen-1 snapshot still went away
    # once aged past the grace window the stage is reclaimable garbage
    old = time.time() - 120
    os.utime(loser, (old, old))
    assert store.vacuum("vg", grace_s=60.0) == 1
    assert not os.path.isdir(loser)


def test_concurrent_zip_store_produces_valid_bundle(store, tmp_path):
    """Two in-process threads (the HTTP shim's post-write trigger shape)
    zipping simultaneously must not interleave bytes in a shared staging
    file — every published bundle must be a readable tar."""
    store.create("z/p", {"id": "a", "v": 1})
    errs = []

    def run():
        try:
            for _ in range(5):
                zip_store(store)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    bundle = f"{store.root}/archive/bundle.tar.gz"
    with tarfile.open(bundle, "r:gz") as tar:
        assert "z/p/data.json" in tar.getnames()
    # no staging leftovers
    import os

    leftovers = [n for n in os.listdir(f"{store.root}/archive") if "staging" in n]
    assert leftovers == []


def test_export_snapshot_tree_matches_bundle(store, tmp_path):
    """export_snapshot (the distributed 100TB form of zip_store) lays
    out byte-identical data.json members as a selectively-readable
    tree: same pot set, same sorted-key payloads, archive dir and
    export dest excluded, idempotent re-run."""
    import os

    from pot_spark.kv.archive import export_snapshot, zip_store

    store.create("landmarks", {"id": "sagrada-familia", "age": 141})
    store.create("deep/pot", {"id": "x"})
    store.create("", {"id": "rooty"})
    bundle = zip_store(store)
    dest = str(tmp_path / "export")
    n = export_snapshot(store, dest)
    with tarfile.open(bundle) as tar:
        members = {m: tar.extractfile(m).read() for m in tar.getnames()}
    exported = {}
    for dirpath, _dirs, files in os.walk(dest):
        for fn in files:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, dest)
            with open(full, "rb") as f:
                exported[rel] = f.read()
    assert exported == members
    assert n == len(members)
    # idempotent: a re-run rewrites atomically, never corrupts
    assert export_snapshot(store, dest) == n
    # the export dest itself is never exported, even under the root
    dest_in_root = os.path.join(store.root, "export2")
    export_snapshot(store, dest_in_root)
    assert export_snapshot(store, dest_in_root) == n  # no self-inclusion


def test_export_snapshot_distributed(spark, store, tmp_path):
    """The Spark path: per-pot copies fan out as executor tasks and
    produce the identical tree to the sequential path."""
    import os

    from pot_spark.kv.archive import export_snapshot

    for i in range(8):
        store.create(f"shard/p{i}", {"id": f"k{i}", "v": i})
    seq = str(tmp_path / "seq")
    par = str(tmp_path / "par")
    export_snapshot(store, seq)
    n = export_snapshot(store, par, spark=spark)
    assert n == 8

    def tree(dest):
        out = {}
        for dirpath, _dirs, files in os.walk(dest):
            for fn in files:
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    out[os.path.relpath(full, dest)] = f.read()
        return out

    assert tree(par) == tree(seq)


# -- stage-then-publish vacuum race repair (round-11 advice) -----------------


def test_commit_restages_snapshot_reclaimed_before_publish(store, monkeypatch):
    """A vacuum() in ANOTHER process (not serialized by our per-path
    lock) with an aggressive grace window can reclaim a writer's staged
    snapshot between its last stage write and the manifest
    put_if_absent; the conditional PUT still succeeds and the new HEAD
    would fail every read with 'was vacuumed'. The commit path must
    verify the staged snapshot survived the win and restage it."""
    import os

    orig = store._try_commit

    def reclaim_then_commit(path, manifest):
        # simulate the cross-process janitor firing at the worst moment
        snap = store._snapshot_path(path, manifest.snapshot)
        if store._fs.isdir(snap):
            store._fs.rmtree(snap)
        return orig(path, manifest)

    monkeypatch.setattr(store, "_try_commit", reclaim_then_commit)
    store.create("rs/p", {"id": "a", "v": 1})
    monkeypatch.setattr(store, "_try_commit", orig)
    # the repaired snapshot is on disk and readable at the committed HEAD
    m = store._latest_manifest("rs/p")
    assert os.path.isdir(store._snapshot_path("rs/p", m.snapshot))
    assert store.get("rs/p")["a"]["v"] == 1


def test_compact_restages_snapshot_reclaimed_before_publish(store, monkeypatch):
    store.create("rc/p", {"id": "a", "v": 1})
    store.create("rc/p", {"id": "b", "v": 2})
    orig = store._try_commit

    def reclaim_then_commit(path, manifest):
        snap = store._snapshot_path(path, manifest.snapshot)
        if store._fs.isdir(snap):
            store._fs.rmtree(snap)
        return orig(path, manifest)

    monkeypatch.setattr(store, "_try_commit", reclaim_then_commit)
    store.compact("rc/p")
    monkeypatch.setattr(store, "_try_commit", orig)
    assert set(store.get("rc/p")) == {"a", "b"}


# -- one commit loop: every entry point survives a lost publish race --------


def assert_commits_once_after_lost_race(store, monkeypatch, path, op) -> None:
    """Make the next manifest publish lose once (another writer "won"
    the generation without moving the head), run ``op`` and check the
    commit loop's contract: the generation advanced by exactly one, the
    generation cache holds it, and the losing attempt's staged snapshot
    dir is gone — every ``snap-*`` dir left is referenced by a retained
    manifest."""
    import os

    before = store._latest_manifest(path)
    expected = (before.generation if before else 0) + 1
    orig = store._try_commit
    lost = []

    def lose_first(p, manifest):
        if not lost:
            lost.append(manifest.generation)
            return False
        return orig(p, manifest)

    monkeypatch.setattr(store, "_try_commit", lose_first)
    gen = op()
    monkeypatch.setattr(store, "_try_commit", orig)

    assert lost == [expected]
    assert gen == expected == store._latest_manifest(path).generation
    assert store.generation_cache[path] == gen
    referenced = set()
    for g, _ in store.list_generations(path):
        m = store._manifest_at(path, g)
        referenced.add(m.snapshot)
        referenced.update(rel.split("/", 1)[0] for rel in (m.files or {}).values())
    pot_dir = store._pot_dir(path)
    staged = {n for n in os.listdir(pot_dir) if n.startswith("snap-")}
    assert staged <= referenced, f"unreferenced stages: {staged - referenced}"


_LOST_RACE_OPS = {
    "create": ("src", lambda s: s.create("src", {"id": "c", "v": 3}).generation),
    "restore": ("src", lambda s: s.restore("src", 1)),
    "clone_shallow": ("dst", lambda s: s.clone("src", "dst")),
    "clone_deep": ("dst", lambda s: s.clone("src", "dst", deep=True)),
    "compact": ("src", lambda s: s.compact("src")),
}


@pytest.mark.parametrize("op", sorted(_LOST_RACE_OPS))
def test_lost_race_commits_exactly_once(store, monkeypatch, op):
    store.create("src", {"id": "a", "v": 1})
    store.create("src", {"id": "b", "v": 2})
    before = store.get("src")
    path, run = _LOST_RACE_OPS[op]
    assert_commits_once_after_lost_race(store, monkeypatch, path, lambda: run(store))
    if op == "restore":
        assert store.get(path) == {"a": {"id": "a", "v": 1}}
    elif op != "create":
        assert store.get(path) == before


# -- head cache: keyed by the head manifest's identity ----------------------


def test_two_stores_on_one_root_see_each_others_writes(tmp_path):
    """Each store caches its own heads, so two stores over one root act
    like two processes: B's commit moves the head A lists, A misses and
    reads it, and A's next upsert merges onto B's content."""
    import shutil

    root = str(tmp_path / "potroot")
    a, b = PotStore(None, root), PotStore(None, root)
    a.create_batch("p", {"x": {"v": 1}})
    got = a.get("p")
    assert got == {"x": {"v": 1}}
    assert a.metrics.head_cache_hits == 1  # the write installed the head
    got["x"]["v"] = -1  # each caller gets its own dict
    assert a.get("p") == {"x": {"v": 1}}

    b.create("p", {"id": "y"})
    want = {"x": {"v": 1}, "y": {"id": "y"}}
    misses = a.metrics.head_cache_misses
    assert a.get("p") == want
    assert a.get_json("p") == json.dumps(want).encode()
    assert a.metrics.head_cache_misses == misses + 1

    b.remove("p", "x")
    a.create("p", {"id": "z"})
    want = {"y": {"id": "y"}, "z": {"id": "z"}}
    assert a.get("p") == b.get("p") == want
    assert a.get_json("p") == b.get_json("p") == json.dumps(want).encode()

    # deleted and recreated out of band: generation 1 again, but under a
    # new snapshot name, so A's cached generation-1 head is not served
    a.create_batch("q", {"old": {"v": 1}})
    assert a.get("q") == {"old": {"v": 1}}
    shutil.rmtree(tmp_path / "potroot" / "q")
    assert b.create_batch("q", {"new": {"v": 2}}).generation == 1
    assert a.get("q") == {"new": {"v": 2}}
    assert a.get_json("q") == b'{"new": {"v": 2}}'


def test_older_generation_never_replaces_the_cached_head(store):
    """Time travel reads an older generation but keeps the head cached."""
    store.create_batch("h/p", {"a": {"v": 1}})
    store.create("h/p", {"id": "b"})
    head = {"a": {"v": 1}, "b": {"id": "b"}}
    m = store.metrics
    assert store.get_at("h/p", 1) == {"a": {"v": 1}}
    hits, misses = m.head_cache_hits, m.head_cache_misses
    assert store.get("h/p") == head
    assert store.changes("h/p", 1) == {"b": ("insert", {"id": "b"})}
    assert store.get_json("h/p") == json.dumps(head).encode()
    assert (m.head_cache_hits, m.head_cache_misses) == (hits + 3, misses + 1)


def test_head_cache_budget_and_lru_eviction(tmp_path, monkeypatch):
    """The cache stays within ``_HEAD_CACHE_BYTES``: the least recently
    used head is evicted first, and a head over the budget on its own
    is never cached."""
    import pot_spark.kv.store as store_mod

    root = str(tmp_path / "potroot")
    docs = {f"k{i:03d}": {"v": i, "pad": "x" * 40} for i in range(50)}
    writer = PotStore(None, root)
    for p in ("p0", "p1", "p2"):
        writer.create_batch(p, docs)
    probe = PotStore(None, root)
    probe.get_json("p0")
    one = probe._heads.nbytes  # one head with its body
    assert one > 0

    def reads(store, paths):
        """(hits, misses) of one get_json per path, in order."""
        m = store.metrics
        h0, m0 = m.head_cache_hits, m.head_cache_misses
        for p in paths:
            assert store.get_json(p) == writer.get_json(p)
            assert store._heads.nbytes <= store_mod._HEAD_CACHE_BYTES
        return m.head_cache_hits - h0, m.head_cache_misses - m0

    monkeypatch.setattr(store_mod, "_HEAD_CACHE_BYTES", int(2.5 * one))
    store = PotStore(None, root)
    assert reads(store, ["p0", "p1", "p0"]) == (1, 2)
    # p1 is now the least recently used: caching p2 evicts it, not p0
    assert reads(store, ["p2"]) == (0, 1)
    assert reads(store, ["p0", "p2"]) == (2, 0)
    assert reads(store, ["p1"]) == (0, 1)

    monkeypatch.setattr(store_mod, "_HEAD_CACHE_BYTES", one // 4)
    store = PotStore(None, root)
    assert reads(store, ["p0", "p0"]) == (0, 2)
    assert store.get("p0") == store.get("p0") == docs
    store.create("p0", {"id": "k000", "v": -1})  # a won write caches nothing
    assert store._heads.nbytes == 0
    assert store.metrics.head_cache_hits == 0


def test_head_cache_under_concurrent_threads(tmp_path, monkeypatch):
    """The shim drives one store from many threads. With more threads
    than cores, a short switch interval and a budget that keeps
    evicting, every read sees its own thread's write, the cache's byte
    count stays equal to its entries' sizes and within the budget, and
    the final pots equal what another store reads."""
    import sys

    import pot_spark.kv.store as store_mod

    monkeypatch.setattr(store_mod, "_HEAD_CACHE_BYTES", 6000)
    root = str(tmp_path / "potroot")
    store = PotStore(None, root)
    pots = ["t0", "t1", "t2"]
    for p in pots:
        store.create_batch(p, {"seed": {"v": 0}})
    errors: list[BaseException] = []

    def worker(w: int) -> None:
        try:
            for i in range(20):
                p = pots[(w + i) % len(pots)]
                store.create(p, {"id": f"w{w}-{i}", "pad": "x" * 20})
                assert f"w{w}-{i}" in json.loads(store.get_json(p))
                assert f"w{w}-{i}" in store.get(p)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    cache = store._heads
    assert cache.nbytes == sum(h.nbytes for h in cache._heads.values())
    assert cache.nbytes <= store_mod._HEAD_CACHE_BYTES
    fresh = PotStore(None, root)
    for k, p in enumerate(pots):
        want = {"seed"} | {
            f"w{w}-{i}" for w in range(8) for i in range(20) if (w + i) % 3 == k
        }
        assert set(store.get(p)) == want
        assert store.get_json(p) == fresh.get_json(p)
