"""DataFrame data-plane tests for PotStore: bulk upsert via left_anti +
union, typed projection of JSON docs, cross-path interop (dict-API pot
readable as DataFrame and vice versa)."""

from __future__ import annotations

import json

import pytest

from pot_spark.kv import NoRewriteViolated, PotStore


@pytest.fixture()
def store(spark, tmp_path) -> PotStore:
    return PotStore(spark=spark, root=str(tmp_path / "potroot"))


def _doc_df(spark, rows: dict[str, dict]):
    return spark.createDataFrame(
        [(k, json.dumps(v, sort_keys=True)) for k, v in rows.items()],
        schema="key string, doc string",
    )


def test_create_df_and_get_df_roundtrip(spark, store):
    gen = store.create_df("bulk", _doc_df(spark, {"a": {"v": 1}, "b": {"v": 2}}))
    assert gen == 1
    got = {r["key"]: json.loads(r["doc"]) for r in store.get_df("bulk").collect()}
    assert got == {"a": {"v": 1}, "b": {"v": 2}}


def test_create_df_upsert_merges(spark, store):
    store.create_df("bulk", _doc_df(spark, {"a": {"v": 1}, "b": {"v": 2}}))
    store.create_df("bulk", _doc_df(spark, {"b": {"v": 20}, "c": {"v": 3}}))
    got = store.get("bulk")  # dict API reads Spark-written snapshots
    assert got == {"a": {"v": 1}, "b": {"v": 20}, "c": {"v": 3}}


def test_dict_api_readable_as_df(spark, store):
    store.create_batch("p", {"k1": {"v": 1, "tag": "x"}})
    df = store.get_typed("p", "v long, tag string")
    row = df.collect()[0]
    assert (row["key"], row["v"], row["tag"]) == ("k1", 1, "x")


def test_get_df_missing_pot_empty_with_schema(spark, store):
    df = store.get_df("missing")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["key", "doc"]


def test_create_df_norewrite_conflict(spark, store):
    store.create_df("p", _doc_df(spark, {"a": {"v": 1}}))
    with pytest.raises(NoRewriteViolated):
        store.create_df(
            "p",
            _doc_df(spark, {"a": {"v": 2}}),
            norewrite=True,
            norewrite_duration=60,
        )
    # fresh keys pass
    store.create_df(
        "p", _doc_df(spark, {"b": {"v": 2}}), norewrite=True, norewrite_duration=60
    )
    assert set(store.get("p")) == {"a", "b"}


def test_typed_nested_projection(spark, store):
    # the reference's nested fixture through the typed client path
    doc = {
        "id": "test",
        "age": 10,
        "path": ["test", "path"],
        "NiceThings": [{"name": "test"}, {"name": "test2"}],
    }
    store.create("test/path", doc)
    df = store.get_typed(
        "test/path",
        "id string, age long, path array<string>, NiceThings array<struct<name:string>>",
    )
    row = df.collect()[0]
    assert row["age"] == 10
    assert row["path"] == ["test", "path"]
    assert [n["name"] for n in row["NiceThings"]] == ["test", "test2"]


def test_bucketed_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    """O(delta) path: a small delta must reuse every untouched bucket's
    files from the previous snapshot and produce identical content to a
    dict-model merge."""
    import json as _json

    from pot_spark.kv.store import PotStore

    store = PotStore(spark, str(tmp_path))
    n = 8

    def keyed(rows):
        return spark.createDataFrame(
            [(k, _json.dumps({"v": v})) for k, v in rows], "key string, doc string"
        )

    base = [(f"k{i}", i) for i in range(100)]
    g1 = store.create_df_bucketed("b/p", keyed(base), n_buckets=n)
    m1 = store._latest_manifest("b/p")
    assert g1 == 1 and m1.files is not None and len(m1.files) == n

    delta = [("k3", 300), ("knew", 1000)]
    g2 = store.create_df_bucketed("b/p", keyed(delta), n_buckets=n)
    m2 = store._latest_manifest("b/p")
    assert g2 == 2

    reused = [b for b in map(str, range(n)) if m2.files[b] == m1.files[b]]
    rewritten = [b for b in map(str, range(n)) if m2.files[b] != m1.files[b]]
    assert len(rewritten) <= 2  # at most one bucket per delta key
    assert len(reused) >= n - 2  # everything else carried over untouched

    model = {k: {"v": v} for k, v in base}
    model.update({k: {"v": v} for k, v in delta})
    assert store.get("b/p") == model
    assert store.get_df("b/p").count() == len(model)

    # the bulk-bucketed path records the same span phases as create_df
    # (write/commit/create, one per commit)
    for phase in ("write", "commit", "create"):
        assert store.metrics.span_calls[phase] == 2, phase

    # vacuum must keep the gen-1 snapshot (its files are still referenced)
    store.vacuum("b/p")
    assert store.get("b/p") == model
    # and time travel to gen 1 still reads the original state
    assert store.get_at("b/p", 1) == {k: {"v": v} for k, v in base}


def test_concurrent_create_df_writers_all_commit(spark, tmp_path):
    """OCC on the Spark data plane: 4 threads bulk-upsert disjoint key
    sets into one pot concurrently; losers of the put-if-absent race must
    retry on fresh state, so every delta lands and generations are dense."""
    import json as _json
    from concurrent.futures import ThreadPoolExecutor

    from pot_spark.kv.store import PotStore

    store = PotStore(spark, str(tmp_path))

    def writer(i):
        df = spark.createDataFrame(
            [(f"w{i}-k{j}", _json.dumps({"w": i, "j": j})) for j in range(5)],
            "key string, doc string",
        )
        return store.create_df("race/p", df)

    with ThreadPoolExecutor(max_workers=4) as ex:
        gens = sorted(ex.map(writer, range(4)))

    # local-lock serializes in-process writers, so generations are 1..4
    assert gens == [1, 2, 3, 4]
    content = store.get("race/p")
    assert len(content) == 20
    assert {k for k in content} == {f"w{i}-k{j}" for i in range(4) for j in range(5)}


def test_compact_bucketed_collapses_to_one_snapshot(spark, tmp_path):
    """After a chain of O(delta) bucketed commits the live table spans
    several generations' bucket dirs; compact() must rewrite it into a
    single snapshot (all bucket paths share one snap dir), preserve
    content exactly, and let vacuum reclaim every older snapshot."""
    import json as _json

    store = PotStore(spark=spark, root=str(tmp_path / "root"))
    docs = {f"k{i}": {"v": i} for i in range(40)}
    store.create_df_bucketed("c/p", _doc_df(spark, docs), n_buckets=4)
    store.create_df_bucketed(
        "c/p", _doc_df(spark, {"k1": {"v": 101}, "k2": {"v": 102}}), n_buckets=4
    )
    docs.update({"k1": {"v": 101}, "k2": {"v": 102}})
    m_before = store._latest_manifest("c/p")
    assert len({rel.split("/", 1)[0] for rel in m_before.files.values()}) > 1

    gen = store.compact("c/p")
    assert gen == m_before.generation + 1
    m_after = store._latest_manifest("c/p")
    snapdirs = {rel.split("/", 1)[0] for rel in m_after.files.values()}
    assert snapdirs == {m_after.snapshot}
    assert len(m_after.files) == len(m_before.files)  # bucket layout kept
    got = {r["key"]: _json.loads(r["doc"]) for r in store.get_df("c/p").collect()}
    assert got == docs
    assert store.vacuum("c/p") >= 2  # both pre-compaction snapshots reclaimed
    got2 = store.get("c/p")  # dict API still reads the compacted layout
    assert got2 == docs


def test_compact_unbucketed_and_missing_pot(spark, tmp_path):
    store = PotStore(spark=spark, root=str(tmp_path / "root"))
    assert store.compact("nope") == 0
    store.create_df("u/p", _doc_df(spark, {"a": {"v": 1}}))
    store.create_df("u/p", _doc_df(spark, {"b": {"v": 2}}))
    gen = store.compact("u/p")
    assert gen == 3
    assert store.get("u/p") == {"a": {"v": 1}, "b": {"v": 2}}
    # further upserts on top of the compacted snapshot still merge
    store.create_df("u/p", _doc_df(spark, {"a": {"v": 10}}))
    assert store.get("u/p") == {"a": {"v": 10}, "b": {"v": 2}}


def test_restore_bucketed_reuses_files_and_survives_vacuum(spark, tmp_path):
    store = PotStore(spark=spark, root=str(tmp_path / "potroot"))
    v1 = {f"k{i}": {"v": i} for i in range(20)}
    store.create_df_bucketed("r/p", _doc_df(spark, v1), n_buckets=4)
    delta = {"k0": {"v": 100}, "k99": {"v": 99}}
    store.create_df_bucketed("r/p", _doc_df(spark, delta), n_buckets=4)
    assert store.get("r/p")["k0"] == {"v": 100}

    gen = store.restore("r/p", 1)
    assert gen == 3
    # restored state is generation 1's content, served through the
    # bucketed manifest's reused files
    got = {r["key"]: json.loads(r["doc"]) for r in store.get_df("r/p").collect()}
    assert got == v1
    # vacuum must keep every bucket file the restored manifest references
    store.vacuum("r/p")
    got2 = {r["key"]: json.loads(r["doc"]) for r in store.get_df("r/p").collect()}
    assert got2 == v1
    # and the store continues to accept O(delta) upserts after restore
    store.create_df_bucketed("r/p", _doc_df(spark, {"k1": {"v": -1}}), n_buckets=4)
    assert store.get("r/p")["k1"] == {"v": -1}
    assert store.get("r/p")["k0"] == {"v": 0}


def test_changes_df_matches_dict_feed(spark, store):
    store.create_df("cd/p", _doc_df(spark, {"a": {"v": 1}, "b": {"v": 2}}))
    store.create_df("cd/p", _doc_df(spark, {"a": {"v": 10}, "c": {"v": 3}}))
    store.remove("cd/p", "b")
    feed_df = {
        r["key"]: (r["op"], json.loads(r["doc"]) if r["doc"] else None)
        for r in store.changes_df("cd/p", 1).collect()
    }
    assert feed_df == store.changes("cd/p", 1)
    assert feed_df == {
        "a": ("update", {"v": 10}),
        "c": ("insert", {"v": 3}),
        "b": ("delete", None),
    }
    # DataFrame time travel matches dict time travel
    at1 = {r["key"] for r in store.get_df_at("cd/p", 1).collect()}
    assert at1 == set(store.get_at("cd/p", 1)) == {"a", "b"}


def test_changes_df_prunes_untouched_buckets(spark, tmp_path):
    store = PotStore(spark=spark, root=str(tmp_path / "potroot"))
    n = 8
    base = {f"k{i}": {"v": i} for i in range(64)}
    store.create_df_bucketed("cb/p", _doc_df(spark, base), n_buckets=n)
    store.create_df_bucketed("cb/p", _doc_df(spark, {"k0": {"v": -1}}), n_buckets=n)
    diff = store.changes_df("cb/p", 1, 2)
    rows = {(r["key"], r["op"]) for r in diff.collect()}
    assert rows == {("k0", "update")}
    # the diff must only read the touched bucket's dir from each
    # generation — every input file lives under exactly one __b=<k>
    # value, never the other n-1 buckets
    buckets = {f.rsplit("__b=", 1)[1].split("/")[0] for f in diff.inputFiles()}
    assert len(buckets) == 1, buckets


def test_shallow_clone_bucketed_reads_source_files_then_cow(spark, tmp_path):
    store = PotStore(spark=spark, root=str(tmp_path / "potroot"))
    base = {f"k{i}": {"v": i} for i in range(40)}
    store.create_df_bucketed("cl/src", _doc_df(spark, base), n_buckets=4)
    store.clone("cl/src", "cl/dst")
    # the clone's DataFrame reads the SOURCE's snapshot files in place
    df = store.get_df("cl/dst")
    assert {r["key"] for r in df.collect()} == set(base)
    assert all("cl/src" in f for f in df.inputFiles())
    # copy-on-write mutation keeps the bucket layout and only writes the
    # touched bucket, leaving the other buckets pointing into the source
    store.create_df_bucketed(
        "cl/dst", _doc_df(spark, {"k0": {"v": -1}}), n_buckets=4
    )
    assert store.get("cl/dst")["k0"] == {"v": -1}
    assert store.get("cl/src")["k0"] == {"v": 0}
    files = store.get_df("cl/dst").inputFiles()
    assert any("cl/src" in f for f in files)  # untouched buckets shared
    assert any("cl/dst" in f for f in files)  # touched bucket local


def test_create_df_collapses_duplicate_keys_in_batch(spark, store):
    """A batch carrying the same key twice must publish ONE row per key
    (a JSON batch body can't duplicate object keys; the DataFrame plane
    enforces the same invariant)."""
    import json as _json

    dup = spark.createDataFrame(
        [("a", _json.dumps({"v": 1})), ("a", _json.dumps({"v": 2})),
         ("b", _json.dumps({"v": 3}))],
        schema="key string, doc string",
    )
    store.create_df("dup", dup)
    rows = store.get_df("dup").collect()
    assert len(rows) == 2
    assert {r["key"] for r in rows} == {"a", "b"}
    # dict plane agrees (no fan-out on read-back)
    assert set(store.get("dup")) == {"a", "b"}


def test_dict_upsert_carries_untouched_doc_text(spark, store):
    """A dict-plane upsert carries every untouched row as its stored
    text: a DataFrame-written doc in non-canonical form (unsorted keys,
    no spaces) stays byte-identical, through the no-Spark compact too."""
    raw = '{"b":1,"a":2}'
    store.create_df(
        "bt", spark.createDataFrame([("x", raw)], schema="key string, doc string")
    )
    store.create("bt", {"id": "y", "v": 1})
    want = {"x": {"a": 2, "b": 1}, "y": {"id": "y", "v": 1}}

    def stored_text() -> dict[str, str]:
        return {r["key"]: r["doc"] for r in store.get_df("bt").collect()}

    assert stored_text()["x"] == raw
    assert store.get("bt") == want
    assert PotStore(None, store.root).compact("bt") == 3
    assert stored_text()["x"] == raw
    assert store.get("bt") == want


def test_dict_upsert_ignores_unparseable_untouched_doc(spark, store):
    """An unparseable doc under an untouched key does not fail an
    unrelated upsert (its text is carried, never decoded); get() still
    raises on it."""
    store.create_df(
        "bad", spark.createDataFrame([("x", "{not json")], schema="key string, doc string")
    )
    assert store.create("bad", {"id": "y"}).generation == 2
    assert {r["key"]: r["doc"] for r in store.get_df("bad").collect()} == {
        "x": "{not json",
        "y": '{"id": "y"}',
    }
    with pytest.raises(json.JSONDecodeError):
        store.get("bad")


def test_vacuumed_generation_raises_clean_error(spark, store):
    """After vacuum, time travel to a reclaimed generation must raise the
    lifecycle error (not FileNotFoundError out of a parquet read), on
    both the dict and DataFrame planes."""
    import pytest as _pytest

    store.create_df("tt", _doc_df(spark, {"a": {"v": 1}}))
    store.create_df("tt", _doc_df(spark, {"a": {"v": 2}}))
    assert store.vacuum("tt") >= 1
    with _pytest.raises(ValueError, match="vacuumed"):
        store.get_at("tt", 1)
    with _pytest.raises(ValueError, match="vacuumed"):
        store.get_df_at("tt", 1)
    # the latest generation stays fully readable
    assert store.get("tt")["a"] == {"v": 2}


def test_vacuum_spares_staged_future_generation(spark, store):
    """A concurrent writer's staged-but-uncommitted next-generation
    snapshot dir must survive vacuum (only superseded/loser dirs at or
    below the committed generation are reclaimed)."""
    import os

    store.create_df("vs", _doc_df(spark, {"a": {"v": 1}}))
    store.create_df("vs", _doc_df(spark, {"a": {"v": 2}}))  # gen 2 live
    pot_dir = store._pot_dir("vs")
    staged = os.path.join(pot_dir, "snap-" + format(3, "020d") + "-deadbeef")
    os.makedirs(staged)
    removed = store.vacuum("vs")
    assert removed >= 1  # gen-1's superseded snapshot went away
    assert os.path.isdir(staged)  # the staged gen-3 dir did not


def test_create_df_restages_snapshot_reclaimed_before_publish(
    spark, store, monkeypatch
):
    """Spark-plane twin of the stage-then-publish vacuum-race repair:
    the staged snapshot vanishes between the parquet write and the
    manifest put_if_absent (a cross-process vacuum with an aggressive
    grace window); the winner must notice and restage."""
    orig = store._try_commit

    def reclaim_then_commit(path, manifest):
        snap = store._snapshot_path(path, manifest.snapshot)
        if store._fs.isdir(snap):
            store._fs.rmtree(snap)
        return orig(path, manifest)

    monkeypatch.setattr(store, "_try_commit", reclaim_then_commit)
    store.create_df("rsdf", _doc_df(spark, {"a": {"v": 1}, "b": {"v": 2}}))
    monkeypatch.setattr(store, "_try_commit", orig)
    got = {r["key"]: json.loads(r["doc"]) for r in store.get_df("rsdf").collect()}
    assert got == {"a": {"v": 1}, "b": {"v": 2}}


def test_create_df_bucketed_restages_snapshot_reclaimed_before_publish(
    spark, store, monkeypatch
):
    store.create_df_bucketed(
        "rsb", _doc_df(spark, {"a": {"v": 1}, "b": {"v": 2}}), n_buckets=4
    )
    orig = store._try_commit

    def reclaim_then_commit(path, manifest):
        snap = store._snapshot_path(path, manifest.snapshot)
        if store._fs.isdir(snap):
            store._fs.rmtree(snap)
        return orig(path, manifest)

    monkeypatch.setattr(store, "_try_commit", reclaim_then_commit)
    store.create_df_bucketed("rsb", _doc_df(spark, {"c": {"v": 3}}), n_buckets=4)
    monkeypatch.setattr(store, "_try_commit", orig)
    got = {r["key"]: json.loads(r["doc"]) for r in store.get_df("rsb").collect()}
    assert got == {"a": {"v": 1}, "b": {"v": 2}, "c": {"v": 3}}


# -- one commit loop: the Spark-plane entry points survive a lost race ------


@pytest.mark.parametrize(
    "op", ["create_df", "create_df_bucketed", "compact_bucketed", "clone_deep_bucketed"]
)
def test_lost_race_commits_exactly_once(spark, store, monkeypatch, op):
    from tests.test_kv_store import assert_commits_once_after_lost_race

    base = {"a": {"v": 1}, "b": {"v": 2}, "c": {"v": 3}}
    store.create_df_bucketed("src", _doc_df(spark, base), n_buckets=4)
    delta = {"b": {"v": 20}, "d": {"v": 4}}
    path, run, want = {
        "create_df": (
            "src",
            lambda: store.create_df("src", _doc_df(spark, delta)),
            {**base, **delta},
        ),
        "create_df_bucketed": (
            "src",
            lambda: store.create_df_bucketed("src", _doc_df(spark, delta), n_buckets=4),
            {**base, **delta},
        ),
        "compact_bucketed": ("src", lambda: store.compact("src"), base),
        "clone_deep_bucketed": (
            "dst",
            lambda: store.clone("src", "dst", deep=True),
            base,
        ),
    }[op]
    assert_commits_once_after_lost_race(store, monkeypatch, path, run)
    got = {r["key"]: json.loads(r["doc"]) for r in store.get_df(path).collect()}
    assert got == want
