"""Spark 4 Python DataSource exposing pots as first-class formats:

    spark.read.format("pot").option("root", R).load("a/b")      # batch read
    df.write.format("pot").option("root", R).mode(...).save("a/b")
    spark.readStream.format("pot_changes")...load("a/b")        # change feed

"pot" (batch): reads a pot snapshot as DataFrame[key, doc] with
per-parquet-file input partitions, optional `generation` time travel, and
key-equality filter pushdown (EqualTo/In filtered inside the reader, so
only matching rows cross the Arrow boundary). The writer stages one
parquet file per task and publishes through the store's put-if-absent
manifest commit — mode("append") is the reference's merge upsert
(server.go:385-393), mode("overwrite") is truncate-and-load.

"pot_changes" (streaming): a SimpleDataSourceStreamReader whose offsets
ARE pot generations — each microbatch is the store's change feed between
the last shipped generation and the current one, giving CDC-style
incremental consumption of a pot. Generations are immutable, so
readBetweenOffsets replays deterministically (exactly-once with a
checkpointed query).

The reference exposes storage only through its HTTP routes
(server_routes.go:18-41); here the same surface plugs into Spark's own
source/sink contract, so every relational operator composes with pots
directly.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from pot_spark.kv.store import _ARROW_SCHEMA, PotStore, open_store

if TYPE_CHECKING:
    from pyspark.sql.datasource import Filter


@dataclass
class _FilePartition(InputPartition):
    file: str


@dataclass
class _StagedFile(WriterCommitMessage):
    file: str


def _conn_fields(options) -> tuple[str, str, str | None, str | None]:
    """(root, path, object-store endpoint, bucket) from reader/writer
    options — plain strings, picklable to executor-side tasks."""
    root = options.get("root")
    if not root:
        raise ValueError('the pot data source requires .option("root", <dir>)')
    endpoint = options.get("objectstore") or options.get("objectStore") or None
    bucket = options.get("bucket")
    if endpoint and not bucket:
        raise ValueError('.option("objectStore", ...) requires .option("bucket", ...)')
    return root, options.get("path", ""), endpoint, bucket


def _store(options) -> tuple[PotStore, str]:
    root, path, endpoint, bucket = _conn_fields(options)
    return open_store(root, endpoint, bucket), path


class PotDataSource(DataSource):
    """Batch read/write of a pot path (format name: "pot")."""

    @classmethod
    def name(cls) -> str:
        return "pot"

    def schema(self) -> str:
        return "key string, doc string"

    def reader(self, schema) -> "PotReader":
        return PotReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PotWriter":
        return PotWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "PotStreamWriter":
        return PotStreamWriter(self.options, overwrite)


class PotReaderNoPushdown(DataSourceReader):
    """Reader variant without ``pushFilters``: Spark 4 hard-errors on any
    read from a reader that declares ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false, so sessions
    where that conf cannot be enabled get this class (filters are then
    applied post-scan by Spark — correct, just without the Arrow-transfer
    saving)."""

    def __init__(self, options) -> None:
        store, path = _store(options)
        # the data-plane fs travels with the reader (picklable) so the
        # executor-side part read goes through the same namespace
        self._fs = store._fs
        gen = options.get("generation")
        manifest = (
            store._manifest_at(path, int(gen))
            if gen is not None
            else store._latest_manifest(path)
        )
        self._files = [] if manifest is None else store._parts(path, manifest)
        self._keys: list[str] | None = None  # pushed key-equality filter

    def partitions(self) -> list[_FilePartition]:
        return [_FilePartition(f) for f in self._files] or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.file:
            return
        if self._keys is not None and not self._keys:
            return  # contradictory pushed predicates -> provably empty
        table = self._fs.read_parquet(partition.file, _ARROW_SCHEMA)
        if self._keys is not None:
            # explicit string type: an empty/None-typed value set would
            # make pyarrow's is_in raise instead of matching nothing
            table = table.filter(
                pc.is_in(table.column("key"), pa.array(self._keys, pa.string()))
            )
        yield from table.to_batches()


class PotReader(PotReaderNoPushdown):
    def pushFilters(self, filters: list["Filter"]) -> Iterator["Filter"]:
        """Accept key = 'x' / key IN (...) — rows are filtered reader-side
        so non-matching documents never cross the Arrow boundary. (Bucket
        pruning would need Spark's murmur3 on the driver; row filtering
        inside the scan already removes the transfer cost, which is what
        dominates a wide-doc pot.)"""
        def _narrow(keys: list[str]) -> None:
            # conjunctive filters INTERSECT: consuming a second key
            # predicate by overwriting the first would silently widen
            # the result (Spark adds no post-scan filter for consumed
            # predicates)
            self._keys = (
                keys
                if self._keys is None
                else [k for k in self._keys if k in set(keys)]
            )

        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("key",):
                _narrow([f.value])
            elif isinstance(f, In) and f.attribute == ("key",):
                _narrow(list(f.value))
            else:
                yield f  # unsupported -> Spark applies it post-scan


class PotDataSourceNoPushdown(PotDataSource):
    """Same "pot" format, registered instead of :class:`PotDataSource` on
    sessions where the Python filter-pushdown conf stays disabled."""

    def reader(self, schema) -> "PotReaderNoPushdown":
        return PotReaderNoPushdown(self.options)


class _StagedWriter:
    """What the batch and streaming pot writers share: each executor task
    buffers its rows into one parquet file (never a per-row write) under
    the writer's stage dir, through the store's data-plane fs, so a
    bucket-rooted pot stages straight into the bucket; the driver folds
    the staged files into one {key: doc} batch. Subclasses name the
    stage dir and the part files."""

    _STAGE_PREFIX: str

    def __init__(self, options, overwrite: bool = False) -> None:
        self._root, self._path, self._endpoint, self._bucket = _conn_fields(
            options
        )
        self._overwrite = overwrite
        store = self._mk()
        self._staging = store._fs.join(
            store._pot_dir(self._path),
            f"{self._STAGE_PREFIX}-{uuid.uuid4().hex[:8]}",
        )

    def _mk(self) -> PotStore:
        return open_store(self._root, self._endpoint, self._bucket)

    def _part_name(self) -> str:
        raise NotImplementedError

    def write(self, iterator) -> _StagedFile:
        fs = self._mk()._fs
        fs.makedirs(self._staging)
        keys, docs = [], []
        for row in iterator:
            keys.append(row[0])
            docs.append(row[1])
        out = fs.join(self._staging, self._part_name())
        fs.write_parquet(
            pa.Table.from_pydict({"key": keys, "doc": docs}, schema=_ARROW_SCHEMA),
            out,
        )
        return _StagedFile(out)

    @staticmethod
    def _staged_docs(store: PotStore, messages) -> dict[str, dict]:
        docs: dict[str, dict] = {}
        for m in messages:
            if m is None:
                continue
            t = store._fs.read_parquet(m.file, _ARROW_SCHEMA)
            for k, d in zip(t.column("key").to_pylist(), t.column("doc").to_pylist()):
                docs[k] = json.loads(d)
        return docs


class PotWriter(_StagedWriter, DataSourceWriter):
    _STAGE_PREFIX = "stage"

    def _part_name(self) -> str:
        from pyspark import TaskContext

        return f"part-{TaskContext.get().partitionId():05d}.parquet"

    def commit(self, messages) -> None:
        """Driver: fold the staged files into one batch and publish through
        the store's commit protocol (append = merge upsert, overwrite =
        replace) — the same all-or-nothing semantics as the HTTP batch
        route (server.go:334-339)."""
        store = self._mk()
        docs = self._staged_docs(store, messages)
        if self._overwrite:
            store.replace_batch(self._path, docs)
        else:
            store.create_batch(self._path, docs)
        store._fs.rmtree(self._staging)

    def abort(self, messages) -> None:
        self._mk()._fs.rmtree(self._staging)


class PotStreamWriter(_StagedWriter, DataSourceStreamWriter):
    """writeStream.format("pot"): every micro-batch is a keyed upsert
    published through the manifest commit, with the same per-epoch
    put-if-absent ledger the foreachBatch sink uses
    (pot_spark/streaming/sink.py) — a replayed epoch after failure
    recovery is a no-op, so the pot observes each batch exactly once.
    Complete-mode streams pass overwrite=True and REPLACE the pot each
    epoch (replace_batch); update/append modes merge-upsert."""

    _STAGE_PREFIX = "stage-stream"

    def _part_name(self) -> str:
        return f"part-{uuid.uuid4().hex}.parquet"

    def commit(self, messages, batchId: int) -> None:
        from pot_spark.streaming.sink import _epoch_done, _mark_epoch_done

        store = self._mk()
        docs = self._staged_docs(store, messages)
        # commit FIRST, mark after: a replay of an unmarked-but-committed
        # epoch re-applies an identical upsert (harmless); marking first
        # would drop the epoch's data forever on a crash mid-commit.
        # In overwrite/complete mode an EMPTY epoch is still a commit:
        # a complete-mode result that legitimately shrinks to zero rows
        # must truncate the pot (and mark the epoch), not leave stale
        # keys behind. Append mode keeps the skip — an empty upsert is a
        # true no-op there.
        if (docs or self._overwrite) and not _epoch_done(store, self._path, batchId):
            if self._overwrite:
                store.replace_batch(self._path, docs)
            else:
                store.create_batch(self._path, docs)
            _mark_epoch_done(store, self._path, batchId)
        for m in messages:
            if m is not None:
                store._fs.rm_file(m.file)
        store._fs.rmtree(self._staging)

    def abort(self, messages, batchId: int) -> None:
        self._mk()._fs.rmtree(self._staging)


class PotChangesDataSource(DataSource):
    """Streaming change feed of a pot (format name: "pot_changes"):
    offsets are generations; each batch = changes(start_gen, end_gen)."""

    @classmethod
    def name(cls) -> str:
        return "pot_changes"

    def schema(self) -> str:
        return "key string, op string, doc string"

    def simpleStreamReader(self, schema) -> "PotChangesStreamReader":
        return PotChangesStreamReader(self.options)


class PotChangesStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        if not options.get("root"):
            raise ValueError('the pot_changes source requires .option("root", <dir>)')
        self._root, self._path, self._endpoint, self._bucket = _conn_fields(
            options
        )
        self._start = options.get("startingGeneration")

    def _store(self) -> PotStore:
        return open_store(self._root, self._endpoint, self._bucket)

    def _latest(self) -> int:
        m = self._store()._latest_manifest(self._path)
        return 0 if m is None else m.generation

    def initialOffset(self) -> dict:
        if self._start is not None:
            return {"generation": int(self._start)}
        return {"generation": self._latest()}

    def _feed(self, lo: int, hi: int) -> list[tuple[str, str, str]]:
        if hi <= lo:
            return []
        feed = self._store().changes(self._path, lo, hi)
        return [
            (k, op, None if doc is None else json.dumps(doc, sort_keys=True))
            for k, (op, doc) in sorted(feed.items())
        ]

    def read(self, start: dict):
        lo, hi = start["generation"], self._latest()
        return iter(self._feed(lo, hi)), {"generation": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # generations are immutable -> deterministic replay on recovery
        return iter(self._feed(start["generation"], end["generation"]))


def _ship_package(spark) -> None:
    """Make ``pot_spark`` importable inside executor Python workers.

    The DataSource classes pickle BY REFERENCE (they live in an importable
    module), so the worker must be able to ``import pot_spark``. That holds
    for free when the session was launched with the repo on the worker's
    path (cwd or PYTHONPATH), but a host application launched elsewhere
    would die with ModuleNotFoundError at writer/reader init. Shipping the
    package once via addPyFile makes the formats work on ANY session —
    exactly what a real cluster does with its application zip."""
    import importlib
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_pot_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # the archive is rebuilt fresh every time (unique temp name): a path
    # keyed on PID alone can collide with a stale file from a recycled
    # PID or a different checkout and silently ship outdated code
    fd, zpath = tempfile.mkstemp(prefix="pot_spark_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    try:
        sc.addPyFile(zpath)
    except Exception:  # noqa: BLE001 - e.g. a file of this name already added
        # do NOT mark shipped: a real failure must retry on the next
        # register() call instead of silently leaving workers import-blind
        os.unlink(zpath)
        return
    # the staging zip must OUTLIVE the context: executors fetch addPyFile
    # files lazily at task start from this source path (deleting it early
    # makes task fetches fail, and a recycled temp name then collides with
    # the per-JVM fetch cache) — reclaim it at interpreter exit instead
    import atexit

    atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))
    sc._pot_spark_shipped = True
    importlib.invalidate_caches()


def register(spark) -> None:
    """Register both formats on a session (idempotent).

    Works on ANY session, not just ``get_spark()``'s: the key-pushdown
    reader requires ``spark.sql.python.filterPushdown.enabled`` (Spark 4
    refuses to plan a pushFilters reader while it is false), so we enable
    it here; if the conf cannot be set on this session, the no-pushdown
    reader variant is registered instead and reads still succeed. The
    package itself ships to the workers via addPyFile so the formats
    resolve regardless of the launch directory."""
    _ship_package(spark)
    conf = "spark.sql.python.filterPushdown.enabled"
    try:
        spark.conf.set(conf, "true")
    except Exception:  # noqa: BLE001 - conf locked down -> fall back below
        pass
    try:
        enabled = str(spark.conf.get(conf, "false")).lower() == "true"
    except Exception:  # noqa: BLE001
        enabled = False
    spark.dataSource.register(PotDataSource if enabled else PotDataSourceNoPushdown)
    spark.dataSource.register(PotChangesDataSource)
