"""Run the engine's event-time window plans under real Structured
Streaming.

The batch queries in pot_spark.queries.streaming_windows use the exact
window expressions (`F.window`, `F.session_window`) that Structured
Streaming executes incrementally; this module wires the same plans to a
streaming source and a memory sink, with watermarks for state eviction.
tests/test_streaming.py asserts the streamed result equals the batch
result — the contract that lets the engine claim the batch oracle
verifies the streaming operator.

Every source is one writer, _file_stream: it lays a list of arrival
batches (pyarrow tables, or a fixture file copied as is) out as one
parquet file each, name and mtime pinned to list order, and reads the
directory back one file per trigger (maxFilesPerTrigger=1), so each list
entry is exactly one microbatch. The five arrival models are lists over
the fixture tables: the whole events file once (_event_stream) or twice
(replay, at-least-once), the events file then a watermark-flush sentinel
(_sentinel_event_stream), the interleaved late-data split
(_split_event_stream), and ordered doc/embedding chunks, optionally
replayed (_doc_stream, _vec_stream).

Python workers unpickle each stateful handler, and the handlers call
this module's functions (the shard-state codec, _prune_stale_bands),
which cloudpickle ships by reference; streaming_plan therefore ships
the package to the workers first (kv.datasource._ship_package), so a
stream runs on a session whose workers cannot import pot_spark.

Scale notes: at 100 TB the source becomes Kafka/cloud files with the
same plan; watermark bounds state size; session windows use the built-in
session_window state merger; sinks become exactly-once via foreachBatch
+ the PotStore commit protocol (put-if-absent manifest per epoch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # parquet timestamp[us]
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _file_stream(
    spark: SparkSession, schema: T.StructType, batches: list
) -> DataFrame:
    """A file-source stream delivering each entry of ``batches`` as
    exactly one microbatch, in list order. An entry is a pyarrow table,
    written as one parquet file, or the path of a parquet file, copied
    byte for byte (no decode, and the source's own row groups). Order is
    pinned by both file name and mtime (the file source sorts its
    listing by modification time). Every mtime lies safely in the past:
    a file stamped "now" can race the source's first directory listing
    within the same clock second and never be delivered. An empty table
    is still a file, hence still a (zero-row) microbatch."""
    import atexit
    import shutil
    import tempfile
    import time

    import pyarrow.parquet as pq

    stream_dir = tempfile.mkdtemp(prefix="pot_spark_stream_")
    atexit.register(shutil.rmtree, stream_dir, ignore_errors=True)
    first = time.time() - 20 * (len(batches) + 6)
    for i, part in enumerate(batches):
        path = os.path.join(stream_dir, f"{i:02d}.parquet")
        if isinstance(part, str):
            shutil.copyfile(part, path)
        else:
            pq.write_table(part, path)
        os.utime(path, (first + 20 * i, first + 20 * i))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )


def _events(spark: SparkSession, batches: list) -> DataFrame:
    """Event batches as a stream, `ts` normalised to microsecond
    TimestampType exactly as pot_spark.tables._load_events does for the
    batch path (the fixture stores timestamp[us], read NTZ then cast
    under the UTC-pinned session)."""
    stream = _file_stream(spark, EVENTS_SCHEMA, batches)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _flush_row(t) -> list:
    """The ``__flush__`` sentinel batch for events table ``t``: one row
    30 days past max(ts), so the watermark passes every real event and
    the no-data microbatch flushes the remaining state. A zero-row table
    has nothing to flush: no batch."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc

    max_ts = pc.max(t.column("ts")).as_py()
    if max_ts is None:
        return []
    row = {
        "event_id": [pc.max(t.column("event_id")).as_py() + 1],
        "ts": [max_ts + datetime.timedelta(days=30)],
        "user_id": [0],
        "event_type": ["__flush__"],
        "value": [0.0],
        "props": [None],
    }
    cols = {f.name: row[f.name] for f in t.schema}
    return [pa.Table.from_pydict(cols, schema=t.schema)]


def _event_stream(
    spark: SparkSession, events_file: str, replay: bool = False
) -> DataFrame:
    """events.parquet as one microbatch. With ``replay=True`` the table
    is delivered TWICE, in two microbatches, so the source delivers every
    event at-least-once — the delivery model a dedup operator must
    collapse back to exactly-once."""
    return _events(spark, [events_file] * (2 if replay else 1))


def _sentinel_event_stream(spark: SparkSession, events_file: str) -> DataFrame:
    """The events table delivered COMPLETE in one microbatch, followed by
    the ``__flush__`` sentinel batch (_flush_row).

    This is the delivery model for operators whose output is only
    complete once the watermark passes every event (outer stream-stream
    joins: an unmatched left row is emitted when state eviction proves
    no future match can arrive). Everything arrives in batch 1 while the
    watermark is still at epoch, so nothing is late-dropped; the
    sentinel then advances the watermark past every event's join window
    and the no-data microbatch flushes all remaining state. The batch
    oracle is therefore the PLAIN batch join — no watermark boundary to
    model (contrast _split_event_stream, which exists to test the
    late-drop boundary itself)."""
    import pyarrow.parquet as pq

    return _events(spark, [events_file, *_flush_row(pq.read_table(events_file))])


def _split_event_stream(spark: SparkSession, events_file: str) -> DataFrame:
    """The events table delivered as two INTERLEAVED arrival batches plus
    a watermark-flush sentinel — the late-data delivery model:

    - microbatch 1: even event_ids (the on-time partition);
    - microbatch 2: an EMPTY primer file. Spark's stateful operators
      carry TWO watermark values (visible as the value pair on
      StateStoreSave): late-input filtering uses the watermark lagged
      one batch behind the eviction watermark, so a late row arriving
      in the batch immediately after its on-time data is NOT dropped
      (measured: drop fires one extra batch later). The zero-row primer
      burns that lag batch, making batch 1's watermark the filter
      threshold for the lagging batch;
    - microbatch 3: odd event_ids (a lagging partition replay — most of
      it arrives long after the watermark passed its event times);
    - microbatch 4: the ``__flush__`` sentinel (_flush_row), advancing
      the watermark beyond every real window's end so append mode emits
      all surviving windows before the stream stops (without it,
      windows newer than final-watermark stay in state forever)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(events_file)
    is_odd = pc.equal(pc.bit_wise_and(t.column("event_id"), 1), 1)
    even, odd = t.filter(pc.invert(is_odd)), t.filter(is_odd)
    return _events(spark, [even, t.schema.empty_table(), odd, *_flush_row(t)])


def build_watermark_late(stream: DataFrame) -> DataFrame:
    """Real watermark late-drop: 10-minute tumbling counts under
    ``withWatermark(1 hour)`` in APPEND mode over the two-batch late
    delivery (_split_event_stream). Batch 1 (even ids) sets the
    watermark to its max(ts) - 1h; batch 2's lagging rows whose window
    closed at or before that watermark are DROPPED by the stateful
    aggregation operator — the guarantee that bounds state at 100
    TB/day. The flush sentinel is NOT filtered here: Catalyst pushes a
    deterministic filter straight through the EventTimeWatermark node
    into the parquet scan, and a scan-filtered sentinel never advances
    the watermark (measured: the final windows then sit in state
    forever). Its window also can never be emitted in append mode (the
    watermark stops 1h short of it), so consumers see only real
    windows; the query wrapper filters defensively anyway."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def build_native_dedup(stream: DataFrame) -> DataFrame:
    """Spark's NATIVE stateful dedup operator: dropDuplicatesWithinWatermark
    on event_id over an at-least-once source (every event delivered twice
    across microbatches). The operator's keyed state holds each id until
    the watermark passes its event time, so replays collapse and the
    output is exactly-once — with state bounded by the watermark horizon
    instead of growing forever (the unbounded-state trap of plain
    dropDuplicates on a stream). Emits in append mode; output must equal
    the batch events table exactly."""
    return (
        stream.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


def build_tumbling(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def build_sliding(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def build_session(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _decode_shard(state, schema: T.StructType, cols: list[str]):
    """A shard's state row — one array per field of ``schema``, parallel
    across the shard's keys — as one typed pandas frame: column
    ``cols[i]`` holds field i, int64 for a LongType element and object
    otherwise. An absent state decodes to the same columns, no rows."""
    import pandas as pd

    arrays = state.get if state.exists else [[]] * len(cols)
    return pd.DataFrame(
        {
            c: pd.array(a, dtype=_shard_dtype(f))
            for c, a, f in zip(cols, arrays, schema.fields)
        }
    )


def _encode_shard(frame, schema: T.StructType, cols: list[str]) -> tuple:
    """The state row for ``frame``: _decode_shard's inverse."""
    return tuple(
        frame[c].astype(_shard_dtype(f)).tolist()
        for c, f in zip(cols, schema.fields)
    )


def _shard_dtype(field: T.StructField):
    return "int64" if field.dataType.elementType == T.LongType() else object


def build_stateful_dedup(
    stream: DataFrame, n_shards: int | None = None
) -> DataFrame:
    """Custom stateful operator: first-event dedup per (user_id,
    event_type) via applyInPandasWithState. State per key = the smallest
    event_id seen with its ts/value; a row is emitted only when the key is
    new or a smaller event_id arrives, so downstream sees each key's first
    event exactly once (update semantics). This is the pattern for any
    bespoke streaming state machine Spark lacks a built-in for — the state
    store shards by the group key, so it scales horizontally with
    executors. Batch twin: pot_spark.queries.scale_ops.s_dedup_first.

    ``n_shards`` (r13 — the r10 gate amortization, applied after the sf1
    re-check read this op at 23.5 s / 9.5x: one one-row Python handler
    invocation per distinct (user, type) per microbatch): state is keyed
    by ``pmod(hash(user, type), n_shards)`` and the per-key min-merge
    runs VECTORIZED inside the handler. State only holds (key,
    best_event_id): an emission happens exactly when THIS batch carries
    a strictly smaller event_id (or a new key), so the emitted row's
    ts/value always come from the batch itself — nothing
    timestamp-typed in state. Per-key semantics are byte-identical."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("first_event_id", T.LongType()),
            T.StructField("first_ts", T.TimestampType()),
            T.StructField("first_value", T.DoubleType()),
        ]
    )

    if n_shards is not None:
        key_cols = ["user_id", "event_type"]
        shard_state_schema = T.StructType(
            [
                T.StructField("user_ids", T.ArrayType(T.LongType())),
                T.StructField("event_types", T.ArrayType(T.StringType())),
                T.StructField("bests", T.ArrayType(T.LongType())),
            ]
        )
        state_cols = key_cols + ["best"]

        def sharded_fn(key, pdf_iter, state: GroupState):
            held = _decode_shard(state, shard_state_schema, state_cols)
            batch = pd.concat(list(pdf_iter), ignore_index=True)
            # per-key batch minimum WITH its row (stable sort: the same
            # row the per-key loop's strict < would have kept).
            # drop_duplicates, NOT groupby().first(): first() skips NaN
            # PER COLUMN, so a null-valued winning row would silently
            # take its ts/value from the next row — the r13 hostile
            # sweep caught exactly that (value emitted where the oracle
            # has NULL); drop_duplicates keeps whole rows.
            g = batch.sort_values("event_id", kind="stable").drop_duplicates(
                subset=key_cols, keep="first"
            )
            m = g.merge(held, on=key_cols, how="left")
            changed = m[m["best"].isna() | (m["event_id"] < m["best"])]
            if len(changed):
                yield pd.DataFrame(
                    {
                        "user_id": changed["user_id"].astype("int64"),
                        "event_type": changed["event_type"],
                        "first_event_id": changed["event_id"].astype(
                            "int64"
                        ),
                        "first_ts": changed["ts"],
                        "first_value": changed["value"].astype("float64"),
                    }
                )
                new_best = changed[key_cols + ["event_id"]].rename(
                    columns={"event_id": "best"}
                )
                merged = (
                    pd.concat([held, new_best], ignore_index=True)
                    .groupby(key_cols, as_index=False)
                    .agg(best=("best", "min"))
                )
                state.update(_encode_shard(merged, shard_state_schema, state_cols))

        sharded = stream.withColumn(
            "shard",
            F.pmod(F.hash("user_id", "event_type"), F.lit(n_shards)).cast(
                "int"
            ),
        )
        return sharded.groupBy("shard").applyInPandasWithState(
            sharded_fn,
            outputStructType=out_schema,
            stateStructType=shard_state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    state_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def dedup_fn(key, pdf_iter, state: GroupState):
        user_id, event_type = key
        best = state.get if state.exists else None
        for pdf in pdf_iter:
            for row in pdf.sort_values("event_id").itertuples(index=False):
                if best is None or row.event_id < best[0]:
                    best = (int(row.event_id), row.ts.to_pydatetime(), float(row.value))
                    break  # batch is sorted: first row is the batch min
        changed = best is not None and (not state.exists or best[0] < state.get[0])
        if changed:
            state.update(best)
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "event_type": [event_type],
                    "first_event_id": [best[0]],
                    "first_ts": [best[1]],
                    "first_value": [best[2]],
                }
            )

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def build_stateful_cdc(
    stream: DataFrame, n_shards: int | None = None
) -> DataFrame:
    """Streaming CDC log compaction: latest-wins upsert/delete state per
    (user_id, event_type) via applyInPandasWithState — the stream twin
    of q_cdc_compact's batch max(struct) plan. State per key = the
    newest (ts, event_id) record with its op ('D' if event_id % 7 == 0
    else 'U', the same deterministic derivation as the batch twin) and
    value; a key re-emits whenever a newer record supersedes its state,
    so the sink converges to the compacted snapshot (update semantics).
    At scale the state store shards by key across executors and holds
    ONE row per live key — the streaming materialized view of the log.
    Batch twin: pot_spark.queries.scale_ops.q_cdc_compact.

    ``n_shards`` (r13 — the r10 gate amortization, sf1 re-check read
    14.9 s / 6.5x of per-key handler entry): shard-keyed state holding
    (key, ts_us, event_id) only — a supersession is always driven by a
    row of THIS batch, so op/value re-derive from the batch at emit
    time. NaT ordering matches the per-key path: both sort NaT last, so
    a NaT-ts row wins a batch exactly when iloc[-1] would have picked
    it, and its int64-min ts_us compares identically thereafter."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("last_event_id", T.LongType()),
            T.StructField("last_ts", T.TimestampType()),
            T.StructField("op", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    if n_shards is not None:
        key_cols = ["user_id", "event_type"]
        shard_state_schema = T.StructType(
            [
                T.StructField("user_ids", T.ArrayType(T.LongType())),
                T.StructField("event_types", T.ArrayType(T.StringType())),
                T.StructField("ts_us", T.ArrayType(T.LongType())),
                T.StructField("event_ids", T.ArrayType(T.LongType())),
            ]
        )
        state_cols = key_cols + ["h_ts", "h_eid"]

        def sharded_fn(key, pdf_iter, state: GroupState):
            held = _decode_shard(state, shard_state_schema, state_cols)
            batch = pd.concat(list(pdf_iter), ignore_index=True)
            # drop_duplicates, NOT groupby().last(): last() skips NaN
            # PER COLUMN, so a null-valued newest row would silently
            # take its value from an older row (r13 hostile-sweep
            # finding on the dedup twin); drop_duplicates keeps whole
            # rows — the same row the per-key iloc[-1] picks, NaT last
            g = batch.sort_values(["ts", "event_id"], kind="stable").drop_duplicates(
                subset=key_cols, keep="last"
            )
            # NaT -> int64 min: identical to int(pd.Timestamp(NaT).value)
            g["c_ts"] = (
                g["ts"].values.astype("datetime64[ns]").view("int64")
                // 1000
            )
            m = g.merge(held, on=key_cols, how="left")
            newer = m["h_ts"].isna() | (
                (m["c_ts"] > m["h_ts"])
                | ((m["c_ts"] == m["h_ts"]) & (m["event_id"] > m["h_eid"]))
            )
            changed = m[newer]
            if len(changed):
                eid = changed["event_id"].astype("int64")
                yield pd.DataFrame(
                    {
                        "user_id": changed["user_id"].astype("int64"),
                        "event_type": changed["event_type"],
                        "last_event_id": eid,
                        "last_ts": pd.to_datetime(
                            changed["c_ts"].astype("int64") * 1000
                        ),
                        "op": (eid % 7 == 0).map({True: "D", False: "U"}),
                        "value": changed["value"].astype("float64"),
                    }
                )
                new_rows = changed[key_cols + ["c_ts", "event_id"]].rename(
                    columns={"c_ts": "h_ts", "event_id": "h_eid"}
                )
                merged = (
                    pd.concat([held, new_rows], ignore_index=True)
                    .sort_values(["h_ts", "h_eid"], kind="stable")
                    .groupby(key_cols, as_index=False)
                    .last()
                )
                state.update(_encode_shard(merged, shard_state_schema, state_cols))

        sharded = stream.withColumn(
            "shard",
            F.pmod(F.hash("user_id", "event_type"), F.lit(n_shards)).cast(
                "int"
            ),
        )
        return sharded.groupBy("shard").applyInPandasWithState(
            sharded_fn,
            outputStructType=out_schema,
            stateStructType=shard_state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def cdc_fn(key, pdf_iter, state: GroupState):
        user_id, event_type = key
        best = state.get if state.exists else None
        for pdf in pdf_iter:
            # batch candidate: the newest (ts, event_id) row
            r = pdf.sort_values(["ts", "event_id"]).iloc[-1]
            cand = (
                int(pd.Timestamp(r["ts"]).value // 1000),
                int(r["event_id"]),
                "D" if int(r["event_id"]) % 7 == 0 else "U",
                float(r["value"]),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        changed = best is not None and (
            not state.exists or (best[0], best[1]) > tuple(state.get[:2])
        )
        if changed:
            state.update(best)
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "event_type": [event_type],
                    "last_event_id": [best[1]],
                    "last_ts": [pd.Timestamp(best[0] * 1000)],
                    "op": [best[2]],
                    "value": [best[3]],
                }
            )

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        cdc_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def build_stateful_daily_dedup(
    stream: DataFrame, n_shards: int | None = None
) -> DataFrame:
    """Day-windowed first-event dedup with STATE TTL: the key carries the
    event-time day bucket and every state entry sets an event-time
    timeout at day end + 1h slack, so the watermark retires a day's keys
    instead of the state growing for the stream's lifetime — THE pattern
    that makes streaming dedup viable at 100 TB/day. Emits (key, day,
    first_event_id, n_suppressed) in update mode. Batch twin:
    pot_spark.queries.scale_ops.q_dedup_daily_first.

    ``n_shards`` (r13 — the r10 gate amortization applied here after
    the sf1 tier caught this op at 236 s: 807k distinct
    (user, type, day) groups made 807k one-row Python handler
    invocations per microbatch): state is keyed by
    ``pmod(hash(user, type, day), n_shards)`` and the per-key merge
    runs VECTORIZED inside the handler (pandas concat+groupby over the
    shard's held table and the batch's rollup — no per-row Python).
    Per-key semantics are preserved: first = min event_id across held
    and arriving rows, counts accumulate, and the watermark retires
    individual (user, type, day) entries in-handler
    (getCurrentWatermarkMs vs day end + 1h slack) with the state-level
    event-time timeout as the whole-shard backstop. The trade is the
    gate's: fatter state rows against ~25,000x fewer Python crossings;
    parallelism caps at n_shards, so size ~4x executor count in
    production. Measured at true-sf1: 236 s -> see SCALE_SF1.json r13."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("day_bucket", T.LongType()),
            T.StructField("first_event_id", T.LongType()),
            T.StructField("n_suppressed", T.LongType()),
        ]
    )

    keyed = stream.withWatermark("ts", "1 hour").withColumn(
        "day_bucket", F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    )

    if n_shards is not None:
        shard_state_schema = T.StructType(
            [
                T.StructField("user_ids", T.ArrayType(T.LongType())),
                T.StructField("event_types", T.ArrayType(T.StringType())),
                T.StructField("day_buckets", T.ArrayType(T.LongType())),
                T.StructField("bests", T.ArrayType(T.LongType())),
                T.StructField("ns", T.ArrayType(T.LongType())),
            ]
        )
        key_cols = ["user_id", "event_type", "day_bucket"]
        state_cols = key_cols + ["best", "n"]

        def sharded_fn(key, pdf_iter, state: GroupState):
            if state.hasTimedOut:
                state.remove()  # watermark passed every held day
                return
            held = _decode_shard(state, shard_state_schema, state_cols)
            batch = pd.concat(list(pdf_iter), ignore_index=True)
            g = batch.groupby(key_cols, as_index=False).agg(
                best=("event_id", "min"), n=("event_id", "size")
            )
            merged = (
                pd.concat([held, g], ignore_index=True)
                .groupby(key_cols, as_index=False)
                .agg(best=("best", "min"), n=("n", "sum"))
            )
            # update-mode contract: emit exactly the keys touched this
            # batch, with their merged (first, count)
            touched = merged.merge(g[key_cols], on=key_cols)
            yield pd.DataFrame(
                {
                    "user_id": touched["user_id"].astype("int64"),
                    "event_type": touched["event_type"],
                    "day_bucket": touched["day_bucket"].astype("int64"),
                    "first_event_id": touched["best"].astype("int64"),
                    "n_suppressed": touched["n"].astype("int64"),
                }
            )
            # per-entry retirement: the watermark passing a day's end
            # (+1h slack) retires that (user, type, day) even while
            # livelier days keep the shard's state row alive
            wm = state.getCurrentWatermarkMs()
            expiry = (merged["day_bucket"] + 1) * 86400000 + 3600000
            keep = merged[expiry > wm] if wm > 0 else merged
            if len(keep) == 0:
                state.remove()
                return
            state.update(_encode_shard(keep, shard_state_schema, state_cols))
            # whole-shard backstop: fire once the watermark passes the
            # newest held day (must stay strictly above the watermark)
            ts = int((int(keep["day_bucket"].max()) + 1) * 86400000 + 3600000)
            state.setTimeoutTimestamp(max(ts, wm + 1))

        sharded = keyed.withColumn(
            "shard",
            F.pmod(
                F.hash("user_id", "event_type", "day_bucket"),
                F.lit(n_shards),
            ).cast("int"),
        )
        return sharded.groupBy("shard").applyInPandasWithState(
            sharded_fn,
            outputStructType=out_schema,
            stateStructType=shard_state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    state_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def dedup_fn(key, pdf_iter, state: GroupState):
        user_id, event_type, day_bucket = key
        if state.hasTimedOut:
            state.remove()  # watermark passed the day: retire the state
            return
        best, n = (state.get if state.exists else (None, 0))
        for pdf in pdf_iter:
            for row in pdf.itertuples(index=False):
                n += 1
                if best is None or row.event_id < best:
                    best = int(row.event_id)
        state.update((best, n))
        # retire once the watermark passes day end + 1h slack
        state.setTimeoutTimestamp((int(day_bucket) + 1) * 86400 * 1000 + 3600000)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_type": [event_type],
                "day_bucket": [int(day_bucket)],
                "first_event_id": [best],
                "n_suppressed": [n],
            }
        )

    return keyed.groupBy("user_id", "event_type", "day_bucket").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def build_stateful_quota(
    stream: DataFrame, n_shards: int | None = None
) -> DataFrame:
    """Admission quota as a custom stateful operator: per (user_id,
    event_type), admit only the K smallest event_ids ever seen and emit
    each admission exactly once. State per key = the K admitted int64
    ids — BOUNDED regardless of stream length (the property that keeps a
    rate-limit gate viable on an unbounded stream), and redelivery of an
    already-admitted event (at-least-once source) admits nothing twice
    (pinned by tests/test_streaming.py's replayed-source test). Batch
    twin: pot_spark.queries.scale_ops.s_user_quota. Emission contract
    matches build_stateful_dedup: an admission is emitted when granted,
    so the sink equals the batch result when arrival order follows
    event_id (the runner's file source) — a reordering source would
    displace an early grant and needs a foreachBatch upsert sink."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pot_spark.queries.scale_ops import _QUOTA_K

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("admitted_event_id", T.LongType()),
        ]
    )

    if n_shards is not None:
        # r13 — the r10 gate amortization (sf1 re-check: 12.2 s / 6.2x
        # of per-key handler entry). State per shard = parallel arrays
        # (key, admitted ids joined as csv — each at most _QUOTA_K
        # int64s). The per-key grant logic is the unsharded body run
        # over the shard's ~batch-keys/n_shards groups inside ONE
        # handler invocation; grant semantics per key are unchanged.
        key_cols = ["user_id", "event_type"]
        shard_state_schema = T.StructType(
            [
                T.StructField("user_ids", T.ArrayType(T.LongType())),
                T.StructField("event_types", T.ArrayType(T.StringType())),
                T.StructField("admitted_csv", T.ArrayType(T.StringType())),
            ]
        )

        def sharded_fn(key, pdf_iter, state: GroupState):
            held: dict = {}
            if state.exists:
                u, t, a = state.get
                held = {
                    (int(ui), ti): [int(x) for x in ai.split(",") if x]
                    for ui, ti, ai in zip(u, t, a)
                }
            batch = pd.concat(list(pdf_iter), ignore_index=True)
            out_u: list[int] = []
            out_t: list[str] = []
            out_id: list[int] = []
            any_change = False
            for (user_id, event_type), grp in batch.groupby(key_cols):
                k = (int(user_id), event_type)
                admitted = held.get(k, [])
                batch_ids = [int(x) for x in grp["event_id"].dropna()]
                new = sorted(set(batch_ids) - set(admitted))
                granted = new[: max(0, _QUOTA_K - len(admitted))]
                if granted:
                    any_change = True
                    held[k] = sorted(admitted + granted)
                    out_u.extend([k[0]] * len(granted))
                    out_t.extend([event_type] * len(granted))
                    out_id.extend(granted)
            if out_id:
                yield pd.DataFrame(
                    {
                        "user_id": out_u,
                        "event_type": out_t,
                        "admitted_event_id": out_id,
                    }
                )
            if any_change:
                keys = sorted(held)
                state.update(
                    (
                        [k[0] for k in keys],
                        [k[1] for k in keys],
                        [",".join(str(x) for x in held[k]) for k in keys],
                    )
                )

        sharded = (
            stream.filter(F.col("event_id").isNotNull())
            .withColumn(
                "shard",
                F.pmod(
                    F.hash("user_id", "event_type"), F.lit(n_shards)
                ).cast("int"),
            )
        )
        return sharded.groupBy("shard").applyInPandasWithState(
            sharded_fn,
            outputStructType=out_schema,
            stateStructType=shard_state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    state_schema = T.StructType(
        [T.StructField(f"id{i}", T.LongType()) for i in range(_QUOTA_K)]
    )

    def quota_fn(key, pdf_iter, state: GroupState):
        user_id, event_type = key
        admitted = (
            [x for x in state.get if x is not None] if state.exists else []
        )
        batch_ids: list[int] = []
        for pdf in pdf_iter:
            batch_ids.extend(int(x) for x in pdf["event_id"].dropna())
        new = sorted(set(batch_ids) - set(admitted))
        granted = new[: max(0, _QUOTA_K - len(admitted))]
        if granted:
            admitted = sorted(admitted + granted)
            state.update(
                tuple(
                    admitted[i] if i < len(admitted) else None
                    for i in range(_QUOTA_K)
                )
            )
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(granted),
                    "event_type": [event_type] * len(granted),
                    "admitted_event_id": granted,
                }
            )

    return (
        stream.filter(F.col("event_id").isNotNull())
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            quota_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _chunks(path: str, key: str, n_chunks: int, replay: bool) -> list:
    """The table at ``path`` sorted by ``key`` and cut into ``n_chunks``
    ordered slices; with ``replay`` the whole sequence is delivered a
    second time after the first full pass (at-least-once)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by(key)
    step = -(-max(1, t.num_rows) // n_chunks)
    return [t.slice(i * step, step) for i in range(n_chunks)] * (2 if replay else 1)


def _vec_stream(
    spark: SparkSession,
    emb_file: str,
    n_chunks: int = 3,
    replay: bool = False,
) -> DataFrame:
    """embeddings.parquet delivered across ``n_chunks`` microbatches in
    vec_id order — the arrival model of a continuously-embedding ingest
    pipeline feeding an ANN index. With ``replay=True`` every chunk is
    delivered a second time after the first full pass (the
    at-least-once model the index's membership dedup must absorb)."""
    batches = _chunks(emb_file, "vec_id", n_chunks, replay)
    return _file_stream(spark, EMB_SCHEMA, batches)


def build_sim_index(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ANN index maintenance: arriving embeddings are assigned
    to their nearest IVF cell by the SAME map-only integer-exact
    assignment expression as the batch twin (the centroid table is the
    broadcast-sized coarse quantizer, embedded in the projection — no
    shuffle to assign), then one stateful operator per cell maintains
    the posting list: member ids + assignment scores, emitting the
    cell's (n_members, top-3 representatives) whenever membership
    grows. State is sharded by cell across executors and bounded by the
    cell's membership — the IVF index ITSELF, continuously maintained;
    a redelivered vec_id is already a member and changes nothing
    (at-least-once safe). Batch twin: llm_similarity.s_sim_index."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pot_spark.queries.llm_similarity import (
        _IVF_TOPM,
        _int_vec,
        _ivf_assign,
        _ivf_centroids,
        _ivf_valid,
    )

    out_schema = T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("reps", T.StringType()),
        ]
    )
    cents = _ivf_centroids(spark, sf_dir)
    if not cents:
        # empty corpus: no quantizer, no assignments — a stateless
        # always-empty plan with the twin's schema
        return (
            stream.select(
                F.lit(None).cast("bigint").alias("cell"),
                F.lit(None).cast("bigint").alias("n_members"),
                F.lit(None).cast("string").alias("reps"),
            ).filter(F.lit(False))
        )
    cell, s = _ivf_assign(cents)
    # one file per microbatch = one scan partition: spread the rows so
    # the k-centroid x 64-dim assignment arithmetic runs cores-wide
    # instead of single-task (same rationale as _gate_bands)
    n_par = int(stream.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    assigned = (
        _ivf_valid(stream.repartition(n_par))
        .select("vec_id", _int_vec().alias("__iv"))
        .select("vec_id", cell.alias("cell"), s.alias("s"))
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("scores", T.ArrayType(T.DoubleType())),
        ]
    )

    def idx_fn(key, pdf_iter, state: GroupState):
        (cell_id,) = key
        if state.exists:
            ids, scores = list(state.get[0]), list(state.get[1])
        else:
            ids, scores = [], []
        seen = set(ids)
        changed = False
        for pdf in pdf_iter:
            for row in pdf.itertuples(index=False):
                vid = int(row.vec_id)
                if vid in seen:  # idempotent under at-least-once replay
                    continue
                seen.add(vid)
                ids.append(vid)
                scores.append(float(row.s))
                changed = True
        if changed:
            state.update((ids, scores))
            top = sorted(zip(scores, ids), key=lambda t: (-t[0], t[1]))
            yield pd.DataFrame(
                {
                    "cell": [cell_id],
                    "n_members": [len(ids)],
                    "reps": [
                        ",".join(str(i) for _, i in top[:_IVF_TOPM])
                    ],
                }
            )

    return assigned.groupBy("cell").applyInPandasWithState(
        idx_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _doc_stream(
    spark: SparkSession,
    docs_file: str,
    n_chunks: int = 3,
    replay: bool = False,
) -> DataFrame:
    """documents.parquet delivered in doc_id order across ``n_chunks``
    microbatches — the arrival model of a continuous crawl where doc_id
    is the ingest sequence number. The admission gate's stream==batch
    contract needs ordered delivery: 'earlier' in the batch oracle is a
    doc_id comparison, so the stream must not deliver a later doc before
    an earlier one ACROSS batches (within a batch the operator sorts).
    With ``replay=True`` every chunk is delivered a second time after
    the first full pass — the at-least-once delivery model the gate's
    verdicts must be idempotent under."""
    batches = _chunks(docs_file, "doc_id", n_chunks, replay)
    return _file_stream(spark, DOCS_SCHEMA, batches)


def _gate_bands(stream: DataFrame) -> DataFrame:
    """Per-row (doc_id, sig, band_key) rows for the admission gate:
    stateless array_min MinHash signatures (the same set-min as the
    batch explode+groupBy — legal before a stateful operator) exploded
    into one row per LSH band. Shared by both gate builders."""
    from pot_spark.queries.llm_dedup import N_BANDS, N_HASHES, _mh, _shingles

    rows = N_HASHES // N_BANDS
    toks = F.split("text", " ")
    # each microbatch arrives as ONE file = one scan partition, so the
    # signature projection (8 minhash lanes x shingles — measured ~2 s
    # per 1667-doc batch) would run single-task; round-robin the raw
    # docs (~1-2 MB/batch, trivial) across the session's partitions
    # first so the heavy per-row compute runs cores-wide (guide §2.5
    # input-skew remedy: "repartition immediately after the read")
    n_par = int(stream.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    docs = (
        stream.repartition(n_par)
        .select("doc_id", F.size(toks).alias("ntok"), _shingles(toks).alias("sh"))
        .filter(F.col("ntok") >= 3)
    )

    def _mh_of(j: int):
        # a default-arg lambda (lambda s, j=j: ...) would be TWO-arity,
        # which F.transform reads as (element, index) — bind j here so
        # the higher-order lambda stays single-argument
        return lambda s: _mh(j, s)

    sig_cols = [
        F.array_min(F.transform("sh", _mh_of(j))).alias(f"mh{j}")
        for j in range(N_HASHES)
    ]
    sig = docs.select("doc_id", *sig_cols)
    keys = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        keys.append(
            F.md5(F.concat_ws(",", F.lit(str(b)), *[c.cast("string") for c in cols]))
        )
    return sig.select(
        "doc_id",
        F.concat_ws(
            ",", *[F.col(f"mh{j}").cast("string") for j in range(N_HASHES)]
        ).alias("sig"),
        F.explode(F.array(*keys)).alias("band_key"),
    )


def build_near_dedup_gate(
    stream: DataFrame,
    ttl_ms: int | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Streaming near-duplicate ADMISSION GATE: an arriving document is
    admitted only if none of its MinHash LSH band keys holds a retained
    signature matching on >= _GATE_MIN_LANES of the 8 minhash lanes.
    The stateful operator is keyed by band_key — state = the retained
    (doc_id, signature) set for that band, sharded across executors by
    the band key and bounded by a processing-time TTL when ``ttl_ms``
    is set (a band silent past the horizon evicts its retained
    signatures; at corpus scale the TTL is the dedup horizon — the
    admission index only remembers the retention window, exactly like a
    production crawl gate; the deterministic test path runs
    timeout-free, see the timeoutConf note below). Each (band, doc) emits a collided flag; the
    per-doc admission verdict is the stateless conjunction over its 4
    bands, computed on the sink output (s_dedup_near_stream) — keeping
    the streaming query a SINGLE stateful operator.

    The per-row signature uses array_min over the shingle array — the
    same set-min as the batch explode+groupBy aggregation, but stateless
    and therefore legal before a stateful operator in a streaming plan.

    Batch twin: pot_spark.queries.llm_dedup.s_dedup_near_gate (rejected
    docs retain their signatures — the seen-based, arrival-order-free
    reduction).

    ``n_shards`` (r10, the per-group-overhead amortization): with a
    value set, state is keyed by ``hash(band_key) % n_shards`` instead
    of the raw band key — each microbatch then makes at most n_shards
    Python handler invocations instead of one per distinct band (the
    measured 10x-smoke growth driver: thousands of tiny groups, each
    paying Arrow+interpreter entry). Per-BAND semantics are preserved
    inside the handler (the retained set, the doc-order contract, and
    the TTL horizon all remain per band — TTL via per-band last-seen
    stamps pruned against the processing clock, with the state-level
    timeout as the whole-shard backstop). The trade: fatter state rows
    (a shard rewrites all its bands' arrays per update) against far
    fewer Python crossings; parallelism caps at n_shards, so size it
    ~4x executor count in production."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pot_spark.queries.llm_dedup import _GATE_MIN_LANES

    bands = _gate_bands(stream)
    if n_shards is not None:
        return _sharded_gate(bands, ttl_ms, n_shards, _GATE_MIN_LANES)

    out_schema = T.StructType(
        [
            T.StructField("band_key", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("collided", T.IntegerType()),
        ]
    )
    # retained signatures: parallel arrays (doc ids + comma-joined lane
    # strings) — flat types only, no nested-array state serialization
    state_schema = T.StructType(
        [
            T.StructField("doc_ids", T.ArrayType(T.LongType())),
            T.StructField("sigs", T.ArrayType(T.StringType())),
        ]
    )

    def gate_fn(key, pdf_iter, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        (band_key,) = key
        if state.exists:
            doc_ids, sigs = list(state.get[0]), list(state.get[1])
        else:
            doc_ids, sigs = [], []
        parsed = [tuple(int(x) for x in s.split(",")) for s in sigs]
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        out_doc: list[int] = []
        out_col: list[int] = []
        for row in batch.sort_values("doc_id").itertuples(index=False):
            d = int(row.doc_id)
            s = tuple(int(x) for x in row.sig.split(","))
            collided = any(
                did < d
                and sum(a == b for a, b in zip(sg, s)) >= _GATE_MIN_LANES
                for did, sg in zip(doc_ids, parsed)
            )
            out_doc.append(d)
            out_col.append(1 if collided else 0)
            if d not in doc_ids:  # idempotent under at-least-once replay
                doc_ids.append(d)
                parsed.append(s)
                sigs.append(row.sig)
        state.update((doc_ids, sigs))
        if ttl_ms is not None:
            # TTL: the retention horizon of the admission index — a
            # band key unseen for ttl_ms drops its retained signatures
            state.setTimeoutDuration(ttl_ms)
        if out_doc:
            yield pd.DataFrame(
                {
                    "band_key": [band_key] * len(out_doc),
                    "doc_id": out_doc,
                    "collided": out_col,
                }
            )

    return bands.groupBy("band_key").applyInPandasWithState(
        gate_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        # NoTimeout unless a TTL is requested: with ProcessingTimeTimeout
        # armed, the engine keeps scheduling no-data microbatches to
        # chase pending timeouts, so processAllAvailable never drains —
        # the deterministic test path runs timeout-free, production
        # passes ttl_ms (the dedup horizon) and a real trigger interval
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def _prune_stale_bands(per_band: dict, ttl_ms: int, now: int) -> dict:
    """Per-band retention horizon under SHARD-keyed state: a band whose
    newest activity stamp is older than ttl_ms drops its retained set,
    even though livelier bands keep the shard's state row alive (the
    state-level timeout only fires when the WHOLE shard idles).
    Module-level so the horizon arithmetic is unit-testable outside a
    running stream (tests/test_streaming.py)."""
    return {
        bk: rows
        for bk, rows in per_band.items()
        if max(ms for _, _, ms in rows) + ttl_ms > now
    }


def _sharded_gate(
    bands: DataFrame, ttl_ms: int | None, n_shards: int, min_lanes: int
) -> DataFrame:
    """Shard-keyed admission-gate state (see build_near_dedup_gate's
    n_shards note): one handler invocation per shard per microbatch,
    per-band retained sets and TTL horizons maintained inside."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sharded = bands.withColumn(
        "shard", F.pmod(F.xxhash64("band_key"), F.lit(n_shards)).cast("int")
    )
    out_schema = T.StructType(
        [
            T.StructField("band_key", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("collided", T.IntegerType()),
        ]
    )
    # flat parallel arrays, one entry per retained (band, doc) pair;
    # seen_ms carries the band's last-activity stamp (0 without TTL)
    state_schema = T.StructType(
        [
            T.StructField("band_keys", T.ArrayType(T.StringType())),
            T.StructField("doc_ids", T.ArrayType(T.LongType())),
            T.StructField("sigs", T.ArrayType(T.StringType())),
            T.StructField("seen_ms", T.ArrayType(T.LongType())),
        ]
    )

    def gate_fn(key, pdf_iter, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        now = state.getCurrentProcessingTimeMs() if ttl_ms is not None else 0
        per_band: dict[str, list] = {}
        if state.exists:
            bks, dids, sgs, mss = state.get
            for bk, d, s, ms in zip(bks, dids, sgs, mss):
                per_band.setdefault(bk, []).append([int(d), s, int(ms)])
        if ttl_ms is not None:
            per_band = _prune_stale_bands(per_band, ttl_ms, now)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        # parse each retained signature ONCE per invocation, not per
        # incoming row: parsed[bk] mirrors per_band[bk] positionally
        parsed: dict[str, list] = {
            bk: [tuple(int(x) for x in sg.split(",")) for _, sg, _ in rows]
            for bk, rows in per_band.items()
        }
        out_bk: list[str] = []
        out_doc: list[int] = []
        out_col: list[int] = []
        for row in batch.sort_values("doc_id").itertuples(index=False):
            bk = row.band_key
            d = int(row.doc_id)
            s = tuple(int(x) for x in row.sig.split(","))
            rows = per_band.setdefault(bk, [])
            psigs = parsed.setdefault(bk, [])
            collided = any(
                rows[i][0] < d
                and sum(a == b for a, b in zip(psigs[i], s)) >= min_lanes
                for i in range(len(rows))
            )
            out_bk.append(bk)
            out_doc.append(d)
            out_col.append(1 if collided else 0)
            if all(did != d for did, _, _ in rows):  # replay-idempotent
                rows.append([d, row.sig, now])
                psigs.append(s)
            else:
                for r in rows:
                    r[2] = now
        flat_bk, flat_d, flat_s, flat_ms = [], [], [], []
        for bk, rows in per_band.items():
            for d, s, ms in rows:
                flat_bk.append(bk)
                flat_d.append(d)
                flat_s.append(s)
                flat_ms.append(ms)
        state.update((flat_bk, flat_d, flat_s, flat_ms))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_doc:
            yield pd.DataFrame(
                {
                    "band_key": out_bk,
                    "doc_id": out_doc,
                    "collided": out_col,
                }
            )

    return sharded.groupBy("shard").applyInPandasWithState(
        gate_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def build_stream_stream_join(stream: DataFrame) -> DataFrame:
    """Stream-stream self-join: purchases matched to signups of the same
    user within 1h — the streaming twin of the batch q_theta_range_join
    (same predicate, same output columns). Watermarks on both sides plus
    the event-time bound let Spark evict join state: a signup older than
    watermark + 1h can never match again and is dropped. State is sharded
    by user_id, so it scales with executors like any keyed state."""
    s = (
        stream.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = s.join(
        p,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select("signup_id", "purchase_id", F.col("s_user").alias("user_id"))


def build_stream_stream_left_join(stream: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream join: every signup, matched to same-user
    purchases within 1h where one exists, emitted with a NULL
    purchase_id otherwise. The outer side exercises machinery the inner
    join never touches: an unmatched left row is held in state until
    the watermark proves no qualifying purchase can still arrive, then
    emitted with nulls at state eviction. Both side filters pass the
    ``__flush__`` sentinel through (each side's watermark is computed
    AFTER its filter, and the global eviction watermark is the min of
    the two — a sentinel visible to only one side would leave the other
    watermark behind and strand every trailing unmatched signup in
    state). The sentinel's own unmatched-left row is removed from the
    SINK output (a batch filter — filtering inside the streaming plan
    would be pushed below the watermark node and defeat it). State is
    sharded by user_id; the watermark bounds it to the join window, so
    at 100 TB/day state size tracks the 1h horizon, not the stream."""
    s = (
        stream.filter(F.col("event_type").isin("signup", "__flush__"))
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.col("event_type").alias("s_type"),
        )
        .withWatermark("s_ts", "10 minutes")
    )
    p = (
        stream.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = s.join(
        p,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    return joined.select(
        "signup_id", "purchase_id", F.col("s_user").alias("user_id"), "s_type"
    )


def build_stream_static_join(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast to every microbatch — no state, no
    watermark requirement on the static side), then windowed per market
    segment. This is THE streaming-enrichment shape: at 100 TB/day the
    dimension stays a broadcast (or a Delta table re-read per batch for
    slowly-changing dims) and the only state is the window aggregate's,
    bounded by the watermark."""
    from pot_spark.tables import load

    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        stream.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
    )


def build_ohlc(stream: DataFrame) -> DataFrame:
    """Per-user hourly OHLC bars as a streaming aggregate: open/close via
    min_by/max_by ordered on (ts, event_id) — the same single-aggregation
    plan as the batch twin q_ohlc_bars, with watermark-bounded window
    state instead of a static groupBy."""
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.round(F.min_by("value", order_key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", order_key), 6).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


BUILDERS = {
    "q_ohlc_bars": build_ohlc,
    "s_tumbling": build_tumbling,
    "s_sliding": build_sliding,
    "s_session": build_session,
}

# Builders that also need the static side (complete mode): f(stream, spark, sf_dir)
STATIC_BUILDERS = {
    "s_static_join": build_stream_static_join,
}

# Append-mode builders (stream-stream joins can't run in complete mode);
# each maps to the name of its batch twin in the registry.
APPEND_BUILDERS = {
    "q_theta_range_join": build_stream_stream_join,
}

# Append-mode builders fed by the REPLAYED (at-least-once) source.
REPLAY_APPEND_BUILDERS = {
    "s_native_dedup": build_native_dedup,
}

# Append-mode builders fed by the late-delivery split source
# (_split_event_stream: on-time batch, lagging batch, flush sentinel).
LATE_SPLIT_BUILDERS = {
    "s_watermark_late": build_watermark_late,
}

# Append-mode builders fed by the complete-then-flush sentinel source
# (_sentinel_event_stream) — operators whose output is only complete
# once the watermark passes every event.
SENTINEL_APPEND_BUILDERS = {
    "s_outer_join": build_stream_stream_left_join,
}

# Stateful builders emit in update mode (the memory sink appends each
# update); with the single-file source every key updates exactly once, so
# the sink equals the batch result. A multi-batch source would need a
# foreachBatch upsert sink (PotStore) to collapse re-emissions.
# daily dedup runs shard-keyed by default (r13: 807k one-row handler
# invocations at sf1 measured 236 s; the vectorized 32-shard form is
# the same r10 amortization the near-dup gate uses, semantics pinned
# sharded == per-key == batch by test_streaming)
_DAILY_SHARDS = 32

STATEFUL_BUILDERS = {
    "s_dedup_first": lambda stream: build_stateful_dedup(
        stream, n_shards=_DAILY_SHARDS
    ),
    "q_dedup_daily_first": lambda stream: build_stateful_daily_dedup(
        stream, n_shards=_DAILY_SHARDS
    ),
    "s_cdc_compact": lambda stream: build_stateful_cdc(
        stream, n_shards=_DAILY_SHARDS
    ),
    "s_user_quota": lambda stream: build_stateful_quota(
        stream, n_shards=_DAILY_SHARDS
    ),
}

# Stateful builders fed by the ORDERED documents source (_doc_stream)
# instead of the events source; update mode. The key is the batch twin.
# NOTE: the sink holds per-(band, doc) flags — the per-doc admission
# verdict is the stateless rollup s_dedup_near_stream applies on top
# (streaming_exec.py), so raw run_streaming_query output is NOT the
# batch twin's shape for these.
# default shard count for the registered gate: one handler invocation
# per shard per microbatch (vs one per distinct band) — the r10
# amortization of per-group Python overhead; semantics per band either
# way (test_streaming pins sharded == per-band == batch)
_GATE_SHARDS = 32

DOC_STATEFUL_BUILDERS = {
    "s_dedup_near_gate": lambda stream: build_near_dedup_gate(
        stream, n_shards=_GATE_SHARDS
    ),
}

# Stateful builders fed by the embeddings source (_vec_stream) that also
# need the static side for the quantizer build: f(stream, spark, sf_dir),
# update mode. The sink holds one emission per cell per growing batch;
# the registered s_sim_index_stream keeps each cell's LAST emission.
VEC_STATEFUL_BUILDERS = {
    "s_sim_index": build_sim_index,
}

# Cap on _stream_shuffle_partitions' size-derived count: the local
# commit-concurrency plateau (measurements in its docstring).
_STATE_PARTITIONS_MAX = 8
# Shuffle partitions for Python-stateful plans with FEW state groups
# (see streaming_plan).
_FEW_GROUP_PY_PARTITIONS = 8


def _stream_shuffle_partitions(source_file: str) -> int:
    """Shuffle/state-store partition count for one streaming run, derived
    from the SOURCE SIZE instead of inheriting the session's core-count
    constant (guide §2: scale-adaptive partitioning; stateful operators
    pin their partitioning at query start, so AQE coalescing can never
    repair an oversized choice the way it does for batch plans).

    Why it matters: every stateful operator commits one state store per
    shuffle partition per microbatch, and a stream-stream join commits
    FOUR. On the bench fixture (2 MB events, ~40k state rows) the
    inherited 32 partitions mean 128 store commits per batch; measured
    on this rig the commit time is also superlinear in the number of
    CONCURRENT commits (s_outer_join wall: 32p=30.1s, 16p=33.5s,
    8p=11.4s, 4p=9.9s, 2p=10.5s, 1p=10.6s — the 16p/32p regime's summed
    commit time is 70-230s vs 0.4-5.6s below 8). One state partition per
    ~4 MB of source, floored at 4 and capped at _STATE_PARTITIONS_MAX,
    picks the measured plateau.

    Production posture: a real deployment sizes state partitions to the
    cluster and the watermark-bounded state volume, NOT to one file; a
    multi-disk cluster raises the cap, with a measurement beside it."""
    import math

    try:
        nbytes = os.path.getsize(source_file)
    except OSError:
        return 4
    return min(max(4, math.ceil(nbytes / (4 << 20))), _STATE_PARTITIONS_MAX)


def streaming_plan(
    spark: SparkSession, name: str, sf_dir: str
) -> tuple[DataFrame, str, int | None]:
    """The one dispatch from a runner name to what its stream runs: the
    source, the builder, the output mode, and the shuffle-partition count
    to pin at stream start (None: inherit the session conf).

    The shuffle-partition conf is captured at query START and pins the
    stateful operators' partitioning for the stream's lifetime. Three
    plan classes, each from bench-protocol A/B measurements at sf0.1
    (best-of-reps, warm session — OPTIMIZATION_r13.md "streaming state
    partitioning"):

    - Python-stateful plans with FEW state groups (the 32-sharded doc
      gate, the ~k-cell IVF index): partitions beyond the group count
      buy nothing and each idle task still pays ~1s of Python/state
      overhead per batch; 8 measured the gate 5.0s vs 7.3s at 32
      (production: ~4x executor count, matching the n_shards sizing).
    - Python-stateful plans with MANY state groups (per-key dedup /
      quota / CDC): per-group Python dispatch needs task parallelism
      ~ cores; the small value measured s_dedup_first_stream 8.6s vs
      2.9s. Inherit the session conf.
    - JVM-stateful plans (stream-stream joins, window aggs, native
      dedup): commit-bound — every batch commits one store per
      partition (FOUR for a join) and commit cost is superlinear in
      concurrent commits. Size-derived small value
      (_stream_shuffle_partitions): s_outer_join 30.1s -> 9.9s."""
    from pot_spark.kv.datasource import _ship_package

    _ship_package(spark)  # the handlers' module-level calls, see above
    events = f"{sf_dir}/events.parquet"
    if name in DOC_STATEFUL_BUILDERS:
        stream = _doc_stream(spark, f"{sf_dir}/documents.parquet")
        plan = DOC_STATEFUL_BUILDERS[name](stream)
        return plan, "update", _FEW_GROUP_PY_PARTITIONS
    if name in VEC_STATEFUL_BUILDERS:
        stream = _vec_stream(spark, f"{sf_dir}/embeddings.parquet")
        plan = VEC_STATEFUL_BUILDERS[name](stream, spark, sf_dir)
        return plan, "update", _FEW_GROUP_PY_PARTITIONS
    if name in STATEFUL_BUILDERS:
        return STATEFUL_BUILDERS[name](_event_stream(spark, events)), "update", None
    parts = _stream_shuffle_partitions(events)
    if name in LATE_SPLIT_BUILDERS:
        stream = _split_event_stream(spark, events)
        return LATE_SPLIT_BUILDERS[name](stream), "append", parts
    if name in SENTINEL_APPEND_BUILDERS:
        stream = _sentinel_event_stream(spark, events)
        return SENTINEL_APPEND_BUILDERS[name](stream), "append", parts
    if name in REPLAY_APPEND_BUILDERS:
        stream = _event_stream(spark, events, replay=True)
        return REPLAY_APPEND_BUILDERS[name](stream), "append", parts
    stream = _event_stream(spark, events)
    if name in APPEND_BUILDERS:
        return APPEND_BUILDERS[name](stream), "append", parts
    if name in STATIC_BUILDERS:
        return STATIC_BUILDERS[name](stream, spark, sf_dir), "complete", parts
    return BUILDERS[name](stream), "complete", parts


def checkpoint_dir() -> str:
    """A fresh throwaway checkpoint directory for one in-process run.

    Such runs end inside this process and their checkpoints are
    throwaway, yet every state-store commit and WAL write fsyncs them —
    on a 4-vCPU VM's virtio disk that fsync latency is both large and
    wildly variable (the same stream measured 3.6 s and 14.7 s across
    runs). Place the checkpoint on tmpfs when available; a production
    deployment with a resumable stream sets SPARK_GRAFT_STREAM_CKPT_BASE
    to durable storage instead."""
    import tempfile

    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_BASE")
    if not base and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix="pot_spark_stream_ckpt_", dir=base)


def run_streaming_query(
    spark: SparkSession, name: str, sf_dir: str, timeout_s: float = 120.0
) -> DataFrame:
    """Execute one event-time window operator as a real stream to
    completion (complete output mode into a memory sink) and return the
    final result as a DataFrame."""
    import shutil

    plan, mode, parts = streaming_plan(spark, name, sf_dir)
    # deterministic sink name per query: a rerun REPLACES the previous
    # run's memory-sink table instead of accumulating uuid-named views
    # (and their driver-held rows) without bound across a long session
    sink = f"sink_{name}"
    spark.catalog.dropTempView(sink)
    # pin this run's partition count and restore the session conf for
    # whatever batch work follows
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    ckpt_dir = checkpoint_dir()
    try:
        q = (
            plan.writeStream.outputMode(mode)
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.table(sink)
