"""Scale-path operators: the physical patterns that keep plans viable at
100 TB — partition-pruned sinks, skew-salted joins, and IVF-pruned
similarity search.

Reference parity note: petomalina/pot has no query layer at all (SURVEY.md
§2-A; readme.md:43 "Pot doesn't support any kind of filtering or
querying"), so everything here is capability extension built on Spark
built-ins.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pot_spark.queries.llm_similarity import _DIM, _as_double, _dot, _norm
from pot_spark.registry import query
from pot_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# Partitioned sink + partition-pruned read-back.
# ---------------------------------------------------------------------------


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + pruned read-back: the table is laid
    out as one directory per o_orderpriority, so the filter is resolved by
    the file index (PartitionFilters) — 4/5 of the data is never opened.
    At 100 TB this is the difference between a metadata operation and a
    full scan; tests/test_plans.py pins the pruned plan shape.

    The write repartitions on the partition column first: partitionBy
    alone makes EVERY task write into EVERY partition directory
    (tasks x partitions small files — the classic lakehouse small-file
    explosion); the shuffle routes each partition's rows to one task so
    file count tracks partitions, not tasks x partitions."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    out = os.path.join(tempfile.gettempdir(), f"pot_spark_part_{tag}", "orders")
    src = load(spark, sf_dir, "orders")
    (
        src.repartition("o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .parquet(out)
    )
    # pin the read schema: an EMPTY source writes zero data files and
    # schema inference would fail the read-back — an empty result must
    # round-trip as an empty result, not an AnalysisException
    rb = (
        spark.read.schema(src.schema)
        .parquet(out)
        .filter(F.col("o_orderpriority") == "1-URGENT")
    )
    return rb.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Skew-salted join: identical semantics to the plain join, but the hot key's
# rows are spread over N_SALT reducers.
# ---------------------------------------------------------------------------

N_SALT = 8


@query(
    "q_skew_salt_join",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_skew_salt_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting for skewed join keys: the big (skew-prone) side gets a
    deterministic salt in [0, N_SALT); the other side is replicated once
    per salt value, and the join key becomes (key, salt) — a hot key's
    rows now land on N_SALT reducers instead of one. Results are provably
    identical to the unsalted join (each big-side row still matches
    exactly its key's partners). This is the manual fallback where AQE's
    skew-join split can't kick in (e.g. skewed build side of a
    shuffled-hash join)."""
    one = F.lit(1).cast("decimal(18,2)")
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_linenumber")
        .withColumn("salt", (F.col("l_linenumber") % N_SALT).cast("int"))
    )
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)])))
    )
    joined = li.hint("shuffle_hash").join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & (li.salt == orders.salt),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (one - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# IVF similarity search: coarse-quantize (per-label centroids), probe the
# nprobe nearest cells, exact re-rank inside them. Fully oracle-checked:
# centroid components go through exact DECIMAL sums so both engines compute
# bit-identical cell rankings.
# ---------------------------------------------------------------------------

_NPROBE = 2
_TOPK = 5


@query(
    "q_sim_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    probe AS (SELECT v AS p FROM e WHERE vec_id = 0),
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS d),
    comp AS (
        SELECT label, d,
               CAST(SUM(CAST(v[d] AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c
        FROM e, dims GROUP BY label, d
    ),
    pc AS (SELECT d, p[d] AS pv FROM probe, dims),
    score AS (
        SELECT label,
               CAST(SUM(CAST(c * pv AS DECIMAL(30,12))) AS DOUBLE) AS dot,
               CAST(SUM(CAST(c * c AS DECIMAL(30,12))) AS DOUBLE) AS cc
        FROM comp JOIN pc USING (d) GROUP BY label
    ),
    top_labels AS (
        SELECT label FROM score ORDER BY dot / sqrt(cc) DESC, label LIMIT {_NPROBE}
    )
    SELECT vec_id, label,
           round(list_cosine_similarity(v, probe.p), 6) AS cos_sim
    FROM e, probe
    WHERE label IN (SELECT label FROM top_labels) AND vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT {_TOPK}
    """,
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search: per-label centroids are the coarse
    quantizer; the probe ranks cells by cosine-to-centroid, scans only the
    _NPROBE nearest cells and exact-re-ranks inside them. At scale the
    centroid table is tiny (n_cells rows — always broadcast) and the scan
    prunes to ~nprobe/n_cells of the vectors; cell assignment happens once
    at ingest. Centroid components use exact DECIMAL(18,6) sums so the cell
    ranking is bit-identical across engines (double summation order never
    matters)."""
    emb = load_spread(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(_as_double().alias("p"))

    # build: per-(label, dim) centroid components via exact decimal sums
    exploded = emb.select(
        "label", F.posexplode(_as_double()).alias("d0", "x")
    ).select("label", (F.col("d0") + 1).alias("d"), "x")
    comp = exploded.groupBy("label", "d").agg(
        (
            F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("c")
    )

    # probe components, broadcast into the (tiny) centroid table
    pc = probe.select(F.posexplode("p").alias("d0", "pv")).select(
        (F.col("d0") + 1).alias("d"), "pv"
    )
    score = (
        comp.join(F.broadcast(pc), "d")
        .groupBy("label")
        .agg(
            F.sum((F.col("c") * F.col("pv")).cast("decimal(30,12)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(30,12)"))
            .cast("double")
            .alias("cc"),
        )
    )
    top_labels = (
        score.select("label", (F.col("dot") / F.sqrt("cc")).alias("s"))
        .orderBy(F.col("s").desc(), "label")
        .limit(_NPROBE)
        .select("label")
    )

    # search: exact cosine re-rank inside the probed cells only
    cand = (
        emb.join(F.broadcast(top_labels), "label")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", _as_double().alias("v"))
    )
    scored = cand.join(F.broadcast(probe)).select(
        "vec_id",
        "label",
        F.round(_dot("v", "p") / (_norm("v") * _norm("p")), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(_TOPK)


# ---------------------------------------------------------------------------
# First-event dedup: batch twin of the stateful streaming dedup operator
# (pot_spark.streaming.runner.build_stateful_dedup).
# ---------------------------------------------------------------------------


@query(
    "s_dedup_first",
    oracle="""
    WITH g AS (
        SELECT user_id, event_type,
               CAST(MIN(event_id) AS BIGINT) AS first_event_id
        FROM events GROUP BY user_id, event_type
    )
    SELECT g.user_id, g.event_type, g.first_event_id,
           e.ts AS first_ts, e.value AS first_value
    FROM g JOIN events e ON e.event_id = g.first_event_id
    """,
)
def s_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep only the first event per (user_id, event_type) — the batch
    evaluation of streaming dedup. The streaming twin is a custom stateful
    operator (applyInPandasWithState keeping min-event-id state per key,
    emitting on change); tests/test_streaming.py asserts both agree.

    Oracle note: the join-back on the (globally unique) min event_id,
    NOT arg_min — DuckDB's arg_min skips rows whose VALUE argument is
    NULL, so a first event with a null measurement would silently
    resolve to some later event's value; Spark's min_by keeps it. The
    first event's value is the first event's value, null included."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.min_by("ts", "event_id").alias("first_ts"),
        F.min_by("value", "event_id").alias("first_value"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning: partitioned fact ⋈ filtered dim, where the
# partitions to read are only known at runtime (from the dim filter result).
# ---------------------------------------------------------------------------


@query(
    "q_dpp_join",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is partitioned on
    l_returnflag, and the dim filter (class = 'returned') only resolves to
    partition keys at runtime — Catalyst injects a dynamicpruning
    subquery that reuses the dim's broadcast to skip whole fact
    partitions at the file-index level. On a 100 TB date-partitioned
    fact this is the standard "join to dim_date, read 7 of 3650
    partitions" pattern; tests/test_plans.py pins the pruning
    expression in the scan. The write is a one-time ingest (guarded),
    not part of the query."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    out = os.path.join(tempfile.gettempdir(), f"pot_spark_dpp_{tag}", "lineitem")
    src = load(spark, sf_dir, "lineitem")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        # repartition on the partition column first: one file per
        # partition dir instead of tasks×partitions small files
        (
            src.repartition("l_returnflag")
            .write.partitionBy("l_returnflag")
            .mode("overwrite")
            .parquet(out)
        )
    # schema pinned so an empty ingest (zero data files) still reads
    # back as an empty fact instead of failing schema inference
    fact = spark.read.schema(src.schema).parquet(out)
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, class string",
    ).filter(F.col("class") == "returned")
    one = F.lit(1).cast("decimal(18,2)")
    j = fact.join(F.broadcast(dim), fact.l_returnflag == dim.flag)
    return j.groupBy("l_linestatus").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (one - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — the multi-dimensional data-layout
# primitive behind OPTIMIZE ZORDER BY: files clustered on the interleaved
# key serve range predicates on EITHER dimension from few files.
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension -> 16-bit Morton code, 256x256 grid


@query(
    "q_zorder_key",
    oracle=f"""
    WITH b AS (
        SELECT l_orderkey, l_partkey, l_suppkey,
               CAST(floor(CAST(l_partkey AS DOUBLE)
                          / (SELECT MAX(l_partkey) + 1 FROM lineitem)
                          * {1 << _Z_BITS}) AS BIGINT) AS bx,
               CAST(floor(CAST(l_suppkey AS DOUBLE)
                          / (SELECT MAX(l_suppkey) + 1 FROM lineitem)
                          * {1 << _Z_BITS}) AS BIGINT) AS by
        FROM lineitem
    ),
    z AS (
        SELECT l_orderkey, l_partkey, l_suppkey, bx, by,
               (
                 {' + '.join(f"(((bx >> {i}) & 1) << {2 * i + 1}) + (((by >> {i}) & 1) << {2 * i})" for i in range(_Z_BITS))}
               ) AS zkey
        FROM b
    )
    SELECT CAST(zkey // 1024 AS BIGINT) AS zblock,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(bx) AS BIGINT) AS min_bx, CAST(MAX(bx) AS BIGINT) AS max_bx,
           CAST(MIN(by) AS BIGINT) AS min_by, CAST(MAX(by) AS BIGINT) AS max_by
    FROM z
    GROUP BY 1
    """,
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey), then
    per-zblock bounding boxes — the file-level min/max stats a lakehouse
    OPTIMIZE ZORDER layout gives its scan pruner. Each dimension is
    bucketed to 8 bits against its max, the bits interleaved with pure
    integer shifts (JVM codegen, zero UDFs), and rows grouped into
    1024-key blocks (stand-ins for files). The per-block (bx, by)
    bounding boxes demonstrate the locality property that makes Z-order
    work: a range predicate on EITHER key maps to a bounded set of
    blocks. At 100 TB this key is what you repartitionByRange + sortWithinPartitions
    on at ingest; the query itself is one scan + one rollup shuffle.

    No reference counterpart: petomalina/pot has no layout control at
    all (its whole pot is one data.json — server.go:318-400)."""
    li = load(spark, sf_dir, "lineitem")
    # 1-row maxima broadcast back onto the scan (same subquery shape as
    # the oracle); +1 keeps the top value inside the last bucket
    mx = li.agg(
        (F.max("l_partkey") + 1).alias("max_pk"),
        (F.max("l_suppkey") + 1).alias("max_sk"),
    )
    scale = 1 << _Z_BITS
    b = li.crossJoin(F.broadcast(mx)).select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.floor(
            F.col("l_partkey").cast("double") / F.col("max_pk") * scale
        ).cast("bigint").alias("bx"),
        F.floor(
            F.col("l_suppkey").cast("double") / F.col("max_sk") * scale
        ).cast("bigint").alias("by"),
    )
    zkey = None
    for i in range(_Z_BITS):
        term = (
            F.shiftleft(F.shiftrightunsigned("bx", i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftrightunsigned("by", i).bitwiseAND(F.lit(1)), 2 * i)
        )
        zkey = term if zkey is None else zkey + term
    z = b.withColumn("zkey", zkey.cast("bigint"))
    return (
        z.groupBy((F.col("zkey") / 1024).cast("bigint").alias("zblock"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("bx").alias("min_bx"),
            F.max("bx").alias("max_bx"),
            F.min("by").alias("min_by"),
            F.max("by").alias("max_by"),
        )
    )


@query(
    "q_dedup_daily_first",
    oracle="""
    SELECT user_id, event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
           CAST(MIN(event_id) AS BIGINT) AS first_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_suppressed
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_dedup_daily_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed dedup: first event per (user, type, day) — the batch twin
    of streaming dedup WITH STATE TTL. Unbounded streaming dedup state
    (s_dedup_first) grows forever; keying the state by day bounds it to
    one day's keys, which is what `withWatermark + dropDuplicates` /
    transformWithState-with-TTL do in the stream. One map-side-combined
    shuffle on the composite key; day arithmetic is integer epoch-floor,
    replayable on any engine."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    return ev.groupBy(
        "user_id", "event_type", day.alias("day_bucket")
    ).agg(
        F.min("event_id").alias("first_event_id"),
        F.count("*").alias("n_suppressed"),
    )


@query(
    "q_null_skew_join",
    oracle="""
    WITH ev AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE user_id END
                 AS uid,
               value
        FROM events
    ),
    agg AS (SELECT uid, CAST(COUNT(*) AS BIGINT) AS n_ev FROM ev
            WHERE uid IS NOT NULL GROUP BY uid)
    SELECT e.event_id, e.uid, a.n_ev
    FROM ev e LEFT JOIN agg a ON a.uid = e.uid
    """,
)
def q_null_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-key skew pattern: outer joins hash every NULL key to ONE
    reducer, so a fact table where 20% of rows have a null FK puts 20%
    of the table on a single task. Fix: split the null-key rows out
    BEFORE the shuffle (they can't match anyway), join only the non-null
    slice, and union the null slice back with a null-filled payload —
    identical results, no hot reducer. AQE's skew split cannot help here
    (every null is ONE key, not a skewed distribution of keys); the
    split-union is the only shape that scales."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("uid"),
    )
    agg = (
        ev.filter(F.col("uid").isNotNull())
        .groupBy("uid")
        .agg(F.count("*").alias("n_ev"))
    )
    nn = ev.filter(F.col("uid").isNotNull()).join(agg, "uid", "left").select(
        "event_id", "uid", "n_ev"
    )
    nulls = ev.filter(F.col("uid").isNull()).select(
        "event_id", "uid", F.lit(None).cast("bigint").alias("n_ev")
    )
    return nn.unionByName(nulls)


# ---------------------------------------------------------------------------
# MERGE INTO (lakehouse CDC apply): classify a change batch against the
# base snapshot and produce the post-merge accounting in one pass.
# ---------------------------------------------------------------------------


@query(
    "q_merge_upsert",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey AS key, 'U' AS op,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS new_price
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, 'D', NULL FROM orders WHERE o_orderkey % 10 = 1
        UNION ALL
        SELECT o_orderkey + 100000000, 'I', o_totalprice
        FROM orders WHERE o_orderkey % 10 = 2
    ),
    merged AS (
        SELECT COALESCE(c.key, b.o_orderkey) AS key,
               CASE WHEN c.key IS NULL THEN 'unchanged'
                    WHEN b.o_orderkey IS NULL THEN 'insert'
                    WHEN c.op = 'D' THEN 'delete'
                    ELSE 'update' END AS action,
               CASE WHEN c.key IS NULL THEN b.o_totalprice
                    WHEN c.op = 'D' THEN b.o_totalprice
                    ELSE c.new_price END AS price
        FROM orders b FULL OUTER JOIN changes c ON b.o_orderkey = c.key
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY action
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the lakehouse CDC-apply statement): a change
    batch of updates / deletes / inserts (synthesized deterministically
    from the key space) is classified against the base snapshot via ONE
    full-outer join — matched+op=U -> update, matched+op=D -> delete,
    unmatched-change -> insert, unmatched-base -> unchanged — and the
    per-action row counts and post-merge (pre-delete for D) price sums
    come out of the same pass.

    Scale posture: MERGE is exactly one shuffle of each side on the join
    key — never a rewrite of the untouched base partitions. On a bucketed
    or storage-partitioned base table (q_bucket_join's layout) the
    shuffle disappears entirely; AQE's skew split handles hot keys; the
    delete path emits tombstones (classification), not file rewrites —
    matching the copy-on-write/merge-on-read split real table formats
    use. The KV layer's create_df_bucketed (kv/store.py) implements the
    physical O(delta) version of the same pattern."""
    base = load(spark, sf_dir, "orders")
    upd = base.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit("U").alias("op"),
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.lit(1000).cast("decimal(18,2)")
        )
        .cast("double")
        .alias("new_price"),
    )
    dele = base.filter(F.col("o_orderkey") % 10 == 1).select(
        F.col("o_orderkey").alias("key"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_price"),
    )
    ins = base.filter(F.col("o_orderkey") % 10 == 2).select(
        (F.col("o_orderkey") + 100000000).alias("key"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("new_price"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    m = base.join(changes, base.o_orderkey == changes.key, "full_outer")
    action = (
        F.when(F.col("key").isNull(), "unchanged")
        .when(F.col("o_orderkey").isNull(), "insert")
        .when(F.col("op") == "D", "delete")
        .otherwise("update")
    )
    price = (
        F.when(F.col("key").isNull(), F.col("o_totalprice"))
        .when(F.col("op") == "D", F.col("o_totalprice"))
        .otherwise(F.col("new_price"))
    )
    return (
        m.select(action.alias("action"), price.alias("price"))
        .groupBy("action")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# GDPR/right-to-be-forgotten erasure cascade: delete a subject list across
# the fact hierarchy and account for every row touched.
# ---------------------------------------------------------------------------


@query(
    "q_gdpr_erase",
    oracle="""
    WITH erase AS (SELECT c_custkey FROM customer WHERE c_custkey % 17 = 3),
    o_stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(CASE WHEN e.c_custkey IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_erased
        FROM orders LEFT JOIN erase e ON o_custkey = e.c_custkey
    ),
    l_stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(CASE WHEN eo.o_orderkey IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_erased
        FROM lineitem
        LEFT JOIN (
            SELECT o_orderkey FROM orders JOIN erase e ON o_custkey = e.c_custkey
        ) eo ON l_orderkey = eo.o_orderkey
    ),
    c_stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(CASE WHEN c_custkey % 17 = 3 THEN 1 END)
                    AS BIGINT) AS n_erased
        FROM customer
    )
    SELECT 'customer' AS tbl, n_total, n_erased, n_total - n_erased AS n_survive
    FROM c_stats
    UNION ALL
    SELECT 'orders', n_total, n_erased, n_total - n_erased FROM o_stats
    UNION ALL
    SELECT 'lineitem', n_total, n_erased, n_total - n_erased FROM l_stats
    """,
)
def q_gdpr_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade: a deletion-request batch (subjects
    with c_custkey % 17 = 3) propagated down the foreign-key hierarchy —
    customer rows directly, orders via custkey, lineitems via the erased
    orders' keys — with a per-table audit of total/erased/surviving rows
    (the deletion-manifest evidence a DPO files).

    Scale posture: DSR batches are small, so the subject list and the
    derived erased-order key list are broadcast; every fact table is
    probed scan-side (broadcast hash anti/semi classification) — no fact
    shuffle anywhere, the cascade costs one scan per table. The physical
    deletion on a lakehouse layout is then per-file rewrite of only
    files whose min/max key ranges intersect the list (the kv layer's
    bucket pruning shows the same O(delta) pattern)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    erase = cust.filter(F.col("c_custkey") % 17 == 3).select("c_custkey")
    c_stats = cust.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("c_custkey") % 17 == 3, 1)).alias("n_erased"),
    ).withColumn("tbl", F.lit("customer"))
    eo = orders.join(
        F.broadcast(erase), orders.o_custkey == erase.c_custkey, "left_semi"
    ).select("o_orderkey")
    o_flag = orders.join(
        F.broadcast(erase), orders.o_custkey == erase.c_custkey, "left"
    )
    o_stats = o_flag.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("c_custkey").isNotNull(), 1)).alias("n_erased"),
    ).withColumn("tbl", F.lit("orders"))
    l_flag = li.join(F.broadcast(eo), li.l_orderkey == eo.o_orderkey, "left")
    l_stats = l_flag.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("o_orderkey").isNotNull(), 1)).alias("n_erased"),
    ).withColumn("tbl", F.lit("lineitem"))
    out = c_stats.unionByName(o_stats).unionByName(l_stats)
    return out.select(
        "tbl", "n_total", "n_erased", (F.col("n_total") - F.col("n_erased")).alias("n_survive")
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew audit: the diagnostic that decides whether a join key
# needs salting before you burn a cluster-day finding out the hard way.
# ---------------------------------------------------------------------------


@query(
    "q_skew_audit",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           CAST(MIN(n) AS BIGINT) AS min_key_rows,
           CAST(floor(quantile_cont(n, 0.99) * 1000000) AS BIGINT) AS p99_rows_e6,
           CAST(floor(MAX(n) * 1000000 / SUM(n)) AS BIGINT) AS max_share_ppm
    FROM per_key
    """,
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit for a prospective join/agg key: per-key row
    counts rolled up to the distribution stats that decide the physical
    strategy — max-key share (ppm) tells you whether AQE's skew split
    suffices or the q_skew_salt_join salting pattern is needed, and
    p99-vs-max separates one hot key from a heavy tail. Two partial-agg'd
    rollups; the second runs over the (already small) per-key relation.
    Run it on the candidate key BEFORE shuffling 100 TB on it."""
    orders = load(spark, sf_dir, "orders")
    per_key = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        F.min("n").cast("bigint").alias("min_key_rows"),
        F.floor(F.percentile("n", F.lit(0.99)) * 1000000)
        .cast("bigint")
        .alias("p99_rows_e6"),
        F.floor(F.max("n") * 1000000 / F.sum("n"))
        .cast("bigint")
        .alias("max_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Compaction planning: the OPTIMIZE scheduler's bin-packing pass over
# small files, as a query (plan first, rewrite only what the plan says).
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 400_000  # target bytes per output file (fixture-scaled)


@query(
    "q_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT o_orderpriority AS part_key,
               CAST(floor(epoch(o_orderdate) / 2592000) AS BIGINT) AS file_id,
               CAST(SUM(CAST(length(CAST(o_orderkey AS VARCHAR)) AS BIGINT)
                        + 64) AS BIGINT) AS bytes
        FROM orders GROUP BY 1, 2
    ),
    packed AS (
        SELECT part_key, file_id, bytes,
               SUM(bytes) OVER (
                   PARTITION BY part_key ORDER BY file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM files
    )
    SELECT part_key,
           CAST(floor((cum - bytes) / {_COMPACT_TARGET}) AS BIGINT) AS out_file,
           CAST(COUNT(*) AS BIGINT) AS n_inputs,
           CAST(SUM(bytes) AS BIGINT) AS out_bytes
    FROM packed
    GROUP BY part_key, CAST(floor((cum - bytes) / {_COMPACT_TARGET}) AS BIGINT)
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE scheduler): per-
    partition file inventories (here: monthly write batches as
    pseudo-files with exact byte proxies) are greedily packed into
    target-size output files by a cumulative-sum window — input file k
    goes to output floor(cum_before_k / target). Emits the merge
    manifest (partition, output file, input count, bytes) that the
    rewrite phase executes; files already at target size land alone in
    their bin and are skipped by the rewriter — O(small files), never a
    full-table rewrite.

    Scale posture: the inventory is file-count-sized (millions of rows,
    not data rows); the cumulative window partitions per part_key, so
    no global ordering exists; at pathological per-partition file counts
    the two-level prefix pattern (q_seq_pack) drops in. Integer bytes
    and integer division keep the plan engine-exact."""
    orders = load(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.col("o_orderpriority").alias("part_key"),
        F.floor(F.unix_timestamp("o_orderdate") / 2592000)
        .cast("bigint")
        .alias("file_id"),
    ).agg(
        F.sum(F.length(F.col("o_orderkey").cast("string")).cast("bigint") + 64)
        .cast("bigint")
        .alias("bytes")
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("part_key")
        .orderBy("file_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packed = files.withColumn("cum", F.sum("bytes").over(w))
    out_file = F.floor((F.col("cum") - F.col("bytes")) / _COMPACT_TARGET).cast("bigint")
    return (
        packed.groupBy("part_key", out_file.alias("out_file"))
        .agg(
            F.count("*").alias("n_inputs"),
            F.sum("bytes").cast("bigint").alias("out_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# CDC log compaction: latest-wins replay of an ordered change log.
# ---------------------------------------------------------------------------


@query(
    "q_cdc_compact",
    oracle="""
    WITH log AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
               value
        FROM events
    ),
    latest AS (
        SELECT user_id, event_type, op, value
        FROM log
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE op = 'U') AS BIGINT) AS n_live,
           CAST(COUNT(*) FILTER (WHERE op = 'D') AS BIGINT) AS n_tombstoned,
           CAST(SUM(CASE WHEN op = 'U'
                         THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE)
               AS sum_live_value
    FROM latest
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction (Kafka log-compaction / Debezium snapshot
    rebuild): the events stream is read as an ordered upsert/delete log on
    key (user_id, event_type) — op derived deterministically from the id
    space — and replayed latest-wins: the newest record per key decides
    whether the key is live (op=U, carrying its final value) or
    tombstoned (op=D). Output: per-entity-type live/tombstone counts and
    the sum of surviving values.

    Scale posture — this is the op where the physical choice matters:
    latest-wins is computed with ONE aggregation of
    max(struct(ts, event_id, op, value)) per key (struct comparison is
    lexicographic and (ts, event_id) is unique, so the max is exactly the
    QUALIFY row_number()=1 row the oracle picks). Spark plans it as a
    partial/final SortAggregate — struct aggregation buffers aren't
    hash-aggregable — but the property that matters survives: the
    PARTIAL aggregate runs map-side (a per-partition sort on the grouping
    key, no exchange beneath it), so every input partition reduces its
    keys to one candidate row before the shuffle and the exchange carries
    |keys| rows, not |log| rows — the difference between shuffling 100 TB
    of log and shuffling the keyspace. The window-sort formulation the
    oracle uses would instead exchange the FULL log before its sort. A
    second
    tiny rollup on event_type produces the report. Value sums go through
    DECIMAL(28,6) so both engines add exactly. q_merge_upsert is the
    single-batch MERGE statement; this is its multi-version log-replay
    sibling. No reference counterpart (SURVEY.md §2-A)."""
    return _cdc_compact_df(load(spark, sf_dir, "events"))


@query(
    "s_cdc_compact",
    oracle="""
    WITH log AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
               value
        FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(event_id AS BIGINT) AS last_event_id, ts AS last_ts,
           op, value
    FROM log
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def s_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch evaluation of the streaming CDC-compaction state: the
    per-key latest record itself (the compacted SNAPSHOT q_cdc_compact
    rolls up) — one row per (user_id, event_type) with the newest
    (ts, event_id) record's op and value. Same map-side partial
    max(struct) plan as q_cdc_compact; the real-stream twin
    (streaming_exec.s_cdc_compact_stream via runner.build_stateful_cdc)
    must converge to exactly these rows — asserted row-for-row by
    tests/test_streaming.py::test_stream_matches_batch."""
    log = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.when(F.col("event_id") % 7 == 0, "D").otherwise("U").alias("op"),
            F.col("value"),
        ).alias("rec"),
    )
    return (
        log.groupBy("user_id", "event_type")
        .agg(F.max("rec").alias("last"))
        .select(
            "user_id",
            "event_type",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.ts").alias("last_ts"),
            F.col("last.op").alias("op"),
            F.col("last.value").alias("value"),
        )
    )


def _cdc_compact_df(events: DataFrame) -> DataFrame:
    """Latest-wins compaction over any events-shaped DataFrame (the
    max(struct) plan q_cdc_compact documents; factored for the property
    test that pins struct-ordering == row_number()=1 semantics)."""
    log = events.select(
        "user_id",
        "event_type",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.when(F.col("event_id") % 7 == 0, "D").otherwise("U").alias("op"),
            F.col("value"),
        ).alias("rec"),
    )
    latest = log.groupBy("user_id", "event_type").agg(
        F.max("rec").alias("last")
    )
    return (
        latest.select("event_type", F.col("last.op").alias("op"), F.col("last.value").alias("value"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("op") == "U", 1)).cast("bigint").alias("n_live"),
            F.count(F.when(F.col("op") == "D", 1))
            .cast("bigint")
            .alias("n_tombstoned"),
            F.sum(
                F.when(F.col("op") == "U", F.col("value").cast("decimal(28,6)"))
            )
            .cast("double")
            .alias("sum_live_value"),
        )
        .orderBy("event_type")
    )


_ZS_BLOCKS = 128  # target block (file) count for both layouts
_ZS_LOX, _ZS_HIX = 64, 79  # probe rectangle on the 256x256 (bx, by) grid
_ZS_LOY, _ZS_HIY = 128, 143


@query(
    "q_zorder_skipping",
    oracle=f"""
    WITH b AS (
        SELECT l_orderkey,
               CAST(floor(CAST(l_partkey AS DOUBLE)
                          / (SELECT MAX(l_partkey) + 1 FROM lineitem)
                          * {1 << _Z_BITS}) AS BIGINT) AS bx,
               CAST(floor(CAST(l_suppkey AS DOUBLE)
                          / (SELECT MAX(l_suppkey) + 1 FROM lineitem)
                          * {1 << _Z_BITS}) AS BIGINT) AS by
        FROM lineitem
    ),
    z AS (
        SELECT l_orderkey, bx, by,
               (
                 {' + '.join(f"(((bx >> {i}) & 1) << {2 * i + 1}) + (((by >> {i}) & 1) << {2 * i})" for i in range(_Z_BITS))}
               ) AS zkey,
               (SELECT (MAX(l_orderkey) + {_ZS_BLOCKS}) // {_ZS_BLOCKS}
                FROM lineitem) AS nat_width
        FROM b
    ),
    blocks AS (
        SELECT 'natural' AS layout, l_orderkey // nat_width AS block,
               bx, by FROM z
        UNION ALL
        SELECT 'zorder' AS layout,
               zkey // {((1 << (2 * _Z_BITS)) + _ZS_BLOCKS - 1) // _ZS_BLOCKS}
                 AS block,
               bx, by FROM z
    ),
    stats AS (
        SELECT layout, block, COUNT(*) AS n_rows,
               MIN(bx) AS min_bx, MAX(bx) AS max_bx,
               MIN(by) AS min_by, MAX(by) AS max_by,
               COUNT(*) FILTER (bx BETWEEN {_ZS_LOX} AND {_ZS_HIX}
                                AND by BETWEEN {_ZS_LOY} AND {_ZS_HIY})
                 AS n_match
        FROM blocks GROUP BY layout, block
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) FILTER (max_bx >= {_ZS_LOX} AND min_bx <= {_ZS_HIX}
                                 AND max_by >= {_ZS_LOY} AND min_by <= {_ZS_HIY})
                AS BIGINT) AS blocks_hit,
           CAST(SUM(CASE WHEN max_bx >= {_ZS_LOX} AND min_bx <= {_ZS_HIX}
                         AND max_by >= {_ZS_LOY} AND min_by <= {_ZS_HIY}
                    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_match,
           CAST((COUNT(*) - COUNT(*) FILTER (max_bx >= {_ZS_LOX}
                AND min_bx <= {_ZS_HIX} AND max_by >= {_ZS_LOY}
                AND min_by <= {_ZS_HIY})) * 1000000 // COUNT(*) AS BIGINT)
             AS skip_ppm,
           CAST(SUM(CASE WHEN max_bx >= {_ZS_LOX} AND min_bx <= {_ZS_HIX}
                         AND max_by >= {_ZS_LOY} AND min_by <= {_ZS_HIY}
                    THEN n_rows ELSE 0 END) * 1000
                // greatest(SUM(n_match), 1) AS BIGINT) AS amp_x1000
    FROM stats GROUP BY layout ORDER BY layout
    """,
)
def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping effectiveness audit: the same rows laid out two
    ways — natural ingest order (orderkey ranges) vs Z-order (Morton-key
    ranges, q_zorder_key's code) — each cut into ~{128} blocks with
    per-block (bx, by) bounding boxes, then a 16x16 probe rectangle is
    priced against both: blocks hit, rows scanned, floored skip ppm,
    and scan amplification (rows scanned per matching row, x1000). The
    number a lakehouse OPTIMIZE ZORDER decision is justified with.

    100 TB design: block ids are KEY RANGES (orderkey div w / zkey div
    w), so the audit needs NO global sort and no row_number — the whole
    query is codegen'd integer arithmetic, one rollup shuffle on
    (layout, block) with map-side partials, and a 2-row summary. The
    two 1-row maxima are broadcast. Block row-counts vary like real
    file sizes do; the skip/amplification ratios are layout properties,
    not layout-cost properties."""
    li = load(spark, sf_dir, "lineitem")
    mx = li.agg(
        (F.max("l_partkey") + 1).alias("max_pk"),
        (F.max("l_suppkey") + 1).alias("max_sk"),
        ((F.max("l_orderkey") + _ZS_BLOCKS) / _ZS_BLOCKS)
        .cast("bigint")
        .alias("nat_width"),
    )
    scale = 1 << _Z_BITS
    b = li.crossJoin(F.broadcast(mx)).select(
        "l_orderkey",
        F.floor(F.col("l_partkey").cast("double") / F.col("max_pk") * scale)
        .cast("bigint")
        .alias("bx"),
        F.floor(F.col("l_suppkey").cast("double") / F.col("max_sk") * scale)
        .cast("bigint")
        .alias("by"),
        "nat_width",
    )
    zkey = None
    for i in range(_Z_BITS):
        term = (
            F.shiftleft(F.shiftrightunsigned("bx", i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftrightunsigned("by", i).bitwiseAND(F.lit(1)), 2 * i)
        )
        zkey = term if zkey is None else zkey + term
    z = b.withColumn("zkey", zkey.cast("bigint"))
    zw = ((1 << (2 * _Z_BITS)) + _ZS_BLOCKS - 1) // _ZS_BLOCKS
    blocks = z.select(
        F.lit("natural").alias("layout"),
        F.expr("l_orderkey div nat_width").alias("block"),
        "bx",
        "by",
    ).unionAll(
        z.select(
            F.lit("zorder").alias("layout"),
            F.expr(f"zkey div {zw}").alias("block"),
            "bx",
            "by",
        )
    )
    match = F.col("bx").between(_ZS_LOX, _ZS_HIX) & F.col("by").between(
        _ZS_LOY, _ZS_HIY
    )
    stats = blocks.groupBy("layout", "block").agg(
        F.count("*").alias("n_rows"),
        F.min("bx").alias("min_bx"),
        F.max("bx").alias("max_bx"),
        F.min("by").alias("min_by"),
        F.max("by").alias("max_by"),
        F.sum(match.cast("bigint")).alias("n_match"),
    )
    hit = (
        (F.col("max_bx") >= _ZS_LOX)
        & (F.col("min_bx") <= _ZS_HIX)
        & (F.col("max_by") >= _ZS_LOY)
        & (F.col("min_by") <= _ZS_HIY)
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(hit.cast("bigint")).alias("blocks_hit"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_match"),
        )
        .select(
            "layout",
            "n_blocks",
            "blocks_hit",
            "rows_scanned",
            "rows_match",
            F.expr("(n_blocks - blocks_hit) * 1000000 div n_blocks").alias(
                "skip_ppm"
            ),
            F.expr("rows_scanned * 1000 div greatest(rows_match, 1)").alias(
                "amp_x1000"
            ),
        )
        .orderBy("layout")
    )


_N_SHARDS = 32


@query(
    "q_shard_balance",
    oracle=f"""
    WITH s AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS INTEGER) % {_N_SHARDS} AS shard,
             n_chars
      FROM documents WHERE doc_id IS NOT NULL
    ),
    per AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_bytes
      FROM s GROUP BY shard
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
                   CAST(SUM(n_bytes) AS BIGINT) AS tb FROM per)
    SELECT CAST(per.shard AS BIGINT) AS shard, per.n_docs, per.n_bytes,
           CAST(per.n_docs * 1000000 // tot.td AS BIGINT) AS docs_ppm,
           CAST(per.n_docs * 1000000 // tot.td - 1000000 // {_N_SHARDS}
                AS BIGINT) AS skew_ppm
    FROM per CROSS JOIN tot
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-sharding balance audit: assign every doc to one of 32
    output shards by its md5 bucket (the deterministic sharding a
    100 TB writer actually uses) and report per-shard doc/byte loads
    with the deviation from the ideal 1/N share in ppm — the check
    that the shard function will not produce straggler output files.

    Scale posture: shard assignment is a scan-side hash; one 32-group
    rollup crossJoined with the 1-row totals. Rows with NULL doc_id are
    excluded identically on both engines (they would all land in one
    pseudo-shard and fake a skew alarm). No reference counterpart
    (SURVEY.md §2-A)."""
    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % _N_SHARDS
    )
    per = (
        docs.filter(F.col("doc_id").isNotNull())
        .groupBy(shard.cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("bigint")
            .alias("n_bytes"),
        )
    )
    # totals via a window over the 32-row rollup (ONE lineage — a
    # second aggregate branch would re-run the corpus scan)
    from pyspark.sql import Window as _W

    w_all = _W.partitionBy()
    per = per.withColumn(
        "td", F.sum("n_docs").over(w_all).cast("bigint")
    )
    return per.select(
        "shard",
        "n_docs",
        "n_bytes",
        F.expr("CAST(n_docs * 1000000 DIV td AS BIGINT)").alias("docs_ppm"),
        F.expr(
            f"CAST(n_docs * 1000000 DIV td - 1000000 DIV {_N_SHARDS}"
            " AS BIGINT)"
        ).alias("skew_ppm"),
    )


_QUOTA_K = 2


@query(
    "s_user_quota",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY event_id
             ) AS rn
      FROM events WHERE event_id IS NOT NULL
    )
    SELECT user_id, event_type,
           CAST(event_id AS BIGINT) AS admitted_event_id
    FROM r WHERE rn <= {_QUOTA_K}
    """,
)
def s_user_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission quota: keep only the FIRST {K} events per (user_id,
    event_type) — the batch evaluation of a streaming rate-limit /
    free-tier gate (admit K, drop the rest). "First" is by event_id (the
    globally unique arrival order key), so the admitted set is
    deterministic; NULL event_ids are excluded on both engines (they
    have no position in the arrival order — and rank NULLS FIRST in
    Spark but NULLS LAST in DuckDB).

    The streaming twin (s_user_quota_stream) runs this as a custom
    stateful operator holding the K admitted ids per key — state is K
    int64s per key, bounded regardless of stream length, and redelivery
    (at-least-once source) admits nothing twice. Scale posture: one
    window over the (user, type) partitioning; at 100 TB this is the
    same single-exchange rank plan as q_lateral_topn."""
    from pyspark.sql import Window as _W

    ev = load(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    w = _W.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _QUOTA_K)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").cast("bigint").alias("admitted_event_id"),
        )
    )
