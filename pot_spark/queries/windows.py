"""Window functions: ranking, running frames, lag/lead.

Every window ordering carries a unique tie-breaker so the result set is
deterministic, and running double sums accumulate in DECIMAL so the frame
result is bit-stable irrespective of partition layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pot_spark.registry import query
from pot_spark.tables import load


@query(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (o_orderkey breaks ties).
    At scale this is the canonical top-k-per-group: one shuffle on the
    partition key, per-partition sort, early filter on rn."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer; DECIMAL accumulation makes the running
    value independent of the engine's frame-evaluation strategy."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta vs previous event value per user (NULL on each user's first
    event). Row-level double subtraction of identical operands is exact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("delta"),
    )


@query(
    "q_window_ntile_dense",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_quartile,
           CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) AS BIGINT) AS seg_rank
    FROM customer
    """,
)
def q_window_ntile_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + dense_rank WITHOUT a full-table single-partition window —
    the distributed-rank decomposition, because a global ntile over a
    fact-scale table funnels every row through one task:

    - Global rank r (the ordering is unique: acctbal DESC, custkey) is
      computed as in-shard row_number + broadcast per-shard base
      offsets (the q_seq_pack prefix-sum shape). Shards are value bands
      of acctbal derived from an exact 1-row (min,max) aggregate kept
      IN the plan (no driver collect, no nondeterministic range
      sampler), monotone in the sort order, so base+rn_in == the global
      rank. The only unpartitioned windows sort the O(64) shard-count
      relation and the O(#segments) distinct-segment relation.
    - bal_quartile then follows from the exact NTILE(4) arithmetic on
      (r, n): the first n%4 buckets take ceil(n/4) rows, the rest
      floor(n/4).
    - seg_rank = dense_rank over c_mktsegment depends only on the
      segment VALUE: rank the tiny distinct-segment relation, broadcast
      it back onto the scan.
    Output identical to the single-window formulation (oracle
    unchanged)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    rng = cust.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    # NULL acctbal (none in TPC-H, but the decomposition must not
    # silently drop rows through a null join key): DESC sorts nulls
    # last on both engines, so nulls belong in the last shard
    banded = cust.crossJoin(F.broadcast(rng)).withColumn(
        "shard",
        F.coalesce(
            F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                F.least(
                    F.floor(
                        (F.col("hi") - F.col("c_acctbal"))
                        / ((F.col("hi") - F.col("lo")) / 64.0)
                    ),
                    F.lit(63),
                )
            ),
            F.lit(63),
        ).cast("int"),
    )
    w_in = Window.partitionBy("shard").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    in_rank = banded.withColumn("rn_in", F.row_number().over(w_in).cast("bigint"))
    counts = banded.groupBy("shard").agg(F.count("*").alias("cnt"))
    # base offsets AND the global count come from ONE pass over the
    # 64-row counts relation (two frames, same sort): a separate
    # counts.agg(...) branch would cost an extra pair of table scans
    w_sh = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bases = counts.select(
        "shard",
        (F.sum("cnt").over(w_sh) - F.col("cnt")).alias("base"),
        F.sum("cnt").over(w_all).alias("n_tot"),
    )
    r = F.col("base") + F.col("rn_in")
    n, four = F.col("n_tot"), F.lit(4)
    rem = n.cast("bigint") % four
    q = F.floor(n / four).cast("bigint")
    cut = rem * (q + 1)
    quartile = F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((r - cut - 1) / q) + 1
    )
    segs = cust.select("c_mktsegment").distinct()
    w_seg = Window.orderBy("c_mktsegment")
    seg_ranks = segs.withColumn(
        "seg_rank", F.dense_rank().over(w_seg).cast("bigint")
    )
    return (
        in_rank.join(F.broadcast(bases), "shard")
        .join(F.broadcast(seg_ranks), "c_mktsegment")
        .select(
            "c_custkey",
            "c_acctbal",
            quartile.cast("bigint").alias("bal_quartile"),
            "seg_rank",
        )
    )


@query(
    "q_window_dist",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           round(first_value(c_acctbal) OVER w, 2) AS seg_min_bal,
           round(nth_value(c_acctbal, 2) OVER w, 2) AS seg_2nd_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal NULLS LAST, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution + positional window functions (percent_rank,
    cume_dist, first_value, nth_value) per market segment with a unique
    tie-breaker in the ordering so both engines rank identically. The
    ranking functions ignore the frame (whole-partition by definition);
    the positional ones use an explicit unbounded frame on both sides.
    NULL balances sort LAST explicitly on both sides: Spark's ASC
    default is NULLS FIRST and DuckDB's is NULLS LAST, so an implicit
    ordering shifts every rank between the engines the moment the
    column has one null."""
    wr = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey"
    )
    wf = wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cust = load(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(wr), 6).alias("pr"),
        F.round(F.cume_dist().over(wr), 6).alias("cd"),
        F.round(F.first_value("c_acctbal").over(wf), 2).alias("seg_min_bal"),
        F.round(F.nth_value("c_acctbal", 2).over(wf), 2).alias("seg_2nd_bal"),
    )


@query(
    "q_window_median",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS vals
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, event_id,
           list_sort(vals)[CAST((len(vals) + 1) // 2 AS BIGINT)] AS med7
    FROM w
    """,
)
def q_window_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling order statistic: the discrete (lower-middle) median of
    each user's last 7 events — the robust smoother that a mean-based
    rolling window can't give you over spiky telemetry. Exact and
    engine-portable by construction: both sides collect the 7-row frame,
    sort it, and SELECT an element (no averaging, no float arithmetic),
    so the result is one of the input doubles, bit-identical everywhere.

    Plan shape: one window partitioned by user_id (state shards across
    executors; no global sort), O(w log w) work per row at w=7 inside
    codegen'd array_sort. For large frames (w in the thousands) this
    array-rebuild becomes O(w^2 log w) per partition slice and the right
    design is a running two-heap/multiset in per-key state (see the
    applyInPandasWithState builders in pot_spark/streaming/runner.py
    for the stateful pattern) — at
    w=7 the array frame is strictly cheaper than Python state hops.

    NULL measurements are filtered out up front ON BOTH SIDES: Spark's
    collect_list silently drops NULLs while DuckDB's list() keeps them,
    so an explicit IS NOT NULL scan filter is the only frame definition
    the two engines actually share."""
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-6, 0)
    vals = F.array_sort(F.collect_list("value").over(w))
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value", vals.alias("vals"))
        .select(
            "user_id",
            "event_id",
            F.expr(
                "element_at(vals, CAST((size(vals) + 1) DIV 2 AS INT))"
            ).alias("med7"),
        )
    )
