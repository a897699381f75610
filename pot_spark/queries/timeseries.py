"""Time-series operators over the events table: hierarchical rollup
(continuous-aggregate pattern) and gap filling with last-observation-
carried-forward.

Scale design: the rollup aggregates coarse resolutions FROM the fine
partials (sum-of-sums), which is how a 100 TB hypertable maintains hourly/
daily aggregates incrementally — the raw data is touched once, every
coarser level reads the (orders-of-magnitude smaller) level below. Gap
fill generates each series' grid from its own bounds (no global cross
join) and fills with a per-series window pass.

No reference counterpart: petomalina/pot has no temporal operators
(SURVEY.md §2-A; the only temporal values are lock lease durations,
server.go:244-249).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pot_spark.registry import query
from pot_spark.tables import load, load_spread


from pot_spark.queries import dec as _dec  # shared engine-exact cast


@query(
    "q_ts_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_ts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: minute partials -> hourly aggregates computed
    from the partials (sum-of-sums / sum-of-counts), the incremental
    continuous-aggregate pattern. DECIMAL partials make the two-level sum
    exactly equal the direct one-level oracle aggregation."""
    ev = load(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute_start"), "event_type"
    ).agg(
        F.sum(_dec("value")).alias("part_sum"),
        F.count("*").alias("part_n"),
    )
    return minute.groupBy(
        F.date_trunc("hour", "minute_start").alias("hour_start"), "event_type"
    ).agg(
        F.sum("part_sum").cast("double").alias("sum_value"),
        F.sum("part_n").cast("bigint").alias("n_events"),
    )


@query(
    "q_ts_gap_fill",
    oracle="""
    WITH b AS (
        SELECT user_id,
               CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS bucket,
               MAX(value) AS bucket_max
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 10 MINUTE)) AS bucket
        FROM bounds
    )
    SELECT g.user_id, g.bucket,
           CAST(b.bucket_max IS NULL AS INTEGER) AS is_gap,
           last_value(b.bucket_max IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket
               ROWS UNBOUNDED PRECEDING
           ) AS filled_value
    FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
    """,
)
def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: empty 10-minute buckets are flagged and filled with
    the last observed value (LOCF).

    Scale shape (r13 rewrite): the naive plan materializes the full
    per-user grid (sequence over [min, max]) and then LEFT-JOINs +
    LOCF-windows over it — at sf1 that is a 62.9M-row shuffle, a 62.9M-row
    join, and a 62.9M-row per-user sort for only ~1M observed buckets
    (63:1 grid:observed, measured). Instead the window pass runs over the
    OBSERVED buckets only: per observed bucket compute the running
    non-null carry (that IS the LOCF value for every grid slot up to the
    next observation) and `lead(bucket)`, then explode each observation's
    [bucket, next) interval map-side. The gap rows are GENERATED already
    carrying their filled value — no grid join, no grid-sized sort, and
    per-row sequence arrays are bounded by one gap (the old plan built a
    user's whole grid as one array). Output identical: the grid still
    spans exactly [min, max] per user."""
    ev = load(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 600) * 600)
    b = ev.groupBy("user_id", bucket.alias("bucket")).agg(
        F.max("value").alias("bucket_max")
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    carried = b.select(
        "user_id",
        "bucket",
        F.col("bucket_max").isNull().cast("int").alias("obs_is_gap"),
        # running non-null carry INCLUDING this row: the LOCF value for
        # this bucket and every generated slot before the next observation
        F.last("bucket_max", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("filled_value"),
        F.lead("bucket").over(w).alias("next_bucket"),
    )
    step = F.expr("interval 10 minutes")
    return carried.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("bucket"),
                F.coalesce(F.col("next_bucket") - step, F.col("bucket")),
                step,
            )
        ).alias("bucket"),
        "obs_is_gap",
        F.col("bucket").alias("obs_bucket"),
        "filled_value",
    ).select(
        "user_id",
        "bucket",
        # the observed slot keeps its own null-flag; generated slots are
        # gaps by definition
        F.when(F.col("bucket") == F.col("obs_bucket"), F.col("obs_is_gap"))
        .otherwise(F.lit(1))
        .alias("is_gap"),
        "filled_value",
    )


@query(
    "q_ohlc_bars",
    oracle="""
    WITH ranked AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT user_id, bucket,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked
    GROUP BY user_id, bucket
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly OHLC bars (the candlestick/financial-rollup shape
    every time-series store exposes). Spark side is a single hash
    aggregation: open/close via `min_by`/`max_by` ordered on the
    (ts, event_id) struct — one shuffle on (user_id, hour), fully
    map-side-combinable, no window pass. The oracle needs the two-window
    formulation only because DuckDB's arg_min can't order by a struct."""
    ev = load_spread(spark, sf_dir, "events", min_bytes=8_000_000)
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.round(F.min_by("value", order_key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", order_key), 6).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "q_scd_intervals",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts AS valid_from, event_id
        FROM marked
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_type, event_id)
             AS valid_to
    FROM changes
    """,
)
def q_scd_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2-style interval construction: collapse each user's event
    stream into [valid_from, valid_to) state intervals, opening a new
    interval whenever event_type changes (change-data-capture -> history
    table). Both window passes share the same (user_id | ts) sort order,
    so Spark plans ONE shuffle + one sort and runs both windows plus the
    filter in a single stage pipeline."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn("prev_type", F.lag("event_type").over(w))
    changes = marked.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
    )
    # (event_type, event_id) tiebreak: two different-type change rows can
    # share a valid_from (same-timestamp events), and a user re-entering
    # the SAME type twice at one timestamp (A,B,A at equal ts) even
    # shares (valid_from, event_type) — event_id makes the full sort key
    # unique so lead() pairs rows identically on every engine
    w2 = Window.partitionBy("user_id").orderBy(
        "valid_from", "event_type", "event_id"
    )
    return changes.withColumn("valid_to", F.lead("valid_from").over(w2)).drop(
        "event_id"
    )


@query(
    "q_funnel",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM u LEFT JOIN v USING (user_id)
           LEFT JOIN c USING (user_id)
           LEFT JOIN p USING (user_id)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: the furthest view -> click -> purchase
    stage each user reached, where each step must strictly follow the
    previous one in event time. Spark formulation: ONE shuffle — collect
    each user's (ts, type) events, sort, and fold a 4-state machine over
    the sequence with F.aggregate. The oracle replays it as the
    min-timestamp cascade (3 aggregations + joins), which is also the
    fallback shape if per-user event counts are too large to collect;
    both agree wherever per-user timestamps are unique (they are, in
    every fixture — microsecond event times)."""
    ev = load(spark, sf_dir, "events")
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_type")))
    codes = F.transform(
        arr,
        lambda x: F.when(x["event_type"] == "view", 1)
        .when(x["event_type"] == "click", 2)
        .when(x["event_type"] == "purchase", 3)
        .otherwise(0),
    )
    stage = F.aggregate(
        codes,
        F.lit(0),
        lambda acc, c: F.when((acc == 0) & (c == 1), 1)
        .when((acc == 1) & (c == 2), 2)
        .when((acc == 2) & (c == 3), 3)
        .otherwise(acc),
    )
    return ev.groupBy("user_id").agg(stage.cast("int").alias("funnel_stage"))


@query(
    "q_retention",
    oracle="""
    WITH f AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    a AS (
        SELECT DISTINCT e.user_id, f.cohort,
               CAST(date_diff('day', f.cohort, date_trunc('week', e.ts)) / 7
                    AS INTEGER) AS wk
        FROM events e JOIN f USING (user_id)
    )
    SELECT cohort,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CASE WHEN wk = 1 THEN user_id END) AS BIGINT) AS w1,
           CAST(COUNT(DISTINCT CASE WHEN wk = 2 THEN user_id END) AS BIGINT) AS w2,
           CAST(COUNT(DISTINCT CASE WHEN wk = 3 THEN user_id END) AS BIGINT) AS w3
    FROM a GROUP BY cohort
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users are cohorted by the week of their first
    signup; each subsequent week counts the cohort members still active
    (any event). The per-(user, week) dedup happens BEFORE the cohort
    rollup, so the wide counting aggregate reads one row per user-week,
    not one per event — the shape that keeps week-over-week retention
    viable over years of events. Cohort weeks are Monday-truncated in
    both engines."""
    ev = load(spark, sf_dir, "events")
    f = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    )
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort",
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort")) / 7)
            .cast("int")
            .alias("wk"),
        )
        .distinct()
    )
    wk_users = lambda k: F.countDistinct(  # noqa: E731
        F.when(F.col("wk") == k, F.col("user_id"))
    )
    return a.groupBy("cohort").agg(
        F.countDistinct("user_id").alias("n_users"),
        wk_users(1).alias("w1"),
        wk_users(2).alias("w2"),
        wk_users(3).alias("w3"),
    )


@query(
    "q_ts_interp",
    oracle="""
    WITH b AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket_s,
               MAX(value) AS bucket_max
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, MIN(bucket_s) AS lo, MAX(bucket_s) AS hi
        FROM b GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, 600)) AS bucket_s
        FROM bounds
    ),
    j AS (
        SELECT g.user_id, g.bucket_s, b.bucket_max,
               last_value(b.bucket_max IGNORE NULLS) OVER w_prev AS prev_v,
               last_value(CASE WHEN b.bucket_max IS NOT NULL
                               THEN g.bucket_s END IGNORE NULLS)
                   OVER w_prev AS prev_t,
               first_value(b.bucket_max IGNORE NULLS) OVER w_next AS next_v,
               first_value(CASE WHEN b.bucket_max IS NOT NULL
                                THEN g.bucket_s END IGNORE NULLS)
                   OVER w_next AS next_t
        FROM grid g
        LEFT JOIN b ON b.user_id = g.user_id AND b.bucket_s = g.bucket_s
        WINDOW w_prev AS (PARTITION BY g.user_id ORDER BY g.bucket_s
                          ROWS UNBOUNDED PRECEDING),
               w_next AS (PARTITION BY g.user_id ORDER BY g.bucket_s
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket_s,
           CAST(bucket_max IS NULL AS INTEGER) AS is_gap,
           CASE WHEN bucket_max IS NOT NULL THEN bucket_max
                WHEN prev_t IS NOT NULL AND next_t IS NOT NULL
                THEN prev_v + (next_v - prev_v) * (bucket_s - prev_t)
                              / (next_t - prev_t)
           END AS interp_value
    FROM j
    """,
)
def q_ts_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation gap fill (the smooth sibling of
    q_ts_gap_fill's LOCF): each user's 10-minute grid spans that user's
    own observed bounds, and every empty bucket gets
    v_prev + (v_next - v_prev) * dt/span from its bracketing
    observations. Gap rows are exploded straight out of consecutive
    observed-bucket pairs (one lead() window over the bucket aggregates)
    rather than joining a dense grid back to the observations, so the
    only shuffles are the bucket aggregation and one window exchange of
    the (small) per-bucket partials — never the dense grid. Grid
    endpoints are observed buckets by construction, so every gap is
    bracketed and the formula is total. The interpolation stays
    un-rounded: +,-,*,/ are IEEE-exact
    deterministic ops over identical left-associative expressions, so
    the doubles are bit-equal across engines (a round(4) would actually
    BREAK parity — Spark rounds the exact binary value via BigDecimal
    while DuckDB rounds a scaled multiply, and they disagree on
    boundary values).

    No reference counterpart: petomalina/pot has no temporal operators
    (SURVEY.md §2-A).

    NULL measurements are filtered up front ON BOTH SIDES (the
    q_window_median rule): a bucket whose only events carry null values
    is a GAP to interpolate, not an observation with a null reading —
    the only definition the two formulations (pair-explode here,
    grid-join in the oracle) both express."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket_s = (F.floor(F.unix_timestamp("ts") / 600) * 600).cast("bigint")
    b = ev.groupBy("user_id", bucket_s.alias("bucket_s")).agg(
        F.max("value").alias("bucket_max")
    )
    # Gap rows are generated directly from consecutive observed buckets —
    # no dense grid is ever joined back against the observations. One
    # lead() window over the aggregated buckets (≤ one row per
    # user×bucket, far smaller than events) gives each observation its
    # bracketing successor; exploding [cur, next) then emits the observed
    # bucket plus its trailing gap rows, each interpolated arithmetically
    # between the bracket endpoints. Versus the grid-join formulation
    # this removes a (user_id, bucket_s) join shuffle over the dense grid
    # and two window sorts over it — at 100 TB the exploded output is
    # write-only, fully pipelined out of the single window stage.
    w = Window.partitionBy("user_id").orderBy("bucket_s")
    br = b.select(
        "user_id",
        "bucket_s",
        "bucket_max",
        F.lead("bucket_s").over(w).alias("next_t"),
        F.lead("bucket_max").over(w).alias("next_v"),
    )
    g = F.explode(
        F.sequence(
            "bucket_s",
            F.coalesce(F.col("next_t") - 600, F.col("bucket_s")),
            F.lit(600).cast("bigint"),
        )
    )
    filled = br.select(
        "user_id", "bucket_s", "bucket_max", "next_t", "next_v", g.alias("g")
    )
    is_obs = F.col("g") == F.col("bucket_s")
    # identical left-associative float expression as the oracle SQL, so
    # the doubles are bit-equal across engines (see docstring)
    interp = F.when(is_obs, F.col("bucket_max")).when(
        F.col("next_t").isNotNull(),
        F.col("bucket_max")
        + (F.col("next_v") - F.col("bucket_max"))
        * (F.col("g") - F.col("bucket_s"))
        / (F.col("next_t") - F.col("bucket_s")),
    )
    return filled.select(
        "user_id",
        F.col("g").alias("bucket_s"),
        (~is_obs).cast("int").alias("is_gap"),
        interp.alias("interp_value"),
    )


_PROBE_ORD = 4611686018427387904  # 2^62 sentinel: probes sort after any event_id


@query(
    "q_temporal_join",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, epoch_us(ts) AS t, event_id AS ord_id,
               event_type AS state
        FROM marked WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    bounds AS (
        SELECT user_id,
               CAST(floor(epoch_us(MIN(ts)) / 3600000000) * 3600000000
                    AS BIGINT) AS lo,
               CAST(floor(epoch_us(MAX(ts)) / 3600000000) * 3600000000
                    AS BIGINT) AS hi
        FROM events GROUP BY user_id
    ),
    probes AS (
        SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS t,
               CAST(4611686018427387904 AS BIGINT) AS ord_id,
               CAST(NULL AS VARCHAR) AS state
        FROM bounds
    ),
    merged AS (
        SELECT * FROM changes UNION ALL SELECT * FROM probes
    ),
    f AS (
        SELECT user_id, t, ord_id,
               last_value(state IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY t, ord_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS state_at
        FROM merged
    )
    SELECT user_id, t AS pt_us, state_at
    FROM f WHERE ord_id = 4611686018427387904
    """,
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD-2) join: what state was each user in at every hourly
    checkpoint? The dimension side is the q_scd_intervals change history;
    the probe side is each user's hourly grid. Executed as a MERGE-AS-OF,
    not a range join: state-change rows and probe rows are unioned into
    one per-user stream (probes tie-broken after changes at equal
    timestamps via a 2^62 ordinal sentinel — NULL ordering differs
    between engines, sentinels don't) and a single running
    last-non-null window assigns each probe the state valid at its time.
    One shuffle + one sort per user at any scale — the range-join
    formulation would shuffle intervals x probes and explode on long
    validity spans. This is Flink's temporal-table join re-expressed as
    a batch window; timestamps ride as epoch micros (BIGINT) end-to-end
    so no engine-specific timestamp arithmetic touches the merge key.

    No reference counterpart: petomalina/pot has no temporal operators
    (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn("prev_type", F.lag("event_type").over(w))
    changes = marked.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("ord_id"),
        F.col("event_type").alias("state"),
    )
    hour_us = 3600000000
    bounds = ev.groupBy("user_id").agg(
        (F.floor(F.unix_micros(F.min("ts")) / hour_us) * hour_us)
        .cast("bigint")
        .alias("lo"),
        (F.floor(F.unix_micros(F.max("ts")) / hour_us) * hour_us)
        .cast("bigint")
        .alias("hi"),
    )
    probes = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.lit(hour_us).cast("bigint"))
        ).alias("t"),
        F.lit(_PROBE_ORD).alias("ord_id"),
        F.lit(None).cast("string").alias("state"),
    )
    merged = changes.unionByName(probes)
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("t", "ord_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn(
            "state_at", F.last("state", ignorenulls=True).over(w2)
        )
        .where(F.col("ord_id") == _PROBE_ORD)
        .select("user_id", F.col("t").alias("pt_us"), "state_at")
    )


# ---------------------------------------------------------------------------
# Interval union (gaps-and-islands merge): total covered time per user from
# overlapping per-event activity intervals.
# ---------------------------------------------------------------------------


@query(
    "q_interval_union",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 600 AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island,
               MIN(s) AS island_start, MAX(e) AS island_end
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_end - island_start) AS BIGINT) AS covered_sec
    FROM merged GROUP BY user_id
    """,
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user: each event opens a 10-minute activity
    interval; overlapping/touching intervals merge into islands
    (gaps-and-islands via a running max of interval ends), and the query
    reports islands and total covered seconds per user — the session-
    coverage statistic billing and engagement pipelines compute. The
    running-max flag and the island-id running sum share one
    (user_id | s, e) sort order, so Spark plans a single hash shuffle on
    user_id + one sort for both windows and the rollups; every window is
    key-partitioned — nothing global, any user count scales out.
    Integer epoch-seconds arithmetic end to end (hash-exact)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        (F.unix_timestamp("ts").cast("bigint") + 600).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "new_island",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(w), F.lit(-(1 << 63))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w2))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
        .cast("bigint")
        .alias("covered_sec"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average: the irregular-sampling statistic (billing, sensor
# rollups) where plain avg() over-weights bursts.
# ---------------------------------------------------------------------------


@query(
    "q_twap",
    oracle="""
    WITH obs AS (
        SELECT user_id, event_id, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS t
        FROM events
    ),
    stepped AS (
        SELECT user_id, t, value,
               lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                 AS t_next
        FROM obs
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(t_next - t) AS BIGINT) AS span_sec,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * (t_next - t))
                     AS DOUBLE)
                / NULLIF(SUM(t_next - t), 0) AS DOUBLE) AS twap
    FROM stepped WHERE t_next IS NOT NULL
    GROUP BY user_id
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (LOCF step function): each
    observation holds until the next one, so its weight is its holding
    duration — the statistic billing meters and sensor rollups need when
    sampling is irregular (a plain avg() over-weights bursty periods).
    One lead() window and the rollup share the same (user | t, event_id)
    sort — a single user-partitioned shuffle. Weighted sums run as
    exact DECIMAL(18,6) × integer-seconds products (order-independent),
    and only the final division is a double — one correctly-rounded IEEE
    op, engine-exact."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp("ts").cast("bigint").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    stepped = ev.withColumn("t_next", F.lead("t").over(w)).filter(
        F.col("t_next").isNotNull()
    )
    dur = F.col("t_next") - F.col("t")
    return stepped.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(dur).cast("bigint").alias("span_sec"),
        (
            F.sum(F.col("value").cast("decimal(18,6)") * dur).cast("double")
            / F.nullif(F.sum(dur), F.lit(0))
        )
        .cast("double")
        .alias("twap"),
    )


# ---------------------------------------------------------------------------
# Event-transition matrix: next-event frequencies (first-order Markov
# statistics) — the navigation/behavior-flow rollup.
# ---------------------------------------------------------------------------


@query(
    "q_event_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS BIGINT)
             AS n_from_prev
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over each user's event stream: how
    often type A is immediately followed by type B, plus the per-source
    row totals (the denominator for transition probabilities) — the
    behavior-flow statistic under funnels, next-action prediction and
    Markov attribution. One user-partitioned shuffle feeds the lag
    window; the rollup collapses to a types² relation (bounded, tiny),
    and the denominator is a window over THAT — so the only data-scale
    shuffle is the first. Tie order pinned by (ts, event_id); counts
    are integers, engine-exact."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = ordered.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    w2 = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.sum("n").over(w2).cast("bigint").alias("n_from_prev"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves: cumulative value by cohort week-age.
# ---------------------------------------------------------------------------


@query(
    "q_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(floor(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_wk
        FROM events GROUP BY user_id
    ),
    contrib AS (
        SELECT f.cohort_wk,
               CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_wk
                 AS age_wk,
               SUM(CAST(e.value AS DECIMAL(18,6))) AS wk_value
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT cohort_wk, age_wk,
           CAST(wk_value AS DOUBLE) AS wk_value,
           CAST(SUM(wk_value) OVER (
               PARTITION BY cohort_wk ORDER BY age_wk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cum_value
    FROM contrib
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week,
    their value contributions rolled up per cohort-age week, and the
    running cumulative sum that IS the LTV curve growth teams read.
    Scale shape: the firsts table is one user rollup (broadcast-sized
    relative to events); the contribution rollup collapses events to
    the bounded (cohorts × ages) grid BEFORE the cumulative window, so
    the window runs over weeks, not events — partitioned per cohort,
    nothing global. Exact DECIMAL sums make the running curve
    hash-stable."""
    ev = load(spark, sf_dir, "events")
    wk = (F.floor(F.unix_timestamp("ts") / 604800)).cast("bigint")
    ev_wk = ev.select("user_id", wk.alias("wk"), "value")
    firsts = ev_wk.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    contrib = (
        ev_wk.join(firsts, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("wk_value"))
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return contrib.select(
        "cohort_wk",
        "age_wk",
        F.col("wk_value").cast("double").alias("wk_value"),
        F.sum("wk_value").over(w).cast("double").alias("cum_value"),
    )


# ---------------------------------------------------------------------------
# Month-over-month growth: the reporting delta every revenue dashboard
# computes, engine-exact via ppm integers.
# ---------------------------------------------------------------------------


@query(
    "q_mom_growth",
    oracle="""
    WITH monthly AS (
        SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT ym,
           CAST(rev AS DOUBLE) AS revenue,
           n_orders,
           CAST(floor((rev - lag(rev) OVER (ORDER BY ym))
                      * 1000000.0 / lag(rev) OVER (ORDER BY ym))
                AS BIGINT) AS growth_ppm
    FROM monthly
    """,
)
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly DECIMAL rollup, lag
    window, growth in floored ppm integers (floor on both engines —
    raw ratio casts round in DuckDB and truncate in Spark). The lag
    window is over the MONTHS relation (bounded: 12 rows/year — a
    century of data is 1200 rows), so the single-partition window that
    Spark plans here is a deliberate, size-capped choice, not a scale
    bug; the data-scale work is the one partial-agg'd monthly rollup."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("ym")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("ym")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "ym",
        F.col("rev").cast("double").alias("revenue"),
        "n_orders",
        F.floor((F.col("rev") - prev) * 1000000.0 / prev)
        .cast("bigint")
        .alias("growth_ppm"),
    )


@query(
    "q_window_ewma",
    oracle="""
    WITH l AS (
      SELECT user_id, event_id,
         lag(value, 0) OVER w AS v0, lag(value, 1) OVER w AS v1,
         lag(value, 2) OVER w AS v2, lag(value, 3) OVER w AS v3,
         lag(value, 4) OVER w AS v4, lag(value, 5) OVER w AS v5,
         lag(value, 6) OVER w AS v6
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    s AS (
      SELECT user_id, event_id,
        (COALESCE(CAST(floor(v0*100) AS BIGINT)*64, 0)
       + COALESCE(CAST(floor(v1*100) AS BIGINT)*32, 0)
       + COALESCE(CAST(floor(v2*100) AS BIGINT)*16, 0)
       + COALESCE(CAST(floor(v3*100) AS BIGINT)*8, 0)
       + COALESCE(CAST(floor(v4*100) AS BIGINT)*4, 0)
       + COALESCE(CAST(floor(v5*100) AS BIGINT)*2, 0)
       + COALESCE(CAST(floor(v6*100) AS BIGINT), 0)) AS num,
        CAST(CASE WHEN v0 IS NULL THEN 0 ELSE 64 END
           + CASE WHEN v1 IS NULL THEN 0 ELSE 32 END
           + CASE WHEN v2 IS NULL THEN 0 ELSE 16 END
           + CASE WHEN v3 IS NULL THEN 0 ELSE 8 END
           + CASE WHEN v4 IS NULL THEN 0 ELSE 4 END
           + CASE WHEN v5 IS NULL THEN 0 ELSE 2 END
           + CASE WHEN v6 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS den
      FROM l
    )
    SELECT user_id, event_id, num, den,
           CASE WHEN den = 0 THEN NULL
                ELSE CAST(num AS DOUBLE) / den / 100 END AS ewma
    FROM s
    """,
)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (half-life = 1 step) over
    each user's last 7 events, in EXACT integer arithmetic: centi-scaled
    values (floor(value*100) — IEEE multiply then floor, identical on
    both engines) weighted by powers of two (64..1), missing leading
    rows contribute zero weight. The num/den integers are the checked
    artifact; the convenience `ewma` double is two correctly-rounded
    IEEE divisions, so it is also bit-identical. This is the standard
    smoother for telemetry/price ticks where the rolling mean lags and
    the rolling median (q_window_median) ignores magnitude.

    Plan shape: all seven lag() calls share ONE window spec, so Spark
    plans a single user-partitioned sort — one shuffle, no joins, and
    the whole expression tree runs in whole-stage codegen. An unbounded
    (infinite-memory) EWMA is inherently recursive — that variant is a
    per-key stateful streaming op (carried state, not a window query);
    the 7-tap FIR form here is what a backfill over a 100 TB event
    table should use."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    num = None
    den = None
    for k in range(7):
        wt = 2 ** (6 - k)
        v = F.lag("value", k).over(w)
        t_num = F.coalesce(
            (F.floor(v * 100).cast("bigint") * wt).cast("bigint"), F.lit(0)
        )
        t_den = F.when(v.isNull(), 0).otherwise(wt)
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        num.cast("bigint").alias("num"),
        den.cast("bigint").alias("den"),
    ).withColumn(
        "ewma",
        # den = 0 (all 7 taps NULL — possible when the measurement
        # column itself has nulls) must yield NULL, not an ANSI
        # divide-by-zero job abort
        F.when(
            F.col("den") != 0, F.col("num").cast("double") / F.col("den") / 100
        ),
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization and last-touch attribution: the two
# event-stream primitives every behavioral/clickstream pipeline needs.
# ---------------------------------------------------------------------------


@query(
    "q_sessionize",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (
                               PARTITION BY user_id
                               ORDER BY ts ASC NULLS FIRST,
                                        event_id ASC NULLS FIRST)
                         <= 1800000000
                    THEN 0 ELSE 1 END AS is_new
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
                   ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM o
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM s
    GROUP BY user_id, session_idx
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity timeout): the batch
    twin of the streaming session window (s_session), expressed as the
    classic lag -> new-session flag -> running-sum session id, then one
    per-session rollup. Both window passes and the final aggregation share
    the user_id partitioning, so Spark plans ONE shuffle total — at 100 TB
    the cost is a single hash exchange on user_id plus per-user sorts,
    never a global sort. Gap arithmetic rides as epoch micros (BIGINT) so
    no engine-specific interval semantics touch the session boundary; ties
    are broken by event_id so the running sum is identical on every
    engine. No reference counterpart (petomalina/pot has no temporal
    operators, SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap <= 1800 * 1000000, F.lit(0)).otherwise(F.lit(1))
    sess = ev.select("user_id", "ts", "event_id").withColumn(
        "session_idx",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("bigint")
        .alias("duration_us"),
    )


@query(
    "q_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    a AS (
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               (SELECT max(c.ts) FROM events c
                WHERE c.event_type = 'click'
                  AND c.user_id = p.user_id
                  AND c.ts <= p.purchase_ts) AS last_click_ts
        FROM p
    )
    SELECT purchase_id, user_id, purchase_ts, last_click_ts,
           CAST(CASE WHEN last_click_ts IS NOT NULL
                      AND epoch_us(purchase_ts) - epoch_us(last_click_ts)
                          <= 604800000000
                     THEN 1 ELSE 0 END AS INTEGER) AS attributed_7d
    FROM a
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is attributed to the most
    recent click by the same user at-or-before the purchase, flagged when
    the touch falls inside a 7-day window. The oracle states the semantics
    as a correlated MAX subquery; the Spark plan is the merge-as-of
    pattern (q_temporal_join): clicks and purchases union into one
    per-user stream ordered (ts, kind, event_id) — clicks sort before a
    same-timestamp purchase so "at-or-before" includes ties — and a single
    running last-non-null window assigns each purchase its latest
    preceding click. ONE shuffle on user_id at any scale; the correlated-
    subquery formulation would be a per-purchase range scan. No reference
    counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    # NULL-key guard (the round-8 asof-family advice class, swept in
    # r9): the window's NULL user_id partition would let a NULL-user
    # click attribute a NULL-user purchase, but the oracle's correlated
    # equi-predicate (c.user_id = p.user_id) never matches NULL — drop
    # NULL-key rows from the MATCH side; NULL-user purchases stay,
    # unattributed.
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.col("ts").alias("click_ts"),
        F.lit(0).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(1).alias("kind"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = merged.withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    ).filter(F.col("kind") == 1)
    within = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.col("last_click_ts")
    ) <= F.lit(604800000000)
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
        F.when(F.col("last_click_ts").isNotNull() & within, 1)
        .otherwise(0)
        .cast("int")
        .alias("attributed_7d"),
    )


@query(
    "q_rolling_dau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    mx AS (SELECT MAX(d) AS md FROM du),
    ex AS (
        SELECT CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS DATE) AS day,
               d, user_id
        FROM du
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT CASE WHEN d = day THEN user_id END)
                AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau_7d
    FROM ex
    WHERE day <= (SELECT md FROM mx)
    GROUP BY day
    ORDER BY day
    """,
)
def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day distinct active users per day — THE
    product-analytics rolling-distinct metric (DAU / WAU-style).

    Scale posture — rolling COUNT DISTINCT is the op where the naive
    plans die: a self-join of days x 7 trailing days re-scans the
    activity table 7 times, and a RANGE-frame window can't do distinct
    at all. The scalable exact plan: (1) one distinct over (day,
    user_id) — shuffle of date+int64 pairs, partial-aggregated; (2) each
    pair explodes to the <= 7 report days it contributes to (a BOUNDED
    7x fan-out of already-deduplicated pairs, at 10^9 DAU ~56 GB —
    nothing like the raw event volume); (3) one two-phase distinct
    aggregation per report day. The same-day DAU rides along as a
    conditional distinct on the contributing day, so both metrics cost
    ONE extra column, not a second pass. Report days past the last
    activity day are dropped via a 1-row max broadcast. No reference
    counterpart (SURVEY.md §2-A)."""
    du = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
    )
    mx = du.agg(F.max("d").alias("md"))
    ex = du.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
        "d",
        "user_id",
    )
    return (
        ex.join(F.broadcast(mx), ex.day <= F.col("md"), "inner")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count_distinct(
                F.when(F.col("d") == F.col("day"), F.col("user_id"))
            )
            .cast("bigint")
            .alias("dau"),
            F.count_distinct("user_id").cast("bigint").alias("dau_7d"),
        )
        .orderBy("day")
    )


@query(
    "q_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, day
    ),
    c AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS t
      FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, c.day, tot.n, tot.t,
             abs(tot.n * c.cum - c.i * tot.t) AS absdev,
             row_number() OVER (
               PARTITION BY c.event_type
               ORDER BY abs(tot.n * c.cum - c.i * tot.t) DESC, c.day
             ) AS rn
      FROM c JOIN tot USING (event_type)
    )
    SELECT event_type, n AS n_days, t AS total_events,
           CAST(day AS VARCHAR) AS peak_day,
           CAST(absdev AS BIGINT) AS peak_dev_scaled
    FROM dev WHERE rn = 1
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily event volume per type: the
    day where the cumulative deviation from a flat rate peaks — the
    standard "when did behavior shift" estimator, in the scaled integer
    form |n·cum_i − i·total| (multiplying the classic Σ(x−mean) through
    by n removes the mean division, so the statistic is EXACT integer
    arithmetic and shuffle-order-proof; argmax ties break to the
    earliest day on both engines).

    Scale posture: one (event_type, day) rollup compresses the corpus
    to type×days rows; the cumsum/rank windows and the deviation math
    all run on that compressed relation partitioned by event_type. NULL
    timestamps are excluded identically up front. No reference
    counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    c = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(w_day).alias("i"),
        F.sum("x")
        .over(w_day.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
    )
    dev = c.join(tot, "event_type").select(
        "event_type",
        "day",
        "n",
        "t",
        F.abs(F.col("n") * F.col("cum") - F.col("i") * F.col("t")).alias(
            "absdev"
        ),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc("absdev"), F.asc("day")
    )
    return (
        dev.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("t").alias("total_events"),
            F.col("day").cast("string").alias("peak_day"),
            F.col("absdev").cast("bigint").alias("peak_dev_scaled"),
        )
    )


_ACF_LAGS = [1, 2, 3, 7]


@query(
    "q_acf",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, day
    ),
    idx AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    lags AS (SELECT UNNEST([{', '.join(str(k) for k in _ACF_LAGS)}]) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.x AS xa, b.x AS xb
      FROM idx a
      CROSS JOIN lags l
      JOIN idx b ON b.event_type IS NOT DISTINCT FROM a.event_type
                AND b.i = a.i + l.lag
    ),
    s AS (
      SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xa) AS BIGINT) AS sa, CAST(SUM(xb) AS BIGINT) AS sb,
             CAST(SUM(xa * xb) AS BIGINT) AS sab,
             CAST(SUM(xa * xa) AS BIGINT) AS saa,
             CAST(SUM(xb * xb) AS BIGINT) AS sbb
      FROM pairs GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           ROUND(CAST(n * sab - sa * sb AS DOUBLE)
                 / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                        * CAST(n * sbb - sb * sb AS DOUBLE)), 6) AS acf
    FROM s
    WHERE n >= 2 AND n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily event volume per type at lags
    1/2/3/7 days — the seasonality detector (a strong lag-7 says weekly
    cycle; near-zero everywhere says the volume is memoryless). Pearson
    r between the series and its lag over aligned day-index pairs; all
    five sums are EXACT integer aggregates of daily counts, so shuffle
    order cannot move the statistic — doubles appear only in the final
    IEEE division/sqrt, rounded to 6dp on both engines. Degenerate
    series (constant either side, or fewer than 2 aligned pairs) yield
    no row rather than a NaN, identically.

    Scale posture: the corpus compresses to (event_type, day) counts
    first; the lag alignment is a self-join on the per-type day INDEX
    (row_number over the compressed relation) fanned out by a 4-row
    broadcast lag table — type-scale all the way after the first
    rollup. No reference counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "x", F.row_number().over(w).alias("i")
    )
    lags = spark.createDataFrame([(k,) for k in _ACF_LAGS], "lag bigint")
    a = idx.select(
        F.col("event_type").alias("et"),
        F.col("x").alias("xa"),
        F.col("i").alias("ia"),
    ).crossJoin(F.broadcast(lags))
    b = idx.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"),
        F.col("i").alias("ib"),
    )
    pairs = a.join(
        b,
        a.et.eqNullSafe(b.et_b) & (F.col("ib") == F.col("ia") + F.col("lag")),
    )
    s = pairs.groupBy(F.col("et").alias("event_type"), "lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xa").cast("bigint").alias("sa"),
        F.sum("xb").cast("bigint").alias("sb"),
        F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias("sab"),
        F.sum(F.col("xa") * F.col("xa")).cast("bigint").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("bigint").alias("sbb"),
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa") > 0)
            & (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb") > 0)
        )
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n").alias("n_pairs"),
            F.round(
                (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast(
                    "double"
                )
                / F.sqrt(
                    (
                        F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
                    ).cast("double")
                    * (
                        F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
                    ).cast("double")
                ),
                6,
            ).alias("acf"),
        )
    )


@query(
    "q_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events WHERE ts IS NOT NULL
    ),
    deltas AS (
      SELECT CAST(s AS DATE) AS day, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT CAST(s AS DATE) AS day, e AS t, -1 AS d FROM iv
    ),
    cum AS (
      SELECT day, t,
             SUM(d) OVER (PARTITION BY day ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS load
      FROM deltas
    ),
    best AS (
      SELECT day, t, load,
             row_number() OVER (
               PARTITION BY day ORDER BY load DESC, t
             ) AS rn
      FROM cum
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(load AS BIGINT) AS peak_concurrent,
           CAST(t AS VARCHAR) AS peak_at
    FROM best WHERE rn = 1
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the classic SWEEP-LINE: each event
    opens a 30-minute activity interval; +1/-1 boundary deltas sorted in
    time and cumulative-summed give the live count at every boundary,
    and the per-day max is the capacity-planning number (how many
    concurrent sessions must the serving tier hold). Tie rule is
    engine-pinned twice: simultaneous boundaries order (-1 before +1)
    via the delta in the sort key, and equal peaks resolve to the
    earliest time. The interval end is attributed to its START day so a
    boundary never lands in a foreign partition.

    Scale posture: boundary deltas PRE-AGGREGATE to one (day, t, Σd)
    row per distinct timestamp BEFORE any window (map-side combine
    bounds the shuffle and the reducer-side sort by distinct boundary
    times per day, not by events — the r7 weak ruling on
    low-cardinality `day` partitions holding a whole day's event
    stream). The collapse is exact: within one timestamp the row-level
    sweep orders -1 before +1, so the running count dips then rises and
    its per-timestamp maximum is always the POST-timestamp value — the
    cumsum over Σd visits exactly the candidate peaks, and the
    earliest-time tie rule is unchanged. The cumsum and argmax windows
    then run inside the day partition; at 100 TB days shard across
    executors and each day's sweep is independent. No reference
    counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    iv = ev.select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    deltas = iv.select(
        F.col("s").cast("date").alias("day"),
        F.col("s").alias("t"),
        F.lit(1).alias("d"),
    ).unionByName(
        iv.select(
            F.col("s").cast("date").alias("day"),
            F.col("e").alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    merged = deltas.groupBy("day", "t").agg(F.sum("d").alias("d"))
    w_cum = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = merged.select(
        "day", "t", F.sum("d").over(w_cum).alias("load")
    )
    w_rank = Window.partitionBy("day").orderBy(F.desc("load"), F.asc("t"))
    return (
        cum.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("load").cast("bigint").alias("peak_concurrent"),
            F.col("t").cast("string").alias("peak_at"),
        )
    )


@query(
    "q_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS n_events,
           -- HUGEINT per-row product: c*c in BIGINT would raise
           -- out-of-range on huge daily volumes (round-8 advice)
           CAST((COUNT(*) * SUM(CAST(c AS HUGEINT) * c)
                 - SUM(CAST(c AS HUGEINT)) * SUM(CAST(c AS HUGEINT)))
                * 1000000
                // (COUNT(*) * SUM(CAST(c AS HUGEINT))) AS BIGINT)
             AS fano_ppm
    FROM daily GROUP BY event_type
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor, variance-to-mean ratio) of daily event
    volume per type, in ppm: ~10^6 is Poisson-like arrivals, far above
    flags bursty/bot traffic, far below a rate limiter — the dispersion
    companion to q_acf's memory test. The population-variance form
    (D*sum(c^2) - (sum c)^2) / (D * sum c) is EXACT integer arithmetic
    (numerator non-negative by Cauchy-Schwarz, so the engines' integer
    division semantics agree) over observed days only.

    Scale posture: the corpus compresses to (event_type, day) counts at
    scan (map-side combine); the Fano rollup runs on type x days rows.
    No reference counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # DECIMAL(38,0) accumulation (round-8 advice): the *1000000 Fano
    # numerator D*Σc² − (Σc)² exceeds int64 once daily volumes reach
    # ~1e6 days × 1e6 events/day; non-ANSI Spark would wrap silently
    # while DuckDB widens to HUGEINT. Decimal128 keeps the arithmetic
    # exact to 10^38 (matching DuckDB's HUGEINT headroom) and overflows
    # to NULL — loud, never wrong.
    return daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.expr(
            "CAST((COUNT(*) * SUM(CAST(c AS DECIMAL(38,0)) * c) "
            "- SUM(CAST(c AS DECIMAL(38,0))) * SUM(CAST(c AS DECIMAL(38,0)))) "
            "* 1000000 "
            "DIV (COUNT(*) * SUM(CAST(c AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("fano_ppm"),
    )


@query(
    "q_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, day
    ),
    idx AS (
      SELECT event_type, day, c,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS i,
             SUM(c) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS sl,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(c) OVER (PARTITION BY event_type) AS s
      FROM daily
    ),
    g AS (
      -- HUGEINT: dnum = SL*nR - SR*nL is events x days (the r8-advice
      -- int64 class, fixed repo-wide in r9)
      SELECT event_type, day, i, n,
             CAST(sl AS HUGEINT) * (n - i)
               - CAST(s - sl AS HUGEINT) * i AS dnum,
             CAST(i * (n - i) AS BIGINT) AS w
      FROM idx WHERE i < n
    ),
    ranked AS (
      SELECT event_type, day, n, dnum, w,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(dnum AS DOUBLE) * CAST(dnum AS DOUBLE)
                        / (CAST(w AS DOUBLE) * n) DESC, day
             ) AS rn
      FROM g
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(day AS VARCHAR) AS split_day,
           ROUND(CAST(dnum AS DOUBLE) * CAST(dnum AS DOUBLE)
                 / (CAST(w AS DOUBLE) * n), 6) AS g_stat,
           ROUND(CAST(dnum AS DOUBLE) / w, 6) AS mean_delta
    FROM ranked WHERE rn = 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation CHANGEPOINT on daily event volume per type:
    the split day maximizing the scaled mean-shift statistic
    G(t) = (nL*nR/n) * (meanL - meanR)^2 — the "when did the rate step"
    estimator that complements q_cusum_drift (CUSUM finds drift from a
    flat rate; this finds the single best two-segment split and reports
    the step size). The cross-multiplied numerator
    dnum = SL*nR - SR*nL is EXACT integer arithmetic; G enters doubles
    only as the final dnum^2/(nL*nR*n) — the same IEEE expression on
    both engines — and argmax ties break to the earliest day. The
    boundary i = n is excluded (no right segment).

    Scale posture: all windows run on the (event_type, day) compressed
    relation (q_cusum_drift's posture); prefix sums give every split's
    two segment sums in one pass — no self-join of the series. No
    reference counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        F.row_number().over(w_day).alias("i"),
        F.sum("c")
        .over(w_day.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sl"),
        F.count("*").over(w_all).alias("n"),
        F.sum("c").over(w_all).alias("s"),
    )
    # DECIMAL(38,0): dnum = SL*nR - SR*nL is events x days — quadratic-
    # magnitude (the r8-advice int64 class, fixed repo-wide in r9); it
    # enters doubles only at the final G expression, same as before
    g = idx.filter(F.col("i") < F.col("n")).select(
        "event_type",
        "day",
        "n",
        (
            F.col("sl").cast("decimal(38,0)") * (F.col("n") - F.col("i"))
            - (F.col("s") - F.col("sl")).cast("decimal(38,0)") * F.col("i")
        ).alias("dnum"),
        (F.col("i") * (F.col("n") - F.col("i"))).cast("bigint").alias("w"),
    )
    gs = (
        F.col("dnum").cast("double") * F.col("dnum").cast("double")
    ) / (F.col("w").cast("double") * F.col("n"))
    w_rank = Window.partitionBy("event_type").orderBy(
        gs.desc(), F.asc("day")
    )
    return (
        g.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("day").cast("string").alias("split_day"),
            F.round(gs, 6).alias("g_stat"),
            F.round(
                F.col("dnum").cast("double") / F.col("w"), 6
            ).alias("mean_delta"),
        )
    )


@query(
    "q_dow_seasonality",
    oracle="""
    WITH types AS (SELECT DISTINCT event_type FROM events WHERE ts IS NOT NULL),
    dows AS (SELECT UNNEST(generate_series(0, 6)) AS dow),
    obs AS (
      SELECT event_type, isodow(ts) - 1 AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, dow
    ),
    grid AS (
      SELECT t.event_type, d.dow, COALESCE(o.n_events, 0) AS n_events
      FROM types t CROSS JOIN dows d
      LEFT JOIN obs o ON o.event_type IS NOT DISTINCT FROM t.event_type
                     AND o.dow = d.dow
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow, n_events,
           CAST(n_events * 1000000
                // SUM(n_events) OVER (PARTITION BY event_type)
                AS BIGINT) AS ppm
    FROM grid
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: the full 7-row
    grid (absent weekdays ARE the signal — a feed silent on weekends is
    batch-driven, not organic) with each day's integer-ppm share of the
    type's volume. Weekday numbering is pinned to 0=Monday on both
    engines (Spark weekday(); DuckDB isodow()-1 — Spark's dayofweek()
    and DuckDB's dayofweek() disagree on Sunday, so neither is used).

    Scale posture: one (event_type, dow) scan-side rollup; the 7-row
    grid rides a broadcast and the share window runs over 7 rows per
    type. No reference counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    obs = (
        ev.select("event_type", F.weekday("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    types = ev.select("event_type").distinct()
    dows = types.sparkSession.range(7).select(
        F.col("id").cast("int").alias("dow")
    )
    grid = (
        types.crossJoin(F.broadcast(dows))
        .alias("g")
        .join(
            obs.alias("o"),
            F.col("g.event_type").eqNullSafe(F.col("o.event_type"))
            & (F.col("g.dow") == F.col("o.dow")),
            "left",
        )
        .select(
            F.col("g.event_type").alias("event_type"),
            F.col("g.dow").alias("dow"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )
    w = Window.partitionBy("event_type")
    return grid.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        "n_events",
        F.expr("n_events * 1000000").alias("_num"),
        F.sum("n_events").over(w).alias("_den"),
    ).select(
        "event_type",
        "dow",
        "n_events",
        F.expr("CAST(_num DIV _den AS BIGINT)").alias("ppm"),
    )


@query(
    "q_user_activity_gini",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    h AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM per_user GROUP BY x),
    runs AS (
      SELECT x, c,
             SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c
               AS c_prev
      FROM h
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_users,
           CAST(SUM(x * c) AS BIGINT) AS n_events,
           -- HUGEINT per-row products + the doubled identity
           -- 2*(c*C + c(c+1)/2) = 2*c*C + c*(c+1): exact to 10^38 on
           -- skewed corpora where the *1e6 rank-sum numerator exceeds
           -- int64 (round-8 advice)
           CAST(CASE WHEN SUM(x * c) = 0 THEN NULL
                ELSE (SUM(CAST(x AS HUGEINT)
                          * (2 * CAST(c AS HUGEINT) * c_prev
                             + CAST(c AS HUGEINT) * (c + 1)))
                      - (SUM(c) + 1) * SUM(CAST(x AS HUGEINT) * c)) * 1000000
                     // (SUM(c) * SUM(CAST(x AS HUGEINT) * c))
                END AS BIGINT) AS gini_ppm
    FROM runs
    """,
)
def q_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event volume — the
    concentration-of-activity dial (near 0: organic traffic; near 10^6:
    a handful of accounts generate everything — bots, scrapers, or one
    integration hammering the API). Same tie-invariant grouped rank-sum
    identity as the round-8 q_gini: the exact statistic reads off the
    activity HISTOGRAM (distinct events-per-user counts), so the only
    window runs over type-scale rows no matter how many users exist.
    Pure bigint arithmetic, floored ppm.

    Scale posture: one (user_id) rollup (the q_sessionize shuffle),
    one (count-value) histogram rollup, one cumulative window over
    distinct activity levels. NULL user_id excluded on both engines.
    No reference counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    h = per_user.groupBy("x").agg(F.count("*").cast("bigint").alias("c"))
    w_cum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = h.select(
        "x", "c", (F.sum("c").over(w_cum) - F.col("c")).alias("c_prev")
    )
    # DECIMAL(38,0) accumulation + the doubled rank-sum identity
    # 2*(c*c_prev + c(c+1)/2) = 2*c*c_prev + c*(c+1) (round-8 advice):
    # the *1e6 numerator exceeds int64 once n_events*n_users ~ 9e12;
    # decimal128 keeps it exact to 10^38 — the same headroom as the
    # oracle's HUGEINT — and overflows loudly to an error/NULL, never
    # a silent wrap.
    return runs.agg(
        F.sum("c").cast("bigint").alias("n_users"),
        F.sum(F.col("x") * F.col("c")).cast("bigint").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN SUM(CAST(x AS DECIMAL(38,0)) * c) = 0 THEN NULL "
            "ELSE (SUM(CAST(x AS DECIMAL(38,0)) "
            "* (2 * CAST(c AS DECIMAL(38,0)) * c_prev "
            "+ CAST(c AS DECIMAL(38,0)) * (c + 1))) "
            "- (SUM(c) + 1) * SUM(CAST(x AS DECIMAL(38,0)) * c)) * 1000000 "
            "DIV (SUM(c) * SUM(CAST(x AS DECIMAL(38,0)) * c)) "
            "END AS BIGINT)"
        ).alias("gini_ppm"),
    )


@query(
    "q_session_gap_stats",
    oracle="""
    WITH g AS (
      SELECT (epoch_us(ts)
              - epoch_us(lag(ts) OVER (
                  PARTITION BY user_id
                  ORDER BY ts, COALESCE(event_id, -1)))) // 1000000
               AS gap_s
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    h AS (SELECT gap_s, CAST(COUNT(*) AS BIGINT) AS c
          FROM g WHERE gap_s IS NOT NULL GROUP BY gap_s),
    cum AS (
      SELECT gap_s, c,
             SUM(c) OVER (ORDER BY gap_s ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER () AS n
      FROM h
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN cum_c >= (50 * n + 99) // 100
                         THEN gap_s END) AS BIGINT) AS p50_gap_s,
           CAST(MIN(CASE WHEN cum_c >= (90 * n + 99) // 100
                         THEN gap_s END) AS BIGINT) AS p90_gap_s,
           CAST(MIN(CASE WHEN cum_c >= (99 * n + 99) // 100
                         THEN gap_s END) AS BIGINT) AS p99_gap_s,
           CAST(SUM(CASE WHEN gap_s > 1800 THEN c ELSE 0 END) * 1000000
                // MIN(n) AS BIGINT) AS over_30m_ppm
    FROM cum
    """,
)
def q_session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event GAP distribution across all users — the data-driven
    basis for the sessionization timeout: exact p50/p90/p99 gap in whole
    seconds plus the share of gaps beyond the 30-minute cut
    q_sessionize ships (if over_30m_ppm is large, the timeout is
    splitting real sessions). Percentiles are order statistics read off
    the GAP HISTOGRAM's cumulative counts (value at rank
    ceil(p*n/100) = (p*n+99) div 100 — integer arithmetic, never
    float-ceil), so the doc-scale work is one user-keyed lag window and
    everything after runs on distinct gap values. Gaps use exact
    microsecond integer arithmetic (epoch_us DIV — DuckDB's epoch()
    returns fractional doubles, a known trap).

    Scale posture: the lag window partitions by user_id
    (high-cardinality, the q_sessionize shuffle); the histogram
    compresses gaps to distinct second values before the one global
    cumulative window (type-scale — gap seconds are bounded by the
    observation span). No reference counterpart (SURVEY.md §2-A)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        "ts", F.coalesce("event_id", F.lit(-1))
    )
    g = (
        ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (
                (
                    F.unix_micros("ts")
                    - F.unix_micros(F.lag("ts").over(w))
                )
            ).alias("gap_us")
        )
        .filter(F.col("gap_us").isNotNull())
        .select(F.expr("gap_us DIV 1000000").alias("gap_s"))
    )
    h = g.groupBy("gap_s").agg(F.count("*").cast("bigint").alias("c"))
    w_cum = Window.orderBy("gap_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("gap_s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = h.select(
        "gap_s",
        "c",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )

    def _at(p):
        return F.min(
            F.when(
                F.col("cum_c") >= F.expr(f"({p} * n + 99) DIV 100"),
                F.col("gap_s"),
            )
        ).cast("bigint")

    return cum.agg(
        F.min("n").cast("bigint").alias("n_gaps"),
        _at(50).alias("p50_gap_s"),
        _at(90).alias("p90_gap_s"),
        _at(99).alias("p99_gap_s"),
        F.expr(
            "CAST(SUM(CASE WHEN gap_s > 1800 THEN c ELSE 0 END) * 1000000 "
            "DIV MIN(n) AS BIGINT)"
        ).alias("over_30m_ppm"),
    )
