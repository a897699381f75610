"""Physical-plan assertions: the scale-critical plan shapes must hold
(pushdown, pruning, broadcast, top-k, bucketed shuffle-free join).
These are the properties that decide whether a query survives 100x data."""

from __future__ import annotations

import contextlib
import io
import re


from pot_spark import registry

registry.load_all_query_modules()


def _plan(spark, sf_dir, name) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_project_prunes_columns(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_scan_project")
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_quantity" not in read  # untouched columns never reach the scan


def test_filter_pushdown(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_filter_pred")
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "GreaterThan(l_quantity,30.0)" in pushed
    assert "EqualTo(l_returnflag,R)" in pushed


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_multiway_join")
    assert "BroadcastHashJoin" in p
    # the fact table must never be the build side of a shuffle join
    assert "CartesianProduct" not in p


def test_top_k_never_global_sorts(spark, sf_dir):
    for name in ("q_sort_limit", "q_sim_topk"):
        p = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in p, name


def test_groupby_has_partial_aggregation(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_groupby_agg")
    assert p.count("HashAggregate") >= 2  # partial (map-side) + final


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    # materialize the bucketed tables, then check the join subtree
    registry.QUERIES["q_bucket_join"](spark, sf_dir).collect()
    p = _plan(spark, sf_dir, "q_bucket_join")
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2  # both sides read bucket layout
    # in the physical tree, everything printed below the SMJ is its input
    # subtree: the bucket layout must replace the pre-join shuffle there
    tree = p.split("== Initial Plan ==")[0]
    join_inputs = tree.split("SortMergeJoin")[1]
    assert "Exchange" not in join_inputs
    # the one remaining shuffle is the post-join aggregation, not the join
    agg_side = tree.split("SortMergeJoin")[0]
    assert agg_side.count("Exchange") <= 1


def test_asof_join_single_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_asof_join")
    # union + one window pass: exactly one exchange node in the plan
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Window" in p


def test_partitioned_sink_prunes_partitions(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_sink_partitioned")
    pf = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "o_orderpriority" in pf  # filter resolved by the file index
    # the pruned partition column never appears in the parquet ReadSchema
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "o_orderpriority" not in read


def test_ivf_broadcasts_centroids_and_prunes(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_sim_ivf")
    assert "BroadcastHashJoin" in p  # cell list + probe are broadcast
    assert "TakeOrderedAndProject" in p  # re-rank is a top-k, not a sort


def test_near_dup_verify_is_broadcast_safe(spark, sf_dir):
    # the candidate-pair relation is unbounded on a pathological corpus,
    # so the verify stage must never FORCE a broadcast of it: any
    # BroadcastHashJoin in the plan has to come from Catalyst/AQE size
    # estimation (which degrades to a shuffle join when candidates grow),
    # never from a broadcast hint
    df = registry.QUERIES["q_dedup_near"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    p = _plan(spark, sf_dir, "q_dedup_near")
    # both shingle sides are pre-restricted to candidate docs via semi
    # joins, and the band-pair set is checkpointed so its self-join runs
    # once (a checkpoint scan, not a leaked cached relation)
    assert len(re.findall(r"LeftSemi", p)) >= 2
    assert "ExistingRDD" in p or "LogicalRDD" in p


def test_edit_distance_has_no_broadcast_hint(spark, sf_dir):
    df = registry.QUERIES["q_edit_distance"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_salt_join_uses_shuffled_hash_not_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_skew_salt_join")
    # the salting demo must exercise the shuffled-hash path it exists for
    assert re.findall(r"\(\d+\) ShuffledHashJoin", p)
    assert not re.findall(r"\(\d+\) BroadcastHashJoin", p)


def test_repetition_ratio_is_single_scan_no_exchange(spark, sf_dir):
    # pure per-row higher-order exprs: the plan must contain no shuffle at all
    # (no WholeStageCodegen assertion: higher-order lambdas run as plain
    # Project nodes outside codegen — the scale property is the absence
    # of any Exchange and exactly one scan)
    p = _plan(spark, sf_dir, "q_repetition_ratio")
    assert "Exchange" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_quality_bounds_broadcast_onto_scan(spark, sf_dir):
    # the tiny stats/bounds aggregates must come back as broadcasts, never
    # a shuffle of the fact side
    for name in ("q_len_trim_filter", "q_anomaly_zscore"):
        p = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name


def test_knn_graph_blocks_not_cartesian(spark, sf_dir):
    # pairs must form through the label equi-join; never a cross product
    p = _plan(spark, sf_dir, "q_knn_graph")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_scd_intervals_single_shuffle(spark, sf_dir):
    # both window passes share the user_id partitioning: exactly one
    # user_id exchange (plus the AQE-inserted final coalesce reads)
    p = _plan(spark, sf_dir, "q_scd_intervals")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p


def test_ohlc_partial_aggregates(spark, sf_dir):
    # min_by/max_by must partial-aggregate map-side before the shuffle
    p = _plan(spark, sf_dir, "q_ohlc_bars")
    aggs = len(re.findall(r"\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", p))
    assert aggs >= 2  # partial + final
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning" in p


def test_dpp_join_prunes_partitions_dynamically(spark, sf_dir):
    # the partition filter must be the runtime dynamicpruning subquery
    # fed by the dim broadcast — not a static literal, not a full scan
    p = _plan(spark, sf_dir, "q_dpp_join")
    assert "dynamicpruningexpression" in p
    assert "BroadcastHashJoin" in p


def test_unpivot_is_expand_not_join(spark, sf_dir):
    # melt must plan as one Expand over the aggregated input; a UNION-of-
    # selects shape (N scans) or any join would not survive at scale
    p = _plan(spark, sf_dir, "q_unpivot")
    assert re.findall(r"\(\d+\) Expand", p)
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_contamination_broadcasts_probe_grams(spark, sf_dir):
    # the benchmark gram inventory is tiny vs the corpus: it must come
    # back as a broadcast, never a sort-merge shuffle of the corpus side
    p = _plan(spark, sf_dir, "q_contamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_median_mad_broadcasts_group_medians(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_median_mad")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_funnel_is_single_shuffle_fold(spark, sf_dir):
    # the whole funnel must be one user_id exchange (collect + fold),
    # never the 3-aggregation cascade the oracle uses
    p = _plan(spark, sf_dir, "q_funnel")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    # total order = sampled range partitioning + per-partition sort;
    # a single-partition global sort would not survive any real scale
    p = _plan(spark, sf_dir, "q_global_sort")
    assert "rangepartitioning" in p
    assert re.findall(r"\(\d+\) Sort", p)
    assert "TakeOrderedAndProject" not in p


def test_higher_order_lambdas_never_explode(spark, sf_dir):
    # filter/exists/forall run on the array in place: a 64-wide vector
    # must not become 64 shuffle rows
    p = _plan(spark, sf_dir, "q_higher_order")
    assert "Generate" not in p  # no explode
    assert p.count("HashAggregate") >= 2  # partial + final agg only
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_ts_interp_single_user_shuffle_serves_both_windows(spark, sf_dir):
    # the bucketed-partials aggregation keys the exchange by user_id;
    # the grid join and BOTH framed windows must reuse that partitioning
    # rather than adding their own exchanges
    p = _plan(spark, sf_dir, "q_ts_interp")
    tree = p.split("== Initial Plan ==")[0]
    assert "Window" in tree
    # exactly the two aggregation shuffles (bounds, bucket partials);
    # BroadcastExchange for the small side is allowed, hash exchanges
    # beyond 2 mean the window or join re-shuffled
    assert tree.count("- Exchange ") == 2, tree


def test_sql_recursive_aggregates_fact_before_spine_join(spark, sf_dir):
    # the 84-row spine must join an already-aggregated orders side: a
    # spine-first join against raw orders would broadcast/shuffle the
    # fact table to preserve the left-outer spine
    p = _plan(spark, sf_dir, "q_sql_recursive")
    assert "UnionLoop" in p  # recursion executes as Spark 4's UnionLoop
    tree = p.split("== Initial Plan ==")[0]
    join_input = tree.split("Join")[1] if "Join" in tree else tree
    # the scan feeding the join sits below a HashAggregate
    scan_pos = join_input.find("Scan parquet")
    agg_pos = join_input.find("HashAggregate")
    assert agg_pos != -1 and scan_pos != -1 and agg_pos < scan_pos


def test_variant_parses_json_once_in_scan_project(spark, sf_dir):
    # parse_json runs once per row in the scan-side project; only props
    # reaches the scan
    p = _plan(spark, sf_dir, "q_variant_funcs")
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "props" in read and "event_id" not in read and "value" not in read
    assert "parseJson" in p


def test_runtime_bloom_filter_prunes_shuffle_join_fact_side(spark, sf_dir):
    # Spark's runtime row-group filter: a selective dim filter builds a
    # bloom filter that is pushed into the fact scan of a shuffle join
    # (the non-broadcast sibling of dynamic partition pruning). Local
    # fixtures sit under the 10GB application-side default, so the
    # threshold is dropped to 0 here; at 100 TB the defaults fire on
    # their own.
    from pot_spark.tables import load
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "might_contain" in p  # filter applied on the fact side
        assert "bloom_filter_agg" in p  # built from the filtered dim
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_temporal_join_is_merge_asof_not_range_join(spark, sf_dir):
    # the temporal join must plan as union + one window — never a range
    # (theta) join of intervals x probes
    p = _plan(spark, sf_dir, "q_temporal_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert re.findall(r"\(\d+\) Window", p)
    assert "Union" in p


def test_zorder_key_stays_jvm_side(spark, sf_dir):
    # the Morton interleave is pure shift/and arithmetic: no Python
    # evaluation anywhere; the 1-row maxima come back as a broadcast and
    # the only exchanges are the maxima aggregate + the zblock rollup
    p = _plan(spark, sf_dir, "q_zorder_key")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastExchange" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_ts_interp_never_joins_the_grid(spark, sf_dir):
    # gap rows are exploded from bracketing pairs: exactly one window
    # (the lead), a Generate for the explode, and NO join anywhere
    p = _plan(spark, sf_dir, "q_ts_interp")
    assert "Join" not in p
    assert "Generate" in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1


def test_ts_gap_fill_never_joins_the_grid(spark, sf_dir):
    # r13 rewrite: the LOCF window runs over OBSERVED buckets only (one
    # Window with the carry + lead), and each observation's [bucket, next)
    # gap slots are GENERATED map-side (a Generate) already carrying their
    # filled value — the 63:1 grid never hits a join or a grid-sized sort
    # (46.6 s -> 1.75 s at sf1, SCALE.md round-13)
    p = _plan(spark, sf_dir, "q_ts_gap_fill")
    assert "Join" not in p
    assert "Generate" in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1


def test_ts_gap_fill_matches_naive_grid(spark):
    # forced-shape equality: the interval-generated plan must reproduce
    # the naive formulation (full grid, left join, LOCF window over the
    # grid) exactly — including observed-but-NULL buckets (is_gap=1, carry
    # crosses them) and single-observation users (grid of one)
    import datetime as dt

    from pyspark.sql import Window, functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: gaps, a NULL-valued bucket mid-stream, leading NULL
        (1, ts(0), None),
        (1, ts(5), 2.0),  # same bucket as ts(0) -> max survives the NULL
        (1, ts(40), None),  # observed bucket, all-NULL -> is_gap=1
        (1, ts(90), 7.0),
        # user 2: single observation -> one-slot grid
        (2, ts(15), 4.0),
        # user 3: all NULLs everywhere -> filled_value stays NULL
        (3, ts(0), None),
        (3, ts(30), None),
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")

    bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 600) * 600)
    b = ev.groupBy("user_id", bucket.alias("bucket")).agg(
        F.max("value").alias("bucket_max")
    )
    grid = (
        b.groupBy("user_id")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 10 minutes"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        grid.join(b, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.col("bucket_max").isNull().cast("int").alias("is_gap"),
            F.last("bucket_max", ignorenulls=True).over(w).alias("filled_value"),
        )
        .orderBy("user_id", "bucket")
        .collect()
    )

    import pot_spark.queries.timeseries as tsq

    orig_load = tsq.load
    tsq.load = lambda _spark, _sf, _name: ev
    try:
        got = (
            registry.QUERIES["q_ts_gap_fill"](spark, "unused")
            .orderBy("user_id", "bucket")
            .collect()
        )
    finally:
        tsq.load = orig_load
    assert [tuple(r) for r in got] == [tuple(r) for r in naive]


def test_tokenizer_vocab_preprunes_before_global_window(spark, sf_dir):
    # the unpartitioned ranking window must consume per-partition top-100
    # candidates, never the full vocabulary (distinct-token count grows
    # heap-style with the corpus): a pid-partitioned local-rank window +
    # filter feeds the single global window
    p = _plan(spark, sf_dir, "q_tokenizer_vocab")
    assert len(re.findall(r"\(\d+\) Window", p)) >= 2
    assert "local_rank" in p
    assert "hashpartitioning(pid" in p
    # Spark pushes the rank filters down as WindowGroupLimit top-k
    # pruning, so the full vocab is cut BEFORE both window shuffles
    assert len(re.findall(r"WindowGroupLimit", p)) >= 2
    # exactly one single-partition exchange feeds a Sort/Window pair (the
    # candidate ranking); the other is the 1-row corpus-total aggregate
    assert len(re.findall(r"Arguments: SinglePartition", p)) == 2


def test_watermark_late_has_no_full_table_window(spark, sf_dir):
    # the running arrival max is a three-level prefix max: shard- and
    # supershard-partitioned windows over the events table, with the only
    # SinglePartition exchange feeding the window over supershard totals
    # (O(n/4096^2) rows) — never the full fact table
    p = _plan(spark, sf_dir, "s_watermark_late")
    assert len(re.findall(r"\(\d+\) Window", p)) >= 3
    assert "hashpartitioning(shard" in p
    assert "hashpartitioning(sup" in p
    assert len(re.findall(r"Arguments: SinglePartition", p)) == 1


def test_seq_pack_shard_offsets_are_two_level(spark, sf_dir):
    # the shard-offset prefix sum recurses: in-supershard prefix is a
    # partitioned window; the lone SinglePartition window runs over
    # supershard totals (O(n_docs/1024^2) rows)
    p = _plan(spark, sf_dir, "q_seq_pack")
    assert len(re.findall(r"\(\d+\) Window", p)) >= 3
    assert "hashpartitioning(sup" in p
    assert len(re.findall(r"Arguments: SinglePartition", p)) == 1


def test_interval_union_windows_share_one_user_shuffle(spark, sf_dir):
    # the island flag and the island-id running sum sort identically, so
    # one hashpartitioning(user_id) exchange feeds both windows and the
    # rollups; nothing ever funnels to a single partition
    p = _plan(spark, sf_dir, "q_interval_union")
    assert "SinglePartition" not in p
    assert len(re.findall(r"hashpartitioning\(user_id", p)) >= 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2  # windows + final agg


def test_merge_upsert_is_one_key_join_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_merge_upsert")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p


def test_scan_side_samplers_have_zero_exchanges(spark, sf_dir):
    # weighted sampling and chunking are pure scan-side maps: any
    # Exchange here would mean a 100 TB corpus shuffles for nothing
    for name in ("q_weighted_sample", "q_doc_chunk"):
        p = _plan(spark, sf_dir, name)
        assert "Exchange" not in p, name


def test_bpe_pair_counts_heap_topk_and_partial_agg(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_bpe_pair_counts")
    assert "TakeOrderedAndProject" in p
    assert p.count("HashAggregate") >= 4  # partial+final for both rollups


def test_pq_and_kmeans_broadcast_codebooks(spark, sf_dir):
    # codebooks/centroids are tiny relations: they must broadcast, and
    # the component table must never cartesian-join anything
    for name in ("q_ann_pq", "q_kmeans"):
        p = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name


def test_triangle_count_joins_on_vertices_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_triangle_count")
    assert "CartesianProduct" not in p


def test_prefix_filter_and_bloom_no_cartesian(spark, sf_dir):
    for name in ("q_prefix_filter_join", "q_bloom_decontaminate"):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name


def test_containment_prefix_branch_is_restricted(spark, sf_dir):
    """The prefix-lemma branch (what auto selects under a Zipf head):
    candidates form through a rarest-first prefix of the contained side
    (row_number window partitioned by doc_id — never a global sort),
    the verify sides are candidate-restricted via left-semi joins, and
    nothing cross-joins."""
    from pot_spark.queries.llm_dedup import q_containment_dedup

    # checkpoint=False keeps candidate generation in ONE lazy plan so
    # the prefix machinery is visible to explain (the production default
    # materializes it behind a checkpoint barrier); strategy="prefix"
    # pins the Zipf-head branch regardless of what the fixture's df
    # distribution would auto-select
    df = q_containment_dedup(spark, sf_dir, checkpoint=False, strategy="prefix")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "row_number" in p  # the prefix rank window survives into the plan
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p  # verify inputs restricted to candidate docs
    # the prefix window is per-doc, not a global single-partition sort
    assert "SinglePartition" not in p


def test_ngram_jaccard_capped_restricts_index(spark, sf_dir):
    """The pinned df_cap production recipe (SCALE.md): the capped
    variant's index is left-semi-restricted to the rare tail BEFORE the
    pair join, and capped survivors are a subset of the exact result
    (capped intersections only underestimate the Jaccard)."""
    from pot_spark.queries.llm_dedup import q_ngram_jaccard

    capped = q_ngram_jaccard(spark, sf_dir, df_cap=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        capped.explain("formatted")
    p = buf.getvalue()
    assert "LeftSemi" in p  # df-cap restriction reaches the physical plan
    assert "CartesianProduct" not in p
    exact_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in registry.QUERIES["q_ngram_jaccard"](spark, sf_dir).collect()
    }
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert capped_pairs <= exact_pairs


def test_containment_strategy_selector(spark, sf_dir, monkeypatch):
    """The adaptive choice: the bounded fixture (no Zipf head) selects
    the direct map-side-combine join; forcing the budget to zero makes
    the same data select the prefix-lemma plan. Both branches are exact
    — verified by identical result hashes."""
    from pot_spark.queries import llm_dedup

    direct = llm_dedup.q_containment_dedup(
        spark, sf_dir, checkpoint=False, strategy="auto"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        direct.explain("formatted")
    assert "row_number" not in buf.getvalue()  # auto picked direct here

    monkeypatch.setattr(llm_dedup, "_CONTAINMENT_DIRECT_BUDGET", 0)
    prefixed = llm_dedup.q_containment_dedup(
        spark, sf_dir, checkpoint=False, strategy="auto"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        prefixed.explain("formatted")
    assert "row_number" in buf.getvalue()  # zero budget forces prefix

    rows_d = {tuple(r) for r in direct.collect()}
    rows_p = {tuple(r) for r in prefixed.collect()}
    assert rows_d == rows_p and rows_d  # exact either way


def test_prefix_filter_join_strategies_agree(spark, sf_dir):
    """q_prefix_filter_join shares the adaptive selector: both branches
    are exact, so forcing each must yield identical results; the prefix
    branch's rank window survives into its plan."""
    from pot_spark.queries.llm_dedup import q_prefix_filter_join

    direct = q_prefix_filter_join(spark, sf_dir, checkpoint=False, strategy="direct")
    prefixed = q_prefix_filter_join(
        spark, sf_dir, checkpoint=False, strategy="prefix"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        prefixed.explain("formatted")
    assert "row_number" in buf.getvalue()
    rows_d = {tuple(r) for r in direct.collect()}
    rows_p = {tuple(r) for r in prefixed.collect()}
    assert rows_d == rows_p and rows_d


def test_ngram_jaccard_strategy_selector(spark, sf_dir, monkeypatch):
    """Round-6 closure of the family's last Σ df² default: q_ngram_jaccard
    shares the adaptive df probe. The bounded fixture selects direct
    (no rank window); zero budget forces the ppjoin prefix branch with
    the candidate-restricted verify; both are exact."""
    from pot_spark.queries import llm_dedup

    direct = llm_dedup.q_ngram_jaccard(
        spark, sf_dir, checkpoint=False, strategy="auto"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        direct.explain("formatted")
    assert "row_number" not in buf.getvalue()  # auto picked direct here

    monkeypatch.setattr(llm_dedup, "_CONTAINMENT_DIRECT_BUDGET", 0)
    prefixed = llm_dedup.q_ngram_jaccard(
        spark, sf_dir, checkpoint=False, strategy="auto"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        prefixed.explain("formatted")
    p = buf.getvalue()
    assert "row_number" in p  # zero budget forces prefix
    assert "LeftSemi" in p  # verify inputs restricted to candidate docs
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p  # per-doc rank window, no global sort

    rows_d = {tuple(r) for r in direct.collect()}
    rows_p = {tuple(r) for r in prefixed.collect()}
    assert rows_d == rows_p and rows_d  # exact either way


def test_ngram_jaccard_capped_strategies_agree(spark, sf_dir):
    """Under df_cap the prefix lemma must hold relative to the CAPPED
    index (i_capped >= t*na >= t*na_capped): forcing each branch on the
    same capped index yields identical (capped-semantics) results."""
    from pot_spark.queries.llm_dedup import q_ngram_jaccard

    d = q_ngram_jaccard(spark, sf_dir, df_cap=8, checkpoint=False,
                        strategy="direct")
    p = q_ngram_jaccard(spark, sf_dir, df_cap=8, checkpoint=False,
                        strategy="prefix")
    rows_d = {tuple(r) for r in d.collect()}
    rows_p = {tuple(r) for r in p.collect()}
    assert rows_d == rows_p and rows_d


def test_unknown_strategy_raises(spark, sf_dir):
    """A typo'd strategy must error, never silently fall into a branch."""
    import pytest

    from pot_spark.queries.llm_dedup import (
        q_containment_dedup,
        q_ngram_jaccard,
        q_prefix_filter_join,
    )

    for fn in (q_containment_dedup, q_prefix_filter_join, q_ngram_jaccard):
        with pytest.raises(ValueError, match="strategy"):
            fn(spark, sf_dir, checkpoint=False, strategy="Direct")


def test_prefix_lengths_use_exact_integer_ceil():
    """Regression for the float-ceil overshoot: ceil(t*n) computed as
    ceil(0.8*5) gives 5 (0.8*5 -> 4.0000000000000002), silently
    shortening the prefix below the lemma's bound. The integer forms
    must equal the exact rational ceiling for every n."""
    import math
    from fractions import Fraction

    for n in range(1, 10_000):
        assert (4 * n + 4) // 5 == math.ceil(Fraction(4, 5) * n)  # t=0.8
        assert (7 * n + 9) // 10 == math.ceil(Fraction(7, 10) * n)  # t=0.7
        assert (3 * n + 9) // 10 == math.ceil(Fraction(3, 10) * n)  # t=0.3


def test_bloom_words_are_broadcast(spark, sf_dir):
    # the filter table (32 words) must broadcast into the probe stream
    p = _plan(spark, sf_dir, "q_bloom_decontaminate")
    assert "BroadcastHashJoin" in p


def test_compaction_and_ltv_windows_stay_partitioned(spark, sf_dir):
    for name in ("q_compaction_plan", "q_cohort_ltv", "q_twap",
                 "q_interval_union", "q_event_transitions"):
        p = _plan(spark, sf_dir, name)
        assert "SinglePartition" not in p, name


def test_tpch_q8_broadcasts_all_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_sql_q8")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 5  # part/supp/cust/nation x2/region


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_sql_q4")
    assert "LeftSemi" in p  # correlated EXISTS -> one semi join
    assert "CartesianProduct" not in p
    # the inner-only predicate reaches the lineitem scan
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(l_returnflag,R)" in l for l in pushed)


def test_tpch_q19_or_of_conjunctions_keeps_part_broadcast(spark, sf_dir):
    """The mixed part/lineitem disjunction must not defeat the join
    strategy: part stays the broadcast build side and its CNF residue
    (the brand/type/size disjunction) is pushed to the part scan."""
    p = _plan(spark, sf_dir, "q_sql_q19")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # part-side pre-filter survives below the join (CNF extraction):
    # the Or shows up in the part scan's data filters
    assert "Brand#12" in p and "Brand#34" in p


def test_tpch_q21_decorrelates_both_subqueries(spark, sf_dir):
    """Q21's correlated EXISTS and NOT EXISTS must plan as one semi and
    one anti hash join on l_orderkey (with the l_suppkey <> residual in
    the join condition), never a per-outer-row lineitem re-scan."""
    p = _plan(spark, sf_dir, "q_sql_q21")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_gdpr_erase_zero_fact_shuffle_joins(spark, sf_dir):
    # subject/key lists broadcast; no SortMergeJoin of a fact table
    p = _plan(spark, sf_dir, "q_gdpr_erase")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_window_median_stays_partitioned_by_user(spark, sf_dir):
    # the rolling-median window must shard by user_id — a global sort of
    # the event stream would be the 100x scale-killer
    p = _plan(spark, sf_dir, "q_window_median")
    # partition spec present -> no single-partition sort
    assert re.search(r"windowspecdefinition\(user_id", p)


def test_boilerplate_ngrams_no_cartesian_and_partial_agg(spark, sf_dir):
    # gram df rollup must partial-aggregate map-side; the occurrence ->
    # boilerplate-set back-join must never be a cartesian product
    p = _plan(spark, sf_dir, "q_boilerplate_ngrams")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_winsorize_clamp_branch_never_shuffles_raw_rows(spark, sf_dir):
    # the BOUNDS branch sorts only the per-type value HISTOGRAM (an
    # aggregate feeds the window — no raw-row rank); cum_c and the
    # per-type total share ONE (partition, order) spec so the planner
    # collapses them into a single WindowExec over a single sort (the
    # r10 drift fix — a second order-free spec planned a second
    # WindowExec re-buffering every histogram row); the clamp branch
    # must be scan -> broadcast join -> partial agg, with nothing but
    # per-group partials crossing the wire
    p = _plan(spark, sf_dir, "q_winsorize")
    tree = p.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "row_number" not in tree
    assert len(re.findall(r"\(\d+\) Sort\b", tree)) == 1
    assert len(re.findall(r"\(\d+\) Window\b", tree)) == 1
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", tree)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", tree)]
    assert agg_ids and min(agg_ids) < min(win_ids)


def test_window_ewma_single_window_no_joins(spark, sf_dir):
    # seven lag taps share one window spec: one user-partitioned sort,
    # no join anywhere in the plan
    p = _plan(spark, sf_dir, "q_window_ewma")
    assert re.search(r"windowspecdefinition\(user_id", p)
    assert "Join" not in p


def test_corpus_drift_totals_broadcast_onto_lang_rollup(spark, sf_dir):
    # the 1-row totals side must broadcast; the scan happens once (both
    # slice counts from the same conditional aggregation)
    p = _plan(spark, sf_dir, "q_corpus_drift")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hard_negatives_broadcasts_anchor_batch(spark, sf_dir):
    # the anchor batch must broadcast into one corpus scan (nested-loop
    # on the label-inequality predicate), never a cartesian of the corpus
    # with itself; top-2 is a window partitioned by anchor id
    p = _plan(spark, sf_dir, "q_hard_negatives")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert re.search(r"windowspecdefinition\(a_id", p)


def test_ntile_dense_never_globally_windows_the_table(spark, sf_dir):
    # the rank that touches every customer row must be shard-partitioned
    # (value-band + broadcast base offsets); the only unpartitioned
    # windows sort the O(64) shard-count and O(#segments) relations, and
    # no global ntile survives in the plan
    p = _plan(spark, sf_dir, "q_window_ntile_dense")
    assert re.search(r"row_number\(\) windowspecdefinition\(shard", p)
    assert "ntile" not in p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 3


def test_sessionize_single_user_shuffle(spark, sf_dir):
    # lag flag, running-sum session id, and the per-session rollup all
    # share the user_id partitioning: exactly one exchange
    p = _plan(spark, sf_dir, "q_sessionize")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p
    assert "SinglePartition" not in p


def test_attribution_is_merge_asof_single_shuffle(spark, sf_dir):
    # the click/purchase union feeds ONE running last-non-null window;
    # no per-purchase range join, no second exchange
    p = _plan(spark, sf_dir, "q_attribution")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p
    assert "Union" in p
    assert "CartesianProduct" not in p


def test_incremental_dedup_anti_join_on_preaggregated_digests(spark, sf_dir):
    # the increment pre-aggregates per digest BEFORE the anti-join, so
    # the join inputs are digest-distinct; the anti-join itself is
    # hash-based (broadcast under AQE at this SF), never a sort of texts
    p = _plan(spark, sf_dir, "q_incremental_dedup")
    assert "LeftAnti" in p
    assert len(re.findall(r"\(\d+\) (?:Hash|ObjectHash)Aggregate", p)) >= 4
    assert "CartesianProduct" not in p


def test_rank_fusion_topk_is_window_group_limit(spark, sf_dir):
    # the fused_rank <= 10 filter must push into a WindowGroupLimit
    # (per-partition 10-row heap) instead of ranking the full corpus,
    # and all three window passes share the lang exchange
    p = _plan(spark, sf_dir, "q_rank_fusion")
    assert "WindowGroupLimit" in p
    assert len(re.findall(r"hashpartitioning\(lang", p)) >= 1
    assert "SinglePartition" not in p


def test_lsh_tuning_single_signature_pass(spark, sf_dir):
    # all 15 band keys across the 4 configs emit from ONE explode over
    # ONE signature aggregation — a per-config union would recompute
    # the signature groupBy 4x
    p = _plan(spark, sf_dir, "q_lsh_tuning")
    assert "Union" not in p
    assert len(re.findall(r"\(\d+\) Generate\b", p)) >= 1
    # signature build: its doc_id exchange appears exactly once
    assert len(re.findall(r"hashpartitioning\(doc_id", p)) == 1


def test_dedup_audit_counts_not_cartesian(spark, sf_dir):
    # ground truth forms through the shingle inverted index; the only
    # row-multiplying joins are keyed — the final stat combine is
    # broadcast 1-row aggregates
    p = _plan(spark, sf_dir, "q_dedup_audit")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row stat combine


def test_feature_hash_two_level_rollup(spark, sf_dir):
    # (doc_id, bucket) counts partial-aggregate map-side before the
    # doc_id rollup; nothing funnels to a single partition
    p = _plan(spark, sf_dir, "q_feature_hash")
    assert len(re.findall(r"\(\d+\) (?:Hash|ObjectHash|Sort)Aggregate", p)) >= 4
    assert "SinglePartition" not in p


def test_embedding_audit_single_label_rollup(spark, sf_dir):
    # scan-side norm/NaN map work + ONE label-keyed exchange
    p = _plan(spark, sf_dir, "q_embedding_audit")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(label" in p


def test_dedup_rate_shuffles_digests_only(spark, sf_dir):
    # text reaches md5 in the scan project and never rides a shuffle;
    # the left join is digest-keyed, the final rollup source-keyed
    p = _plan(spark, sf_dir, "q_dedup_rate_by_source")
    assert "CartesianProduct" not in p
    assert "hashpartitioning(digest" in p
    assert "hashpartitioning(source" in p


def test_quality_gate_report_is_one_scan_rollup(spark, sf_dir):
    # all three gates are scan-side expressions: exactly one exchange
    # (the source rollup) in the whole plan
    p = _plan(spark, sf_dir, "q_quality_gate_report")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(source" in p


def test_tpch_partsupp_derivation_is_narrow_over_part(spark, sf_dir):
    """The derived partsupp CTE must be a narrow map over the part scan:
    its only joins are the benign 1-row (supplier count) and 4-row
    (sequence) broadcast cross joins — no Exchange between the part
    scan and the partsupp output, so at 100 TB partsupp is exactly as
    partitioned as part itself."""
    p = _plan(spark, sf_dir, "q_sql_q9")
    assert "CartesianProduct" not in p
    # one hash shuffle total: the (nation, year) rollup — every other
    # join broadcasts and the partsupp derivation adds none
    assert len(re.findall(r"hashpartitioning\(", p)) == 1
    assert "hashpartitioning(n_name" in p
    # the part-family filter reaches the part scan
    assert "Contains(p_name" in p or "p_name" in "".join(
        l for l in p.splitlines() if "PushedFilters" in l
    )


def test_tpch_q2_min_cost_subquery_decorrelates(spark, sf_dir):
    """Q2's correlated scalar MIN over partsupp x supplier x nation x
    region must decorrelate to a grouped-min joined back on
    ps_partkey, never a per-part re-scan of the subquery tree."""
    p = _plan(spark, sf_dir, "q_sql_q2")
    assert "CartesianProduct" not in p
    assert "min(ps_supplycost" in p  # the decorrelated grouped min
    assert p.count("BroadcastHashJoin") >= 4  # supp/nation/region stay broadcast


def test_tpch_q11_total_is_scalar_subquery_not_per_group(spark, sf_dir):
    """The HAVING threshold total must be computed once (scalar subquery
    reuse), with the per-part rollup the only hash shuffle."""
    p = _plan(spark, sf_dir, "q_sql_q11")
    assert "CartesianProduct" not in p
    assert "Subquery" in p  # the uncorrelated total, evaluated once
    assert "hashpartitioning(ps_partkey" in p


def test_tpch_q16_blocklist_is_null_aware_anti_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_sql_q16")
    assert "LeftAnti" in p  # NOT IN -> anti join, not a per-row probe
    assert "CartesianProduct" not in p
    # brand/type/size predicates push to the part scan
    pushed = "".join(l for l in p.splitlines() if "PushedFilters" in l)
    assert "p_size" in pushed and "Brand#13" in pushed


def test_tpch_q20_nested_subqueries_decorrelate(spark, sf_dir):
    """Both IN subqueries must become semi joins and the correlated
    shipped-quantity SUM a grouped aggregate on (l_partkey, l_suppkey)
    joined back — never a per-(part,supplier) lineitem re-scan."""
    p = _plan(spark, sf_dir, "q_sql_q20")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    # the decorrelated inner aggregate groups by the correlation keys
    assert re.search(r"hashpartitioning\(l_partkey[^)]*l_suppkey", p)


def test_winnow_selection_single_scan_per_doc_windows(spark, sf_dir):
    """The winnowing selection pipeline reads the corpus ONCE and both
    its windows (gram count, rolling min) partition by doc_id — no
    global window, no second scan, text pruned to (doc_id, text)."""
    from pot_spark.queries.llm_dedup import _winnow_sel

    df = _winnow_sel(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "hashpartitioning(doc_id" in p
    assert "CartesianProduct" not in p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" in read and "source" not in read


def test_winnow_fingerprint_df_count_is_partial_agg_not_window(spark, sf_dir):
    """fp doc-frequency must be a partial-aggregated groupBy count (a
    Zipf head collapses map-side), never a count-over-window that lands
    a head fp's posting list on one reducer (post-checkpoint plan)."""
    p = _plan(spark, sf_dir, "q_winnow_fingerprint")
    assert "partial_count" in p
    assert "hashpartitioning(fp" in p
    assert "Window" not in p


def test_winnow_pairs_moss_cap_restricts_postings(spark, sf_dir):
    """Pairing must run over the MOSS-capped posting lists: a df filter
    (2 <= nd <= m) feeding a LeftSemi restriction — the candidate volume
    bound that survives a Zipf fingerprint head."""
    from pot_spark.queries.llm_dedup import _MOSS_MAX_DF

    p = _plan(spark, sf_dir, "q_winnow_pairs")
    assert "LeftSemi" in p
    assert f"<= {_MOSS_MAX_DF}" in p
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_cdc_compact_partial_sortaggregate_no_window(spark, sf_dir):
    """Latest-wins must partial-aggregate map-side (SortAggregate with
    partial_max below the exchange — struct buffers aren't
    hash-aggregable) and never plan the oracle's window-sort form, which
    would exchange the full log before sorting it."""
    p = _plan(spark, sf_dir, "q_cdc_compact")
    assert "partial_max" in p
    assert "SortAggregate" in p
    assert "Window" not in p
    first_exchange = p.index(") Exchange")
    assert "partial_max" in p[:first_exchange] or "SortAggregate" in p[:first_exchange]


def test_rolling_dau_bounded_explode_no_unbounded_window(spark, sf_dir):
    """Rolling 7-day distinct users must be the bounded-explode plan:
    partial-aggregated distinct over (day, user), a Generate (the <=7x
    fan-out of deduplicated pairs), and NO window anywhere — a distinct
    range-frame window doesn't exist, and a 7-way self-join would
    re-scan the activity table."""
    p = _plan(spark, sf_dir, "q_rolling_dau")
    assert "Generate" in p  # the bounded explode
    assert "Window" not in p
    assert "partial_count(distinct" in p or "HashAggregate" in p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "user_id" in read and "event_type" not in read  # pruned scan


def test_ann_recall_ground_truth_is_broadcast_probe_scan(spark, sf_dir):
    """The exact side must be ONE corpus scan against broadcast probe
    vectors (sample-bounded ground truth), the IVF side a broadcast
    cell-restriction — never a shuffled corpus x corpus join."""
    p = _plan(spark, sf_dir, "q_ann_recall")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # per-probe top-k cuts run as window group limits, not global sorts
    assert "WindowGroupLimit" in p


def test_mmr_pool_is_distributed_heap_then_bounded_batch(spark, sf_dir):
    """MMR's corpus-facing stage must be a TakeOrderedAndProject (the
    top-C relevance heap); the greedy runs over the bounded C x C matrix
    in one Arrow batch (FlatMapGroupsInPandas), never a corpus-scale
    Python path or an unbounded cartesian."""
    p = _plan(spark, sf_dir, "q_mmr_select")
    assert "TakeOrderedAndProject" in p
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p


def test_semdedup_pairs_join_on_cluster_no_cartesian(spark, sf_dir):
    """SemDeDup's pair stage must be a grouped Arrow matmul keyed on
    (cluster, salt) over PACKED int64 component arrays (r13 opt:
    per-pair codegen + decimal threshold -> one vectorized integer
    matmul per group, 27.6 s -> 2.4 s at true-sf1, rows identical) —
    never a cartesian product and never a per-dimension exploded pair
    join."""
    p = _plan(spark, sf_dir, "q_semdedup")
    assert "CartesianProduct" not in p
    # the pair stage is the grouped Arrow matmul, keyed on (cluster, salt)
    assert "FlatMapGroupsInPandas" in p
    # the k-means centroid broadcasts live in the Lloyd chain, which is
    # materialized by the checkpoint and so no longer visible here; the
    # only remaining joins are k-row aggregate merges


def test_dsir_select_is_takeordered_no_cartesian(spark, sf_dir):
    """DSIR's final cut must plan as a TakeOrderedAndProject (k-row
    heap merge, never a global sort); the only nested-loop join is the
    broadcast of the 1-row totals aggregate."""
    p = _plan(spark, sf_dir, "q_dsir_select")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_gopher_rules_single_rollup_shuffle(spark, sf_dir):
    """Every Gopher rule including the top-bigram mode must evaluate
    scan-side (array expressions, no per-bigram exchange): the plan may
    shuffle only for the k-source rollup, the final k-row sort, and the
    r13 small-scan spread (a RoundRobinPartitioning that exists only
    when the source yields fewer splits than cores — absent at scale,
    where the per-bigram-exchange hazard this test pins would bite)."""
    p = _plan(spark, sf_dir, "q_gopher_rules")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p))
    n_spread = len(re.findall(r"Arguments: RoundRobinPartitioning", p))
    assert n_exchange - n_spread <= 2  # rollup + sort
    assert "CartesianProduct" not in p


def test_exact_substring_shuffles_digests_linearly(spark, sf_dir):
    """The ExactSubstr profile must join each window occurrence to its
    OWN df row (linear, never a pair join): no cartesian product, and
    the window explode happens scan-side (exactly one parquet scan
    feeding both the df rollup and the back-join)."""
    p = _plan(spark, sf_dir, "q_exact_substring")
    assert "CartesianProduct" not in p
    assert "Generate explode" in p or "Generate" in p


def test_dup_spans_windows_share_doc_partitioning(spark, sf_dir):
    """The span merge must run its two window passes and the per-doc
    rollup on ONE doc_id exchange over only the duplicated positions —
    and never materialize a pair join."""
    p = _plan(spark, sf_dir, "q_dup_spans")
    assert "CartesianProduct" not in p
    # two window passes (running-max flag, running-sum span id)
    assert len(re.findall(r"\(\d+\) Window", p)) == 2
    # one doc_id hash exchange feeds both windows + the rollup
    assert len(re.findall(r"hashpartitioning\(doc_id", p)) >= 1


def test_cluster_purity_bounded_rollups_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_cluster_purity")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # centroids stay broadcast


def test_zorder_skipping_no_sort_no_window_jvm_side(spark, sf_dir):
    """The skipping audit prices layouts from KEY-RANGE block ids: no
    global sort, no row_number window, no Python — pure codegen
    arithmetic plus the (layout, block) rollup."""
    p = _plan(spark, sf_dir, "q_zorder_skipping")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 0
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_ndcg_probe_side_broadcasts(spark, sf_dir):
    """The exact scoring is sample-bounded by contract: probe vectors
    broadcast onto one corpus scan (never a shuffle of the corpus
    against itself), top-10 via the per-probe rank heap."""
    p = _plan(spark, sf_dir, "q_ndcg_eval")
    assert "BroadcastNestedLoopJoin" in p  # the declared probe contract
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Window", p)) >= 1


def test_k_anonymity_is_cohort_rollups_only(spark, sf_dir):
    """The ladder must price cohorts, not rows: one row-level rollup,
    then everything aggregates cohort counts — no Window, no join back
    to the row level."""
    p = _plan(spark, sf_dir, "q_k_anonymity")
    assert len(re.findall(r"\(\d+\) Window", p)) == 0
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2


def test_chi2_is_marginal_arithmetic(spark, sf_dir):
    """After the (lang, source) rollup the statistic is marginal-table
    arithmetic on broadcast-sized relations — no sort-merge join, no
    Python."""
    p = _plan(spark, sf_dir, "q_chi2_independence")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_kneser_ney_model_tables_are_type_scale(spark, sf_dir):
    """All KN model tables derive from the one bigram rollup; scoring
    joins are hash joins on types — no cartesian beyond the broadcast
    1-row type total."""
    p = _plan(spark, sf_dir, "q_kneser_ney")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_random_projection_broadcasts_signs(spark, sf_dir):
    """The d_in x d_out sign matrix must broadcast into the component
    stream; projection + norms are partial-agg'd rollups, no Python."""
    p = _plan(spark, sf_dir, "q_random_projection")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_d4_select_windows_survivors_only(spark, sf_dir):
    """D4's prototype ranking must window over SemDeDup survivors on the
    cluster partitioning — never a cartesian (centroid broadcasts live
    in the checkpointed Lloyd chain, not this plan)."""
    p = _plan(spark, sf_dir, "q_d4_select")
    assert "CartesianProduct" not in p
    assert "FlatMapGroupsInPandas" in p
    assert len(re.findall(r"\(\d+\) Window", p)) >= 1


def test_soft_dedup_weight_join_is_linear(spark, sf_dir):
    """Each doc joins exactly its own digest-count row — no pair join,
    no text on the wire (digests only in the join keys)."""
    p = _plan(spark, sf_dir, "q_soft_dedup")
    assert "CartesianProduct" not in p


def test_dedup_audit_truth_input_is_sampled(spark, sf_dir):
    """The Σ df² ground-truth stage must see the deterministic in-op doc
    sample, not the corpus: (a) the sample predicate pushes into the
    parquet scan of the shingle relation the audit builds, and (b) the
    audit's truth count is strictly below the unsampled truth count —
    i.e. the registered default invocation is the SAMPLED plan."""
    import io as _io

    from pyspark.sql import functions as F

    from pot_spark.queries.llm_dedup import (
        _AUDIT_CAP,
        _AUDIT_MOD,
        _shingle_df,
        q_dedup_audit,
    )

    sampled_sh = _shingle_df(spark, sf_dir).filter(
        (F.col("doc_id") % _AUDIT_MOD == 0) & (F.col("doc_id") < _AUDIT_CAP)
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        sampled_sh.explain("formatted")
    pushed = next(
        l for l in buf.getvalue().splitlines() if "PushedFilters" in l
    )
    assert f"LessThan(doc_id,{_AUDIT_CAP})" in pushed

    default_row = q_dedup_audit(spark, sf_dir).collect()[0]
    full_row = q_dedup_audit(
        spark, sf_dir, sample_mod=1, sample_cap=1 << 60
    ).collect()[0]
    assert 0 < default_row["n_truth"] < full_row["n_truth"]
    assert default_row["n_candidates"] < full_row["n_candidates"]


def test_vocab_overlap_join_keyed_on_token(spark, sf_dir):
    """The source-pair vocabulary join must be tok-keyed (bounded by
    source cardinality per token), never a cartesian; sizes broadcast."""
    p = _plan(spark, sf_dir, "q_vocab_overlap")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # distinct (source, tok) streams partial-aggregate before any join
    assert "hashpartitioning(source" in p
    assert "BroadcastHashJoin" in p


def test_vocab_growth_checkpoints_broadcast(spark, sf_dir):
    """The 8-row checkpoint table rides a broadcast nested-loop theta
    join — constant fan-out per row, not a shuffle or cartesian blowup."""
    p = _plan(spark, sf_dir, "q_vocab_growth")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_affix_dup_digest_joins_linear(spark, sf_dir):
    """Affix audit shuffles digests only: both back-joins are keyed on
    the md5 columns and no pair join exists (counts, not candidates)."""
    p = _plan(spark, sf_dir, "q_affix_dup")
    assert "CartesianProduct" not in p
    assert "hashpartitioning(pfx" in p and "hashpartitioning(sfx" in p


def test_centroid_drift_single_explode_no_python(spark, sf_dir):
    """Centroid components come from ONE posexplode pass, aggregated
    JVM-side — no Python evaluation anywhere in the plan."""
    p = _plan(spark, sf_dir, "q_centroid_drift")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert len(re.findall(r"\(\d+\) Generate\b", p)) == 1


def test_dup_inflation_no_joins(spark, sf_dir):
    """Token-inflation is join-free: digest rollup then lang rollup."""
    p = _plan(spark, sf_dir, "q_dup_inflation")
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_semdedup_salted_pair_join_and_one_lloyd_checkpoint(spark, sf_dir):
    """Round-6 heavy tier pins (verdict r6 item 6, shape updated for the
    r13 grouped-matmul pair stage): the SemDeDup pair stage must carry
    the salt key (task spread across _SD_SALT lanes), run as ONE grouped
    Arrow op (FlatMapGroupsInPandas — never a per-pair join or
    cartesian), the Lloyd assignment must come from its checkpoint (Scan
    ExistingRDD), never re-derived from parquet (exactly the embeddings
    scans, no more), and the component explode budget stays fixed (the
    b-side salt replication is the only Generate)."""
    for name in ("q_semdedup", "q_d4_select"):
        p = _plan(spark, sf_dir, name)
        assert "salt" in p, name
        assert "CartesianProduct" not in p, name
        assert "FlatMapGroupsInPandas" in p, name
        assert len(re.findall(r"Scan ExistingRDD", p)) >= 1, name
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2, name
        assert len(re.findall(r"\(\d+\) Generate", p)) <= 3, name


def test_exact_substring_shuffles_are_digest_keyed(spark, sf_dir):
    """ExactSubstr's exchanges carry only digests/keys — the df rollup
    on the window digest h, the source report rollup, and the composite
    dedup key. Text never rides a shuffle and no extra exchange exists."""
    p = _plan(spark, sf_dir, "q_exact_substring")
    ex = re.findall(r"hashpartitioning\(([^,#]+)", p)
    assert len(ex) == 3, ex
    assert "h" in ex and "source" in ex
    assert "text" not in p.split("Exchange", 1)[1][:200]


def test_benford_nothing_corpus_sized_shuffles(spark, sf_dir):
    """Digit extraction is codegen scan-side; only the 9-row digit
    rollup and the 1-row total move."""
    p = _plan(spark, sf_dir, "q_benford")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2


def test_zipf_fit_windows_vocabulary_not_corpus(spark, sf_dir):
    """The rank window runs over the (lang, tok) rollup output — the
    corpus never reaches a Window node."""
    p = _plan(spark, sf_dir, "q_zipf_fit")
    # window input partitioning is lang-keyed, after the freq aggregate
    assert "hashpartitioning(lang" in p
    # lower node id = earlier in execution: the aggregate feeds the window
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert min(agg_ids) < min(win_ids)


def test_cusum_windows_on_compressed_daily_relation(spark, sf_dir):
    """CUSUM windows run on the (event_type, day) rollup, partitioned
    by event_type — never on raw events."""
    p = _plan(spark, sf_dir, "q_cusum_drift")
    assert "hashpartitioning(event_type" in p
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert min(agg_ids) < min(win_ids)


def test_context_fit_broadcasts_window_table(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_context_fit")
    assert "BroadcastNestedLoopJoin" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_ks_test_grid_is_type_scale(spark, sf_dir):
    """KS accumulations run on the (source, length) grid, never raw
    docs: the corpus compresses through aggregates before any window."""
    p = _plan(spark, sf_dir, "q_ks_test")
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert min(agg_ids) < min(win_ids)
    assert "hashpartitioning(source" in p


def test_dedup_cost_plan_never_materializes_pairs(spark, sf_dir):
    """The calculator prices pair volume from 1-row profiles — no join
    of any kind except the final 3-row union."""
    p = _plan(spark, sf_dir, "q_dedup_cost_plan")
    assert "Join" not in p
    assert "Union" in p


def test_shard_balance_single_rollup(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_shard_balance")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_acf_aligns_on_compressed_index(spark, sf_dir):
    """Lag alignment joins the per-type day INDEX of the compressed
    daily relation — the corpus never reaches the self-join."""
    p = _plan(spark, sf_dir, "q_acf")
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert min(agg_ids) < min(win_ids)
    assert "CartesianProduct" not in p


def test_peak_concurrency_sweeps_within_day(spark, sf_dir):
    """Both the cumsum and the argmax windows run on the day
    partitioning — no global window over the delta stream — and the
    boundary deltas PRE-AGGREGATE to (day, t, sum d) before any window,
    so the per-day sort is bounded by distinct timestamps, not events."""
    p = _plan(spark, sf_dir, "q_peak_concurrency")
    assert "hashpartitioning(day" in p
    # cumsum + rank windows (the rank may split into partial/final
    # Window pairs around a WindowGroupLimit — the top-1 never sorts
    # more than each partition's group-limit survivors)
    assert len(re.findall(r"\(\d+\) Window", p)) >= 2
    assert "WindowGroupLimit" in p
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and min(agg_ids) < min(win_ids)


def test_length_bias_windows_over_histogram(spark, sf_dir):
    """The deciles come from _equidepth_tiles: cumulative windows over
    the n_chars HISTOGRAM (an aggregate feeds every window) — the ntile
    doc-scale sort is gone (r7 weak ruling)."""
    p = _plan(spark, sf_dir, "q_length_bias")
    assert "ntile" not in p
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)


def test_gini_windows_over_histogram(spark, sf_dir):
    """The rank-sum is tie-invariant, so the exact Gini runs on the
    per-lang length histogram — no doc-scale row_number (r7 weak
    ruling)."""
    p = _plan(spark, sf_dir, "q_gini")
    assert "row_number" not in p
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)


def test_ccnet_bins_windows_over_histogram(spark, sf_dir):
    """Tertiles come from the (lang, rounded-score) histogram + a
    broadcast bound table — no per-lang doc-scale ntile sort (r7 weak
    ruling), and the bin bounds ride a broadcast."""
    p = _plan(spark, sf_dir, "q_ccnet_bins")
    assert "ntile" not in p
    assert "BroadcastHashJoin" in p


def test_sim_index_assignment_is_map_only(spark, sf_dir):
    """The IVF index build (r10): assignment must be a single codegen
    projection against the literal-embedded quantizer — no join, no
    explode, and exactly ONE exchange (the cell-keyed rollup shared by
    the window and the aggregation); scan pruned to (vec_id, embedding)
    with the validity filters pushed."""
    p = _plan(spark, sf_dir, "s_sim_index")
    tree = p.split("== Initial Plan ==")[0]
    assert "Join" not in tree
    assert "Generate" not in tree  # no posexplode on the assignment path
    assert len(re.findall(r"\(\d+\) Exchange\b", tree)) == 1
    assert "IsNotNull(vec_id)" in p and "IsNotNull(embedding)" in p
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p


def test_threshold_sweep_verifies_once(spark, sf_dir):
    """All 7 thresholds price from ONE checkpointed verify pass: the
    plan reads the checkpointed band pairs (ExistingRDD) and the
    threshold table rides a broadcast — no second banding self-join."""
    p = _plan(spark, sf_dir, "q_dedup_threshold_sweep")
    assert "ExistingRDD" in p
    assert "BroadcastNestedLoopJoin" in p
    assert len(re.findall(r"LeftSemi", p)) >= 2


def test_intra_label_diversity_never_materializes_pairs(spark, sf_dir):
    """The |sum u|^2 identity: no pair join anywhere — the only joins
    are the per-vector norm attach (vec_id-keyed) and the final label
    rollup join."""
    p = _plan(spark, sf_dir, "q_intra_label_diversity")
    assert "CartesianProduct" not in p
    # every join is equi-keyed (norm attach on vec_id, rollup on label)
    assert "BroadcastNestedLoopJoin" not in p


def test_term_drift_top20_never_global_sorts(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_term_drift")
    assert "TakeOrderedAndProject" in p


def test_rank_sum_windows_over_histogram(spark, sf_dir):
    """Midranks come from the global VALUE histogram — an aggregate
    feeds the one cumulative window (q_ks_test grid posture)."""
    p = _plan(spark, sf_dir, "q_rank_sum_test")
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)
    assert "row_number" not in p


def test_changepoint_windows_over_daily_rollup(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_changepoint")
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)
    assert "hashpartitioning(event_type" in p


def test_shingle_size_sweep_prices_never_joins(spark, sf_dir):
    """Pairs are priced from 1-row profiles: no join of any kind — just
    three explode+rollup branches unioned."""
    p = _plan(spark, sf_dir, "q_shingle_size_sweep")
    assert "Join" not in p
    assert "Union" in p


def test_dup_graph_degree_reads_checkpointed_pairs(spark, sf_dir):
    """Both endpoint unions read ONE checkpointed candidate-pair
    materialization (never re-running the banding self-join twice)."""
    p = _plan(spark, sf_dir, "q_dup_graph_degree")
    assert "ExistingRDD" in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_heaps_fit_checkpoint_join_is_broadcast(spark, sf_dir):
    """The 8-row checkpoint table rides a BroadcastNestedLoopJoin
    (theta join on first_doc < k) — constant fan-out, not a pair
    join."""
    p = _plan(spark, sf_dir, "q_heaps_fit")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_vocab_coverage_broadcasts_budgets_not_vocab(spark, sf_dir):
    """The 4-row budget table is the broadcast side of the boundary
    lookup; the vocabulary is never rank-sorted or shipped wholesale —
    the window runs over the frequency histogram (aggregate below)."""
    p = _plan(spark, sf_dir, "q_vocab_coverage")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "row_number" not in p
    agg_ids = [int(i) for i in re.findall(r"\((\d+)\) HashAggregate", p)]
    win_ids = [int(i) for i in re.findall(r"\((\d+)\) Window", p)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)


def test_group_cap_sample_uses_window_group_limit(spark, sf_dir):
    """The rank filter sits directly on the window, so Catalyst inserts
    a WindowGroupLimit: each partition forwards at most 50 rows per
    language — the reducer sorts survivors, never a whole language
    (r8 rewrite of the blocked-pushdown conditional-aggregate form)."""
    p = _plan(spark, sf_dir, "q_group_cap_sample")
    assert "WindowGroupLimit" in p


def test_near_dedup_gate_is_candidate_join_no_window(spark, sf_dir):
    """The r9 admission gate's batch twin: the banding self-join reads
    the CHECKPOINTED signature relation (ExistingRDD — the signature
    aggregation runs once, not three times), candidates form through an
    equi-join on band_key (never a nested-loop/cartesian pair scan),
    the 8-lane signature compare is a codegen filter (no Window, no
    UDF), and the verdict join rides a broadcast."""
    p = _plan(spark, sf_dir, "s_dedup_near_gate")
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_banded_strategy_exact_verify_subset(spark, sf_dir):
    """Round-12 dense-regime tier: banded candidates feed the SAME
    exact verify, so reported pairs can never be false positives —
    banded results are a subset of the exact result. On this fixture
    every true pair sits well above threshold where banding recall is
    ~1, so the subset is an equality (deterministic: xxhash64 minhash
    of fixed data) — pinned as a regression guard on the banded
    machinery."""
    from pot_spark.queries.llm_dedup import (
        q_containment_dedup,
        q_ngram_jaccard,
        q_prefix_filter_join,
    )

    for fn in (q_ngram_jaccard, q_containment_dedup, q_prefix_filter_join):
        exact = {
            tuple(r)
            for r in fn(spark, sf_dir, checkpoint=False,
                        strategy="direct").collect()
        }
        banded = {
            tuple(r)
            for r in fn(spark, sf_dir, checkpoint=False,
                        strategy="banded").collect()
        }
        assert banded <= exact, fn.__name__
        assert banded == exact and banded, fn.__name__  # fixture pin


def test_auto_selects_banded_in_dense_regime(spark, sf_dir, monkeypatch):
    """The round-11 scale-killer closure: when the priced pair volume
    exceeds the absolute budget AND the sampled concentration probe
    (q_dedup_candidate_profile's statistic) reads dense, auto must
    route to the banded tier — the regime where BOTH exact plans
    measured quadratic at true-sf1 (direct 63-122 s, prefix 66-130 s
    for 10x data). Zeroing the budget simulates 'past the budget' on
    the fixture, whose saturated vocabulary probes dense (combine_x1000
    ~1088 at sf0.001, ~1008 at true-sf1)."""
    import io

    from pot_spark.queries import llm_dedup

    monkeypatch.setattr(llm_dedup, "_DENSE_DIRECT_PAIR_BUDGET", 0)
    assert llm_dedup.choose_dedup_strategy(spark, sf_dir) == "banded"
    df = llm_dedup.q_ngram_jaccard(
        spark, sf_dir, checkpoint=False, strategy="auto"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "xxhash64" in p  # the banded signature build is in the plan
    assert "row_number" not in p  # not the prefix branch
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p  # verify inputs restricted to candidate docs


def test_knn_graph_negative_vec_ids_not_dropped(spark, tmp_path):
    """r12 advice regression: the salted label join must use pmod, not
    Spark's sign-preserving % — a negative vec_id under % yields a
    negative salt that matches NO exploded 0..31 salt on the other
    side, silently dropping every pair for that vector."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    ids = [-5, -1, 1, 2, 3]
    vecs = rng.normal(size=(len(ids), 64)).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [list(v) for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    out = registry.QUERIES["q_knn_graph"](spark, str(tmp_path))
    srcs = {r.src_id for r in out.collect()}
    assert {-5, -1} <= srcs, srcs


def test_mixed_regime_head_excluded_probe(spark, sf_dir, monkeypatch):
    """r13 stage-3 chooser: a dense stage-2 verdict re-probes the
    HEAD-EXCLUDED index; when the tail is not itself dense the chooser
    keeps the exact prefix plan (the prefix lemma neutralizes the head)
    instead of spending the banded recall contract. Forcing the head
    cap to 0 makes the tail empty -> tail probe -1 (clustered) ->
    prefix; restoring it on this saturated fixture keeps banded."""
    from pot_spark.queries import llm_dedup

    monkeypatch.setattr(llm_dedup, "_DENSE_DIRECT_PAIR_BUDGET", 0)
    monkeypatch.setattr(llm_dedup, "_HEAD_PROBE_DF_CAP", 0)
    assert llm_dedup.choose_dedup_strategy(spark, sf_dir) == "prefix"
    monkeypatch.setattr(llm_dedup, "_HEAD_PROBE_DF_CAP", 256)
    assert llm_dedup.choose_dedup_strategy(spark, sf_dir) == "banded"
    # the report exposes the extra verdict column (both engines)
    row = llm_dedup.q_dedup_strategy_report(spark, sf_dir).collect()[0]
    assert "tail_combine_x1000" in row.asDict()


def test_force_exact_env_reroutes_banded(spark, sf_dir, monkeypatch):
    """Round-12 advice closure: an auto->banded verdict (approximate,
    recall<1) must be reroutable to an exact plan by the parity
    harness's env flag so the oracle gate never hash-compares an
    approximate result against the exact DuckDB twin. Explicit
    strategy='banded' remains honored (the caller named the recall
    contract)."""
    from pot_spark.queries import llm_dedup

    monkeypatch.setattr(llm_dedup, "_DENSE_DIRECT_PAIR_BUDGET", 0)
    monkeypatch.delenv(llm_dedup.FORCE_EXACT_ENV, raising=False)
    assert llm_dedup.choose_dedup_strategy(spark, sf_dir) == "banded"
    monkeypatch.setenv(llm_dedup.FORCE_EXACT_ENV, "1")
    assert llm_dedup.choose_dedup_strategy(spark, sf_dir) == "prefix"
    # explicit banded is not overridden — only the auto transition is
    ix = llm_dedup._shingle_index(spark, sf_dir)
    assert llm_dedup._resolve_strategy("banded", ix) == "banded"


def test_shingle_index_keeps_whole_shingle_groups(spark, sf_dir):
    """The concentration probe reads its head/tail flag off the SAMPLED
    df rollup, which is exact only while the index holds whole
    (lang, shingle) groups. Pin both halves: under df_cap every
    under-cap group survives with exactly its df_tbl row count (and no
    over-cap group survives), and for every sampled shingle the sampled
    df equals the full df, capped or not."""
    from pyspark.sql import functions as F

    from pot_spark.queries import llm_dedup

    cap = 3
    ix = llm_dedup._shingle_index(spark, sf_dir, df_cap=cap)
    assert ix.df_tbl.filter(F.col("df") > cap).count() > 0  # cap bites
    kept = ix.idx.groupBy("lang", "shingle").agg(F.count("*").alias("k"))
    under = ix.df_tbl.filter(F.col("df") <= cap)
    both = kept.join(under, ["lang", "shingle"], "full_outer")
    assert both.count() == under.count() > 0
    assert both.filter(~F.col("k").eqNullSafe(F.col("df"))).count() == 0

    for df_cap in (None, cap):
        ix = llm_dedup._shingle_index(spark, sf_dir, df_cap=df_cap)
        df_s = (
            ix.idx.filter(llm_dedup._concentration_sample_pred())
            .groupBy("lang", "shingle")
            .agg(F.count("*").alias("df_s"))
        )
        cmp = df_s.join(ix.df_tbl, ["lang", "shingle"], "left")
        assert cmp.count() > 0
        assert cmp.filter(~F.col("df_s").eqNullSafe(F.col("df"))).count() == 0


def test_banded_recall_constants_match_formula():
    """The documented recall contracts are the actual r=2 banding math:
    recall(s) = 1-(1-s^2)^b at the op's threshold, and the bottom-k
    containment miss bound is the binomial tail at C=0.8."""
    from math import comb

    from pot_spark.queries.llm_dedup import (
        _BOTTOMK_K,
        _BOTTOMK_M_MIN,
        _NGRAM_BANDS,
        _PREFIX_JOIN_BANDS,
    )

    assert 1 - (1 - 0.3**2) ** _NGRAM_BANDS > 0.95  # q_ngram_jaccard t=0.3
    assert 1 - (1 - 0.7**2) ** _PREFIX_JOIN_BANDS > 0.995  # t=0.7
    p_miss = sum(
        comb(_BOTTOMK_K, k) * 0.8**k * 0.2 ** (_BOTTOMK_K - k)
        for k in range(_BOTTOMK_M_MIN)
    )
    assert p_miss < 0.002  # containment C=0.8 miss bound


def test_strategy_report_matches_chooser(spark, sf_dir):
    """q_dedup_strategy_report's verdict column must equal what
    choose_dedup_strategy() actually returns on the same fixture — the
    report is the oracle-checkable twin of the live decision (one
    documented divergence: int64 vs double sums, identical at any
    bigint-representable scale)."""
    from pot_spark.queries.llm_dedup import (
        choose_dedup_strategy,
        q_dedup_strategy_report,
    )

    row = q_dedup_strategy_report(spark, sf_dir).collect()[0]
    assert row["strategy"] == choose_dedup_strategy(spark, sf_dir)
    assert row["pairs_priced"] == (row["sum_df2"] - row["n_rows"]) // 2


def test_planning_ops_agree_on_one_profile(spark, sf_dir):
    """The four planning ops read one index, one _df_profile and one
    _concentration probe, so their shared columns must agree: the
    candidate profile's verdict is the chooser's collected one, its full
    priced volume is the report's, and the sweep's w=3 row is the
    report's index profile."""
    from pot_spark.queries import llm_dedup as d

    prof = d.q_dedup_candidate_profile(spark, sf_dir).collect()[0]
    rep = d.q_dedup_strategy_report(spark, sf_dir).collect()[0]
    sweep = {r["w"]: r for r in d.q_shingle_size_sweep(spark, sf_dir).collect()}
    ix = d._shingle_index(spark, sf_dir)
    assert prof["combine_x1000"] == d._sampled_combine_x1000(ix)[0]
    assert prof["full_cand_pairs"] == rep["pairs_priced"] > 0
    assert (sweep[3]["index_rows"], sweep[3]["est_pairs"]) == (
        rep["n_rows"],
        rep["pairs_priced"],
    )
