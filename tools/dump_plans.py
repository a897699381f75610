#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans + scan details for the
scale-critical queries, with notes on the property each plan must hold
(the same properties tests/test_plans.py asserts)."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pot_spark import registry  # noqa: E402
from pot_spark.session import get_spark  # noqa: E402

NOTES = {
    "q_multiway_join": "5-table star join: every dimension is broadcast (no shuffle "
    "of the fact table until the final aggregation); filters pushed to scans.",
    "q_bucket_join": "both sides read bucketed layout (SelectedBucketsCount) — the "
    "SortMergeJoin has NO Exchange beneath it; the only shuffle is the post-join "
    "aggregation.",
    "q_sink_partitioned": "read-back filter resolved as PartitionFilters by the file "
    "index; the partition column never appears in ReadSchema (pruned, not read).",
    "q_sort_limit": "global top-10 plans as TakeOrderedAndProject: per-partition "
    "heaps merged on the driver, never a full sort.",
    "q_sim_topk": "probe broadcast into a single scan; cosine + top-k in one "
    "whole-stage-codegen pass with TakeOrderedAndProject.",
    "q_groupby_agg": "partial (map-side) HashAggregate before the exchange, final "
    "after — shuffle carries pre-aggregated partials, not raw rows.",
    "q_dedup_near": "broadcast-safe verify: both shingle sides semi-join-"
    "restricted to candidate docs (LeftSemi nodes), the persisted band-pair set "
    "(InMemoryRelation) computed once; no broadcast hint anywhere — every "
    "BroadcastHashJoin is a Catalyst/AQE size decision that degrades to a "
    "shuffle join when candidates grow.",
    "q_skew_salt_join": "ShuffledHashJoin on (key, salt): the hot key's rows land "
    "on N_SALT reducers; no broadcast (the path AQE skew-split can't help).",
    "s_sim_index": "r10: IVF index maintenance (batch twin) — the assignment "
    "is ONE codegen projection against the literal-embedded broadcast "
    "quantizer (zip_with+aggregate per centroid, array_max struct argmax): "
    "no explode, no join, no shuffle to assign; the single exchange is the "
    "cell-keyed rollup, shared by the ranking window and the final "
    "aggregation.",
    "q_sim_ivf": "centroid table and probed-cell list broadcast; the vector scan "
    "prunes to nprobe cells and the re-rank is a TakeOrderedAndProject top-k.",
    "q_dpp_join": "partition filter is a dynamicpruningexpression fed by the dim "
    "broadcast — partitions to read are decided at runtime, at the file index.",
    "q_contamination": "probe-set gram inventory broadcast into the corpus-side "
    "stream; the only exchange is the per-doc rollup.",
    "q_funnel": "whole funnel is ONE user_id exchange: collect_list partials "
    "map-side, sorted-array state-machine fold after the shuffle.",
    "q_unpivot": "melt plans as a single Expand over the aggregated input — "
    "one scan, no join, no per-measure re-read.",
    "q_ts_interp": "gap rows exploded from consecutive observed-bucket pairs "
    "(one lead window over the bucket aggregates) — the dense grid is never "
    "materialized into a join; the explode output is write-only, pipelined "
    "straight out of the window stage.",
    "q_sql_recursive": "the recursion executes as UnionLoop (84 spine rows); the "
    "fact side is aggregated to O(months) rows BEFORE the left-outer spine join, "
    "so the join broadcasts and orders is scanned exactly once.",
    "q_seq_pack": "global corpus-position cumsum as a two-level prefix-sum: "
    "in-shard running window + broadcast per-shard base offsets — no "
    "single-partition global window anywhere in the plan.",
    "q_higher_order": "array lambdas (filter/exists/forall) evaluate inside the "
    "scan project — no Generate/explode; the only exchange is the final "
    "per-label aggregate.",
    "q_theta_range_join": "bucketed interval join: the window length is the "
    "bucket width, signups explode into bucket+next, and the join key is "
    "(user, bucket) — per-(user,hour) bounded groups instead of a per-user "
    "cross product; the range predicate only post-filters within groups.",
    "q_null_skew_join": "null-FK rows split out before the shuffle (a null key "
    "hashes to ONE reducer and AQE cannot split a single key); the non-null "
    "slice joins, the null slice unions back null-filled.",
    "q_temporal_join": "merge-as-of: state changes + probes union into one "
    "per-user stream, a running last-non-null window assigns validity — one "
    "shuffle + sort, never an interval x probe range join.",
    "q_zorder_key": "Morton interleave as shift/and codegen; 1-row maxima "
    "broadcast; exchanges are the maxima aggregate + the zblock rollup only.",
    "q_interval_union": "island flag + island-id running sum share one "
    "(user_id | s, e) sort: a single hashpartitioning(user_id) exchange feeds "
    "both windows and the rollups — no global window anywhere.",
    "q_merge_upsert": "MERGE classification is ONE full-outer join on the key "
    "(both sides shuffled once); no Cartesian, no SinglePartition; on a "
    "bucketed base the exchanges vanish.",
    "q_ann_pq": "codebook (codes x dims) broadcast into the component stream; "
    "encode and ADC are partial-agg'd rollups; no join ever carries the "
    "corpus unshuffled more than once.",
    "q_kmeans": "per-iteration centroids broadcast (k x dim rows); assignment "
    "and update are map-side-combined rollups; iterations compose lazily in "
    "one plan.",
    "q_weighted_sample": "zero Exchange: the md5 coin and the integer "
    "threshold evaluate inside the scan project — full-scan-speed sampling.",
    "q_doc_chunk": "zero Exchange: chunk geometry is a generated-sequence "
    "explode in the scan stage; the chunk table inherits scan partitioning.",
    "q_bpe_pair_counts": "token stream collapses to word TYPES before pair "
    "extraction (two partial-agg rollups); top-20 is TakeOrderedAndProject.",
    "q_gdpr_erase": "subject and erased-order key lists broadcast; every fact "
    "table probed scan-side — the cascade costs one scan per table, zero "
    "fact shuffles.",
    "q_boilerplate_ngrams": "bigram explode in the scan stage; (source, gram) "
    "df rollup partial-aggregates; the high-df boilerplate set broadcasts "
    "back onto the occurrence stream; per-doc rollup is the only other "
    "exchange.",
    "q_window_ewma": "seven lag taps share ONE window spec: a single "
    "user-partitioned exchange, zero joins, integer multiply-adds in "
    "whole-stage codegen.",
    "q_window_median": "one user-partitioned window (no global sort); "
    "the 7-row frame is collected, sorted, and element-SELECTED inside "
    "the window stage — zero joins, zero extra exchanges.",
    "q_winsorize": "r8: the bounds branch sorts only the per-type VALUE "
    "HISTOGRAM (aggregate below the window — no raw-row rank); r10: "
    "cum_c and the per-type total share one (partition, order) spec, so "
    "one WindowExec over one sort (was two); the clamp branch is scan "
    "-> broadcast join -> partial agg — raw rows never shuffle.",
    "q_corpus_drift": "one conditional-aggregation scan produces both slice "
    "counts; the 1-row totals aggregate broadcasts into the projection.",
    "q_containment_dedup": "adaptive containment (round 5): a 1-row df-"
    "distribution probe picks the direct map-side-combine index join on "
    "head-free data, or this PREFIX-LEMMA branch under a Zipf head — "
    "candidates form through the contained side's rarest-first prefix "
    "(row_number window partitioned by doc_id) joined against the "
    "containing side's full index; exact either way; verify sides are "
    "left-semi-restricted to candidate docs. Shown with checkpoint=False "
    "+ strategy='prefix' so the candidate machinery is visible.",
    "q_prefix_filter_join": "symmetric ppjoin prefix filtering (adaptive "
    "round 5 — shown with strategy='prefix'): both sides index only their "
    "rarest-first prefixes (exact integer ceil lengths); candidate volume "
    "concentrates on discriminative shingles; verify is candidate-"
    "restricted; the df probe falls back to the direct map-side-combine "
    "join on head-free data.",
    "q_ngram_jaccard": "the third user of the shared candidate->verify "
    "pipeline (_pair_intersections), at t=0.3: the same prefix×prefix "
    "candidates as q_prefix_filter_join with the (3n+9) div 10 prefix "
    "length, and the same left-semi-restricted exact verify. Shown with "
    "checkpoint=False + strategy='prefix'.",
    "q_sessionize": "gap sessionization: ONE hashpartitioning(user_id) "
    "exchange serves the lag window, the running-sum session id, and the "
    "per-session rollup — never a global sort.",
    "q_attribution": "merge-as-of last-touch attribution: clicks and "
    "purchases union into one per-user stream, one exchange, one running "
    "last-non-null window — no per-purchase range scan.",
    "q_incremental_dedup": "increment pre-aggregates per digest BEFORE the "
    "LeftAnti join against the history digest index; both join inputs are "
    "digest-distinct 32-byte keys (AQE picks broadcast while the history "
    "index fits).",
    "q_rank_fusion": "all three ranking windows share the lang exchange; "
    "the fused top-10 filter plans as WindowGroupLimit (per-partition "
    "heap), so the full per-language sort never materializes.",
    "q_lsh_tuning": "all 15 band keys across 4 banding configs emit from "
    "ONE signature aggregation via array+explode (no per-config union "
    "recomputing the signatures); candidate volume is computed from "
    "bucket sizes, never materialized pairs.",
    "q_quality_gate_report": "all three quality gates are scan-side JVM "
    "expressions (translate-based alpha counting — no regex on the hot "
    "path); the single exchange is the source rollup with map-side "
    "partials.",
    "q_sql_q9": "TPC-H Q9 over the DERIVED partsupp: the CTE is a narrow "
    "map over the part scan (only benign 1-row/4-row broadcast cross "
    "joins build it — partsupp inherits part's partitioning); every dim "
    "broadcasts, the LIKE pushes as Contains, and the ONLY hash "
    "exchange in the whole plan is the (nation, year) rollup.",
    "q_perplexity_filter": "the per-lang 75th-percentile cutoff comes "
    "from the (lang, rounded-score) HISTOGRAM, so the cumulative window "
    "sorts type-scale rows, never the corpus; doc-scale work is the "
    "same two shuffles as q_unigram_logprob.",
    "q_distinct_ngrams": "both distinct-n rollups plan as two-phase "
    "partial/final COUNT DISTINCT on (source, gram) — the shuffle "
    "carries pre-combined pairs, and no token ever rides more than one "
    "exchange.",
    "q_winnow_fingerprint": "selection pipeline (scan -> explode -> "
    "per-doc rolling-min window, no global window) runs ONCE behind the "
    "checkpoint barrier; fp doc-frequency is a partial-aggregated "
    "groupBy count — skew-immune where a count-over-window would land a "
    "Zipf fp head's whole posting list on one reducer; every "
    "post-selection exchange carries (doc_id, int64) pairs, never text.",
    "q_cdc_compact": "latest-wins is one max(struct) aggregate planned "
    "as partial/final SortAggregate (struct buffers aren't "
    "hash-aggregable) — the partial runs MAP-SIDE, so the exchange "
    "carries one candidate row per key, not the log; no Window node, "
    "no exchange-then-sort of the full log.",
    "q_semdedup": "all-pairs confined WITHIN a k-means cell: the pair "
    "stage is ONE equi-join on cluster over PACKED int64 vectors "
    "(zip_with dot — no per-dim explode), centroid tables broadcast; "
    "candidate volume is sum(|cell|^2), controlled by k ∝ N.",
    "q_dsir_select": "two token-scale shuffles (vocab + (doc,token) "
    "rollups, both with map-side partials), the lambda table joins on "
    "token, and the final cut is a TakeOrderedAndProject k-row heap — "
    "never a global sort.",
    "q_gopher_rules": "every rule incl. the per-doc top-bigram mode is "
    "a scan-side array expression (O(d^2) executor-local arithmetic "
    "beats a (doc,bigram) exchange); ONE parquet scan, the only hash "
    "exchange is the source rollup.",
    "q_exact_substring": "window explode is scan-side codegen; only "
    "16-byte digests shuffle; the df back-join is LINEAR per occurrence "
    "(each window meets its own df row — no Σ df² pair blowup).",
    "q_dup_spans": "only DUPLICATED positions reach the per-doc stage: "
    "both window passes (running-max flag, running-sum span id) and "
    "the rollup share one hashpartitioning(doc_id) exchange.",
    "q_zorder_skipping": "block ids are KEY RANGES — no global sort, "
    "no row_number, no Window node anywhere; pure shift/and codegen "
    "plus the (layout, block) rollup; the 1-row maxima broadcast.",
    "q_dedup_funnel": "composes the production plans it audits: digest "
    "rollup + aliased keyed self-join (exact), checkpointed band-pairs "
    "+ min-label propagation (near); the funnel's own math is three "
    "1-row aggregates unioned against a broadcast totals row.",
    "q_dedup_cost_plan": "pair volume is PRICED by _df_profile from two "
    "linear rollups (the shingle index's df, text digest; the capped row "
    "clips the same df at 32) reduced to 1-row exact integer profiles — "
    "zero joins, nothing pairwise materialized.",
    "q_ngram_novelty": "one distinct (doc,src,gram) rollup; the gram "
    "first-occurrence table collapses to doc-scale BEFORE re-touching "
    "documents, so the only joins are doc-keyed linear + source-typed.",
    "q_vocab_overlap": "tok-keyed self-join bounded by source "
    "cardinality per token TYPE (≤C(n_sources,2) pairs/type); sizes "
    "broadcast; distinct streams partial-aggregate map-side.",
    "q_ks_test": "the corpus compresses to the (source, length) grid "
    "through aggregates before any Window; CDF accumulations and the "
    "argmax rank run per-source on that type-scale grid.",
    "q_shard_balance": "scan-side md5 shard hash, ONE 32-group rollup; "
    "totals come from a window OVER the rollup (one lineage — a second "
    "aggregate branch would re-run the corpus scan).",
    "q_ccnet_bins": "r8: q_unigram_logprob's two token-scale shuffles "
    "feed the (lang, rounded-score) HISTOGRAM; exact ntile(3) bounds "
    "read off cumulative counts + a broadcast 3-row bound table — no "
    "doc-scale sort anywhere.",
    "q_length_bias": "r8: exact ntile(10) deciles from the n_chars "
    "histogram (_equidepth_tiles) — windows run over distinct lengths, "
    "never docs; digest rollup collapses dups before the post histogram.",
    "q_gini": "r8: tie-invariant rank-sum identity on the per-lang "
    "length histogram — the only window input is (lang, distinct "
    "n_tok); exact bigint arithmetic to the final ppm DIV.",
    "q_peak_concurrency": "r8: boundary deltas pre-aggregate to "
    "(day, t, sum d) with map-side combine BEFORE the day-partitioned "
    "cumsum; argmax rides WindowGroupLimit.",
    "q_intra_label_diversity": "pairwise-cosine mean via |sum u|^2 - n: "
    "three linear rollups (vec norm, (label,dim) unit sums, label "
    "square-sum) — no pair join exists in the plan.",
    "q_shingle_size_sweep": "w=2/3/4 shingle streams of one documents "
    "load, each rolled up by _shingle_index and reduced by _df_profile "
    "to a 1-row profile, unioned; est pairs are arithmetic on the "
    "profiles — plan contains no Join node.",
    "q_dup_graph_degree": "both endpoint unions read ONE checkpointed "
    "band-pair materialization (ExistingRDD); degree and histogram "
    "rollups are map-side combined.",
    "q_centroid_drift": "one posexplode pass partial-aggregates to "
    "type-scale (label, dim) components; cosine sums are exact DECIMAL "
    "so shuffle order cannot move the rounded result.",
}

# queries whose interesting plan hides behind checkpoint barriers by
# default: rebuild them lazily for the dump
import functools  # noqa: E402

from pot_spark.queries.llm_dedup import (  # noqa: E402
    q_containment_dedup,
    q_ngram_jaccard,
    q_prefix_filter_join,
)

_UNCHECKPOINTED = {
    "q_containment_dedup": functools.partial(
        q_containment_dedup, checkpoint=False, strategy="prefix"
    ),
    "q_prefix_filter_join": functools.partial(
        q_prefix_filter_join, checkpoint=False, strategy="prefix"
    ),
    "q_ngram_jaccard": functools.partial(
        q_ngram_jaccard, checkpoint=False, strategy="prefix"
    ),
}

_DETAIL_KEYS = (
    "PushedFilters",
    "PartitionFilters",
    "ReadSchema",
    "SelectedBucketsCount",
    "Bucketed",
)


def main() -> None:
    registry.load_all_query_modules()
    spark = get_spark("dump_plans")
    sf = os.environ.get("POT_SPARK_PLAN_SF_DIR", "/root/testdata/sf0.001")
    out = [
        "# PLANS — physical-plan evidence for the scale-critical queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.001 inputs; plan shape is",
        "scale-invariant). tests/test_plans.py asserts these properties on every run;",
        "this file is the human-readable snapshot.",
        "",
    ]
    for name, note in NOTES.items():
        build = _UNCHECKPOINTED.get(name, registry.QUERIES[name])
        df = build(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("(1) ")[0].rstrip()
        keep = [
            line
            for line in plan.splitlines()
            if any(k in line for k in _DETAIL_KEYS)
        ]
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n")
        if keep:
            out.append("-- scan details --")
            out.extend(line.strip() for line in keep[:8])
        out.append("```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
