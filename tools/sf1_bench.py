#!/usr/bin/env python
"""True-10x bench tier: time a representative query tier at sf0.1 vs a
TRUE sf1 fixture (tools/gen_sf.py — independent generation, not the
shifted-union smoke), with the bench protocol's calibration probe so
ambient rig noise is separable from real super-linearity.

Reading the ratios: local[32] has spare cores at sf0.1 for many of
these plans, so a perfectly linear operator shows <10x (more cores
saturate) and anything >10x that calibration can't explain is
algorithmic super-linearity. The shifted-union smoke (scale_smoke.py)
remains the worst-case-dedup companion; this one is the
distribution-true read.

Usage: python tools/sf1_bench.py [--out SCALE_SF1.json] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1_true"

TIER = [
    # scan/agg/join core
    "q_groupby_agg",
    "q_multiway_join",
    "q_hash_join",
    "q_sql_q5",
    "q_window_ntile_dense",
    "q_winsorize",
    "q_seq_pack",
    # dedup family (distribution-true duplicate structure)
    "q_dedup_exact",
    "q_dedup_near",
    "q_containment_dedup",
    "q_prefix_filter_join",
    "q_ngram_jaccard",
    "q_chunk_dedup",
    # similarity / vectors
    "q_sim_topk",
    "q_sim_ivf",
    "q_semdedup",
    "q_triangle_count",
    # text analysis
    "q_contamination",
    "q_bm25",
    "q_ccnet_bins",
    "q_token_count",
    # multimodal (its 10x smoke read high on fixed overhead — SCALE.md)
    "q_multimodal_features",
    # --- round-12 extension (VERDICT r11 item 4): the rest of the
    # headline heavies, the stateful streaming twins (state size vs
    # input scaling), and one representative per remaining family ---
    # real Structured Streaming twins: state grows with input (windows,
    # retained signatures, quotas, index cells, compacted keys)
    "s_ohlc_stream",
    "s_tumbling_stream",
    "s_dedup_near_stream",
    "s_user_quota_stream",
    "s_sim_index_stream",
    "s_cdc_compact_stream",
    # dedup family heavies + the concentration probe itself
    "q_dedup_funnel",
    "q_dedup_threshold_sweep",
    "q_lsh_tuning",
    "q_dedup_audit",
    "q_exact_substring",
    "q_dup_spans",
    "q_winnow_pairs",
    "q_incremental_dedup",
    "q_soft_dedup",
    "q_dedup_candidate_profile",
    # selection / ANN
    "q_d4_select",
    "q_dsir_select",
    "q_mmr_select",
    "q_ann_pq",
    "q_kmeans",
    "q_ann_recall",
    "q_sim_topk_batch",
    "q_knn_graph",
    # text / quality / LM
    "q_kneser_ney",
    "q_perplexity_filter",
    "q_gopher_rules",
    "q_bloom_decontaminate",
    "q_distinct_ngrams",
    "q_unigram_logprob",
    "q_boilerplate_ngrams",
    # SQL / relational / physical
    "q_sql_q1",
    "q_sql_q9",
    "q_sql_q21",
    "q_broadcast_join",
    "q_skew_salt_join",
    "q_dpp_join",
    "q_merge_upsert",
    # event-stream batch ops
    "q_sessionize",
    "q_funnel",
    "q_retention",
    "q_twap",
    # multimodal decode path (r12 defilter rewrite)
    "q_multimodal_frames",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default=None)
    ap.add_argument(
        "--merge",
        action="store_true",
        help="merge this run's rows into the existing --out file instead "
        "of replacing it (per-round batched extension toward the full "
        "inventory, VERDICT r12 item 1)",
    )
    ap.add_argument(
        "--unmeasured",
        type=int,
        default=0,
        metavar="N",
        help="run the first N registry queries that have NO row in the "
        "existing --out file (registry order); composes with --merge",
    )
    ap.add_argument(
        "--lo",
        default=f"{SF01}:sf0.1",
        metavar="DIR:TAG",
        help="low-scale fixture (denominator of the ratio)",
    )
    ap.add_argument(
        "--hi",
        default=f"{SF1}:sf1",
        metavar="DIR:TAG",
        help="high-scale fixture (numerator of the ratio) — e.g. "
        "'/tmp/sf3_true:sf3' with --lo '/tmp/sf1_true:sf1' for a second "
        "scale point confirming the growth law over a wider span",
    )
    args = ap.parse_args()
    tier = args.queries.split(",") if args.queries else TIER
    lo_dir, lo_tag = args.lo.rsplit(":", 1)
    hi_dir, hi_tag = args.hi.rsplit(":", 1)

    from bench import _calibrate
    from pot_spark import registry
    from pot_spark.session import get_spark

    if not os.path.isdir(hi_dir):
        print(f"fixture missing: run tools/gen_sf.py first ({hi_dir})")
        sys.exit(2)

    registry.load_all_query_modules()
    out_path = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_SF1.json",
    )
    prior: dict = {}
    if (args.merge or args.unmeasured) and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
    if args.unmeasured:
        have = set(prior.get("queries", {}))
        tier = [q for q in registry.QUERIES if q not in have][: args.unmeasured]
        if not tier:
            print("nothing unmeasured — full inventory covered")
            return
        print(f"unmeasured batch: {len(tier)} queries")
    calib_pre = _calibrate()
    spark = get_spark("sf1_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # warm codegen/readers off-clock on the tiny fixture
    for name in tier:
        try:
            registry.QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            print(f"warmup fail {name}: {e}", flush=True)

    rows: dict[str, dict[str, float]] = {}
    for sf_dir, tag in ((lo_dir, lo_tag), (hi_dir, hi_tag)):
        for name in tier:
            best = float("inf")
            for _ in range(max(1, args.reps)):
                t0 = time.perf_counter()
                try:
                    registry.QUERIES[name](spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                except Exception as e:  # noqa: BLE001
                    print(f"FAIL {name} @{tag}: {e}", flush=True)
                    best = float("nan")
                    break
            rows.setdefault(name, {})[tag] = round(best, 3)
            print(f"{name:28s} {tag:>6s} {best:7.2f}s", flush=True)

    calib_post = _calibrate()
    new_rows = {
        name: {
            **r,
            "ratio": round(r[hi_tag] / r[lo_tag], 2)
            if r.get(lo_tag)
            else None,
        }
        for name, r in rows.items()
    }
    out = {
        "fixture": hi_dir,
        "lo_fixture": lo_dir,
        "generator": "tools/gen_sf.py (seed 1107)",
        "reps": args.reps,
        "calib_sec_pre": calib_pre,
        "calib_sec_post": calib_post,
        "queries": new_rows,
    }
    if args.merge or args.unmeasured:
        merged = dict(prior.get("queries", {}))
        merged.update(new_rows)
        out["queries"] = merged
        out["calib_sec_pre"] = prior.get("calib_sec_pre", calib_pre)
        out["calib_sec_post"] = calib_post
        hist = dict(prior.get("batch_calibrations", {}))
        hist[f"batch_{len(hist) + 1:02d}"] = {
            "n": len(new_rows),
            "calib_pre": calib_pre,
            "calib_post": calib_post,
        }
        out["batch_calibrations"] = hist
        for k in ("notes_r12",):
            if k in prior:
                out[k] = prior[k]
    path = out_path
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\ncalib pre/post: {calib_pre}/{calib_post}")
    print(f"| query | {lo_tag} | {hi_tag} | ratio |")
    print("|---|---|---|---|")
    for name in tier:
        r = rows[name]
        ratio = r[hi_tag] / r[lo_tag] if r.get(lo_tag) else float("nan")
        print(f"| {name} | {r[lo_tag]:.2f}s | {r[hi_tag]:.2f}s | {ratio:.1f}x |")
    print(f"-> {path}")


if __name__ == "__main__":
    main()
