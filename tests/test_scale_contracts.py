"""Scale contracts the physical-plan tests cannot express: candidate-
generation volume must stay near the true-duplicate count, never drift
toward the quadratic blowup a mis-tuned banding scheme produces."""

from __future__ import annotations

from pyspark.sql import functions as F

from pot_spark import registry
from pot_spark.queries import llm_dedup as d

registry.load_all_query_modules()


def test_simhash_band_buckets_stay_sparse(spark, sf_dir):
    """60-bit simhash / 15-bit bands: any band bucket holding a large
    fraction of the corpus means the banding collapsed (the pre-round-2
    4-bit bands put ~1/16 of ALL docs in every bucket — candidates grew
    as O(n^2/16))."""
    sim = registry.QUERIES["q_dedup_simhash"](spark, sf_dir)
    n_docs = sim.count()
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(d._SIMHASH_BANDS)])).alias("bi"),
    ).withColumn(
        "bv", F.expr("shiftright(simhash, bi * 15)").bitwiseAND(32767)
    )
    max_bucket = (
        bands.groupBy("bi", "bv").count().agg(F.max("count")).collect()[0][0]
    )
    # true dup clusters in the fixture are tiny; a healthy band key keeps
    # every bucket far below a corpus fraction
    assert max_bucket <= max(10, n_docs // 20), (max_bucket, n_docs)


def test_minhash_band_candidates_near_true_pairs(spark, sf_dir):
    """LSH banding candidate pairs must stay within a small multiple of
    the verified near-dup pairs — the property that makes verify cost
    O(candidates) ~ O(true dups), not O(n^2)."""
    sh = d._shingle_df(spark, sf_dir)
    n_cand = d._band_pairs(spark, sf_dir, sh).count()
    n_true = registry.QUERIES["q_dedup_near"](spark, sf_dir).count()
    n_docs = d._shingle_df(spark, sf_dir).select("doc_id").distinct().count()
    assert n_cand <= max(50, 10 * max(n_true, 1)), (n_cand, n_true)
    # and nowhere near quadratic
    assert n_cand < n_docs * 5, (n_cand, n_docs)


def test_ngram_jaccard_df_cap_bounds_candidates(spark, sf_dir):
    """The optional df-cap must (a) bound the per-shingle index fanout
    at the cap, (b) only shrink the result (recall trade-off, never new
    pairs), and (c) be a no-op when the cap exceeds every df."""
    from pot_spark.queries.llm_dedup import q_ngram_jaccard, _shingle_df

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_ngram_jaccard(spark, sf_dir).collect()
    }
    capped_df = q_ngram_jaccard(spark, sf_dir, df_cap=3)
    capped = {(r.doc_a, r.doc_b): r.jaccard for r in capped_df.collect()}
    # (b) capped pairs are a subset of exact pairs, and each surviving
    # jaccard never exceeds its exact value (intersections only shrink)
    for pair, j in capped.items():
        assert pair in exact
        assert j <= exact[pair] + 1e-9
    # (a) candidate volume bound: every shingle the capped join touches
    # has df <= cap, so per-key fanout is <= cap^2
    sh = _shingle_df(spark, sf_dir, with_lang=True)
    dfs = sh.groupBy("lang", "shingle").agg(F.count("*").alias("df"))
    rare = dfs.filter(F.col("df") <= 3).select("lang", "shingle")
    idx = sh.join(rare, ["lang", "shingle"], "left_semi")
    max_df = (
        idx.groupBy("lang", "shingle").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_df <= 3
    # (c) a cap above the max df reproduces the exact result
    huge = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_ngram_jaccard(spark, sf_dir, df_cap=10**9).collect()
    }
    assert huge == exact


def test_sinks_roundtrip_empty_input(spark, tmp_path):
    """Partitioned sinks must round-trip an EMPTY source: zero data
    files break parquet schema inference unless the read pins the
    schema, and an empty slice (a dormant tenant, a no-match filter)
    must produce an empty result, never an AnalysisException.
    tools/empty_sweep.py runs the same check over all 220 queries."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from empty_sweep import write_empty_fixture

    dst = write_empty_fixture(str(tmp_path / "sf_empty"))
    for name in ("q_sink_partitioned", "q_dpp_join"):
        assert registry.QUERIES[name](spark, dst).count() == 0, name


def test_containment_df_cap_only_shrinks(spark, sf_dir):
    """Same contract as the Jaccard df-cap: capped containment results
    are a subset of exact with never-larger scores, and a huge cap is a
    no-op."""
    from pot_spark.queries.llm_dedup import q_containment_dedup

    exact = {
        (r.doc_sub, r.doc_sup): r.containment
        for r in q_containment_dedup(spark, sf_dir).collect()
    }
    capped = {
        (r.doc_sub, r.doc_sup): r.containment
        for r in q_containment_dedup(spark, sf_dir, df_cap=3).collect()
    }
    for pair, c in capped.items():
        assert pair in exact
        assert c <= exact[pair] + 1e-9
    huge = {
        (r.doc_sub, r.doc_sup): r.containment
        for r in q_containment_dedup(spark, sf_dir, df_cap=10**9).collect()
    }
    assert huge == exact


def test_cost_plan_agrees_with_op_probe(spark, sf_dir):
    """The user-facing calculator and the in-op adaptive probe price the
    same (lang, shingle) df profile through the same _direct_affordable
    budget rule — reconstruct sum(df^2) from the calculator's direct row
    and assert its affordability verdict equals the op's probe decision
    (round-7 advice item 6)."""
    rows = {
        r.strategy: r
        for r in registry.QUERIES["q_dedup_cost_plan"](spark, sf_dir).collect()
    }
    direct = rows["direct_inverted_index"]
    s1 = direct.est_shuffle_rows
    s2 = 2 * direct.est_candidate_pairs + s1  # pairs = (s2 - s1) / 2
    affordable = d._direct_affordable(float(s2), s1)
    probe = d._resolve_strategy("auto", d._shingle_index(spark, sf_dir))
    assert (probe == "direct") == affordable
    # the public chooser IS the probe
    assert d.choose_dedup_strategy(spark, sf_dir) == probe
