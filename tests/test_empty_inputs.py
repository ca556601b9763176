"""Empty-input robustness for the round-4b operator families: every
operator must return an empty (correctly-typed) result, not throw —
the daily-increment pipelines WILL eventually feed one an empty batch."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


def test_heavy_hitters_empty(spark):
    from alaska_etl_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([], "v bigint")
    assert heavy_hitters(df, "v", phi=0.01).count() == 0


def test_jaccard_simjoin_empty(spark):
    from alaska_etl_spark.operators.simjoin import jaccard_similarity_join

    assert jaccard_similarity_join(_empty_docs(spark), "doc_id", "text").count() == 0


def test_knn_join_empty_sides(spark):
    from alaska_etl_spark.operators.geo import knn_join

    empty = spark.createDataFrame([], "lid bigint, lat double, lon double")
    right = spark.createDataFrame([(1, 0.0, 0.0)], "rid bigint, lat double, lon double")
    out = knn_join(empty, right, left_id="lid", right_id="rid", k=3, radius_km=10.0)
    assert out.count() == 0


def test_mad_anomalies_empty(spark):
    from alaska_etl_spark.operators.timeseries import mad_anomalies

    df = spark.createDataFrame([], "id bigint, k string, x double")
    assert mad_anomalies(df, ["k"], "x").count() == 0


def test_weighted_and_temperature_sample_empty(spark):
    from alaska_etl_spark.operators.splits import temperature_sample, weighted_sample

    df = spark.createDataFrame([], "id bigint, w double, src string")
    assert weighted_sample(df, "id", "w", 5).count() == 0
    assert temperature_sample(df, "src", "id").count() == 0


def test_graph_ops_empty(spark):
    from alaska_etl_spark.operators.graph import (
        bfs_distances,
        pagerank,
        triangle_counts,
    )

    e = spark.createDataFrame([], "src bigint, dst bigint")
    s = spark.createDataFrame([], "node bigint")
    assert pagerank(e, iters=2).count() == 0
    assert triangle_counts(e).count() == 0
    assert bfs_distances(e, s, max_hops=2).count() == 0


def test_corr_and_linreg_empty(spark):
    from alaska_etl_spark.operators.stats import corr_matrix, grouped_linreg

    df = spark.createDataFrame([], "g string, x double, y double")
    rows = corr_matrix(df, ["x", "y"]).collect()
    assert len(rows) == 1 and rows[0].corr is None  # 0-row moments: NULL corr
    assert grouped_linreg(df, ["g"], "x", "y").count() == 0


def test_decimal_quantiles_empty(spark):
    from alaska_etl_spark.operators.sketches import decimal_quantiles

    df = spark.createDataFrame([], "k string, x double")
    assert decimal_quantiles(df, ["k"], "x", [0.5]).count() == 0


def test_bloom_prune_empty_fact_and_empty_dim(spark):
    from alaska_etl_spark.operators.pruning import bloom_pruned_semi_join

    fact = spark.createDataFrame([], "k bigint")
    dim = spark.createDataFrame([(1,)], "k bigint")
    assert bloom_pruned_semi_join(fact, dim, "k").count() == 0
    fact2 = spark.createDataFrame([(1,)], "k bigint")
    empty_dim = spark.createDataFrame([], "k bigint")
    assert bloom_pruned_semi_join(fact2, empty_dim, "k", n_keys_hint=1).count() == 0


def test_diff_snapshots_both_empty(spark):
    from alaska_etl_spark.plans.warehouse import diff_snapshots

    a = spark.createDataFrame([], "k bigint, v double")
    b = spark.createDataFrame([], "k bigint, v double")
    assert diff_snapshots(a, b, ["k"]).count() == 0


def test_round4c_presence_and_mix_ops_empty(spark):
    from alaska_etl_spark.operators.sessions import concurrency_by_day
    from alaska_etl_spark.operators.splits import mix_entropy, top_p_coverage
    from alaska_etl_spark.operators.timeseries import activity_bitmap, sliding_distinct

    iv = spark.createDataFrame([], "s timestamp_ntz, e timestamp_ntz")
    assert concurrency_by_day(iv, start_col="s", end_col="e").count() == 0

    ev = spark.createDataFrame([], "user_id bigint, ts timestamp_ntz")
    assert activity_bitmap(ev, "user_id", "ts").count() == 0
    assert sliding_distinct(ev, "user_id", "ts").count() == 0

    docs = spark.createDataFrame([], "source string, lang string, n bigint")
    assert mix_entropy(docs, "source", weight_col="n").count() == 0
    assert top_p_coverage(docs, strata_cols=["lang"], group_col="source",
                          weight_col="n", p=0.9).count() == 0


def test_apply_changelog_empty_base(spark):
    from alaska_etl_spark.plans.warehouse import apply_changelog

    base = spark.createDataFrame([], "k bigint, v string")
    feed = spark.createDataFrame([(1, "a", "I", 1)], "k bigint, v string, op string, seq bigint")
    assert [(r.k, r.v) for r in apply_changelog(base, feed, ["k"]).collect()] == [(1, "a")]


def test_round4d_ops_empty_inputs(spark):
    from alaska_etl_spark.operators.embeddings import label_consistency
    from alaska_etl_spark.operators.lm import perplexity_gate
    from alaska_etl_spark.operators.similarity import hard_negative_topk
    from alaska_etl_spark.operators.text import bm25_topk

    docs = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    qs = spark.createDataFrame([], "query_id int, query_text string")
    some_docs = spark.createDataFrame(
        [(1, "alpha beta alpha", "en")], "doc_id bigint, text string, lang string"
    )
    some_qs = spark.createDataFrame([(1, "alpha")], "query_id int, query_text string")

    # empty corpus / empty query set
    assert bm25_topk(docs, some_qs, "doc_id", "text").count() == 0
    assert bm25_topk(some_docs, qs, "doc_id", "text").count() == 0

    assert perplexity_gate(docs, "doc_id", "text", group_col="lang").count() == 0
    # single scorable doc: one group, thresholds degenerate, bucket=head
    one = perplexity_gate(some_docs, "doc_id", "text", group_col="lang").collect()
    assert len(one) == 1 and one[0].bucket == "head"

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>, label int")
    some_emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    assert label_consistency(emb).count() == 0
    assert hard_negative_topk(emb, some_emb).count() == 0
    assert hard_negative_topk(some_emb, emb).count() == 0


def test_containment_join_empty(spark):
    from alaska_etl_spark.operators.simjoin import containment_join

    assert containment_join(_empty_docs(spark), "doc_id", "text").count() == 0


def test_novelty_rate_empty_sides(spark):
    from alaska_etl_spark.operators.dedup import novelty_rate

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    # empty corpus → empty result; empty reference → everything novel
    assert novelty_rate(_empty_docs(spark), docs, "doc_id", "text").count() == 0
    out = novelty_rate(docs, _empty_docs(spark), "doc_id", "text", n=1).collect()
    assert len(out) == 1 and out[0].novelty == 1.0 and out[0].n_seen == 0


def test_margin_bitext_empty_sides(spark):
    from alaska_etl_spark.operators.similarity import margin_bitext_pairs

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    assert margin_bitext_pairs(empty, vecs, k=2).count() == 0
    assert margin_bitext_pairs(vecs, empty, k=2).count() == 0


def test_round6_ops_empty_inputs(spark):
    from alaska_etl_spark.operators.dedup import dedup_savings
    from alaska_etl_spark.operators.text import vocab_divergence

    src_docs = spark.createDataFrame([], "doc_id bigint, text string, source string")
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")

    # savings over an empty corpus: no groups, no rows, no throw
    assert dedup_savings(src_docs, pairs, "doc_id", "text", group_col="source").count() == 0
    # non-empty corpus, empty pair set: totals emitted, zero redundant
    one = spark.createDataFrame(
        [(1, "a b c", "s")], "doc_id bigint, text string, source string"
    )
    (r,) = dedup_savings(one, pairs, "doc_id", "text", group_col="source").collect()
    assert r.n_redundant == 0 and r.n_docs == 1 and r.savings_rate == 0.0

    # divergence over an empty corpus: no groups -> no pairs
    assert vocab_divergence(src_docs, "source", "text").count() == 0


def test_kmeans_empty_corpus(spark):
    from alaska_etl_spark.operators.similarity import _lloyd_cents, kmeans_summary

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert _lloyd_cents(empty, k=4, iters=2) == {}
    rep = kmeans_summary(empty, k=4, iters=2)
    assert rep.count() == 0
    assert rep.columns == ["centroid_id", "n_members", "avg_cosine"]


def test_r9_corpus_audit_operators_empty(spark):
    from pyspark.sql import functions as F

    from alaska_etl_spark.operators.dedup import (
        normalized_dedup_report,
        source_overlap_matrix,
    )
    from alaska_etl_spark.operators.graph import k_core
    from alaska_etl_spark.operators.linkage import fellegi_sunter_weights
    from alaska_etl_spark.operators.layout import layout_skipping_audit
    from alaska_etl_spark.operators.sessions import rfm_segments
    from alaska_etl_spark.operators.simjoin import containment_spans
    from alaska_etl_spark.operators.skew import index_build_forecast
    from alaska_etl_spark.operators.stats import contingency_effect_sizes
    from alaska_etl_spark.operators.text import boilerplate_grams

    docs = spark.createDataFrame([], "doc_id bigint, text string, source string")
    r = index_build_forecast(docs, "doc_id", "text").head(1)[0]
    assert r["n_docs"] == 0 and r["candidate_pairs"] == 0
    assert r["n_postings"] == 0 and r["top_gram_share_bp"] is None
    assert boilerplate_grams(docs, "doc_id", "text", "source").count() == 0
    r = normalized_dedup_report(docs, "doc_id", "text").head(1)[0]
    assert r["n_docs"] == 0 and r["n_norm_distinct"] == 0
    assert normalized_dedup_report(docs, "doc_id", "text", "source").count() == 0
    assert source_overlap_matrix(docs, "doc_id", "text", "source").count() == 0
    assert containment_spans(docs, "doc_id", "text").count() == 0
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert k_core(edges, 2, iters=2).count() == 0
    pairs = spark.createDataFrame([], "is_match boolean, a boolean")
    assert fellegi_sunter_weights(pairs, "is_match", ["a"]).count() == 0
    cats = spark.createDataFrame([], "x string, y string")
    assert contingency_effect_sizes(cats, [("x", "y")]).count() == 0
    ev = spark.createDataFrame([], "user_id bigint, ts timestamp, value double")
    assert rfm_segments(ev, "user_id", "ts", "value").count() == 0
    d2 = spark.createDataFrame([], "rid bigint, v bigint")
    out = layout_skipping_audit(d2, {"n": F.col("rid")}, "v", n_buckets=4).collect()
    assert len(out) == 1 and out[0]["files_touched_total"] == 0
    from alaska_etl_spark.operators.stats import (
        eta_squared,
        poisson_bootstrap_ci,
        split_conformal,
    )
    gv = spark.createDataFrame([], "rid bigint, g string, v double")
    r = eta_squared(gv, "g", "v").head(1)[0]
    assert r["n_rows"] == 0 and r["eta_sq"] is None
    r = split_conformal(gv, "rid", "g", "v").head(1)[0]
    assert r["n_train"] == 0 and r["q_hat_units"] is None
    r = poisson_bootstrap_ci(gv, "rid", "v", b=10).collect()
    assert r == [] or r[0]["n_rows"] == 0
