"""Bigram LM scoring (operators/lm.py): hand-computed probabilities,
short-document contract, cross-corpus OOV smoothing, and plan checks
(no UDFs, no cartesian)."""

from __future__ import annotations

import math

import pytest

from alaska_etl_spark.operators.lm import bigram_lm_scores, domain_relevance_weights


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_hand_computed_single_doc(spark):
    # corpus "a b a": bigrams (a,b),(b,a); c12=1 each; c1: a->1, b->1; V=2
    # P = (1+1)/(1+2) = 2/3 for both -> avg_nll = ln(1.5), ppl = 1.5
    out = bigram_lm_scores(_docs(spark, [("d", "a b a")]), "doc_id", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_bigrams == 2
    assert r.avg_nll == round(math.log(1.5), 6)
    assert r.ppl == pytest.approx(1.5, abs=1e-4)


def test_short_docs_null_score(spark):
    out = {
        r.doc_id: r
        for r in bigram_lm_scores(
            _docs(spark, [("one", "solo"), ("zero", ""), ("ok", "x y")]),
            "doc_id",
            "text",
        ).collect()
    }
    assert out["one"].n_bigrams == 0 and out["one"].avg_nll is None
    assert out["zero"].n_bigrams == 0 and out["zero"].ppl is None
    assert out["ok"].n_bigrams == 1


def test_repetitive_doc_scores_lower_nll_than_novel(spark):
    corpus = _docs(
        spark,
        [("rep", "x y " * 50), ("novel", " ".join(f"w{i}" for i in range(100)))],
    )
    got = {r.doc_id: r.avg_nll for r in bigram_lm_scores(corpus, "doc_id", "text").collect()}
    # the repeated bigram is high-probability; each novel bigram is seen once
    assert got["rep"] < got["novel"]


def test_cross_corpus_oov_smoothing(spark):
    # scored under a target model trained on another corpus
    train = _docs(spark, [("t", "a b a b")])
    score = domain_relevance_weights(_docs(spark, [("s", "z q")]), train, "doc_id", "text")
    r = score.collect()[0]
    # unseen context and bigram: P = (0+1)/(0+V), V=2 -> nll = ln(2)
    assert r.n_bigrams == 1
    assert r.target_nll == round(math.log(2), 6)


def test_plan_is_jvm_side(spark):
    df = _docs(spark, [("a", "x y z"), ("b", "y z w")])
    out = bigram_lm_scores(df, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "CartesianProduct"):
        assert bad not in plan


def test_domain_relevance_weights_separate_domains(spark):
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(5)] + [
        (10 + i, "uno dos tres cuatro cinco seis") for i in range(5)
    ] + [(99, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    target = df.filter("doc_id < 5")  # the 'alpha' domain
    out = {r.doc_id: r for r in domain_relevance_weights(df, target, "doc_id", "text").collect()}
    # target-domain text scores better under the target LM than the mixed LM
    assert out[99].weight > 0
    # off-domain text scores worse under the target LM
    assert out[10].weight < 0
    assert out[99].target_nll < out[10].target_nll


def test_perplexity_gate_buckets_are_ordered_thirds(spark):
    """Within each group: every head ppl <= every middle ppl <= every
    tail ppl, all scorable docs bucketed, head is never empty."""
    from alaska_etl_spark.operators.lm import perplexity_gate

    rows = [
        (i, " ".join(("alpha beta gamma delta " * 3).split()[: 4 + (i % 7)]), "en")
        for i in range(12)
    ] + [
        (100 + i, "zig zag " + ("quux " * (i + 2)), "de") for i in range(6)
    ] + [(999, "solo", "en")]  # 1 token -> unscorable, excluded
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = perplexity_gate(df, "doc_id", "text", group_col="lang").collect()

    assert all(r.doc_id != 999 for r in out)
    assert len(out) == 18
    for lang in ("en", "de"):
        by_bucket = {}
        for r in out:
            if r.lang == lang:
                by_bucket.setdefault(r.bucket, []).append(r.ppl)
        assert by_bucket.get("head"), lang
        hi_head = max(by_bucket["head"])
        if "middle" in by_bucket:
            assert hi_head <= min(by_bucket["middle"])
            if "tail" in by_bucket:
                assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
