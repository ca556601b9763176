"""Text analysis operators: token counts, quality score, language ID,
fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from alaska_etl_spark.operators import text as T


def _one(spark, s, expr):
    return spark.createDataFrame([(s,)], "text string").select(expr.alias("v")).collect()[0].v


def test_token_count(spark):
    assert _one(spark, "one two  three", T.token_count("text")) == 3
    assert _one(spark, "   ", T.token_count("text")) == 0


def test_bpe_ish_token_count(spark):
    # words, numbers, punctuation counted separately: ab, ., 12, !, !
    assert _one(spark, "ab. 12!!", T.bpe_ish_token_count("text")) == 5


def test_quality_score_bands(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away home"
    assert _one(spark, good, T.quality_score("text")) == 1.0
    assert _one(spark, "a b", T.quality_score("text")) < 1.0  # too short, short words


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog is in that house", T.lang_id("text")) == "en"
    assert _one(spark, "der hund und die katze ist nicht hier", T.lang_id("text")) == "de"
    assert _one(spark, "zzz qqq www", T.lang_id("text")) == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, "Hello   World", T.doc_fingerprint("text"))
    b = _one(spark, "hello world", T.doc_fingerprint("text"))
    c = _one(spark, "hello mars", T.doc_fingerprint("text"))
    assert a == b
    assert a != c


def test_winnowing_guarantee_and_sensitivity(spark):
    # winnowing guarantee: a shared token run of >= k+w-1 (=8) tokens
    # must produce at least one shared fingerprint; disjoint texts none.
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} trailing bits here"),
            (2, f"{shared} completely different ending tokens"),
            (3, "nothing in common with the others at all whatsoever today"),
        ],
        "doc_id bigint, text string",
    )
    fps = T.winnowing_fingerprints(df, "doc_id", "text", k=4, w=5)
    sets = {
        r.doc_id: set(r.s)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("s")).collect()
    }
    assert sets[1] & sets[2], "shared 8-token run must share a fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_winnowing_short_doc_empty(spark):
    # fewer than k+w-1 tokens -> no full window -> no fingerprints
    df = spark.createDataFrame([(1, "only five words right here")], "doc_id bigint, text string")
    assert T.winnowing_fingerprints(df, "doc_id", "text", k=4, w=5).count() == 0


def test_repetition_signals_exact(spark):
    from alaska_etl_spark.operators.text import repetition_signals

    rows = [
        (1, "a b a b a"),      # tokens:5 distinct:2; bigrams: ab,ba,ab,ba -> top 2/4; trigrams: aba,bab,aba -> dup 2/3
        (2, "x"),              # single token: no bigrams/trigrams
        (3, "p q r"),          # all unique
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in repetition_signals(df, "doc_id", "text").collect()}
    r1 = got[1]
    assert r1.n_tokens == 5
    assert r1.dup_token_ratio == 0.6
    assert r1.top_bigram_frac == 0.5
    assert abs(r1.dup_trigram_frac - 2 / 3) < 1e-6
    assert got[2].n_tokens == 1 and got[2].top_bigram_frac is None and got[2].dup_trigram_frac is None
    assert got[3].dup_token_ratio == 0.0 and got[3].top_bigram_frac == 0.5


def test_repetition_signals_single_exchange(spark):
    """The gram windows and the per-doc aggregate all reuse the first
    window's _id hash partitioning: exactly ONE Exchange in the plan."""
    from alaska_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame([(1, "a b c a b")], "doc_id bigint, text string")
    plan = repetition_signals(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_tfidf_top_terms_values(spark):
    from alaska_etl_spark.operators.text import tfidf_top_terms
    import math

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry date")],
        "doc_id bigint, text string",
    )
    out = tfidf_top_terms(df, "doc_id", "text", k=2)
    got = {(r.doc_id, r.rank): (r.term, r.tfidf) for r in out.collect()}
    # df: apple=1, banana=2, cherry=2, date=1; N=3
    rare = math.log(4 / 2)    # df=1 terms
    common = math.log(4 / 3)  # df=2 terms
    assert got[(1, 1)] == ("apple", round(2 * rare, 4))
    assert got[(1, 2)] == ("banana", round(common, 4))
    # doc 2: banana and cherry tie (same tf, same df) -> term asc
    assert got[(2, 1)][0] == "banana" and got[(2, 2)][0] == "cherry"
    assert got[(3, 1)] == ("cherry", round(3 * common, 4))
    assert got[(3, 2)] == ("date", round(rare, 4))


def test_tfidf_single_corpus_exchange(spark):
    """One corpus-sized shuffle: the (id, term) aggregate and the
    ranking window reuse the explicit repartition by id; the df-side
    exchange carries |vocab| aggregated rows and N is a broadcast.
    Corpus-partitioned operators in the plan: exactly one Exchange
    hashpartitioning(_id...); everything else is vocab-sized."""
    from alaska_etl_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame([(1, "a b c a")], "doc_id bigint, text string")
    out = tfidf_top_terms(df, "doc_id", "text")
    out.collect()  # let AQE finalize (broadcasts the vocab side)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # final adaptive plan only
    exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    corpus_exchanges = [ln for ln in exchanges if "(_id" in ln.split("Exchange", 1)[1]]
    assert len(corpus_exchanges) == 1, plan
    # the document-frequency branch must REUSE that shuffle, not re-run it
    assert "ReusedExchange" in plan, plan


def test_chunk_documents_windows_and_overlap(spark):
    from alaska_etl_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id bigint, text string",
    )
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # starts at 0, 3, 6, 9 (step = 4 - 1)
    assert [r.chunk_text for r in c1] == [
        "t0 t1 t2 t3",
        "t3 t4 t5 t6",
        "t6 t7 t8 t9",
        "t9",
    ]
    assert [r.n_tokens for r in c1] == [4, 4, 4, 1]
    assert [r.chunk_id for r in c1] == [0, 1, 2, 3]
    assert [r.chunk_text for r in by_doc[2]] == ["a b"]
    assert 3 not in by_doc  # empty doc -> no chunks


def test_chunk_documents_no_shuffle(spark):
    from alaska_etl_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "x y z")], "doc_id bigint, text string")
    plan = chunk_documents(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_overlap_validation(spark):
    import pytest as _pytest

    from alaska_etl_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_bm25_topk_values(spark):
    """bm25_topk == a plain-Python Okapi BM25 over a handmade corpus,
    including the micro-unit fixed-point protocol and tie-breaks."""
    import math

    from alaska_etl_spark.operators.text import bm25_topk

    corpus = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry date"),
        (4, "date apple"),
    ]
    queries = [(10, "apple cherry"), (20, "banana banana date")]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    qs = spark.createDataFrame(queries, "query_id int, query_text string")
    out = bm25_topk(df, qs, "doc_id", "text", k=3).collect()

    k1, b = 1.2, 0.75
    docs = {i: t.split() for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    dfreq: dict = {}
    for t in docs.values():
        for term in set(t):
            dfreq[term] = dfreq.get(term, 0) + 1

    def score_micro(qtext, d):
        s = 0
        for term in set(qtext.split()):
            tf = docs[d].count(term)
            if tf == 0 or term not in dfreq:
                continue
            idf = math.log(1.0 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
            c = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(docs[d]) / avgdl)
            )
            s += int(round(c * 1000000.0))
        return s

    want = {}
    for qid, qtext in queries:
        ranked = sorted(
            ((score_micro(qtext, d), d) for d in docs if score_micro(qtext, d) > 0),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        for r, (sm, d) in enumerate(ranked, 1):
            want[(qid, r)] = (d, sm)

    got = {(r.query_id, r.rank): (r.doc_id, r.score_micro) for r in out}
    assert got == want
    for r in out:
        assert r.score == round(r.score_micro / 1000000.0, 6)


def test_bm25_topk_empty_corpus(spark):
    from alaska_etl_spark.operators.text import bm25_topk

    df = spark.createDataFrame([], "doc_id bigint, text string")
    qs = spark.createDataFrame([(1, "apple")], "query_id int, query_text string")
    assert bm25_topk(df, qs, "doc_id", "text").count() == 0


# --- vocab divergence (pairwise Jensen-Shannon) -----------------------------


def test_vocab_divergence_identical_and_disjoint(spark):
    from alaska_etl_spark.operators.text import vocab_divergence

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple", "a"),
            (2, "apple banana apple", "b"),   # identical distribution to a
            (3, "zig zag zug", "c"),          # disjoint from both
        ],
        "doc_id bigint, text string, source string",
    )
    out = {(r.group_a, r.group_b): r for r in vocab_divergence(docs, "source", "text").collect()}
    assert len(out) == 3  # all pairs, including disjoint ones
    assert out[("a", "b")].js_nats == 0.0
    assert out[("a", "c")].js_nats == round(0.6931471805599453, 6)
    assert out[("a", "c")].shared_vocab == 0
    assert out[("a", "b")].shared_vocab == 2


def test_vocab_divergence_matches_reference_value(spark):
    import math

    from alaska_etl_spark.operators.text import vocab_divergence

    # a: {x: 3/4, y: 1/4}; b: {x: 1/4, y: 3/4}
    docs = spark.createDataFrame(
        [(1, "x x x y", "a"), (2, "x y y y", "b")],
        "doc_id bigint, text string, source string",
    )
    (r,) = vocab_divergence(docs, "source", "text").collect()

    def js(pa, pb):
        total = 0.0
        for p, q in zip(pa, pb):
            m = (p + q) / 2
            if p:
                total += 0.5 * p * math.log(p / m)
            if q:
                total += 0.5 * q * math.log(q / m)
        return total

    want = js([0.75, 0.25], [0.25, 0.75])
    assert abs(r.js_nats - want) < 1e-6
    assert r.tokens_a == 4 and r.tokens_b == 4 and r.shared_vocab == 2


def test_pmi_collocations_replica_and_pruning(spark):
    import math
    from collections import Counter

    from alaska_etl_spark.operators.text import pmi_collocations

    # "new york" always adjacent (strong collocation); "the cat"/"the dog"
    # dilute "the"; min_pair prunes rare pairs
    docs = [
        (0, "new york is big and the cat sat"),
        (1, "the dog saw new york and the cat"),
        (2, "new york new york the dog ran"),
        (3, "the cat and the dog in new york"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = pmi_collocations(df, "doc_id", "text", min_pair=3, top_k=10).collect()
    got = {(r.w1, r.w2): (r.pair_count, r.pmi_units) for r in out}
    # python replica
    toks = [d[1].split() for d in docs]
    uni = Counter(w for t in toks for w in t)
    bi = Counter((a, b) for t in toks for a, b in zip(t, t[1:]))
    n_uni, n_bi = sum(uni.values()), sum(bi.values())
    want = {}
    for (a, b), c in bi.items():
        if c >= 3:
            pmi = (
                math.log(c) - math.log(n_bi) - math.log(uni[a]) - math.log(uni[b])
                + 2 * math.log(n_uni)
            )
            want[(a, b)] = (c, round(1e8 * pmi))
    assert got == want
    assert ("new", "york") in got
    # ranking: first row is the max-PMI pair
    assert out[0].pmi_units == max(u for _, u in want.values())


def test_pmi_collocations_min_pair_prunes(spark):
    from alaska_etl_spark.operators.text import pmi_collocations

    df = spark.createDataFrame([(0, "a b a b c d")], "doc_id bigint, text string")
    out = pmi_collocations(df, "doc_id", "text", min_pair=2, top_k=10).collect()
    assert [(r.w1, r.w2) for r in out] == [("a", "b")]
    assert out[0].pair_count == 2


def test_bigram_lm_topk_probabilities_and_ranks(spark):
    from alaska_etl_spark.operators.text import bigram_lm_topk

    # "a" heads: a->b 3 times, a->c 1 time; head_count of "a" = 4
    df = spark.createDataFrame(
        [(0, "a b a b a b a c d")], "doc_id bigint, text string"
    )
    out = bigram_lm_topk(df, "doc_id", "text", min_head_count=4, k=2).collect()
    got = {(r.w1, r.w2): r for r in out}
    assert set(got) == {("a", "b"), ("a", "c")}  # only 'a' passes min_head
    ab = got[("a", "b")]
    assert (ab.pair_count, ab.head_count, ab.rank) == (3, 4, 1)
    assert ab.prob_units == 750000  # 3/4 at 1e-6
    ac = got[("a", "c")]
    assert (ac.pair_count, ac.prob_units, ac.rank) == (1, 250000, 2)


def test_bigram_lm_final_token_conditions_nothing(spark):
    from alaska_etl_spark.operators.text import bigram_lm_topk

    # "z" appears twice, always doc-final: passes no-bigram, emits no rows
    df = spark.createDataFrame(
        [(0, "x z"), (1, "x z")], "doc_id bigint, text string"
    )
    out = bigram_lm_topk(df, "doc_id", "text", min_head_count=2, k=3).collect()
    heads = {r.w1 for r in out}
    assert heads == {"x"}
    r = next(r for r in out if r.w1 == "x")
    assert (r.w2, r.pair_count, r.head_count, r.prob_units) == ("z", 2, 2, 10**6)


def test_trigram_search_equals_bruteforce(spark):
    from alaska_etl_spark.operators.text import trigram_search
    from pyspark.sql import functions as F

    docs = [
        (0, "the quick brown fox"),
        (1, "quick brownies"),
        (2, "slow red fox"),
        (3, "qu"),              # shorter than a trigram
        (4, "own b"),           # has grams of the pattern but not the pattern
        (5, "the quick brown dog"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    for pat in ("quick brown", "fox", "own", "zzz"):
        got = {r.doc_id for r in trigram_search(df, "doc_id", "text", pat).collect()}
        want = {
            r.doc_id
            for r in df.filter(F.contains(F.col("text"), F.lit(pat))).collect()
        }
        assert got == want, pat


def test_trigram_search_short_pattern_falls_back(spark):
    from alaska_etl_spark.operators.text import trigram_search

    df = spark.createDataFrame(
        [(0, "ab cd"), (1, "xy")], "doc_id bigint, text string"
    )
    got = {r.doc_id for r in trigram_search(df, "doc_id", "text", "ab").collect()}
    assert got == {0}


def test_column_entropy_constant_uniform_and_nulls(spark):
    import math

    from alaska_etl_spark.operators.text import column_entropy

    rows = [("a", 1, None), ("a", 2, None), ("a", 3, "x"), ("a", 4, "x")]
    df = spark.createDataFrame(rows, "const string, uniq int, half string")
    out = {r.column_name: r for r in column_entropy(df, ["const", "uniq", "half"]).collect()}
    # constant column: zero entropy, one distinct value
    assert (out["const"].n_distinct, out["const"].entropy_units) == (1, 0)
    # unique column: entropy = ln(4), each term ln(4)/4 quantized
    t = round(1e9 * (1 / 4) * (math.log(4) - math.log(1)))
    assert out["uniq"].n_distinct == 4 and out["uniq"].entropy_units == 4 * t
    # NULL counts as a category: two values at 50/50 -> ln 2
    th = round(1e9 * (2 / 4) * (math.log(4) - math.log(2)))
    assert out["half"].n_distinct == 2 and out["half"].entropy_units == 2 * th


def test_vocab_growth_counts_first_occurrences(spark):
    from alaska_etl_spark.operators.text import vocab_growth

    docs = [
        (0, "a b c"),        # batch 0: 3 new types, 3 tokens
        (1, "a b"),          # batch 0: nothing new
        (2, "c d"),          # batch 1: d new
        (3, "e e e"),        # batch 1: e new
        (4, "a d e"),        # batch 2: nothing new
        (5, "f"),            # batch 2: f new
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r.batch: r for r in vocab_growth(df, "doc_id", "text", n_batches=3).collect()}
    assert (out[0].n_docs, out[0].batch_tokens, out[0].new_types) == (2, 5, 3)
    assert (out[1].n_docs, out[1].batch_tokens, out[1].new_types) == (2, 5, 2)
    assert (out[2].n_docs, out[2].batch_tokens, out[2].new_types) == (2, 4, 1)
    assert [out[b].vocab_cum for b in (0, 1, 2)] == [3, 5, 6]
    assert [out[b].tokens_cum for b in (0, 1, 2)] == [5, 10, 14]
    assert [out[b].docs_cum for b in (0, 1, 2)] == [2, 4, 6]


def test_vocab_growth_total_vocab_is_distinct_type_count(spark):
    from alaska_etl_spark.operators.text import vocab_growth

    docs = [
        (i, " ".join(f"w{(i * j * 2654435761) % 37}" for j in range(1, 8)))
        for i in range(50)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = vocab_growth(df, "doc_id", "text", n_batches=5).orderBy("batch").collect()
    all_types = {
        w for _, t in docs for w in t.lower().split() if w
    }
    assert rows[-1].vocab_cum == len(all_types)
    assert rows[-1].docs_cum == 50
    assert sum(r.new_types for r in rows) == len(all_types)
    # monotone non-increasing marginal vocabulary is NOT guaranteed, but
    # cumulative counts must be strictly monotone in docs/tokens
    assert all(a.docs_cum < b.docs_cum for a, b in zip(rows, rows[1:]))


def test_fd_audit_detects_keys_and_violations(spark):
    from alaska_etl_spark.operators.text import fd_audit

    rows = [
        (1, "a", "x"),
        (2, "a", "x"),
        (3, "b", "x"),
        (4, "b", "y"),   # b -> {x, y}: cat->val violated
    ]
    df = spark.createDataFrame(rows, "id bigint, cat string, val string")
    out = {(r.determinant, r.dependent): r for r in fd_audit(df, ["id", "cat", "val"]).collect()}
    assert len(out) == 6
    # id is a key: determines everything
    assert out[("id", "cat")].holds and out[("id", "val")].holds
    # cat -> val violated only by group b (2 rows, fanout 2)
    r = out[("cat", "val")]
    assert (r.n_groups, r.violating_groups, r.violating_rows, r.max_fanout) == (2, 1, 2, 2)
    assert not r.holds
    # val -> cat: x maps to {a, b} (3 rows), y maps to {b}
    r2 = out[("val", "cat")]
    assert (r2.violating_groups, r2.violating_rows, r2.max_fanout) == (1, 3, 2)
    # cat -> id: both groups fan out
    assert out[("cat", "id")].violating_groups == 2


def test_fd_audit_null_is_a_value(spark):
    from alaska_etl_spark.operators.text import fd_audit

    rows = [(1, None), (2, None), (None, "x"), (None, "x")]
    df = spark.createDataFrame(rows, "a int, b string")
    out = {(r.determinant, r.dependent): r for r in fd_audit(df, ["a", "b"]).collect()}
    # NULL determinant groups together; here NULL -> x uniquely: holds
    assert out[("a", "b")].holds
    # b: NULL -> {1,2} violated; x -> NULL unique
    assert not out[("b", "a")].holds


def test_inclusion_audit_detects_fk_and_escapees(spark):
    from alaska_etl_spark.operators.text import inclusion_audit

    child = spark.createDataFrame([(1,), (1,), (2,), (3,)], "fk bigint")
    parent = spark.createDataFrame([(1,), (2,), (4,), (5,)], "pk bigint")
    out = {
        (r.from_table, r.to_table): r
        for r in inclusion_audit(
            [("child", child, "fk"), ("parent", parent, "pk")]
        ).collect()
    }
    c2p = out[("child", "parent")]
    # child distinct {1,2,3}: 3 escapes -> 1 missing, coverage 6667 bp
    assert (c2p.n_distinct, c2p.n_missing) == (3, 1)
    assert c2p.coverage_bp == (2 * 10000 * 2 + 3) // 6
    assert not c2p.holds
    p2c = out[("parent", "child")]
    assert (p2c.n_distinct, p2c.n_missing) == (4, 2)


def test_inclusion_audit_full_containment_holds(spark):
    from alaska_etl_spark.operators.text import inclusion_audit

    a = spark.createDataFrame([(i,) for i in (1, 2)], "k bigint")
    b = spark.createDataFrame([(i,) for i in (1, 2, 3)], "k bigint")
    out = {
        (r.from_table, r.to_table): r
        for r in inclusion_audit([("a", a, "k"), ("b", b, "k")]).collect()
    }
    assert out[("a", "b")].holds and out[("a", "b")].coverage_bp == 10000
    assert not out[("b", "a")].holds


def test_inclusion_audit_ignores_null_keys(spark):
    """NULL keys count on NEITHER side (FK semantics; also the NOT-IN
    oracle convention — ADVICE r6): a child whose only escapee is NULL
    still 'holds', and NULL never inflates n_distinct."""
    from alaska_etl_spark.operators.text import inclusion_audit

    child = spark.createDataFrame([(1,), (2,), (None,)], "fk bigint")
    parent = spark.createDataFrame([(1,), (2,), (None,)], "pk bigint")
    out = {
        (r.from_table, r.to_table): r
        for r in inclusion_audit(
            [("child", child, "fk"), ("parent", parent, "pk")]
        ).collect()
    }
    c2p = out[("child", "parent")]
    assert (c2p.n_distinct, c2p.n_missing) == (2, 0)
    assert c2p.holds and c2p.coverage_bp == 10000


def test_truncation_audit_query_hand_values(spark):
    from alaska_etl_spark.plans.queries import QUERIES
    import alaska_etl_spark.plans.queries as qmod

    # build a tiny documents table and run the registered query's core
    # via a temp sf_dir-free path: reuse the operator logic by fixture
    docs = [(1, " ".join(["w"] * 100)), (2, " ".join(["w"] * 300))]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    df.createOrReplaceTempView("_trunc_docs")
    from pyspark.sql import functions as F
    toks = F.size(F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")).cast("bigint")
    d = df.select(toks.alias("_n"))
    ctx = spark.createDataFrame([(128,), (256,)], "ctx bigint")
    from alaska_etl_spark.functions.fixedpoint import div_half_up_py
    out = (
        d.crossJoin(F.broadcast(ctx)).groupBy("ctx").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total"),
            F.sum(F.greatest(F.col("_n") - F.col("ctx"), F.lit(0))).alias("cut"),
            F.sum(F.least(F.col("_n"), F.col("ctx"))).alias("kept"),
        ).collect()
    )
    by = {r.ctx: r for r in out}
    # ctx 128: doc1 fits (100), doc2 cut by 172; kept 100+128
    assert (by[128].cut, by[128].kept, by[128].total) == (172, 228, 400)
    # ctx 256: doc2 cut by 44; kept 100+256
    assert (by[256].cut, by[256].kept) == (44, 356)
    # padding waste at 128: capacity 256, kept 228 -> 28/256
    assert div_half_up_py(28, 256, 10000) == round(10000 * 28 / 256)
