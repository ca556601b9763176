"""Batch perceptron (operators/classifier.py): integer-exact training
mechanics, convergence on separable data, feature extraction."""

from __future__ import annotations

from alaska_etl_spark.operators.classifier import (
    FEATURE_COLS,
    perceptron_train,
    text_label_features,
)


def _feat_rows(spark, rows):
    # (y, f0..f4) pre-built integer feature rows
    return spark.createDataFrame(
        rows, "y bigint, f0 bigint, f1 bigint, f2 bigint, f3 bigint, f4 bigint"
    )


def test_perceptron_converges_on_separable_data(spark):
    # +1 class: f1 large; -1 class: f1 small — linearly separable with
    # the bias; batch updates must reach 0 misclassified and then
    # freeze (no update when nothing is misclassified)
    rows = [(1, 1, 10, 0, 0, 0), (1, 1, 12, 0, 0, 0)] + [
        (-1, 1, 1, 0, 0, 0),
        (-1, 1, 2, 0, 0, 0),
    ]
    out = {r.iter: r for r in perceptron_train(_feat_rows(spark, rows), iters=10).collect()}
    ms = [out[t].misclassified for t in sorted(out)]
    assert 0 in ms  # converged at some iteration
    first_zero = ms.index(0) + 1
    # after convergence: misclassified stays 0 and weights freeze
    for t in range(first_zero, 10 + 1):
        assert out[t].misclassified == 0
        assert [out[t][f"w{j}"] for j in range(5)] == [
            out[first_zero][f"w{j}"] for j in range(5)
        ]


def test_perceptron_matches_python_replica(spark):
    import random

    rng = random.Random(7)
    rows = [
        (
            rng.choice([1, -1]),
            1,
            rng.randint(0, 40),
            rng.randint(0, 8),
            rng.randint(0, 100),
            rng.randint(10, 300),
        )
        for _ in range(120)
    ]
    got = {
        r.iter: (r.misclassified, tuple(r[f"w{j}"] for j in range(5)))
        for r in perceptron_train(_feat_rows(spark, rows), iters=4).collect()
    }
    w = [0] * 5
    want = {}
    for t in range(1, 5):
        miss = [(y, f) for (y, *f) in rows if y * sum(w[j] * f[j] for j in range(5)) <= 0]
        g = [sum(y * f[j] for y, f in miss) for j in range(5)]
        w = [w[j] + g[j] for j in range(5)]
        want[t] = (len(miss), tuple(w))
    assert got == want


def test_perceptron_empty_corpus(spark):
    out = perceptron_train(_feat_rows(spark, []), iters=3).collect()
    assert len(out) == 3
    for r in out:
        assert r.misclassified == 0
        assert all(r[f"w{j}"] == 0 for j in range(5))


def test_text_label_features_integers(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog", "en"), (2, "süß straße", "de")],
        "doc_id bigint, text string, lang string",
    )
    rows = {r._id: r for r in text_label_features(df, "doc_id", "text", "lang").collect()}
    assert rows[1].y == 1 and rows[2].y == -1
    assert rows[1].f1 == 5  # tokens
    assert rows[1].f2 == 3  # 'the' x2 (lowered) + 'and'
    assert rows[1].f3 == 0  # pure ASCII
    assert rows[2].f3 == 3  # ü, ü, ß are 2-byte chars
    assert rows[2].f4 == len("süß straße")
    assert list(rows[1].asDict())[2:] == list(FEATURE_COLS)


def test_perceptron_apply_screens_by_margin(spark):
    from alaska_etl_spark.operators.classifier import perceptron_apply

    feats = spark.createDataFrame(
        [(1, 1, 1, 10, 0, 0, 0), (2, -1, 1, 1, 0, 0, 0), (3, 1, 1, 3, 0, 0, 0)],
        "_id bigint, y bigint, f0 bigint, f1 bigint, f2 bigint, f3 bigint, f4 bigint",
    )
    w = [-10, 3, 0, 0, 0]  # margin = 3*f1 - 10
    out = {r._id: (r.margin, r.keep) for r in perceptron_apply(feats, w).collect()}
    assert out == {1: (20, True), 2: (-7, False), 3: (-1, False)}


def test_classification_report_counts_and_rates(spark):
    from alaska_etl_spark.operators.classifier import classification_report

    feats = spark.createDataFrame(
        [
            (1, 1, 1, 10, 0, 0, 0),   # pred +, actual + -> TP
            (2, 1, 1, 1, 0, 0, 0),    # pred -, actual + -> FN
            (3, -1, 1, 8, 0, 0, 0),   # pred +, actual - -> FP
            (4, -1, 1, 2, 0, 0, 0),   # pred -, actual - -> TN
        ],
        "_id bigint, y bigint, f0 bigint, f1 bigint, f2 bigint, f3 bigint, f4 bigint",
    )
    w = [-10, 3, 0, 0, 0]  # margin = 3*f1 - 10: positive iff f1 >= 4
    r = classification_report(feats, w).collect()[0]
    assert (r.tp, r.fp, r.tn, r.fn) == (1, 1, 1, 1)
    assert r.precision == 0.5 and r.recall == 0.5 and r.accuracy == 0.5


def test_classification_report_undefined_rates_are_null(spark):
    from alaska_etl_spark.operators.classifier import classification_report

    # all predicted negative, all actual negative: precision AND recall
    # have empty denominators -> NULL, accuracy 1.0
    feats = spark.createDataFrame(
        [(1, -1, 1, 1, 0, 0, 0), (2, -1, 1, 2, 0, 0, 0)],
        "_id bigint, y bigint, f0 bigint, f1 bigint, f2 bigint, f3 bigint, f4 bigint",
    )
    r = classification_report(feats, [-10, 0, 0, 0, 0]).collect()[0]
    assert (r.tp, r.fp, r.tn, r.fn) == (0, 0, 2, 0)
    assert r.precision is None and r.recall is None and r.accuracy == 1.0


def test_naive_bayes_separates_disjoint_vocab(spark):
    from alaska_etl_spark.operators.classifier import naive_bayes_scores

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma", "en"),
            (2, "beta alpha alpha", "en"),
            (3, "uno dos tres uno", "es"),
            (4, "dos uno tres", "es"),
            (5, "", "en"),  # zero tokens -> no row
        ],
        "doc_id bigint, text string, lang string",
    )
    out = {r.doc_id: r for r in naive_bayes_scores(df, "doc_id", "text", "lang").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].keep and out[2].keep
    assert not out[3].keep and not out[4].keep
    assert out[1].score_units > 0 > out[3].score_units


def test_naive_bayes_matches_python_replica(spark):
    import math
    from collections import Counter

    from alaska_etl_spark.operators.classifier import naive_bayes_scores

    docs = [
        (1, "a b c a", "en"),
        (2, "b c d", "en"),
        (3, "c d e e", "de"),
        (4, "a e d", "de"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, lang string")
    got = {
        r.doc_id: r.score_units
        for r in naive_bayes_scores(df, "doc_id", "text", "lang").collect()
    }

    cp, cn = Counter(), Counter()
    pd_ = nd_ = 0
    for _, text, lang in docs:
        toks = text.lower().split()
        if lang == "en":
            cp.update(toks)
            pd_ += 1
        else:
            cn.update(toks)
            nd_ += 1
    vocab = set(cp) | set(cn)
    npos, nneg, v = sum(cp.values()), sum(cn.values()), len(vocab)
    scale = 10**8

    def rnd(x):
        return int(math.floor(abs(x) * scale + 0.5)) * (1 if x >= 0 else -1)

    terms = {
        w: rnd(
            math.log(cp[w] + 1)
            - math.log(npos + v)
            - math.log(cn[w] + 1)
            + math.log(nneg + v)
        )
        for w in vocab
    }
    prior = rnd(math.log(pd_ + 1) - math.log(nd_ + 1))
    want = {
        d: sum(terms[w] for w in text.lower().split()) + prior
        for d, text, _ in docs
    }
    assert got == want


def test_perceptron_cv_folds_partition_and_counts_sum(spark):
    from alaska_etl_spark.operators.classifier import perceptron_cv, text_label_features
    from alaska_etl_spark.operators.splits import hash_bucket
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"token{i % 7} the filler text number {i}", "en" if i % 3 == 0 else "de")
         for i in range(60)],
        "doc_id bigint, text string, lang string",
    )
    feats = text_label_features(df, "doc_id", "text", "lang").withColumn(
        "fold", (hash_bucket("_id") % 5).cast("int")
    )
    out = perceptron_cv(feats, folds=5, iters=2).collect()
    assert sorted(r.fold for r in out) == [0, 1, 2, 3, 4]
    # every document evaluated exactly once across folds
    assert sum(r.tp + r.fp + r.tn + r.fn for r in out) == 60
    for r in out:
        total = r.tp + r.fp + r.tn + r.fn
        if total:
            assert abs(r.accuracy - (r.tp + r.tn) / total) < 1e-4
        else:
            assert r.accuracy is None


# --- roc_auc ---------------------------------------------------------


def _auc_df(spark, pairs):
    # (score BIGINT, pos BOOLEAN)
    return spark.createDataFrame(pairs, "s bigint, pos boolean")


def test_roc_auc_perfect_and_inverted(spark):
    from alaska_etl_spark.operators.classifier import roc_auc

    perfect = [(10, True), (9, True), (2, False), (1, False)]
    r = roc_auc(_auc_df(spark, perfect), "s", "pos").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (2, 2, 1.0)
    inverted = [(s, not p) for s, p in perfect]
    r = roc_auc(_auc_df(spark, inverted), "s", "pos").collect()[0]
    assert r.auc == 0.0


def test_roc_auc_ties_midrank(spark):
    from alaska_etl_spark.operators.classifier import roc_auc

    # all scores equal -> AUC exactly 0.5 regardless of class sizes
    rows = [(5, True)] * 3 + [(5, False)] * 7
    r = roc_auc(_auc_df(spark, rows), "s", "pos").collect()[0]
    assert r.auc == 0.5
    # one pos above, one tied, one below a single neg: pairs = 1 + 0.5 + 0
    rows = [(3, True), (2, True), (1, True), (2, False)]
    r = roc_auc(_auc_df(spark, rows), "s", "pos").collect()[0]
    assert r.auc == 0.5


def test_roc_auc_matches_fraction_replica(spark):
    import random
    from fractions import Fraction

    from alaska_etl_spark.operators.classifier import roc_auc

    rng = random.Random(11)
    rows = [(rng.randint(-5, 5), rng.random() < 0.4) for _ in range(200)]
    r = roc_auc(_auc_df(spark, rows), "s", "pos").collect()[0]
    pos = sorted(s for s, p in rows if p)
    neg = sorted(s for s, p in rows if not p)
    u2 = sum(2 for sp in pos for sn in neg if sp > sn) + sum(
        1 for sp in pos for sn in neg if sp == sn
    )
    want = Fraction(u2, 2 * len(pos) * len(neg))
    # div_half_up emit at 1e-6
    units = (2 * 10**6 * want.numerator + want.denominator) // (2 * want.denominator)
    assert r.auc == units / 1e6
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))


def test_roc_auc_single_class_is_null(spark):
    from alaska_etl_spark.operators.classifier import roc_auc

    r = roc_auc(_auc_df(spark, [(1, True), (2, True)]), "s", "pos").collect()[0]
    assert r.auc is None and r.n_neg == 0


# --- chi2_features ---------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_chi2_independent_term_scores_zero(spark):
    from alaska_etl_spark.operators.classifier import chi2_features

    # "both" appears in every doc of each class at the same rate -> chi2 0;
    # "only" appears only in en docs -> maximal association
    rows = [
        (0, "both only", "en"),
        (1, "both only", "en"),
        (2, "both", "fr"),
        (3, "both", "fr"),
    ]
    out = {
        r.term: r for r in chi2_features(_docs(spark, rows), "doc_id", "text", "lang").collect()
    }
    assert out["both"].chi2 == 0.0  # present in all docs: degenerate margin
    assert out["only"].chi2 == 4.0  # N=4, perfect split
    assert (out["only"].df_pos, out["only"].df_neg) == (2, 0)


def test_chi2_matches_python_replica_and_topk_order(spark):
    import random

    from alaska_etl_spark.operators.classifier import chi2_features

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(80):
        lang = "en" if rng.random() < 0.5 else "de"
        # bias some words toward en
        words = {
            w
            for w in vocab
            if rng.random() < (0.6 if (lang == "en") == (hash(w) % 2 == 0) else 0.2)
        }
        rows.append((i, " ".join(sorted(words)), lang))
    out = chi2_features(_docs(spark, rows), "doc_id", "text", "lang", top_k=10).collect()
    # python replica
    np_ = sum(1 for _, _, l in rows if l == "en")
    nn_ = len(rows) - np_
    want = []
    for w in vocab:
        a = sum(1 for _, t, l in rows if l == "en" and w in t.split())
        b = sum(1 for _, t, l in rows if l != "en" and w in t.split())
        c, d = np_ - a, nn_ - b
        den = (a + b) * (c + d) * np_ * nn_
        chi2 = 0.0 if den == 0 else round((np_ + nn_) * (float(a * d - b * c) ** 2) / den, 4)
        want.append((w, chi2))
    want.sort(key=lambda x: (-x[1], x[0]))
    assert [(r.term, r.chi2) for r in out] == want[:10]


# --- knn_classify ----------------------------------------------------


def test_knn_classify_majority_and_tiebreak(spark):
    from alaska_etl_spark.operators.classifier import knn_classify

    # 2-d embeddings: cluster A around (1,0) label 0, cluster B around
    # (0,1) label 1; one query point in A must be classified 0
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.95, 0.05], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = knn_classify(emb, emb.filter("vec_id = 0"), k=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.query_id, r.predicted_label, r.true_label, r.correct) == (0, 0, 0, True)
    assert r.votes == 2  # neighbors 1,2 (label 0) + 3 or 4 (label 1)


def test_knn_classify_vote_tie_prefers_smaller_label(spark):
    from alaska_etl_spark.operators.classifier import knn_classify

    # k=2: one neighbor of each label equidistant -> tie -> smaller label
    rows = [
        (0, [1.0, 0.0], 9),
        (1, [0.0, 1.0], 2),
        (2, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = knn_classify(emb, emb.filter("vec_id = 0"), k=2).collect()
    assert out[0].predicted_label == 1
    assert out[0].correct is False


# --- pr_curve --------------------------------------------------------


def test_pr_curve_hand_example(spark):
    from alaska_etl_spark.operators.classifier import pr_curve

    # scores desc: 4(P) 3(N) 2(P) 1(N)
    rows = [(4, True), (3, False), (2, True), (1, False)]
    out = {r.threshold: r for r in pr_curve(_auc_df(spark, rows), "s", "pos").collect()}
    assert len(out) == 4
    r4 = out[4]
    assert (r4.tp, r4.fp, r4.fn) == (1, 0, 1)
    assert (r4.precision, r4.recall) == (1.0, 0.5)
    assert r4.f1 == round(2 * 1 / (2 * 1 + 0 + 1), 4)  # 2tp/(2tp+fp+fn)
    r1 = out[1]
    assert (r1.tp, r1.fp, r1.fn) == (2, 2, 0)
    assert (r1.precision, r1.recall) == (0.5, 1.0)
    # recall is monotone nonincreasing as threshold rises
    recalls = [out[t].recall for t in sorted(out)]
    assert recalls == sorted(recalls, reverse=True)


def test_pr_curve_groups_tied_scores(spark):
    from alaska_etl_spark.operators.classifier import pr_curve

    rows = [(5, True), (5, False), (5, True)]
    out = pr_curve(_auc_df(spark, rows), "s", "pos").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.tp, r.fp, r.fn) == (2, 1, 0)


def test_hashed_features_counts_and_lane_equivalence(spark):
    import hashlib

    from alaska_etl_spark.operators.classifier import hashed_features

    docs = [(0, "a b a"), (1, "b c"), (2, "")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = hashed_features(df, "doc_id", "text", n_buckets=8, hash_fn="md5").collect()
    got = {(r.doc_id, r.bucket): r.cnt for r in out}

    def bucket(w):
        return (int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % (1 << 31)) % 8

    want = {}
    for did, text in docs:
        for w in text.split():
            key = (did, bucket(w))
            want[key] = want.get(key, 0) + 1
    assert got == want  # doc 2 (empty) emits nothing
    # per-doc total counts equal token counts regardless of lane
    for lane in ("md5", "xxhash64"):
        rows = hashed_features(df, "doc_id", "text", n_buckets=8, hash_fn=lane).collect()
        per_doc = {}
        for r in rows:
            per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.cnt
            assert 0 <= r.bucket < 8
        assert per_doc == {0: 3, 1: 2}


def test_lift_gains_hand_case(spark):
    from alaska_etl_spark.operators.classifier import lift_gains

    # 20 rows, scores descending by id; positives are the top 5 ids
    rows = [(i, 100 - i, i <= 5) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "id bigint, score bigint, pos boolean")
    out = {r.bucket: r for r in lift_gains(
        df, "score", "pos", id_col="id", buckets=4
    ).collect()}
    assert [out[b].n for b in (1, 2, 3, 4)] == [5, 5, 5, 5]
    assert out[1].n_pos == 5 and out[2].n_pos == 0
    assert out[1].pos_rate_bp == 10000 and out[1].gain_bp == 10000
    assert out[1].lift == 10000 / 2500  # bucket rate / overall rate
    assert out[4].gain_bp == 10000  # cumulative reaches 1 at the end


def test_lift_gains_all_negative_emits_null_gain(spark):
    from alaska_etl_spark.operators.classifier import lift_gains

    df = spark.createDataFrame(
        [(i, i, False) for i in range(1, 9)], "id bigint, score bigint, pos boolean"
    )
    rows = lift_gains(df, "score", "pos", id_col="id", buckets=2).collect()
    assert all(r.gain_bp is None and r.lift is None for r in rows)
    assert all(r.pos_rate_bp == 0 for r in rows)


def test_reliability_diagram_hand_computed(spark):
    # r10 X171: 4 rows, 2 bins over the exact (score, id) order.
    # scores in 1e-8 log-odds units: 0 -> conf 0.5; big +/- saturate.
    from alaska_etl_spark.operators.classifier import reliability_diagram

    rows = [
        (1, -10**10, False),   # sigmoid(-100) ~ 0      -> bin 1
        (2, 0, False),         # 0.5                    -> bin 1
        (3, 0, True),          # 0.5 (tie, id breaks)   -> bin 2
        (4, 10**10, True),     # sigmoid(100) ~ 1       -> bin 2
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, s bigint, y boolean")
    out = reliability_diagram(
        df, "s", "y", n_bins=2, order_cols=["doc_id"]
    ).collect()
    by = {r["bin"]: r for r in out}
    assert set(by) == {-1, 1, 2}
    # bin 1: confs {0, 500000} -> mean 250000; acc 0
    assert by[1]["n_rows"] == 2 and by[1]["conf_units"] == 250000
    assert by[1]["acc_units"] == 0 and by[1]["gap_units"] == 250000
    # bin 2: confs {500000, 1000000} -> 750000; acc 1000000
    assert by[2]["conf_units"] == 750000 and by[2]["acc_units"] == 1000000
    assert by[2]["gap_units"] == 250000
    # ECE row: weighted gap = (2*250000 + 2*250000)/4 = 250000
    t = by[-1]
    assert t["n_rows"] == 4 and t["gap_units"] == 250000
    assert t["conf_units"] is None and t["acc_units"] is None
