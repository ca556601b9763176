"""Linear-classifier TRAINING as exact integer relational algebra.

The quality-classifier step of a training-data pipeline (fastText-style
"keep what looks like good text") is usually an external model; the
batch PERCEPTRON brings the training loop itself into the engine in the
same exactly-replayable form as the k-means Lloyd loop
(operators/similarity._lloyd_cents): every quantity is a BIGINT,
so an external engine replays every iteration bit-for-bit — no
sigmoid/exp float surface at all (logistic regression's gradient needs
exp(); libm differences make that un-oracle-able, which is exactly why
the perceptron's integer update rule is the right in-engine form).

Batch (not online) perceptron on purpose: the update
``w += Σ_misclassified y·x`` is an order-free integer SUM — one
hash aggregate per iteration with map-side partials, and the driver
only ever holds the (k+1)-int weight vector. An online perceptron's
sequential updates would serialize the corpus through the driver.

Overflow bound (ANSI mode): |w_j| after T iterations ≤ T·N·max|x_j|,
and the margin dot adds another max|x_j|·k factor — at N = 10^10 docs,
T = 3, char-count features ≤ 2·10^3 and k = 5 that is ~4·10^16,
inside signed-64. Document counts beyond ~10^12 need feature scaling.

No reference parity: the reference has no ML surface (SURVEY §0); this
extends the beyond-reference training-pipeline family (SURVEY §2.14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.functions.localrel import local_df
from alaska_etl_spark.operators.dedup import word_tokens

# the five integer features (plus y) — shared by the Spark path and the
# DuckDB oracle builder so the two can never drift
EN_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that")
FEATURE_COLS = ("f0", "f1", "f2", "f3", "f4")


def text_label_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    *,
    positive_lang: str = "en",
) -> DataFrame:
    """Integer feature rows for the is-``positive_lang`` task:
    f0 bias, f1 token count, f2 English-stopword count, f3 non-ASCII
    byte surplus (octet_length − char length: 0 for pure ASCII, large
    for CJK), f4 char count; y = ±1. Pure codegen — one narrow pass."""
    toks = word_tokens(text_col)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return df.select(
        F.col(id_col).alias("_id"),
        F.when(F.col(lang_col) == positive_lang, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
        F.lit(1).cast("bigint").alias("f0"),
        F.size(toks).cast("bigint").alias("f1"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("bigint")
        .alias("f2"),
        (F.octet_length(text_col) - F.length(text_col)).cast("bigint").alias("f3"),
        F.length(text_col).cast("bigint").alias("f4"),
    )


def _margin(w: list[int]) -> Column:
    dot = F.lit(int(w[0])) * F.col("f0")
    for j in range(1, len(w)):
        dot = dot + F.lit(int(w[j])) * F.col(f"f{j}")
    return F.col("y") * dot


def train_step(feats: DataFrame, w: list[int]) -> tuple[int, list[int]]:
    """One batch-perceptron step against weights ``w``: returns
    ``(misclassified, update_sums)`` from a single map-side-combined
    aggregate; one iteration of the batch loop
    (:func:`perceptron_train`)."""
    miss = _margin(w) <= 0
    agg = feats.agg(
        F.sum(F.when(miss, 1).otherwise(0)).cast("bigint").alias("m"),
        *[
            F.sum(F.when(miss, F.col("y") * F.col(c)).otherwise(0))
            .cast("bigint")
            .alias(f"g{j}")
            for j, c in enumerate(FEATURE_COLS)
        ],
    ).collect()[0]
    return agg["m"] or 0, [agg[f"g{j}"] or 0 for j in range(len(FEATURE_COLS))]


def perceptron_train(feats: DataFrame, *, iters: int = 3) -> DataFrame:
    """Batch-perceptron iterations over (y, f0..f4) integer rows.

    Per iteration t (weights start at zero, so iteration 1 counts every
    row as misclassified — y·0 ≤ 0 — and w₁ is the class-weighted
    feature sum): misclassified = Σ 1[y·(w·x) ≤ 0], then
    w ← w + Σ_misclassified y·x. Emits one report row per iteration
    ``(iter, misclassified, w0..w4)`` with the POST-update weights —
    iters rows total, every value BIGINT.

    Scale shape: one full-corpus aggregate per iteration (map-side
    partial sums; the shuffle carries k+1 longs per partition), driver
    state is k+1 ints. The cost is iters corpus passes — the same
    bounded-iteration envelope as the k-means Lloyd loop, with an even
    smaller driver footprint."""
    spark = feats.sparkSession
    k = len(FEATURE_COLS)
    w = [0] * k
    rows = []
    for t in range(1, iters + 1):
        m, g = train_step(feats, w)
        w = [w[j] + g[j] for j in range(k)]
        rows.append((t, m, *w))
    schema = "iter int, misclassified bigint, " + ", ".join(
        f"w{j} bigint" for j in range(k)
    )
    return local_df(spark, rows, schema)


def perceptron_apply(feats: DataFrame, w: list[int], *, id_col: str = "_id") -> DataFrame:
    """Score rows with trained weights: integer ``margin = w·x`` and the
    keep/drop verdict ``margin > 0`` — the screening step a trained
    quality classifier exists for. Pure codegen projection (no shuffle,
    no Python); margins are BIGINT so the screen replays exactly."""
    dot = F.lit(int(w[0])) * F.col("f0")
    for j in range(1, len(w)):
        dot = dot + F.lit(int(w[j])) * F.col(f"f{j}")
    return feats.select(
        F.col(id_col),
        dot.cast("bigint").alias("margin"),
        (dot > 0).alias("keep"),
    )


def classification_report(feats: DataFrame, w: list[int]) -> DataFrame:
    """Confusion matrix + fixed-point precision/recall/accuracy for
    weights ``w`` over labeled feature rows — the evaluate step after
    :func:`perceptron_train` / :func:`perceptron_apply`. One map-side-
    combined aggregate; the rates use the shared integer round-half-up
    emit (functions/fixedpoint, 4dp), NULL when undefined (no predicted
    / no actual positives) rather than a fake 0."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    dot = F.lit(int(w[0])) * F.col("f0")
    for j in range(1, len(w)):
        dot = dot + F.lit(int(w[j])) * F.col(f"f{j}")
    pred_pos = dot > 0
    act_pos = F.col("y") > 0
    counts = feats.agg(
        F.sum(F.when(pred_pos & act_pos, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pred_pos & ~act_pos, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~pred_pos & ~act_pos, 1).otherwise(0)).cast("bigint").alias("tn"),
        F.sum(F.when(~pred_pos & act_pos, 1).otherwise(0)).cast("bigint").alias("fn"),
    )
    return counts.select(
        "tp",
        "fp",
        "tn",
        "fn",
        (div_half_up("tp", "nullif(tp + fp, 0)", 10000) / 10000.0).alias("precision"),
        (div_half_up("tp", "nullif(tp + fn, 0)", 10000) / 10000.0).alias("recall"),
        (div_half_up("tp + tn", "tp + fp + tn + fn", 10000) / 10000.0).alias("accuracy"),
    )


def naive_bayes_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    *,
    positive_lang: str = "en",
    scale: int = 10**8,
) -> DataFrame:
    """Binary multinomial Naive Bayes, trained AND applied in one pass
    — the generative sibling of the perceptron: per-document log-odds
    score (add-1 smoothed) and the keep verdict.

    Float discipline (the qf8/qe3 PSI protocol): every per-TOKEN
    log-ratio ``ln((c⁺+1)/(N⁺+V)) − ln((c⁻+1)/(N⁻+V))`` is computed
    once per DISTINCT vocabulary word, rounded half-away to 1e-8
    units, and stored as a BIGINT — document scores are then pure
    integer sums (aggregation-order-free), plus one equally-quantized
    prior ``ln((d⁺+1)/(d⁻+1))``. Both engines take ln of identical
    rational doubles; residual last-ulp libm divergence is absorbed by
    the 1e-8 rounding except at exact boundaries (the documented
    residual class — matches at all three SFs).

    Zero-token documents emit NO row (no evidence; the novelty_rate
    zero-denominator convention). Scale shape: one (token, class)
    aggregate (vocabulary-sized output, Heaps-law sublinear), a
    vocabulary-keyed join back onto the token stream, one doc-grain
    sum. The token stream is deliberately NOT persisted even though
    both the vocabulary aggregate and the scoring join consume it:
    caching the exploded rows measured 5.4 s vs 1.4 s re-tokenized at
    sf0.1 (SCALE.md "Persist-vs-recompute" — document-grain explosions
    deserialize slower than they recompute; at multi-TB scale flip
    this to a tracked_persist only if the SOURCE scan, not the
    explode, dominates). Columns: ``(id_col, score_units BIGINT,
    keep)``."""
    from alaska_etl_spark.cache import tracked_persist

    pos = F.col(lang_col) == positive_lang
    toks = df.select(
        F.col(id_col).alias("_id"),
        pos.alias("_pos"),
        F.explode(word_tokens(text_col)).alias("_w"),
    )
    vocab = toks.groupBy("_w").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).cast("bigint").alias("_cp"),
        F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).cast("bigint").alias("_cn"),
    )
    vocab = tracked_persist(vocab)
    # ONE driver round-trip for vocabulary totals + document priors +
    # the quantized prior (r13; was three serial jobs — tot, pri, and
    # a Range(1) job just to take the prior's ln on the JVM). The two
    # aggregates union into one collect whose branches run as sibling
    # stages of one job (vocab-cache build ∥ raw-document scan, guide
    # §2.6), and the prior rides the priors branch as a column —
    # F.log over the aggregate output evaluates the same JVM StrictMath
    # on the same exact doubles as the old literal form (doc counts are
    # far below 2^53, so the bigint+1 → double cast is exact).
    tot_b = vocab.agg(
        F.sum("_cp").cast("bigint").alias("_a"),
        F.sum("_cn").cast("bigint").alias("_b"),
        F.count(F.lit(1)).cast("bigint").alias("_c"),
    ).select(
        F.lit(0).alias("_k"), "_a", "_b", "_c",
        F.lit(None).cast("long").alias("_prior"),
    )
    pri_b = df.agg(
        F.count(F.when(pos, True)).cast("bigint").alias("_a"),
        F.count(F.when(~pos, True)).cast("bigint").alias("_b"),
    ).select(
        F.lit(1).alias("_k"), "_a", "_b",
        F.lit(None).cast("bigint").alias("_c"),
        # ln on the JVM (F.log), never in Python: one libm surface per engine
        F.round(
            F.lit(scale)
            * (F.log(F.col("_a") + F.lit(1)) - F.log(F.col("_b") + F.lit(1)))
        )
        .cast("long")
        .alias("_prior"),
    )
    got = {r["_k"]: r for r in tot_b.unionByName(pri_b).collect()}
    tot = got[0]
    npos, nneg, v = int(tot["_a"] or 0), int(tot["_b"] or 0), int(tot["_c"] or 0)
    prior = int(got[1]["_prior"])
    term = (
        F.log(F.col("_cp") + 1)
        - F.log(F.lit(float(npos + v)))
        - F.log(F.col("_cn") + 1)
        + F.log(F.lit(float(nneg + v)))
    )
    terms = vocab.select(
        "_w", F.round(F.lit(scale) * term).cast("long").alias("_t")
    )
    out = (
        toks.join(terms, "_w")
        .groupBy("_id")
        .agg(F.sum("_t").alias("_s"))
        .select(
            F.col("_id").alias(id_col),
            (F.col("_s") + F.lit(int(prior))).cast("bigint").alias("score_units"),
            ((F.col("_s") + F.lit(int(prior))) > 0).alias("keep"),
        )
    )
    return out


def perceptron_cv(
    feats: DataFrame, *, folds: int = 5, iters: int = 2
) -> DataFrame:
    """K-fold cross-validated perceptron evaluation — model selection
    entirely in-engine, exactly replayable. ``feats`` must carry an
    integer ``fold`` column (deterministic hash folds:
    ``splits.hash_bucket(id) % K`` — the same engine/SQL-twin
    arithmetic every split operator here uses). Per fold: train
    ``iters`` batch iterations on the other K−1 folds, then one
    held-out aggregate emits the confusion counts; accuracy is the
    shared 4dp round-half-up emit (NULL for an empty fold).

    Scale shape: K·(iters+1) map-side-combined aggregates over
    fold-filtered scans — no shuffle anywhere, driver state is K
    weight vectors of k+1 ints. Columns:
    ``(fold, tp, fp, tn, fn, accuracy)``."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up_py

    spark = feats.sparkSession
    k = len(FEATURE_COLS)
    rows = []
    for fold in range(folds):
        tr = feats.filter(F.col("fold") != fold)
        w = [0] * k
        for _ in range(iters):
            m, g = train_step(tr, w)
            w = [w[j] + g[j] for j in range(k)]
        te = feats.filter(F.col("fold") == fold)
        dot = F.lit(int(w[0])) * F.col("f0")
        for j in range(1, k):
            dot = dot + F.lit(int(w[j])) * F.col(f"f{j}")
        pred_pos, act_pos = dot > 0, F.col("y") > 0
        c = te.agg(
            F.sum(F.when(pred_pos & act_pos, 1).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when(pred_pos & ~act_pos, 1).otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when(~pred_pos & ~act_pos, 1).otherwise(0)).cast("bigint").alias("tn"),
            F.sum(F.when(~pred_pos & act_pos, 1).otherwise(0)).cast("bigint").alias("fn"),
        ).collect()[0]
        tp, fp, tn, fn = (int(c[x] or 0) for x in ("tp", "fp", "tn", "fn"))
        total = tp + fp + tn + fn
        acc = div_half_up_py(tp + tn, total, 10000) / 10000.0 if total else None
        rows.append((fold, tp, fp, tn, fn, acc))
    return local_df(
        spark,
        rows,
        "fold int, tp bigint, fp bigint, tn bigint, fn bigint, accuracy double",
    )


def roc_auc(
    scored: DataFrame,
    score_col: str,
    pos_col: str,
    *,
    scale: int = 10**6,
) -> DataFrame:
    """Exact ROC AUC of an integer scorer via the rank-sum
    (Mann-Whitney U) identity — model evaluation with NO float surface
    until the single final emit.

    With midrank tie handling, twice the U statistic is a pure integer:
    grouping rows by distinct score, ``2U = Σ_s cp(s)·(2·below(s) +
    cn(s))`` where ``below(s)`` is the count of negatives at strictly
    lower scores (each pos>neg pair contributes 2, each tied pair 1).
    ``AUC = 2U / (2·np·nn)`` leaves BIGINT only through the shared
    ``div_half_up`` emit at 1e-6 — so the value hash-matches any engine
    that can sort integers.

    Scale shape: one hash aggregate collapses the corpus to its
    DISTINCT-score frame (bounded by score cardinality, not rows), and
    the single-partition running-sum window runs over THAT reduced
    frame — the same post-aggregation-window discipline as qd0/qc9; at
    extreme score cardinality the ranking.global_ranks range-exchange
    tier substitutes. Overflow: 2·scale·2U ≤ scale·N² needs N ≤ ~3e6
    at the default 1e-6 scale; beyond that lower ``scale`` (documented,
    not asserted — the driver corpora are 5e2–5e3 rows).

    Returns one row ``(n_pos, n_neg, auc)``; ``auc`` NULL when either
    class is empty (undefined).
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up

    by_score = (
        scored.groupBy(F.col(score_col).alias("_score"))
        .agg(
            F.sum(F.when(F.col(pos_col), 1).otherwise(0)).cast("bigint").alias("_cp"),
            F.sum(F.when(F.col(pos_col), 0).otherwise(1)).cast("bigint").alias("_cn"),
        )
    )
    w = Window.orderBy("_score").rowsBetween(Window.unboundedPreceding, -1)
    cum = by_score.select(
        "_cp",
        "_cn",
        F.coalesce(F.sum("_cn").over(w), F.lit(0)).cast("bigint").alias("_below"),
    )
    agg = cum.agg(
        F.sum(F.col("_cp") * (2 * F.col("_below") + F.col("_cn")))
        .cast("bigint")
        .alias("_u2"),
        F.sum("_cp").cast("bigint").alias("n_pos"),
        F.sum("_cn").cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (
            div_half_up("_u2", "nullif(2 * n_pos * n_neg, 0)", scale) / float(scale)
        ).alias("auc"),
    )


def lift_gains(
    scored: DataFrame,
    score_col: str,
    pos_col: str,
    *,
    id_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Decile (k-bucket) lift & cumulative-gains table for an integer
    scorer — the model-evaluation view a ranking-based data filter is
    actually operated by ("keep the top 20% by classifier score: what
    share of the good documents does that capture?"), complementing
    the threshold-free AUC (:func:`roc_auc`) and the threshold-sweep
    PR curve (:func:`pr_curve`).

    Buckets come from :func:`~alaska_etl_spark.operators.ranking.
    global_ntile` over (−score, id) — exact ANSI ntile semantics on a
    range exchange, never a single-partition window, and the id
    tiebreaker makes the bucketing a total order any SQL engine
    replays. Per bucket: row and positive counts (exact BIGINTs),
    positive rate and cumulative-gain share in half-up 4dp basis
    points (``div_half_up``), and lift as ONE double division of the
    two exact bp integers — engine-identical IEEE.

    Returns (bucket, n, n_pos, pos_rate_bp, gain_bp, lift) ordered by
    bucket. Empty input → empty frame; all-negative input emits NULL
    gain/lift (0-denominator nullif convention, ADVICE r7)."""
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.ranking import global_ntile

    keyed = scored.select(
        F.col(id_col).alias("_id"),
        (-F.col(score_col)).cast("bigint").alias("_nscore"),
        F.col(pos_col).cast("boolean").alias("_pos"),
    )
    bucketed = global_ntile(keyed, ["_nscore", "_id"], buckets, bucket_col="bucket")
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    # cumulative + overall over the k-row bucket frame, not the data
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    enriched = per.select(
        "bucket",
        "n",
        "n_pos",
        F.sum("n_pos").over(w).cast("bigint").alias("_cum_pos"),
        F.sum("n").over(wall).cast("bigint").alias("_tot"),
        F.sum("n_pos").over(wall).cast("bigint").alias("_tot_pos"),
    )
    obp = div_half_up("_tot_pos", "_tot", 10000)
    rbp = div_half_up("n_pos", "n", 10000)
    return enriched.select(
        "bucket",
        "n",
        "n_pos",
        rbp.alias("pos_rate_bp"),
        div_half_up("_cum_pos", "nullif(_tot_pos, 0)", 10000).alias("gain_bp"),
        F.when(obp > 0, rbp.cast("double") / obp.cast("double")).alias("lift"),
    ).orderBy("bucket")


def chi2_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    *,
    positive_lang: str = "en",
    top_k: int = 50,
) -> DataFrame:
    """Chi-squared feature selection: the ``top_k`` vocabulary terms
    most associated with the is-``positive_lang`` label, by the 2×2
    presence/label χ² statistic.

    Exactness: all four cell counts and both margins are exact BIGINT
    document frequencies (presence = ``array_distinct`` of the shared
    tokenizer); χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is then emitted
    as ONE fixed-shape double expression — every input is an integer
    below 2⁵³ (exactly representable), and *,/ are IEEE-determined, so
    both engines produce bit-identical doubles as long as the
    association order matches (the docstring-pinned shape below; no
    libm calls anywhere). Degenerate margins (term in every/no doc, or
    a single-class corpus) emit 0.0 via nullif. Overflow bound:
    |ad−bc| ≤ np·nn ≤ N²/4 must stay < 2⁵³ pre-cast → N ≤ ~1.9e8 docs;
    beyond that square in DECIMAL.

    Scale shape: explode → one vocabulary-sized hash aggregate
    (map-side combined, Heaps-law sublinear) → broadcast of the 1-row
    totals frame → global top-k as sort-limit (TakeOrderedAndProject,
    no single-partition window). Ties at the k boundary break on term
    ASC in both engines.

    Returns ``(term, df_pos, df_neg, chi2)``.
    """
    pos = F.col(lang_col) == positive_lang
    pres = df.select(
        pos.alias("_pos"),
        F.explode(F.array_distinct(word_tokens(text_col))).alias("term"),
    )
    counts = pres.groupBy("term").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).cast("bigint").alias("df_pos"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).cast("bigint").alias("df_neg"),
    )
    totals = df.agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("bigint").alias("_np"),
        F.sum(F.when(pos, 0).otherwise(1)).cast("bigint").alias("_nn"),
    )
    joined = counts.crossJoin(F.broadcast(totals))
    # the pinned expression shape (oracle SQL mirrors it token-for-token):
    # N * (diff*diff) / (((present*absent)*np)*nn), diff = a*d - b*c
    chi2 = F.expr(
        "coalesce("
        "  CAST(_np + _nn AS DOUBLE)"
        "  * (CAST(df_pos * (_nn - df_neg) - df_neg * (_np - df_pos) AS DOUBLE)"
        "     * CAST(df_pos * (_nn - df_neg) - df_neg * (_np - df_pos) AS DOUBLE))"
        "  / (((CAST(nullif(df_pos + df_neg, 0) AS DOUBLE)"
        "       * CAST(nullif(_np + _nn - df_pos - df_neg, 0) AS DOUBLE))"
        "      * CAST(nullif(_np, 0) AS DOUBLE))"
        "     * CAST(nullif(_nn, 0) AS DOUBLE)),"
        "  0.0D)"
    )
    scoredv = joined.select(
        "term", "df_pos", "df_neg", F.round(chi2, 4).alias("chi2")
    )
    return scoredv.orderBy(F.col("chi2").desc(), F.col("term").asc()).limit(top_k)


def knn_classify(
    emb: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """k-nearest-neighbor majority-vote classifier over an embedding
    corpus — the non-parametric sibling of the perceptron/NB pair,
    built entirely from already-oracled pieces: the q27 4dp-rounded
    cosine top-k (self excluded, neighbor-id tie-breaks) feeds one
    (query, label) vote aggregate; the winning label is the top-1
    window row with votes DESC, label ASC tie-break, so the whole
    prediction is deterministic across engines and summation orders.

    Scale shape: inherits cosine_topk's broadcast-queries / one-corpus-
    scan plan (IVF-swappable at real scale), then a votes aggregate and
    a per-query top-1 window over ≤ |queries|·k rows. Returns
    ``(query_id, predicted_label, votes, true_label, correct)``.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.operators.similarity import cosine_topk

    topk = cosine_topk(
        emb, queries, id_col=id_col, vec_col=vec_col, k=k, round_digits=4
    )
    nbr_labels = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        topk.join(nbr_labels, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("_nl").asc()
    )
    top1 = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return top1.join(truth, "query_id").select(
        "query_id",
        F.col("_nl").alias("predicted_label"),
        "votes",
        "true_label",
        (F.col("_nl") == F.col("true_label")).alias("correct"),
    )


def pr_curve(
    scored: DataFrame,
    score_col: str,
    pos_col: str,
    *,
    scale: int = 10**4,
) -> DataFrame:
    """Precision/recall/F1 operating points at EVERY distinct score
    threshold (predict positive when score ≥ threshold) — the
    threshold-sweep companion of :func:`roc_auc`, same exactness
    discipline: cumulative tp/fp are BIGINT running sums over the
    distinct-score frame (descending), totals arrive by one broadcast
    of the 1-row totals aggregate, and precision / recall / F1 =
    2tp/(2tp+fp+fn) each leave integers only through the shared
    ``div_half_up`` emit at 1e-4.

    Scale shape: one hash aggregate to the distinct-score frame, one
    single-partition running-sum window over that reduced frame (the
    AUC/qd0 discipline — ranking.global_ranks substitutes at extreme
    score cardinality), one broadcast-totals cross join. Output is one
    row per distinct score: ``(threshold, tp, fp, fn, precision,
    recall, f1)``.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up

    # Totals read off the by_score frame instead of a second pass over
    # `scored` (r12): Σ per-score positives IS the positives total, and
    # both consumers of by_score sit above its aggregation Exchange, so
    # runtime exchange reuse computes the scoring chain once — no
    # persist needed (a tracked_persist here A/B'd slightly slower on
    # cold, med 1.17 → 1.26 s at sf0.1).
    by_score = scored.groupBy(F.col(score_col).alias("threshold")).agg(
        F.sum(F.when(F.col(pos_col), 1).otherwise(0)).cast("bigint").alias("_cp"),
        F.sum(F.when(F.col(pos_col), 0).otherwise(1)).cast("bigint").alias("_cn"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = by_score.select(
        "threshold",
        F.sum("_cp").over(w).cast("bigint").alias("tp"),
        F.sum("_cn").over(w).cast("bigint").alias("fp"),
    )
    totals = by_score.agg(
        F.coalesce(F.sum("_cp"), F.lit(0)).cast("bigint").alias("_np")
    )
    out = cum.crossJoin(F.broadcast(totals)).select(
        "threshold",
        "tp",
        "fp",
        (F.col("_np") - F.col("tp")).cast("bigint").alias("fn"),
        (div_half_up("tp", "nullif(tp + fp, 0)", scale) / float(scale)).alias(
            "precision"
        ),
        (div_half_up("tp", "nullif(_np, 0)", scale) / float(scale)).alias("recall"),
        (
            div_half_up("2 * tp", "nullif(tp + fp + _np, 0)", scale) / float(scale)
        ).alias("f1"),
    )
    return out


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 1024,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashing-trick bag-of-words featurizer (fastText/Vowpal style):
    every token maps to ``hash(token) % n_buckets``, giving a FIXED
    feature dimensionality with no vocabulary table at all — the
    featurizer a linear quality classifier actually uses at corpus
    scale, where a materialized vocabulary is itself a shuffle.

    Long-form sparse output ``(id_col, bucket, cnt)`` — exact integer
    counts, ready for the perceptron's Σ y·x aggregate form or an
    embedding-style gather. Two hash lanes, the q29/q43 discipline:
    ``xxhash64`` (engine-private, fastest) as the production default
    and ``md5`` (the engine-portable lane) when an external engine
    must reproduce bucket assignment bit-for-bit.

    Scale shape: tokenize + explode + ONE (id, bucket)-keyed map-side-
    combined aggregate; output is bounded by min(tokens,
    docs·n_buckets) rows. No vocabulary state, no second pass, no
    driver materialization — the whole point of the hashing trick.
    """
    from alaska_etl_spark.operators.dedup import _token_hash31, word_tokens

    toks = df.select(
        F.col(id_col),
        F.explode(word_tokens(text_col)).alias("_w"),
    )
    bucket = F.pmod(_token_hash31("_w", hash_fn), F.lit(n_buckets)).cast("int")
    return (
        toks.select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def reliability_diagram(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    score_scale: int = 10**8,
    unit_scale: int = 10**6,
    order_cols: "list[str] | None" = None,
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for a
    log-odds scorer — the calibration axis the evaluation tier lacked:
    ROC AUC ranks, PR curves trade off, lift/gains prioritize,
    but none of them say whether "score 0.9" MEANS 90% — and a data
    -quality gate that thresholds on a miscalibrated score admits the
    wrong mass. Guo et al. '17's equal-COUNT binning variant (score
    deciles, not fixed-width probability bins), which keeps every bin
    populated and makes the whole computation exact-integer-friendly.

    Float protocol: scores arrive as exact BIGINT log-odds units (the
    qg5 convention, ``score_scale`` units per nat); each row's
    confidence is ONE pinned double chain ``1/(1+exp(−score/scale))``
    quantized to ``unit_scale`` units (round half away from zero — the
    quantized-ln discipline, so the per-bin SUM is an order-free BIGINT
    reduction); bin membership comes from the DISTRIBUTED global ntile
    over the exact (score, *order_cols) total order (``order_cols``
    must break score ties or bins are partition-dependent — same
    contract as mase_report). Per bin: n, mean confidence and
    empirical accuracy via the shared half-up division, |conf − acc|
    gap; one ``_total`` row (bin −1) carries ECE = Σ n_b·gap_b / N —
    an exact BIGINT dot product over bins, divided once.

    Returns (bin, n_rows, conf_units, acc_units, gap_units) ordered by
    bin, the −1 ECE row first (conf/acc NULL there: a weighted-average
    confidence would restate the corpus mean, not calibration).
    """
    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.ranking import global_ntile

    order = [score_col] + list(order_cols or [])
    s = F.col(score_col).cast("double") / F.lit(float(score_scale))
    conf = F.round(
        F.lit(float(unit_scale)) * (F.lit(1.0) / (F.lit(1.0) + F.exp(-s)))
    ).cast("bigint")
    binned = global_ntile(
        df.select(
            *[F.col(c) for c in dict.fromkeys(order)],
            conf.alias("_conf"),
            F.col(label_col).cast("boolean").alias("_pos"),
        ),
        order,
        n_bins,
        bucket_col="_bin",
    )
    per_bin = binned.groupBy("_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("_conf").cast("bigint").alias("_sc"),
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).cast("bigint").alias("_np"),
    ).select(
        F.col("_bin").cast("bigint").alias("bin"),
        "n_rows",
        div_half_up("_sc", "n_rows").alias("conf_units"),
        div_half_up(f"{unit_scale} * _np", "n_rows").alias("acc_units"),
    ).withColumn(
        "gap_units", F.abs(F.col("conf_units") - F.col("acc_units")).cast("bigint")
    )
    total = per_bin.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(F.col("n_rows") * F.col("gap_units")).cast("bigint").alias("_w"),
    ).select(
        F.lit(-1).cast("bigint").alias("bin"),
        "n_rows",
        F.lit(None).cast("bigint").alias("conf_units"),
        F.lit(None).cast("bigint").alias("acc_units"),
        div_half_up("_w", "n_rows").alias("gap_units"),
    )
    return per_bin.unionByName(total).orderBy("bin")
