"""Count-based bigram language-model scoring — the CCNet/KenLM-shaped
quality signal for training-data pipelines: score each document by how
surprising its token sequence is under a reference LM; outlier
perplexity (both tails) marks boilerplate, spam, and non-language.

Spark-first formulation, no UDFs anywhere:

- **Train** (:func:`train_bigram_lm`): token bigrams via one
  ``transform`` over the token array (narrow) → two hash aggregates
  (bigram counts, unigram-context counts). The model IS a pair of
  DataFrames — at 100 TB the counts tables are vocabulary-sized, get
  written like any other table, and scoring joins against them.
- **Score** (:func:`domain_relevance_weights`): explode each scored
  document's bigrams, left-join the counts (unseen bigram → 0, unseen
  context → 0), per-bigram add-one-smoothed negative log likelihood
  ``-ln((c12 + 1) / (c1 + V))`` entirely in codegen, one aggregate
  back to document grain. :func:`bigram_lm_scores` scores a corpus
  under its own model with windows instead of joins. Perplexity =
  ``exp(avg_nll)``.

Join strategy: the counts tables are |vocab| and |vocab²∩corpus| rows;
AQE broadcasts them while they fit and degrades to a shuffle join on
the token key when they don't (a web-scale bigram table outgrows a
broadcast — that join shuffles scored bigrams ON the bigram, which is
exactly the key both sides already aggregate on).

Determinism contract: every count is an exact integer; the only float
work is ``ln`` per bigram and one average per document, rounded before
emit (and perplexity computed from the *rounded* average), so a SQL
oracle reproduces results bit-for-bit at the emitted precision.

Smoothing is add-one (Laplace) over the TRAINING vocabulary size V —
deliberately the simplest standard scheme: the operator contract
(counts + smoothed join + aggregate) is identical for Kneser-Ney etc.,
which only change the per-bigram probability expression.

Reference parity: no LM in the reference; BASELINE.md training-data
extension ("quality scoring" family, the model-based tier above
q23's surface heuristics).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.cache import tracked_persist

from alaska_etl_spark.operators.dedup import word_tokens
from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

__all__ = [
    "BigramLM",
    "train_bigram_lm",
    "bigram_lm_scores",
    "domain_relevance_weights",
]


class BigramLM(NamedTuple):
    """A trained model: two counts tables + the vocabulary size (a
    1-row DataFrame, kept lazy so nothing collects at train time)."""

    bigrams: DataFrame  # (_w1, _w2, _c12)
    contexts: DataFrame  # (_w1, _c1)
    vocab: DataFrame  # (_V)


def _token_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text) → (_id, _tk array<string>): the tokenized corpus at
    document grain — one regex tokenize pass; everything downstream
    (bigram rows, vocabulary) derives from it. Narrow inputs are
    repartitioned first: compact corpus files would otherwise run the
    explode → ln-scoring pipeline on one core (no-op at scale — see
    operators/parallelism.py)."""
    df = ensure_min_parallelism(df, id_col)
    return df.select(F.col(id_col).alias("_id"), word_tokens(text_col).alias("_tk"))


def _rows_from_tokens(toks_df: DataFrame) -> DataFrame:
    """(_id, _tk) → (_id, _w1, _w2): one row per adjacent token pair.
    Documents with < 2 tokens contribute no rows (handled by the
    scorer's left join back to the document set).

    ``arrays_zip(tk, slice(tk, 2, n-1))``, NOT ``zip_with``: zip_with/
    transform lambdas run INTERPRETED per element, and this explode was
    the hottest step of the whole LM chain (VERDICT r4 perf #1).
    arrays_zip and slice are ordinary codegen expressions, so the pair
    construction stays inside WholeStageCodegen. arrays_zip pads the
    shorter array with NULL, which marks exactly the ragged tail pair
    (tokens themselves are never NULL — word_tokens drops empties), so
    one IS NOT NULL filter recovers the n-1 true bigrams. Field names:
    '_tk' (attribute passes its name through) and '1' (positional for
    the slice expression) — pinned by tests/test_lm.py."""
    tk = F.col("_tk")
    pairs = F.arrays_zip(tk, F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))))
    return (
        toks_df.select("_id", F.explode(pairs).alias("_p"))
        .filter(F.col("_p")["1"].isNotNull())
        .select(
            "_id",
            F.col("_p")["_tk"].alias("_w1"),
            F.col("_p")["1"].alias("_w2"),
        )
    )


def _bigram_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text) → (_id, _w1, _w2) — tokenize + pair in one chain."""
    return _rows_from_tokens(_token_table(df, id_col, text_col))


def train_bigram_lm(df: DataFrame, id_col: str, text_col: str) -> BigramLM:
    """Count tables from a training corpus. Two shuffles, both keyed on
    tokens (uniform-ish; the hot-token reduce side is one row per
    distinct key after map-side partial aggregation)."""
    rows = _bigram_rows(df, id_col, text_col)
    # NOT persisted (r12, measured): contexts and every scorer join
    # re-plan the bigram-count subtree, but it is an aggregate — the
    # copies sit above its Exchange and runtime exchange reuse computes
    # it once (persisting A/B'd slower on q94, cold med 1.29 → 1.95 s
    # at sf0.1: the cache build serializes what reuse ran shared).
    bigrams = rows.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c12"))
    contexts = bigrams.groupBy("_w1").agg(F.sum("_c12").alias("_c1"))
    vocab = (
        df.select(F.explode(word_tokens(text_col)).alias("_w"))
        .agg(F.countDistinct("_w").alias("_V"))
    )
    return BigramLM(bigrams=bigrams, contexts=contexts, vocab=vocab)


def bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    round_digits: int = 6,
    ppl_digits: int = 4,
) -> DataFrame:
    """Self-scoring convenience: train on ``df`` and score ``df`` —
    the in-corpus outlier-detection form.

    Plan: the r5 "one exchange + one shared sort" window specialization
    — ``_c12 = count() OVER (PARTITION BY _w1, _w2)`` and ``_c1`` as a
    full-frame count over ``(PARTITION BY _w1 ORDER BY _w2)`` are
    exactly the trained counts every bigram row would have joined, and
    both windows share one (_w1, _w2) sort under one HashPartitioning
    (_w1) exchange — with two r6 changes measured head-to-head by
    tools/q89_anatomy.py (VERDICT r5 #3, full table in SCALE.md
    "q89 anatomy"):

    - NO document-grain token cache. The r5 form persisted the
      tokenized corpus and fanned three branches off it; stage anatomy
      showed each cache-read branch (deserialize 270 k cached strings,
      then explode) costing 3-8x the tokenize it saved — the regex
      tokenize of 5 000 docs is ~2 s of executor time across 32 cores,
      the cache reads were 10-19 s. The rows and vocabulary branches
      each re-tokenize from parquet instead; the two branches run as
      CONCURRENT stages of one job, so the second pass adds no wall.
    - the document-id base is a pruned parquet scan of the id column
      (``df.select(id)``), not a cache read of the token table.

    3-rep cold measurements at sf0.1 (caches released between reps):
    r5 form 2.7/2.1/1.7 s; +df-base 1.5 s; +no-cache 1.3 s. Two
    alternative r6 restructures (count-table + AQE-broadcast join;
    combined unigram+bigram single-pass aggregate) measured WORSE
    (1.8-2.5 s): they trade the window stage for 4 extra stage
    boundaries, and at sf0.1 the ~12-stage driver/scheduling floor —
    not executor compute — is the binding constraint. Scale note:
    hot-token skew lands on the _w1 exchange like any token-keyed
    shuffle — AQE skew handling applies; the window state is a running
    count, not a buffer."""
    from pyspark.sql import Window

    toks = _token_table(df, id_col, text_col)
    rows = _rows_from_tokens(toks)
    vocab = toks.select(F.explode("_tk").alias("_w")).agg(
        F.countDistinct("_w").alias("_V")
    )
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    w12 = Window.partitionBy("_w1", "_w2")
    # the _c1 window carries an orderBy(_w2) + explicit full frame: the
    # count is unchanged (frame = whole partition), but its required
    # sort becomes (_w1, _w2) — identical to w12's — so BOTH windows
    # share one local sort instead of two
    w1 = (
        Window.partitionBy("_w1")
        .orderBy("_w2")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    scored = (
        rows.repartition(nparts, "_w1")
        .select(
            "_id",
            F.count(F.lit(1)).over(w12).alias("_c12"),
            F.count(F.lit(1)).over(w1).alias("_c1"),
        )
        .join(F.broadcast(vocab))
        .select(
            "_id",
            (
                -F.log(
                    (F.col("_c12") + 1).cast("double")
                    / (F.col("_c1") + F.col("_V"))
                )
            ).alias("_nll"),
        )
    )
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_nll"), round_digits).alias("avg_nll"),
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_nll",
            F.round(F.exp(F.col("avg_nll")), ppl_digits).alias("ppl"),
        )
    )


def domain_relevance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """DSIR-shaped importance weighting: score every document under a
    TARGET-domain bigram LM and under the SOURCE (full-corpus) LM;
    ``weight = source_nll − target_nll`` — positive means the document
    looks more like the target domain than like the corpus average, the
    signal importance-resampling mixes by. Two :func:`train_bigram_lm`
    models scored by count-table joins (the LM tables are
    vocabulary-sized).

    Returns (id, n_bigrams, target_nll, source_nll, weight); documents
    with < 2 tokens carry NULL scores.

    Fused scoring: the scored corpus's bigram rows are exploded ONCE
    and joined against both models' count tables in one chain (four
    vocabulary-sized build sides), then a single aggregate computes
    both NLL averages — half the explode/shuffle work of scoring each
    model separately."""
    lm_t = train_bigram_lm(target, id_col, text_col)
    lm_s = train_bigram_lm(df, id_col, text_col)

    rows = _bigram_rows(df, id_col, text_col)

    def _nll(c12: str, c1: str, v: str):
        return -F.log(
            (F.coalesce(F.col(c12), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col(c1), F.lit(0)) + F.col(v))
        )

    scored = (
        rows.join(
            lm_t.bigrams.withColumnRenamed("_c12", "_tc12"), ["_w1", "_w2"], "left"
        )
        .join(lm_t.contexts.withColumnRenamed("_c1", "_tc1"), "_w1", "left")
        .join(F.broadcast(lm_t.vocab.withColumnRenamed("_V", "_tV")))
        .join(
            lm_s.bigrams.withColumnRenamed("_c12", "_sc12"), ["_w1", "_w2"], "left"
        )
        .join(lm_s.contexts.withColumnRenamed("_c1", "_sc1"), "_w1", "left")
        .join(F.broadcast(lm_s.vocab.withColumnRenamed("_V", "_sV")))
        .select(
            "_id",
            _nll("_tc12", "_tc1", "_tV").alias("_tn"),
            _nll("_sc12", "_sc1", "_sV").alias("_sn"),
        )
    )
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_tn"), round_digits).alias("target_nll"),
        F.round(F.avg("_sn"), round_digits).alias("source_nll"),
    )
    base = df.select(F.col(id_col).alias("_id"))
    return (
        base.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "target_nll",
            "source_nll",
            F.round(F.col("source_nll") - F.col("target_nll"), round_digits).alias(
                "weight"
            ),
        )
    )


def perplexity_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    group_col: str | None = None,
    head: float = 0.333333,
    middle: float = 0.666667,
) -> DataFrame:
    """CCNet-style perplexity gate: score every document under the
    corpus bigram LM and bucket it head / middle / tail within its
    ``group_col`` (per-language in CCNet) by perplexity percentile —
    (id, group, ppl, bucket). Lower perplexity = more fluent = head.

    Engine-exact protocol: perplexity (already rounded to 4 dp by
    :func:`bigram_lm_scores`) is fixed-pointed to an INTEGER micro value
    and the p33/p67 thresholds are exact interpolated percentiles over
    those integers, rounded back to integers — every comparison happens
    in the integer domain, so bucket assignment is reproducible across
    engines and partitionings (the qd4 winsorize trick). Unscorable
    documents (< 2 tokens → NULL ppl) are excluded, as in CCNet.

    Scale shape: scoring is q89's chain (one corpus explode, two
    vocabulary-sized count-table joins); thresholds are a per-group
    aggregate over one integer per doc, broadcast back. The percentile
    aggregate holds per-group value arrays — at extreme group
    cardinality swap in approx_percentile with a tolerance; the gate's
    decisions then need re-auditing, which is why the exact form is
    the default.
    """
    scores = bigram_lm_scores(df, id_col, text_col)
    cols = [F.col(id_col)] + ([F.col(group_col)] if group_col else [])
    # persisted: both the threshold aggregate and the final bucket join
    # consume it — unpersisted, the whole LM scoring chain (the
    # expensive subtree) would execute twice. Doc-grain rows: the
    # smallest cacheable form, same envelope as the scores themselves.
    j = (
        df.select(*cols)
        .join(scores.select(id_col, "ppl"), id_col)
        .filter(F.col("ppl").isNotNull())
        .withColumn("_pm", F.round(F.col("ppl") * 10000.0, 0).cast("bigint"))
    )
    j = tracked_persist(j)
    gb = [group_col] if group_col else []
    th = j.groupBy(*gb).agg(
        F.round(F.expr(f"percentile(_pm, {head})")).cast("bigint").alias("_h"),
        F.round(F.expr(f"percentile(_pm, {middle})")).cast("bigint").alias("_m"),
    )
    out = j.join(F.broadcast(th), gb) if gb else j.join(F.broadcast(th))
    return out.select(
        id_col,
        *gb,
        "ppl",
        F.when(F.col("_pm") <= F.col("_h"), "head")
        .when(F.col("_pm") <= F.col("_m"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
