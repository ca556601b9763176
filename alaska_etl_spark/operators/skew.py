"""Skew mitigation: salted two-phase aggregation and the skew
diagnostic (SURVEY §4 / BASELINE scale notes: "skewed keys → salting or
AQE skew-join").

AQE's skew-join splitting (on in session.py) handles sort-merge join
skew automatically; it does NOT cover a hash aggregate where one group
dominates a partition's build side. That is classic salt territory:

- :func:`salted_aggregate` — phase 1 aggregates on (keys, salt) so the
  hot key's rows spread over ``n_salts`` reducers; phase 2 combines the
  decomposable partials. Exact for sum/count/min/max and avg (carried
  as sum+count until the end).
- :func:`key_skew_report` — how concentrated a prospective shuffle
  key is, measured before deciding to salt.

Salts are deterministic (hash of a uniform row id), so results are
reproducible. Note Spark's partial (map-side) aggregation already
de-skews *pre-shuffle* work; salting pays off when the reduce side
itself is the bottleneck — the phase-1/phase-2 split here mirrors
exactly what the reference feared breaking with chunked means
(notebooks/1_uscrn_scrape.ipynb:540) and gets right: sums and counts
compose, means do not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: supported decomposable aggregates: name → (phase1 partials, phase2 combine)
_DECOMPOSABLE = {"sum", "count", "min", "max", "avg"}


def with_salt(df: DataFrame, n_salts: int, *, salt_col: str = "_salt") -> DataFrame:
    """Deterministic uniform salt in [0, n_salts): hash of a per-row id
    (monotonically_increasing_id is partition-deterministic, which is
    enough for load spreading and keeps reruns reproducible)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof aggregate.

    ``aggs`` maps output column → (function, input column) with function
    in {sum, count, min, max, avg}. Equivalent to
    ``df.groupBy(keys).agg(...)`` for any data, but the heavy shuffle
    groups by (keys, salt) first, bounding any one reducer's share of a
    hot key at 1/n_salts.
    """
    for name, (fn, _) in aggs.items():
        if fn not in _DECOMPOSABLE:
            raise ValueError(f"{name}: {fn} is not decomposable")

    partials: list[Column] = []
    finals: list[Column] = []
    for name, (fn, col) in aggs.items():
        if fn == "count":
            partials.append(F.count(col).alias(f"_p_{name}"))
            finals.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "sum":
            partials.append(F.sum(col).alias(f"_p_{name}"))
            finals.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "min":
            partials.append(F.min(col).alias(f"_p_{name}"))
            finals.append(F.min(f"_p_{name}").alias(name))
        elif fn == "max":
            partials.append(F.max(col).alias(f"_p_{name}"))
            finals.append(F.max(f"_p_{name}").alias(name))
        elif fn == "avg":
            partials.append(F.sum(col).alias(f"_ps_{name}"))
            partials.append(F.count(col).alias(f"_pc_{name}"))
            finals.append(
                (F.sum(f"_ps_{name}") / F.sum(f"_pc_{name}")).alias(name)
            )
    phase1 = with_salt(df, n_salts).groupBy(*keys, "_salt").agg(*partials)
    return phase1.groupBy(*keys).agg(*finals)


def key_skew_report(
    df: DataFrame,
    key_cols: list[str] | str,
    *,
    top_n: int = 10,
    scale: int = 10**6,
) -> DataFrame:
    """The skew DIAGNOSTIC that motivates :func:`salted_aggregate` /
    AQE skew-join: one row quantifying how concentrated a prospective
    shuffle key's row distribution is — decide whether to salt BEFORE
    running the join, from exact integers.

    Measures, all from one per-key count aggregate:

    - ``gini``: Gini coefficient of rows-per-key, via the sorted
      rank-weighted identity ``(2·Σ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ)``
      over counts ascending (i = 1..n). Every term is BIGINT — ties
      don't matter (equal counts commute inside a rank range) — and the
      single emit is the shared ``div_half_up`` at 1e-6. 0 = perfectly
      uniform, → 1 = one key owns everything.
    - ``top1_share`` / ``top{top_n}_share``: exact row share of the
      heaviest key / heaviest ``top_n`` keys, 1e-6 fixed-point.
    - ``n_keys``, ``total_rows``, ``max_rows_per_key``.

    Scale shape: the corpus collapses to its per-key count frame (one
    map-side-combined aggregate); the ranking window runs over THAT
    distinct-key frame. At extreme key cardinality the
    ranking.global_ranks range-exchange tier substitutes for the
    single-partition window (same discipline as the AUC/qd0 family).
    Overflow: 2·Σ i·cᵢ ≤ 2·n·T needs n·T < 4.6e18 — at 1e9 keys over
    1e9 rows switch the numerator to DECIMAL (documented, not hit by
    any driver corpus).
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    asc = Window.orderBy(F.col("_c").asc(), *[F.col(k).asc() for k in keys])
    desc = Window.orderBy(F.col("_c").desc(), *[F.col(k).asc() for k in keys])
    # two rank columns share one sort requirement only when reversed —
    # the frame is the DISTINCT-KEY counts table, so the second sort is
    # over the already-reduced frame, not the corpus. A tie group of
    # equal counts straddling the top_n boundary contributes the same
    # share whichever members are counted, so _topn is deterministic.
    ranked = counts.select(
        "_c",
        F.row_number().over(asc).cast("bigint").alias("_i"),
        F.row_number().over(desc).cast("bigint").alias("_rd"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("_c").cast("bigint").alias("total_rows"),
        F.max("_c").cast("bigint").alias("max_rows_per_key"),
        F.sum(F.col("_i") * F.col("_c")).cast("bigint").alias("_ic"),
        F.sum(F.when(F.col("_rd") <= top_n, F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("_topn"),
    )
    return agg.select(
        "n_keys",
        "total_rows",
        "max_rows_per_key",
        (
            div_half_up(
                "2 * _ic - (n_keys + 1) * total_rows",
                "nullif(n_keys * total_rows, 0)",
                scale,
            )
            / float(scale)
        ).alias("gini"),
        (
            div_half_up("max_rows_per_key", "nullif(total_rows, 0)", scale)
            / float(scale)
        ).alias("top1_share"),
        (
            div_half_up("_topn", "nullif(total_rows, 0)", scale) / float(scale)
        ).alias(f"top{top_n}_share"),
    )


def _top_share_bp_expr() -> "F.Column":
    """round_half_up(10000·max_key_product/predicted_rows) over
    decimal(38,0) intermediates — the 2·10⁴·max term would overflow
    BIGINT at max ≈ 4.6·10¹⁴ (ADVICE r8); decimal keeps the share
    exact for the full < 2⁶³ product envelope, matching the oracle's
    HUGEINT promotion. Spark ``div`` on decimals returns BIGINT."""
    return F.expr(
        "cast((2 * 10000 * cast(max_key_product as decimal(38,0))"
        " + nullif(predicted_rows, 0))"
        " div (2 * cast(nullif(predicted_rows, 0) as decimal(38,0)))"
        " as bigint)"
    )


def join_cardinality_forecast(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
) -> DataFrame:
    """EXACT join-output forecast before running the join: the output
    of ``left ⋈ right`` on a key is Σ_k ca(k)·cb(k) over shared keys,
    computable from the two per-key count tables at a fraction of the
    join's cost — the planner-grade number that decides whether a
    fact⋈fact join is runnable at all, plus its skew anatomy (the max
    single-key product and its share of the output: one hot key owning
    half the output rows means one reducer owns half the shuffle, the
    salting trigger :func:`key_skew_report` diagnoses after the fact).

    Everything is an exact BIGINT (products of per-key counts; caller
    owns the < 2⁶³ envelope — a key pair needs ~3·10⁹ rows on EACH
    side to overflow). ``top_share_bp`` is computed over decimal(38,0)
    intermediates (HUGEINT on the DuckDB twin) so the 2·10⁴·max term
    keeps the SAME < 2⁶³ envelope as the products themselves — the raw
    BIGINT form would overflow at max_key_product ≈ 4.6·10¹⁴, four
    orders of magnitude before the documented bound (ADVICE r8). The
    count frames are key-grain corpus
    aggregates feeding a join: conditional shuffle_hash pin
    (operators/hints.py). NULL keys never join (SQL semantics) and are
    reported separately.

    One row: (n_left, n_right, n_left_keys, n_right_keys,
    n_shared_keys, n_null_left, n_null_right, predicted_rows,
    max_key_product, top_share_bp)."""
    from alaska_etl_spark.operators.hints import input_fits_driver, pin_corpus_agg

    la = pin_corpus_agg(
        left.groupBy(F.col(left_key).alias("_k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("_ca")
        ),
        input_fits_driver(left),
    )
    rb = pin_corpus_agg(
        right.groupBy(F.col(right_key).alias("_k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("_cb")
        ),
        input_fits_driver(right),
    )
    shared = la.filter(F.col("_k").isNotNull()).join(
        rb.filter(F.col("_k").isNotNull()), "_k"
    )
    per_key = shared.select((F.col("_ca") * F.col("_cb")).alias("_p"))
    agg = (
        la.agg(
            F.sum("_ca").cast("bigint").alias("n_left"),
            F.count(F.lit(1)).cast("bigint").alias("n_left_keys"),
            F.sum(F.when(F.col("_k").isNull(), F.col("_ca")).otherwise(0))
            .cast("bigint")
            .alias("n_null_left"),
        )
        .crossJoin(
            rb.agg(
                F.sum("_cb").cast("bigint").alias("n_right"),
                F.count(F.lit(1)).cast("bigint").alias("n_right_keys"),
                F.sum(F.when(F.col("_k").isNull(), F.col("_cb")).otherwise(0))
                .cast("bigint")
                .alias("n_null_right"),
            )
        )
        .crossJoin(
            per_key.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"),
                F.coalesce(F.sum("_p"), F.lit(0)).cast("bigint").alias("predicted_rows"),
                F.coalesce(F.max("_p"), F.lit(0)).cast("bigint").alias("max_key_product"),
            )
        )
    )
    return agg.select(
        "n_left",
        "n_right",
        "n_left_keys",
        "n_right_keys",
        "n_shared_keys",
        "n_null_left",
        "n_null_right",
        "predicted_rows",
        "max_key_product",
        _top_share_bp_expr().alias("top_share_bp"),
    )


def index_build_forecast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """EXACT inverted-index build forecast — the planner-grade audit
    for every posting-list operator in the repo (BM25 retrieval, the
    prefix-filtered similarity joins, LSH banding): BEFORE building the
    index, one gram-grain aggregate answers "how big is the index, and
    how bad is the unfiltered gram self-join this index exists to
    avoid". The cost models SCALE.md argues from (Σdf, Σdf² candidate
    terms) become a queryable operator instead of a prose claim —
    the text-index sibling of :func:`join_cardinality_forecast` (the
    same two-aggregates-before-the-shuffle discipline; VERDICT r8 #7's
    planner-audit family).

    From one shingle pass (``dedup.shingles``: distinct word n-grams
    per document) and one gram-grain count table:

    - ``n_docs`` — documents contributing ≥1 shingle;
    - ``vocab_size`` / ``n_postings`` — distinct grams / Σdf (index
      rows; postings bytes scale with this);
    - ``max_df`` and ``singleton_grams`` — the hot-list and the
      never-collides mass (df=1 grams produce zero candidates and can
      be dropped from any self-join index);
    - ``candidate_pairs`` = Σ df·(df−1)/2 — the EXACT unfiltered
      gram-collision candidate count (what a prefix-less similarity
      join would verify); computed over decimal(38,0) intermediates
      (HUGEINT on the DuckDB twin) and emitted as BIGINT — the
      documented envelope is candidate_pairs < 2⁶³, the same bound the
      join itself would hit first;
    - ``top_gram_share_bp`` — the hottest gram's share of the
      candidate mass, round-half-up basis points (one gram owning half
      the candidates means one reducer owns half the verify shuffle:
      the ``max_df`` cap / salting trigger).

    The gram count table is a vocab-grain aggregate feeding only
    scalar reductions — no join, so no broadcast-pin is needed; the
    whole forecast is two aggregates and costs a fraction of the index
    build it sizes. One row."""
    from alaska_etl_spark.operators.dedup import shingles
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    df = ensure_min_parallelism(df, id_col)  # single-split local files
    # 8-byte gram hashes, not strings, through the hot aggregate (the
    # simjoin compaction stance: counts are identical under any
    # injective mapping; a 64-bit collision would under-count vocab and
    # surface against the string-keyed oracle). Measured 3.1 → ~1.5 s
    # at sf0.1.
    #
    # ONE pass (r12): n_docs used to be a count_distinct(id) over a
    # SECOND copy of the scan+shingle+explode subtree (the unpersisted
    # diamond — the plan carried 2 Generates and a crossJoin). Instead,
    # boilerplate_grams' sentinel idiom: every doc with ≥1 token (⟺ ≥1
    # shingle — ``shingles`` contract) appends one sentinel gram, and a
    # flag carried PAST the hash keeps sentinel rows out of every gram
    # statistic, so the sentinel's df IS n_docs and the whole forecast
    # is one scan + one gram aggregate + one scalar reduction. The NUL
    # byte cannot appear in a whitespace token unless the raw text
    # contains NUL itself — outside this operator's text domain (the
    # qp2 caveat, operators/text.py boilerplate_grams).
    #
    # Contract notes (ADVICE r12): n_docs is ROW-grain — one sentinel
    # per input row with ≥1 token, so a corpus that repeats the same id
    # across rows counts each row as a document (the planner-audit
    # reading: postings/candidates also scale per row, so row grain is
    # the consistent denominator; the DuckDB twin counts the same way).
    # And a raw-text token exactly equal to "\x00docs" would be counted
    # as a doc marker — accepted as documented (NUL is outside the
    # text domain), kept unguarded because a filter here would have to
    # be mirrored in the SQL twin for data that cannot occur.
    sent = "\x00docs"
    tok = (
        df.filter(F.col(text_col).rlike(r"\S"))
        .select(
            F.explode(
                F.concat(shingles(text_col, n), F.array(F.lit(sent)))
            ).alias("_gs")
        )
        .select(
            (F.col("_gs") == sent).alias("_is_doc"),
            F.xxhash64("_gs").alias("_g"),
        )
    )
    dfreq = tok.groupBy("_is_doc", "_g").agg(F.count(F.lit(1)).alias("_df"))
    pairs_dec = (
        "cast(case when not _is_doc then _df end as decimal(38,0))"
        " * (_df - 1) div 2"
    )
    gram_stats = dfreq.agg(
        # coalesce: SUM over zero rows is NULL, but an empty corpus has
        # 0 docs/postings/candidates, not unknown ones (max_df stays
        # NULL — there is no hottest gram)
        F.coalesce(F.sum(F.when(F.col("_is_doc"), F.col("_df"))), F.lit(0))
        .cast("bigint")
        .alias("n_docs"),
        F.coalesce(F.sum(F.when(~F.col("_is_doc"), 1)), F.lit(0))
        .cast("bigint")
        .alias("vocab_size"),
        F.coalesce(F.sum(F.when(~F.col("_is_doc"), F.col("_df"))), F.lit(0))
        .cast("bigint")
        .alias("n_postings"),
        F.max(F.when(~F.col("_is_doc"), F.col("_df"))).cast("bigint").alias("max_df"),
        F.coalesce(
            F.sum(F.when(~F.col("_is_doc") & (F.col("_df") == 1), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("singleton_grams"),
        F.expr(f"cast(coalesce(sum({pairs_dec}), 0) as bigint)").alias(
            "candidate_pairs"
        ),
        F.expr(f"cast(max({pairs_dec}) as bigint)").alias("_max_pairs"),
    )
    return gram_stats.select(
        "n_docs",
        "vocab_size",
        "n_postings",
        "max_df",
        "singleton_grams",
        "candidate_pairs",
        F.expr(
            "cast((2 * 10000 * cast(coalesce(_max_pairs, 0) as decimal(38,0))"
            " + nullif(candidate_pairs, 0))"
            " div (2 * cast(nullif(candidate_pairs, 0) as decimal(38,0)))"
            " as bigint)"
        ).alias("top_gram_share_bp"),
    )
