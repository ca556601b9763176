"""Salted skew mitigation: two-phase aggregates must be value-identical
to their plain equivalents on skewed data."""

from __future__ import annotations

from pyspark.sql import functions as F

from alaska_etl_spark.operators.skew import salted_aggregate


def _skewed(spark):
    """99% of rows share one key."""
    return spark.range(2000).select(
        F.when(F.col("id") % 100 < 99, "hot").otherwise(F.concat(F.lit("cold"), F.col("id") % 7)).alias("k"),
        (F.col("id") % 13).cast("double").alias("v"),
    )


def test_salted_aggregate_matches_plain(spark):
    df = _skewed(spark)
    got = {
        r.k: (r.n, r.total, r.lo, r.hi, round(r.mean, 9))
        for r in salted_aggregate(
            df, ["k"],
            {"n": ("count", "v"), "total": ("sum", "v"), "lo": ("min", "v"),
             "hi": ("max", "v"), "mean": ("avg", "v")},
            n_salts=8,
        ).collect()
    }
    want = {
        r.k: (r.n, r.total, r.lo, r.hi, round(r.mean, 9))
        for r in df.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi"), F.avg("v").alias("mean"),
        ).collect()
    }
    assert got == want


def test_salted_aggregate_rejects_nondecomposable(spark):
    import pytest

    with pytest.raises(ValueError, match="not decomposable"):
        salted_aggregate(_skewed(spark), ["k"], {"m": ("median", "v")})


def test_key_skew_report_uniform_and_concentrated(spark):
    from alaska_etl_spark.operators.skew import key_skew_report

    # perfectly uniform: 4 keys x 5 rows -> gini 0, top1 share 1/4
    rows = [(k,) for k in range(4) for _ in range(5)]
    df = spark.createDataFrame(rows, "k bigint")
    r = key_skew_report(df, "k", top_n=2).collect()[0]
    assert (r.n_keys, r.total_rows, r.max_rows_per_key) == (4, 20, 5)
    assert r.gini == 0.0
    assert r.top1_share == 0.25
    assert r.top2_share == 0.5
    # one key owns 96 of 99 rows -> gini near 1
    rows = [(0,)] * 96 + [(1,), (2,), (3,)]
    df = spark.createDataFrame(rows, "k bigint")
    r = key_skew_report(df, "k", top_n=1).collect()[0]
    assert r.max_rows_per_key == 96
    assert r.top1_share == round(96 / 99, 6)
    assert r.gini > 0.7


def test_key_skew_report_matches_fraction_replica(spark):
    import random
    from fractions import Fraction

    from alaska_etl_spark.operators.skew import key_skew_report

    rng = random.Random(5)
    rows = [(rng.randint(0, 30),) for _ in range(500)]
    df = spark.createDataFrame(rows, "k bigint")
    r = key_skew_report(df, "k", top_n=10).collect()[0]
    from collections import Counter

    c = Counter(k for k, in rows)
    counts = sorted(c.values())
    n, t = len(counts), sum(counts)
    ic = sum((i + 1) * ci for i, ci in enumerate(counts))
    gini = Fraction(2 * ic - (n + 1) * t, n * t)
    units = (2 * 10**6 * gini.numerator + gini.denominator) // (2 * gini.denominator)
    assert r.gini == units / 1e6
    top10 = sum(sorted(counts, reverse=True)[:10])
    tu = (2 * 10**6 * top10 + t) // (2 * t)
    assert r.top10_share == tu / 1e6
    assert (r.n_keys, r.total_rows) == (n, t)


def test_join_cardinality_forecast_exact(spark):
    from alaska_etl_spark.operators.skew import join_cardinality_forecast

    left = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,)], "k bigint"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (3,), (None,), (None,)], "k bigint"
    )
    r = join_cardinality_forecast(left, "k", right, "k").collect()[0]
    assert (r.n_left, r.n_right) == (5, 5)
    assert (r.n_left_keys, r.n_right_keys) == (3, 3)  # NULL is a key group
    assert (r.n_null_left, r.n_null_right) == (1, 2)
    assert r.n_shared_keys == 1  # only k=1 joins (NULLs never do)
    assert r.predicted_rows == 6 and r.max_key_product == 6
    assert r.top_share_bp == 10000
    # the forecast IS the actual inner-join count
    actual = left.join(right, "k").count()
    assert actual == r.predicted_rows


def test_join_cardinality_forecast_share_survives_huge_products(spark):
    """top_share_bp at the DOCUMENTED envelope: key products near 2^63
    (ADVICE r8 — the raw BIGINT 2*10000*max form overflowed at
    max_key_product ~ 4.6e14; the decimal(38,0) lane must not). Counts
    ~3e9 per side give a product ~8.9e18 < 2^63."""
    from alaska_etl_spark.operators.skew import join_cardinality_forecast

    import pyspark.sql.functions as F

    from alaska_etl_spark.operators.skew import _top_share_bp_expr

    big = 2_980_000_000  # ~3e9 rows per side for one key
    # the arithmetic tail is the subject (3e9 real rows per side is
    # infeasible in a unit test): feed the OPERATOR'S share expression
    # pre-aggregated per-key count frames at the documented envelope
    la = spark.createDataFrame([(1, big), (2, 7)], "k bigint, _ca bigint")
    rb = spark.createDataFrame([(1, big), (3, 5)], "k bigint, _cb bigint")
    shared = la.join(rb, "k").select((F.col("_ca") * F.col("_cb")).alias("_p"))
    agg = shared.agg(
        F.coalesce(F.sum("_p"), F.lit(0)).cast("bigint").alias("predicted_rows"),
        F.coalesce(F.max("_p"), F.lit(0)).cast("bigint").alias("max_key_product"),
    )
    r = agg.select(
        "predicted_rows",
        "max_key_product",
        _top_share_bp_expr().alias("top_share_bp"),
    ).collect()[0]
    assert r.max_key_product == big * big  # ~8.9e18 > the old 4.6e14 cliff
    assert r.top_share_bp == 10000  # one key owns the whole output
