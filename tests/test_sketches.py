"""Sketch aggregates (operators/sketches.py): exact distinct counts,
heavy hitters and value-domain quantiles."""

from __future__ import annotations

from pyspark.sql import functions as F

from alaska_etl_spark.operators.sketches import distinct_counts


def _grouped(spark):
    # 3 groups with known distinct cardinalities: g0→1000, g1→2000, g2→400
    return (
        spark.range(60_000)
        .select(
            (F.col("id") % 3).alias("g"),
            F.when(F.col("id") % 3 == 0, F.col("id") % 1000)
            .when(F.col("id") % 3 == 1, F.col("id") % 2000)
            .otherwise(F.col("id") % 400)
            .alias("v"),
        )
    )


def test_exact_distinct_counts(spark):
    got = {r.g: r.n_distinct for r in distinct_counts(_grouped(spark), ["g"], "v").collect()}
    assert got == {0: 1000, 1: 2000, 2: 400}


# --- Misra-Gries heavy hitters ---------------------------------------------


def _zipfish(spark, parts=8):
    # value v appears ~60000/(v+1) times for v in 0..99: a hard Zipf head,
    # shuffled into random partitions so no partition layout is friendly.
    df = (
        spark.range(60_000)
        .select((F.floor(60_000 / (F.col("id") + 1)) % 100).alias("v"))
        .repartition(parts, F.rand(seed=7) * 1000)
    )
    return df


def test_heavy_hitters_exact_vs_groupby(spark):
    from alaska_etl_spark.operators.sketches import heavy_hitters

    df = _zipfish(spark)
    phi = 0.01
    got = {(r.item, r.cnt) for r in heavy_hitters(df, "v", phi=phi).collect()}
    n = df.count()
    exact = {
        (r.v, r.c)
        for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c > phi * n
    }
    assert got == exact and got  # identical, and non-trivial


def test_misra_gries_candidates_superset_and_bounded(spark):
    from alaska_etl_spark.operators.sketches import misra_gries_candidates

    df = _zipfish(spark, parts=16)
    phi = 0.01
    k = int(1 / phi) + 1
    cand = misra_gries_candidates(df, "v", k=k)
    items = {r.item for r in cand.collect()}
    # bounded: at most k rows per partition survive
    per_part = (
        cand.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
    )
    assert all(r["count"] <= k for r in per_part)
    # superset: every true phi-hitter is a candidate
    n = df.count()
    hitters = {
        r.v
        for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c > phi * n
    }
    assert hitters <= items


def test_heavy_hitters_verify_pass_reuses_exchange(spark):
    # total-count branch must reuse the candidate-count exchange, not
    # rescan: the second pass is ONE scan + one bounded aggregate.
    from alaska_etl_spark.operators.sketches import heavy_hitters

    df = _zipfish(spark)
    out = heavy_hitters(df, "v", phi=0.01)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan.split("== Initial Plan ==")[0]


# --- bounded-state exact quantiles (value-domain counting) ------------------


def test_decimal_quantiles_match_exact_percentile_lower(spark):
    from alaska_etl_spark.operators.sketches import decimal_quantiles

    # 2-decimal values with duplicates and two groups
    df = spark.range(2000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        ((F.col("id") % 177).cast("double") / 4).alias("x"),  # .00/.25/.50/.75
    ).select("g", F.round(F.col("x"), 2).alias("x"))
    got = {
        (r.g, r.prob): r.value
        for r in decimal_quantiles(df, ["g"], "x", [0.5, 0.9], scale=100).collect()
    }
    # type-1 (lower) quantile ground truth in python
    import math

    rows = df.collect()
    for g in ("0", "1"):
        xs = sorted(round(r.x, 2) for r in rows if r.g == g)
        for p in (0.5, 0.9):
            want = xs[max(0, math.ceil(p * len(xs)) - 1)]
            assert abs(got[(g, p)] - want) < 1e-9, (g, p, got[(g, p)], want)


def test_decimal_quantiles_state_is_value_domain_not_rows(spark):
    from alaska_etl_spark.operators.sketches import decimal_quantiles

    # a million-row column with only 10 distinct values: the counts
    # relation (the only state) has 10 rows
    df = spark.range(1_000_000).select((F.col("id") % 10).cast("double").alias("x"))
    out = decimal_quantiles(df, [], "x", [0.5])
    [r] = out.collect()
    assert r.value == 4.0  # ceil(0.5*1e6)=500000 -> 5th of 10 equal buckets
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan  # map-side collapse to distinct values
