"""Exact sketch-style aggregates: per-group distinct counts, heavy
hitters and value-domain quantiles, each with bounded or mergeable
state and an exact DuckDB oracle.

:func:`heavy_hitters`' Misra-Gries pass only proposes CANDIDATES and a
verify pass makes the final answer exact, so it is exactly oracled
(qa6) despite bounded state — the sketch buys scale, not
approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_counts(df: DataFrame, group_cols: list[str], col: str) -> DataFrame:
    """Exact per-group distinct counts (q46)."""
    return df.groupBy(*group_cols).agg(F.countDistinct(col).alias("n_distinct"))


def misra_gries_candidates(df: DataFrame, col: str, *, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned: every value whose
    GLOBAL frequency exceeds n/(k+1) is guaranteed to appear (if an item
    has global count > n/(k+1) = Σnₚ/(k+1), some partition has local
    count > nₚ/(k+1), and MG with k counters never evicts such an item).
    State is k counters per partition — independent of cardinality,
    which is the point: the exact per-value count's aggregate state IS
    the distinct-value set, and at 100 TB that state is the data.

    Arrow-batched: each batch collapses to ``value_counts`` (vectorized)
    before touching the counter dict, and the dict is trimmed with the
    mergeable-summaries rule (subtract the (k+1)-largest count, drop
    ≤ 0 — Agarwal et al., "Mergeable Summaries", PODS'12), so per-batch
    work is O(unique-per-batch · log k), never per-row Python."""
    import pandas as pd

    item_t = df.schema[col].dataType.simpleString()

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts(dropna=True).items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    v: c - cut for v, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame({"item": list(counters), "lb": list(counters.values())}) \
            if counters else pd.DataFrame({"item": [], "lb": []})

    return df.select(col).mapInPandas(summarize, f"item {item_t}, lb bigint")


def heavy_hitters(
    df: DataFrame, col: str, *, phi: float, k: int | None = None
) -> DataFrame:
    """EXACT φ-heavy hitters (values with count > φ·n) in two bounded
    passes — never a full distinct aggregate:

    1. Misra-Gries per partition with k = ⌈1/φ⌉ counters → a small
       candidate superset (≤ k · partitions rows).
    2. One re-scan that counts ONLY candidates: non-candidates collapse
       into a single NULL group (map-side partial aggregation reduces
       every partition to ≤ |candidates|+1 rows), so the same pass
       yields both the per-candidate counts and the exact total n.

    The answer is exact, so the DuckDB oracle is plain
    ``HAVING count(*) > φ·(SELECT count(*) …)`` (qa6)."""
    if k is None:
        k = int(1.0 / phi) + 1
    cand = misra_gries_candidates(df, col, k=k).select(
        F.col("item").alias(col)
    ).distinct().withColumn("_cand", F.lit(1))
    tagged = df.select(col).join(F.broadcast(cand), [col], "left")
    counted = (
        tagged.groupBy(
            F.when(F.col("_cand") == 1, F.col(col)).alias("item")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    # The exact total n rides a GLOBAL window over the counted frame
    # (≤ |candidates|+1 rows — single-partition by construction, the
    # same bounded envelope as the MG summary itself), so counted has
    # ONE consumer. The previous split (total = counted.agg + filtered
    # join-back) re-planned the whole scan+MG pipeline for the total:
    # the item-IS-NOT-NULL filter pushed below the aggregate on one
    # branch only, the two Exchanges stopped matching, and runtime
    # exchange reuse could not share them (r12 plan audit: 4 scans /
    # 2 MapInPandas where 2 / 1 suffice; a tracked_persist fixed the
    # duplication but its build barrier cost ~0.2-0.4 s cold — the
    # window form needs neither).
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        counted.withColumn("_n", F.sum("cnt").over(w))
        .filter(F.col("item").isNotNull())
        .filter(F.col("cnt") > F.lit(phi) * F.col("_n"))
        .select("item", "cnt")
        .orderBy(F.col("cnt").desc(), "item")
    )


def decimal_quantiles(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    probs: list[float],
    *,
    scale: int = 100,
) -> DataFrame:
    """EXACT type-1 (lower) quantiles whose aggregate state is bounded
    by the VALUE DOMAIN, not the row count — the third point in the
    quantile trade-off triangle: exact ``percentile`` buffers every row
    of the group (q38), Greenwald-Khanna bounds state but approximates
    (``percentile_approx``), and for FIXED-PRECISION data (money,
    sensor readings: ``scale`` decimal steps per unit) counting by
    distinct value is exact AND bounded — a 2-decimal column spanning
    ±1e6 has ≤ 2e8 possible values however many petabytes of rows
    carry them.

    Plan: one hash aggregate to (group, value, count) — map-side
    partials collapse each task to its distinct values — then a
    cumulative-count window per group over the (tiny) counts table, and
    the p-quantile is the first value whose cumulative count reaches
    ⌈p·n⌉. Returns (group…, prob, value) rows; integer arithmetic until
    the final ``/scale``, so any engine replays it exactly (qb5)."""
    from pyspark.sql import Window

    cents = F.round(F.col(col) * scale).cast("bigint")
    # NULLs are excluded, as every SQL quantile does (and Spark/DuckDB
    # disagree on NULL sort position, so letting them through would
    # also break engine parity)
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*group_cols, cents.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy(*group_cols).orderBy("_v")
    wall = Window.partitionBy(*group_cols)
    cum = (
        counts.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_n", F.sum("_c").over(wall))
    )
    per_prob = [
        cum.filter(
            (F.col("_cum") >= F.ceil(F.lit(p) * F.col("_n")))
            & (F.col("_cum") - F.col("_c") < F.ceil(F.lit(p) * F.col("_n")))
        ).select(
            *group_cols,
            F.lit(p).alias("prob"),
            (F.col("_v") / F.lit(float(scale))).alias("value"),
        )
        for p in probs
    ]
    out = per_prob[0]
    for q in per_prob[1:]:
        out = out.unionAll(q)
    return out
