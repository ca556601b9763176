"""Time-series smoothing and anomaly screening over keyed event
streams — the operators a monitoring/quality pipeline runs downstream
of the hourly rollups (q16/q87): exponential smoothing (EWMA) and
robust per-key outlier flagging.

EWMA is a *recursive* scan (y_t = α·x_t + (1−α)·y_{t−1}) — the one
shape relational window frames cannot express directly (a closed-form
weighted sum is O(n²) per key). The Spark-first answer is
``applyInPandas``: one shuffle on the key, then a vectorized
``pandas.ewm`` per group — Arrow-batched, linear, and the per-key
state is a single float regardless of series length. The DuckDB oracle
uses the O(n²) closed form (exact same arithmetic, affordable at
oracle scale), so the recursive and closed forms cross-verify.

Z-score anomalies are pure codegen: one aggregate for per-key moments,
a broadcast-or-shuffle join back, one filter. No Python anywhere.

Determinism: EWMA values are rounded before emit; the order within a
key is (ts, id) — total. Population stddev (not sample) so both
engines agree on the denominator.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "activity_bitmap",
    "ewma",
    "mad_anomalies",
    "sliding_distinct",
    "zscore_anomalies",
]


def activity_bitmap(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-(key, calendar month) activity as a day-of-month BITMASK —
    the compressed presence encoding (roaring-bitmap style, scoped to
    the 31 bits a month needs) that turns "which days was this user
    active" from a (key, day) row set into one int64 per key-month.

    ``mask`` has bit d−1 set iff the key has ≥1 event on day d of the
    month; ``active_days`` is its popcount. Both are single hash
    aggregates in whole-stage codegen — ``bit_or`` is mergeable, so
    map-side partials collapse each partition's events to one long per
    (key, month) before the shuffle: the shuffle volume is |keys ×
    months| rows of 8 bytes regardless of event count. Downstream set
    algebra (common active days of two users =
    ``bit_count(a & b)``) never revisits the events.
    """
    month = F.date_trunc("month", F.col(ts_col))
    # pyspark's F.shiftleft only accepts a literal int shift; the SQL
    # form takes a column expression for the day-dependent bit position.
    # Backtick-quoted (with `` escaping) so column names with spaces /
    # metacharacters parse like every F.col path (ADVICE r4)
    quoted = ts_col.replace("`", "``")
    day_bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), dayofmonth(`{quoted}`) - 1)")
    return (
        df.groupBy(F.col(key_col), month.alias("month"))
        .agg(F.bit_or(day_bit).alias("mask"))
        .withColumn("active_days", F.bit_count("mask").cast("int"))
    )


def sliding_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    window_days: int = 7,
) -> DataFrame:
    """EXACT distinct keys per trailing ``window_days``-day window, one
    row per day in the data's range — the "7-day active users" metric,
    computed without the quadratic self-join OR an approximate
    distinct-count sketch.

    The trick is grain reduction before fan-out: events collapse to
    distinct (key, day) rows first (one hash aggregate — at 100 TB this
    is the |keys × days| presence table, O(millions), not the fact
    table), and only THEN does each presence row replicate into the ≤
    ``window_days`` window-end days it serves. The final distinct-count
    aggregate therefore processes |keys × days × window| bounded rows.
    Window ends outside the observed day range are dropped (every
    reported window is fully inside the data).
    """
    day = F.date_trunc("day", F.col(ts_col))
    presence = df.select(F.col(key_col).alias("_k"), day.alias("_d")).distinct()
    ends = presence.select(
        "_k",
        F.explode(
            F.sequence(
                F.col("_d"),
                F.col("_d") + F.expr(f"INTERVAL {window_days - 1} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("window_end"),
    )
    # min/max over the RAW input equal min/max over presence — skip the
    # second distinct-aggregate subtree the presence-based form would plan
    bounds = df.select(F.min(day).alias("_min"), F.max(day).alias("_max"))
    complete = (F.col("window_end") <= F.col("_max")) & (
        F.col("window_end") >= F.col("_min") + F.expr(f"INTERVAL {window_days - 1} DAYS")
    )
    return (
        ends.join(F.broadcast(bounds), complete)
        .groupBy("window_end")
        .agg(F.countDistinct("_k").alias(f"distinct_{window_days}d"))
        .orderBy("window_end")
    )


def ewma(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
    *,
    alpha: float,
    order_tiebreak: str | None = None,
    out_col: str = "ewma",
    round_digits: int = 6,
) -> DataFrame:
    """Per-key exponential moving average in event-time order:
    ``y_0 = x_0; y_t = α·x_t + (1−α)·y_{t−1}`` (pandas
    ``ewm(alpha, adjust=False)`` semantics). ``order_tiebreak`` must
    make (ts, tiebreak) a total order per key for reproducible results.

    One exchange (the explicit key repartition), linear per-key work,
    constant state — the 100 TB shape for any recursive per-key scan.
    The exchange is an EXPLICIT repartition on the key:
    ``REPARTITION_BY_NUM`` both co-locates every key's rows in one
    partition and is exempt from AQE's byte-based coalescing, which
    would otherwise shrink this Python-CPU-heavy stage to a couple of
    tasks because its shuffle BYTES are small (measured 2 tasks on 32
    cores at sf0.1).

    Python boundary shape (r12, guide §4.2/§4.5): ONE ``mapInPandas``
    call per partition, not ``applyInPandas``'s one call per key group.
    The grouped form paid per-GROUP pandas overhead (frame slice, sort,
    numpy round-trip ~0.1-0.3 ms × thousands of keys); the stage
    profile read 17.7 executor-s at 0.8 s JVM CPU — the JVM blocked on
    the worker protocol per group. The partition form sorts once by
    (keys, order), detects group starts with a vectorized
    boundary mask, and runs the SAME per-step recurrence over the whole
    partition (reset at starts) — identical doubles, one worker
    round-trip per partition. Memory: the partition is concatenated in
    the worker (shuffle partition sizing bounds it; the grouped form
    already materialized whole key groups). Key columns must not carry
    NULLs (upstream contract; a NaN≠NaN boundary test would split a
    NULL key into singleton runs)."""
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    df = df.repartition(nparts, *key_cols)
    keys = list(key_cols)
    order = keys + [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{out_fields}, {out_col} double"

    a, b = float(alpha), 1.0 - float(alpha)

    def _smooth_part(batches) -> "pd.DataFrame":
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        pdf = pdf.sort_values(order, kind="mergesort", ignore_index=True)
        # explicit per-step recurrence, NOT pandas.ewm: y = a·x + b·y is
        # two correctly-rounded multiplies + one add, so any engine
        # evaluating the same expression gets the identical double each
        # step. pandas' compiled ewm kernel (weighted-average form with
        # a trailing divide) drifts by an ulp on long chains — found as
        # 19/100k rows crossing the 6dp rounding boundary at sf0.1.
        vals = pdf[val_col].to_numpy(dtype="float64")
        n = len(vals)
        first = np.ones(n, dtype=bool)
        if n > 1:
            same = np.ones(n - 1, dtype=bool)
            for k in keys:
                kv = pdf[k].to_numpy()
                same &= kv[1:] == kv[:-1]
            first[1:] = ~same
        out = np.empty(n)
        y = 0.0
        for i in range(n):
            y = vals[i] if first[i] else a * vals[i] + b * y
            out[i] = y
        # round half AWAY from zero (SQL semantics), not numpy's
        # half-to-even: long chains do land on exact .5 scaled values
        # (19/100k at sf0.1), and every SQL engine breaks those ties away
        # from zero while np.round breaks them to even
        scale = 10.0 ** round_digits
        pdf[out_col] = np.sign(out) * np.floor(np.abs(out) * scale + 0.5) / scale
        yield pdf

    return df.mapInPandas(_smooth_part, schema)


def zscore_anomalies(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    *,
    z_threshold: float = 3.0,
    round_digits: int = 4,
) -> DataFrame:
    """Rows whose value deviates more than ``z_threshold`` population
    standard deviations from their key's mean: one aggregate to per-key
    moments (sum/count/sumsq — decomposable, map-side combined), a join
    back (AQE broadcasts the moments table while it fits), one filter.
    Keys with zero variance flag nothing: the divisor is NULLed
    explicitly (ANSI mode raises on /0), and a NULL z fails the
    threshold comparison in any engine."""
    moments = df.groupBy(*key_cols).agg(
        F.avg(val_col).alias("_mu"),
        F.stddev_pop(val_col).alias("_sigma"),
    )
    safe_sigma = F.when(F.col("_sigma") != 0, F.col("_sigma"))
    z = F.round((F.col(val_col) - F.col("_mu")) / safe_sigma, round_digits)
    return (
        df.join(moments, key_cols)
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > z_threshold)
        .drop("_mu", "_sigma")
    )


def mad_anomalies(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    *,
    z_threshold: float = 3.5,
    round_digits: int = 4,
    approx_accuracy: int | None = None,
    fixed_scale: int | None = None,
) -> DataFrame:
    """Robust per-key outliers via the modified z-score
    0.6745·(x − median)/MAD > ``z_threshold`` (Iglewicz-Hoaglin): the
    mean/stddev screen (:func:`zscore_anomalies`) is itself dragged by
    the outliers it hunts — one fat tail inflates σ and masks the rest —
    while median and MAD (median absolute deviation) have a 50%
    breakdown point.

    Two aggregate→join-back rounds (median, then MAD of residuals),
    both exchanges hashing the same keys so AQE reuses the
    partitioning; moments tables broadcast while small.

    State honesty: EXACT per-key percentiles buffer the group's values
    in the aggregate (unlike sum/count moments) — that is inherent to
    order statistics, not to this plan. At 100 TB pass
    ``approx_accuracy`` to switch both medians to Greenwald-Khanna
    ``percentile_approx`` (bounded state, rank error ≤ n/accuracy; the
    flagged set can differ only for rows within the rank-error band of
    the threshold). Default exact → DuckDB oracles it bit-for-bit (qa7).

    MAD = 0 (≥ half the key's values identical) flags nothing: the
    divisor is NULLed explicitly, and a NULL robust-z fails any
    threshold compare — same contract as :func:`zscore_anomalies`."""
    if approx_accuracy is None:
        med_of = lambda c: F.percentile(c, F.lit(0.5))  # noqa: E731
    else:
        med_of = lambda c: F.percentile_approx(  # noqa: E731
            c, F.lit(0.5), F.lit(approx_accuracy)
        )
    if fixed_scale is not None and approx_accuracy is None:
        # Engine-exact integer path for fixed-precision values: work on
        # doubled scaled integers so BOTH medians interpolate to exact
        # integers (midpoint of two even ints), and the only float op is
        # the final 0.6745·A·2/M4 — identical correctly-rounded doubles
        # in any engine. (The float path's medians interpolate as
        # a + (b−a)·0.5 in Spark but not necessarily bitwise-identically
        # elsewhere — found as a 1-ulp robust_z flip at the 4dp rounding
        # boundary in an sf0.1 oracle sweep.)
        v2 = (F.round(F.col(val_col) * fixed_scale).cast("bigint") * 2).alias("_v2")
        with_v2 = df.withColumn("_v2", v2)
        med = with_v2.groupBy(*key_cols).agg(
            F.round(med_of(F.col("_v2"))).cast("bigint").alias("_med2")
        )
        resid = with_v2.join(med, key_cols).withColumn(
            "_a", F.col("_v2") - F.col("_med2")
        )
        mad = resid.groupBy(*key_cols).agg(
            F.round(med_of(F.abs(F.col("_a")) * 2)).cast("bigint").alias("_m4")
        )
        safe_m4 = F.when(F.col("_m4") != 0, F.col("_m4"))
        rz = F.round(
            F.lit(0.6745) * F.col("_a") * 2 / safe_m4, round_digits
        )
        return (
            resid.join(mad, key_cols)
            .withColumn("robust_z", rz)
            .filter(F.abs(F.col("robust_z")) > z_threshold)
            .drop("_v2", "_med2", "_a", "_m4")
        )

    med = df.groupBy(*key_cols).agg(med_of(F.col(val_col)).alias("_med"))
    resid = df.join(med, key_cols).withColumn(
        "_absdev", F.abs(F.col(val_col) - F.col("_med"))
    )
    mad = resid.groupBy(*key_cols).agg(med_of(F.col("_absdev")).alias("_mad"))
    safe_mad = F.when(F.col("_mad") != 0, F.col("_mad"))
    rz = F.round(F.lit(0.6745) * (F.col(val_col) - F.col("_med")) / safe_mad, round_digits)
    return (
        resid.join(mad, key_cols)
        .withColumn("robust_z", rz)
        .filter(F.abs(F.col("robust_z")) > z_threshold)
        .drop("_med", "_absdev", "_mad")
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    *,
    k: int = 3,
    scale: int = 10**4,
) -> DataFrame:
    """Seasonality-aware volume anomalies: hours whose event count
    deviates more than ``k`` standard deviations from THEIR OWN
    (day-of-week × hour-of-day) bucket's mean — the seasonal
    counterpart of the global z-score screen (q93), which would flag
    every weekend morning as anomalous and miss a quiet Monday noon.

    The flag uses LEAVE-ONE-OUT bucket moments — each hour is scored
    against the OTHER occurrences of its bucket (s₁ = s − cnt,
    ss₁ = ss − cnt², n₁ = n − 1), because including the candidate in
    its own baseline self-masks exactly the outliers worth catching
    (a 10× spike in a 6-sample bucket inflates σ enough to hide
    itself: z drops from ~9 to ~2.2). Entirely integer-exact and
    sqrt-free: ``(cnt − mean₁)² > k²·var₁`` multiplies through by n₁²
    into the BIGINT comparison ``(n₁·cnt − s₁)² > k²·(n₁·ss₁ − s₁²)``
    — no division, no sqrt, no float anywhere; the reported mean is
    the full-bucket div_half_up 1e-4 emit. Buckets with n < 3 never
    flag (a leave-one-out baseline of fewer than two samples has no
    variance to speak of).

    Scale shape: the event stream collapses to its hourly-count frame
    in ONE map-side-combined aggregate; the bucket moments are a window
    over that reduced frame (168 buckets — at most a few years of
    hours per partition); output is the anomalous hours only. Overflow:
    (n·cnt)² needs n·cnt < 3e9 — a decade of hours at millions of
    events per hour; lift to DECIMAL beyond.

    Returns every hour as ``(hour_ts, dow, hod, cnt, bucket_mean,
    anomalous)`` — the full profiled series with the flag, so callers
    (and oracles) see the baseline, not just the exceptions; filter on
    ``anomalous`` for the alert feed.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up

    hourly = (
        df.select(F.date_trunc("hour", F.col(ts_col)).alias("hour_ts"))
        .groupBy("hour_ts")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "hour_ts",
            (F.dayofweek("hour_ts") - 1).cast("int").alias("dow"),
            F.hour("hour_ts").cast("int").alias("hod"),
            "cnt",
        )
    )
    w = Window.partitionBy("dow", "hod")
    m = hourly.select(
        "hour_ts",
        "dow",
        "hod",
        "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("_s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("bigint").alias("_ss"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("_n"),
    )
    n1 = F.col("_n") - 1
    s1 = F.col("_s") - F.col("cnt")
    ss1 = F.col("_ss") - F.col("cnt") * F.col("cnt")
    dev = n1 * F.col("cnt") - s1
    var_n2 = n1 * ss1 - s1 * s1
    flag = (F.col("_n") >= 3) & (dev * dev > F.lit(k * k) * var_n2)
    return m.select(
        "hour_ts",
        "dow",
        "hod",
        "cnt",
        (div_half_up("_s", "_n", scale) / float(scale)).alias("bucket_mean"),
        flag.alias("anomalous"),
    ).orderBy("hour_ts")


def resettable_running_sum(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    val_col: str,
    reset_when,
) -> DataFrame:
    """Per-partition running sum that RESTARTS whenever ``reset_when``
    (a boolean Column) fires (``order_cols`` must totally order each
    partition) — the "balance since last error" /
    "usage since last rollover" shape that plain window sums can't
    express and naive solutions hand-loop: the reset row itself starts
    the new epoch (its value is the epoch's first contribution).

    Pure two-window composition, zero Python: epoch id = running count
    of resets, then the running sum partitions by (part, epoch). Both
    windows order the same way inside the same partition hash, so
    Catalyst plans ONE exchange and ONE sort shared by both (the q89
    shared-sort discipline — verified in EXPLAINS.md for qi3).
    Values are integer cents, so every running value is exact BIGINT.

    Returns the input columns plus ``epoch`` and ``run_cents``.
    """
    from pyspark.sql import Window

    w_base = Window.partitionBy(part_col).orderBy(*order_cols)
    epoch = F.sum(F.when(reset_when, 1).otherwise(0)).over(
        w_base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_epoch = df.withColumn("epoch", epoch.cast("bigint"))
    w_run = Window.partitionBy(part_col, "epoch").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cents = F.round(F.col(val_col) * 100).cast("bigint")
    return with_epoch.withColumn("run_cents", F.sum(cents).over(w_run).cast("bigint"))


def interval_coverage(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    dur_us,
    *,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Union length of (possibly overlapping) intervals per key — the
    gaps-and-islands sweep: how much wall-clock was each user/machine
    actually covered, counting overlaps once. Intervals are
    ``[ts, ts + dur_us)`` with ``dur_us`` a BIGINT-microseconds Column.

    The relational sweep-line: order intervals by start; an interval
    STARTS A NEW ISLAND iff its start exceeds the running max end of
    everything before it; island id = running count of island starts;
    each island's covered time is ``max(end) − min(start)``. Three
    windows + one aggregate, every window over the same (key, start)
    sort — ONE exchange and ONE sort in the plan (the shared-sort
    discipline). Arithmetic is entirely BIGINT epoch-microseconds:
    exact, engine-portable, no timestamp subtraction semantics to
    disagree on.

    Returns ``(part_col, n_intervals, n_islands, covered_us)`` per key.
    """
    from pyspark.sql import Window

    # tz-independent epoch micros: timestampdiff from the NTZ epoch
    # literal (unix_micros rejects TIMESTAMP_NTZ, and casting through
    # TIMESTAMP would re-introduce session-timezone semantics)
    q = ts_col.replace("`", "``")
    micros = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{q}`)"
    )
    base = df.select(
        F.col(part_col),
        micros.alias("_s"),
        (micros + dur_us).alias("_e"),
        *([F.col(tiebreak_col)] if tiebreak_col else []),
    )
    w = Window.partitionBy(part_col).orderBy(
        F.col("_s"), *([F.col(tiebreak_col)] if tiebreak_col else [])
    )
    prev_max_end = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "_new", F.when(prev_max_end.isNull() | (F.col("_s") > prev_max_end), 1).otherwise(0)
    )
    island = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    islands = flagged.withColumn("_isl", island.cast("bigint"))
    per_island = islands.groupBy(part_col, "_isl").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        (F.max("_e") - F.min("_s")).cast("bigint").alias("_cov"),
    )
    return (
        per_island.groupBy(part_col)
        .agg(
            F.sum("_n").cast("bigint").alias("n_intervals"),
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum("_cov").cast("bigint").alias("covered_us"),
        )
    )


def cusum_drift(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    val_col: str,
    *,
    threshold_cents: int,
) -> DataFrame:
    """Two-sided CUSUM drift audit per key: how far (and how often) did
    the running series drift above/below the key's own mean level —
    the retrospective form of Page's cumulative-sum change detector
    (reference computes no drift statistics; this extends the q93/qa7
    anomaly family from point outliers to SUSTAINED level shifts, the
    kind a z-score on single observations can't see).

    The recursive textbook form ``S_t = max(0, S_{t-1} + x_t - mu)``
    has the closed window form ``S_t = P_t - min_{0<=j<=t} P_j`` over
    the centered prefix ``P`` (with ``P_0 = 0``) — a running sum plus
    a running min, no recursion, no Python. Exactness via the
    scale-by-n trick: with ``s = sum(cents)`` and ``n`` per key, the
    centered prefix ``n*prefix_t - t*s`` is pure BIGINT (the qh5
    leave-one-out discipline). All windows (n, s, prefix, running
    min/max) order the same way inside the same partition hash, so
    Catalyst plans ONE exchange and ONE sort (verified in EXPLAINS.md
    for qi6). Peak drifts are divided back to cents with the shared
    round-half-up helper — integer end-to-end, engine-exact.

    Returns one row per key: ``(part_col, n_events, alarms_up,
    alarms_down, max_drift_up_cents, max_drift_down_cents)`` where an
    alarm counts an observation whose CUSUM statistic exceeds
    ``threshold_cents`` of cumulative drift (threshold scales by n on
    the comparison side, keeping both sides BIGINT).
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up

    w_sorted = Window.partitionBy(part_col).orderBy(*order_cols)
    w_all = w_sorted.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_run = w_sorted.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    base = df.select(
        F.col(part_col),
        *[F.col(c) for c in order_cols],
        F.round(F.col(val_col) * 100).cast("bigint").alias("_c"),
    )
    p_expr = (
        F.count(F.lit(1)).over(w_all) * F.sum("_c").over(w_run)
        - F.row_number().over(w_sorted) * F.sum("_c").over(w_all)
    ).cast("bigint")
    staged = base.select(
        F.col(part_col),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("_n"),
        p_expr.alias("_p"),
        F.min(p_expr).over(w_run).cast("bigint").alias("_pmin"),
        F.max(p_expr).over(w_run).cast("bigint").alias("_pmax"),
    )
    up = F.col("_p") - F.least(F.col("_pmin"), F.lit(0))
    down = F.greatest(F.col("_pmax"), F.lit(0)) - F.col("_p")
    thr = F.lit(int(threshold_cents)) * F.col("_n")
    return (
        staged.select(
            F.col(part_col),
            F.col("_n"),
            up.alias("_up"),
            down.alias("_dn"),
            (up > thr).cast("int").alias("_au"),
            (down > thr).cast("int").alias("_ad"),
        )
        .groupBy(part_col)
        .agg(
            F.max("_n").cast("bigint").alias("n_events"),
            F.sum("_au").cast("bigint").alias("alarms_up"),
            F.sum("_ad").cast("bigint").alias("alarms_down"),
            F.max("_up").alias("_mu"),
            F.max("_dn").alias("_md"),
        )
        .select(
            F.col(part_col),
            "n_events",
            "alarms_up",
            "alarms_down",
            div_half_up("_mu", "n_events").alias("max_drift_up_cents"),
            div_half_up("_md", "n_events").alias("max_drift_down_cents"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    tiebreak_col: str,
    val_col: str,
) -> DataFrame:
    """Time-weighted average (TWAP) of a step series per key: each
    observation holds its value until the next one, so its weight is
    the gap duration, not 1 (the reference's hourly means — SURVEY
    A1, `sources/wind.py:79` — weight every reading equally, which
    biases toward burst periods; TWAP is the irregular-sampling-safe
    aggregate a metering/pricing pipeline needs).

    Exact integer protocol: values in cents, gaps in whole
    milliseconds (``unix_millis``), so ``Σ cents·dur_ms`` stays well
    inside int64 (≤ 5.6e4 · 2.6e9 ≈ 1.5e14 per month-long key) and
    the final division is the shared round-half-up emit. One exchange
    + one sort: the ``lead`` window orders by (ts, tiebreak) inside
    the key partition; the groupBy that follows reuses the hash
    partitioning on the key.

    Keys with a single observation (or all observations in the same
    millisecond) have zero held duration — ``twap_cents`` is NULL for
    them rather than a fabricated value; ``n_events`` still counts
    every row.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up_signed

    w = Window.partitionBy(part_col).orderBy(ts_col, tiebreak_col)
    # tz-independent epoch millis (unix_millis rejects TIMESTAMP_NTZ;
    # casting through TIMESTAMP re-introduces session-tz semantics)
    q = ts_col.replace("`", "``")
    ms = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{q}`)"
        " div 1000"
    )
    staged = df.select(
        F.col(part_col),
        F.round(F.col(val_col) * 100).cast("bigint").alias("_c"),
        ms.alias("_ms"),
        F.lead(ms).over(w).alias("_next_ms"),
    ).select(
        F.col(part_col),
        F.col("_c"),
        (F.col("_next_ms") - F.col("_ms")).alias("_dur"),
    )
    agg = staged.groupBy(part_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.coalesce(F.sum("_dur"), F.lit(0)).cast("bigint").alias("active_ms"),
        F.coalesce(F.sum(F.col("_c") * F.col("_dur")), F.lit(0))
        .cast("bigint")
        .alias("_wsum"),
    )
    return agg.select(
        F.col(part_col),
        "n_events",
        "active_ms",
        F.when(
            F.col("active_ms") > 0, div_half_up_signed("_wsum", "active_ms")
        ).alias("twap_cents"),
    )


def ltob_downsample(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    tiebreak_col: str,
    val_col: str,
    *,
    n_buckets: int = 10,
) -> DataFrame:
    """Largest-Triangle-One-Bucket visual downsampling per key
    (Steinarsson '13, the per-bucket-independent sibling of LTTB that
    TimescaleDB ships as ``lttb``/``lobf``): split each key's series
    into ``n_buckets`` equal-count buckets and keep, per bucket, the
    point forming the largest triangle with its immediate neighbors —
    the point whose removal would most distort the plotted line.
    Endpoints are always kept (their triangle is undefined; emitted
    with NULL area). Unlike LTTB proper, bucket choices don't depend
    on the previous bucket's pick, so the whole operator is window
    algebra — no recursion, no Python.

    Exact integer protocol: x = epoch milliseconds, y = cents; the
    doubled triangle area ``|(x-xp)(yn-yp) - (xn-xp)(y-yp)|`` is pure
    BIGINT (≤ ~2.6e9 ms · 1e5 cents ≈ 2.6e14). Ties break on
    (earliest ts, smallest tiebreak) — total order, engine-exact.

    Plan shape: every per-key window (row_number, count, lag, lead)
    shares one exchange + one sort on (key, ts, tiebreak); the bucket
    winner window clusters by (key, bucket) which the existing hash
    partitioning on key already satisfies — Catalyst inserts only a
    sort, never a second exchange. Endpoint keeps fold into the SAME
    winner window via NULLS LAST ordering (endpoints carry NULL area),
    so the operator is one scan, one subtree — no union recomputing
    the window stack per branch.

    Returns ``(part_col, bucket, ts_col, cents, area2)``.
    """
    from pyspark.sql import Window

    q = ts_col.replace("`", "``")
    ms = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{q}`)"
        " div 1000"
    )
    staged = df.select(
        F.col(part_col),
        F.col(ts_col),
        F.col(tiebreak_col).alias("_tb"),
        ms.alias("_x"),
        F.round(F.col(val_col) * 100).cast("bigint").alias("_y"),
    )
    w = Window.partitionBy(part_col).orderBy(ts_col, "_tb")
    staged = staged.select(
        F.col(part_col),
        F.col(ts_col),
        "_tb",
        "_x",
        "_y",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_n"),
        F.lag("_x").over(w).alias("_xp"),
        F.lag("_y").over(w).alias("_yp"),
        F.lead("_x").over(w).alias("_xn"),
        F.lead("_y").over(w).alias("_yn"),
    )
    bucket = F.expr(f"(cast(_rn as bigint) - 1) * {n_buckets} div _n").alias("bucket")
    area2 = F.abs(
        (F.col("_x") - F.col("_xp")) * (F.col("_yn") - F.col("_yp"))
        - (F.col("_xn") - F.col("_xp")) * (F.col("_y") - F.col("_yp"))
    ).cast("bigint")
    scored = staged.select(
        F.col(part_col),
        bucket,
        F.col(ts_col),
        "_tb",
        F.col("_y").alias("cents"),
        F.when((F.col("_rn") > 1) & (F.col("_rn") < F.col("_n")), area2).alias(
            "area2"
        ),
        F.col("_rn"),
        F.col("_n"),
    )
    # one winner window over ALL rows: NULLS LAST pushes endpoints
    # behind every interior candidate, so rank 1 is the best interior
    # whenever one exists; endpoints keep unconditionally via rn
    w_win = Window.partitionBy(part_col, "bucket").orderBy(
        F.col("area2").desc_nulls_last(), F.col(ts_col).asc(), F.col("_tb").asc()
    )
    keep = (
        (F.col("_rn") == 1)
        | (F.col("_rn") == F.col("_n"))
        | ((F.col("_w") == 1) & F.col("area2").isNotNull())
    )
    return (
        scored.withColumn("_w", F.row_number().over(w_win))
        .filter(keep)
        .select(part_col, "bucket", ts_col, "cents", "area2")
    )


def ohlc_bars(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    tiebreak_col: str,
    val_col: str,
) -> DataFrame:
    """OHLC (open/high/low/close) bars per (key, day): the canonical
    downsampled representation of a value stream for charting and
    change analysis — open/close are the FIRST/LAST observed values in
    event order, not aggregates, which is what min_by/max_by-style
    shortcuts get nondeterministic on ties.

    Deterministic by construction: one row_number window over
    (ts, tiebreak) inside the (key, day) partition marks first and
    last; the aggregate picks them with conditional max (exactly one
    row matches each) alongside min/max/count — one exchange + one
    sort + one aggregate that reuses the window's partitioning. Cents
    are BIGINT end-to-end.

    Returns ``(part_col, day, open_cents, high_cents, low_cents,
    close_cents, n_events)``.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(part_col),
        # timestamp_ntz day (not DATE): the cross-engine hash compare
        # canonicalizes DuckDB dates as timestamps (q16 idiom)
        F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz").alias("day"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        F.round(F.col(val_col) * 100).cast("bigint").alias("_c"),
    )
    w = Window.partitionBy(part_col, "day").orderBy("_ts", "_tb")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = base.select(
        F.col(part_col),
        "day",
        "_c",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    return staged.groupBy(part_col, "day").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("_c"))).cast("bigint").alias("open_cents"),
        F.max("_c").cast("bigint").alias("high_cents"),
        F.min("_c").cast("bigint").alias("low_cents"),
        F.max(F.when(F.col("_rn") == F.col("_n"), F.col("_c")))
        .cast("bigint")
        .alias("close_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def lag_correlation(
    df: DataFrame,
    ts_col: str,
    x_flag,
    y_flag,
    *,
    max_lag_hours: int = 12,
) -> DataFrame:
    """Lagged cross-correlation of two hourly event series: for each
    lag L in 0..max_lag, the Pearson correlation of x(t) against
    y(t+L) — "does series y follow series x, and by how many hours?"
    The reference's core question is forecast-vs-actual error by lead
    time (SURVEY §6, plans/analytics.py); this is the symmetric
    diagnostic for when the lead itself is unknown.

    Grain economics: ONE aggregate collapses events to the hourly
    count frame (|hours| rows); the lag alignment is an explode of
    that reduced frame into max_lag+1 shifted copies joined back on
    the hour — all work after the first aggregate is O(hours·lags).
    Only hour pairs where BOTH series' hours exist in the frame's
    span enter a lag's moments (inner join on the shifted hour), so
    every lag correlates over its full overlap window.

    Exactness: counts are integers, so per-lag moments (n, Σx, Σy,
    Σxy, Σx², Σy²) are exact BIGINTs and the correlation is the qb3
    pinned-shape IEEE expression — engine-identical. NULL when a
    lag's window is degenerate (zero variance).

    ``x_flag``/``y_flag`` are boolean Columns selecting the two
    series' events. Returns ``(lag_hours, n_hours, corr)``.
    """
    hours = df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz").alias("_h")
    ).agg(
        F.sum(F.when(x_flag, 1).otherwise(0)).cast("bigint").alias("_x"),
        F.sum(F.when(y_flag, 1).otherwise(0)).cast("bigint").alias("_y"),
    )
    lags = F.explode(
        F.array(*[F.lit(lag) for lag in range(max_lag_hours + 1)])
    ).alias("lag_hours")
    shifted = hours.select(
        F.col("_h"), F.col("_y"), lags
    ).select(
        (F.col("_h") - F.expr("make_interval(0, 0, 0, 0, lag_hours, 0, 0)")).alias(
            "_h"
        ),
        F.col("lag_hours"),
        F.col("_y").alias("_ylag"),
    )
    joined = hours.select("_h", "_x").join(shifted, on="_h")
    m = joined.groupBy("lag_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("_x").cast("bigint").alias("_sx"),
        F.sum("_ylag").cast("bigint").alias("_sy"),
        F.sum(F.col("_x") * F.col("_ylag")).cast("bigint").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("_sxx"),
        F.sum(F.col("_ylag") * F.col("_ylag")).cast("bigint").alias("_syy"),
    )
    n = F.col("n_hours").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return m.select(
        F.col("lag_hours").cast("bigint").alias("lag_hours"),
        "n_hours",
        F.when(denom != 0, (n * sxy - sx * sy) / denom).alias("corr"),
    )


def mase_report(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    forecast_col: str,
    *,
    unit_scale: int = 100,
    order_cols: "list[str] | None" = None,
) -> DataFrame:
    """MASE — mean absolute error scaled by the in-sample lag-1 naive
    error (Hyndman & Koehler 2006), the scale-free forecast-accuracy
    standard: MASE < 1 beats "predict the previous value", comparable
    across series of any magnitude, defined where percentage errors
    (MAPE) blow up on zeros. The evaluation half the q92/EWMA /
    interpolation family produces forecasts for but could not score.

    Exact integers end-to-end: values and forecasts in BIGINT units,
    per-series absolute errors and naive |Δ| as integer sums, and the
    two MAEs' ratio deferred — mase = (sae·n_naive)::double /
    (snae·n_err) is ONE double division of exact BIGINT products (the
    lift/gains discipline), so the ranking a model review reads is
    engine-identical. One lead window per series (the shared-sort
    rule), one aggregate. ``order_cols`` (default ``[ts_col]``) is the
    per-series sort that defines "previous value"; callers whose
    ``ts_col`` can tie MUST pass a total order (e.g. ``["ts",
    "event_id"]``) or snae_units is partition-dependent. Series with
    < 2 points (no naive error) emit NULL mase. Returns (key,
    n_points, sae_units, snae_units, mase) ordered by key."""
    from pyspark.sql import Window

    order = list(order_cols) if order_cols else [ts_col]
    units = lambda c: F.round(F.col(c) * F.lit(unit_scale)).cast("bigint")  # noqa: E731
    rows = df.select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order)],
        units(val_col).alias("_v"),
        units(forecast_col).alias("_f"),
    ).withColumn(
        "_prev",
        F.lag("_v").over(
            Window.partitionBy("_k").orderBy(*[f"_o{i}" for i in range(len(order))])
        ),
    )
    agg = rows.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum(F.abs(F.col("_v") - F.col("_f"))).cast("bigint").alias("sae_units"),
        F.count("_f").cast("bigint").alias("_n_err"),
        F.coalesce(F.sum(F.abs(F.col("_v") - F.col("_prev"))), F.lit(0))
        .cast("bigint")
        .alias("snae_units"),
        F.count("_prev").cast("bigint").alias("_n_naive"),
    )
    return agg.select(
        F.col("_k").alias(key_col),
        "n_points",
        "sae_units",
        "snae_units",
        F.when(
            (F.col("snae_units") > 0) & (F.col("_n_err") > 0),
            (F.col("sae_units") * F.col("_n_naive")).cast("double")
            / (F.col("snae_units") * F.col("_n_err")).cast("double"),
        ).alias("mase"),
    ).orderBy(key_col)
