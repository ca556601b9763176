"""Driver-contract query registry: every operator from SURVEY §2 plus
the training-data-pipeline extensions, each as a (Spark plan, DuckDB
oracle SQL) pair over the /root/testdata tables.

Conventions (the driver compares row count + schema + order-insensitive
value hash, with columns sorted by name):
- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded (2-3 dp) in BOTH engines so summation
  order can't flip a hash;
- similarity scores are ranked on *rounded* values with id tie-breaks so
  rank order is engine-independent;
- every key in :data:`QUERIES` has its oracle under the same key in
  :data:`ORACLES`, and each function is registered under one key.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alaska_etl_spark.operators import sketches as S
from alaska_etl_spark.operators import text as T
from alaska_etl_spark.operators.asof import asof_join
from alaska_etl_spark.functions.fixedpoint import div_half_up
from alaska_etl_spark.functions.localrel import local_df
from alaska_etl_spark.operators.dedup import (
    dedup_keep_first,
    duplicate_report,
    embedding_near_dup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from alaska_etl_spark.operators.similarity import cosine_topk, ivf_topk
from alaska_etl_spark.schemas import STAR_SCHEMAS


def _mat(sql: str, *names: str) -> str:
    """Pin the named CTEs with DuckDB's ``AS MATERIALIZED`` hint. DuckDB
    inlines CTEs, so one referenced k times is EVALUATED k times — the
    q29 replay's ``sig`` sits under 16 band branches and re-ran the
    whole tokenize→gram→64-hash pipeline 16× (~16 s at sf0.1, the
    benchmark artifact VERDICT r4/r5 flagged; 0.8 s materialized). A
    pure optimizer directive: results are identical, and the oracle
    bench should compare against DuckDB at its best. Word-boundary
    regex, not substring replace: 'cnt AS (' must not be hit by a
    request to materialize 't' (ADVICE r6)."""
    import re

    for nm in names:
        sql = re.sub(
            rf"\b{re.escape(nm)} AS \(", f"{nm} AS MATERIALIZED (", sql, count=1
        )
    return sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a star table with its declared schema: no schema-inference
    job. An unknown ``name`` raises ``KeyError``."""
    return spark.read.schema(STAR_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    """Exact integer representation of a 2-decimal double.

    Float sums depend on partition/summation order; at 32 shuffle
    partitions vs DuckDB's single thread the last ulp differs and can
    flip a rounded digit. All testdata money/value columns carry exactly
    2 decimals, so summing BIGINT cents is exact, order-independent, and
    engine-independent. (The matching oracle SQL applies the identical
    transformation.)

    Rounding of the final ratio is ALSO done in integer space
    (`(2p + q) div (2q)` = round-half-up of p/q for positive ints, via
    F.expr since PySpark has no integer-division operator) because
    Spark's round(double) is decimal-string-faithful (BigDecimal) while
    DuckDB's multiplies-and-rounds — they disagree on exact .5-boundary
    quotients like 26127/400 = 65.3175."""
    return F.round(col * 100).cast("bigint")


# ---------------------------------------------------------------------------
# relational core (reference operator inventory, SURVEY §2)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """A1/A6: grouped aggregate with partial (map-side) aggregation —
    the TPC-H Q1 shape of the reference's hourly downsample
    (uscrn_wind_dag.py:184-189)."""
    li = _t(spark, sf_dir, "lineitem")
    # exact integer units: qty/price in cents, disc_price in 1e-4 units
    # (price_cents * (100 - disc_cents)) — see _cents for why
    li = (
        li.withColumn("qty_c", _cents(F.col("l_quantity")))
        .withColumn("price_c", _cents(F.col("l_extendedprice")))
        .withColumn("disc_c", _cents(F.col("l_discount")))
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_c").alias("_sq"),
            F.sum("price_c").alias("_sp"),
            F.sum(F.col("price_c") * (F.lit(100) - F.col("disc_c"))).alias("_sdp"),
            F.sum("disc_c").alias("_sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("_sq") / F.lit(100.0)).alias("sum_qty"),
            (F.col("_sp") / F.lit(100.0)).alias("sum_base_price"),
            (F.expr("(2 * _sdp + 100) div 200") / F.lit(100.0)).alias("sum_disc_price"),
            (div_half_up("_sq", "count_order") / F.lit(100.0)).alias("avg_qty"),
            (div_half_up("_sd", "count_order", 100) / F.lit(10000.0)).alias("avg_disc"),
            "count_order",
        )
    )


Q01_SQL = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT)      AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT)      AS disc_c
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
a AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty_c) AS sq, sum(price_c) AS sp,
         sum(price_c * (100 - disc_c)) AS sdp, sum(disc_c) AS sd,
         count(*) AS count_order
  FROM li GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus,
       sq / 100.0                                        AS sum_qty,
       sp / 100.0                                        AS sum_base_price,
       ((2 * sdp + 100) // 200) / 100.0                  AS sum_disc_price,
       ((2 * sq + count_order) // (2 * count_order)) / 100.0    AS avg_qty,
       ((200 * sd + count_order) // (2 * count_order)) / 10000.0 AS avg_disc,
       count_order
FROM a
"""


def q02_region_revenue(spark, sf_dir):
    """J1 chain: fact → broadcast dim joins (lineitem⋈orders⋈customer⋈
    nation⋈region) with revenue aggregate. Catalyst broadcasts every dim
    (all under the 64 MiB threshold) — the 100 TB plan is one shuffle,
    for the final group-by."""
    li, o, c, n, r = (_t(spark, sf_dir, t) for t in ["lineitem", "orders", "customer", "nation", "region"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_s"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "r_name",
            "n_name",
            (F.expr("(2 * _s + 100) div 200") / F.lit(100.0)).alias("revenue"),
            "n_items",
        )
    )


Q02_SQL = """
WITH a AS (
  SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS s,
         count(*) AS n_items
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, ((2 * s + 100) // 200) / 100.0 AS revenue, n_items FROM a
"""


def q03_top_orders(spark, sf_dir):
    """O1/O2: top-10 orders by revenue for one segment (sort + limit —
    Catalyst plans TakeOrderedAndProject, no full sort at scale)."""
    li, o, c = (_t(spark, sf_dir, t) for t in ["lineitem", "orders", "customer"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_s")
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            (F.expr("(2 * _s + 100) div 200") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q03_SQL = """
WITH a AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS s
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority)
SELECT o_orderkey, o_orderdate, o_orderpriority, ((2 * s + 100) // 200) / 100.0 AS revenue
FROM a ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


def q04_filtered_sum(spark, sf_dir):
    """P5/P6 predicate filters feeding a global aggregate (TPC-H Q6
    shape; the scan-level predicate pushdown case — PushedFilters must
    show the range predicates)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice")) * _cents(F.col("l_discount"))).alias("_s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            (F.expr("(2 * _s + 100) div 200") / F.lit(100.0)).alias("promo_revenue"),
            "n_rows",
        )
    )


Q04_SQL = """
WITH a AS (
  SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round(l_discount * 100) AS BIGINT)) AS s,
         count(*) AS n_rows
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24)
SELECT ((2 * s + 100) // 200) / 100.0 AS promo_revenue, n_rows FROM a
"""


def q05_watermark_max(spark, sf_dir):
    """A2: watermark lookup — the reference's ORDER BY … DESC LIMIT 1
    (uscrn_dag.py:99-103) expressed as the max() Catalyst rewrites it
    to anyway."""
    return _t(spark, sf_dir, "orders").agg(F.max("o_orderdate").alias("watermark"))


Q05_SQL = "SELECT max(o_orderdate) AS watermark FROM orders"


def q06_distinct_dims(spark, sf_dir):
    """A3: dim build by full-row distinct (reference locations dim,
    1_uscrn_scrape.ipynb:482-487)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


Q06_SQL = "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"


def q07_duplicate_report(spark, sf_dir):
    """A4: duplicate-key detection with multiplicity (reference
    uscrn_dag.py:198-202)."""
    ev = _t(spark, sf_dir, "events")
    return duplicate_report(ev, ["user_id", "event_type"])


Q07_SQL = """
SELECT user_id, event_type, count(*) AS dup_count
FROM events GROUP BY user_id, event_type HAVING count(*) > 1
"""


def q08_dedup_keep_first(spark, sf_dir):
    """A5 deterministic: one row per (user, event_type), earliest
    (ts, event_id) — the engine's replacement for pandas
    drop_duplicates keep='first' (SURVEY §7.4)."""
    ev = _t(spark, sf_dir, "events")
    return dedup_keep_first(ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"]).select(
        "event_id", "user_id", "event_type", "ts"
    )


Q08_SQL = """
SELECT event_id, user_id, event_type, ts FROM (
  SELECT event_id, user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
"""


def q09_semi_join(spark, sf_dir):
    """J3: membership filter as a left-semi join (reference line-prefix
    ∈ wbanno set, uscrn_dag.py:137-145)."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    hot = li.filter(F.col("l_quantity") >= 45).select("l_orderkey")
    return (
        o.join(hot, o.o_orderkey == hot.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


Q09_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderpriority
"""


def q59_anti_join(spark, sf_dir):
    """Anti-join: customers with no orders (the idempotent-append
    primitive, SURVEY §7.1 step 5)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return (
        c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q59_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q11_topk_per_group(spark, sf_dir):
    """W2 per-group variant: top-3 orders by totalprice per priority via
    row_number window."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


Q11_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) WHERE rk <= 3
"""


def q12_forward_fill(spark, sf_dir):
    """W1 forward fill: carry the last non-error reading per user over
    event time (the reference's sparse-Date fill, utils/utils.py:144-149,
    as a window over an explicit order)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.round(
            F.last(F.when(F.col("event_type") != "error", F.col("value")), ignorenulls=True).over(w), 2
        ).alias("filled_value"),
    )


Q12_SQL = """
SELECT event_id, user_id, ts, event_type,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled_value
FROM events
"""


def q13_pivot(spark, sf_dir):
    """U3: long→wide pivot with explicit values (the reference's
    landscape-table transpose, utils/utils.py:213-231).

    Averages are computed from exact integer cents (values carry 2
    decimals) so the result is independent of float summation order —
    the property that makes the hash reproducible across engines AND
    across partition counts (same reason the reference feared chunked
    means, 1_uscrn_scrape.ipynb:540)."""
    ev = _t(spark, sf_dir, "events").withColumn("cents", _cents(F.col("value")))
    # two-phase: exact integer-rounded avg per (user, type), then pivot
    # carries the single value with first()
    per_key = (
        ev.groupBy("user_id", "event_type")
        .agg(F.sum("cents").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            "user_id",
            "event_type",
            (div_half_up("_s", "_n") / F.lit(100.0)).alias("avg_v"),
        )
    )
    return (
        per_key.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.first("avg_v"))
        .withColumnsRenamed(
            {t: f"avg_{t}" for t in ["click", "view", "purchase", "signup", "error"]}
        )
    )


def _pivot_avg_sql(t: str) -> str:
    return f"max(CASE WHEN event_type = '{t}' THEN avg_v END) AS avg_{t}"


Q13_SQL = (
    "WITH e AS (SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),\n"
    "k AS (SELECT user_id, event_type, ((2 * sum(cents) + count(*)) // (2 * count(*))) / 100.0 AS avg_v\n"
    "      FROM e GROUP BY user_id, event_type)\n"
    "SELECT user_id, "
    + ", ".join(_pivot_avg_sql(t) for t in ["click", "view", "purchase", "signup", "error"])
    + " FROM k GROUP BY user_id"
)


def q60_union_all(spark, sf_dir):
    """U1: vertical concat of two filtered projections (reference
    per-file/page row extension, uscrn_dag.py:146)."""
    ev = _t(spark, sf_dir, "events")
    big_purchases = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select(
        "event_id", "user_id", F.lit("big_purchase").alias("bucket")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.lit("signup").alias("bucket")
    )
    return big_purchases.unionByName(signups).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("user_id").alias("n_users")
    )


Q60_SQL = """
SELECT bucket, count(*) AS n, count(DISTINCT user_id) AS n_users FROM (
  SELECT event_id, user_id, 'big_purchase' AS bucket FROM events
   WHERE event_type = 'purchase' AND value > 100
  UNION ALL
  SELECT event_id, user_id, 'signup' AS bucket FROM events WHERE event_type = 'signup'
) GROUP BY bucket
"""


def q15_sentinel_conversion(spark, sf_dir):
    """F2: sentinel-guarded unit conversion — the reference's
    celsius→fahrenheit with the -9999 guard (uscrn_dag.py:181), applied
    to the events value stream (values ≤ -90 treated as missing).
    Converted values are carried as exact integer milli-units
    (18*cents + 32000 == (v*9/5+32)*1000) so the mean is summation-
    order-independent."""
    ev = _t(spark, sf_dir, "events")
    conv_milli = F.when(
        F.col("value") > -90, F.lit(18) * _cents(F.col("value")) + F.lit(32000)
    )
    ev = ev.withColumn("cm", conv_milli)
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum("cm").alias("_s"),
            F.count("cm").alias("_n"),
            F.max("cm").alias("_mx"),
            F.sum(F.when(F.col("cm").isNull(), 1).otherwise(0)).alias("n_sentinel"),
        )
        .select(
            "event_type",
            F.when(
                F.col("_n") > 0,
                div_half_up("_s", "10 * _n") / F.lit(100.0),
            ).alias("avg_converted"),
            (F.expr("(2 * _mx + 10) div 20") / F.lit(100.0)).alias("max_converted"),
            "n_sentinel",
        )
    )


Q15_SQL = """
WITH e AS (
  SELECT event_type,
         CASE WHEN value > -90 THEN 18 * CAST(round(value * 100) AS BIGINT) + 32000 END AS cm
  FROM events),
a AS (
  SELECT event_type, sum(cm) AS s, count(cm) AS n, max(cm) AS mx,
         CAST(sum(CASE WHEN cm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sentinel
  FROM e GROUP BY event_type)
SELECT event_type,
       CASE WHEN n > 0 THEN ((2 * s + 10 * n) // (20 * n)) / 100.0 END AS avg_converted,
       ((2 * mx + 10) // 20) / 100.0 AS max_converted,
       n_sentinel
FROM a
"""


def q16_hourly_rollup(spark, sf_dir):
    """F4 + A1: timestamp floor to hour + grouped mean — the wind
    downsample (uscrn_wind_dag.py:184-189) on the events stream."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz"))
        .withColumn("cents", _cents(F.col("value")))
        .groupBy("hour", "event_type")
        .agg(F.sum("cents").alias("_s"), F.count(F.lit(1)).alias("n"))
        .select(
            "hour",
            "event_type",
            (div_half_up("_s", "n", 10) / F.lit(1000.0)).alias("value_hr_avg"),
            "n",
        )
    )


Q16_SQL = """
WITH a AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         sum(CAST(round(value * 100) AS BIGINT)) AS s, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT hour, event_type, ((20 * s + n) // (2 * n)) / 1000.0 AS value_hr_avg, n FROM a
"""


def q17_asof_join(spark, sf_dir):
    """J5 as-of join: each purchase matched to the user's latest signup
    at or before it (the forecast-vs-actual primitive, SURVEY §2.4)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("ts").alias("signup_ts"))
        .agg(F.round(F.max("value"), 2).alias("signup_value"))
    )
    return asof_join(
        purchases, signups, on=["user_id"], left_ts="ts", right_ts="signup_ts"
    ).select("event_id", "user_id", "ts", "signup_ts", "signup_value")


Q17_SQL = """
SELECT a.event_id, a.user_id, a.ts, b.signup_ts, b.signup_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') a
ASOF LEFT JOIN (
  SELECT user_id AS b_user_id, ts AS signup_ts, round(max(value), 2) AS signup_value
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2) b
ON a.user_id = b.b_user_id AND a.ts >= b.signup_ts
"""


def q18_running_total(spark, sf_dir):
    """Cumulative window: running purchase total per user over event
    time (rows frame, explicit deterministic order)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("cents", _cents(F.col("value")))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.sum("cents").over(w) / F.lit(100.0), 2).alias("running_value"),
        )
    )


Q18_SQL = """
SELECT event_id, user_id, ts,
       round(sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS running_value
FROM events WHERE event_type = 'purchase'
"""


def q19_rollup(spark, sf_dir):
    """Grouping-set rollup: revenue by (region, nation) with subtotals —
    beyond the reference's surface, standard warehouse capability."""
    li, o, c, n, r = (_t(spark, sf_dir, t) for t in ["lineitem", "orders", "customer", "nation", "region"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum(_cents(F.col("l_extendedprice"))) / F.lit(100.0), 2).alias("gross"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "gross",
        )
    )


Q19_SQL = """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS gross
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q20_json_extract(spark, sf_dir):
    """§2.10 JSON surface: extract a typed field from the events props
    JSON column (the api.weather.gov probe shape,
    2_nws_update.ipynb:563-570)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("_s"),
            F.count("k").alias("_n"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            (div_half_up("_s", "_n", 1000) / F.lit(1000.0)).alias("avg_k"),
            "max_k",
            "n",
        )
    )


Q20_SQL = """
WITH a AS (
  SELECT event_type, sum(k) AS s, count(k) AS cn, max(k) AS max_k, count(*) AS n
  FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
  GROUP BY event_type)
SELECT event_type, ((2000 * s + cn) // (2 * cn)) / 1000.0 AS avg_k, max_k, n FROM a
"""


def q21_regex_extract(spark, sf_dir):
    """F8/F14 regex suite: structured extraction from a text column."""
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn("brand_num", F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("bigint"))
        .groupBy("p_type")
        .agg(
            F.max("brand_num").alias("max_brand"),
            F.count_distinct("brand_num").alias("n_brands"),
            F.sum(_cents(F.col("p_retailprice"))).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "p_type",
            "max_brand",
            "n_brands",
            (div_half_up("_s", "_n") / F.lit(100.0)).alias("avg_price"),
        )
    )


Q21_SQL = """
WITH a AS (
  SELECT p_type, max(brand_num) AS max_brand, count(DISTINCT brand_num) AS n_brands,
         sum(price_c) AS s, count(*) AS n
  FROM (SELECT p_type, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
               CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num FROM part)
  GROUP BY p_type)
SELECT p_type, max_brand, n_brands, ((2 * s + n) // (2 * n)) / 100.0 AS avg_price FROM a
"""


# ---------------------------------------------------------------------------
# training-data pipeline: text analysis
# ---------------------------------------------------------------------------


def q22_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex classes) per doc."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_calc"),
    )


Q22_SQL = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
       length(text) AS n_chars_calc
FROM documents
"""


def q23_quality_score(spark, sf_dir):
    """Gopher/C4-style rule-based quality scoring; score is discrete
    (quarters) so the hash compare is exact."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


# The oracle replicates each rule; quality = mean of 4 indicator terms.
Q23_SQL = r"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
  FROM documents
), feat AS (
  SELECT doc_id,
         len(tk) AS n_tok,
         CASE WHEN len(tk) = 0 THEN 0.0
              ELSE list_aggregate(list_transform(tk, x -> CAST(length(x) AS DOUBLE)), 'sum') / greatest(len(tk), 1)
         END AS mwl,
         (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0 / greatest(length(text), 1) AS pr,
         len(list_filter(list_transform(tk, x -> lower(x)),
             x -> x IN ('the','and','of','to','is','in','that','for','with'))) * 1.0 / greatest(len(tk), 1) AS swr
  FROM toks
)
SELECT doc_id,
       ((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN swr >= 0.01 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality
FROM feat
"""


def q24_lang_id(spark, sf_dir):
    """Marker-lexicon language ID (argmax of stopword hits,
    deterministic tie-break by language code)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id("text").alias("lang_pred"))


def _lang_hits_sql(lang: str, words: list[str]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(tk, x -> x IN ({in_list}))) AS h_{lang}"


from alaska_etl_spark.operators.text import LANG_MARKERS as _LM

Q24_SQL = (
    r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), hits AS (
  SELECT doc_id, lang, """
    + ", ".join(_lang_hits_sql(k, v) for k, v in sorted(_LM.items()))
    + r"""
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
            WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
            WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
            WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM hits
"""
)


def q25_exact_dedup(spark, sf_dir):
    """Exact dedup by content hash: one surviving doc_id per normalized
    text (md5 — identical hex in Spark and DuckDB), plus multiplicity."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        d.withColumn("fp", F.md5(norm))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


Q25_SQL = r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q26_ngram_jaccard(spark, sf_dir):
    """Exact unigram-set Jaccard near-dup pairs over a bounded subset —
    the oracled verifier for the MinHash-LSH scale path (q29). Both the
    threshold (5·|∩| ≥ 4·|∪|) and the 4-dp rounding are integer
    arithmetic so the hash is engine-exact."""
    from alaska_etl_spark.operators.dedup import shingles

    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("_id"), shingles("text", 1).alias("_sh")
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).cast("bigint").alias("_p"),
            F.size(F.array_union("_sh_a", "_sh_b")).cast("bigint").alias("_q"),
        )
        .filter(F.lit(5) * F.col("_p") >= F.lit(4) * F.col("_q"))
        .select(
            "id_a",
            "id_b",
            (div_half_up("_p", "_q", 10000) / F.lit(10000.0)).alias("jaccard"),
        )
    )


Q26_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS sh
  FROM documents WHERE doc_id < 60
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS np,
         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS nq
  FROM t a JOIN t b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, ((20000 * np + nq) // (2 * nq)) / 10000.0 AS jaccard
FROM p WHERE 5 * np >= 4 * nq
"""


# ---------------------------------------------------------------------------
# training-data pipeline: similarity search + near-dup (embedding)
# ---------------------------------------------------------------------------


def q27_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k (k=5) for the first 10 vectors —
    ranked on round-3 scores with id tie-breaks so the ordering is
    engine-independent."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk(emb, queries, k=5, round_digits=3)
    return out.select("query_id", "neighbor_id", "cosine", "rank")


Q27_SQL = """
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
WHERE rank <= 5
"""


def q28_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (threshold tuned to the synthetic
    corpus distribution) over a bounded subset — id pairs only, so the
    hash is float-precision-proof."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.30, max_id=100).select(
        "id_a", "id_b"
    )


Q28_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE b.vec_id < 100 AND a.vec_id < 100
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.30
"""


def qt4_dup_groups(spark, sf_dir):
    """Near-dup pairs → duplicate GROUPS via distributed connected
    components (iterative min-label propagation). Edges are q26's exact
    Jaccard pairs; the oracle computes the same components with a
    recursive CTE — the iterative-algorithm category, still hash-checked.
    """
    from alaska_etl_spark.operators.dedup import dup_groups, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5, max_id=200).select(
        "id_a", "id_b"
    )
    return dup_groups(pairs)


# Edge set: exact word-3-gram Jaccard >= 0.5 over doc_id < 200 (3-gram
# shingles as in operators.dedup.shingles: k = max(tokens-2, 1) slices).
_Q42_PAIRS_SQL = r"""
  WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
    FROM documents WHERE doc_id < 200
  ), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 2, 1)),
             i -> array_to_string(tk[i:i+2], ' '))) AS s
    FROM toks
  )
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE 2 * len(list_intersect(a.s, b.s))
        >= len(list_distinct(list_concat(a.s, b.s)))
"""

# The recursive CTE reaches min-reachable-id per node: component(id) =
# min over the closure of neighbors; DuckDB evaluates it to fixpoint.
Q42_SQL = (
    "WITH RECURSIVE pairs AS ("
    + _Q42_PAIRS_SQL
    + "), edges AS (\n"
    + """
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)
SELECT component, CAST(count(*) AS BIGINT) AS member_count, min(id) AS keep_id
FROM comp GROUP BY component
"""
)
Q42_SQL = _mat(Q42_SQL, "toks", "sh", "pairs", "edges")


def q38_percentiles(spark, sf_dir):
    """Exact percentiles (median / p90) per event type — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation definition; inputs are exact cents so both engines
    interpolate the same doubles (rounded 4dp for the hash)."""
    ev = _t(spark, sf_dir, "events").withColumn("cents", _cents(F.col("value")))
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(cents, 0.5)") / 100.0, 4).alias("p50"),
            F.round(F.expr("percentile(cents, 0.9)") / 100.0, 4).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


Q38_SQL = """
WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
SELECT event_type,
       round(quantile_cont(cents, 0.5) / 100.0, 4) AS p50,
       round(quantile_cont(cents, 0.9) / 100.0, 4) AS p90,
       count(*) AS n
FROM e GROUP BY event_type
"""


def q39_ranking_suite(spark, sf_dir):
    """The full ranking-function family over one window: row_number,
    rank, dense_rank, ntile, and integer-exact percent_rank (scaled by
    1e6 into a bigint so float formatting can't flip the hash)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 490000)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w) * 1000000).cast("bigint").alias("pr_ppm"),
    )


Q39_SQL = """
SELECT o_orderpriority, o_orderkey,
       row_number() OVER w AS rn,
       rank() OVER w AS rk,
       dense_rank() OVER w AS drk,
       ntile(4) OVER w AS quartile,
       CAST(round(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_ppm
FROM orders WHERE o_totalprice > 490000
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q40_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT set semantics: nations with BUILDING-segment
    customers vs nations with negative-balance suppliers."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey").distinct()
    negsup = s.filter(F.col("s_acctbal") < 0).select(F.col("s_nationkey").alias("c_nationkey")).distinct()
    both = building.intersect(negsup).select("c_nationkey", F.lit("both").alias("bucket"))
    only_b = building.exceptAll(negsup).select("c_nationkey", F.lit("building_only").alias("bucket"))
    return both.unionByName(only_b)


Q40_SQL = """
WITH b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     n AS (SELECT DISTINCT s_nationkey AS c_nationkey FROM supplier WHERE s_acctbal < 0)
SELECT c_nationkey, 'both' AS bucket FROM (SELECT * FROM b INTERSECT SELECT * FROM n)
UNION ALL
SELECT c_nationkey, 'building_only' AS bucket FROM (SELECT * FROM b EXCEPT SELECT * FROM n)
"""


def q41_cube(spark, sf_dir):
    """CUBE grouping sets over (returnflag, linestatus) — all four
    grouping combinations in one pass (beyond the reference's surface;
    standard warehouse capability next to q19's ROLLUP)."""
    li = _t(spark, sf_dir, "lineitem").withColumn("qty_c", _cents(F.col("l_quantity")))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("qty_c").alias("_s"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            (F.col("_s") / F.lit(100.0)).alias("sum_qty"),
            "n",
        )
    )


Q41_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       count(*) AS n
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def q36_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, with an anti-join exclusion list (distinct aggregate after a
    join — the shuffle-heavy reporting shape)."""
    p, ps = _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    excluded = (
        _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    return (
        ps.join(excluded, ps.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


Q36_SQL = """
SELECT p_type, p_brand, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_type, p_brand
"""


def q61_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery — revenue from
    lineitems below 50% of their part's average quantity. Spark plans
    the correlation as an aggregate + equi-join (no per-row subquery
    execution), same as any warehouse engine should."""
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    li_c = li.withColumn("qty_c", _cents(F.col("l_quantity"))).withColumn(
        "price_c", _cents(F.col("l_extendedprice"))
    )
    avg_qty = li_c.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("qty_c").alias("_sq"), F.count(F.lit(1)).alias("_nq")
    )
    return (
        li_c.join(avg_qty, li_c.l_partkey == avg_qty._pk)
        .join(p.filter(F.col("p_size") >= 40), li_c.l_partkey == p.p_partkey)
        .filter(F.lit(2) * F.col("qty_c") * F.col("_nq") < F.col("_sq"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.coalesce(F.sum("price_c"), F.lit(0)).alias("_s"),
        )
        .select("n_small", (F.col("_s") / F.lit(100.0)).alias("small_revenue"))
    )


Q61_SQL = """
WITH li AS (
  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem),
a AS (SELECT l_partkey AS pk, sum(qty_c) AS sq, count(*) AS nq FROM li GROUP BY 1)
SELECT count(*) AS n_small, coalesce(sum(price_c), 0) / 100.0 AS small_revenue
FROM li
JOIN a ON li.l_partkey = a.pk
JOIN part ON li.l_partkey = p_partkey
WHERE p_size >= 40 AND 2 * qty_c * nq < sq
"""


def q35_salted_agg(spark, sf_dir):
    """Skew-proof two-phase aggregate (salted on 16 buckets) — must be
    value-identical to the plain GROUP BY the oracle runs; integer-cents
    mean as in q13/q16 so the equality is exact."""
    from alaska_etl_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").withColumn("cents", _cents(F.col("value")))
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("count", "cents"),
            "_s": ("sum", "cents"),
            "max_v_c": ("max", "cents"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        (div_half_up("_s", "n") / F.lit(100.0)).alias("avg_v"),
        (F.col("max_v_c") / F.lit(100.0)).alias("max_v"),
    )


Q35_SQL = """
WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
SELECT event_type, count(cents) AS n,
       ((2 * sum(cents) + count(cents)) // (2 * count(cents))) / 100.0 AS avg_v,
       max(cents) / 100.0 AS max_v
FROM e GROUP BY event_type
"""


def q34_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream: 30-min inactivity
    gap, per-session stats (the lag + running-sum two-window plan)."""
    from alaska_etl_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(
        ev, key_cols=["user_id"], ts_col="ts", gap="30 minutes", order_tiebreak=["event_id"]
    )


Q34_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
FROM numbered GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# training-data pipeline: multimodal columns (mapInPandas plumbing; the
# decode internals are a deterministic stand-in — operators.multimodal)
# ---------------------------------------------------------------------------


def q32_media_decode(spark, sf_dir):
    """Multimodal decode path THROUGH mapInPandas (Arrow batches): the
    byte count the pandas workers compute is oracled against DuckDB's
    octet_length — verifying the batch plumbing end-to-end, not the
    (stubbed) codec."""
    from alaska_etl_spark.operators.multimodal import decode_stats, media_from_documents

    d = _t(spark, sf_dir, "documents")
    media = media_from_documents(d, kind="image")
    return decode_stats(media, n_stats=4).select("media_id", "kind", "n_bytes")


Q32_SQL = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def q33_frame_sample(spark, sf_dir):
    """Frame-sampling explosion (video → one row per sampled frame),
    executor-side inside the batch iterator; the explosion *shape*
    (media_id, frame_idx, ts_ms) is exact and oracled, the per-frame
    stats are the deterministic stub."""
    from alaska_etl_spark.operators.multimodal import media_from_documents, sample_frames

    d = _t(spark, sf_dir, "documents")
    media = media_from_documents(d, kind="video")
    return sample_frames(media, every_ms=1000).select("media_id", "frame_idx", "ts_ms")


Q33_SQL = """
SELECT media_id, frame_idx, frame_idx * 1000 AS ts_ms FROM (
  SELECT doc_id AS media_id,
         unnest(generate_series(0, greatest(length(text) // 10, 1) - 1)) AS frame_idx
  FROM documents)
"""


# ---------------------------------------------------------------------------
# q29/q30: approximate near-dup in the md5 (engine-replayable) hash lane
# — EXACTLY oracled since round 5: every hash both engines compute is
# derived from md5 hex (dedup.md5_hash31/md5_hash60), so DuckDB replays
# the entire pipeline (tokenize → gram hash → signature mins → banding →
# candidate join → exact verify). The xxhash64 lane stays the production
# default (half the hash cost); recall equivalence of the two lanes is
# unit-tested (tests/test_dedup.py).
# ---------------------------------------------------------------------------


def q29_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (scale path; q26's exact Jaccard
    is the recall reference on the same corpus). 3-gram shingles:
    unigrams on the synthetic corpus's tiny shared vocabulary collide in
    every band and degenerate to an all-pairs join — word 3-grams are
    the standard discriminative choice. md5 hash lane → exact DuckDB
    oracle; jaccard is emitted unrounded (int/int division is the same
    IEEE double on both engines, while round() tie behavior differs)."""
    d = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        d, "doc_id", "text", n=3, num_hashes=64, bands=16,
        jaccard_threshold=0.5, hash_fn="md5",
    )


def q30_simhash(spark, sf_dir):
    """SimHash near-dup pairs, hamming ≤ 3 with chunk blocking, md5
    hash lane (60-bit token hashes → non-negative fingerprints whose
    shift/mask arithmetic replays identically in DuckDB)."""
    d = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3, hash_fn="md5")


def _dk_h31(expr: str) -> str:
    """DuckDB text for dedup.md5_hash31: first 8 md5 hex chars → BIGINT
    (Q43's list_reduce fold — DuckDB has no conv()), mod 2^31."""
    return (
        f"list_reduce(list_transform(string_split(substr(md5({expr}),1,8),''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a,b) -> a*16+b) % 2147483648"
    )


def _dk_h60(expr: str) -> str:
    """DuckDB text for dedup.md5_hash60 (15 hex chars, 60 bits)."""
    return (
        f"list_reduce(list_transform(string_split(substr(md5({expr}),1,15),''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a,b) -> a*16+b)"
    )


def _q29_sql() -> str:
    """Full MinHash-LSH replay: same (a,b) universal-hash constants as
    dedup._hash_params(64, 42), same 2^31 gram modulus, same md5 band
    keys, same exact-Jaccard verify over distinct gram sets."""
    from alaska_etl_spark.operators.dedup import _hash_params

    sig_slots = ", ".join(
        f"min(({a} * g + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(_hash_params(64, 42))
    )
    bands = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, {bh} AS bh FROM sig".format(
            b=b,
            bh=_dk_h60(
                "concat_ws(',', "
                + ", ".join(f"CAST(s{b * 4 + i} AS VARCHAR)" for i in range(4))
                + ")"
            ),
        )
        for b in range(16)
    )
    return _mat(rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, {_dk_h31('unnest(tk)')} AS th
  FROM toks
), full_grams AS (
  SELECT doc_id,
         ((th * 1000003 + lead(th,1) OVER w) % 2147483648 * 1000003
            + lead(th,2) OVER w) % 2147483648 AS g
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(th,2) OVER w IS NOT NULL
), shorts AS (
  SELECT doc_id,
         list_reduce(CAST(list(th ORDER BY pos) AS BIGINT[]),
                     (a,b) -> (a*1000003 + b) % 2147483648) AS g
  FROM tok_rows GROUP BY doc_id HAVING count(*) < 3
), gram_all AS (
  SELECT doc_id, g FROM full_grams UNION ALL SELECT doc_id, g FROM shorts
), sig AS (
  SELECT doc_id, {sig_slots} FROM gram_all GROUP BY doc_id
), banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
), shingle AS (
  SELECT DISTINCT doc_id, g FROM gram_all
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM shingle GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ic
  FROM cand c
  JOIN shingle sa ON sa.doc_id = c.id_a
  JOIN shingle sb ON sb.doc_id = c.id_b AND sb.g = sa.g
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.ic AS DOUBLE) / (za.sz + zb.sz - i.ic) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE CAST(i.ic AS DOUBLE) / (za.sz + zb.sz - i.ic) >= 0.5
""", "toks", "tok_rows", "full_grams", "gram_all", "sig", "shingle")


def _q30_sql() -> str:
    """Full SimHash replay: 60-bit md5 token hashes, per-bit majority
    votes as 60 sums in one aggregate, pigeonhole 16-bit chunk blocking,
    bit_count(xor) hamming."""
    counts = ", ".join(f"CAST(sum((h >> {b}) & 1) AS BIGINT) AS c{b}" for b in range(60))
    fp = " + ".join(f"(CASE WHEN 2*c{b} > n THEN {1 << b} ELSE 0 END)" for b in range(60))
    return _mat(rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, {_dk_h60('unnest(tk)')} AS h FROM toks
), counted AS (
  SELECT doc_id, count(*) AS n, {counts} FROM tok_rows GROUP BY doc_id
), fp AS (
  SELECT doc_id, {fp} AS sim FROM counted
), chunks AS (
  SELECT doc_id, sim, b.band, (sim >> (16*b.band)) & 65535 AS cv
  FROM fp, (VALUES (0),(1),(2),(3)) AS b(band)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(bit_count(xor(l.sim, r.sim)) AS INTEGER) AS hamming
FROM chunks l JOIN chunks r ON l.band = r.band AND l.cv = r.cv AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.sim, r.sim)) <= 3
""", "tok_rows", "chunks")


Q29_SQL = _q29_sql()
Q30_SQL = _q30_sql()


def q31_ivf_ann(spark, sf_dir):
    """IVF approximate nearest neighbors (nprobe=4 of 16 cells), in the
    engine-replicable mode: ORDER-BY-id centroids + 6dp-rounded
    assignment/probe similarities, so DuckDB replays the ENTIRE
    pipeline — quantizer, assignment, probe choice, candidate ranking —
    and the driver hash-checks it exactly (was rows-only through r3;
    q27 remains the recall reference)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, ncells=16, nprobe=4, replicable=True).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


Q31_SQL = """
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10) WHERE rn <= 4
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cosine
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand)
WHERE rank <= 5
"""


def q43_winnow_fingerprint(spark, sf_dir):
    """Document fingerprinting via rolling hash + winnowing (the MOSS
    scheme): distinct selected k-gram hashes per document, joinable for
    partial-overlap detection. Complements q25 (whole-content hash) and
    q29 (whole-doc resemblance)."""
    d = _t(spark, sf_dir, "documents")
    return T.winnowing_fingerprints(d, "doc_id", "text", k=4, w=5)


# Same arithmetic, DuckDB dialect: hex→int via list_reduce (DuckDB has no
# conv()), zipped unnest+generate_subscripts for posexplode, QUALIFY for
# the ragged-tail filter. Constants: base 31 (31^3=29791, 31^2=961),
# modulus 2^31-1.
Q43_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id,
         generate_subscripts(tk, 1) AS pos,
         list_reduce(list_transform(string_split(substr(md5(unnest(tk)), 1, 8), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b)
           % 2147483647 AS th
  FROM toks
), grams AS (
  SELECT doc_id, pos,
         (th * 29791 + lead(th,1) OVER w * 961 + lead(th,2) OVER w * 31 + lead(th,3) OVER w)
           % 2147483647 AS gh
  FROM tok_rows
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(th,3) OVER w IS NOT NULL
), wins AS (
  SELECT doc_id,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM grams
)
SELECT DISTINCT doc_id, fp FROM wins WHERE rn <= n_grams - 4
"""


def q44_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape: large-large join (lineitem⋈orders, both sides
    shuffle on orderkey) feeding conditional counts. The testdata schema
    has no l_shipmode, so the critical/non-critical split uses
    o_orderpriority — the operator shape (join + CASE-WHEN pivot counts)
    is identical. At 100 TB both sides bucket by orderkey (see
    plans/catalog.py) and the join is exchange-free."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q44_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


def q45_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join with a predicate inside the join
    condition (not a post-filter — customers with zero qualifying orders
    must survive with count 0), then a second aggregation over the first
    aggregate's result. The classic skew case: the two-level group-by
    means the second shuffle is tiny (distinct counts ≤ max orders per
    customer)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != F.lit("5-LOW")),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q45_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey) t
GROUP BY c_count
"""


def q62_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share
    for one month). The part join is AQE-broadcast at test scale and a
    shuffled hash join at 100 TB (part ≪ lineitem always). Ratio is
    computed in integer space — round-half-up (2·10⁴·p + t) div 2t —
    so both engines agree on the boundary digit."""
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    rev = _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias("_p"),
            F.sum(rev).alias("_t"),
        )
        .select(
            (div_half_up("_p", "_t", 10000) / F.lit(100.0)).alias("promo_pct")
        )
    )


Q62_SQL = """
WITH a AS (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS p,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS t
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
SELECT ((2 * 10000 * p + t) // (2 * t)) / 100.0 AS promo_pct FROM a
"""


def q63_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    Catalyst extracts the common conjuncts per side (p_brand ∈ {...} to
    the part scan, l_quantity range to the lineitem scan) as pushed
    filters BELOW the join, then re-applies the full disjunction above —
    the textbook predicate-decomposition case."""
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        j.filter(clause)
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            (F.expr("(2 * _s + 100) div 200") / F.lit(100.0)).alias("revenue"), "n_rows"
        )
    )


Q63_SQL = """
WITH a AS (
  SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS s,
         count(*) AS n_rows
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
     OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
     OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
SELECT ((2 * s + 100) // 200) / 100.0 AS revenue, n_rows FROM a
"""


def q48_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: the same dimension (nation) joined in TWO roles —
    supplier nation and customer nation — with a symmetric pair filter
    and a per-year rollup. Both nation copies broadcast; the only
    shuffles are the fact joins and the final small group-by."""
    li, o, c, s, n = (
        _t(spark, sf_dir, t) for t in ["lineitem", "orders", "customer", "supplier", "nation"]
    )
    n_supp = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_s"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (F.expr("(2 * _s + 100) div 200") / F.lit(100.0)).alias("revenue"),
            "n_items",
        )
    )


Q48_SQL = """
WITH a AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS s,
         count(*) AS n_items
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  GROUP BY 1, 2, 3)
SELECT supp_nation, cust_nation, l_year,
       ((2 * s + 100) // 200) / 100.0 AS revenue, n_items
FROM a
"""


def q49_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti-join.
    Customers in a code bucket (custkey mod 10 — the schema has no phone
    column) with above-average positive balance and no orders since
    2000-01-01 (dormant; the synthetic data gives every customer at
    least one lifetime order, so "no orders ever" would be vacuous).
    The average comparison is exact integer cross-multiplication
    (bal·n > Σbal), so no engine disagrees on boundary customers; the
    anti-join is a broadcast of the distinct custkey set at test scale
    and a shuffled left-anti at 100 TB."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    codes = [1, 3, 5, 7]
    pool = c.filter(F.pmod(F.col("c_custkey"), F.lit(10)).isin(codes)).withColumn(
        "bal_c", _cents(F.col("c_acctbal"))
    )
    thresh = pool.filter(F.col("c_acctbal") > 0).agg(
        F.sum("bal_c").alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    return (
        pool.join(F.broadcast(thresh))
        .filter(F.col("bal_c") * F.col("_n") > F.col("_sum"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("2000-01-01")),
            pool.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy(F.pmod(F.col("c_custkey"), F.lit(10)).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c") / F.lit(100.0)).alias("totacctbal"),
        )
    )


Q49_SQL = """
WITH pool AS (
  SELECT c_custkey, c_custkey % 10 AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c, c_acctbal
  FROM customer WHERE c_custkey % 10 IN (1, 3, 5, 7)),
thresh AS (
  SELECT sum(bal_c) AS s, count(*) AS n FROM pool WHERE c_acctbal > 0)
SELECT cntrycode, count(*) AS numcust, sum(bal_c) / 100.0 AS totacctbal
FROM pool, thresh
WHERE bal_c * n > s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntrycode
"""


def q50_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: aggregate → scalar MAX over the aggregate →
    equality filter back against it (ties all returned). The max is a
    one-row broadcast, not a window over an unpartitioned frame — the
    window form would funnel every supplier row through one task at
    scale. Comparison happens on exact integer revenue units."""
    li, s = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_r")
        )
    )
    best = rev.agg(F.max("_r").alias("_m"))
    return (
        rev.join(F.broadcast(best), F.col("_r") == F.col("_m"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.expr("(2 * _r + 100) div 200") / F.lit(100.0)).alias("total_revenue"),
        )
    )


Q50_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, ((2 * r + 100) // 200) / 100.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT max(r) FROM rev)
"""


def q10_sole_blame_supplier(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated self-joins on the
    fact table. Suppliers whose item was returned ('R') on a finished
    multi-supplier order where NO other supplier's item was returned —
    i.e. uniquely at fault. Spark: left-semi (exists) then left-anti
    (not exists) on (orderkey, suppkey≠), both plain shuffle joins on
    l_orderkey sharing one exchange of the probe side. Top-10 with
    unique s_name tie-break keeps the limit deterministic."""
    li, o, s = (_t(spark, sf_dir, t) for t in ["lineitem", "orders", "supplier"])
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o.filter(F.col("o_orderstatus") == "F"), li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    blamed = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        blamed.join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


Q10_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


def q14_range_join(spark, sf_dir):
    """Range (interval) join: every lineitem lands in the quantity band
    whose [lo, hi) interval contains it — a non-equi join Spark executes
    as BroadcastNestedLoopJoin against the tiny interval dim. That is
    the correct 100 TB plan when the interval table is small (each fact
    row tests a handful of intervals in memory, no shuffle); for LARGE
    interval tables the scale path is binning both sides to an equi-join
    key first (see operators/asof.py for the time-range variant of the
    same idea). Revenue per (band, returnflag) proves the join fed an
    aggregate, not just a filter."""
    li = _t(spark, sf_dir, "lineitem")
    bands = local_df(
        spark,
        [("B1", 0.0, 10.0), ("B2", 10.0, 20.0), ("B3", 20.0, 30.0),
         ("B4", 30.0, 40.0), ("B5", 40.0, 51.0)],
        "band string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi),
        )
        .groupBy("band", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("_s"),
        )
        .select(
            "band",
            "l_returnflag",
            "n_items",
            (F.col("_s") / F.lit(100.0)).alias("revenue"),
        )
    )


Q14_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('B1', 0.0, 10.0), ('B2', 10.0, 20.0), ('B3', 20.0, 30.0),
         ('B4', 30.0, 40.0), ('B5', 40.0, 51.0))
SELECT band, l_returnflag, count(*) AS n_items,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
GROUP BY band, l_returnflag
"""


def q53_lsh_ann(spark, sf_dir):
    """Sign-LSH (random-hyperplane) approximate nearest neighbors:
    data-independent 8-bit buckets turn the q27 cross join into an
    equi-join on bucket id. The seeded-LCG planes are 6dp decimal
    literals, so DuckDB rebuilds the identical hyperplanes and replays
    bucketing + ranking exactly (was rows-only through r3; recall
    against the exact q27 is pinned in tests/test_similarity.py).
    dim=64 is the testdata embedding width (TESTDATA.md)."""
    from alaska_etl_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, k=5, n_planes=8, dim=64).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def _q53_sql() -> str:
    """DuckDB replay of q53: the SAME sign_planes(64, 8, seed=7) weights
    as decimal literals (they round-trip to identical doubles in both
    engines), bucket = Σ 2^j·[v·plane_j ≥ 0], then the bucket equi-join
    and rounded ranking of the Spark path."""
    from alaska_etl_spark.operators.similarity import sign_planes

    planes = sign_planes(64, 8, 7)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], [{w}]::DOUBLE[]) >= 0 "
        "THEN {bit} ELSE 0 END)".format(
            w=", ".join(repr(x) for x in row), bit=1 << j
        )
        for j, row in enumerate(planes)
    )
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {bits} AS bucket
  FROM embeddings
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, n.v), 4) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(q.v, n.v), 4) DESC,
                    n.vec_id ASC) AS rank
  FROM c q JOIN c n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
  WHERE q.vec_id < 10)
WHERE rank <= 5
"""


Q53_SQL = _q53_sql()


def _salted_documents(spark, sf_dir):
    """documents with one deterministic PII instance of each kind
    appended per row — both engines build the identical salted text, so
    the q54 hash proves the redaction itself, not a no-op pass over
    PII-free synthetic text."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (907) 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789."),
        ).alias("text"),
    )


def q37_pii_scrub(spark, sf_dir):
    """PII redaction + per-kind audit counts (operators/redact.py) over
    PII-salted documents. The patterns are RE2-safe by construction, so
    DuckDB runs them verbatim (with the 'g' flag to match Spark's
    replace-all) and the redacted text hash-matches exactly — the whole
    scrub is regexp_replace/regexp_extract_all in whole-stage codegen,
    nothing but a scan + projection at any scale."""
    from alaska_etl_spark.operators.redact import scrub_documents

    return scrub_documents(_salted_documents(spark, sf_dir)).select(
        "doc_id", "text_clean", "n_email", "n_ssn", "n_phone", "n_ipv4"
    )


def _q54_sql() -> str:
    from alaska_etl_spark.operators.redact import PII_PATTERNS

    expr = "text"
    for kind, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '[{kind.upper()}]', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items()
    )
    return f"""
WITH salted AS (
  SELECT doc_id,
         concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                '@example.com or +1 (907) 555-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ip 10.0.',
                CAST(doc_id % 256 AS VARCHAR), '.7 ssn 123-45-6789.') AS text
  FROM documents)
SELECT doc_id, {expr} AS text_clean,
       {counts}
FROM salted
"""


Q37_SQL = _q54_sql()


def q46_distinct_counts(spark, sf_dir):
    """Exact per-group distinct counts of customers per order
    priority."""
    from alaska_etl_spark.operators.sketches import distinct_counts

    o = _t(spark, sf_dir, "orders")
    return distinct_counts(o, ["o_orderpriority"], "o_custkey")


Q46_SQL = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct
FROM orders GROUP BY o_orderpriority
"""


def q47_duplicated_spans(spark, sf_dir):
    """Cross-document repeated token-5-gram report
    (operators/dedup.py:duplicated_spans — exact substring dedup à la
    Lee et al. '22). Oracled exactly: DuckDB rebuilds the same spans
    via list slicing over the same whitespace tokenization."""
    from alaska_etl_spark.operators.dedup import duplicated_spans

    d = _t(spark, sf_dir, "documents")
    return duplicated_spans(d, "doc_id", "text", n=5, min_docs=2)


Q47_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks
), spans AS (
  SELECT doc_id, array_to_string(t[i : i+4], ' ') AS span FROM idx
)
SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
"""


def q64_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/dedup.py:semantic_dedup):
    coarse-quantize embeddings into ncells clusters, drop rows dominated
    by a smaller-id near-duplicate within their cluster, return the kept
    (vec_id, centroid_id) set. Oracled exactly: the quantizer is the
    engine-replicable smallest-id rule and both similarity decisions are
    rounded before comparison, so DuckDB replays assignment, domination,
    and survivorship verbatim."""
    from alaska_etl_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", ncells=8, threshold=0.30)


Q64_SQL = """
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 8
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
), dominated AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.30
)
SELECT vec_id, centroid_id FROM assigned
WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
"""


def q65_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, event_id)
    (operators/layout.py) — the layout primitive behind
    multi-dimension file pruning. The Spark expression and the DuckDB
    oracle SQL are emitted from ONE term generator, so the oracle checks
    the key bit-for-bit over every event row."""
    from alaska_etl_spark.operators.layout import zorder_key

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        zorder_key(["user_id", "event_id"], bits=16).alias("zkey"),
    )


def _q65_sql() -> str:
    from alaska_etl_spark.operators.layout import zorder_sql

    key = zorder_sql(["user_id", "event_id"], bits=16)
    return f"SELECT event_id, user_id, {key} AS zkey FROM events"


Q65_SQL = _q65_sql()


def q66_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization
    (operators/embeddings.py:quantize_int8) — floor(x*scale+0.5)
    convention precisely so the oracle reproduces every code point;
    scale rounded to 6dp only in the OUTPUT column."""
    from alaska_etl_spark.operators.embeddings import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    qs = quantize_int8(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(qs.getField("scale"), 6).alias("scale"),
        qs.getField("q").alias("qvec"),
    )


Q66_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS amax
  FROM embeddings
), scaled AS (
  SELECT vec_id, v, CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS s FROM base
)
SELECT vec_id, round(s, 6) AS scale,
       list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x * s + 0.5))) AS TINYINT)) AS qvec
FROM scaled
"""


def q67_matryoshka_truncate(spark, sf_dir):
    """Matryoshka prefix truncation to 16 dims with re-normalization
    (operators/embeddings.py:truncate_dims) — pure slice + fold
    expressions; components rounded to 6dp for the cross-engine hash."""
    from alaska_etl_spark.operators.embeddings import truncate_dims

    emb = _t(spark, sf_dir, "embeddings")
    t = truncate_dims(F.col("embedding"), 16)
    return emb.select(
        "vec_id", F.transform(t, lambda x: F.round(x, 6)).alias("prefix16")
    )


Q67_SQL = """
WITH pre AS (
  SELECT vec_id, (embedding::DOUBLE[])[1:16] AS p FROM embeddings
), normed AS (
  SELECT vec_id, p, sqrt(list_aggregate(list_transform(p, x -> x * x), 'sum')) AS n FROM pre
)
SELECT vec_id,
       CASE WHEN n > 0 THEN list_transform(p, x -> round(x / n, 6))
            ELSE list_transform(p, x -> round(x, 6)) END AS prefix16
FROM normed
"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q68_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment
    (operators/splits.py:hash_split): affine hash of doc_id in the
    2^61-1 field → bucket → CASE thresholds. The Spark expression and
    the oracle CASE are emitted from one spec, so DuckDB replays every
    assignment bit-for-bit."""
    from alaska_etl_spark.operators.splits import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(d, "doc_id", weights=_SPLIT_WEIGHTS, seed=7).select("doc_id", "split")


def _q68_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_split_sql

    return (
        "SELECT doc_id, "
        + hash_split_sql("doc_id", weights=_SPLIT_WEIGHTS, seed=7)
        + " AS split FROM documents"
    )


Q68_SQL = _q68_sql()


def q69_data_mix(spark, sf_dir):
    """Data mixture (operators/splits.py:mix_sources): 100% of short
    documents + 30% of long ones, each hash-sampled deterministically
    and tagged with its source index — the mixture step of a training
    pipeline as narrow, rerun-stable filters."""
    from alaska_etl_spark.operators.splits import mix_sources

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    short = d.filter(F.length("text") < 500)
    long_ = d.filter(F.length("text") >= 500)
    return mix_sources([(short, 1.0), (long_, 0.3)], "doc_id", seed=0).select(
        "doc_id", "source_idx"
    )


def _q69_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_sample_sql

    s0 = hash_sample_sql("doc_id", 1.0, seed=0)
    s1 = hash_sample_sql("doc_id", 0.3, seed=1)
    return f"""
SELECT doc_id, 0 AS source_idx FROM documents WHERE length(text) < 500 AND {s0}
UNION ALL
SELECT doc_id, 1 AS source_idx FROM documents WHERE length(text) >= 500 AND {s1}
"""


Q69_SQL = _q69_sql()


def q70_repetition_signals(spark, sf_dir):
    """Gopher-style per-document repetition signals
    (operators/text.py:repetition_signals) — exact integer counting over
    token/bigram/trigram streams, oracled verbatim."""
    from alaska_etl_spark.operators.text import repetition_signals

    d = _t(spark, sf_dir, "documents")
    return repetition_signals(d, "doc_id", "text")


Q70_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
), tok_stats AS (
  SELECT doc_id, len(t) AS n_tokens,
         len(list_distinct(t)) AS n_distinct
  FROM toks WHERE len(t) > 0
), b2 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), b2s AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS tot
  FROM (SELECT doc_id, g, count(*) AS c FROM b2 GROUP BY doc_id, g)
  GROUP BY doc_id
), b3 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
), b3s AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup, sum(c) AS tot
  FROM (SELECT doc_id, g, count(*) AS c FROM b3 GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens,
       round(1.0 - s.n_distinct / CAST(s.n_tokens AS DOUBLE), 6) AS dup_token_ratio,
       round(b2s.mx / CAST(b2s.tot AS DOUBLE), 6) AS top_bigram_frac,
       round(b3s.dup / CAST(b3s.tot AS DOUBLE), 6) AS dup_trigram_frac
FROM tok_stats s
LEFT JOIN b2s ON s.doc_id = b2s.doc_id
LEFT JOIN b3s ON s.doc_id = b3s.doc_id
"""


def q71_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.py:decontaminate):
    flag corpus docs (doc_id >= 20) sharing any 8-token span with the
    'benchmark' docs (doc_id < 20). Raw span strings here so the oracle
    replays the join; hashed=True is the scale path."""
    from alaska_etl_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 20)
    bench = d.filter(F.col("doc_id") < 20)
    return decontaminate(corpus, bench, "doc_id", "text", n=8)


Q71_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT doc_id, array_to_string(t[i : i+7], ' ') AS span
  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
), bench AS (
  SELECT DISTINCT span FROM spans WHERE doc_id < 20
), hits AS (
  SELECT DISTINCT s.doc_id FROM spans s JOIN bench b ON s.span = b.span
  WHERE s.doc_id >= 20
)
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def q72_pack_sequences(spark, sf_dir):
    """Sequence packing (operators/splits.py:pack_sequences): shard,
    deterministic order, concat-stream offset and fixed-window sequence
    index per document, sized by n_chars. One window per shard; the
    oracle replays the identical hash order and prefix sum."""
    from alaska_etl_spark.operators.splits import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "n_chars", budget=4096, n_shards=8, seed=5)


def _q72_sql() -> str:
    from alaska_etl_spark.operators.splits import pack_sequences_sql

    return pack_sequences_sql(
        "doc_id", "n_chars", budget=4096, n_shards=8, seed=5, table="documents"
    )


Q72_SQL = _q72_sql()


def q74_dedup_survivors(spark, sf_dir):
    """Near-dup pairs → per-document survivor verdict over the whole
    (bounded) corpus: singleton docs survive as their own component;
    inside each connected component exactly one representative survives
    (longest text wins, smallest doc_id breaks ties). The oracle
    recomputes components with the q42 recursive CTE and the same
    ranking — the complete dedup lifecycle (pairs → groups → kept
    corpus) under one exact hash check."""
    from alaska_etl_spark.operators.dedup import dedup_survivors, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    return dedup_survivors(d, "doc_id", pairs, quality_col="n_chars").select(
        "doc_id", "component", "survivor"
    )


Q74_SQL = (
    "WITH RECURSIVE pairs AS ("
    + _Q42_PAIRS_SQL
    + "), edges AS (\n"
    + """
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       CASE WHEN c.component IS NULL THEN true
            ELSE row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC, d.doc_id ASC) = 1
       END AS survivor
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
WHERE d.doc_id < 200
"""
)
Q74_SQL = _mat(Q74_SQL, "toks", "sh", "pairs", "edges")


def q75_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document over a bounded subset — the
    classic two-level text-statistics pipeline (term frequency, document
    frequency, corpus size) as one declarative plan with a single
    corpus-sized shuffle. Scores rounded to 4dp so both engines rank the
    same doubles; ties broken by term."""
    from alaska_etl_spark.operators.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return tfidf_top_terms(d, "doc_id", "text", k=3)


Q75_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents WHERE doc_id < 100
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents WHERE doc_id < 100
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 4) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# round 4: warehouse-reporting + data-quality shapes (q77+)
# ---------------------------------------------------------------------------


def q77_column_profile(spark, sf_dir):
    """Data-quality column profiling (Deequ-style) in ONE scan: every
    per-column stat (rows, nulls, distinct, min/max) is an aggregate in
    a single pass, then ``stack`` unpivots the 1-row result to one row
    per profiled column — the 100 TB shape (profiles must never be
    per-column scans). Numeric min/max are reported in exact cents so
    both engines print identical strings."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count("l_quantity").alias("_qn"),
        F.count_distinct("l_quantity").alias("_qd"),
        F.min(_cents(F.col("l_quantity"))).cast("string").alias("_qmin"),
        F.max(_cents(F.col("l_quantity"))).cast("string").alias("_qmax"),
        F.count("l_extendedprice").alias("_pn"),
        F.count_distinct("l_extendedprice").alias("_pd"),
        F.min(_cents(F.col("l_extendedprice"))).cast("string").alias("_pmin"),
        F.max(_cents(F.col("l_extendedprice"))).cast("string").alias("_pmax"),
        F.count("l_returnflag").alias("_rn"),
        F.count_distinct("l_returnflag").alias("_rd"),
        F.min("l_returnflag").alias("_rmin"),
        F.max("l_returnflag").alias("_rmax"),
        F.count("l_shipdate").alias("_sn"),
        F.count_distinct("l_shipdate").alias("_sd"),
        F.min("l_shipdate").cast("string").alias("_smin"),
        F.max("l_shipdate").cast("string").alias("_smax"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'l_quantity', _n, _n - _qn, _qd, _qmin, _qmax, "
            "'l_extendedprice', _n, _n - _pn, _pd, _pmin, _pmax, "
            "'l_returnflag', _n, _n - _rn, _rd, _rmin, _rmax, "
            "'l_shipdate', _n, _n - _sn, _sd, _smin, _smax) "
            "AS (column_name, n_rows, n_null, n_distinct, min_repr, max_repr)"
        )
    )


Q77_SQL = """
SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
       count(*) - count(l_quantity) AS n_null,
       count(DISTINCT l_quantity) AS n_distinct,
       CAST(min(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR) AS min_repr,
       CAST(max(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR) AS max_repr
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
       count(DISTINCT l_extendedprice),
       CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR),
       CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
       count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
       count(DISTINCT l_shipdate),
       CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
FROM lineitem
"""


def q78_interpolate(spark, sf_dir):
    """Time-series gap repair: linear interpolation of masked readings
    by sequence position between the nearest non-null neighbors (the
    W1 forward-fill generalized to two-sided). One sort per user
    partition services all four IGNORE NULLS windows — a single
    Exchange. Scalar IEEE arithmetic written identically in both
    engines, so the unrounded doubles hash-match."""
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 7 != 0, F.col("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", "ts", "event_id", v.alias("_v"), F.row_number().over(w).alias("_rn")
    ).withColumn("_mrn", F.when(F.col("_v").isNotNull(), F.col("_rn")))
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wn = w.rowsBetween(1, Window.unboundedFollowing)
    out = base.select(
        "user_id",
        "event_id",
        F.col("_v").alias("value_masked"),
        F.last("_v", ignorenulls=True).over(wp).alias("_pv"),
        F.last("_mrn", ignorenulls=True).over(wp).alias("_prn"),
        F.first("_v", ignorenulls=True).over(wn).alias("_nv"),
        F.first("_mrn", ignorenulls=True).over(wn).alias("_nrn"),
        "_rn",
    )
    filled = (
        F.when(F.col("value_masked").isNotNull(), F.col("value_masked"))
        .when(F.col("_pv").isNull(), F.col("_nv"))
        .when(F.col("_nv").isNull(), F.col("_pv"))
        .otherwise(
            F.col("_pv")
            + (F.col("_nv") - F.col("_pv"))
            * (F.col("_rn") - F.col("_prn"))
            / (F.col("_nrn") - F.col("_prn"))
        )
    )
    return out.select(
        "user_id", "event_id", "value_masked", filled.alias("value_filled")
    )


Q78_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_id % 7 <> 0 THEN value END AS v,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), marked AS (
  SELECT user_id, ts, event_id, v, rn,
         CASE WHEN v IS NOT NULL THEN rn END AS mrn
  FROM base
), ctx AS (
  SELECT user_id, event_id, v, rn,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(mrn IGNORE NULLS) OVER wp AS prn,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         first_value(mrn IGNORE NULLS) OVER wn AS nrn
  FROM marked
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id, v AS value_masked,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv) * (rn - prn) / (nrn - prn)
       END AS value_filled
FROM ctx
"""


def q79_fuzzy_pairs(spark, sf_dir):
    """Blocked fuzzy-match join: candidate pairs share a block key (name
    prefix — the same blocking idea as every LSH family here), verified
    by Levenshtein distance <= 1 in codegen. The block equi-join is the
    scale mechanism: no all-pairs comparison ever materializes — and the
    verify exploits the block invariant: strings with an identical
    prefix have levenshtein(p+s1, p+s2) = levenshtein(s1, s2), so the
    distance runs on the 2-char suffixes, O(1) per pair instead of
    O(|name|²) (3.4 s → sub-second at bench scale; the oracle computes
    the full-string distance and must agree)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.substring("c_name", 1, 16).alias("_blk"),
        F.substring("c_name", 17, 2).alias("_sfx"),
    )
    a = c.alias("a")
    b = c.alias("b")
    return (
        a.join(b, F.col("a._blk") == F.col("b._blk"))
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            F.levenshtein(F.col("a._sfx"), F.col("b._sfx")).alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


Q79_SQL = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a JOIN customer b
  ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def q80_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (finer than q19's ROLLUP / q41's CUBE):
    (priority × status), (priority), and grand total in one aggregate
    pass — Catalyst expands to a single Expand + hash aggregate, the
    same one-shuffle plan at any scale."""
    o = _t(spark, sf_dir, "orders").withColumn("price_c", _cents(F.col("o_totalprice")))
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price_c").alias("_s"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            (F.col("_s") / F.lit(100.0)).alias("total_price"),
        )
    )


Q80_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
"""


def q81_histogram(spark, sf_dir):
    """Equi-width histogram of order totals ($50k buckets, top-coded at
    bucket 9) — binning in exact integer cents so bucket edges are
    engine-independent. One aggregate over a scan; the 100 TB plan."""
    o = _t(spark, sf_dir, "orders").withColumn("price_c", _cents(F.col("o_totalprice")))
    bucket = F.least(F.expr("price_c div 5000000"), F.lit(9)).alias("bucket")
    return (
        o.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("price_c") / F.lit(100.0)).alias("total_price"),
        )
    )


Q81_SQL = """
SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000, 9) AS bucket,
       count(*) AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM orders GROUP BY 1
"""


def q82_market_share(spark, sf_dir):
    """TPC-H Q8 shape — nation market share by year: revenue fraction
    supplied by one nation within a customer region's market. Dims
    (nation twice, region) broadcast; the share ratio is rounded
    half-up in integer space so both engines agree at 4dp."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    v = _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "CHINA", v).otherwise(F.lit(0))).alias("_num"),
            F.sum(v).alias("_den"),
        )
        .select(
            "o_year",
            (div_half_up("_num", "_den", 10000) / F.lit(10000.0)).alias(
                "mkt_share"
            ),
        )
    )


Q82_SQL = """
WITH a AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         sum(CASE WHEN sn.n_name = 'CHINA'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS num,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS den
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  GROUP BY 1)
SELECT o_year, ((2 * 10000 * num + den) // (2 * den)) / 10000.0 AS mkt_share FROM a
"""


def q83_product_profit(spark, sf_dir):
    """TPC-H Q9 shape — profit by supplier nation × order year for a
    part-name substring family. The LIKE filter prunes parts before the
    join (pushed to the part scan); revenue in exact integer units."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    v = _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(v).alias("_s"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "nation",
            "o_year",
            (F.expr("(2 * _s + 10000) div 20000") / F.lit(100.0)).alias("profit"),
            "n_items",
        )
    )


Q83_SQL = """
WITH a AS (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS s,
         count(*) AS n_items
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY 1, 2)
SELECT nation, o_year, ((2 * s + 10000) // 20000) / 100.0 AS profit, n_items FROM a
"""


def q84_ntile_deciles(spark, sf_dir):
    """Decile report over customer balances with a deterministic
    (balance, key) order, per-decile count/min/max/sum. Uses the
    distributed global-ntile (operators/ranking.py): range exchange +
    narrow numbering + broadcast offsets — bit-identical to
    ``ntile(10) OVER (ORDER BY ...)`` (the oracle runs that form) but
    never funnels the rows through a single-partition window."""
    from alaska_etl_spark.operators.ranking import global_ntile

    c = _t(spark, sf_dir, "customer").withColumn("bal_c", _cents(F.col("c_acctbal")))
    return (
        global_ntile(c, ["bal_c", "c_custkey"], 10, bucket_col="decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("bal_c") / F.lit(100.0)).alias("min_bal"),
            (F.max("bal_c") / F.lit(100.0)).alias("max_bal"),
            (F.sum("bal_c") / F.lit(100.0)).alias("sum_bal"),
        )
    )


Q84_SQL = """
WITH d AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
         ntile(10) OVER (ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey) AS decile
  FROM customer)
SELECT decile, count(*) AS n,
       min(bal_c) / 100.0 AS min_bal,
       max(bal_c) / 100.0 AS max_bal,
       sum(bal_c) / 100.0 AS sum_bal
FROM d GROUP BY decile
"""


def q85_event_deltas(spark, sf_dir):
    """Inter-event gap statistics: lag() per user stream, then gap
    stats grouped by the later event's type. Seconds via the engine-
    stable truncate-to-epoch-seconds convention (identical to the
    sessionize duration contract). One sort shuffle services the lag;
    the group-by is the second, key-changing exchange."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    delta = (secs - F.lag(secs).over(w)).alias("_d")
    return (
        ev.select("user_id", "event_type", "ts", "event_id", delta)
        .filter(F.col("_d").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("_d").alias("_s"),
            F.max("_d").alias("max_gap_s"),
        )
        .select(
            "event_type",
            "n_gaps",
            (div_half_up("_s", "n_gaps", 100) / F.lit(100.0)).alias(
                "avg_gap_s"
            ),
            "max_gap_s",
        )
    )


Q85_SQL = """
WITH d AS (
  SELECT event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_s
  FROM events)
SELECT event_type, count(*) AS n_gaps,
       ((2 * 100 * sum(gap_s) + count(*)) // (2 * count(*))) / 100.0 AS avg_gap_s,
       max(gap_s) AS max_gap_s
FROM d WHERE gap_s IS NOT NULL GROUP BY event_type
"""


def q86_type_pivot(spark, sf_dir):
    """Daily activity matrix: pivot the event stream to one column pair
    (count, summed value) per event type — conditional aggregation, the
    single-pass pivot form (no per-type scans). Value sums in exact
    cents."""
    ev = _t(spark, sf_dir, "events").withColumn("val_c", _cents(F.col("value")))
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    aggs = []
    for t in ["click", "view", "purchase", "signup", "error"]:
        flag = F.col("event_type") == t
        aggs.append(F.sum(F.when(flag, 1).otherwise(0)).alias(f"n_{t}"))
        aggs.append(
            (F.sum(F.when(flag, F.col("val_c")).otherwise(0)) / F.lit(100.0)).alias(
                f"sum_{t}"
            )
        )
    return ev.groupBy(day).agg(*aggs)


Q86_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(*) FILTER (event_type = 'click') AS n_click,
       coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = 'click'), 0) / 100.0 AS sum_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = 'view'), 0) / 100.0 AS sum_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = 'purchase'), 0) / 100.0 AS sum_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = 'signup'), 0) / 100.0 AS sum_signup,
       count(*) FILTER (event_type = 'error') AS n_error,
       coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = 'error'), 0) / 100.0 AS sum_error
FROM events GROUP BY 1
"""


def q87_continuous_rollup(spark, sf_dir):
    """Continuous-aggregate maintenance (plans/rollup.py) proven
    end-to-end: the event stream is split into three interleaved
    batches (id mod 3 — every batch reopens hours other batches wrote),
    folded into a persisted partial-aggregate rollup one batch at a
    time, and the finalized result must hash-match DuckDB's ONE-SHOT
    hourly rollup over all events. The refresh reads only affected day
    partitions and rewrites only those directories (dynamic partition
    overwrite) — the 100 TB late-data path the reference's finalized
    append can't express."""
    import tempfile

    from alaska_etl_spark.plans.rollup import finalize, refresh_rollup

    ev = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="q87_rollup_") + "/rollup"
    for i in range(3):
        refresh_rollup(
            spark,
            ev.filter(F.col("event_id") % 3 == i),
            path,
            key_cols=["event_type"],
            ts_col="ts",
            val_col="value",
        )
    return finalize(spark.read.parquet(path)).select(
        F.col("bucket").alias("hour"),
        "event_type",
        "n",
        F.col("avg_val").alias("value_hr_avg"),
        "min_val",
        "max_val",
        "sum_val",
    )


Q87_SQL = """
WITH a AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         sum(CAST(round(value * 100) AS BIGINT)) AS s, count(*) AS n,
         min(CAST(round(value * 100) AS BIGINT)) AS mn,
         max(CAST(round(value * 100) AS BIGINT)) AS mx
  FROM events GROUP BY 1, 2)
SELECT hour, event_type, n,
       ((20 * s + n) // (2 * n)) / 1000.0 AS value_hr_avg,
       mn / 100.0 AS min_val, mx / 100.0 AS max_val, s / 100.0 AS sum_val
FROM a
"""


def q88_cosine_simjoin(spark, sf_dir):
    """Exact all-pairs sparse cosine similarity join
    (operators/simjoin.py): word-3-gram count vectors, inverted-index
    pair generation (only documents sharing a gram meet), exact integer
    dot products, one rounded float at the end. The exact-score
    companion to q29's MinHash estimate and q26's Jaccard."""
    from alaska_etl_spark.operators.simjoin import cosine_similarity_join

    d = _t(spark, sf_dir, "documents")
    return cosine_similarity_join(d, "doc_id", "text", n=3, threshold=0.2)


Q88_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS g
  FROM toks
), tf AS (
  SELECT doc_id, g, count(*) AS tf FROM grams GROUP BY 1, 2
), norms AS (
  SELECT doc_id, sum(tf * tf) AS ssq FROM tf GROUP BY 1
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.tf * b.tf) AS dot
  FROM tf a JOIN tf b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / sqrt(CAST(na.ssq * nb.ssq AS DOUBLE)), 4) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE round(dot / sqrt(CAST(na.ssq * nb.ssq AS DOUBLE)), 4) >= 0.2
"""


def q89_lm_perplexity(spark, sf_dir):
    """Bigram language-model quality scoring (operators/lm.py): train
    add-one-smoothed bigram counts on the corpus, score every document
    by average NLL / perplexity. The model-based tier above q23's
    surface quality heuristics (the CCNet signal)."""
    from alaska_etl_spark.operators.lm import bigram_lm_scores

    d = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(d, "doc_id", "text")


Q89_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos FROM toks
), bigr AS (
  SELECT doc_id, t AS w1, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok_rows
  QUALIFY w2 IS NOT NULL
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bigr GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT count(DISTINCT t) AS V FROM tok_rows
), nll AS (
  SELECT doc_id,
         -ln((coalesce(c12.c12, 0) + 1) / (coalesce(c1.c1, 0) + v.V)) AS nll
  FROM bigr
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  CROSS JOIN v
), per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
  FROM nll GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       p.avg_nll,
       round(exp(p.avg_nll), 4) AS ppl
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
"""


def q90_stratified_sample(spark, sf_dir):
    """Exact-quota stratified sample (operators/splits.py): 5 documents
    per (lang, source) stratum, chosen by deterministic hash order —
    exact counts per stratum (rate-based sampling only hits quotas in
    expectation), reproducible on any engine/partitioning."""
    from alaska_etl_spark.operators.splits import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, ["lang", "source"], "doc_id", 5).select(
        "doc_id", "lang", "source"
    )


def _q90_sql() -> str:
    from alaska_etl_spark.operators.splits import stratified_sample_sql

    inner = stratified_sample_sql("documents", ["lang", "source"], "doc_id", 5)
    return f"SELECT doc_id, lang, source FROM ({inner})"


def q92_ewma(spark, sf_dir):
    """Per-user exponential moving average of event values in event-time
    order (operators/timeseries.py): the recursive scan relational
    windows can't express — one shuffle on the key, vectorized
    ``pandas.ewm`` per group. The oracle computes the identical values
    from the O(n²) closed form, cross-verifying the recursion."""
    from alaska_etl_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    return ewma(
        ev.select("event_id", "user_id", "ts", "value"),
        ["user_id"],
        "ts",
        "value",
        alpha=0.3,
        order_tiebreak="event_id",
    ).select("event_id", "user_id", "ewma")


Q92_SQL = """
WITH RECURSIVE pos AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t
  FROM events
), r AS (
  SELECT event_id, user_id, t, value AS y FROM pos WHERE t = 0
  UNION ALL
  -- identical double arithmetic to the engine's recursion (0.3*x + 0.7*y),
  -- so both sides see the SAME float before rounding — a closed-form
  -- oracle lands on the other side of exact half-way decimals
  SELECT p.event_id, p.user_id, p.t, 0.3 * p.value + 0.7 * r.y
  FROM pos p JOIN r ON p.user_id = r.user_id AND p.t = r.t + 1
)
SELECT event_id, user_id, round(y, 6) AS ewma FROM r
"""


Q92_SQL = _mat(Q92_SQL, "pos")


def q93_zscore_anomalies(spark, sf_dir):
    """Per-event-type z-score outliers (operators/timeseries.py): one
    moments aggregate, join back, filter |z| > 2.5 — the screening pass
    a monitoring pipeline runs over every rollup."""
    from alaska_etl_spark.operators.timeseries import zscore_anomalies

    ev = _t(spark, sf_dir, "events")
    return zscore_anomalies(
        ev.select("event_id", "event_type", "value"),
        ["event_type"],
        "value",
        z_threshold=2.5,
    ).select("event_id", "event_type", "value", "zscore")


Q93_SQL = """
WITH m AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
  FROM events GROUP BY 1
)
SELECT event_id, event_type, value,
       round((value - mu) / nullif(sigma, 0), 4) AS zscore
FROM events JOIN m USING (event_type)
WHERE abs(round((value - mu) / nullif(sigma, 0), 4)) > 2.5
"""


def q94_domain_weights(spark, sf_dir):
    """DSIR-shaped importance weights (operators/lm.py): score every
    document under an en-domain bigram LM and the full-corpus LM;
    weight = source_nll − target_nll. The cross-corpus (train ≠ score)
    LM path with OOV smoothing, which the self-scored q89 never
    exercises."""
    from alaska_etl_spark.operators.lm import domain_relevance_weights

    d = _t(spark, sf_dir, "documents")
    return domain_relevance_weights(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text"
    )


def _lm_score_cte(prefix: str, train_where: str) -> str:
    """Q89's train+score CTE chain, parameterized by training filter —
    the SQL twin of train_bigram_lm plus the count-table scoring of
    domain_relevance_weights."""
    return f"""
{prefix}_bigr AS (
  SELECT doc_id, t AS w1, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok_rows
  QUALIFY w2 IS NOT NULL
), {prefix}_c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM {prefix}_bigr
  WHERE doc_id IN (SELECT doc_id FROM documents WHERE {train_where})
  GROUP BY 1, 2
), {prefix}_c1 AS (
  SELECT w1, sum(c12) AS c1 FROM {prefix}_c12 GROUP BY 1
), {prefix}_v AS (
  SELECT count(DISTINCT t) AS V FROM tok_rows
  WHERE doc_id IN (SELECT doc_id FROM documents WHERE {train_where})
), {prefix}_score AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         round(avg(-ln((coalesce(c.c12, 0) + 1) / (coalesce(x.c1, 0) + v.V))), 6)
           AS avg_nll
  FROM {prefix}_bigr b
  LEFT JOIN {prefix}_c12 c USING (w1, w2)
  LEFT JOIN {prefix}_c1 x USING (w1)
  CROSS JOIN {prefix}_v v
  GROUP BY b.doc_id
)"""


Q94_SQL = (
    r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos FROM toks
),"""
    + _lm_score_cte("tgt", "lang = 'en'")
    + ","
    + _lm_score_cte("src", "1 = 1")
    + """
SELECT d.doc_id,
       coalesce(t.n_bigrams, 0) AS n_bigrams,
       t.avg_nll AS target_nll,
       s.avg_nll AS source_nll,
       round(s.avg_nll - t.avg_nll, 6) AS weight
FROM documents d
LEFT JOIN tgt_score t USING (doc_id)
LEFT JOIN src_score s USING (doc_id)
"""
)


def q95_moving_avg(spark, sf_dir):
    """Event-time RANGE-frame moving aggregate: per-user trailing-1-hour
    mean of event values — the range window (frame bounded by a VALUE
    interval, variable row count) that the rows-frame suite (q18
    running total, q85 lag deltas) doesn't exercise. Integer-cents sum
    over the frame / exact count keeps it engine-reproducible. One
    (user_id)-keyed sort shuffle, same as any per-key window."""
    ev = _t(spark, sf_dir, "events")
    secs = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs)
        .rangeBetween(-3600, Window.currentRow)
    )
    cents = _cents(F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.sum(cents).over(w).alias("_s"),
    ).select(
        "event_id",
        "user_id",
        "n_window",
        (div_half_up("_s", "n_window") / F.lit(100.0)).alias(
            "avg_1h"
        ),
    )


Q95_SQL = """
WITH c AS (
  SELECT event_id, user_id,
         -- floor, not CAST-rounding: Spark's timestamp->long TRUNCATES
         -- sub-second epochs; rounding shifts ~half the frame
         -- boundaries by 1 s (invisible at sf0.01 where windows hold
         -- one row; 48% of rows at sf0.1)
         CAST(floor(epoch(ts)) AS BIGINT) AS secs,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), wins AS (
  SELECT event_id, user_id,
         count(*) OVER w AS n_window,
         sum(cents) OVER w AS s
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY secs
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_window,
       ((2 * s + n_window) // (2 * n_window)) / 100.0 AS avg_1h
FROM wins
"""


def q96_top_terms(spark, sf_dir):
    """Corpus vocabulary statistics: the 25 most frequent tokens with
    document frequency — the canonical wordcount every corpus audit
    starts from. Explode → two hash aggregates (term total + doc
    frequency via count-distinct) → TakeOrderedAndProject (per-
    partition heaps, no global sort)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")).alias(
            "term"
        ),
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(25)
    )


Q96_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
)
SELECT term, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM toks
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT 25
"""


def q97_chunk_documents(spark, sf_dir):
    """Fixed-window document chunking with overlap (operators/text.py):
    64-token chunks starting every 48 tokens — the RAG/long-doc
    preprocessing step upstream of embedding and packing. Pure narrow
    codegen; no shuffle."""
    from alaska_etl_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_tokens=64, overlap=16)


Q97_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), st AS (
  SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 1, 48)) AS s
  FROM toks WHERE len(tk) > 0
)
SELECT doc_id,
       s // 48 AS chunk_id,
       array_to_string(list_slice(tk, s + 1, s + 64), ' ') AS chunk_text,
       least(len(tk) - s, 64) AS n_tokens
FROM st
"""


def q98_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold (aggregate → HAVING → join back to orders ⋈ customer).
    The having-aggregate is the semi-join driver: at 100 TB the
    qualifying-order set is small, so the join back to the fact is a
    broadcast of qualified keys; here Catalyst/AQE pick from runtime
    sizes (no hint — the aggregate carries no stats at plan time)."""
    li, o, c = (
        _t(spark, sf_dir, t) for t in ["lineitem", "orders", "customer"]
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("_q"))
        .filter(F.col("_q") > 200 * 100)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.col("_q") / F.lit(100.0)).alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


Q98_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 20000
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, q / 100.0 AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 100
"""


def q99_join_view(spark, sf_dir):
    """Incremental join-view maintenance (plans/ivm.py) proven
    end-to-end, the q87 pattern for JOINS: orders and customers arrive
    as interleaved delta batches (id mod splits), each refresh
    propagates ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, and the accumulated view
    must hash-match DuckDB's ONE-SHOT join of everything."""
    import tempfile

    from alaska_etl_spark.plans.ivm import read_view, refresh_join_view

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_orderkey", "o_orderdate"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name", "c_mktsegment"
    )
    root = tempfile.mkdtemp(prefix="q99_view_")
    refresh_join_view(spark, root, on=["k"], delta_a=o.filter(F.col("o_orderkey") % 3 == 0))
    refresh_join_view(spark, root, on=["k"], delta_b=c.filter(F.col("k") % 2 == 0))
    refresh_join_view(
        spark,
        root,
        on=["k"],
        delta_a=o.filter(F.col("o_orderkey") % 3 != 0),
        delta_b=c.filter(F.col("k") % 2 != 0),
    )
    return read_view(spark, root).select(
        "k", "o_orderkey", "o_orderdate", "c_name", "c_mktsegment"
    )


Q99_SQL = """
SELECT o_custkey AS k, o_orderkey, o_orderdate, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def qa0_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated MIN subquery — for each qualifying
    part, the European supplier(s) offering the minimum unit cost, where
    the part-supplier catalog is derived from lineitem (the testdata has
    no partsupp table): cost(part, supp) = MIN cents(l_extendedprice)
    over their lineitems. The correlated subquery decorrelates to a
    per-part MIN **window over the aggregated catalog**, not an
    aggregate + join-back: the join-back form re-scans lineitem and
    re-joins the dims for the inner aggregate (DataFrames don't
    materialize shared subtrees), while the window touches only the
    (part, supplier) catalog — orders of magnitude smaller than the
    fact — partitioned by l_partkey, so it stays parallel (contrast
    q50's scalar max, where a window would mean one unpartitioned
    frame). Dims (supplier⋈nation⋈region) broadcast."""
    li, p, s, n, r = (
        _t(spark, sf_dir, t)
        for t in ["lineitem", "part", "supplier", "nation", "region"]
    )
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    catalog = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_cents(F.col("l_extendedprice"))).alias("_cost"))
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    pq = p.filter(F.col("p_type") == "LARGE")
    w = Window.partitionBy("l_partkey")
    return (
        catalog.withColumn("_min_cost", F.min("_cost").over(w))
        .filter(F.col("_cost") == F.col("_min_cost"))
        .join(pq, F.col("l_partkey") == pq.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("_cost") / F.lit(100.0)).alias("min_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


QA0_SQL = """
WITH eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), catalog AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost
  FROM lineitem GROUP BY 1, 2
), eu_catalog AS (
  SELECT c.*, s.s_name, s.s_acctbal, s.n_name
  FROM catalog c JOIN eu_supp s ON c.l_suppkey = s.s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost / 100.0 AS min_cost
FROM eu_catalog c
JOIN part ON c.l_partkey = p_partkey
WHERE p_type = 'LARGE'
  AND cost = (SELECT min(cost) FROM eu_catalog i WHERE i.l_partkey = c.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def qa1_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS semi-join feeding a grouped
    count — orders placed in 1997Q1 with at least one line shipped more
    than 90 days after the order date (the testdata lineitem has no
    commitdate/receiptdate; ship-lag supplies the same cross-table
    EXISTS predicate), counted per priority. Spark: LEFT SEMI join on
    l_orderkey with the lag predicate folded into the join condition —
    the semi short-circuits on first match, and only the date columns
    of the probe side survive pruning into the exchange."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    oq = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    late = oq.join(
        li,
        (oq.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


QA1_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey
                AND l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def qa2_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: the co-location predicate c_nationkey =
    s_nationkey threaded through a 6-table join — revenue kept only
    where customer and supplier share a nation, summed per nation for
    one region-year. Spark: lineitem⋈orders is the one fact-fact
    sort-merge; customer, supplier, nation, region broadcast; the
    nation-equality predicate rides the supplier join condition so no
    post-join filter materializes mismatched rows."""
    li, o, c, s, n, r = (
        _t(spark, sf_dir, t)
        for t in ["lineitem", "orders", "customer", "supplier", "nation", "region"]
    )
    oy = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    asia_n = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        li.join(oy, li.l_orderkey == oy.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(asia_n), s.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice"))
                * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_r")
        )
        .select("n_name", (F.col("_r") / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


QA2_SQL = """
SELECT n_name,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def qa3_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter — lineitem filtered to returnflag 'R' joined through orders
    to customer⋈nation, grouped on the full customer tuple. The group-by
    carries every output column (standard Q10) so the aggregate and the
    top-k share one exchange on c_custkey; customer and nation
    broadcast."""
    li, o, c, n = (
        _t(spark, sf_dir, t) for t in ["lineitem", "orders", "customer", "nation"]
    )
    oq = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(oq, li.l_orderkey == oq.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice"))
                * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("_r")
        )
        .select(
            "c_custkey",
            "c_name",
            (F.col("_r") / F.lit(10000.0)).alias("revenue"),
            "c_acctbal",
            "n_name",
            "c_mktsegment",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


QA3_SQL = """
SELECT c_custkey, c_name,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
       c_acctbal, n_name, c_mktsegment
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def qa4_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: grouped value vs a global scalar share — parts
    whose traded value through suppliers of one nation exceeds 0.1% of
    that nation's total traded value (the testdata has no partsupp;
    lineitem extendedprice stands in for availqty × supplycost). The
    scalar total re-aggregates the per-part partials (one extra one-row
    stage, no second scan) and broadcasts into the HAVING compare —
    never a window over an unpartitioned frame."""
    li, s = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    nat = s.filter(F.col("s_nationkey") == 7).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nat), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).alias("_v"))
    )
    total = per_part.agg(F.sum("_v").alias("_tot"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_v") * 1000 > F.col("_tot"))
        .select("l_partkey", (F.col("_v") / F.lit(100.0)).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


QA4_SQL = """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS v
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 7)
  GROUP BY 1)
SELECT l_partkey, v / 100.0 AS value
FROM per_part
WHERE v * 1000 > (SELECT sum(v) FROM per_part)
ORDER BY value DESC, l_partkey
"""


def qa5_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape: nested semi-join chain — suppliers in one nation
    who, for some PROMO-type part, shipped more than 30% of that part's
    total 1997 quantity (the partsupp availqty > ½·shipped predicate of
    stock Q20, recast over the lineitem-derived catalog: a dominant-
    supplier screen). Chain: part filter → per-(part,supplier) quantity
    vs per-part total (two aggregates sharing the l_partkey exchange) →
    qualifying suppkeys → LEFT SEMI into supplier⋈nation. Quantities
    compare in integer cents, scaled ×10 vs ×3 for the 30% threshold."""
    li, p, s, n = (
        _t(spark, sf_dir, t) for t in ["lineitem", "part", "supplier", "nation"]
    )
    promo = p.filter(F.col("p_type") == "PROMO").select("p_partkey")
    li97 = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"), "left_semi")
    per_ps = li97.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_cents(F.col("l_quantity"))).alias("_q")
    )
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("_q").alias("_qt"))
    dominant = (
        per_ps.join(per_p, ["l_partkey"])
        .filter(F.col("_q") * 10 > F.col("_qt") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n.filter(F.col("n_nationkey") == 7)), s.s_nationkey == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


QA5_SQL = """
WITH li97 AS (
  SELECT l_partkey, l_suppkey, CAST(round(l_quantity * 100) AS BIGINT) AS qc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
), per_ps AS (
  SELECT l_partkey, l_suppkey, sum(qc) AS q FROM li97 GROUP BY 1, 2
), per_p AS (
  SELECT l_partkey, sum(q) AS qt FROM per_ps GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT DISTINCT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
                    WHERE q * 10 > qt * 3)
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_nationkey = 7)
ORDER BY s_suppkey
"""


def qa6_heavy_hitters(spark, sf_dir):
    """EXACT φ-heavy hitters over the token stream
    (operators/sketches.py:heavy_hitters): tokens occurring in more than
    0.2% of all token positions, found with bounded state — Misra-Gries
    candidates per partition (k = ⌈1/φ⌉ counters, cardinality-
    independent) then one verify pass where non-candidates collapse into
    a single NULL group. Contrast q96, whose count-distinct state grows
    with the vocabulary: at web scale the vocabulary IS the data, the
    MG summary stays 501 counters. The answer is exact, so DuckDB
    oracles it with a plain HAVING."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
        ).alias("term")
    )
    return S.heavy_hitters(toks, "term", phi=0.002).select(
        F.col("item").alias("term"), F.col("cnt").alias("n_occurrences")
    )


QA6_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
)
SELECT term, count(*) AS n_occurrences
FROM toks
GROUP BY term
HAVING count(*) > 0.002 * (SELECT count(*) FROM toks)
ORDER BY n_occurrences DESC, term
"""


def qa7_mad_anomalies(spark, sf_dir):
    """Robust per-type outliers (operators/timeseries.py:mad_anomalies):
    modified z-score on median/MAD instead of q93's mean/stddev — the
    moment screen is dragged by the very outliers it hunts (one fat tail
    inflates σ and masks the rest); median and MAD have a 50% breakdown
    point. Exact medians here (DuckDB replays them bit-for-bit); at
    100 TB the ``approx_accuracy`` knob swaps in bounded-state
    Greenwald-Khanna medians."""
    from alaska_etl_spark.operators.timeseries import mad_anomalies

    ev = _t(spark, sf_dir, "events")
    return mad_anomalies(
        ev.select("event_id", "event_type", "value"),
        ["event_type"],
        "value",
        z_threshold=3.5,
        fixed_scale=100,
    ).select("event_id", "event_type", "value", "robust_z")


# Integer-space protocol (mirrors mad_anomalies fixed_scale=100): both
# medians land on exact integers (doubled scaled values), so the only
# float op is the final 0.6745·a·2/m4 — identical in any engine.
QA7_SQL = """
WITH c AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 100) AS BIGINT) * 2 AS v2
  FROM events
), med AS (
  SELECT event_type, CAST(round(median(v2)) AS BIGINT) AS med2 FROM c GROUP BY 1
), resid AS (
  SELECT c.event_id, c.event_type, c.value, c.v2 - m.med2 AS a
  FROM c JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, CAST(round(median(abs(a) * 2)) AS BIGINT) AS m4
  FROM resid GROUP BY 1
)
SELECT event_id, event_type, value,
       round(0.6745::DOUBLE * a * 2 / nullif(m4, 0), 4) AS robust_z
FROM resid JOIN mad USING (event_type)
WHERE abs(round(0.6745::DOUBLE * a * 2 / nullif(m4, 0), 4)) > 3.5
"""


def qa8_weighted_sample(spark, sf_dir):
    """Length-proportional document sample
    (operators/splits.py:weighted_sample): 100 docs without replacement,
    inclusion odds ∝ n_chars, via Efraimidis-Spirakis priorities
    u^(1/w) on the deterministic hash uniform — the standard way a
    curriculum samples long documents more often while staying
    rerun/engine-stable. TakeOrderedAndProject, never a global sort."""
    from alaska_etl_spark.operators.splits import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", 100, seed=11).select(
        "doc_id", "n_chars"
    )


def _qa8_sql() -> str:
    from alaska_etl_spark.operators.splits import weighted_sample_order_sql

    pri = weighted_sample_order_sql("doc_id", "n_chars", seed=11)
    return (
        "SELECT doc_id, n_chars FROM documents WHERE n_chars > 0 "
        f"ORDER BY {pri} DESC, doc_id LIMIT 100"
    )


QA8_SQL = _qa8_sql()


def qa9_bloom_pruned_join(spark, sf_dir):
    """Bloom-filter join pruning (operators/pruning.py): lineitem
    semi-joined to rich suppliers with a Bloom pre-filter on the fact
    side — the fact's exchange carries only rows that might match, no
    false negatives, so the result is IDENTICAL to the plain semi join
    and DuckDB oracles it exactly. The per-supplier rollup after the
    join proves the pruned stream still aggregates correctly."""
    from alaska_etl_spark.operators.pruning import bloom_pruned_semi_join

    li, s = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    rich = s.filter(F.col("s_acctbal") > 8000).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        bloom_pruned_semi_join(li, rich, "l_suppkey", fpp=0.01)
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("_r"),
        )
        .select(
            "l_suppkey",
            "n_items",
            (F.col("_r") / F.lit(100.0)).alias("gross_revenue"),
        )
        .orderBy("l_suppkey")
    )


QA9_SQL = """
SELECT l_suppkey, count(*) AS n_items,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS gross_revenue
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 8000)
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


def qb0_jaccard_simjoin(spark, sf_dir):
    """Corpus-wide EXACT Jaccard ≥ 0.5 similarity join with prefix
    filtering (operators/simjoin.py:jaccard_similarity_join) — the
    candidate join runs over each document's rarest-shingle prefix, the
    verify pass restores exactness. Closes the triangle with q26 (exact
    but bounded to 60 docs) and q29 (corpus-wide but approximate
    MinHash): corpus-wide AND exact. DuckDB replays it brute-force over
    string shingles, which also cross-checks the 64-bit shingle-hash
    compaction."""
    from alaska_etl_spark.operators.simjoin import jaccard_similarity_join

    d = _t(spark, sf_dir, "documents")
    return jaccard_similarity_join(
        d, "doc_id", "text", n=3, threshold_num=1, threshold_den=2
    )


QB0_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         )) AS s
  FROM toks
), t AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), sz AS (
  SELECT doc_id, count(*) AS n FROM t GROUP BY 1
), inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS np
  FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       ((20000 * np + nq) // (2 * nq)) / 10000.0 AS jaccard
FROM (
  SELECT ia, ib, np, sa.n + sb.n - np AS nq
  FROM inter
  JOIN sz sa ON ia = sa.doc_id
  JOIN sz sb ON ib = sb.doc_id
)
WHERE 2 * np >= nq
"""


QB0_SQL = _mat(QB0_SQL, "t", "sz")


def qb1_geo_knn_join(spark, sf_dir):
    """Grid-blocked haversine kNN join (operators/geo.py): every
    customer's 3 nearest suppliers within 150 km — the distance join
    behind "which station covers this point" (the reference bakes
    lat/lon into its MapClick fetch), done as a cell equi-join +
    bounded neighbor explode instead of a cartesian product. The
    blocked result equals brute force (pinned in tests/test_geo.py), so
    DuckDB oracles it with the cartesian form at oracle scale.
    Coordinates are integer-derived from the keys (the testdata has no
    lat/lon columns) so both engines replay identical geometry."""
    from alaska_etl_spark.operators.geo import knn_join, pseudo_coords

    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    clat, clon = pseudo_coords("c_custkey")
    slat, slon = pseudo_coords("s_suppkey")
    left = c.select("c_custkey", clat.alias("lat"), clon.alias("lon"))
    right = s.select("s_suppkey", slat.alias("lat"), slon.alias("lon"))
    return knn_join(
        left,
        right,
        left_id="c_custkey",
        right_id="s_suppkey",
        k=3,
        radius_km=150.0,
    )


def _qb1_sql() -> str:
    from alaska_etl_spark.operators.geo import haversine_km_sql, pseudo_coords_sql

    clat, clon = pseudo_coords_sql("c_custkey")
    slat, slon = pseudo_coords_sql("s_suppkey")
    d = haversine_km_sql(clat, clon, slat, slon)
    return f"""
SELECT c_custkey, s_suppkey, round({d}, 3) AS distance_km,
       CAST(row_number() OVER (
         PARTITION BY c_custkey ORDER BY round({d}, 3), s_suppkey
       ) AS INT) AS rank
FROM customer, supplier
WHERE round({d}, 3) <= 150.0
QUALIFY rank <= 3
"""


QB1_SQL = _qb1_sql()


def qb3_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation of the lineitem numerics in ONE
    pass over the fact (operators/stats.py:corr_matrix): every moment
    accumulates as an exact integer (order-independent), the float
    division happens once on the one-row aggregate, so DuckDB replays
    the matrix bit-for-bit — no tolerance needed where corr() built-ins
    would disagree in the last ulps."""
    from alaska_etl_spark.operators.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    )


def _qb3_sql() -> str:
    from alaska_etl_spark.operators.stats import corr_matrix_sql

    return corr_matrix_sql(
        "lineitem", ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    )


QB3_SQL = _qb3_sql()


def qb4_grouped_regression(spark, sf_dir):
    """Per-group OLS (operators/stats.py:grouped_linreg): price ~
    quantity fitted independently for every (returnflag, linestatus)
    segment — the million-models shape (one regression per key in one
    shuffle, closed-form normal equations over exact integer moments),
    not MLlib's one-big-model shape. Engine-exact like qb3."""
    from alaska_etl_spark.operators.stats import grouped_linreg

    li = _t(spark, sf_dir, "lineitem")
    return grouped_linreg(
        li, ["l_returnflag", "l_linestatus"], "l_quantity", "l_extendedprice"
    ).orderBy("l_returnflag", "l_linestatus")


def _qb4_sql() -> str:
    from alaska_etl_spark.operators.stats import grouped_linreg_sql

    return grouped_linreg_sql(
        "lineitem", ["l_returnflag", "l_linestatus"], "l_quantity", "l_extendedprice"
    )


QB4_SQL = _qb4_sql()


def qb5_decimal_quantiles(spark, sf_dir):
    """Bounded-state EXACT quantiles
    (operators/sketches.py:decimal_quantiles): p50/p90/p99 of the event
    values per type by counting the fixed-precision value domain —
    exact like q38 but with aggregate state bounded by distinct cents,
    not rows (q38's ``percentile`` buffers the group; GK approximates).
    Integer arithmetic to the end, so DuckDB replays it exactly."""
    from alaska_etl_spark.operators.sketches import decimal_quantiles

    ev = _t(spark, sf_dir, "events")
    return decimal_quantiles(
        ev.select("event_type", "value"), ["event_type"], "value", [0.5, 0.9, 0.99]
    ).orderBy("event_type", "prob")


QB5_SQL = """
WITH counts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v, count(*) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM counts
)
SELECT event_type, CAST(p AS DOUBLE) AS prob, v / 100.0 AS value
FROM cum, (VALUES (0.5), (0.9), (0.99)) probs(p)
WHERE cum >= ceil(p * n) AND cum - c < ceil(p * n)
ORDER BY event_type, prob
"""


def qb6_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/graph.py) over the undirected
    customer⇄supplier trade graph (nodes encoded 2·custkey / 2·suppkey+1
    so the key spaces can't collide), 5 power iterations — an ITERATIVE
    graph algorithm made engine-exact: integer fixed-point arithmetic is
    summation-order-independent, so DuckDB replays the loop exactly via
    an unrolled CTE chain emitted from the same spec."""
    from alaska_etl_spark.operators.graph import pagerank

    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    trade = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = trade.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        trade.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iters=5)


def _qb6_sql() -> str:
    from alaska_etl_spark.operators.graph import pagerank_sql

    edges = (
        "SELECT c AS src, s AS dst FROM ("
        "SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey) "
        "UNION ALL "
        "SELECT s, c FROM ("
        "SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"
    )
    return pagerank_sql(edges, iters=5)


QB6_SQL = _qb6_sql()


QB6_SQL = _mat(QB6_SQL, "nodes", "edges", "ew")


def qb7_triangle_counts(spark, sf_dir):
    """Per-node triangle counts (operators/graph.py:triangle_counts)
    over the supplier co-occurrence graph (suppliers sharing an order),
    via degree-ordered orientation — wedges build only from
    out-neighbors, so hub degree is capped at O(√|E|) and the naive
    edge³ blow-up never happens. DuckDB oracles it with the brute
    a<b<c triple join, which is exactly what the orientation avoids."""
    from alaska_etl_spark.operators.graph import triangle_counts

    li = _t(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", F.col("l_suppkey").alias("sa"))
    b = li.select("l_orderkey", F.col("l_suppkey").alias("sb"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return triangle_counts(edges).orderBy("node")


QB7_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
), per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
), nodes AS (
  SELECT DISTINCT a AS node FROM e UNION SELECT DISTINCT b FROM e
)
SELECT n.node, coalesce(p.n_triangles, 0) AS n_triangles
FROM nodes n LEFT JOIN per_node p ON n.node = p.node
ORDER BY n.node
"""


def qb8_bfs_distances(spark, sf_dir):
    """Bounded-hop BFS (operators/graph.py:bfs_distances): co-occurrence
    distance from nation-7's suppliers to every supplier reachable in
    ≤ 3 hops of the shared-order graph — frontier relaxation with a
    min-aggregate per round, integer distances, lineage truncated per
    round; DuckDB replays the loop as an unrolled CTE chain from the
    same spec."""
    from alaska_etl_spark.operators.graph import bfs_distances

    li, s = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    a = li.select("l_orderkey", F.col("l_suppkey").alias("sa"))
    b = li.select("l_orderkey", F.col("l_suppkey").alias("sb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("sa") != F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    sources = s.filter(F.col("s_nationkey") == 7).select(
        F.col("s_suppkey").alias("node")
    )
    return bfs_distances(pairs, sources, max_hops=3).orderBy("node")


def _qb8_sql() -> str:
    from alaska_etl_spark.operators.graph import bfs_sql

    edges = (
        "SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst "
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "WHERE a.l_suppkey <> b.l_suppkey"
    )
    sources = "SELECT s_suppkey AS node FROM supplier WHERE s_nationkey = 7"
    return bfs_sql(edges, sources, max_hops=3) + " ORDER BY node"


QB8_SQL = _qb8_sql()


def qb9_association_rules(spark, sf_dir):
    """Market-basket pair rules over orders-as-baskets: support,
    confidence and lift for part pairs co-ordered at least 3 times —
    the A-priori first level as two hash aggregates and one
    self-equi-join on the basket id (never an item×item cross join; the
    pair space materializes only where baskets overlap, Σ_b |b|²).
    Confidence/lift are single IEEE divisions of exact integer counts,
    so both engines round identically."""
    li = _t(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("b"), F.col("l_partkey").alias("item")
    ).distinct()
    item_n = bi.groupBy("item").agg(F.count(F.lit(1)).alias("_ni"))
    n_baskets = bi.select("b").distinct().count()
    l = bi.select("b", F.col("item").alias("item_a"))
    r = bi.select("b", F.col("item").alias("item_b"))
    pair_n = (
        l.join(r, "b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= 3)
    )
    na = item_n.select(F.col("item").alias("item_a"), F.col("_ni").alias("_na"))
    nb = item_n.select(F.col("item").alias("item_b"), F.col("_ni").alias("_nb"))
    return (
        pair_n.join(na, "item_a")
        .join(nb, "item_b")
        .select(
            "item_a",
            "item_b",
            "pair_support",
            F.round(F.col("pair_support") / F.col("_na"), 4).alias("confidence"),
            F.round(
                (F.lit(n_baskets) * F.col("pair_support"))
                / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_support").desc(), "item_a", "item_b")
    )


QB9_SQL = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem
), item_n AS (
  SELECT item, count(*) AS ni FROM bi GROUP BY 1
), nb AS (
  SELECT count(DISTINCT b) AS n FROM bi
), pair_n AS (
  SELECT l.item AS item_a, r.item AS item_b, count(*) AS pair_support
  FROM bi l JOIN bi r ON l.b = r.b AND l.item < r.item
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT item_a, item_b, pair_support,
       round(pair_support / a.ni, 4) AS confidence,
       round(((SELECT n FROM nb) * pair_support) / (a.ni * b.ni), 4) AS lift
FROM pair_n
JOIN item_n a ON item_a = a.item
JOIN item_n b ON item_b = b.item
ORDER BY pair_support DESC, item_a, item_b
"""


def qc0_snapshot_diff(spark, sf_dir):
    """Snapshot audit diff (plans/warehouse.py:diff_snapshots): classify
    every key as added/removed/changed between two table states — here
    yesterday's orders (keys ≡ 0 mod 97 absent, totals ≡ 0 mod 13
    stale) vs today's full table. The join carries (key, hash), never
    row bodies; DuckDB replays the SEMANTICS column-wise."""
    from alaska_etl_spark.plans.warehouse import diff_snapshots

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return diff_snapshots(old, o, ["o_orderkey"]).orderBy("o_orderkey")


QC0_SQL = """
WITH old AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
              OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
              OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
              OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
              OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
            THEN 'changed' END AS change
FROM old o FULL OUTER JOIN orders n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed' END IS NOT NULL
ORDER BY o_orderkey
"""


def qc1_temperature_mix(spark, sf_dir):
    """Temperature-based source rebalancing
    (operators/splits.py:temperature_sample): flatten the documents
    corpus's LANGUAGE skew at α = 0.5 (en is 44% of the corpus; the
    source column is uniform by construction) — the multilingual-LM
    mixing rule (sample ∝ n^α). Rates derive from the data IN-PLAN (counts → min →
    pow), thresholds are hash compares, so the kept set is
    deterministic and engine-replayed from one spec."""
    from alaska_etl_spark.operators.splits import temperature_sample

    d = _t(spark, sf_dir, "documents")
    return temperature_sample(
        d.select("doc_id", "lang"), "lang", "doc_id", alpha=0.5, seed=13
    ).select("doc_id", "lang")


def _qc1_sql() -> str:
    from alaska_etl_spark.operators.splits import temperature_sample_sql

    inner = temperature_sample_sql(
        "(SELECT doc_id, lang FROM documents)", "lang", "doc_id", alpha=0.5, seed=13
    )
    return f"SELECT doc_id, lang FROM ({inner})"


QC1_SQL = _qc1_sql()


def qc2_unpivot(spark, sf_dir):
    """U3's inverse — UNPIVOT/melt (``DataFrame.unpivot``): the four
    lineitem measures to long (key, measure, value) form, the wide→long
    reshape every metrics store ingests. Spark plans it as one Expand
    (4 rows per input row, no shuffle, no join); DuckDB replays it as a
    UNION ALL of per-measure projections."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


QC2_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


def qc3_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the canonical product-analytics query:
    users grouped by first-activity day, distinct-user counts at each
    day offset since the cohort start (daily grain — the testdata's
    event window is ~2 weeks). Two hash aggregates and one join
    (first-seen table ⋈ daily-activity table, both already reduced to
    |users| and |user-days| rows — the raw events are touched once
    each); offsets are integer day-diffs, so the matrix is
    engine-exact."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    act = ev.select(F.col("user_id"), day.alias("d")).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.expr("datediff(d, cohort_day)").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


QC3_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
), first AS (
  SELECT user_id, min(d) AS cohort_day FROM act GROUP BY 1
)
SELECT cohort_day,
       date_diff('day', cohort_day, d) AS day_offset,
       count(DISTINCT act.user_id) AS n_users
FROM act JOIN first ON act.user_id = first.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


def qc4_funnel(spark, sf_dir):
    """Ordered funnel analysis — the other canonical product-analytics
    query: users progressing view → click → signup → purchase with
    STRICTLY increasing timestamps AND a 12-hour per-step conversion
    window (a later-step event only counts within 12 h of the user's
    earliest qualifying prior step — without the window every heavy
    user trivially converts and the funnel measures nothing). Each
    step is one
    conditional min-aggregate on user_id + a join back — funnel depth
    many keyed aggregates, zero windows, zero Python; step counts and
    conversion are exact integers and one IEEE division."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def step_time(prev, evt):
        cond = F.col("event_type") == evt
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev)) & (
                F.col("ts") <= F.col(prev) + F.expr("INTERVAL 12 HOURS")
            )
        base = ev.join(steps, "user_id") if prev is not None else ev
        return base.filter(cond).groupBy("user_id").agg(
            F.min("ts").alias(f"_t_{evt}")
        )

    # NOT persisted (r12, measured): each later step's join-back
    # re-plans the earlier chain, but every step is a keyed aggregate —
    # the copies sit above the same Exchanges and runtime exchange
    # reuse computes each once (persisting per step A/B'd slower on
    # cold, med 0.83 → 1.05 s at sf0.1 — four cache-build barriers).
    steps = step_time(None, "view")
    for prev, evt in [("_t_view", "click"), ("_t_click", "signup"), ("_t_signup", "purchase")]:
        steps = steps.join(step_time(prev, evt), "user_id", "left")

    n0 = ev.select("user_id").distinct().count()
    counts = steps.agg(
        F.count("_t_view").alias("view"),
        F.count("_t_click").alias("click"),
        F.count("_t_signup").alias("signup"),
        F.count("_t_purchase").alias("purchase"),
    )
    rows = [("1_view", "view"), ("2_click", "click"), ("3_signup", "signup"), ("4_purchase", "purchase")]
    out = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("step"),
                    F.col(c).alias("n_users"),
                    F.round(F.col(c) / F.lit(n0), 4).alias("conversion"),
                )
                for name, c in rows
            ]
        )
    ).alias("_s")
    return counts.select(out).select("_s.step", "_s.n_users", "_s.conversion")


QC4_SQL = """
WITH ev AS (SELECT user_id, event_type, ts FROM events),
s1 AS (SELECT user_id, min(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT ev.user_id, min(ts) AS t FROM ev JOIN s1 ON ev.user_id = s1.user_id
       WHERE event_type = 'click' AND ts > s1.t AND ts <= s1.t + INTERVAL 12 HOUR GROUP BY 1),
s3 AS (SELECT ev.user_id, min(ts) AS t FROM ev JOIN s2 ON ev.user_id = s2.user_id
       WHERE event_type = 'signup' AND ts > s2.t AND ts <= s2.t + INTERVAL 12 HOUR GROUP BY 1),
s4 AS (SELECT ev.user_id, min(ts) AS t FROM ev JOIN s3 ON ev.user_id = s3.user_id
       WHERE event_type = 'purchase' AND ts > s3.t AND ts <= s3.t + INTERVAL 12 HOUR GROUP BY 1),
n AS (SELECT count(DISTINCT user_id) AS n0 FROM ev)
SELECT '1_view' AS step, (SELECT count(*) FROM s1) AS n_users,
       round((SELECT count(*) FROM s1) / n0, 4) AS conversion FROM n
UNION ALL SELECT '2_click', (SELECT count(*) FROM s2),
       round((SELECT count(*) FROM s2) / n0, 4) FROM n
UNION ALL SELECT '3_signup', (SELECT count(*) FROM s3),
       round((SELECT count(*) FROM s3) / n0, 4) FROM n
UNION ALL SELECT '4_purchase', (SELECT count(*) FROM s4),
       round((SELECT count(*) FROM s4) / n0, 4) FROM n
"""


def qc6_integrity_report(spark, sf_dir):
    """Referential-integrity audit (plans/warehouse.py:fk_check): orphan
    counts for every foreign key of the star, twice — against the real
    parents (expected 0, proving the testdata's keys) and against a
    degraded parent set (every 50th key dropped) so the probe's
    non-zero path is exercised too. Each check is one anti-join against
    the parent's distinct keys; n_child and n_orphans come from one
    pass each."""
    from alaska_etl_spark.plans.warehouse import fk_check

    li, o, p, s, c = (
        _t(spark, sf_dir, t)
        for t in ["lineitem", "orders", "part", "supplier", "customer"]
    )
    checks = [
        ("lineitem->orders", li, o, "l_orderkey", "o_orderkey"),
        ("lineitem->part", li, p, "l_partkey", "p_partkey"),
        ("lineitem->supplier", li, s, "l_suppkey", "s_suppkey"),
        ("orders->customer", o, c, "o_custkey", "c_custkey"),
    ]
    out = None
    for name, child, parent, ck, pk in checks:
        ok = fk_check(child, parent, ck, pk).withColumn("relationship", F.lit(name))
        degraded = fk_check(
            child, parent.filter(F.col(pk) % 50 != 0), ck, pk
        ).select(F.col("n_orphans").alias("n_orphans_degraded"))
        row = ok.join(degraded).select(
            "relationship", "n_child", "n_orphans", "n_orphans_degraded"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


QC6_SQL = """
SELECT 'lineitem->orders' AS relationship,
       (SELECT count(*) FROM lineitem) AS n_child,
       (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans,
       (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 50 <> 0)) AS n_orphans_degraded
UNION ALL
SELECT 'lineitem->part', (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
       (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 50 <> 0))
UNION ALL
SELECT 'lineitem->supplier', (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
       (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 50 <> 0))
UNION ALL
SELECT 'orders->customer', (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
       (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 50 <> 0))
ORDER BY relationship
"""


def qc7_max_concurrent(spark, sf_dir):
    """Peak concurrent sessions per UTC day — the interval-sweep
    pattern (operators/sessions.concurrency_by_day): q34's sessions
    become closed [start, end] intervals, midnight-split, reduced to
    per-(day, ts) boundary counts BEFORE the sweep window, so the
    running sum sees distinct timestamps only. Touching sessions
    (one ends exactly when another starts) count as overlapping."""
    from alaska_etl_spark.operators.sessions import concurrency_by_day, session_stats

    ev = _t(spark, sf_dir, "events")
    sessions = session_stats(
        ev, key_cols=["user_id"], ts_col="ts", gap="30 minutes", order_tiebreak=["event_id"]
    )
    return concurrency_by_day(sessions, start_col="session_start", end_col="session_end")


QC7_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
), sessions AS (
  SELECT min(ts) AS s, max(ts) AS e FROM numbered GROUP BY user_id, session_id
), seg AS (
  SELECT unnest(generate_series(date_trunc('day', s), date_trunc('day', e), INTERVAL 1 DAY)) AS d, s, e
  FROM sessions
), clamped AS (
  SELECT d, greatest(s, d) AS seg_start,
         least(e, d + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND) AS seg_end
  FROM seg
), deltas AS (
  SELECT d, ts, sum(starts) AS n_starts, sum(ends) AS n_ends FROM (
    SELECT d, seg_start AS ts, 1 AS starts, 0 AS ends FROM clamped
    UNION ALL
    SELECT d, seg_end AS ts, 0 AS starts, 1 AS ends FROM clamped
  ) GROUP BY d, ts
), swept AS (
  SELECT d, sum(n_starts - n_ends) OVER (PARTITION BY d ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + n_ends AS peak
  FROM deltas
)
SELECT d AS utc_day, CAST(max(peak) AS BIGINT) AS max_concurrent
FROM swept GROUP BY 1 ORDER BY 1
"""


def qc8_activity_bitmap(spark, sf_dir):
    """Per-(user, month) activity as a day-of-month bitmask
    (operators/timeseries.activity_bitmap): ``bit_or`` of ``1 <<
    (day-1)`` — a mergeable 8-byte presence summary per key-month (the
    bitmap-index analogue of mergeable sketch partials) with popcount as the
    active-day count. Both aggregates stay in whole-stage codegen."""
    from alaska_etl_spark.operators.timeseries import activity_bitmap

    ev = _t(spark, sf_dir, "events")
    return activity_bitmap(ev, "user_id", "ts").orderBy("user_id", "month")


QC8_SQL = """
SELECT user_id, date_trunc('month', ts) AS month,
       bit_or(CAST(1 AS BIGINT) << (day(ts) - 1)) AS mask,
       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << (day(ts) - 1))) AS INTEGER) AS active_days
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def qc9_mix_entropy(spark, sf_dir):
    """Corpus-mix diversity report (operators/splits.mix_entropy):
    char-weighted share per source with Shannon-entropy terms and
    KL(actual ‖ uniform) — the before/after metric for every
    reweighting step (q69 mix, qc1 temperature rebalance). One hash
    aggregate to |sources| rows; windows run over those rows only."""
    from alaska_etl_spark.operators.splits import mix_entropy

    d = _t(spark, sf_dir, "documents")
    return mix_entropy(d, "source", weight_col="n_chars")


QC9_SQL = """
WITH g AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS wt FROM documents GROUP BY 1
  HAVING sum(n_chars) > 0
), terms AS (
  SELECT source, wt,
         wt / sum(wt) OVER () AS p,
         -(wt / sum(wt) OVER ()) * ln(wt / sum(wt) OVER ()) AS h,
         (wt / sum(wt) OVER ()) * ln(wt / sum(wt) OVER () * count(*) OVER ()) AS kl
  FROM g
)
SELECT source, CAST(wt AS BIGINT) AS weight,
       round(p, 6) AS share,
       round(h, 6) AS entropy_term,
       round(sum(h) OVER (), 6) AS entropy_total,
       round(sum(kl) OVER (), 6) AS kl_vs_uniform
FROM terms ORDER BY source
"""


def qd0_top_p_coverage(spark, sf_dir):
    """Nucleus (top-p) coverage per language
    (operators/splits.top_p_coverage): the smallest weight-ranked
    prefix of sources covering 90% of characters — cumulative-share
    window over the |lang × source| aggregate, keep rule
    ``cum − share < p`` (prefix plus the crossing group)."""
    from alaska_etl_spark.operators.splits import top_p_coverage

    d = _t(spark, sf_dir, "documents")
    return top_p_coverage(
        d, strata_cols=["lang"], group_col="source", weight_col="n_chars", p=0.9
    ).orderBy("lang", "rank")


QD0_SQL = """
WITH g AS (
  SELECT lang, source, CAST(sum(n_chars) AS DOUBLE) AS wt
  FROM documents GROUP BY 1, 2
), ranked AS (
  SELECT lang, source, wt,
         row_number() OVER (PARTITION BY lang ORDER BY wt DESC, source) AS rank,
         sum(wt) OVER (PARTITION BY lang ORDER BY wt DESC, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / sum(wt) OVER (PARTITION BY lang) AS cum,
         wt / sum(wt) OVER (PARTITION BY lang) AS share
  FROM g
)
SELECT lang, source, CAST(wt AS BIGINT) AS weight, rank,
       round(share, 6) AS share, round(cum, 6) AS cum_share
FROM ranked WHERE cum - share < 0.9 ORDER BY lang, rank
"""


def qd1_cdc_apply(spark, sf_dir):
    """CDC changelog apply (plans/warehouse.apply_changelog): a
    deterministic feed derived from orders — seq1 updates every %7 key
    (+10% price), seq2 deletes every %13 key, seq3 re-inserts every
    %91 key at half price (probing the delete-then-reinsert path: the
    LAST op wins, not the delete) — applied to the orders snapshot;
    returns a per-status checksum of the resulting state."""
    from alaska_etl_spark.plans.warehouse import apply_changelog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _cents(F.col("o_totalprice")).alias("price_cents")
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("price_cents") + F.floor(F.col("price_cents") / 10)).alias("price_cents"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    dels = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("bigint").alias("price_cents"),
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    reins = o.filter(F.col("o_orderkey") % 91 == 0).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        F.floor(F.col("price_cents") / 2).cast("bigint").alias("price_cents"),
        F.lit("I").alias("op"),
        F.lit(3).alias("seq"),
    )
    feed = upd.unionByName(dels).unionByName(reins)
    final = apply_changelog(o, feed, ["o_orderkey"])
    return (
        final.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_cents").alias("sum_cents"),
            # per-row residue first: keys×cents products would pass 2^63
            # near sf1 under ANSI overflow checking
            F.sum((F.col("o_orderkey") * 31 + F.col("price_cents")) % 1000000007).alias(
                "checksum"
            ),
        )
        .orderBy("o_orderstatus")
    )


QD1_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
), feed AS (
  SELECT o_orderkey, o_orderstatus,
         price_cents + CAST(floor(price_cents / 10) AS BIGINT) AS price_cents,
         'U' AS op, 1 AS seq
  FROM o WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, 'D', 2 FROM o WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey, 'R', CAST(floor(price_cents / 2) AS BIGINT), 'I', 3
  FROM o WHERE o_orderkey % 91 = 0
), unioned AS (
  SELECT o_orderkey, o_orderstatus, price_cents, 'I' AS op, NULL AS seq FROM o
  UNION ALL
  SELECT o_orderkey, o_orderstatus, price_cents, op, seq FROM feed
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC NULLS LAST) AS rn
  FROM unioned
)
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(price_cents) AS BIGINT) AS sum_cents,
       CAST(sum((o_orderkey * 31 + price_cents) % 1000000007) AS BIGINT) AS checksum
FROM latest WHERE rn = 1 AND op <> 'D'
GROUP BY 1 ORDER BY 1
"""


def qd2_sliding_distinct(spark, sf_dir):
    """Exact trailing-7-day distinct users per day
    (operators/timeseries.sliding_distinct): events collapse to the
    (user, day) presence table FIRST, each presence row then serves ≤7
    window ends — exact sliding distinct at |presence|×7 cost."""
    from alaska_etl_spark.operators.timeseries import sliding_distinct

    ev = _t(spark, sf_dir, "events")
    return sliding_distinct(ev, "user_id", "ts", window_days=7)


QD2_SQL = """
WITH presence AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
), bounds AS (
  SELECT min(d) AS mn, max(d) AS mx FROM presence
), ends AS (
  SELECT user_id,
         unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS window_end
  FROM presence
)
SELECT window_end, count(DISTINCT user_id) AS distinct_7d
FROM ends, bounds
WHERE window_end <= mx AND window_end >= mn + INTERVAL 6 DAY
GROUP BY 1 ORDER BY 1
"""


def qd3_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase joined as-of to
    the user's latest view/click at-or-before it, within a 3-day
    lookback (operators/asof.asof_join — the same operator as q17's
    forecast⋈actual, on the product-analytics domain). Touches are
    reduced to one row per (user, ts) by max event_id first, so the
    as-of pick is total-order deterministic."""
    from alaska_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("touch_ts"),
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("touch_type"),
        )
    )
    out = asof_join(
        purchases.withColumnRenamed("purchase_ts", "ts"),
        touches.withColumnRenamed("touch_ts", "tts"),
        on=["user_id"],
        left_ts="ts",
        right_ts="tts",
        tolerance="3 days",
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "touch_id",
        "touch_type",
        F.col("tts").alias("touch_ts"),
        F.expr("timestampdiff(SECOND, tts, ts)").alias("lag_s"),
    )


QD3_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       CASE WHEN t.ts >= p.ts - INTERVAL 3 DAY THEN t.event_id END AS touch_id,
       CASE WHEN t.ts >= p.ts - INTERVAL 3 DAY THEN t.event_type END AS touch_type,
       CASE WHEN t.ts >= p.ts - INTERVAL 3 DAY THEN t.ts END AS touch_ts,
       -- elapsed FULL seconds (Spark timestampdiff truncation), not
       -- DuckDB date_diff's second-boundary count
       CASE WHEN t.ts >= p.ts - INTERVAL 3 DAY
            THEN CAST(floor(date_diff('microsecond', t.ts, p.ts) / 1000000) AS BIGINT) END AS lag_s
FROM events p
LEFT JOIN LATERAL (
  SELECT e.event_id, e.event_type, e.ts
  FROM events e
  WHERE e.user_id = p.user_id AND e.event_type IN ('view', 'click') AND e.ts <= p.ts
  ORDER BY e.ts DESC, e.event_id DESC
  LIMIT 1
) t ON TRUE
WHERE p.event_type = 'purchase'
"""


def qd4_winsorize(spark, sf_dir):
    """Winsorized (p01/p99-clipped) per-type value statistics — the
    robust-mean companion to qa7's MAD screen. Bounds are exact
    interpolated percentiles rounded to whole cents, so the clip, sum,
    and count stay INTEGER until the single final division — no
    float-summation-order hazard in either engine."""
    ev = _t(spark, sf_dir, "events").withColumn("cents", _cents(F.col("value")))
    bounds = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(cents, 0.01)")).cast("bigint").alias("lo"),
        F.round(F.expr("percentile(cents, 0.99)")).cast("bigint").alias("hi"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "w", F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.max("lo").alias("lo_cents"),
            F.max("hi").alias("hi_cents"),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("w") != F.col("cents")).cast("int")).cast("bigint").alias("n_clipped"),
            F.round(F.sum("w") / F.count(F.lit(1)) / 100.0, 4).alias("win_mean"),
        )
        .orderBy("event_type")
    )


QD4_SQL = """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
), b AS (
  SELECT event_type,
         CAST(round(quantile_cont(cents, 0.01)) AS BIGINT) AS lo,
         CAST(round(quantile_cont(cents, 0.99)) AS BIGINT) AS hi
  FROM e GROUP BY 1
), c AS (
  SELECT e.event_type, lo, hi, cents,
         greatest(lo, least(hi, cents)) AS w
  FROM e JOIN b USING (event_type)
)
SELECT event_type, max(lo) AS lo_cents, max(hi) AS hi_cents,
       count(*) AS n,
       CAST(sum(CASE WHEN w <> cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(sum(w) / count(*) / 100.0, 4) AS win_mean
FROM c GROUP BY 1 ORDER BY 1
"""


_BM25_QUERIES = [
    (1, "hash join spark"),
    (2, "window agg stream batch"),
    (3, "vector scan filter fast"),
]


def qd5_bm25(spark, sf_dir):
    """BM25 top-10 retrieval over the documents table for three fixed
    keyword queries — the lexical-retrieval primitive (data curation,
    RAG candidate generation) completing the text-relevance family
    (q75 TF-IDF characterizes documents; this RANKS them per query).
    Engine-exact: per-term contributions are fixed-pointed to micro
    units and summed as BIGINT, so the score is summation-order-free
    (see operators.text.bm25_topk)."""
    from alaska_etl_spark.operators.text import bm25_topk

    d = _t(spark, sf_dir, "documents")
    qs = local_df(spark, _BM25_QUERIES, "query_id int, query_text string")
    return bm25_topk(d, qs, "doc_id", "text", k=10)


QD5_SQL = r"""
WITH q AS (
  SELECT * FROM (VALUES (1, 'hash join spark'), (2, 'window agg stream batch'),
                        (3, 'vector scan filter fast')) AS t(query_id, query_text)
), qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(lower(query_text), '\s+'), x -> x <> '')) AS term
  FROM q
), toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), qidf AS (
  SELECT query_id, term,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM dfreq JOIN qterms USING (term) CROSS JOIN stats
), contrib AS (
  SELECT query_id, tf.doc_id,
         CAST(round((idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                    * 1000000.0) AS BIGINT) AS micro
  FROM tf JOIN qidf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
), scores AS (
  SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sum(micro) DESC, doc_id ASC) AS rank
  FROM contrib GROUP BY 1, 2
)
SELECT query_id, doc_id, score_micro,
       round(score_micro / 1000000.0, 6) AS score, rank
FROM scores WHERE rank <= 10
"""


def qd6_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per query vector,
    the 5 most cosine-similar corpus vectors with a DIFFERENT label —
    the highest-signal negatives for a dense retriever / embedding
    model. Ranked on round-3 scores with id tie-breaks (engine-exact;
    q27 is the unfiltered companion)."""
    from alaska_etl_spark.operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return hard_negative_topk(emb, queries, k=5, round_digits=3)


QD6_SQL = """
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank FROM (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c ON q.label <> c.label
  WHERE q.vec_id < 10)
WHERE rank <= 5
"""


def qd7_perplexity_gate(spark, sf_dir):
    """CCNet-style perplexity gate: per-language head/middle/tail
    buckets by bigram-LM perplexity percentile (p33/p67). Thresholds
    and comparisons run on integer micro-perplexities, so bucket
    assignment is engine-exact (q89 is the underlying score)."""
    from alaska_etl_spark.operators.lm import perplexity_gate

    d = _t(spark, sf_dir, "documents")
    return perplexity_gate(d, "doc_id", "text", group_col="lang")


QD7_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos FROM toks
), bigr AS (
  SELECT doc_id, t AS w1, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok_rows
  QUALIFY w2 IS NOT NULL
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bigr GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT count(DISTINCT t) AS V FROM tok_rows
), nll AS (
  SELECT doc_id,
         -ln((coalesce(c12.c12, 0) + 1) / (coalesce(c1.c1, 0) + v.V)) AS nll
  FROM bigr
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  CROSS JOIN v
), per_doc AS (
  SELECT doc_id, round(exp(round(avg(nll), 6)), 4) AS ppl
  FROM nll GROUP BY 1
), j AS (
  SELECT d.doc_id, d.lang, p.ppl,
         CAST(round(p.ppl * 10000.0) AS BIGINT) AS pm
  FROM documents d JOIN per_doc p USING (doc_id)
  WHERE p.ppl IS NOT NULL
), th AS (
  SELECT lang,
         CAST(round(quantile_cont(pm, 0.333333)) AS BIGINT) AS h,
         CAST(round(quantile_cont(pm, 0.666667)) AS BIGINT) AS m
  FROM j GROUP BY 1
)
SELECT j.doc_id, j.lang, j.ppl,
       CASE WHEN pm <= h THEN 'head' WHEN pm <= m THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j JOIN th USING (lang)
"""


def qd8_label_consistency(spark, sf_dir):
    """kNN label-consistency mislabel screen on a bounded audit subset
    (vec_id < 100): fraction of each vector's 5 nearest neighbors
    sharing its label; majority-disagreement rows flagged. The
    label-noise companion to qd6's hard negatives."""
    from alaska_etl_spark.operators.embeddings import label_consistency

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return label_consistency(emb, k=5)


QD8_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS id, a.label AS lbl, b.label AS nlbl,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) DESC,
                    b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b
    ON a.vec_id <> b.vec_id AND a.vec_id < 100 AND b.vec_id < 100
), agg AS (
  SELECT id AS vec_id, lbl AS label,
         round(sum(CASE WHEN nlbl = lbl THEN 1 ELSE 0 END) / count(*), 4) AS agree_frac
  FROM pairs WHERE rn <= 5 GROUP BY 1, 2
)
SELECT vec_id, label, agree_frac, agree_frac < 0.5 AS flagged FROM agg
"""


def qe0_share_and_growth(spark, sf_dir):
    """Percent-of-total and period-over-period growth on one aggregated
    series — the two reporting windows every BI layer composes: monthly
    revenue per region, its share of that month's total (basis points),
    and month-over-month growth (basis points, NULL for each region's
    first month). Shares/growth computed in integer-cent space with one
    final rounding, so both engines emit identical BIGINTs.

    Scale shape: the only corpus-sized work is the first aggregate (one
    shuffle of the orders star, dims broadcast); both windows run over
    the aggregated |regions × months| series — thousands of rows at any
    corpus size."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("rev_c"))
    )
    w_m = Window.partitionBy("month")
    w_r = Window.partitionBy("r_name").orderBy("month")
    return (
        monthly.withColumn("_tot", F.sum("rev_c").over(w_m))
        .withColumn("_prev", F.lag("rev_c").over(w_r))
        .select(
            "r_name",
            "month",
            F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
            F.round(F.lit(10000.0) * F.col("rev_c") / F.col("_tot"))
            .cast("bigint")
            .alias("share_bp"),
            # DOUBLE, not BIGINT: the column is NULL for each region's
            # first month, and pandas widens nullable ints to float64 on
            # exactly one side of the compare — a double is stable in both
            F.round(
                F.lit(10000.0) * (F.col("rev_c") - F.col("_prev")) / F.col("_prev")
            ).alias("mom_bp"),
        )
        .orderBy("r_name", "month")
    )


QE0_SQL = """
WITH monthly AS (
  SELECT r_name, date_trunc('month', o_orderdate) AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, month,
       round(rev_c / 100.0, 2) AS revenue,
       CAST(round(10000.0 * rev_c / sum(rev_c) OVER (PARTITION BY month)) AS BIGINT) AS share_bp,
       round(10000.0 * (rev_c - lag(rev_c) OVER w) / lag(rev_c) OVER w) AS mom_bp
FROM monthly
WINDOW w AS (PARTITION BY r_name ORDER BY month)
ORDER BY r_name, month
"""


def qe1_ab_test(spark, sf_dir):
    """Two-variant experiment readout (operators/stats.ab_test_report):
    exposed users ('view') deterministically hash-split 50/50, per-arm
    'purchase' conversion, two-proportion z — the product-analytics
    primitive on top of the split machinery (q68). Engine-exact: the
    oracle rebuilds the identical assignment via hash_split_sql and the
    identical z expression."""
    from alaska_etl_spark.operators.stats import ab_test_report

    ev = _t(spark, sf_dir, "events")
    return ab_test_report(
        ev, "user_id", "event_type",
        exposure_event="view", conversion_event="purchase",
    )


def _qe1_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_split_sql

    case = hash_split_sql("user_id", weights={"A": 0.5, "B": 0.5}, seed=0)
    return f"""
WITH expu AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
), assigned AS (
  SELECT user_id, {case} AS v FROM expu
), convu AS (
  SELECT DISTINCT user_id, 1 AS c FROM events WHERE event_type = 'purchase'
), per AS (
  SELECT v, count(*) AS n, CAST(sum(coalesce(c, 0)) AS BIGINT) AS conv
  FROM assigned LEFT JOIN convu USING (user_id) GROUP BY 1
), one AS (
  SELECT max(CASE WHEN v = 'A' THEN n END) AS n_a,
         max(CASE WHEN v = 'A' THEN conv END) AS conv_a,
         max(CASE WHEN v = 'B' THEN n END) AS n_b,
         max(CASE WHEN v = 'B' THEN conv END) AS conv_b
  FROM per
), calc AS (
  SELECT n_a, conv_a, n_b, conv_b,
         conv_a / CAST(n_a AS DOUBLE) AS p1,
         conv_b / CAST(n_b AS DOUBLE) AS p2,
         (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS p
  FROM one
)
SELECT n_a, conv_a, round(p1, 6) AS cvr_a,
       n_b, conv_b, round(p2, 6) AS cvr_b,
       round((p1 - p2) / nullif(sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z,
       abs(round((p1 - p2) / nullif(sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)), 0), 4)) > 1.96
         AS significant,
       round((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0)
             + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0), 4)
         AS srm_chi2,
       round((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0)
             + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0), 4) > 3.84
         AS srm_suspect
FROM calc
"""


QE1_SQL = _qe1_sql()


def qe2_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment means
    (operators/stats.cuped_adjustment): per-user pre-period value as
    covariate (cutoff 2024-01-16), θ from exact integer-cent moments,
    per-arm raw vs adjusted means + achieved variance reduction (ρ²).
    Completes the experimentation pair with qe1."""
    from alaska_etl_spark.operators.stats import cuped_adjustment

    ev = _t(spark, sf_dir, "events")
    return cuped_adjustment(ev, "user_id", "ts", "value", cutoff="2024-01-16")


def _qe2_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_split_sql

    case = hash_split_sql("_u", weights={"A": 0.5, "B": 0.5}, seed=0)
    return f"""
WITH pu0 AS (
  SELECT user_id AS _u,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
), pu AS (
  SELECT _u, x, y, {case} AS v FROM pu0
), g AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pu
), wide AS (
  SELECT max(CASE WHEN v = 'A' THEN nv END) AS n_a,
         max(CASE WHEN v = 'A' THEN sxv END) AS sx_a,
         max(CASE WHEN v = 'A' THEN syv END) AS sy_a,
         max(CASE WHEN v = 'B' THEN nv END) AS n_b,
         max(CASE WHEN v = 'B' THEN sxv END) AS sx_b,
         max(CASE WHEN v = 'B' THEN syv END) AS sy_b
  FROM (SELECT v, count(*) AS nv, CAST(sum(x) AS BIGINT) AS sxv,
               CAST(sum(y) AS BIGINT) AS syv FROM pu GROUP BY 1)
), calc AS (
  SELECT *,
         (n * sxy - sx * sy) / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0) AS theta,
         sx / CAST(n AS DOUBLE) AS xbar,
         CAST(n * sxy - sx * sy AS DOUBLE) AS tn,
         CAST(n * sxx - sx * sx AS DOUBLE) AS td,
         CAST(n * syy - sy * sy AS DOUBLE) AS yd
  FROM g CROSS JOIN wide
)
SELECT round(theta, 6) AS theta,
       round(sy_a / CAST(n_a AS DOUBLE) / 100.0, 4) AS mean_a_raw,
       round(sy_b / CAST(n_b AS DOUBLE) / 100.0, 4) AS mean_b_raw,
       round((sy_a / CAST(n_a AS DOUBLE) - theta * (sx_a / CAST(n_a AS DOUBLE) - xbar)) / 100.0, 4)
         AS mean_a_adj,
       round((sy_b / CAST(n_b AS DOUBLE) - theta * (sx_b / CAST(n_b AS DOUBLE) - xbar)) / 100.0, 4)
         AS mean_b_adj,
       round(100.0 * (tn * tn / nullif(td * yd, 0)), 2) AS var_reduction_pct
FROM calc
"""


QE2_SQL = _qe2_sql()


def qe3_psi_drift(spark, sf_dir):
    """Dataset drift via Population Stability Index
    (operators/stats.psi_drift): event-value distribution before vs
    after 2024-01-16 in 10 fixed-width integer-cent bins,
    Laplace-smoothed, per-bin terms fixed-pointed and integer-summed so
    the PSI total is aggregation-order-free. The numeric-drift
    companion to qc9's categorical mix KL."""
    from alaska_etl_spark.operators.stats import psi_drift

    ev = _t(spark, sf_dir, "events")
    return psi_drift(ev, "ts", "value", cutoff="2024-01-16")


QE3_SQL = """
WITH base AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         ts < TIMESTAMP '2024-01-16' AS ref
  FROM events
), mm AS (
  SELECT min(c) AS lo, max(c) AS hi FROM base
), binned AS (
  SELECT (c - lo) * 10 // (hi - lo + 1) AS bin,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(sum(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
  FROM base CROSS JOIN mm GROUP BY 1
), tot AS (
  SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
         CAST(sum(c_cur) AS BIGINT) AS n_cur
  FROM binned
), allbins AS (
  SELECT r.range AS bin,
         coalesce(b.c_ref, 0) AS c_ref, coalesce(b.c_cur, 0) AS c_cur,
         n_ref, n_cur
  FROM range(0, 10) r LEFT JOIN binned b ON r.range = b.bin CROSS JOIN tot
), terms AS (
  SELECT n_ref, n_cur,
         CAST(round((((c_cur + 1) / (n_cur + 10) - (c_ref + 1) / (n_ref + 10))
              * ln(((c_cur + 1) / (n_cur + 10)) / ((c_ref + 1) / (n_ref + 10))))
              * 100000000.0) AS BIGINT) AS pm
  FROM allbins
), agg AS (
  SELECT max(n_ref) AS n_ref, max(n_cur) AS n_cur,
         CAST(sum(pm) AS BIGINT) AS pms
  FROM terms
)
SELECT n_ref, n_cur, round(pms / 100000000.0, 6) AS psi,
       round(pms / 100000000.0, 6) > 0.25 AS drifted
FROM agg
"""


def qe4_split_leakage(spark, sf_dir):
    """Split-leakage audit (operators/splits.split_leakage): unigram
    Jaccard ≥ 0.5 near-dup pairs straddling a 90/10 train/val hash
    split over the bounded doc subset — the near-duplicate
    contamination q71's exact decontamination cannot see. Integer-exact
    threshold + jaccard (the q26 protocol) and the oracle rebuilds the
    identical split via hash_split_sql."""
    from alaska_etl_spark.operators.splits import split_leakage

    d = _t(spark, sf_dir, "documents")
    return split_leakage(
        d, "doc_id", "text",
        weights={"train": 0.9, "val": 0.1}, tau_num=1, tau_den=2, max_id=100,
    )


def _qe4_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_split_sql

    case = hash_split_sql("doc_id", weights={"train": 0.9, "val": 0.1}, seed=0)
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS sh,
         {case} AS sp
  FROM documents WHERE doc_id < 100
    AND len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) > 0
), p AS (
  SELECT a.doc_id AS id_a, a.sp AS split_a, b.doc_id AS id_b, b.sp AS split_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS np,
         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS nq
  FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.sp <> b.sp
)
SELECT id_a, split_a, id_b, split_b,
       ((20000 * np + nq) // (2 * nq)) / 10000.0 AS jaccard
FROM p WHERE 2 * np >= 1 * nq
"""


QE4_SQL = _qe4_sql()


def qf0_containment_join(spark, sf_dir):
    """Directed shingle-set containment join
    (operators/simjoin.containment_join): every ordered (src, dst) pair
    where ≥ 3/4 of src's 3-gram shingles also appear in dst — the
    excerpt/quote/boilerplate detector Jaccard structurally misses (a
    short quote inside a long page has tiny Jaccard but containment
    ~1.0). Prefix-filtered on the src side only; exact integer verify;
    DuckDB replays it brute-force over string shingles."""
    from alaska_etl_spark.operators.simjoin import containment_join

    d = _t(spark, sf_dir, "documents")
    return containment_join(d, "doc_id", "text", n=3, threshold_num=3, threshold_den=4)


QF0_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         )) AS s
  FROM toks WHERE len(tk) > 0
), t AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), sz AS (
  SELECT doc_id, count(*) AS n FROM t GROUP BY 1
), inter AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, count(*) AS np
  FROM t a JOIN t b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src_id, dst_id,
       ((20000 * np + ns) // (2 * ns)) / 10000.0 AS containment
FROM (
  SELECT src_id, dst_id, np, sa.n AS ns
  FROM inter
  JOIN sz sa ON src_id = sa.doc_id
)
WHERE 4 * np >= 3 * ns
"""


QF0_SQL = _mat(QF0_SQL, "t")


def qf1_bitext_margin(spark, sf_dir):
    """Margin-based nearest-pair mining
    (operators/similarity.margin_bitext_pairs, the LASER/CCMatrix
    bitext scheme): split the embedding set into two sides by vec_id
    parity, pair each even vector with its best odd neighbor, keep
    pairs whose cosine beats both sides' top-4 neighborhood means —
    the density-normalized filter used to assemble paired training
    corpora. Integer-exact margin arithmetic over 4dp-rounded cosines,
    so DuckDB replays ranking, means, and margins verbatim."""
    from alaska_etl_spark.operators.similarity import margin_bitext_pairs

    emb = _t(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("vec_id") % 2 == 0)
    y = emb.filter(F.col("vec_id") % 2 == 1)
    return margin_bitext_pairs(x, y, k=4, margin_threshold=1.0)


QF1_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), x AS (
  SELECT * FROM e WHERE vec_id % 2 = 0
), y AS (
  SELECT * FROM e WHERE vec_id % 2 = 1
), xy AS (
  SELECT x.vec_id AS qid, y.vec_id AS nid,
         round(list_cosine_similarity(x.v, y.v), 4) AS c,
         CAST(round(round(list_cosine_similarity(x.v, y.v), 4) * 10000) AS BIGINT) AS ci,
         row_number() OVER (PARTITION BY x.vec_id
           ORDER BY round(list_cosine_similarity(x.v, y.v), 4) DESC, y.vec_id ASC) AS rn
  FROM x CROSS JOIN y
), yx AS (
  SELECT y.vec_id AS qid, x.vec_id AS nid,
         CAST(round(round(list_cosine_similarity(y.v, x.v), 4) * 10000) AS BIGINT) AS ci,
         row_number() OVER (PARTITION BY y.vec_id
           ORDER BY round(list_cosine_similarity(y.v, x.v), 4) DESC, x.vec_id ASC) AS rn
  FROM y CROSS JOIN x
), dx AS (
  SELECT qid, CAST(sum(ci) AS BIGINT) AS s, count(*) AS kk FROM xy WHERE rn <= 4 GROUP BY 1
), dy AS (
  SELECT qid, CAST(sum(ci) AS BIGINT) AS s, count(*) AS kk FROM yx WHERE rn <= 4 GROUP BY 1
), best AS (
  SELECT qid AS x_id, nid AS y_id, c AS cosine, ci FROM xy WHERE rn = 1
), scored AS (
  SELECT b.x_id, b.y_id, b.cosine,
         2 * b.ci * dx.kk * dy.kk AS num,
         dx.s * dy.kk + dy.s * dx.kk AS den
  FROM best b
  JOIN dx ON b.x_id = dx.qid
  JOIN dy ON b.y_id = dy.qid
)
SELECT x_id, y_id, cosine,
       ((2 * 10000 * num + den) // (2 * den)) / 10000.0 AS margin
FROM scored
WHERE den > 0 AND (2 * 10000 * num + den) // (2 * den) >= 10000
"""


QF1_SQL = _mat(QF1_SQL, "x", "y", "dx", "dy", "xy")


def qf2_novelty_rate(spark, sf_dir):
    """Gram-level novelty/contamination rate
    (operators/dedup.novelty_rate): per corpus document (doc_id ≥ 20),
    the fraction of its distinct 3-gram shingles absent from the
    benchmark set (doc_id < 20) — the continuous tier between q71's
    binary span flag and qf0's pairwise containment. Hashed gram keys
    in Spark; the oracle replays with string grams, cross-checking the
    hash compaction (qb0 protocol)."""
    from alaska_etl_spark.operators.dedup import novelty_rate

    d = _t(spark, sf_dir, "documents")
    return novelty_rate(
        d.filter(F.col("doc_id") >= 20), d.filter(F.col("doc_id") < 20),
        "doc_id", "text", n=3,
    )


QF2_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         )) AS s
  FROM toks WHERE len(tk) > 0
), t AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), ref AS (
  SELECT DISTINCT g FROM t WHERE doc_id < 20
), agg AS (
  SELECT c.doc_id,
         count(*) AS n_grams,
         CAST(count(r.g) AS BIGINT) AS n_seen
  FROM t c LEFT JOIN ref r ON c.g = r.g
  WHERE c.doc_id >= 20
  GROUP BY 1
)
SELECT doc_id, n_grams, n_seen,
       ((20000 * (n_grams - n_seen) + n_grams) // (2 * n_grams)) / 10000.0 AS novelty
FROM agg
"""


QF2_SQL = _mat(QF2_SQL, "t")


def qf3_dup_source_matrix(spark, sf_dir):
    """Inter-source duplication matrix: MinHash-LSH near-dup pairs
    (q29's md5 lane) attributed to their documents' sources — the
    "which sources copy from each other" report a curation review reads
    before deciding mix weights or dropping a scrape. Undirected matrix
    keys (least/greatest of the two sources); aggregates are count +
    MAX jaccard (both summation-order-free, so the composition stays
    exactly oracled — an AVG of doubles would not be)."""
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, "doc_id", "text", n=3, num_hashes=64, bands=16,
        jaccard_threshold=0.5, hash_fn="md5",
    )
    sa = d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _qf3_sql() -> str:
    """Composes the full q29 replay as a CTE (a CTE body may itself be
    a WITH query) and attributes pairs to source pairs."""
    return f"""
WITH q29 AS (
{_q29_sql()}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs,
       max(jaccard) AS max_jaccard
FROM q29
JOIN documents da ON q29.id_a = da.doc_id
JOIN documents db ON q29.id_b = db.doc_id
GROUP BY 1, 2
"""


QF3_SQL = _qf3_sql()


def qf7_dedup_savings(spark, sf_dir):
    """Dedup savings report (round 6): near-dup pairs → connected
    components → per-source reclaimable volume (docs / chars / tokens
    beyond each group's min-id keeper). Edges are q42's exact Jaccard
    pairs over the bounded doc_id < 200 subset so the oracle's
    recursive-CTE components replay exactly; all aggregates are integer
    counts, rate via the round-half-up emit."""
    from alaska_etl_spark.operators.dedup import dedup_savings, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    scope = d.filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_id=200
    ).select("id_a", "id_b")
    return dedup_savings(scope, pairs, "doc_id", "text", group_col="source")


QF7_SQL = (
    "WITH RECURSIVE pairs AS ("
    + _Q42_PAIRS_SQL
    + "), edges AS (\n"
    + r"""
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
), red AS (
  SELECT id FROM comp WHERE id <> component
), stats AS (
  SELECT doc_id, source, length(text) AS chars,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS toks,
         CASE WHEN red.id IS NULL THEN 0 ELSE 1 END AS dup
  FROM documents LEFT JOIN red ON documents.doc_id = red.id
  WHERE doc_id < 200
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dup) AS BIGINT) AS n_redundant,
       CAST(sum(chars) AS BIGINT) AS chars_total,
       CAST(sum(dup * chars) AS BIGINT) AS chars_redundant,
       CAST(sum(toks) AS BIGINT) AS tokens_total,
       CAST(sum(dup * toks) AS BIGINT) AS tokens_redundant,
       ((20000 * sum(dup * chars) + sum(chars)) // (2 * sum(chars))) / 10000.0
         AS savings_rate
FROM stats GROUP BY source
"""
)
QF7_SQL = _mat(QF7_SQL, "toks", "sh", "pairs", "edges")


def qf9_embedding_drift(spark, sf_dir):
    """Per-dimension PSI drift between two embedding snapshots (round
    6): components fixed-pointed to integer micros, qe3's smoothed-PSI
    discipline per dim; snapshots here are the deterministic vec_id
    parity split of the embeddings table."""
    from alaska_etl_spark.operators.embeddings import embedding_drift

    e = _t(spark, sf_dir, "embeddings")
    return embedding_drift(
        e.filter(F.col("vec_id") % 2 == 0), e.filter(F.col("vec_id") % 2 == 1)
    )


QF9_SQL = r"""
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         vec_id % 2 = 0 AS is_ref
  FROM embeddings
), cc AS (
  SELECT dim, CAST(round(x * 1000000) AS BIGINT) AS c, is_ref FROM ex
), mm AS (
  SELECT dim, min(c) AS lo, max(c) AS hi FROM cc GROUP BY 1
), binned AS (
  SELECT cc.dim, CAST((c - lo) * 10 // (hi - lo + 1) AS INT) AS bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
         CAST(sum(CASE WHEN is_ref THEN c END) AS BIGINT) AS s_ref,
         CAST(sum(CASE WHEN NOT is_ref THEN c END) AS BIGINT) AS s_cur
  FROM cc JOIN mm USING (dim) GROUP BY 1, 2
), tot AS (
  SELECT dim, CAST(sum(c_ref) AS BIGINT) AS n_a, CAST(sum(c_cur) AS BIGINT) AS n_b,
         CAST(sum(s_ref) AS BIGINT) AS sa, CAST(sum(s_cur) AS BIGINT) AS sb
  FROM binned GROUP BY 1
), frame AS (
  SELECT d.dim, CAST(r.range AS INT) AS bin
  FROM (SELECT DISTINCT dim FROM mm) d CROSS JOIN range(10) r
), filled AS (
  SELECT frame.dim, frame.bin,
         COALESCE(c_ref, 0) AS c_ref, COALESCE(c_cur, 0) AS c_cur
  FROM frame LEFT JOIN binned ON frame.dim = binned.dim AND frame.bin = binned.bin
), agg AS (
  SELECT filled.dim,
         CAST(sum(CAST(round(((c_cur + 1) / (n_b + 10) - (c_ref + 1) / (n_a + 10))
                             * ln(((c_cur + 1) / (n_b + 10)) / ((c_ref + 1) / (n_a + 10)))
                             * 1e8) AS BIGINT)) AS BIGINT) AS pm
  FROM filled JOIN tot ON filled.dim = tot.dim
  GROUP BY 1
)
SELECT tot.dim, n_a, n_b,
       sa / n_a / 1000000.0 AS mean_a,
       sb / n_b / 1000000.0 AS mean_b,
       round(pm / 1e8, 6) AS psi,
       round(pm / 1e8, 6) > 0.25 AS drifted
FROM agg JOIN tot ON agg.dim = tot.dim
"""


def qg0_kmeans_summary(spark, sf_dir):
    """Replicable k-means (k=8, 2 Lloyd iterations) cluster-quality
    report: member count and mean cosine-to-centroid per final cell.
    The iterative-ML entry in the exactly-oracled set: deterministic
    init (smallest-k ids), 6dp-rounded assignment argmax (the q31 IVF
    protocol), and integer fixed-point mean updates (per-dim micro sums
    are order-free BIGINTs; each new component is one double division),
    so DuckDB replays BOTH unrolled iterations and the final summary
    bit-for-bit. The reference has no clustering operator; this is the
    quantizer-training path of IVF/SemDeDup (SURVEY X30/X8) made
    hash-checkable."""
    from alaska_etl_spark.operators.similarity import kmeans_summary

    return kmeans_summary(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def _lloyd_ctes(k: int, iters: int) -> str:
    """The unrolled Lloyd CTE chain (c0 → assign/integer-mean × iters →
    c{iters}) shared by the k-means summary oracle (qg0/q50) and the
    cluster-separation oracle (qn7) — one replay spec, two tails."""
    parts = [f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), comp AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(v, 1) AS d,
         CAST(round(unnest(v) * 1000000.0) AS BIGINT) AS m
  FROM e
), c0 AS MATERIALIZED (
  SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT {k}
)"""]
    for i in range(iters):
        parts.append(f""", a{i} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.c), 6) DESC,
                      c.cid ASC) AS rn
    FROM e CROSS JOIN c{i} c) WHERE rn = 1
), s{i} AS MATERIALIZED (
  SELECT a.cid, comp.d, sum(comp.m) AS s, count(*) AS n
  FROM a{i} a JOIN comp ON comp.vec_id = a.vec_id
  GROUP BY a.cid, comp.d
), c{i + 1} AS MATERIALIZED (
  SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY d) AS c
  FROM s{i} GROUP BY cid
  UNION ALL
  SELECT cid, c FROM c{i} WHERE cid NOT IN (SELECT cid FROM s{i})
)""")
    return "".join(parts)


def _qg0_sql(k: int = 8, iters: int = 2) -> str:
    """Unrolled Lloyd replay: c0 -> (assign, integer-mean) x iters ->
    final assignment + micro-summed cosine summary."""
    return _lloyd_ctes(k, iters) + f""", af AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.c), 6) DESC,
                      c.cid ASC) AS rn
    FROM e CROSS JOIN c{iters} c) WHERE rn = 1
)
SELECT a.cid AS centroid_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(round(list_cosine_similarity(e.v, c.c) * 1000000.0) AS BIGINT)) AS DOUBLE)
         / (count(*) * 1000000.0) AS avg_cosine
FROM af a JOIN e ON e.vec_id = a.vec_id JOIN c{iters} c ON c.cid = a.cid
GROUP BY a.cid
"""


QG0_SQL = _qg0_sql()


def qg2_perceptron(spark, sf_dir):
    """Batch-perceptron training (3 iterations) for the is-English
    quality-classifier task, entirely in exact integer arithmetic — the
    second exactly-oracled iterative-ML query next to q50's k-means:
    the update w += SUM_misclassified y*x is an order-free BIGINT sum
    (one corpus aggregate per iteration, map-side partials, k+1 ints of
    driver state), so DuckDB replays every iteration bit-for-bit
    through weight-threading 1-row cross joins. No float appears
    anywhere (the reason this is the in-engine classifier form:
    logistic regression's exp() has no cross-engine bit contract).

    Honest data note: the synthetic corpus draws every language's text
    from ONE shared vocabulary, so the is-English labels carry no
    textual signal — the learning curve correctly oscillates around
    the majority-class error, and f3 (non-ASCII surplus) is zero on
    romanized synthetic text (kept: real corpora have non-ASCII mass,
    and its zero weight is itself exactness evidence). The pinned
    quantity is the exact integer replay of the training mechanics;
    test_classifier.py pins CONVERGENCE on a separable corpus."""
    from alaska_etl_spark.operators.classifier import (
        perceptron_train,
        text_label_features,
    )

    d = _t(spark, sf_dir, "documents")
    feats = text_label_features(d, "doc_id", "text", "lang")
    return perceptron_train(feats, iters=3)


def _perceptron_ctes(iters: int = 3) -> str:
    """Shared unrolled-training CTE chain: features f, weights w0_,
    then per iteration the filtered aggregate i{t}_ and updated
    weights w{t}_ (weight vector threaded through 1-row cross joins)."""
    from alaska_etl_spark.operators.classifier import EN_STOPWORDS, FEATURE_COLS

    k = len(FEATURE_COLS)
    stop = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    parts = [rf"""
WITH f AS MATERIALIZED (
  SELECT doc_id,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
         CAST(1 AS BIGINT) AS f0,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS f1,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ({stop}))) AS BIGINT) AS f2,
         CAST(strlen(text) - length(text) AS BIGINT) AS f3,
         CAST(length(text) AS BIGINT) AS f4
  FROM documents
), w0_ AS (
  SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(k))}
)"""]
    for t in range(1, iters + 1):
        prev = "w0_" if t == 1 else f"w{t - 1}_"
        margin = " + ".join(f"w.w{j} * f.f{j}" for j in range(k))
        gsums = ", ".join(
            f"CAST(coalesce(sum(f.y * f.f{j}) FILTER (WHERE f.y * ({margin}) <= 0), 0) AS BIGINT) AS g{j}"
            for j in range(k)
        )
        wcols = ", ".join(f"CAST(w.w{j} + i.g{j} AS BIGINT) AS w{j}" for j in range(k))
        parts.append(f""", i{t}_ AS MATERIALIZED (
  SELECT count(*) FILTER (WHERE f.y * ({margin}) <= 0) AS m, {gsums}
  FROM f, {prev} w
), w{t}_ AS (
  SELECT {wcols} FROM {prev} w, i{t}_ i
)""")
    return "".join(parts)


def _qg2_sql(iters: int = 3) -> str:
    """Unrolled perceptron replay: per-iteration report rows."""
    from alaska_etl_spark.operators.classifier import FEATURE_COLS

    k = len(FEATURE_COLS)
    reports = "\nUNION ALL\n".join(
        f"SELECT {t} AS iter, CAST(i{t}_.m AS BIGINT) AS misclassified, "
        + ", ".join(f"w{t}_.w{j} AS w{j}" for j in range(k))
        + f" FROM i{t}_, w{t}_"
        for t in range(1, iters + 1)
    )
    return _perceptron_ctes(iters) + "\n" + reports


def _qg3_sql(iters: int = 3) -> str:
    """Training CTEs + the final screening projection against the
    last weight row."""
    from alaska_etl_spark.operators.classifier import FEATURE_COLS

    k = len(FEATURE_COLS)
    margin = " + ".join(f"w.w{j} * f.f{j}" for j in range(k))
    return (
        _perceptron_ctes(iters)
        + f"""
SELECT f.doc_id, CAST({margin} AS BIGINT) AS margin, ({margin}) > 0 AS keep
FROM f, w{iters}_ w
"""
    )


QG2_SQL = _qg2_sql()


def qg3_perceptron_screen(spark, sf_dir):
    """Train-then-APPLY: the 3-iteration batch perceptron of qg2
    followed by the screening projection it exists for — every document
    scored with the final weights, emitting the integer margin and the
    keep/drop verdict. End-to-end exactly oracled: training replays
    through qg2's weight-threading CTEs and the screen is one more
    integer projection against the final weight row."""
    from alaska_etl_spark.operators.classifier import (
        perceptron_apply,
        perceptron_train,
        text_label_features,
    )

    d = _t(spark, sf_dir, "documents")
    feats = text_label_features(d, "doc_id", "text", "lang")
    report = perceptron_train(feats, iters=3).collect()
    last = max(report, key=lambda r: r.iter)
    w = [last[f"w{j}"] for j in range(5)]
    return perceptron_apply(feats, w).withColumnRenamed("_id", "doc_id")


QG3_SQL = _qg3_sql()


def qg4_perceptron_eval(spark, sf_dir):
    """Evaluate the trained screen: confusion matrix + 4dp fixed-point
    precision/recall/accuracy of qg2's final weights over the corpus —
    train → apply → EVALUATE, every step exactly oracled (counts are
    integer sums; rates use the shared round-half-up emit, NULL when
    undefined)."""
    from alaska_etl_spark.operators.classifier import (
        classification_report,
        perceptron_train,
        text_label_features,
    )

    d = _t(spark, sf_dir, "documents")
    feats = text_label_features(d, "doc_id", "text", "lang")
    report = perceptron_train(feats, iters=3).collect()
    last = max(report, key=lambda r: r.iter)
    w = [last[f"w{j}"] for j in range(5)]
    return classification_report(feats, w)


def _qg4_sql(iters: int = 3) -> str:
    from alaska_etl_spark.operators.classifier import FEATURE_COLS

    k = len(FEATURE_COLS)
    margin = " + ".join(f"w.w{j} * f.f{j}" for j in range(k))
    return (
        _perceptron_ctes(iters)
        + f""", cm AS (
  SELECT CAST(coalesce(sum(CASE WHEN ({margin}) > 0 AND f.y > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
         CAST(coalesce(sum(CASE WHEN ({margin}) > 0 AND f.y < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
         CAST(coalesce(sum(CASE WHEN ({margin}) <= 0 AND f.y < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn,
         CAST(coalesce(sum(CASE WHEN ({margin}) <= 0 AND f.y > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
  FROM f, w{iters}_ w
)
SELECT tp, fp, tn, fn,
       ((2 * 10000 * tp + nullif(tp + fp, 0)) // (2 * nullif(tp + fp, 0))) / 10000.0 AS precision,
       ((2 * 10000 * tp + nullif(tp + fn, 0)) // (2 * nullif(tp + fn, 0))) / 10000.0 AS recall,
       ((2 * 10000 * (tp + tn) + (tp + fp + tn + fn)) // (2 * (tp + fp + tn + fn))) / 10000.0 AS accuracy
FROM cm
"""
    )


QG4_SQL = _qg4_sql()


def qg5_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes trained and applied over the corpus
    (is-English task): per-document add-1-smoothed log-odds in 1e-8
    integer units + keep verdict. The generative classifier next to
    the perceptron pair: training is ONE (token, class) count aggregate
    (exact integers), scoring quantizes each distinct-vocabulary-word
    log-ratio once (the qf8/qe3 per-term ln fixed-point discipline) so
    document scores are order-free BIGINT sums. Zero-token docs emit no
    row. Same honest data note as qg2: lang labels carry no textual
    signal in the synthetic corpus — the mechanics, not the accuracy,
    are the pinned quantity."""
    from alaska_etl_spark.operators.classifier import naive_bayes_scores

    return naive_bayes_scores(_t(spark, sf_dir, "documents"), "doc_id", "text", "lang")


QG5_SQL = r"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, lang = 'en' AS pos,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
), vocab AS MATERIALIZED (
  SELECT w,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM tk GROUP BY w
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
), pri AS (
  SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS pd,
         CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS nd
  FROM documents
), terms AS MATERIALIZED (
  SELECT w,
         CAST(round(100000000 * (ln(CAST(cp + 1 AS DOUBLE)) - ln(CAST(np + v AS DOUBLE))
                                 - ln(CAST(cn + 1 AS DOUBLE)) + ln(CAST(nn + v AS DOUBLE)))) AS BIGINT) AS t
  FROM vocab, tot
), prior AS (
  SELECT CAST(round(100000000 * (ln(CAST(pd + 1 AS DOUBLE)) - ln(CAST(nd + 1 AS DOUBLE)))) AS BIGINT) AS p
  FROM pri
), s AS (
  SELECT doc_id, CAST(sum(t) AS BIGINT) AS s FROM tk JOIN terms USING (w) GROUP BY doc_id
)
SELECT doc_id, CAST(s.s + prior.p AS BIGINT) AS score_units, (s.s + prior.p) > 0 AS keep
FROM s, prior
"""


def qg6_perceptron_cv(spark, sf_dir):
    """5-fold cross-validated perceptron evaluation (2 iterations per
    fold) — model selection entirely in-engine: deterministic hash
    folds (splits.hash_bucket % 5, the engine/SQL-twin split
    arithmetic), per-fold training on the other four folds, held-out
    confusion counts + 4dp accuracy. Every fold's whole train/eval
    chain replays exactly in DuckDB (integer weights threaded through
    the qg2 CTE protocol, fold predicates pushed into each
    aggregate)."""
    from alaska_etl_spark.operators.classifier import (
        perceptron_cv,
        text_label_features,
    )
    from alaska_etl_spark.operators.splits import hash_bucket

    d = _t(spark, sf_dir, "documents")
    feats = text_label_features(d, "doc_id", "text", "lang").withColumn(
        "fold", (hash_bucket("_id") % 5).cast("int")
    )
    return perceptron_cv(feats, folds=5, iters=2)


def _qg6_sql(folds: int = 5, iters: int = 2) -> str:
    from alaska_etl_spark.operators.classifier import EN_STOPWORDS, FEATURE_COLS
    from alaska_etl_spark.operators.splits import hash_bucket_sql

    k = len(FEATURE_COLS)
    stop = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    parts = [rf"""
WITH f AS MATERIALIZED (
  SELECT CAST({hash_bucket_sql("doc_id")} % {folds} AS INT) AS fold,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
         CAST(1 AS BIGINT) AS f0,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS f1,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ({stop}))) AS BIGINT) AS f2,
         CAST(strlen(text) - length(text) AS BIGINT) AS f3,
         CAST(length(text) AS BIGINT) AS f4
  FROM documents
)"""]
    for fo in range(folds):
        parts.append(f""", w0_c{fo}_ AS (
  SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(k))}
)""")
        for t in range(1, iters + 1):
            prev = f"w{t - 1}_c{fo}_"
            margin = " + ".join(f"w.w{j} * f.f{j}" for j in range(k))
            gsums = ", ".join(
                f"CAST(coalesce(sum(f.y * f.f{j}) FILTER (WHERE f.y * ({margin}) <= 0), 0) AS BIGINT) AS g{j}"
                for j in range(k)
            )
            wcols = ", ".join(f"CAST(w.w{j} + i.g{j} AS BIGINT) AS w{j}" for j in range(k))
            parts.append(f""", i{t}_c{fo}_ AS MATERIALIZED (
  SELECT {gsums}
  FROM f, {prev} w WHERE f.fold <> {fo}
), w{t}_c{fo}_ AS (
  SELECT {wcols} FROM {prev} w, i{t}_c{fo}_ i
)""")
    evals = []
    for fo in range(folds):
        margin = " + ".join(f"w.w{j} * f.f{j}" for j in range(k))
        evals.append(f"""SELECT {fo} AS fold,
       CAST(coalesce(sum(CASE WHEN ({margin}) > 0 AND f.y > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
       CAST(coalesce(sum(CASE WHEN ({margin}) > 0 AND f.y < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
       CAST(coalesce(sum(CASE WHEN ({margin}) <= 0 AND f.y < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn,
       CAST(coalesce(sum(CASE WHEN ({margin}) <= 0 AND f.y > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
FROM f, w{iters}_c{fo}_ w WHERE f.fold = {fo}""")
    union = "\nUNION ALL\n".join(evals)
    parts.append(f"""
SELECT fold, tp, fp, tn, fn,
       ((2 * 10000 * (tp + tn) + nullif(tp + fp + tn + fn, 0))
          // (2 * nullif(tp + fp + tn + fn, 0))) / 10000.0 AS accuracy
FROM ({union})
""")
    return "".join(parts)


QG6_SQL = _qg6_sql()


def qg7_nb_auc(spark, sf_dir):
    """ROC AUC of the qg5 Naive Bayes scorer against the is-English
    label — threshold-free model evaluation via the rank-sum identity,
    exact to the last integer: scores are qg5's BIGINT 1e-8 log-odds
    units, midrank tie handling keeps 2U a pure integer, and the only
    float is the shared div_half_up emit at 1e-6. Train-set AUC by
    construction (same honest data note as qg2/qg5); zero-token docs
    carry no score and are excluded, matching qg5's no-evidence
    convention."""
    from alaska_etl_spark.operators.classifier import naive_bayes_scores, roc_auc

    d = _t(spark, sf_dir, "documents")
    scores = naive_bayes_scores(d, "doc_id", "text", "lang")
    scored = scores.join(d.select("doc_id", "lang"), "doc_id").select(
        F.col("score_units").alias("_score"), (F.col("lang") == "en").alias("_pos")
    )
    return roc_auc(scored, "_score", "_pos")


QG7_SQL = r"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, lang = 'en' AS pos,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
), vocab AS MATERIALIZED (
  SELECT w,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM tk GROUP BY w
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
), pri AS (
  SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS pd,
         CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS nd
  FROM documents
), terms AS MATERIALIZED (
  SELECT w,
         CAST(round(100000000 * (ln(CAST(cp + 1 AS DOUBLE)) - ln(CAST(np + v AS DOUBLE))
                                 - ln(CAST(cn + 1 AS DOUBLE)) + ln(CAST(nn + v AS DOUBLE)))) AS BIGINT) AS t
  FROM vocab, tot
), prior AS (
  SELECT CAST(round(100000000 * (ln(CAST(pd + 1 AS DOUBLE)) - ln(CAST(nd + 1 AS DOUBLE)))) AS BIGINT) AS p
  FROM pri
), s AS (
  SELECT doc_id, CAST(sum(t) AS BIGINT) AS s FROM tk JOIN terms USING (w) GROUP BY doc_id
), scored AS (
  SELECT CAST(s.s + prior.p AS BIGINT) AS score, d.lang = 'en' AS pos
  FROM s CROSS JOIN prior JOIN documents d ON s.doc_id = d.doc_id
), by_score AS (
  SELECT score,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM scored GROUP BY score
), cum AS (
  SELECT cp, cn,
         CAST(coalesce(sum(cn) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
  FROM by_score
), agg AS (
  SELECT CAST(sum(cp * (2 * below + cn)) AS BIGINT) AS u2,
         CAST(sum(cp) AS BIGINT) AS n_pos, CAST(sum(cn) AS BIGINT) AS n_neg
  FROM cum
)
SELECT n_pos, n_neg,
       ((2 * 1000000 * u2 + nullif(2 * n_pos * n_neg, 0))
          // (2 * nullif(2 * n_pos * n_neg, 0))) / 1000000.0 AS auc
FROM agg
"""


def qg8_chi2_features(spark, sf_dir):
    """Chi-squared feature selection: top-50 vocabulary terms by 2x2
    presence/label association with the is-English label. Every cell
    and margin is an exact BIGINT document frequency; the statistic is
    ONE pinned-shape IEEE double expression (no libm), so both engines
    emit bit-identical 4dp values; k-boundary ties break on term ASC.
    The supervised companion of q75's unsupervised TF-IDF vocabulary."""
    from alaska_etl_spark.operators.classifier import chi2_features

    return chi2_features(_t(spark, sf_dir, "documents"), "doc_id", "text", "lang")


QG8_SQL = r"""
WITH pres AS (
  SELECT lang = 'en' AS pos,
         unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS term
  FROM documents
), counts AS (
  SELECT term,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS df_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS df_neg
  FROM pres GROUP BY term
), tot AS (
  SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS np,
         CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS nn
  FROM documents
)
SELECT term, df_pos, df_neg,
       round(coalesce(
         CAST(np + nn AS DOUBLE)
         * (CAST(df_pos * (nn - df_neg) - df_neg * (np - df_pos) AS DOUBLE)
            * CAST(df_pos * (nn - df_neg) - df_neg * (np - df_pos) AS DOUBLE))
         / (((CAST(nullif(df_pos + df_neg, 0) AS DOUBLE)
              * CAST(nullif(np + nn - df_pos - df_neg, 0) AS DOUBLE))
             * CAST(nullif(np, 0) AS DOUBLE))
            * CAST(nullif(nn, 0) AS DOUBLE)),
         0.0), 4) AS chi2
FROM counts, tot
ORDER BY chi2 DESC, term ASC
LIMIT 50
"""


def qg9_knn_classifier(spark, sf_dir):
    """k-nearest-neighbor majority-vote classification of the first 50
    embedding vectors (k=10, self excluded) against their own labels —
    the non-parametric classifier next to the perceptron/NB pair,
    assembled from already-oracled pieces: the q27 cosine top-k
    protocol (4dp rounding, neighbor-id tie-breaks) plus one vote
    aggregate and a deterministic top-1 window (votes DESC, label
    ASC)."""
    from alaska_etl_spark.operators.classifier import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    return knn_classify(emb, emb.filter(F.col("vec_id") < 50), k=10)


QG9_SQL = """
WITH topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 50)
  WHERE rank <= 10
), votes AS (
  SELECT t.query_id, e.label AS predicted_label, CAST(count(*) AS BIGINT) AS votes
  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
  GROUP BY 1, 2
), top1 AS (
  SELECT query_id, predicted_label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, predicted_label ASC) AS rn
  FROM votes
)
SELECT t.query_id, t.predicted_label, t.votes, q.label AS true_label,
       t.predicted_label = q.label AS correct
FROM top1 t JOIN embeddings q ON t.query_id = q.vec_id
WHERE t.rn = 1
"""


def qh0_pr_curve(spark, sf_dir):
    """Precision/recall/F1 operating points of the qg5 Naive Bayes
    scorer at every distinct score threshold — the threshold-sweep
    evaluation between qg4's single operating point and qg7's
    threshold-free AUC. Cumulative tp/fp are BIGINT running sums over
    the distinct-score frame; all three rates leave integers through
    the shared div_half_up emit at 1e-4."""
    from alaska_etl_spark.operators.classifier import naive_bayes_scores, pr_curve

    d = _t(spark, sf_dir, "documents")
    scores = naive_bayes_scores(d, "doc_id", "text", "lang")
    scored = scores.join(d.select("doc_id", "lang"), "doc_id").select(
        F.col("score_units").alias("_score"), (F.col("lang") == "en").alias("_pos")
    )
    return pr_curve(scored, "_score", "_pos")


QH0_SQL = r"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, lang = 'en' AS pos,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
), vocab AS MATERIALIZED (
  SELECT w,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM tk GROUP BY w
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
), pri AS (
  SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS pd,
         CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS nd
  FROM documents
), terms AS MATERIALIZED (
  SELECT w,
         CAST(round(100000000 * (ln(CAST(cp + 1 AS DOUBLE)) - ln(CAST(np + v AS DOUBLE))
                                 - ln(CAST(cn + 1 AS DOUBLE)) + ln(CAST(nn + v AS DOUBLE)))) AS BIGINT) AS t
  FROM vocab, tot
), prior AS (
  SELECT CAST(round(100000000 * (ln(CAST(pd + 1 AS DOUBLE)) - ln(CAST(nd + 1 AS DOUBLE)))) AS BIGINT) AS p
  FROM pri
), s AS (
  SELECT doc_id, CAST(sum(t) AS BIGINT) AS s FROM tk JOIN terms USING (w) GROUP BY doc_id
), scored AS (
  SELECT CAST(s.s + prior.p AS BIGINT) AS score, d.lang = 'en' AS pos
  FROM s CROSS JOIN prior JOIN documents d ON s.doc_id = d.doc_id
), by_score AS (
  SELECT score AS threshold,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM scored GROUP BY score
), cum AS (
  SELECT threshold,
         CAST(sum(cp) OVER (ORDER BY threshold DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(sum(cn) OVER (ORDER BY threshold DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
  FROM by_score
), np_ AS (
  SELECT CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS np FROM scored
)
SELECT threshold, tp, fp, CAST(np - tp AS BIGINT) AS fn,
       ((2 * 10000 * (tp) + (nullif(tp + fp, 0))) // (2 * (nullif(tp + fp, 0)))) / 10000.0 AS "precision",
       ((2 * 10000 * (tp) + (nullif(np, 0))) // (2 * (nullif(np, 0)))) / 10000.0 AS recall,
       ((2 * 10000 * (2 * tp) + (nullif(tp + fp + np, 0))) // (2 * (nullif(tp + fp + np, 0)))) / 10000.0 AS f1
FROM cum CROSS JOIN np_
"""


def qh1_key_skew(spark, sf_dir):
    """Key-skew report for lineitem's part-key — the diagnostic that
    decides whether the q35 salting / AQE-skew machinery is even
    needed for a prospective shuffle on this key: exact Gini
    coefficient of rows-per-key (sorted rank-weighted identity, all
    BIGINT), top-1/top-10 key row shares, and the max-key row count.
    One per-key count aggregate; both ranking windows run over the
    reduced distinct-key frame."""
    from alaska_etl_spark.operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "lineitem"), "l_partkey")


QH1_SQL = """
WITH counts AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT c,
         CAST(row_number() OVER (ORDER BY c ASC, l_partkey ASC) AS BIGINT) AS i,
         CAST(row_number() OVER (ORDER BY c DESC, l_partkey ASC) AS BIGINT) AS rd
  FROM counts
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(c) AS BIGINT) AS total_rows,
         CAST(max(c) AS BIGINT) AS max_rows_per_key,
         CAST(sum(i * c) AS BIGINT) AS ic,
         CAST(sum(CASE WHEN rd <= 10 THEN c ELSE 0 END) AS BIGINT) AS topn
  FROM ranked
)
SELECT n_keys, total_rows, max_rows_per_key,
       ((2 * 1000000 * (2 * ic - (n_keys + 1) * total_rows) + (nullif(n_keys * total_rows, 0)))
          // (2 * (nullif(n_keys * total_rows, 0)))) / 1000000.0 AS gini,
       ((2 * 1000000 * (max_rows_per_key) + (nullif(total_rows, 0)))
          // (2 * (nullif(total_rows, 0)))) / 1000000.0 AS top1_share,
       ((2 * 1000000 * (_topn) + (nullif(total_rows, 0)))
          // (2 * (nullif(total_rows, 0)))) / 1000000.0 AS top10_share
FROM (SELECT n_keys, total_rows, max_rows_per_key, ic, topn AS _topn FROM agg)
"""


def qh2_pmi_collocations(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by PMI (min pair count 5) —
    phrase-mining corpus statistics: bigrams
    from the posexplode+lead codegen path, one ln evaluation per
    distinct surviving pair under the qg5/qf8 1e-8 fixed-point
    discipline, sort-limit emit with full (pmi, w1, w2) tie-breaks."""
    from alaska_etl_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), "doc_id", "text")


QH2_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tr AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w FROM toks
), uni AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY w
), pr AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tr
), pairs AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
  FROM pr WHERE w2 IS NOT NULL GROUP BY w1, w2
  HAVING count(*) >= 5
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_uni,
         CAST(sum(CASE WHEN pos > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi
  FROM tr
)
SELECT w1, w2, pair_count,
       CAST(round(100000000 * (ln(pair_count) - ln(n_bi) - ln(ca.c) - ln(cb.c)
                               + 2 * ln(n_uni))) AS BIGINT) AS pmi_units
FROM pairs JOIN uni ca ON pairs.w1 = ca.w JOIN uni cb ON pairs.w2 = cb.w CROSS JOIN tot
ORDER BY pmi_units DESC, w1 ASC, w2 ASC
LIMIT 50
"""


def qh3_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss 64→16 sign projection of every embedding
    (Achlioptas ±1 matrix regenerated from the md5 lane, components
    quantized to 1e-6 units first) — the shuffle-width reducer in
    front of ANN/clustering, exactly oracled because every output
    coordinate is an order-free BIGINT signed sum."""
    from alaska_etl_spark.operators.embeddings import jl_project

    return jl_project(_t(spark, sf_dir, "embeddings"))


QH3_SQL = """
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(1000000 * unnest(embedding::DOUBLE[])) AS BIGINT) AS q
  FROM embeddings
), hv AS (
  SELECT i.i, j.j,
         list_reduce(list_transform(string_split(substr(md5(i.i || ':' || j.j), 1, 8), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h
  FROM (SELECT unnest(range(64)) AS i) i, (SELECT unnest(range(16)) AS j) j
), signs AS (
  SELECT i, j, CAST(1 - 2 * (h % 2) AS BIGINT) AS s FROM hv
)
SELECT c.vec_id, CAST(s.j AS INT) AS dim_out, CAST(sum(s.s * c.q) AS BIGINT) AS comp_units
FROM comp c JOIN signs s ON c.i = s.i
GROUP BY c.vec_id, s.j
"""


def qh4_spearman(spark, sf_dir):
    """Spearman rank correlation (midrank ties) between a customer's
    account balance and their lifetime order spend — does wealth
    predict purchasing, monotonically? Customers with no orders count
    at spend 0 (a genuine tie block exercising the midranks). Doubled
    midranks keep every Σ term BIGINT; the single float expression is
    IEEE-only (*, −, /, sqrt — no libm), so the 6dp emit hash-matches
    at any n."""
    from alaska_etl_spark.operators.stats import spearman_corr

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("_spend"))
    joined = c.join(
        spend, c["c_custkey"] == spend["o_custkey"], "left"
    ).select(
        F.col("c_acctbal").alias("x"),
        F.coalesce(F.col("_spend"), F.lit(0.0)).alias("y"),
    )
    return spearman_corr(joined, "x", "y")


QH4_SQL = """
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey
), j AS (
  SELECT c.c_acctbal AS x, coalesce(sp.s, 0.0) AS y
  FROM customer c LEFT JOIN spend sp ON c.c_custkey = sp.o_custkey
), ranked AS (
  SELECT CAST(2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
         CAST(2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
  FROM j
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy
  FROM ranked
)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
            * sqrt(nullif(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0))), 6) AS rho
FROM agg
"""


def qh5_seasonal_anomalies(spark, sf_dir):
    """Seasonally profiled hourly volume with 3σ anomaly flags: every
    hour scored against its own (day-of-week × hour-of-day) bucket —
    the seasonality-aware counterpart of q93's global z-screen, fully
    integer-exact (the flag is one BIGINT leave-one-out comparison —
    self-masking-proof — no sqrt or division; the bucket mean is the
    1e-4 div_half_up). The synthetic
    event stream is deliberately uniform, so the flag column is
    all-false here — the oracle pins the full 720-row profiled series,
    and the flag arithmetic is unit-tested on seeded-anomaly
    fixtures."""
    from alaska_etl_spark.operators.timeseries import seasonal_anomalies

    return seasonal_anomalies(_t(spark, sf_dir, "events"), "ts")


QH5_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), b AS (
  SELECT hour_ts, CAST(dayofweek(hour_ts) AS INT) AS dow,
         CAST(hour(hour_ts) AS INT) AS hod, cnt
  FROM hourly
), m AS (
  SELECT hour_ts, dow, hod, cnt,
         CAST(sum(cnt) OVER w AS BIGINT) AS s,
         CAST(sum(cnt * cnt) OVER w AS BIGINT) AS ss,
         CAST(count(*) OVER w AS BIGINT) AS n
  FROM b
  WINDOW w AS (PARTITION BY dow, hod)
)
SELECT hour_ts, dow, hod, cnt,
       ((2 * 10000 * (s) + (n)) // (2 * (n))) / 10000.0 AS bucket_mean,
       n >= 3 AND
       ((n - 1) * cnt - (s - cnt)) * ((n - 1) * cnt - (s - cnt))
         > 9 * ((n - 1) * (ss - cnt * cnt) - (s - cnt) * (s - cnt)) AS anomalous
FROM m
ORDER BY hour_ts
"""


def qh6_benford_audit(spark, sf_dir):
    """Benford first-digit audit of order totals — the fabricated-data
    / unit-mixing screen: per digit, observed count vs Benford's
    expected share and the chi-squared contribution. First digits come
    from BIGINT cent strings (no float formatting, no log10 of data);
    expected shares quantize ln-of-small-integers to 1e-9 units; each
    chi-squared term is one pinned-shape IEEE expression. (TPC-H
    uniform prices are decidedly NON-Benford — large chi2_terms are
    the correct verdict here, and both engines agree on them
    exactly.)"""
    from alaska_etl_spark.operators.stats import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice")


QH6_SQL = """
WITH obs AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS observed
  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
  WHERE c > 0
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs
), d AS (
  SELECT CAST(unnest(range(1, 10)) AS INT) AS digit
), j AS (
  SELECT d.digit,
         CAST(round(1000000000 * (ln(CAST(d.digit + 1 AS DOUBLE)) - ln(CAST(d.digit AS DOUBLE))) / ln(10.0)) AS BIGINT) AS p,
         CAST(coalesce(obs.observed, 0) AS BIGINT) AS observed
  FROM d LEFT JOIN obs ON d.digit = obs.digit
)
SELECT digit, observed, p / 1000000000.0 AS expected_share,
       round(CAST(observed * 1000000000 - n * p AS DOUBLE)
             * CAST(observed * 1000000000 - n * p AS DOUBLE)
             / CAST(n * p AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS chi2_term
FROM j CROSS JOIN tot
ORDER BY digit
"""


def qh7_feature_hashing(spark, sf_dir):
    """Hashing-trick featurization of the corpus (1024 buckets, md5
    lane so DuckDB replays bucket assignment exactly): long-form
    sparse (doc, bucket, count) features with no vocabulary table —
    the fixed-dimensional featurizer in front of the perceptron
    family. Production default is the xxhash64 lane (recall-equivalent
    by the q29 argument); the md5 lane is the oracled one."""
    from alaska_etl_spark.operators.classifier import hashed_features

    return hashed_features(
        _t(spark, sf_dir, "documents"), "doc_id", "text", hash_fn="md5"
    )


QH7_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
)
SELECT doc_id,
       CAST((list_reduce(list_transform(string_split(substr(md5(w), 1, 8), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)
            % 2147483648) % 1024 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM tk
GROUP BY doc_id, bucket
"""


def qh8_diff_in_diff(spark, sf_dir):
    """Difference-in-differences readout over the event stream:
    deterministic hash-assigned treatment (the shared split
    arithmetic), periods cut at mid-month, integer-cent cell sums,
    div_half_up cell means, DID over the quantized means — the
    parallel-trends causal estimate beside qe1's AB test and q45's
    CUPED, exactly replayable end-to-end. (Synthetic assignment over
    synthetic events: the mechanics, not the effect size, are the
    pinned quantity — expected DID ≈ 0.)"""
    from alaska_etl_spark.operators.stats import diff_in_diff

    return diff_in_diff(
        _t(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        cutoff="2024-01-16 00:00:00",
    )


QH8_SQL = """
WITH base AS (
  SELECT ((((1198333156 * (user_id % 2147483648) + 1679060169) % 2147483647) % 1000000)) < 500000 AS t,
         ts >= TIMESTAMP '2024-01-16 00:00:00' AS p,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), cells AS (
  SELECT CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre, CAST(sum(CASE WHEN t AND NOT p THEN c ELSE 0 END) AS BIGINT) AS s_treat_pre, CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post, CAST(sum(CASE WHEN t AND p THEN c ELSE 0 END) AS BIGINT) AS s_treat_post, CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre, CAST(sum(CASE WHEN NOT t AND NOT p THEN c ELSE 0 END) AS BIGINT) AS s_ctrl_pre, CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post, CAST(sum(CASE WHEN NOT t AND p THEN c ELSE 0 END) AS BIGINT) AS s_ctrl_post
  FROM base
), m AS (
  SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
       (CASE WHEN s_treat_pre < 0 THEN -((2 * 10000 * abs(s_treat_pre) + (nullif(100 * n_treat_pre, 0))) // (2 * (nullif(100 * n_treat_pre, 0)))) ELSE ((2 * 10000 * abs(s_treat_pre) + (nullif(100 * n_treat_pre, 0))) // (2 * (nullif(100 * n_treat_pre, 0)))) END) / 10000.0 AS mean_treat_pre,
       (CASE WHEN s_treat_post < 0 THEN -((2 * 10000 * abs(s_treat_post) + (nullif(100 * n_treat_post, 0))) // (2 * (nullif(100 * n_treat_post, 0)))) ELSE ((2 * 10000 * abs(s_treat_post) + (nullif(100 * n_treat_post, 0))) // (2 * (nullif(100 * n_treat_post, 0)))) END) / 10000.0 AS mean_treat_post,
       (CASE WHEN s_ctrl_pre < 0 THEN -((2 * 10000 * abs(s_ctrl_pre) + (nullif(100 * n_ctrl_pre, 0))) // (2 * (nullif(100 * n_ctrl_pre, 0)))) ELSE ((2 * 10000 * abs(s_ctrl_pre) + (nullif(100 * n_ctrl_pre, 0))) // (2 * (nullif(100 * n_ctrl_pre, 0)))) END) / 10000.0 AS mean_ctrl_pre,
       (CASE WHEN s_ctrl_post < 0 THEN -((2 * 10000 * abs(s_ctrl_post) + (nullif(100 * n_ctrl_post, 0))) // (2 * (nullif(100 * n_ctrl_post, 0)))) ELSE ((2 * 10000 * abs(s_ctrl_post) + (nullif(100 * n_ctrl_post, 0))) // (2 * (nullif(100 * n_ctrl_post, 0)))) END) / 10000.0 AS mean_ctrl_post
  FROM cells
)
SELECT *, round((mean_treat_post - mean_treat_pre) - (mean_ctrl_post - mean_ctrl_pre), 4) AS did
FROM m
"""


def qh9_pseudonymize_audit(spark, sf_dir):
    """Keyed pseudonymization audit: events.user_id is replaced by a
    salted SHA-256 pseudonym (pure codegen, engine-portable), then the
    audit proves the two properties that make a pseudonymized
    warehouse usable — per event_type the DISTINCT-user cardinality is
    preserved exactly, and a sample pseudonym round-trips consistently
    (same user → same token across the whole table). Emits per-type
    ``(event_type, n_users_raw, n_users_pseudo, cardinality_ok)``."""
    from alaska_etl_spark.operators.redact import pseudonymize

    e = _t(spark, sf_dir, "events")
    p = pseudonymize(e, ["user_id"], salt="demo-salt-2024")
    raw = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_raw")
    )
    pse = p.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_pseudo")
    )
    return (
        raw.join(pse, "event_type")
        .select(
            "event_type",
            "n_users_raw",
            "n_users_pseudo",
            (F.col("n_users_raw") == F.col("n_users_pseudo")).alias("cardinality_ok"),
        )
        .orderBy("event_type")
    )


QH9_SQL = """
WITH p AS (
  SELECT event_type,
         substr(sha256('demo-salt-2024' || ':' || CAST(user_id AS VARCHAR)), 1, 16) AS pid
  FROM events WHERE user_id IS NOT NULL
), raw AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_raw
  FROM events GROUP BY event_type
), pse AS (
  SELECT event_type, CAST(count(DISTINCT pid) AS BIGINT) AS n_users_pseudo
  FROM p GROUP BY event_type
)
SELECT raw.event_type, n_users_raw, n_users_pseudo,
       n_users_raw = n_users_pseudo AS cardinality_ok
FROM raw JOIN pse ON raw.event_type = pse.event_type
ORDER BY raw.event_type
"""


def qi0_bigram_lm(spark, sf_dir):
    """In-engine bigram language model: top-3 continuations with exact
    1e-6 conditional probabilities for every head word with ≥20
    unigram occurrences — P(w2|w1) as integer÷integer through the
    shared div_half_up emit, ranked deterministically, bigrams from
    the qh2 codegen path. The conditional-probability sibling of
    qh2's PMI association scores."""
    from alaska_etl_spark.operators.text import bigram_lm_topk

    return bigram_lm_topk(_t(spark, sf_dir, "documents"), "doc_id", "text")


QI0_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tr AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w FROM toks
), uni AS (
  SELECT w AS w1, CAST(count(*) AS BIGINT) AS head_count
  FROM tr GROUP BY w HAVING count(*) >= 20
), pairs AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count FROM (
    SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tr
  ) WHERE w2 IS NOT NULL GROUP BY w1, w2
), scored AS (
  SELECT p.w1, p.w2, p.pair_count, u.head_count,
         ((2 * 1000000 * (p.pair_count) + (u.head_count)) // (2 * (u.head_count))) AS prob_units
  FROM pairs p JOIN uni u ON p.w1 = u.w1
)
SELECT w1, w2, pair_count, head_count, prob_units, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY w1 ORDER BY prob_units DESC, w2 ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def qi1_trigram_search(spark, sf_dir):
    """Substring search through a character-trigram index (pg_trgm
    technique): candidates must contain EVERY pattern trigram (sound
    over-approximation, equi-join pruning instead of a full substring
    scan), then an exact contains-verify — so the result equals the
    naive LIKE scan, which is precisely what the oracle runs. Pattern
    'merge batch' over the documents corpus."""
    from alaska_etl_spark.operators.text import trigram_search

    return trigram_search(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "merge batch"
    )


QI1_SQL = """
SELECT doc_id FROM documents WHERE contains(text, 'merge batch')
"""


def qi2_column_entropy(spark, sf_dir):
    """Information-content profile of the orders dimensions: per-column
    Shannon entropy (1e-9-unit BIGINT, the per-distinct-value
    quantized-term discipline) + distinct counts over
    status/priority/orderdate — low entropy flags near-constant
    categories, entropy ≈ ln(n_distinct) flags uniform high-card
    columns (o_orderdate); the discriminating-power row q77's
    profiler doesn't have."""
    from alaska_etl_spark.operators.text import column_entropy

    return column_entropy(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_orderdate"],
    )


QI2_SQL = """
WITH long AS (
  SELECT column_name, v FROM (
    SELECT 'o_orderstatus' AS column_name, CAST(o_orderstatus AS VARCHAR) AS v FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
  )
), counts AS (
  SELECT column_name, v, CAST(count(*) AS BIGINT) AS c
  FROM long GROUP BY column_name, v
), totals AS (
  SELECT column_name, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY column_name
), terms AS (
  SELECT counts.column_name, n_distinct,
         CAST(round(1000000000 * (c / n) * (ln(n) - ln(c))) AS BIGINT) AS t
  FROM counts JOIN totals ON counts.column_name = totals.column_name
)
SELECT column_name, n_distinct, CAST(sum(t) AS BIGINT) AS entropy_units
FROM terms GROUP BY column_name, n_distinct
ORDER BY column_name
"""


def qi3_reset_running_sum(spark, sf_dir):
    """Per-user running value total that RESETS at every error event —
    the "usage since last incident" conditional-restart shape plain
    window sums can't express: epoch id = running reset count, then
    the sum partitions by (user, epoch). Both windows share one
    exchange + one sort; integer cents end-to-end."""
    from alaska_etl_spark.operators.timeseries import resettable_running_sum

    e = _t(spark, sf_dir, "events")
    out = resettable_running_sum(
        e, "user_id", ["ts", "event_id"], "value",
        F.col("event_type") == "error",
    )
    return out.select("event_id", "user_id", "epoch", "run_cents")


QI3_SQL = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS epoch
  FROM events
)
SELECT event_id, user_id, epoch,
       CAST(sum(cents) OVER (PARTITION BY user_id, epoch ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
FROM e
"""


def qi4_interval_coverage(spark, sf_dir):
    """Interval-union coverage per user (gaps-and-islands sweep): each
    event spans value-minutes; overlaps count once. Island starts via
    running-max-end comparison, island ids via running flag sums, all
    in BIGINT epoch-microseconds over one shared (user, start) sort.
    The interval-algebra sibling of q34's gap sessions and q49's
    concurrency sweep."""
    from alaska_etl_spark.operators.timeseries import interval_coverage

    e = _t(spark, sf_dir, "events")
    return interval_coverage(
        e, "user_id", "ts",
        F.round(F.col("value") * 60 * 1000000).cast("bigint"),
        tiebreak_col="event_id",
    )


QI4_SQL = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(round(value * 60 * 1000000) AS BIGINT) AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM base
), islands AS (
  SELECT user_id, s, e,
         CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
  FROM flagged
), per_island AS (
  SELECT user_id, isl, CAST(count(*) AS BIGINT) AS n,
         CAST(max(e) - min(s) AS BIGINT) AS cov
  FROM islands GROUP BY user_id, isl
)
SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(cov) AS BIGINT) AS covered_us
FROM per_island GROUP BY user_id
"""


def qi5_bag_jaccard(spark, sf_dir):
    """Multiset (bag) Jaccard near-dup pairs over the q26 block
    (ids < 60, threshold 50%): repetition-aware similarity —
    Σmin/Σmax over token counts, numerator from the shared-vocabulary
    inner join only, denominator via totals (never a full outer).
    All-BIGINT threshold, div_half_up 4dp emit."""
    from alaska_etl_spark.operators.dedup import bag_jaccard_pairs

    return bag_jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text")


QI5_SQL = r"""
WITH counts AS (
  SELECT doc_id AS id, w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
    FROM documents WHERE doc_id < 60
  ) GROUP BY doc_id, w
), totals AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY id
), mins AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS sum_min
  FROM counts a JOIN counts b ON a.w = b.w AND a.id < b.id
  GROUP BY a.id, b.id
), scored AS (
  SELECT id_a, id_b, sum_min,
         CAST(ta.n + tb.n - sum_min AS BIGINT) AS sum_max
  FROM mins JOIN totals ta ON mins.id_a = ta.id JOIN totals tb ON mins.id_b = tb.id
)
SELECT id_a, id_b, sum_min, sum_max,
       ((2 * 10000 * (sum_min) + (sum_max)) // (2 * (sum_max))) / 10000.0 AS bag_jaccard
FROM scored WHERE 100 * sum_min >= 50 * sum_max
"""


def qf8_vocab_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between sources' unigram
    distributions (round 6): the distributional similarity matrix next
    to qf3's verbatim-copy matrix. Shared-token inner join + integer
    shared-mass corrections (JS needs no smoothing); per-token terms
    fixed-pointed to 1e-9 and BIGINT-summed (the PSI discipline), so
    the emit is aggregation-order-free and DuckDB-replayable."""
    from alaska_etl_spark.operators.text import vocab_divergence

    return vocab_divergence(_t(spark, sf_dir, "documents"), "source", "text")


QF8_SQL = r"""
WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), uni AS (
  SELECT source, unnest(tk) AS w FROM toks
), cnt AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1
), aa AS (
  SELECT cnt.source AS ga, w, c AS ca, n AS na FROM cnt JOIN tot USING (source)
), bb AS (
  SELECT cnt.source AS gb, w, c AS cb, n AS nb FROM cnt JOIN tot USING (source)
), rows_ AS (
  SELECT ga, gb, ca, na, cb, nb,
         ca / CAST(na AS DOUBLE) AS p, cb / CAST(nb AS DOUBLE) AS q
  FROM aa JOIN bb USING (w) WHERE ga < gb
), shared AS (
  SELECT ga, gb,
         CAST(count(*) AS BIGINT) AS shared_vocab,
         CAST(sum(ca) AS BIGINT) AS c_a,
         CAST(sum(cb) AS BIGINT) AS c_b,
         CAST(sum(CAST(round((p * ln(p / ((p + q) / 2.0))
                              + q * ln(q / ((p + q) / 2.0))) * 1e9) AS BIGINT))
              AS BIGINT) AS t_nano
  FROM rows_ GROUP BY 1, 2
), frame AS (
  SELECT ta.source AS ga, ta.n AS na, tb.source AS gb, tb.n AS nb
  FROM tot ta JOIN tot tb ON ta.source < tb.source
)
SELECT ga AS group_a, gb AS group_b, na AS tokens_a, nb AS tokens_b,
       COALESCE(shared_vocab, 0) AS shared_vocab,
       round(0.5 * (COALESCE(t_nano, 0) / 1e9
                    + ((1.0 - COALESCE(c_a, 0) / CAST(na AS DOUBLE))
                       + (1.0 - COALESCE(c_b, 0) / CAST(nb AS DOUBLE)))
                      * 0.6931471805599453), 6) AS js_nats
FROM frame LEFT JOIN shared USING (ga, gb)
"""


def qi6_cusum_drift(spark, sf_dir):
    """Per-user CUSUM drift audit over event values: sustained
    level-shift detection (Page's cumulative-sum statistic in its
    closed running-extrema window form), all-BIGINT via the
    scale-by-n trick, one exchange + one sort for every window."""
    from alaska_etl_spark.operators.timeseries import cusum_drift

    e = _t(spark, sf_dir, "events")
    out = cusum_drift(
        e, "user_id", ["ts", "event_id"], "value", threshold_cents=2000
    )
    return out.orderBy("user_id")


QI6_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), staged AS (
  SELECT user_id, ts, event_id,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(count(*) OVER (PARTITION BY user_id)
              * sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              * sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS p
  FROM base
), extrema AS (
  SELECT user_id, n, p,
         CAST(min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pmin,
         CAST(max(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pmax
  FROM staged
), scored AS (
  SELECT user_id, n,
         p - least(pmin, 0) AS up,
         greatest(pmax, 0) - p AS dn
  FROM extrema
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN up > 2000 * n THEN 1 ELSE 0 END) AS BIGINT) AS alarms_up,
       CAST(sum(CASE WHEN dn > 2000 * n THEN 1 ELSE 0 END) AS BIGINT) AS alarms_down,
       CAST((2 * max(up) + max(n)) // (2 * max(n)) AS BIGINT) AS max_drift_up_cents,
       CAST((2 * max(dn) + max(n)) // (2 * max(n)) AS BIGINT) AS max_drift_down_cents
FROM scored GROUP BY user_id ORDER BY user_id
"""


def qi7_skyline(spark, sf_dir):
    """2-D skyline (Pareto front) of the part catalog: parts where no
    other part is both cheaper and at least as large (minimize
    p_retailprice, maximize p_size). Never pairwise: one groupBy
    collapses to the distinct-price frame, a running max over that
    reduced frame marks the staircase, and the tiny front broadcasts
    back to recover full rows."""
    from alaska_etl_spark.operators.pareto import skyline_2d

    p = _t(spark, sf_dir, "part")
    return skyline_2d(
        p.select("p_partkey", "p_name", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
    ).orderBy("p_retailprice", "p_partkey")


QI7_SQL = """
WITH g AS (
  SELECT p_retailprice AS price, max(p_size) AS gmax
  FROM part GROUP BY 1
), g2 AS (
  SELECT price, gmax,
         max(gmax) OVER (ORDER BY price
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
  FROM g
), front AS (
  SELECT price, gmax FROM g2 WHERE prevmax IS NULL OR prevmax < gmax
)
SELECT p_partkey, p_name, p_retailprice, p_size
FROM part JOIN front ON p_retailprice = front.price AND p_size = front.gmax
ORDER BY p_retailprice, p_partkey
"""


def qi8_twap(spark, sf_dir):
    """Time-weighted average event value per user: each observation's
    weight is the millisecond gap until the next one (step-series
    semantics), not 1 — the irregular-sampling-safe mean. Exact
    cents·ms BIGINT sums, round-half-up emit; one exchange + one
    sort (the groupBy reuses the lead window's key partitioning)."""
    from alaska_etl_spark.operators.timeseries import time_weighted_avg

    e = _t(spark, sf_dir, "events")
    return time_weighted_avg(e, "user_id", "ts", "event_id", "value").orderBy(
        "user_id"
    )


QI8_SQL = """
WITH staged AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS c,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_ms(ts) AS dur
  FROM events
), agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(coalesce(sum(dur), 0) AS BIGINT) AS active_ms,
         CAST(coalesce(sum(c * dur), 0) AS BIGINT) AS wsum
  FROM staged GROUP BY user_id
)
SELECT user_id, n_events, active_ms,
       CASE WHEN active_ms > 0
            THEN CAST(CASE WHEN wsum < 0
                 THEN -((2 * abs(wsum) + active_ms) // (2 * active_ms))
                 ELSE ((2 * abs(wsum) + active_ms) // (2 * active_ms))
                 END AS BIGINT)
       END AS twap_cents
FROM agg ORDER BY user_id
"""


def qi9_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth: new token types introduced per
    decile batch of the corpus read in doc_id order, with cumulative
    docs/tokens/vocab — the diminishing-returns curve for corpus
    curation. No global window over documents: batch = id-range bucket
    via a broadcast 1-row max, first occurrence = min(batch) per
    token, cumulative window over 10 rows only."""
    from alaska_etl_spark.operators.text import vocab_growth

    d = _t(spark, sf_dir, "documents")
    return vocab_growth(d, "doc_id", "text", n_batches=10).orderBy("batch")


QI9_SQL = r"""
WITH maxid AS (
  SELECT max(doc_id) AS m FROM documents
), batched AS (
  SELECT least(9, (doc_id * 10) // (m + 1)) AS batch,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents, maxid
), per_batch AS (
  SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(tk)) AS BIGINT) AS batch_tokens
  FROM batched GROUP BY batch
), first_seen AS (
  SELECT fb AS batch, CAST(count(*) AS BIGINT) AS new_types FROM (
    SELECT w, min(batch) AS fb FROM (
      SELECT batch, unnest(tk) AS w FROM batched
    ) GROUP BY w
  ) GROUP BY fb
)
SELECT CAST(batch AS BIGINT) AS batch, n_docs,
       CAST(sum(n_docs) OVER (ORDER BY batch
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS docs_cum,
       batch_tokens,
       CAST(sum(batch_tokens) OVER (ORDER BY batch
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_cum,
       CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY batch
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_cum
FROM per_batch LEFT JOIN first_seen USING (batch)
ORDER BY batch
"""


def qj0_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood near-dup pairs (Hernández-Stolfo SNM): sort
    by a normalized 24-char text prefix inside 8-char block
    partitions, compare each doc with its next 5 neighbors, verify
    with exact set Jaccard at 50%. O(n·w) comparisons, one exchange +
    one sort — the prefix-affinity complement to MinHash/SimHash."""
    from alaska_etl_spark.operators.dedup import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        d, "doc_id", "text", window=6, threshold_pct=50
    ).orderBy("id_a", "id_b")


QJ0_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS key,
         list_sort(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS tk
  FROM documents
), numbered AS (
  SELECT id, tk,
         row_number() OVER (PARTITION BY substring(key, 1, 8)
                            ORDER BY key, id) AS rn,
         substring(key, 1, 8) AS block
  FROM base
), cand AS (
  SELECT a.id AS ia, b.id AS ib, a.tk AS ta, b.tk AS tb
  FROM numbered a JOIN numbered b
    ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 5
), scored AS (
  SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
         CAST(len(list_filter(ta, x -> list_contains(tb, x))) AS BIGINT) AS inter,
         CAST(len(ta) + len(tb) AS BIGINT) AS sz
  FROM cand
)
SELECT id_a, id_b, inter, CAST(sz - inter AS BIGINT) AS uni,
       ((2 * 10000 * inter + (sz - inter)) // (2 * (sz - inter))) / 10000.0 AS jaccard
FROM scored
WHERE sz - inter > 0 AND 100 * inter >= 50 * (sz - inter)
ORDER BY id_a, id_b
"""


def qj1_k_anonymity(spark, sf_dir):
    """k-anonymity audit of the customer table under the
    quasi-identifier (mktsegment, nationkey, acctbal-to-$100-bucket):
    per k in {2,5,10}, how many QI groups / rows fall below k. The
    audit that belongs next to qh9's pseudonymization — hashing hides
    WHO, this measures HOW UNIQUE. Two aggregates: row-scale data is
    touched once; the per-k report runs over the size histogram.
    Bucket arithmetic is shifted-cents integer div (truncate-vs-floor
    safe for negative balances)."""
    from alaska_etl_spark.operators.redact import k_anonymity_audit

    c = _t(spark, sf_dir, "customer")
    bucket = F.expr(
        "(cast(round(c_acctbal * 100) as bigint) + 100000) div 10000"
    ).alias("bal_bucket")
    return k_anonymity_audit(
        c, [F.col("c_mktsegment"), F.col("c_nationkey"), bucket], ks=(2, 5, 10)
    ).orderBy("k")


QJ1_SQL = """
WITH sizes AS (
  SELECT CAST(count(*) AS BIGINT) AS sz
  FROM customer
  GROUP BY c_mktsegment, c_nationkey,
           (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000
), hist AS (
  SELECT sz, CAST(count(*) AS BIGINT) AS ng FROM sizes GROUP BY sz
), ks AS (
  SELECT unnest([2, 5, 10]) AS k
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(sum(sz * ng) AS BIGINT) AS n_rows,
       CAST(sum(ng) AS BIGINT) AS n_groups,
       CAST(min(sz) AS BIGINT) AS k_anonymity,
       CAST(sum(CASE WHEN sz < k THEN ng ELSE 0 END) AS BIGINT) AS groups_below,
       CAST(sum(CASE WHEN sz < k THEN sz * ng ELSE 0 END) AS BIGINT) AS rows_below,
       CAST((2 * 10000 * sum(CASE WHEN sz < k THEN sz * ng ELSE 0 END)
             + sum(sz * ng)) // (2 * sum(sz * ng)) AS BIGINT) AS rows_below_bp
FROM hist CROSS JOIN ks
GROUP BY k ORDER BY k
"""


def qj2_ltob_downsample(spark, sf_dir):
    """Largest-Triangle-One-Bucket visual downsampling of each user's
    event series to 10 buckets: keep per bucket the point with the
    largest doubled triangle area vs its immediate neighbors (pure
    BIGINT cross products over epoch-ms × cents), endpoints always
    kept. All per-key windows share one exchange + one sort; the
    bucket-winner window reuses the key hash partitioning."""
    from alaska_etl_spark.operators.timeseries import ltob_downsample

    e = _t(spark, sf_dir, "events")
    return ltob_downsample(
        e, "user_id", "ts", "event_id", "value", n_buckets=10
    ).orderBy("user_id", "ts")


QJ2_SQL = """
WITH staged AS (
  SELECT user_id, ts, event_id AS tb,
         epoch_us(ts) // 1000 AS x,
         CAST(round(value * 100) AS BIGINT) AS y,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         lag(epoch_us(ts) // 1000) OVER w AS xp,
         lag(CAST(round(value * 100) AS BIGINT)) OVER w AS yp,
         lead(epoch_us(ts) // 1000) OVER w AS xn,
         lead(CAST(round(value * 100) AS BIGINT)) OVER w AS yn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), scored AS (
  SELECT user_id, (rn - 1) * 10 // n AS bucket, ts, tb, y AS cents,
         CASE WHEN rn > 1 AND rn < n
              THEN abs((x - xp) * (yn - yp) - (xn - xp) * (y - yp)) END AS area2,
         rn, n
  FROM staged
), winners AS (
  SELECT user_id, bucket, ts, cents, area2
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                     ORDER BY area2 DESC, ts, tb) AS wn
        FROM scored WHERE rn > 1 AND rn < n)
  WHERE wn = 1
), eps AS (
  SELECT user_id, bucket, ts, cents, area2 FROM scored WHERE rn = 1 OR rn = n
)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket, ts, cents,
       CAST(area2 AS BIGINT) AS area2
FROM (SELECT * FROM winners UNION ALL SELECT * FROM eps)
ORDER BY user_id, ts
"""


def qj3_target_encoding(spark, sf_dir):
    """Out-of-fold smoothed target encoding of p_type by retail price:
    each part's encoding uses only label mass from OTHER hash-assigned
    folds (leakage-safe mean encoding, Micci-Barreca smoothing m=20).
    Integer-exact: enc = (S_oof·G_n + m·G_s) / ((n_oof+m)·G_n) in
    cents, 4dp round-half-up. The fact table never shuffles — the
    (cat, fold) encode table broadcasts back."""
    from alaska_etl_spark.operators.splits import target_encode_oof

    p = _t(spark, sf_dir, "part")
    return target_encode_oof(
        p, "p_partkey", "p_type", "p_retailprice", n_folds=5, seed=7, smoothing=20
    ).orderBy("id")


def _qj3_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_bucket_sql

    fold = f"({hash_bucket_sql('p_partkey', seed=7)}) % 5"
    return f"""
WITH base AS (
  SELECT p_partkey AS id, p_type AS cat,
         CAST({fold} AS BIGINT) AS fold,
         CAST(round(p_retailprice * 100) AS BIGINT) AS c
  FROM part
), cf AS (
  SELECT cat, fold, CAST(sum(c) AS BIGINT) AS s_cf,
         CAST(count(*) AS BIGINT) AS n_cf
  FROM base GROUP BY cat, fold
), ct AS (
  SELECT cat, fold, s_cf, n_cf,
         CAST(sum(s_cf) OVER (PARTITION BY cat) AS BIGINT) AS s_c,
         CAST(sum(n_cf) OVER (PARTITION BY cat) AS BIGINT) AS n_c
  FROM cf
), g AS (
  SELECT CAST(sum(c) AS BIGINT) AS gs, CAST(count(*) AS BIGINT) AS gn FROM base
), enc AS (
  SELECT cat, fold, CAST(n_c - n_cf AS BIGINT) AS n_oof,
         (s_c - s_cf) * gn + 20 * gs AS num,
         (n_c - n_cf + 20) * gn AS den
  FROM ct CROSS JOIN g
)
SELECT b.id, b.cat, b.fold, e.n_oof,
       ((2 * 10000 * num + den) // (2 * den)) / 10000.0 AS enc
FROM base b JOIN enc e USING (cat, fold) ORDER BY b.id
"""


QJ3_SQL = _qj3_sql()


def qj4_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of three corpus-quality rankings
    (longest by chars, richest by distinct token types, longest by
    token count), each truncated to its top-100: fused score =
    Σ 10^9 div (60 + rank) — pure BIGINT, scale-free rank algebra.
    Every ranking is a range exchange + narrow Arrow pass (the q84
    global-ranking machinery), never a single-partition window."""
    from alaska_etl_spark.operators.ranking import rrf_fuse

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    base = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("nc"),
        F.size(toks).cast("bigint").alias("nt"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("ny"),
    )
    frames = [
        (base.select("doc_id", (-F.col("nc")).alias("_k")), ["_k", "doc_id"]),
        (base.select("doc_id", (-F.col("ny")).alias("_k")), ["_k", "doc_id"]),
        (base.select("doc_id", (-F.col("nt")).alias("_k")), ["_k", "doc_id"]),
    ]
    fused = rrf_fuse(frames, "doc_id", k=60, top_k=100)
    return fused.orderBy(F.col("rrf_units").desc(), "doc_id").limit(50)


QJ4_SQL = r"""
WITH t AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS nt,
         CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                            x -> x <> ''))) AS BIGINT) AS ny
  FROM documents
), u AS (
  SELECT doc_id, 1000000000 // (60 + r) AS u FROM (
    SELECT doc_id, row_number() OVER (ORDER BY -nc, doc_id) AS r FROM t
  ) WHERE r <= 100
  UNION ALL
  SELECT doc_id, 1000000000 // (60 + r) AS u FROM (
    SELECT doc_id, row_number() OVER (ORDER BY -ny, doc_id) AS r FROM t
  ) WHERE r <= 100
  UNION ALL
  SELECT doc_id, 1000000000 // (60 + r) AS u FROM (
    SELECT doc_id, row_number() OVER (ORDER BY -nt, doc_id) AS r FROM t
  ) WHERE r <= 100
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
       CAST(sum(u) AS BIGINT) AS rrf_units
FROM u GROUP BY doc_id
ORDER BY rrf_units DESC, doc_id LIMIT 50
"""


def qj7_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between the recorded lang label and the q24
    marker-lexicon language-ID prediction: chance-corrected agreement,
    kappa = (n·A − Σ row·col) / (n² − Σ row·col) — pure BIGINT on both
    sides, one final correctly-rounded BIGINT÷BIGINT. One shuffle (the
    confusion matrix); class-count-sized frames after."""
    from alaska_etl_spark.operators.stats import cohens_kappa
    from alaska_etl_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    pairs = d.select(F.col("lang").alias("label"), lang_id("text").alias("pred"))
    return cohens_kappa(pairs, "label", "pred")


def _qj7_sql() -> str:
    return f"""
WITH pred AS ({Q24_SQL}),
conf AS (
  SELECT lang AS l, lang_pred AS p, CAST(count(*) AS BIGINT) AS c
  FROM pred GROUP BY 1, 2
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l = p THEN c ELSE 0 END) AS BIGINT) AS a
  FROM conf
), mr AS (
  SELECT l AS cls, CAST(sum(c) AS BIGINT) AS mr FROM conf GROUP BY 1
), mc AS (
  SELECT p AS cls, CAST(sum(c) AS BIGINT) AS mc FROM conf GROUP BY 1
), pe AS (
  SELECT CAST(coalesce(sum(mr * mc), 0) AS BIGINT) AS pe
  FROM mr JOIN mc USING (cls)
)
SELECT n, a AS n_agree,
       CAST(n * a - pe AS BIGINT) AS num,
       CAST(n * n - pe AS BIGINT) AS den,
       CASE WHEN n * n - pe <> 0
            THEN CAST(n * a - pe AS DOUBLE) / (n * n - pe) END AS kappa
FROM tot CROSS JOIN pe
"""


QJ7_SQL = _qj7_sql()


def qj8_copurchase(spark, sf_dir):
    """Item-item co-occurrence cosine over brands bought by the same
    customer (item-to-item CF preprocessing, Sarwar '01): distinct
    (customer, brand) incidence, whale cap, pair self-join co-located
    on the customer key, popularity-normalized by co/sqrt(n_a·n_b) —
    one correctly-rounded float expression over exact BIGINTs. Top 50
    affinities."""
    from alaska_etl_spark.operators.cooccur import copurchase_similarity

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    inc = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
    )
    out = copurchase_similarity(inc, "cust", "brand", max_items=200, min_co=2)
    return out.orderBy(
        F.col("cosine").desc(), "item_a", "item_b"
    ).limit(50)


QJ8_SQL = """
WITH inc AS (
  SELECT DISTINCT o_custkey AS u, p_brand AS i
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN part ON l_partkey = p_partkey
), kept AS (
  SELECT u, i FROM inc
  WHERE u IN (SELECT u FROM inc GROUP BY u HAVING count(*) <= 200)
), co AS (
  SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS co
  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
  GROUP BY a.i, b.i HAVING count(*) >= 2
), totals AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY i
)
SELECT item_a, item_b, co, ta.n AS n_a, tb.n AS n_b,
       co / sqrt(CAST(ta.n * tb.n AS DOUBLE)) AS cosine
FROM co JOIN totals ta ON co.item_a = ta.i
        JOIN totals tb ON co.item_b = tb.i
ORDER BY cosine DESC, item_a, item_b LIMIT 50
"""


def qj9_survival_conversion(spark, sf_dir):
    """Kaplan-Meier time-to-first-purchase curve: duration = days from
    a user's first event to their first purchase, administratively
    censored at a 5-day observation window (users converting later
    are censored at day 5 — they shrink the risk set without counting
    as conversions, the correctness K-M buys over naive conversion
    rates). Product emitted in log space: per-time ln((n−d)/n)
    quantized to 1e-9 nats then BIGINT-cumulated (the PSI/JS libm
    discipline)."""
    from alaska_etl_spark.operators.stats import km_survival

    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("_t0"))
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("_tp"))
    )
    dur = F.datediff("_tp", "_t0").cast("bigint")
    spans = first.join(conv, on="user_id", how="left").select(
        F.least(F.coalesce(dur, F.lit(5)), F.lit(5)).cast("bigint").alias("dur_days"),
        F.when(dur <= 5, 1).otherwise(0).cast("int").alias("converted"),
    )
    return km_survival(spans, "dur_days", "converted").orderBy("t")


QJ9_SQL = """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS t0 FROM events GROUP BY user_id
), p AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS tp
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), spans AS (
  SELECT least(coalesce(date_diff('day', t0, tp), 5), 5) AS t,
         CASE WHEN date_diff('day', t0, tp) <= 5 THEN 1 ELSE 0 END AS ev
  FROM f LEFT JOIN p USING (user_id)
), per_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_end,
         CAST(sum(ev) AS BIGINT) AS d_events
  FROM spans GROUP BY t
), at_risk AS (
  SELECT t, d_events,
         CAST(sum(n_end) OVER (ORDER BY t
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
  FROM per_t
), ev_times AS (
  SELECT t, n_risk, d_events,
         CASE WHEN n_risk > d_events
              THEN CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
         END AS term,
         max(CASE WHEN n_risk = d_events THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
  FROM at_risk WHERE d_events > 0
)
SELECT t, n_risk, d_events,
       CASE WHEN dead = 0
            THEN CAST(sum(term) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       END AS survival_lnano
FROM ev_times ORDER BY t
"""


def qk0_weighted_median(spark, sf_dir):
    """Exact quantity-weighted median line price per brand: the
    smallest price where cumulative quantity reaches half the brand's
    total — robust "typical price" that the unweighted percentile
    family (q38) distorts on mixed lot sizes. One exchange + one sort
    per group; all BIGINT, the answer is always an observed value
    (intra-tie window order is irrelevant: qualification is monotone
    and ties share the emitted value)."""
    from alaska_etl_spark.operators.stats import grouped_weighted_median

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "p_brand", "l_extendedprice", "l_quantity"
    )
    return grouped_weighted_median(
        j,
        ["p_brand"],
        "cast(round(l_extendedprice * 100) as bigint)",
        "cast(round(l_quantity) as bigint)",
    ).orderBy("p_brand")


QK0_SQL = """
WITH base AS (
  SELECT p_brand,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(round(l_quantity) AS BIGINT) AS w
  FROM lineitem JOIN part ON l_partkey = p_partkey
), scored AS (
  SELECT p_brand, v, w,
         CAST(sum(w) OVER (PARTITION BY p_brand ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY p_brand) AS BIGINT) AS tw
  FROM base
)
SELECT p_brand,
       CAST(max(tw) AS BIGINT) AS total_weight,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT) AS weighted_median_cents
FROM scored GROUP BY p_brand ORDER BY p_brand
"""


def qk1_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next | current) with exact 4dp probabilities from
    BIGINT counts. One exchange + one sort for the lead window; the
    normalization window runs over the |states|² count frame."""
    from alaska_etl_spark.operators.sessions import transition_matrix

    e = _t(spark, sf_dir, "events")
    return transition_matrix(e, "user_id", ["ts", "event_id"], "event_type").orderBy(
        "src", "dst"
    )


QK1_SQL = """
WITH pairs AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src, dst, n,
       CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS row_total,
       ((2 * 10000 * n + sum(n) OVER (PARTITION BY src))
        // (2 * sum(n) OVER (PARTITION BY src))) / 10000.0 AS prob
FROM pairs ORDER BY src, dst
"""


_QK2_TYPES = ["click", "error", "purchase", "signup", "view"]


def qk2_combination_overlap(spark, sf_dir):
    """UpSet-style intersection cardinalities of event-type adoption
    in each user's first 48 hours of the stream: one row per observed
    membership COMBINATION (bitmask), the exact frame Venn counts
    approximate. Two mergeable aggregates (bit_or to a per-user mask,
    count per mask); output bounded by 2^5 rows."""
    from alaska_etl_spark.operators.sessions import combination_overlap

    e = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp_ntz")
    )
    return combination_overlap(e, "user_id", "event_type", _QK2_TYPES).orderBy(
        "mask"
    )


QK2_SQL = """
WITH masks AS (
  SELECT user_id,
         CAST(bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                     WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                     WHEN 'view' THEN 16 ELSE 0 END) AS BIGINT) AS mask
  FROM events
  WHERE ts < TIMESTAMP '2024-01-03'
    AND event_type IN ('click', 'error', 'purchase', 'signup', 'view')
  GROUP BY user_id
)
SELECT mask,
       array_to_string(list_filter(
         [CASE WHEN mask & 1 > 0 THEN 'click' END,
          CASE WHEN mask & 2 > 0 THEN 'error' END,
          CASE WHEN mask & 4 > 0 THEN 'purchase' END,
          CASE WHEN mask & 8 > 0 THEN 'signup' END,
          CASE WHEN mask & 16 > 0 THEN 'view' END],
         x -> x IS NOT NULL), '+') AS combo,
       CAST(bit_count(mask) AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_subjects
FROM masks WHERE mask > 0
GROUP BY mask ORDER BY mask
"""


def qk3_conformal_threshold(spark, sf_dir):
    """Split-conformal calibration cutoff per event type at α = 0.1:
    the k = ceil((n+1)·0.9)-th smallest value — the distribution-free
    90%-coverage threshold for future scores. Exact integer k, exact
    order statistic (rank window over (cents, id); ties share the
    emitted value). One exchange + one sort per group."""
    from alaska_etl_spark.operators.stats import conformal_threshold

    e = _t(spark, sf_dir, "events")
    return conformal_threshold(
        e,
        ["event_type"],
        "cast(round(value * 100) as bigint)",
        "event_id",
        alpha_num=1,
        alpha_den=10,
    ).orderBy("event_type")


QK3_SQL = """
WITH scored AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS v,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events
)
SELECT event_type, n,
       CAST(least((9 * (n + 1) + 9) // 10, n) AS BIGINT) AS k,
       v AS threshold_cents,
       (9 * (n + 1) + 9) // 10 <= n AS attainable
FROM scored
WHERE rn = least((9 * (n + 1) + 9) // 10, n)
ORDER BY event_type
"""


def qk4_anova(spark, sf_dir):
    """One-way ANOVA F over event values by event type: does the type
    factor explain variance beyond noise — the k-group extension of
    qe1's two-sample z-test in the integer-moments discipline. Per-
    group terms are exact-integer numerators with one correctly-
    rounded divide each, quantized ×100 then BIGINT-summed (order-
    free); the F ratio is two final IEEE divides."""
    from alaska_etl_spark.operators.stats import anova_oneway

    e = _t(spark, sf_dir, "events")
    return anova_oneway(e, "event_type", "cast(round(value * 100) as bigint)")


QK4_SQL = """
WITH per_g AS (
  SELECT event_type AS g,
         CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sg,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ssg
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
         CAST(sum(sg) AS BIGINT) AS s, CAST(sum(ssg) AS BIGINT) AS ss
  FROM per_g
), terms AS (
  SELECT k, n,
         (CAST(n * sg - ng * s AS DOUBLE) * CAST(n * sg - ng * s AS DOUBLE))
           / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS t,
         CAST(ng * ssg - sg * sg AS DOUBLE) / CAST(ng AS DOUBLE) AS w
  FROM per_g CROSS JOIN tot
), agg AS (
  SELECT k, n,
         CAST(sum(CAST(round(t * 100) AS BIGINT)) AS BIGINT) AS ssb_x100,
         CAST(sum(CAST(round(w * 100) AS BIGINT)) AS BIGINT) AS ssw_x100
  FROM terms GROUP BY k, n
)
SELECT k AS k_groups, n, ssb_x100, ssw_x100,
       CASE WHEN k > 1 AND n > k AND ssw_x100 > 0
            THEN (CAST(ssb_x100 AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                 / (CAST(ssw_x100 AS DOUBLE) / CAST(n - k AS DOUBLE))
       END AS f_stat
FROM agg
"""


def qk5_ohlc_bars(spark, sf_dir):
    """OHLC bars per (user, day): open/close are the FIRST/LAST values
    in (ts, event_id) order — picked deterministically via one
    row_number window whose partitioning the high/low/count aggregate
    then reuses (one exchange + one sort + one agg). BIGINT cents."""
    from alaska_etl_spark.operators.timeseries import ohlc_bars

    e = _t(spark, sf_dir, "events")
    return ohlc_bars(e, "user_id", "ts", "event_id", "value").orderBy(
        "user_id", "day"
    )


QK5_SQL = """
WITH staged AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(round(value * 100) AS BIGINT) AS c,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts, event_id)
)
SELECT user_id, day,
       CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS open_cents,
       CAST(max(c) AS BIGINT) AS high_cents,
       CAST(min(c) AS BIGINT) AS low_cents,
       CAST(max(CASE WHEN rn = n THEN c END) AS BIGINT) AS close_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM staged GROUP BY user_id, day ORDER BY user_id, day
"""


def qk6_waterfall(spark, sf_dir):
    """Period-over-period waterfall: monthly revenue per market
    segment, each segment's month-over-month delta, and the month's
    total delta — the decomposition "which segments drove this
    month's change". One aggregate to the (month, segment) frame;
    the lag and total windows run over that tiny frame (one sort
    each). BIGINT cents; first month emits NULL deltas."""
    e = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        e.join(F.broadcast(c), e["o_custkey"] == c["c_custkey"])
        .select(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("timestamp_ntz")
            .alias("month"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("_c"),
        )
        .groupBy("month", "segment")
        .agg(F.sum("_c").cast("bigint").alias("rev_cents"))
    )
    from pyspark.sql import Window

    w_seg = Window.partitionBy("segment").orderBy("month")
    staged = rev.select(
        "month",
        "segment",
        "rev_cents",
        (F.col("rev_cents") - F.lag("rev_cents").over(w_seg))
        .cast("bigint")
        .alias("delta_cents"),
    )
    w_month = Window.partitionBy("month")
    return staged.select(
        "month",
        "segment",
        "rev_cents",
        "delta_cents",
        F.sum("delta_cents").over(w_month).cast("bigint").alias("month_total_delta_cents"),
    ).orderBy("month", "segment")


QK6_SQL = """
WITH rev AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         c_mktsegment AS segment,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), staged AS (
  SELECT month, segment, rev_cents,
         CAST(rev_cents - lag(rev_cents) OVER (PARTITION BY segment
                                               ORDER BY month) AS BIGINT) AS delta_cents
  FROM rev
)
SELECT month, segment, rev_cents, delta_cents,
       CAST(sum(delta_cents) OVER (PARTITION BY month) AS BIGINT)
         AS month_total_delta_cents
FROM staged ORDER BY month, segment
"""


def qk7_episode_support(spark, sf_dir):
    """Serial-episode discovery: every ordered event-type pair a→b
    within 2 hours of the same user, with occurrence count and
    distinct-user support — the discovery form of the qc4 funnel.
    The Spark side runs the BANDED time-bucket join (each event meets
    only its own and the next bucket); the oracle runs the naive
    inequality join — the band optimization is thereby
    result-verified, not just argued."""
    from alaska_etl_spark.operators.sessions import episode_support

    e = _t(spark, sf_dir, "events")
    return episode_support(
        e, "user_id", "ts", "event_type", window_us=7200 * 1_000_000
    ).orderBy("src", "dst")


QK7_SQL = """
SELECT a.event_type AS src, b.event_type AS dst,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS support
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) - epoch_us(a.ts) <= CAST(7200 AS BIGINT) * 1000000
GROUP BY src, dst ORDER BY src, dst
"""


def qk8_geo_clusters(spark, sf_dir):
    """ε-neighborhood geo clustering (single-linkage DBSCAN core):
    customer points within 250 km become edges via the grid-blocked
    radius join (never cartesian), then connected components label the
    clusters — the qb1 blocking machinery composed with the q42 CC
    operator. The oracle builds the SAME edges with a naive cartesian
    haversine and closes them with a recursive CTE, so both the
    blocking and the iterative labeling are result-verified."""
    from alaska_etl_spark.operators.dedup import dup_groups
    from alaska_etl_spark.operators.geo import pseudo_coords, radius_pairs

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 5000)
    lat, lon = pseudo_coords(F.col("c_custkey"))
    pts = c.select(F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon"))
    pairs = radius_pairs(pts, "id", radius_km=250.0).select("id_a", "id_b")
    return dup_groups(pairs).orderBy("component")


def _qk8_sql() -> str:
    from alaska_etl_spark.operators.geo import haversine_km_sql, pseudo_coords_sql

    lat, lon = pseudo_coords_sql("c_custkey")
    hav = haversine_km_sql("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
WITH RECURSIVE pts AS MATERIALIZED (
  SELECT c_custkey AS id, {lat} AS lat, {lon} AS lon
  FROM customer WHERE c_custkey < 5000
), pairs AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pts a JOIN pts b ON a.id < b.id
  WHERE round({hav}, 3) <= 250.0
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)
SELECT component, CAST(count(*) AS BIGINT) AS member_count, min(id) AS keep_id
FROM comp GROUP BY component ORDER BY component
"""


QK8_SQL = _qk8_sql()


def qk9_uplift_deciles(spark, sf_dir):
    """Uplift/Qini evaluation by targeting-score decile: users ranked
    by total spend (the score), split by a hash-assigned treatment,
    per-decile treated-minus-control purchase-frequency gap plus the
    cumulative Qini statistic. Completes the causal family: qe1/qh8/
    q45 estimate average effects, this evaluates a targeting RANKING.
    Deciles via the q84 range-exchange global ntile; count arithmetic
    exact BIGINT, the two emits pinned-shape IEEE."""
    from alaska_etl_spark.operators.splits import hash_bucket
    from alaska_etl_spark.operators.stats import uplift_deciles

    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("score_cents"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("_np"),
    ).select(
        "user_id",
        "score_cents",
        (hash_bucket("user_id", seed=3) % 2).cast("int").alias("treated"),
        (F.col("_np") >= 14).cast("int").alias("outcome"),
    )
    return uplift_deciles(
        per_user, "user_id", "score_cents", "treated", "outcome", k=10
    ).orderBy("decile")


def _qk9_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_bucket_sql

    treated = f"CAST(({hash_bucket_sql('user_id', seed=3)}) % 2 AS INT)"
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS score,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, {treated} AS t,
         CASE WHEN np >= 14 THEN 1 ELSE 0 END AS y,
         ntile(10) OVER (ORDER BY -score, user_id) AS decile
  FROM per_user
), per AS (
  SELECT decile,
         CAST(sum(t) AS BIGINT) AS n_t,
         CAST(sum(t * y) AS BIGINT) AS conv_t,
         CAST(sum(1 - t) AS BIGINT) AS n_c,
         CAST(sum((1 - t) * y) AS BIGINT) AS conv_c
  FROM ranked GROUP BY decile
), cum AS (
  SELECT decile, n_t, conv_t, n_c, conv_c,
         CAST(sum(n_t) OVER w AS BIGINT) AS cnt,
         CAST(sum(conv_t) OVER w AS BIGINT) AS cct,
         CAST(sum(n_c) OVER w AS BIGINT) AS cnc,
         CAST(sum(conv_c) OVER w AS BIGINT) AS ccc
  FROM per
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n_t, conv_t, n_c, conv_c,
       CASE WHEN n_t > 0 AND n_c > 0
            THEN CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                 - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) END AS uplift,
       CASE WHEN cnc > 0
            THEN CAST(cct AS DOUBLE)
                 - CAST(ccc * cnt AS DOUBLE) / CAST(cnc AS DOUBLE) END AS qini_cum
FROM cum ORDER BY decile
"""


QK9_SQL = _qk9_sql()


def ql0_lag_correlation(spark, sf_dir):
    """Lagged cross-correlation of hourly view vs purchase volume:
    corr(views(t), purchases(t+L)) for L = 0..12 hours — the
    unknown-lead-time diagnostic next to q17's fixed-lead forecast
    error. One aggregate to the hourly frame; lag alignment is an
    explode of that reduced frame; per-lag moments exact BIGINT, the
    correlation one pinned-shape IEEE expression."""
    from alaska_etl_spark.operators.timeseries import lag_correlation

    e = _t(spark, sf_dir, "events")
    return lag_correlation(
        e,
        "ts",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
        max_lag_hours=12,
    ).orderBy("lag_hours")


QL0_SQL = """
WITH hours AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
), lags AS (
  SELECT unnest(generate_series(0, 12)) AS lag
), joined AS (
  SELECT l.lag, a.x AS x, b.y AS y
  FROM lags l
  CROSS JOIN hours a
  JOIN hours b ON b.h = a.h + l.lag * INTERVAL 1 HOUR
), m AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM joined GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_hours, n_hours,
       CASE WHEN sqrt(CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0
            THEN (CAST(n_hours AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr
FROM m ORDER BY lag_hours
"""


_QL1_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def ql1_fd_audit(spark, sf_dir):
    """Functional-dependency audit over the orders columns: for every
    ordered pair (A, B), does A determine B, and how many groups/rows
    violate it (o_orderkey → * holds, being the key; everything into
    the key is violated). Metanome-style dependency profiling —
    relationship discovery next to the q77/qi2 single-column
    profilers. Per pair: two map-side-combined aggregates."""
    from alaska_etl_spark.operators.text import fd_audit

    o = _t(spark, sf_dir, "orders")
    return fd_audit(o, _QL1_COLS).orderBy("determinant", "dependent")


def _ql1_sql() -> str:
    parts = []
    for a in _QL1_COLS:
        for b in _QL1_COLS:
            if a == b:
                continue
            parts.append(f"""
SELECT '{a}' AS determinant, '{b}' AS dependent,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       CAST(sum(CASE WHEN fan > 1 THEN mass ELSE 0 END) AS BIGINT) AS violating_rows,
       CAST(max(fan) AS BIGINT) AS max_fanout,
       sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (
  SELECT a, CAST(count(*) AS BIGINT) AS fan, CAST(sum(rows_) AS BIGINT) AS mass
  FROM (
    SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS rows_
    FROM orders GROUP BY {a}, {b}
  ) GROUP BY a
)""")
    return " UNION ALL ".join(parts) + " ORDER BY determinant, dependent"


QL1_SQL = _ql1_sql()


_QL2_KEYS = [
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
]


def ql2_inclusion_audit(spark, sf_dir):
    """Inclusion-dependency (candidate foreign-key) discovery across
    the star schema's key columns: per ordered pair, the share of
    left DISTINCT values present on the right (l_orderkey ⊆
    o_orderkey and o_custkey ⊆ c_custkey hold; the reversals measure
    childless parents). Distinct-set reduction before any join —
    shuffle volume is keys, never rows."""
    from alaska_etl_spark.operators.text import inclusion_audit

    frames = [
        (f"{t}.{c}", _t(spark, sf_dir, t), c) for t, c in _QL2_KEYS
    ]
    return inclusion_audit(frames).orderBy("from_table", "to_table")


def _ql2_sql() -> str:
    parts = []
    names = [(f"{t}.{c}", t, c) for t, c in _QL2_KEYS]
    for ln, lt, lc in names:
        for rn, rt, rc in names:
            if ln == rn:
                continue
            parts.append(f"""
SELECT '{ln}' AS from_table, '{lc}' AS from_col,
       '{rn}' AS to_table, '{rc}' AS to_col,
       CAST((SELECT count(DISTINCT {lc}) FROM {lt}) AS BIGINT) AS n_distinct,
       CAST((SELECT count(*) FROM (SELECT DISTINCT {lc} AS k FROM {lt}) l
             WHERE k NOT IN (SELECT {rc} FROM {rt} WHERE {rc} IS NOT NULL)) AS BIGINT)
         AS n_missing"""
            )
    inner = " UNION ALL ".join(parts)
    return f"""
WITH pairs AS ({inner})
SELECT from_table, from_col, to_table, to_col, n_distinct, n_missing,
       CAST((2 * 10000 * (n_distinct - n_missing) + n_distinct)
            // (2 * n_distinct) AS BIGINT) AS coverage_bp,
       n_missing = 0 AS holds
FROM pairs ORDER BY from_table, to_table
"""


QL2_SQL = _ql2_sql()


_QL3_CTX = [128, 256, 512, 1024]


def ql3_truncation_audit(spark, sf_dir):
    """Context-length truncation audit: for each candidate context
    size, how many documents exceed it, what share of corpus tokens
    would be CUT by hard truncation, and the share of capacity wasted
    by padding if each doc occupied one window — the one-aggregate
    readout that decides q72's packing policy before any packing
    runs. Exact BIGINT token counts; 4dp basis-point emits."""
    toks = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    ).cast("bigint")
    d = _t(spark, sf_dir, "documents").select(toks.alias("_n"))
    ctx = local_df(spark, [(c,) for c in _QL3_CTX], "ctx bigint")
    agg = (
        d.crossJoin(F.broadcast(ctx))
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("_n") > F.col("ctx"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_over"),
            F.sum(F.greatest(F.col("_n") - F.col("ctx"), F.lit(0)))
            .cast("bigint")
            .alias("tokens_cut"),
            F.sum(F.least(F.col("_n"), F.col("ctx")))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    return agg.select(
        "ctx",
        "n_docs",
        "total_tokens",
        "docs_over",
        "tokens_cut",
        div_half_up("tokens_cut", "total_tokens", 10000).alias("cut_bp"),
        # one-doc-per-window padding waste: capacity n_docs·ctx vs kept
        div_half_up("n_docs * ctx - tokens_kept", "n_docs * ctx", 10000).alias(
            "pad_waste_bp"
        ),
    ).orderBy("ctx")


QL3_SQL = r"""
WITH d AS (
  SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n
  FROM documents
), ctx AS (
  SELECT CAST(unnest([128, 256, 512, 1024]) AS BIGINT) AS ctx
), agg AS (
  SELECT ctx,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
         CAST(sum(greatest(n - ctx, 0)) AS BIGINT) AS tokens_cut,
         CAST(sum(least(n, ctx)) AS BIGINT) AS tokens_kept
  FROM d CROSS JOIN ctx GROUP BY ctx
)
SELECT ctx, n_docs, total_tokens, docs_over, tokens_cut,
       CAST((2 * 10000 * tokens_cut + total_tokens)
            // (2 * total_tokens) AS BIGINT) AS cut_bp,
       CAST((2 * 10000 * (n_docs * ctx - tokens_kept) + n_docs * ctx)
            // (2 * (n_docs * ctx)) AS BIGINT) AS pad_waste_bp
FROM agg ORDER BY ctx
"""


_QL7_PAIRS = [
    (a, b)
    for i, a in enumerate(_QL1_COLS)
    for b in _QL1_COLS[i + 1:]
]
_QL7_ENTROPY = ["o_orderstatus", "o_orderpriority", "o_orderdate"]


def ql7_data_audit(spark, sf_dir):
    """Unified nightly data-quality audit (plans/profile.py, VERDICT r6
    #7): the q77 column profile, qi2 entropy, ql1 FD audit, and ql2
    inclusion audit as FOUR VIEWS OF ONE SCAN PER TABLE — a single
    explode emits per-column and per-FD-pair entries, one persisted
    counts aggregate feeds every report (EXPLAINS shows the shared
    InMemoryTableScan), and the IND key sets come from the same frame.
    min/max report the STRING rendering (lexicographic for bare
    integer keys — exact and engine-identical; dates order correctly).
    One tall exactly-oracled frame: (report, table_name, subject,
    object, metric, value, value_str)."""
    from alaska_etl_spark.plans.profile import profile_tables

    tables = [
        (
            "orders",
            _t(spark, sf_dir, "orders"),
            _QL1_COLS + ["o_orderdate"],
            _QL7_PAIRS,
        ),
        ("lineitem", _t(spark, sf_dir, "lineitem"), ["l_orderkey"], []),
        ("customer", _t(spark, sf_dir, "customer"), ["c_custkey"], []),
    ]
    return profile_tables(
        tables,
        ind_keys=_QL2_KEYS,
        entropy_cols={"orders": _QL7_ENTROPY, "lineitem": [], "customer": []},
    )


def _ql7_sql() -> str:
    parts = []
    # profile: per (table, col) — 5 metrics; min/max mirror the
    # engine's string-rendered ordering (min over VARCHAR casts)
    profiled = (
        [("orders", c) for c in _QL1_COLS + ["o_orderdate"]]
        + [("lineitem", "l_orderkey")]
        + [("customer", "c_custkey")]
    )
    for t, c in profiled:
        parts.append(f"""
SELECT 'profile' AS report, '{t}' AS table_name, '{c}' AS subject,
       CAST(NULL AS VARCHAR) AS object, 'n_rows' AS metric,
       CAST(count(*) AS BIGINT) AS value, CAST(NULL AS VARCHAR) AS value_str
FROM {t}
UNION ALL
SELECT 'profile', '{t}', '{c}', NULL, 'n_null',
       CAST(count(*) - count({c}) AS BIGINT), NULL FROM {t}
UNION ALL
SELECT 'profile', '{t}', '{c}', NULL, 'n_distinct',
       CAST(count(DISTINCT {c}) AS BIGINT), NULL FROM {t}
UNION ALL
SELECT 'profile', '{t}', '{c}', NULL, 'min',
       CAST(NULL AS BIGINT), min(CAST({c} AS VARCHAR)) FROM {t}
UNION ALL
SELECT 'profile', '{t}', '{c}', NULL, 'max',
       CAST(NULL AS BIGINT), max(CAST({c} AS VARCHAR)) FROM {t}""")
    # entropy: qi2's quantized-term discipline, tall form
    for c in _QL7_ENTROPY:
        parts.append(f"""
SELECT 'entropy', 'orders', '{c}', NULL, 'entropy_units',
       CAST(sum(t) AS BIGINT), NULL
FROM (
  SELECT CAST(round(1000000000 * (c / n) * (ln(n) - ln(c))) AS BIGINT) AS t
  FROM (
    SELECT CAST(count(*) AS BIGINT) AS c,
           CAST(sum(count(*)) OVER () AS BIGINT) AS n
    FROM orders GROUP BY CAST({c} AS VARCHAR)
  )
)""")
    # fd: ql1's definitions per ordered pair, tall form
    for a in _QL1_COLS:
        for b in _QL1_COLS:
            if a == b:
                continue
            parts.append(f"""
SELECT 'fd', 'orders', '{a}', '{b}', metric, value, NULL
FROM (
  WITH per_det AS (
    SELECT a, CAST(count(*) AS BIGINT) AS fan, CAST(sum(rows_) AS BIGINT) AS mass
    FROM (
      SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS rows_
      FROM orders GROUP BY {a}, {b}
    ) GROUP BY a
  )
  SELECT 'n_groups' AS metric, CAST(count(*) AS BIGINT) AS value FROM per_det
  UNION ALL
  SELECT 'violating_groups',
         CAST(sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM per_det
  UNION ALL
  SELECT 'violating_rows',
         CAST(sum(CASE WHEN fan > 1 THEN mass ELSE 0 END) AS BIGINT) FROM per_det
  UNION ALL
  SELECT 'max_fanout', CAST(max(fan) AS BIGINT) FROM per_det
)""")
    # ind: ql2's definitions over string-rendered keys, tall form
    keys = [(t, c) for t, c in _QL2_KEYS]
    for lt, lc in keys:
        for rt, rc in keys:
            if (lt, lc) == (rt, rc):
                continue
            parts.append(f"""
SELECT 'ind', '{lt}', '{lc}', '{rt}.{rc}', metric, value, NULL
FROM (
  WITH agg AS (
    SELECT CAST((SELECT count(DISTINCT CAST({lc} AS VARCHAR)) FROM {lt}) AS BIGINT) AS nd,
           CAST((SELECT count(*) FROM (SELECT DISTINCT CAST({lc} AS VARCHAR) AS k FROM {lt} WHERE {lc} IS NOT NULL) l
                 WHERE k NOT IN (SELECT CAST({rc} AS VARCHAR) FROM {rt} WHERE {rc} IS NOT NULL)) AS BIGINT) AS nm
  )
  SELECT 'n_distinct' AS metric, nd AS value FROM agg
  UNION ALL
  SELECT 'n_missing', nm FROM agg
  UNION ALL
  SELECT 'coverage_bp',
         CAST((2 * 10000 * (nd - nm) + nd) // nullif(2 * nd, 0) AS BIGINT) FROM agg
)""")
    return (
        " UNION ALL ".join(parts)
        + " ORDER BY report, table_name, subject, object, metric"
    )


QL7_SQL = _ql7_sql()


def qm0_ngram_diversity(spark, sf_dir):
    """Distinct-n corpus diversity per source (operators/text.py
    ngram_diversity): total vs distinct 1/2/3-grams and the distinct
    ratio in 4dp basis points — distinct-1 is the type-token ratio,
    distinct-2/3 the self-repetition diversity metrics dataset cards
    report (template-heavy sources collapse at n=3 first). One scan,
    one window pass serves all three orders; shuffle volume is the
    distinct vocabulary (Heaps-sublinear)."""
    from alaska_etl_spark.operators.text import ngram_diversity

    return ngram_diversity(
        _t(spark, sf_dir, "documents"), "source", "text", max_n=3
    )


QM0_SQL = _mat(r"""
WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT source, 1 AS n, unnest(tk) AS g FROM toks
  UNION ALL
  SELECT source, 2,
         unnest(list_transform(generate_series(1, len(tk) - 1),
                i -> array_to_string(list_slice(tk, i, i + 1), ' ')))
  FROM toks WHERE len(tk) >= 2
  UNION ALL
  SELECT source, 3,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
  FROM toks WHERE len(tk) >= 3
)
SELECT source, CAST(n AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS total_grams,
       CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
       CAST((2 * 10000 * count(DISTINCT g) + count(*)) // (2 * count(*))
            AS BIGINT) AS distinct_bp
FROM grams GROUP BY source, n ORDER BY source, n
""", "toks")


def qm1_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency fit per source (operators/text.py
    zipf_slope): OLS slope/intercept of ln(freq) on ln(rank) over each
    source's token frequency table — slope near -1 is the natural-
    language signature; flat sources are vocabulary-uniform (logs,
    ids), steep ones template-dominated. Heaps-law qi9's rank-side
    companion. Quantized-term discipline: every ln product rounds to
    1e-9 BIGINT units before the order-free sum; the closed-form OLS
    is one pinned-shape float expression over exact sums."""
    from alaska_etl_spark.operators.text import zipf_slope

    return zipf_slope(_t(spark, sf_dir, "documents"), "source", "text")


QM1_SQL = _mat(r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> '')) AS t
  FROM documents
), freq AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS f
  FROM tok GROUP BY source, t
), ranked AS (
  SELECT source, f,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY f DESC, t ASC) AS BIGINT) AS r
  FROM freq
), terms AS (
  SELECT source,
         CAST(round(1000000000 * ln(r)) AS BIGINT) AS x,
         CAST(round(1000000000 * ln(f)) AS BIGINT) AS y,
         CAST(round(1000000000 * (ln(r) * ln(f))) AS BIGINT) AS xy,
         CAST(round(1000000000 * (ln(r) * ln(r))) AS BIGINT) AS xx
  FROM ranked
), sums AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx
  FROM terms GROUP BY source
)
SELECT source, n_types,
  CASE WHEN (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1000000000.0) <> 0.0
       THEN (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / 1000000000.0)
            / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1000000000.0)
  END AS slope,
  CASE WHEN (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1000000000.0) <> 0.0
       THEN (CAST(sy AS DOUBLE)
             - ((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / 1000000000.0)
                / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1000000000.0))
               * CAST(sx AS DOUBLE))
            / (CAST(n_types AS DOUBLE) * 1000000000.0)
  END AS intercept
FROM sums ORDER BY source
""", "tok", "sums")


def qm2_ann_recall(spark, sf_dir):
    """IVF recall@5 against brute-force ground truth (operators/
    similarity.py ann_recall): per query, how many of the exact top-5
    cosine neighbors the nprobe=4/16-cell IVF search returns — the
    index-quality evaluation the similarity family lacked (q27 is the
    truth, q31 the index; this is the comparison that picks nprobe).
    Both protocols are already engine-replicable, so the recall
    itself is exactly oracled."""
    from alaska_etl_spark.operators.similarity import ann_recall

    emb = _t(spark, sf_dir, "embeddings")
    return ann_recall(
        emb, emb.filter(F.col("vec_id") < 10), k=5, ncells=16, nprobe=4
    )


QM2_SQL = """
WITH truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 3) DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10)
  WHERE rank <= 5
), cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10) WHERE rn <= 4
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cosine
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cand)
  WHERE rank <= 5
)
SELECT t.query_id,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST((2 * 10000 * sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             + count(*)) // (2 * count(*)) AS BIGINT) AS recall_bp
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id
ORDER BY t.query_id
"""


def qm3_blocking_quality(spark, sf_dir):
    """Pair completeness x reduction ratio of the q29 LSH banding
    scheme against exact-Jaccard truth over the SAME shingle sets
    (operators/dedup.py blocking_quality) — the record-linkage report
    that tunes bands/rows before a corpus-scale dedup run. md5 lane,
    integer cross-multiplied threshold (J >= 1/2), one exactly-oracled
    row."""
    from alaska_etl_spark.operators.dedup import blocking_quality

    return blocking_quality(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=64, bands=16,
        threshold_num=1, threshold_den=2, hash_fn="md5",
    )


def _qm3_sql() -> str:
    """q29's md5-lane LSH replay up through the candidate set, plus the
    exact-Jaccard truth over the same gram sets and the completeness /
    reduction report."""
    from alaska_etl_spark.operators.dedup import _hash_params

    sig_slots = ", ".join(
        f"min(({a} * g + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(_hash_params(64, 42))
    )
    bands = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, {bh} AS bh FROM sig".format(
            b=b,
            bh=_dk_h60(
                "concat_ws(',', "
                + ", ".join(f"CAST(s{b * 4 + i} AS VARCHAR)" for i in range(4))
                + ")"
            ),
        )
        for b in range(16)
    )
    return _mat(rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, {_dk_h31('unnest(tk)')} AS th
  FROM toks
), full_grams AS (
  SELECT doc_id,
         ((th * 1000003 + lead(th,1) OVER w) % 2147483648 * 1000003
            + lead(th,2) OVER w) % 2147483648 AS g
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(th,2) OVER w IS NOT NULL
), shorts AS (
  SELECT doc_id,
         list_reduce(CAST(list(th ORDER BY pos) AS BIGINT[]),
                     (a,b) -> (a*1000003 + b) % 2147483648) AS g
  FROM tok_rows GROUP BY doc_id HAVING count(*) < 3
), gram_all AS (
  SELECT doc_id, g FROM full_grams UNION ALL SELECT doc_id, g FROM shorts
), sig AS (
  SELECT doc_id, {sig_slots} FROM gram_all GROUP BY doc_id
), banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
), shingle AS (
  SELECT DISTINCT doc_id, g FROM gram_all
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id
), inter AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ic
  FROM shingle sa
  JOIN shingle sb ON sb.g = sa.g AND sa.doc_id < sb.doc_id
  GROUP BY sa.doc_id, sb.doc_id
), truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
  WHERE 2 * i.ic >= 1 * (za.sz + zb.sz - i.ic)
), agg AS (
  SELECT CAST((SELECT count(*) FROM sig) AS BIGINT) AS n_docs,
         CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
         CAST((SELECT count(*) FROM truth t
               WHERE EXISTS (SELECT 1 FROM cand c
                             WHERE c.id_a = t.id_a AND c.id_b = t.id_b))
              AS BIGINT) AS n_hit
)
SELECT n_docs,
       CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_universe_pairs,
       n_candidates, n_true, n_hit,
       CASE WHEN n_true > 0
            THEN CAST((2 * 10000 * n_hit + n_true) // (2 * n_true) AS BIGINT)
       END AS completeness_bp,
       CASE WHEN n_docs * (n_docs - 1) // 2 > 0
            THEN CAST((2 * 10000 * (n_docs * (n_docs - 1) // 2 - n_candidates)
                       + n_docs * (n_docs - 1) // 2)
                      // (2 * (n_docs * (n_docs - 1) // 2)) AS BIGINT)
       END AS reduction_bp
FROM agg
""", "toks", "tok_rows", "full_grams", "gram_all", "sig", "banded", "cand", "shingle", "truth")


QM3_SQL = _qm3_sql()


def qm4_rbo(spark, sf_dir):
    """Rank-biased overlap (Webber '10) between BM25's standard ranking
    (b=0.75) and its length-normalization-off variant (b=0) over the
    q44 query set (operators/ranking.py rank_biased_overlap) — the
    top-weighted ranking-agreement metric that quantifies how much a
    retrieval parameter actually moves the top of the list (Spearman
    weights all positions equally; RBO's p=0.9 geometric decay weights
    what a user sees). Exact-rational p, per-depth quantized units."""
    from alaska_etl_spark.operators.ranking import rank_biased_overlap
    from alaska_etl_spark.operators.text import bm25_topk

    d = _t(spark, sf_dir, "documents")
    qs = local_df(spark, _BM25_QUERIES, "query_id int, query_text string")
    std = bm25_topk(d, qs, "doc_id", "text", k=10, b=0.75)
    nolen = bm25_topk(d, qs, "doc_id", "text", k=10, b=0.0)
    return rank_biased_overlap(
        std, nolen, query_col="query_id", item_col="doc_id", rank_col="rank",
        p_num=9, p_den=10, depth=10,
    )


def _qm4_sql(depth: int = 10, p_num: int = 9, p_den: int = 10) -> str:
    def chain(tag: str, norm: str) -> str:
        return f""", qidf_{tag} AS (
  SELECT query_id, term,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM dfreq JOIN qterms USING (term) CROSS JOIN stats
), contrib_{tag} AS (
  SELECT query_id, tf.doc_id,
         CAST(round((idf * (tf * 2.2) / (tf + 1.2 * {norm}))
                    * 1000000.0) AS BIGINT) AS micro
  FROM tf JOIN qidf_{tag} USING (term) JOIN dl ON tf.doc_id = dl.doc_id
), rank_{tag} AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sum(micro) DESC, doc_id ASC) AS rank
    FROM contrib_{tag} GROUP BY query_id, doc_id)
  WHERE rank <= {depth}
)"""

    powers = ", ".join(
        f"({i}, {p_num ** (i - 1)}, {p_den ** i})" for i in range(1, depth + 1)
    )
    return _mat(rf"""
WITH q AS (
  SELECT * FROM (VALUES (1, 'hash join spark'), (2, 'window agg stream batch'),
                        (3, 'vector scan filter fast')) AS t(query_id, query_text)
), qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(lower(query_text), '\s+'), x -> x <> '')) AS term
  FROM q
), toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
){chain("a", "(0.25 + 0.75 * dl / avgdl)")}{chain("b", "(1.0 + 0.0 * dl / avgdl)")}, matched AS (
  SELECT a.query_id, greatest(a.rank, b.rank) AS m
  FROM rank_a a JOIN rank_b b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
), contrib AS (
  SELECT query_id, unnest(generate_series(m, {depth})) AS i FROM matched
), x AS (
  SELECT query_id, i, CAST(count(*) AS BIGINT) AS x FROM contrib GROUP BY 1, 2
), powers AS (
  SELECT * FROM (VALUES {powers}) AS t(i, pn, pd)
), units AS (
  SELECT query_id,
         CAST(round(1000000000 * CAST(x * {p_den - p_num} * pn AS DOUBLE)
                    / CAST(i * pd AS DOUBLE)) AS BIGINT) AS u
  FROM x JOIN powers USING (i)
), per_q AS (
  SELECT query_id, CAST(sum(u) AS BIGINT) AS rbo_units FROM units GROUP BY 1
)
SELECT qq.query_id,
       CAST(coalesce(rbo_units, 0) AS BIGINT) AS rbo_units,
       CAST(coalesce(rbo_units, 0) AS DOUBLE) / 1000000000.0 AS rbo
FROM (SELECT DISTINCT query_id FROM rank_a) qq
LEFT JOIN per_q USING (query_id)
ORDER BY qq.query_id
""", "tf", "dl", "qterms")


QM4_SQL = _qm4_sql()


def qm5_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup report per source (operators/
    dedup.py cdc_chunk_stats): token-grain FastCDC — chunk boundaries
    after tokens whose md5-31 hash ≡ 0 (mod 16), ordered polynomial
    chunk hashes, corpus-wide chunk-frequency join — reporting the
    duplicated chunk/token mass each source would reclaim in a
    chunk-store. The dedup axis between q25's exact whole-document
    hash and q29's fuzzy whole-document resemblance."""
    from alaska_etl_spark.operators.dedup import cdc_chunk_stats

    return cdc_chunk_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source",
        boundary_mod=16, hash_fn="md5",
    )


QM5_SQL = _mat(rf"""
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT source, doc_id, generate_subscripts(tk, 1) AS pos,
         {_dk_h31('unnest(tk)')} AS h
  FROM toks
), marked AS (
  SELECT source, doc_id, pos, h,
         coalesce(sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS ck
  FROM tok_rows
), chunks AS (
  SELECT source, doc_id, ck,
         CAST(count(*) AS BIGINT) AS n_tok,
         list_reduce(CAST(list(h ORDER BY pos) AS BIGINT[]),
                     (a, b) -> (a * 1000003 + b) % 2147483648) AS ch
  FROM marked GROUP BY source, doc_id, ck
), freq AS (
  SELECT ch, CAST(count(*) AS BIGINT) AS occ FROM chunks GROUP BY ch
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN occ > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens,
       CAST((2 * 10000 * sum(CASE WHEN occ > 1 THEN n_tok ELSE 0 END)
             + sum(n_tok)) // (2 * sum(n_tok)) AS BIGINT) AS dup_token_bp
FROM chunks JOIN freq USING (ch)
GROUP BY source ORDER BY source
""", "toks", "tok_rows", "chunks")


def qm6_ann_ndcg(spark, sf_dir):
    """nDCG@5 of the IVF index judged by exact-cosine relevance
    (operators/similarity.py ann_ndcg) — qm2's recall says WHETHER the
    true neighbors came back; this says whether the best ones came back
    FIRST. Relevance = exact 4dp cosine in integer micros on BOTH the
    approximate and ideal lists; per-rank log2 discounts quantize to
    BIGINT units, the final ratio is one engine-identical division."""
    from alaska_etl_spark.operators.similarity import ann_ndcg

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ndcg(
        emb, emb.filter(F.col("vec_id") < 10), k=5, ncells=16, nprobe=4
    )


QM6_SQL = """
WITH truth AS (
  SELECT query_id, cosine, rank FROM (
    SELECT q.vec_id AS query_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10)
  WHERE rank <= 5
), cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.centroid), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10) WHERE rn <= 4
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cosine
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
), approx AS (
  SELECT query_id, cosine, rank FROM (
    SELECT query_id, cosine,
           row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cand)
  WHERE rank <= 5
), idcg AS (
  SELECT query_id,
         CAST(sum(CAST(round(1000 * CAST(CAST(round(cosine * 1000000.0) AS BIGINT) AS DOUBLE)
                             / log2(rank + 1)) AS BIGINT)) AS BIGINT) AS idcg_units
  FROM truth GROUP BY query_id
), dcg AS (
  SELECT query_id,
         CAST(sum(CAST(round(1000 * CAST(CAST(round(cosine * 1000000.0) AS BIGINT) AS DOUBLE)
                             / log2(rank + 1)) AS BIGINT)) AS BIGINT) AS dcg_units
  FROM approx GROUP BY query_id
)
SELECT i.query_id,
       CAST(coalesce(d.dcg_units, 0) AS BIGINT) AS dcg_units,
       i.idcg_units,
       CASE WHEN i.idcg_units <> 0
            THEN CAST(coalesce(d.dcg_units, 0) AS DOUBLE) / CAST(i.idcg_units AS DOUBLE)
       END AS ndcg
FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
ORDER BY i.query_id
"""


def qm7_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility report per source: BPE-ish subword tokens
    per whitespace word (operators/text.py bpe_ish_token_count /
    token_count) and characters per subword token — THE number
    tokenizer papers report per language/domain (fertility ≫ 1 flags
    text the tokenizer fragments: code, numerics, non-Latin scripts;
    chars/token is the compression the context window actually buys).
    One aggregate of exact BIGINT counts; 4dp basis-point ratios."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.text import bpe_ish_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    agg = (
        d.select(
            "source",
            token_count("text").cast("bigint").alias("_w"),
            bpe_ish_token_count("text").cast("bigint").alias("_t"),
            F.length("text").cast("bigint").alias("_c"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_w").cast("bigint").alias("words"),
            F.sum("_t").cast("bigint").alias("subword_tokens"),
            F.sum("_c").cast("bigint").alias("chars"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "subword_tokens",
        "chars",
        div_half_up("10000 * subword_tokens", "words").alias("fertility_bp"),
        div_half_up("10000 * chars", "subword_tokens").alias("chars_per_token_bp"),
    ).orderBy("source")


QM7_SQL = r"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS words,
       CAST(sum(t) AS BIGINT) AS subword_tokens,
       CAST(sum(c) AS BIGINT) AS chars,
       CAST((2 * 10000 * sum(t) + sum(w)) // (2 * sum(w)) AS BIGINT) AS fertility_bp,
       CAST((2 * 10000 * sum(c) + sum(t)) // (2 * sum(t)) AS BIGINT) AS chars_per_token_bp
FROM (
  SELECT source,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS t,
         CAST(length(text) AS BIGINT) AS c
  FROM documents
)
GROUP BY source ORDER BY source
"""


def qm8_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the marker-lexicon lang_id
    heuristic (q24's operator) evaluated against the documents table's
    gold ``lang`` labels — (gold, predicted, n_docs) cells, the
    evaluation every classifier in the ingest path needs next to its
    predictions (q24 ships labels; this says WHERE they are wrong:
    which gold languages leak into 'und', which pairs confuse). One
    scan + one aggregate; the heuristic is pure codegen and the oracle
    replays the same argmax/tie protocol in SQL."""
    from alaska_etl_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("gold"), lang_id("text").alias("predicted"))
        .groupBy("gold", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("gold", "predicted")
    )


def _qm8_sql() -> str:
    from alaska_etl_spark.operators.text import LANG_MARKERS

    hit_cols = []
    for lang, words in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(
            f"CAST(len(list_filter(tk, x -> list_contains([{lst}], x))) AS BIGINT) AS h_{lang}"
        )
    # argmax with ties to the smallest language code: sort (−hits, lang)
    # structs ascending, exactly the engine's sort_array protocol
    pick = " ".join(
        f"WHEN h_{lang} >= greatest({', '.join('h_' + l for l in sorted(LANG_MARKERS))}) THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    return rf"""
WITH scored AS (
  SELECT lang AS gold, {', '.join(hit_cols)}
  FROM (
    SELECT lang,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
    FROM documents
  )
), picked AS (
  SELECT gold,
         CASE WHEN greatest({', '.join('h_' + l for l in sorted(LANG_MARKERS))}) = 0
              THEN 'und'
              ELSE CASE {pick} END
         END AS predicted
  FROM scored
)
SELECT gold, predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM picked GROUP BY gold, predicted ORDER BY gold, predicted
"""


QM8_SQL = _qm8_sql()


def qm9_mixture_report(spark, sf_dir):
    """Static source-mixture report (operators/splits.py
    mixture_report): per source, mass AFTER exact dedup and mean
    quality, plus a suggested mixing weight = the source's share of
    quality-weighted UNIQUE tokens — the dataset-card table that feeds
    mix_sources its rates with the two corrections raw token counts
    get wrong (duplicated content and low-quality mass should not buy
    weight). All-integer quarters/masses; 4dp bp emits."""
    from alaska_etl_spark.operators.splits import mixture_report

    return mixture_report(_t(spark, sf_dir, "documents"), "source", "text")


QM9_SQL = r"""
WITH toks AS (
  SELECT source, text,
         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
  FROM documents
), feat AS (
  SELECT source, norm,
         CAST(len(tk) AS BIGINT) AS tok,
         CAST((CASE WHEN len(tk) >= 10 AND len(tk) <= 100000 THEN 1 ELSE 0 END)
            + (CASE WHEN (CASE WHEN len(tk) = 0 THEN 0.0
                 ELSE list_aggregate(list_transform(tk, x -> CAST(length(x) AS DOUBLE)), 'sum') / greatest(len(tk), 1) END) >= 2.0
                AND (CASE WHEN len(tk) = 0 THEN 0.0
                 ELSE list_aggregate(list_transform(tk, x -> CAST(length(x) AS DOUBLE)), 'sum') / greatest(len(tk), 1) END) <= 12.0
                THEN 1 ELSE 0 END)
            + (CASE WHEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0 / greatest(length(text), 1) <= 0.2 THEN 1 ELSE 0 END)
            + (CASE WHEN len(list_filter(list_transform(tk, x -> lower(x)),
                 x -> x IN ('the','and','of','to','is','in','that','for','with'))) * 1.0 / greatest(len(tk), 1) >= 0.01 THEN 1 ELSE 0 END)
           AS BIGINT) AS q4
  FROM toks
), n_docs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM feat GROUP BY source
), owner AS (
  SELECT norm, min(source) AS source,
         CAST(min(tok) AS BIGINT) AS tok, CAST(min(q4) AS BIGINT) AS q4
  FROM feat GROUP BY norm
), per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_unique_docs,
         CAST(sum(tok) AS BIGINT) AS unique_tokens,
         CAST(sum(q4) AS BIGINT) AS quarters,
         CAST(sum(tok * q4) AS BIGINT) AS mass
  FROM owner GROUP BY source
), total AS (
  SELECT CAST(sum(mass) AS BIGINT) AS tmass FROM per_src
)
SELECT n.source, n.n_docs,
       CAST(coalesce(p.n_unique_docs, 0) AS BIGINT) AS n_unique_docs,
       CAST(coalesce(p.unique_tokens, 0) AS BIGINT) AS unique_tokens,
       CAST((2 * 10000 * coalesce(p.quarters, 0) + 4 * greatest(p.n_unique_docs, 1))
            // (2 * (4 * greatest(p.n_unique_docs, 1))) AS BIGINT) AS quality_bp,
       CAST((2 * 10000 * coalesce(p.mass, 0) + greatest(t.tmass, 1))
            // (2 * greatest(t.tmass, 1)) AS BIGINT) AS weight_bp
FROM n_docs n LEFT JOIN per_src p ON p.source = n.source CROSS JOIN total t
ORDER BY n.source
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------



# ---------------------------------------------------------------------------
# round-8 families (X134-X142): evaluation, audit, and robustness reports
# ---------------------------------------------------------------------------


def qn3_lift_gains(spark, sf_dir):
    """Decile lift & cumulative-gains table for the qg5 Naive Bayes
    scorer (operators/classifier.py lift_gains) — the operating view of
    a ranking-based data filter: keep the top-k% by score, read off the
    captured share of good documents. Buckets are exact ANSI ntile over
    (-score, doc_id) via the range-exchange global ranking (never a
    single-partition window); rates in half-up 4dp bp; lift is one
    double division of two exact bp integers."""
    from alaska_etl_spark.operators.classifier import lift_gains, naive_bayes_scores

    d = _t(spark, sf_dir, "documents")
    scores = naive_bayes_scores(d, "doc_id", "text", "lang").join(
        d.select("doc_id", (F.col("lang") == "en").alias("_pos")), "doc_id"
    )
    return lift_gains(scores, "score_units", "_pos", id_col="doc_id", buckets=10)


QN3_SQL = f"""
WITH scored AS ({QG5_SQL.strip()}
), labeled AS (
  SELECT s.doc_id, s.score_units, d.lang = 'en' AS pos,
         ntile(10) OVER (ORDER BY -s.score_units ASC, s.doc_id ASC) AS bucket
  FROM scored s JOIN documents d USING (doc_id)
), per AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos
  FROM labeled GROUP BY bucket
), cum AS (
  SELECT bucket, n, n_pos,
         CAST(sum(n_pos) OVER (ORDER BY bucket) AS BIGINT) AS cum_pos,
         CAST(sum(n) OVER () AS BIGINT) AS tot,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
  FROM per
)
SELECT bucket, n, n_pos,
       CAST((2 * 10000 * n_pos + n) // (2 * n) AS BIGINT) AS pos_rate_bp,
       CAST((2 * 10000 * cum_pos + nullif(tot_pos, 0)) // (2 * nullif(tot_pos, 0)) AS BIGINT) AS gain_bp,
       CASE WHEN (2 * 10000 * tot_pos + tot) // (2 * tot) > 0
            THEN CAST((2 * 10000 * n_pos + n) // (2 * n) AS DOUBLE)
                 / CAST((2 * 10000 * tot_pos + tot) // (2 * tot) AS DOUBLE)
       END AS lift
FROM cum ORDER BY bucket
"""


_QN4_PAIRS = {"orders": [("o_orderstatus", "o_orderpriority")],
              "documents": [("lang", "source")]}


def qn4_mutual_info(spark, sf_dir):
    """Exact mutual information + marginal entropies between
    categorical column pairs (operators/stats.py
    categorical_mutual_info) — dependence STRENGTH where the FD audit
    only answers holds/doesn't: status x priority on orders, lang x
    source on documents. All pairs per table ride one tagged explode +
    one aggregate; per-cell ln terms are the PMI 1e-8 fixed-point
    discipline so the nats columns hash-match cross-engine."""
    from alaska_etl_spark.operators.stats import categorical_mutual_info

    outs = [
        categorical_mutual_info(_t(spark, sf_dir, t), ps)
        for t, ps in _QN4_PAIRS.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("subject", "object")


def _qn4_sql() -> str:
    parts = []
    for t, ps in _QN4_PAIRS.items():
        for x, y in ps:
            parts.append(f"""
SELECT '{x}' AS subject, '{y}' AS object, n_rows, n_cells, mi_nats,
       h_subject_nats, h_object_nats
FROM (
  WITH cells AS MATERIALIZED (
    SELECT coalesce(CAST({x} AS VARCHAR), chr(0) || 'null') AS xv,
           coalesce(CAST({y} AS VARCHAR), chr(0) || 'null') AS yv,
           CAST(count(*) AS BIGINT) AS nxy
    FROM {t} GROUP BY 1, 2
  ), mx AS (SELECT xv, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY xv
  ), my AS (SELECT yv, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY yv
  ), tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n,
                    CAST(count(*) AS BIGINT) AS n_cells FROM cells
  ), mi AS (
    SELECT CAST(sum(CAST(round(100000000 * (CAST(nxy AS DOUBLE) / n *
             (((ln(nxy) - ln(nx)) - ln(ny)) + ln(n)))) AS BIGINT)) AS BIGINT) AS u
    FROM cells JOIN mx USING (xv) JOIN my USING (yv), tot
  ), hx AS (
    SELECT CAST(sum(CAST(round(-100000000 * (CAST(nx AS DOUBLE) / n *
             (ln(nx) - ln(n)))) AS BIGINT)) AS BIGINT) AS u
    FROM mx, tot
  ), hy AS (
    SELECT CAST(sum(CAST(round(-100000000 * (CAST(ny AS DOUBLE) / n *
             (ln(ny) - ln(n)))) AS BIGINT)) AS BIGINT) AS u
    FROM my, tot
  )
  SELECT tot.n AS n_rows, tot.n_cells,
         CAST(mi.u AS DOUBLE) / 100000000.0 AS mi_nats,
         CAST(hx.u AS DOUBLE) / 100000000.0 AS h_subject_nats,
         CAST(hy.u AS DOUBLE) / 100000000.0 AS h_object_nats
  FROM tot, mi, hx, hy
)""")
    return " UNION ALL ".join(parts) + " ORDER BY subject, object"


QN4_SQL = _qn4_sql()


_QN5_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def qn5_histograms(spark, sf_dir):
    """Equi-width 10-bin histograms for lineitem's numeric columns
    (operators/stats.py histogram_profile) — the distribution view the
    q77/q23 profile lacks. One tagged explode + one aggregate serves
    all columns; bin arithmetic is pure correctly-rounded IEEE (no
    libm), so bins are engine-identical without a fixed-point lane."""
    from alaska_etl_spark.operators.stats import histogram_profile

    return histogram_profile(_t(spark, sf_dir, "lineitem"), _QN5_COLS, nbins=10)


def _qn5_sql() -> str:
    parts = []
    for c in _QN5_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name, bin,
       mn + (bin * (mx - mn)) / 10.0 AS lo,
       mn + ((bin + 1) * (mx - mn)) / 10.0 AS hi,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT CASE WHEN mx = mn THEN 0
              ELSE CAST(least(9, floor(((v - mn) * 10.0) / (mx - mn))) AS INT)
         END AS bin, mn, mx
  FROM (SELECT CAST({c} AS DOUBLE) AS v FROM lineitem WHERE {c} IS NOT NULL) x,
       (SELECT min(CAST({c} AS DOUBLE)) AS mn, max(CAST({c} AS DOUBLE)) AS mx
        FROM lineitem WHERE {c} IS NOT NULL) r
)
GROUP BY column_name, bin, mn, mx""")
    return " UNION ALL ".join(parts) + " ORDER BY column_name, bin"


QN5_SQL = _qn5_sql()


def qn6_dup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster SIZE DISTRIBUTION over the events stream's
    snapshot-dedup key (user_id, event_type) — operators/dedup.py
    dup_cluster_sizes: pairs vs giant clusters decides keep-first vs
    cluster review, and the tail predicts the dedup shuffle's skew.
    Two reduced-frame aggregates; singleton row included (the
    undeduplicated mass)."""
    from alaska_etl_spark.operators.dedup import dup_cluster_sizes

    return dup_cluster_sizes(_t(spark, sf_dir, "events"), ["user_id", "event_type"])


QN6_SQL = """
WITH sizes AS (
  SELECT CAST(count(*) AS BIGINT) AS cluster_size
  FROM events GROUP BY user_id, event_type
)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_rows,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_excess
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


def qn7_cluster_separation(spark, sf_dir):
    """Per-cell cluster separation over the q50 k-means (k=8, 2 Lloyd
    iterations): mean cosine to the OWN centroid and mean margin to the
    runner-up (operators/similarity.py cluster_separation) — the
    boundary-cell detector the within-cell cohesion summary can't see,
    and the number that sizes IVF nprobe. Same exact protocol as q50
    (6dp-rounded argmax, micro-unit BIGINT sums), so DuckDB replays
    both Lloyd iterations AND the top-2 pick bit-for-bit."""
    from alaska_etl_spark.operators.similarity import cluster_separation

    return cluster_separation(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def _qn7_sql(k: int = 8, iters: int = 2) -> str:
    return _lloyd_ctes(k, iters) + f""", sc AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         CAST(round(list_cosine_similarity(e.v, c.c) * 1000000.0) AS BIGINT) AS mu,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.v, c.c), 6) DESC,
                    c.cid ASC) AS rn
  FROM e CROSS JOIN c{iters} c
)
SELECT t1.cid AS centroid_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(t1.mu) AS DOUBLE) / (count(*) * 1000000.0) AS avg_best,
       CAST(sum(t1.mu - t2.mu) AS DOUBLE) / (count(*) * 1000000.0) AS avg_margin
FROM (SELECT * FROM sc WHERE rn = 1) t1
JOIN (SELECT * FROM sc WHERE rn = 2) t2 USING (vec_id)
GROUP BY t1.cid ORDER BY centroid_id
"""


QN7_SQL = _qn7_sql()


def qn8_winsorize(spark, sf_dir):
    """Winsorization impact report for l_extendedprice per return flag
    (operators/stats.py winsorize_report): exact p01/p99 clip bounds
    from the value-domain quantile counts, clipped-mass bp, and mean
    before/after — the robust-preprocessing decision table. Values
    quantize once to cents; everything to the final two divisions is
    BIGINT."""
    from alaska_etl_spark.operators.stats import winsorize_report

    return winsorize_report(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice",
        p_lo=0.01, p_hi=0.99, scale=100,
    )


QN8_SQL = """
WITH cents AS MATERIALIZED (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), counts AS (
  SELECT l_returnflag, c, count(*) AS cnt FROM cents GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, c, cnt,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY c) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM counts
), lo AS (
  SELECT l_returnflag, c AS lo_c FROM cum
  WHERE cum >= ceil(0.01 * n) AND cum - cnt < ceil(0.01 * n)
), hi AS (
  SELECT l_returnflag, c AS hi_c FROM cum
  WHERE cum >= ceil(0.99 * n) AND cum - cnt < ceil(0.99 * n)
)
SELECT v.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(lo_c AS DOUBLE) / 100.0 AS lo,
       CAST(hi_c AS DOUBLE) / 100.0 AS hi,
       CAST(count(*) FILTER (WHERE c < lo_c) AS BIGINT) AS n_clip_lo,
       CAST(count(*) FILTER (WHERE c > hi_c) AS BIGINT) AS n_clip_hi,
       CAST((2 * 10000 * (count(*) FILTER (WHERE c < lo_c) + count(*) FILTER (WHERE c > hi_c))
             + count(*)) // (2 * count(*)) AS BIGINT) AS clip_bp,
       CAST(sum(c) AS DOUBLE) / (count(*) * 100.0) AS mean_before,
       CAST(sum(greatest(lo_c, least(hi_c, c))) AS DOUBLE) / (count(*) * 100.0) AS mean_after
FROM cents v JOIN lo USING (l_returnflag) JOIN hi USING (l_returnflag)
GROUP BY v.l_returnflag, lo_c, hi_c
ORDER BY v.l_returnflag
"""


_QN9_RULES = [
    ("customer", [
        ("c_name", "name_format", "regex", "^Customer#[0-9]{9}$"),
        ("c_acctbal", "non_negative", "non_negative", None),
    ]),
    ("documents", [("lang", "lang_allowlist", "regex", "^(en|de|fr)$")]),
    ("orders", [("o_orderpriority", "priority_format", "regex", "^[1-5]-[A-Z ]+$")]),
]


def qn9_format_validity(spark, sf_dir):
    """Format/constraint validity audit (plans/profile.py
    format_validity): declared per-column contracts — name pattern,
    non-negative balance, language allowlist, priority format — scored
    as valid-share bp over non-NULL values. Rules use a conservative
    regex subset valid in both Java regex and RE2, so engine and
    oracle run the SAME patterns."""
    from alaska_etl_spark.plans.profile import format_validity

    tables = [
        (name, _t(spark, sf_dir, name), rules) for name, rules in _QN9_RULES
    ]
    return format_validity(tables)


def _qn9_sql() -> str:
    parts = []
    for name, rules in _QN9_RULES:
        for col, rule_name, kind, arg in rules:
            ok = (
                f"regexp_matches(CAST({col} AS VARCHAR), '{arg}')"
                if kind == "regex"
                else f"{col} >= 0"
            )
            parts.append(f"""
SELECT '{name}' AS table_name, '{col}' AS subject, '{rule_name}' AS rule,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) FILTER (WHERE coalesce({ok}, false)) AS BIGINT) AS n_valid,
       CAST((2 * 10000 * count(*) FILTER (WHERE coalesce({ok}, false))
             + nullif(count(*), 0)) // (2 * nullif(count(*), 0)) AS BIGINT) AS valid_bp
FROM {name} WHERE {col} IS NOT NULL""")
    return " UNION ALL ".join(parts) + " ORDER BY table_name, subject, rule"


QN9_SQL = _qn9_sql()


def qo0_lsh_scurve(spark, sf_dir):
    """Empirical-vs-analytic LSH S-curve of the q29 banding scheme
    (operators/dedup.py lsh_scurve): shared-gram pairs bucketed by
    exact Jaccard, per bucket the band detection rate next to the
    theoretical 1-(1-s^4)^16 at the bucket midpoint — how bands are
    picked, where qm3 gives only the one-threshold verdict. md5 lane;
    the analytic column joins from literals computed once and embedded
    in BOTH plans (parity by construction)."""
    from alaska_etl_spark.operators.dedup import lsh_scurve

    return lsh_scurve(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=64, bands=16, hash_fn="md5",
    )


def _qo0_sql() -> str:
    """qm3's md5-lane LSH + exact-Jaccard machinery with the S-curve
    tail: bucket, detect share, analytic literal join."""
    from alaska_etl_spark.operators.dedup import _hash_params, lsh_scurve_constants

    sig_slots = ", ".join(
        f"min(({a} * g + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(_hash_params(64, 42))
    )
    bands = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, {bh} AS bh FROM sig".format(
            b=b,
            bh=_dk_h60(
                "concat_ws(',', "
                + ", ".join(f"CAST(s{b * 4 + i} AS VARCHAR)" for i in range(4))
                + ")"
            ),
        )
        for b in range(16)
    )
    # string-cast the double literals: DuckDB types a bare decimal
    # literal DECIMAL and its decimal→double conversion can land one
    # ulp off the repr round-trip; CAST(VARCHAR AS DOUBLE) is strtod,
    # bit-identical to the Python float Spark embeds (measured: bucket
    # 9's 1-(1-0.95^4)^16 differed in the last digit without this)
    curve = ", ".join(
        f"({i}, CAST('{s!r}' AS DOUBLE), CAST('{p!r}' AS DOUBLE))"
        for i, s, p in lsh_scurve_constants(16, 4)
    )
    return _mat(rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok_rows AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, {_dk_h31('unnest(tk)')} AS th
  FROM toks
), full_grams AS (
  SELECT doc_id,
         ((th * 1000003 + lead(th,1) OVER w) % 2147483648 * 1000003
            + lead(th,2) OVER w) % 2147483648 AS g
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(th,2) OVER w IS NOT NULL
), shorts AS (
  SELECT doc_id,
         list_reduce(CAST(list(th ORDER BY pos) AS BIGINT[]),
                     (a,b) -> (a*1000003 + b) % 2147483648) AS g
  FROM tok_rows GROUP BY doc_id HAVING count(*) < 3
), gram_all AS (
  SELECT doc_id, g FROM full_grams UNION ALL SELECT doc_id, g FROM shorts
), sig AS (
  SELECT doc_id, {sig_slots} FROM gram_all GROUP BY doc_id
), banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
), shingle AS (
  SELECT DISTINCT doc_id, g FROM gram_all
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id
), inter AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ic
  FROM shingle sa
  JOIN shingle sb ON sb.g = sa.g AND sa.doc_id < sb.doc_id
  GROUP BY sa.doc_id, sb.doc_id
), pairs AS (
  SELECT i.id_a, i.id_b,
         CAST(least(9, (10 * i.ic) // (za.sz + zb.sz - i.ic)) AS INT) AS j_bucket
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
), det AS (
  SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_detected
  FROM pairs p
  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.id_a = p.id_a AND c.id_b = p.id_b)
  GROUP BY j_bucket
), tot AS (
  SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY j_bucket
)
SELECT t.j_bucket, curve.s_mid, t.n_pairs,
       CAST(coalesce(d.n_detected, 0) AS BIGINT) AS n_detected,
       CAST((2 * 10000 * coalesce(d.n_detected, 0) + t.n_pairs)
            // (2 * t.n_pairs) AS BIGINT) AS detect_bp,
       curve.analytic_detect
FROM tot t
LEFT JOIN det d USING (j_bucket)
JOIN (VALUES {curve}) curve(j_bucket, s_mid, analytic_detect) USING (j_bucket)
ORDER BY t.j_bucket
""", "toks", "tok_rows", "full_grams", "gram_all", "sig", "banded", "cand",
        "shingle", "pairs")


QO0_SQL = _qo0_sql()




def qo1_join_forecast(spark, sf_dir):
    """Exact join-output forecast for the lineitem⋈orders fact join
    (operators/skew.py join_cardinality_forecast): predicted rows =
    Σ ca·cb over shared keys from the two per-key count tables, plus
    the skew anatomy (max single-key product and its output share) —
    the planner-grade audit that decides whether a fact⋈fact join is
    runnable and whether its hot key needs salting BEFORE the shuffle
    is paid. All BIGINTs."""
    from alaska_etl_spark.operators.skew import join_cardinality_forecast

    return join_cardinality_forecast(
        _t(spark, sf_dir, "lineitem"), "l_orderkey",
        _t(spark, sf_dir, "orders"), "o_orderkey",
    )


QO1_SQL = """
WITH la AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ca FROM lineitem GROUP BY 1
), rb AS (
  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cb FROM orders GROUP BY 1
), shared AS (
  SELECT ca * cb AS p FROM la JOIN rb USING (k) WHERE k IS NOT NULL
)
SELECT (SELECT CAST(sum(ca) AS BIGINT) FROM la) AS n_left,
       (SELECT CAST(sum(cb) AS BIGINT) FROM rb) AS n_right,
       (SELECT CAST(count(*) AS BIGINT) FROM la) AS n_left_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM rb) AS n_right_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM shared) AS n_shared_keys,
       (SELECT CAST(coalesce(sum(ca) FILTER (WHERE k IS NULL), 0) AS BIGINT) FROM la) AS n_null_left,
       (SELECT CAST(coalesce(sum(cb) FILTER (WHERE k IS NULL), 0) AS BIGINT) FROM rb) AS n_null_right,
       (SELECT CAST(coalesce(sum(p), 0) AS BIGINT) FROM shared) AS predicted_rows,
       (SELECT CAST(coalesce(max(p), 0) AS BIGINT) FROM shared) AS max_key_product,
       CAST((2 * 10000 * (SELECT CAST(coalesce(max(p), 0) AS HUGEINT) FROM shared)
             + nullif((SELECT coalesce(sum(p), 0) FROM shared), 0))
            // (2 * CAST(nullif((SELECT coalesce(sum(p), 0) FROM shared), 0) AS HUGEINT)) AS BIGINT)
         AS top_share_bp
"""


def qo2_canonical_keepers(spark, sf_dir):
    """Keep-BEST canonical selection over the q42/q03 near-dup
    components (operators/dedup.py canonical_selection): per cluster,
    the longest-text member wins (ties → smallest id), and the report
    carries kept vs discarded quality mass — the decision table between
    detection and deletion that min-id keep-first gets wrong for
    training data. Components replay through the same recursive-CTE
    oracle as q03; one window per component (near-cliques, bounded
    blocks)."""
    from alaska_etl_spark.operators.dedup import (
        canonical_selection,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_id=200
    ).select("id_a", "id_b")
    return canonical_selection(
        d.filter(F.col("doc_id") < 200), pairs, "doc_id", F.length("text")
    )


QO2_SQL = (
    "WITH RECURSIVE pairs AS ("
    + _Q42_PAIRS_SQL
    + """), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src
), scored AS (
  SELECT c.component, c.id, CAST(length(d.text) AS BIGINT) AS s
  FROM comp c JOIN documents d ON d.doc_id = c.id
), keep AS (
  SELECT component, id AS keeper_id, s AS keeper_score FROM (
    SELECT *, row_number() OVER (PARTITION BY component ORDER BY s DESC, id ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT s.component, k.keeper_id,
       CAST(count(*) AS BIGINT) AS n_members,
       k.keeper_score,
       CAST(sum(s.s) AS BIGINT) AS score_total,
       CAST(sum(s.s) - k.keeper_score AS BIGINT) AS score_discarded
FROM scored s JOIN keep k USING (component)
GROUP BY s.component, k.keeper_id, k.keeper_score
ORDER BY s.component
"""
)
QO2_SQL = _mat(QO2_SQL, "toks", "sh", "pairs", "edges")


def qo3_embedding_anisotropy(spark, sf_dir):
    """Embedding-space health report (operators/embeddings.py
    anisotropy_report): anisotropy = squared mean-vector norm = the
    average pairwise cosine of the L2-normalized corpus (the
    narrow-cone pathology that wrecks cosine-threshold dedup), plus
    dead-dimension counts for the truncation operators. Per-dim exact
    integer moments; cross-dim sums ride 1e-9 fixed-point units
    (order-free); per-dim floats keep one pinned IEEE shape."""
    from alaska_etl_spark.operators.embeddings import anisotropy_report

    return anisotropy_report(_t(spark, sf_dir, "embeddings"))


QO3_SQL = """
WITH e AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings
), comp AS (
  SELECT generate_subscripts(v, 1) AS d,
         CAST(round(unnest(v) * 1000000) AS BIGINT) AS m
  FROM e
), per_dim AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s,
         CAST(sum(m * m) AS BIGINT) AS q
  FROM comp GROUP BY d
), terms AS (
  SELECT n,
    CAST(round(1000000000 * ((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000000000.0))) AS BIGINT) AS au,
    CAST(round(1000000000 * ((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000000000.0))) AS BIGINT) AS vu,
    (CAST(n AS DOUBLE) * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000000000.0) AS var
  FROM per_dim
)
SELECT CAST(max(n) AS BIGINT) AS n_vecs,
       CAST(count(*) AS BIGINT) AS n_dims,
       CAST(sum(au) AS DOUBLE) / 1000000000.0 AS anisotropy,
       CAST(sum(vu) AS DOUBLE) / 1000000000.0 AS total_variance,
       CAST(count(*) FILTER (WHERE var < 1e-6) AS BIGINT) AS n_dead_dims,
       min(var) AS min_dim_var,
       max(var) AS max_dim_var
FROM terms
"""




def qo4_ks_split_check(spark, sf_dir):
    """Split-parity validation: exact two-sample Kolmogorov-Smirnov
    statistic on n_chars between the q68 hash-split's train and test
    halves (operators/stats.py ks_two_sample) — the binless classical
    test PSI's fixed bins can miss. Integer to the last step: cumulative
    counts over the distinct-value frame, CDF gaps on the common
    n_a·n_b denominator, one final double division."""
    from alaska_etl_spark.operators.splits import hash_split
    from alaska_etl_spark.operators.stats import ks_two_sample

    d = hash_split(
        _t(spark, sf_dir, "documents"), "doc_id",
        weights={"train": 0.8, "test": 0.2}, seed=7,
    )
    return ks_two_sample(d, "split", "train", "test", "n_chars")


def _qo4_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_split_sql

    split = hash_split_sql("doc_id", weights={"train": 0.8, "test": 0.2}, seed=7)
    return f"""
WITH s AS MATERIALIZED (
  SELECT n_chars, ({split}) = 'train' AS a
  FROM documents WHERE n_chars IS NOT NULL
), counts AS (
  SELECT CAST(round(n_chars * 1) AS BIGINT) AS v,
         CAST(count(*) FILTER (WHERE a) AS BIGINT) AS ca,
         CAST(count(*) FILTER (WHERE NOT a) AS BIGINT) AS cb
  FROM s GROUP BY 1
), tot AS (
  SELECT CAST(count(*) FILTER (WHERE a) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE NOT a) AS BIGINT) AS n_b
  FROM s
), cum AS (
  SELECT CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS CA,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS CB
  FROM counts
)
SELECT n_a, n_b,
       CAST(max(abs(CA * n_b - CB * n_a)) AS BIGINT) AS ks_num,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN CAST(max(abs(CA * n_b - CB * n_a)) AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE)
       END AS ks
FROM cum, tot GROUP BY n_a, n_b
"""


QO4_SQL = _qo4_sql()


def qo5_token_waterfill(spark, sf_dir):
    """Water-filling token-budget allocation across sources
    (operators/splits.py token_waterfill): per-source token counts
    from one corpus aggregate, budget = ⌊3·total/5⌋; sources under the
    water level keep everything, the rest cap at a common integer
    level with deterministic remainder slots — the integer-exact core
    of cap-style rebalancing, summing to the budget EXACTLY. Window
    passes run over the source-grain frame only."""
    from alaska_etl_spark.operators.dedup import word_tokens
    from alaska_etl_spark.operators.splits import token_waterfill

    counts = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(word_tokens("text"))).cast("bigint").alias("n_tokens"))
    )
    return token_waterfill(
        counts, "source", "n_tokens", budget_num=3, budget_den=5
    )


QO5_SQL = r"""
WITH counts AS MATERIALIZED (
  SELECT source AS s,
         CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> ''))) AS BIGINT) AS c
  FROM documents GROUP BY source
), ranked AS (
  SELECT s, c,
         CAST(row_number() OVER (ORDER BY c, s) AS BIGINT) AS i,
         CAST(sum(c) OVER (ORDER BY c, s) AS BIGINT) AS P,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST((3 * sum(c) OVER ()) // 5 AS BIGINT) AS budget
  FROM counts
), staged AS (
  SELECT *,
         max(CASE WHEN P + (n - i) * c <= budget THEN i END) OVER () AS k
  FROM ranked
), staged2 AS (
  SELECT *,
         CAST(coalesce(max(CASE WHEN i = k THEN P END) OVER (), 0) AS BIGINT) AS Pk
  FROM staged
)
SELECT s AS source,
       c AS tokens_available,
       CAST(CASE WHEN i <= coalesce(k, 0) THEN c
            ELSE least(c, (budget - Pk) // (n - coalesce(k, 0))
                          + CASE WHEN i - coalesce(k, 0)
                                      <= (budget - Pk) % (n - coalesce(k, 0))
                                 THEN 1 ELSE 0 END)
       END AS BIGINT) AS tokens_allocated,
       i > coalesce(k, 0) AS capped
FROM staged2 ORDER BY source
"""




def qo6_attribution(spark, sf_dir):
    """Attribution CREDIT-SHARE rollup (operators/sessions.py
    last_touch_attribution) — the aggregated sibling of qd3's
    per-purchase as-of attribution: same last-touch rule, but with an
    explicit validity window (7 days; stale touches fall into a
    '(none)' bucket qd3's inner as-of join drops), signup as a third
    channel, and the report a campaign dashboard actually shows
    (credit counts + half-up 4dp shares per channel). Physically the
    OTHER strategy for the same semantics: one per-user window over
    the unified stream (ordered (ts, event_id) — engine-deterministic
    ties) instead of qd3's reduce-then-as-of join — the shared-sort
    form wins when conversions are dense per user, the as-of join when
    touches dwarf conversions."""
    from alaska_etl_spark.operators.sessions import last_touch_attribution

    return last_touch_attribution(
        _t(spark, sf_dir, "events"),
        conversion_type="purchase",
        touch_types=["view", "click", "signup"],
        window_days=7,
    )


QO6_SQL = """
WITH tagged AS (
  SELECT event_type, ts,
         last_value(CASE WHEN event_type IN ('view','click','signup') THEN ts END IGNORE NULLS)
           OVER w AS tts,
         last_value(CASE WHEN event_type IN ('view','click','signup') THEN event_type END IGNORE NULLS)
           OVER w AS tty
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conv AS (
  SELECT CASE WHEN tts IS NOT NULL AND tts >= ts - INTERVAL 7 DAY
              THEN tty ELSE '(none)' END AS touch_type
  FROM tagged WHERE event_type = 'purchase'
), per AS (
  SELECT touch_type, CAST(count(*) AS BIGINT) AS n_conversions FROM conv GROUP BY 1
)
SELECT touch_type, n_conversions,
       CAST((2 * 10000 * n_conversions + sum(n_conversions) OVER ())
            // (2 * sum(n_conversions) OVER ()) AS BIGINT) AS share_bp
FROM per ORDER BY touch_type
"""


def qp0_edit_distance_join(spark, sf_dir):
    """Exact edit-distance similarity join (operators/simjoin.py
    edit_distance_join, X150): all part-name pairs within Levenshtein
    distance 1, via Ed-Join positional q-gram prefix filtering (the
    d·q+1 rarest grams per string propose; native banded levenshtein
    verifies) — the typo/variant-spelling reconciliation the
    set-similarity joins cannot see (one character edit barely moves
    shingle Jaccard). The DuckDB oracle is the BRUTE-FORCE join
    (length-filtered full-DP levenshtein), so the driver compare
    re-proves candidate completeness on every run. Keyed subset
    (p_partkey % 10 = 0) keeps the quadratic oracle cheap at sf0.1;
    the Spark side is the one that scales past it."""
    from alaska_etl_spark.operators.simjoin import edit_distance_join

    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select("p_partkey", "p_name")
    )
    return edit_distance_join(parts, "p_partkey", "p_name", q=2, max_dist=1).orderBy(
        "id_a", "id_b"
    )


QP0_SQL = """
WITH p AS (
  SELECT p_partkey, p_name FROM part WHERE p_partkey % 10 = 0
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 1
WHERE levenshtein(a.p_name, b.p_name) <= 1
ORDER BY id_a, id_b
"""


def qp1_index_forecast(spark, sf_dir):
    """EXACT inverted-index build forecast (operators/skew.py
    index_build_forecast, X151): before building any posting-list
    structure (BM25, prefix-filtered simjoins, LSH banding), one
    gram-grain aggregate reports index size (vocab, Σdf), the hot-list
    (max df), the prunable singleton mass, and the EXACT unfiltered
    gram-collision candidate count Σ df·(df−1)/2 with its hottest
    gram's share — the planner-audit number the SCALE.md simjoin cost
    models argue from, as a queryable operator. Decimal(38,0)/HUGEINT
    intermediates keep the documented < 2⁶³ output envelope."""
    from alaska_etl_spark.operators.skew import index_build_forecast

    return index_build_forecast(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3
    )


QP1_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         )) AS s
  FROM toks WHERE len(tk) > 0
), t AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), dfreq AS (
  SELECT g, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1
), gs AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(sum(df) AS BIGINT) AS n_postings,
         CAST(max(df) AS BIGINT) AS max_df,
         CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_grams,
         CAST(sum(CAST(df AS HUGEINT) * (df - 1) // 2) AS BIGINT) AS candidate_pairs,
         CAST(max(CAST(df AS HUGEINT) * (df - 1) // 2) AS BIGINT) AS max_pairs
  FROM dfreq
)
SELECT (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM t) AS n_docs,
       vocab_size, n_postings, max_df, singleton_grams, candidate_pairs,
       CAST((2 * 10000 * CAST(coalesce(max_pairs, 0) AS HUGEINT)
             + nullif(candidate_pairs, 0))
            // (2 * CAST(nullif(candidate_pairs, 0) AS HUGEINT)) AS BIGINT)
         AS top_gram_share_bp
FROM gs
"""


def qp2_boilerplate_grams(spark, sf_dir):
    """Boilerplate stop-gram audit per source (operators/text.py
    boilerplate_grams, X152): trigrams present in ≥5% of a source's
    documents are template text, not content — the per-SOURCE
    complement of the per-document repetition signals. Integer
    cross-multiplied threshold (no division), posting-mass share in
    round-half-up bp, deterministic top gram (max df, lexicographic
    tie-break)."""
    from alaska_etl_spark.operators.text import boilerplate_grams

    return boilerplate_grams(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source",
        n=3, min_share_bp=500,
    )


QP2_SQL = r"""
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT source, doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         )) AS s
  FROM toks WHERE len(tk) > 0
), t AS (
  SELECT source, doc_id, unnest(s) AS g FROM sh
), gram AS (
  SELECT source, g, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1, 2
), nd AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM t GROUP BY 1
), ranked AS (
  SELECT gram.source, g, df, n_docs,
         row_number() OVER (PARTITION BY gram.source ORDER BY df DESC, g ASC) AS rk
  FROM gram JOIN nd ON gram.source = nd.source
)
SELECT source,
       CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN df * 10000 >= 500 * n_docs THEN 1 ELSE 0 END) AS BIGINT)
         AS boiler_grams,
       CAST((2 * 10000 * sum(CASE WHEN df * 10000 >= 500 * n_docs THEN df ELSE 0 END)
             + nullif(sum(df), 0)) // (2 * nullif(sum(df), 0)) AS BIGINT)
         AS boiler_posting_bp,
       max(CASE WHEN rk = 1 THEN g END) AS top_gram,
       CAST(max(CASE WHEN rk = 1 THEN df END) AS BIGINT) AS top_gram_df
FROM ranked GROUP BY source ORDER BY source
"""


def qp3_norm_dedup(spark, sf_dir):
    """Normalization-gain dedup report (operators/dedup.py
    normalized_dedup_report, X153): raw-exact vs
    normalization-fingerprint (lowercase, digit-mask, punctuation
    strip, whitespace collapse — the Dolma/RefinedWeb "fuzzy-exact"
    key) duplication per source. The input models a re-crawl merge:
    the documents table unioned with a cased+punctuated variant of
    itself (id offset 10⁶), so the gain the fingerprint buys over raw
    exact matching is real and exactly known — both engines build the
    identical union."""
    from alaska_etl_spark.operators.dedup import normalized_dedup_report

    d = _t(spark, sf_dir, "documents")
    recrawl = d.select(
        (F.col("doc_id") + F.lit(10**6)).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(".")).alias("text"),
        "source",
    )
    both = d.select("doc_id", "text", "source").unionByName(recrawl)
    return normalized_dedup_report(both, "doc_id", "text", "source")


QP3_SQL = r"""
WITH merged AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '.', source FROM documents
), f AS (
  SELECT source, text,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
           '[0-9]+', '0', 'g'), '[^a-z0 ]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
  FROM merged
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT text) AS BIGINT) AS n_exact_distinct,
         CAST(count(DISTINCT norm) AS BIGINT) AS n_norm_distinct
  FROM f GROUP BY 1
)
SELECT source, n_docs, n_exact_distinct, n_norm_distinct,
       n_docs - n_exact_distinct AS exact_dupes,
       n_docs - n_norm_distinct AS norm_dupes,
       n_exact_distinct - n_norm_distinct AS norm_gain,
       CAST((2 * 10000 * (n_docs - n_norm_distinct) + nullif(n_docs, 0))
            // (2 * nullif(n_docs, 0)) AS BIGINT) AS norm_savings_bp
FROM agg ORDER BY source
"""


def qp4_containment_spans(spark, sf_dir):
    """Excerpt localization (operators/simjoin.py containment_spans,
    X154): for every directed containment pair (the q36 quote/excerpt
    detector at τ=3/4), the 1-based first/last shared-shingle
    positions on both sides — detection says "src is quoted in dst",
    this says WHERE, which is what provenance review and surgical
    span-level decontamination act on. The oracle replays the full
    containment join AND the position arithmetic from the same
    generate+zip construction."""
    from alaska_etl_spark.operators.simjoin import containment_spans

    return containment_spans(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold_num=3, threshold_den=4,
    )


QP4_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sq AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         ) AS s
  FROM toks WHERE len(tk) > 0
), pos AS (
  SELECT doc_id, g, CAST(min(i) AS BIGINT) AS pos
  FROM (SELECT doc_id, unnest(s) AS g,
               unnest(generate_series(1, len(s))) AS i FROM sq)
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pos GROUP BY 1
), inter AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, CAST(count(*) AS BIGINT) AS np,
         CAST(min(a.pos) AS BIGINT) AS src_first,
         CAST(max(a.pos) AS BIGINT) AS src_last,
         CAST(min(b.pos) AS BIGINT) AS dst_first,
         CAST(max(b.pos) AS BIGINT) AS dst_last
  FROM pos a JOIN pos b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src_id, dst_id, np AS n_shared,
       src_first, src_last, dst_first, dst_last
FROM inter JOIN sz ON src_id = sz.doc_id
WHERE 4 * np >= 3 * n
ORDER BY src_id, dst_id
"""


def qp5_source_overlap(spark, sf_dir):
    """Pairwise exact content-overlap matrix between sources
    (operators/dedup.py source_overlap_matrix, X155): distinct
    normalized fingerprints shared per ordered source pair + the
    directional coverage share — the dataset-card "which crawls carry
    the same documents" view that the distributional JS divergence
    (X63) cannot see. Input models a re-crawl merge: documents
    unioned with a cased+punctuated variant under ``source || '_rc'``
    — raw exact matching finds zero overlap, the normalization
    fingerprint finds exactly each source's full content in its
    re-crawl twin."""
    from alaska_etl_spark.operators.dedup import source_overlap_matrix

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    recrawl = d.select(
        (F.col("doc_id") + F.lit(10**6)).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(".")).alias("text"),
        F.concat(F.col("source"), F.lit("_rc")).alias("source"),
    )
    return source_overlap_matrix(
        d.unionByName(recrawl), "doc_id", "text", "source"
    )


QP5_SQL = r"""
WITH merged AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '.', source || '_rc' FROM documents
), fp AS (
  SELECT DISTINCT source,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
           '[0-9]+', '0', 'g'), '[^a-z0 ]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
  FROM merged
), nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_distinct FROM fp GROUP BY 1
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b ON a.norm = b.norm AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, nd.n_distinct AS n_distinct_a, n_shared,
       CAST((2 * 10000 * n_shared + nullif(nd.n_distinct, 0))
            // (2 * nullif(nd.n_distinct, 0)) AS BIGINT) AS coverage_bp
FROM shared JOIN nd ON shared.source_a = nd.source
ORDER BY source_a, source_b
"""


def qp6_rfm_segments(spark, sf_dir):
    """RFM (recency/frequency/monetary) segmentation of the event
    stream (operators/sessions.py rfm_segments, X156): per user, days
    since last event vs the corpus high-watermark, event count, and
    value total in exact cent units; each dimension quintile-bucketed
    by the range-exchange global ntile with the user-id tiebreak, then
    reduced to segment-grain counts — the behavioral heatmap next to
    the q34 sessionization and qc3 cohort retention views."""
    from alaska_etl_spark.operators.sessions import rfm_segments

    return rfm_segments(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value", buckets=5
    )


QP6_SQL = r"""
WITH per_user AS (
  SELECT user_id AS u, max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mon
  FROM events GROUP BY 1
), hwm AS (
  SELECT max(ts) AS hwm FROM events
), dims AS (
  SELECT u, (epoch_us(hwm) - epoch_us(last_ts)) // 86400000000 AS rec_days,
         freq, mon
  FROM per_user CROSS JOIN hwm
), bucketed AS (
  SELECT u, freq, mon,
         ntile(5) OVER (ORDER BY rec_days ASC, u ASC) AS r_bucket,
         ntile(5) OVER (ORDER BY -freq ASC, u ASC) AS f_bucket,
         ntile(5) OVER (ORDER BY -mon ASC, u ASC) AS m_bucket
  FROM dims
)
SELECT r_bucket, f_bucket, m_bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(freq) AS BIGINT) AS total_events,
       CAST(sum(mon) AS BIGINT) AS total_value_units
FROM bucketed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def qp7_effect_sizes(spark, sf_dir):
    """Pearson chi-squared + Cramér's V between categorical column
    pairs (operators/stats.py contingency_effect_sizes, X158) — the
    [0,1]-normalized effect size next to qn4's mutual information
    (nats): the same pairs rank on one axis regardless of level
    counts. Per-cell terms keep the exact-BIGINT difference
    n·n_xy − n_x·n_y and one pinned double parenthesization, rounded
    to 1e-8 units (the MI float protocol), so chi2 and V hash-match
    cross-engine."""
    from alaska_etl_spark.operators.stats import contingency_effect_sizes

    outs = [
        contingency_effect_sizes(_t(spark, sf_dir, t), ps)
        for t, ps in _QN4_PAIRS.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("subject", "object")


def _qp7_sql() -> str:
    parts = []
    for t, ps in _QN4_PAIRS.items():
        for x, y in ps:
            parts.append(f"""
SELECT '{x}' AS subject, '{y}' AS object, n_rows, n_cells,
       n_levels_subject, n_levels_object, dof, chi2, cramers_v
FROM (
  WITH cells AS MATERIALIZED (
    SELECT coalesce(CAST({x} AS VARCHAR), chr(0) || 'null') AS xv,
           coalesce(CAST({y} AS VARCHAR), chr(0) || 'null') AS yv,
           CAST(count(*) AS BIGINT) AS nxy
    FROM {t} GROUP BY 1, 2
  ), mx AS (SELECT xv, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY xv
  ), my AS (SELECT yv, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY yv
  ), tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n,
                    CAST(count(*) AS BIGINT) AS n_cells FROM cells
  ), lv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM mx) AS rx,
                   (SELECT CAST(count(*) AS BIGINT) FROM my) AS ry
  ), chi AS (
    SELECT CAST(sum(CAST(round(100000000 * (
             (CAST(n * nxy - nx * ny AS DOUBLE) / nx)
             * (CAST(n * nxy - nx * ny AS DOUBLE) / ny) / n
             - CAST(nx * ny AS DOUBLE) / n
           )) AS BIGINT)) AS BIGINT)
           + (SELECT n FROM tot) * 100000000 AS u
    FROM cells JOIN mx USING (xv) JOIN my USING (yv), tot
  )
  SELECT tot.n AS n_rows, tot.n_cells, lv.rx AS n_levels_subject,
         lv.ry AS n_levels_object,
         CAST((lv.rx - 1) * (lv.ry - 1) AS BIGINT) AS dof,
         CAST(chi.u AS DOUBLE) / 100000000.0 AS chi2,
         CASE WHEN least(lv.rx - 1, lv.ry - 1) > 0 THEN
           sqrt((CAST(chi.u AS DOUBLE) / 100000000.0)
                / CAST(tot.n * least(lv.rx - 1, lv.ry - 1) AS DOUBLE))
         END AS cramers_v
  FROM tot, lv, chi
)""")
    return " UNION ALL ".join(parts) + " ORDER BY subject, object"


QP7_SQL = _qp7_sql()


def qp8_k_core(spark, sf_dir):
    """k-core peeling (operators/graph.py k_core, X157) over the qb6
    undirected customer⇄supplier trade graph: 6 fixed peel rounds at
    k=25 — the dense engaged kernel that survives once casual trade
    partners fall away. Fixed-iteration like qb6's PageRank, so the
    DuckDB twin (k_core_sql) replays the peel verbatim as an unrolled
    CTE chain whether or not round 6 was a fixpoint (peeling is
    monotone; converged runs show degree ≥ k on every row)."""
    from alaska_etl_spark.operators.graph import k_core

    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    trade = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = trade.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        trade.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return k_core(edges, 25, iters=6)


def _qp8_sql() -> str:
    from alaska_etl_spark.operators.graph import k_core_sql

    edges = (
        "SELECT c AS src, s AS dst FROM ("
        "SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey) "
        "UNION ALL "
        "SELECT s, c FROM ("
        "SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"
    )
    return k_core_sql(edges, 25, iters=6)


QP8_SQL = _mat(_qp8_sql(), "e0")


def qp9_layout_audit(spark, sf_dir):
    """File-skipping effectiveness audit (operators/layout.py
    layout_skipping_audit, X159): simulate writing lineitem as 64
    equal files under three candidate layouts — natural order
    (l_orderkey), Morton z-order on (l_partkey, l_suppkey), and
    clustered on the probe column itself — and replay a point-lookup
    workload (one query per distinct l_partkey) against each layout's
    per-file min-max index. Makes the X19 z-order claim a measured
    skip rate; the layout sibling of the qp1/qo1 planner audits."""
    from alaska_etl_spark.operators.layout import layout_skipping_audit, zorder_key

    li = _t(spark, sf_dir, "lineitem")
    return layout_skipping_audit(
        li,
        {
            "natural": F.col("l_orderkey").cast("bigint"),
            "zorder_part_supp": zorder_key(["l_partkey", "l_suppkey"], bits=16),
            "clustered_part": F.col("l_partkey").cast("bigint"),
        },
        "l_partkey",
        n_buckets=64,
    )


def _qp9_sql() -> str:
    from alaska_etl_spark.operators.layout import zorder_sql

    z = zorder_sql(["l_partkey", "l_suppkey"], bits=16)
    parts = []
    for label, order in [
        ("natural", "CAST(l_orderkey AS BIGINT)"),
        ("zorder_part_supp", z),
        ("clustered_part", "CAST(l_partkey AS BIGINT)"),
    ]:
        parts.append(f"""
SELECT '{label}' AS layout, CAST(64 AS BIGINT) AS n_buckets,
       nv AS n_probe_values, hits AS files_touched_total,
       CAST((2 * 100 * hits + nullif(nv, 0)) // (2 * nullif(nv, 0)) AS BIGINT)
         AS avg_files_x100,
       CAST((2 * 10000 * (64 * nv - hits) + nullif(64 * nv, 0))
            // (2 * nullif(64 * nv, 0)) AS BIGINT) AS skip_bp
FROM (
  WITH bucketed AS (
    SELECT ntile(64) OVER (ORDER BY ({order}) ASC, l_partkey ASC) AS b,
           l_partkey AS p
    FROM lineitem
  ), franges AS MATERIALIZED (
    SELECT b, min(p) AS lo, max(p) AS hi FROM bucketed GROUP BY b
  ), probes AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL
  )
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM probes) AS nv,
         (SELECT CAST(count(*) AS BIGINT)
          FROM probes JOIN franges ON v >= lo AND v <= hi) AS hits
)""")
    return " UNION ALL ".join(parts) + " ORDER BY layout"


QP9_SQL = _qp9_sql()


def qq1_linkage_weights(spark, sf_dir):
    """Fellegi-Sunter match/unmatch weights (operators/linkage.py,
    X161) calibrated on a labeled re-crawl corpus: true matches = each
    document vs its cased+punctuated twin; negatives = each document
    vs the NEXT document's twin (round-robin sources, so source/lang
    mostly disagree). Agreement fields: source, lang, and the
    length-div-100 bucket. Laplace-smoothed exact-integer m/u, PMI
    fixed-point log₂ weights — the calibration table a linkage scorer
    sums per candidate pair."""
    from alaska_etl_spark.operators.linkage import fellegi_sunter_weights

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    twin = d.select(
        (F.col("doc_id") + F.lit(10**6)).alias("t_id"),
        F.concat(F.upper("text"), F.lit(".")).alias("t_text"),
        F.col("source").alias("t_source"),
        F.col("lang").alias("t_lang"),
    )
    matches = d.join(
        twin, F.col("doc_id") + F.lit(10**6) == F.col("t_id")
    ).withColumn("is_match", F.lit(True))
    negatives = d.join(
        twin, F.col("doc_id") + F.lit(10**6) + 1 == F.col("t_id")
    ).withColumn("is_match", F.lit(False))
    pairs = matches.unionByName(negatives).select(
        "is_match",
        (F.col("source") == F.col("t_source")).alias("agree_source"),
        (F.col("lang") == F.col("t_lang")).alias("agree_lang"),
        (
            F.expr("length(text) div 100") == F.expr("length(t_text) div 100")
        ).alias("agree_len_bucket"),
    )
    return fellegi_sunter_weights(
        pairs, "is_match", ["agree_source", "agree_lang", "agree_len_bucket"]
    )


QQ1_SQL = r"""
WITH twin AS (
  SELECT doc_id + 1000000 AS t_id, upper(text) || '.' AS t_text,
         source AS t_source, lang AS t_lang
  FROM documents
), pairs AS (
  SELECT TRUE AS is_match,
         d.source = t.t_source AS agree_source,
         d.lang = t.t_lang AS agree_lang,
         length(d.text) // 100 = length(t.t_text) // 100 AS agree_len_bucket
  FROM documents d JOIN twin t ON d.doc_id + 1000000 = t.t_id
  UNION ALL
  SELECT FALSE,
         d.source = t.t_source,
         d.lang = t.t_lang,
         length(d.text) // 100 = length(t.t_text) // 100
  FROM documents d JOIN twin t ON d.doc_id + 1000000 + 1 = t.t_id
), tagged AS (
  SELECT 'agree_source' AS f, coalesce(agree_source, FALSE) AS a, is_match AS m FROM pairs
  UNION ALL
  SELECT 'agree_lang', coalesce(agree_lang, FALSE), is_match FROM pairs
  UNION ALL
  SELECT 'agree_len_bucket', coalesce(agree_len_bucket, FALSE), is_match FROM pairs
), counts AS (
  SELECT f AS field,
         CAST(count(*) FILTER (WHERE m) AS BIGINT) AS n_match,
         CAST(count(*) FILTER (WHERE NOT m) AS BIGINT) AS n_nonmatch,
         CAST(count(*) FILTER (WHERE m AND a) AS BIGINT) AS n_agree_match,
         CAST(count(*) FILTER (WHERE NOT m AND a) AS BIGINT) AS n_agree_nonmatch
  FROM tagged GROUP BY 1
)
SELECT field, n_match, n_nonmatch, n_agree_match, n_agree_nonmatch,
       CAST((2 * 10000 * (n_agree_match + 1) + (n_match + 2))
            // (2 * (n_match + 2)) AS BIGINT) AS m_bp,
       CAST((2 * 10000 * (n_agree_nonmatch + 1) + (n_nonmatch + 2))
            // (2 * (n_nonmatch + 2)) AS BIGINT) AS u_bp,
       CAST(round(100000000 * ((((ln(n_agree_match + 1) - ln(n_match + 2))
            - ln(n_agree_nonmatch + 1)) + ln(n_nonmatch + 2)) / ln(2)))
            AS BIGINT) AS w_agree_units,
       CAST(round(100000000 * ((((ln(n_match + 2 - n_agree_match - 1)
            - ln(n_match + 2)) - ln(n_nonmatch + 2 - n_agree_nonmatch - 1))
            + ln(n_nonmatch + 2)) / ln(2))) AS BIGINT) AS w_disagree_units
FROM counts ORDER BY field
"""


def qq5_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson-bootstrap 95% CI for the mean event value
    (operators/stats.py poisson_bootstrap_ci, X162): per-row resample
    weights come from a hash-seeded uniform inverted through Poisson(1)
    CDF literals — the at-scale bootstrap (per-row Poisson weights,
    b independent resamples in one ×b explode) with NO RNG anywhere,
    so both engines draw identical resamples and the CI is an exact
    artifact of (data, b). md5 hash lane (the q29/q30 stance) so DuckDB
    replays every draw bit-for-bit; b=100, cents units, ceil-index
    order statistics."""
    from alaska_etl_spark.operators.stats import poisson_bootstrap_ci

    return poisson_bootstrap_ci(
        _t(spark, sf_dir, "events"), "event_id", "value",
        b=100, hash_fn="md5",
    )


def _qq5_sql() -> str:
    from alaska_etl_spark.operators.stats import _POISSON1_CDF

    h60 = _dk_h60("event_id || '_' || r")
    ladder = "CASE "
    for k, c in enumerate(_POISSON1_CDF):
        ladder += f"WHEN u < {c} THEN {k} "
    ladder += "ELSE 9 END"
    return f"""
WITH drawn AS (
  SELECT r, {ladder} AS w, v
  FROM (
    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
           unnest(generate_series(0, 99)) AS r
    FROM events WHERE value IS NOT NULL
  ), LATERAL (SELECT ({h60}) / 1152921504606846976.0 AS u) uu
), means AS (
  SELECT r, CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS m
  FROM drawn GROUP BY r
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m ASC, r ASC) AS rk FROM means
), base AS (
  SELECT CAST(count(value) AS BIGINT) AS n_rows,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS BIGINT) AS sv
  FROM events
)
SELECT n_rows,
       CAST(sv AS DOUBLE) / n_rows AS mean_units,
       (SELECT m FROM ranked WHERE rk = 3) AS ci_lo_mean_units,
       (SELECT m FROM ranked WHERE rk = 98) AS ci_hi_mean_units,
       CAST(100 AS BIGINT) AS b
FROM base
"""


QQ5_SQL = _qq5_sql()


def qq6_eta_squared(spark, sf_dir):
    """One-way ANOVA effect size η² (operators/stats.py eta_squared,
    X162): how much of lineitem's price variance the return flag
    explains — the num~cat axis of the association triptych next to
    corr_matrix (num~num) and MI / Cramér's V (cat~cat). Centered
    integer arithmetic (see the operator docstring: raw-form quotients
    overflow the 2⁶³ div), order-free decimal unit sums, η² as one
    double division."""
    from alaska_etl_spark.operators.stats import eta_squared

    return eta_squared(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


QQ6_SQL = r"""
WITH raw AS (
  SELECT coalesce(CAST(l_returnflag AS VARCHAR), chr(0) || 'null') AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), m AS (
  SELECT CAST(sum(v) // count(*) AS BIGINT) AS m FROM raw
), base AS (
  SELECT g, CAST(v - m AS BIGINT) AS d FROM raw, m
), per_g AS (
  SELECT g, CAST(sum(d) AS BIGINT) AS dg, CAST(count(*) AS BIGINT) AS ng
  FROM base GROUP BY 1
), terms AS (
  SELECT CAST(sum((CAST(dg AS HUGEINT) * dg) // ng) AS BIGINT) AS braw,
         CAST(count(*) AS BIGINT) AS n_groups
  FROM per_g
), tot AS (
  SELECT CAST(sum(d) AS BIGINT) AS sd, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
  FROM base
)
SELECT n_rows, n_groups,
       CAST(braw - (CAST(sd AS HUGEINT) * sd) // n_rows AS DOUBLE)
         AS ss_between_units,
       CAST(sdd - (CAST(sd AS HUGEINT) * sd) // n_rows AS DOUBLE)
         AS ss_total_units,
       CASE WHEN sdd - (CAST(sd AS HUGEINT) * sd) // n_rows <> 0
            THEN CAST(braw - (CAST(sd AS HUGEINT) * sd) // n_rows AS DOUBLE)
                 / CAST(sdd - (CAST(sd AS HUGEINT) * sd) // n_rows AS DOUBLE)
       END AS eta_sq
FROM tot, terms
"""


def qq7_split_conformal(spark, sf_dir):
    """Split-conformal prediction interval for event values predicted
    by the per-type mean (operators/stats.py split_conformal, X163):
    deterministic hash split (train/calib/eval), q̂ = the
    ⌈(n_c+1)(1−α)⌉-th smallest calibration residual read off a
    value-count table, empirical coverage measured on the eval split —
    distribution-free uncertainty with the finite-sample guarantee
    checked, not asserted. All exact integers; α = 10%."""
    from alaska_etl_spark.operators.stats import split_conformal

    return split_conformal(
        _t(spark, sf_dir, "events"), "event_id", "event_type", "value",
        alpha_bp=1000,
    )


def _qq7_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_split_sql

    split = hash_split_sql(
        "event_id", weights={"train": 0.5, "calib": 0.25, "eval": 0.25}
    )
    return f"""
WITH base AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), chr(0) || 'null') AS g,
         CAST(round(value * 100) AS BIGINT) AS v,
         {split} AS sp
  FROM events WHERE value IS NOT NULL
), pred AS (
  SELECT g, CAST((2 * sum(v) + count(*)) // (2 * count(*)) AS BIGINT) AS p
  FROM base WHERE sp = 'train' GROUP BY 1
), scored AS (
  SELECT sp, abs(v - p) AS r
  FROM base JOIN pred USING (g) WHERE sp <> 'train'
), nc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_calib FROM scored WHERE sp = 'calib'
), qh AS (
  SELECT CAST(min(r) AS BIGINT) AS q_hat_units
  FROM (
    SELECT r, sum(c) OVER (ORDER BY r) AS cum,
           least(((n_calib + 1) * 9000 + 9999) // 10000, n_calib) AS idx
    FROM (SELECT r, CAST(count(*) AS BIGINT) AS c
          FROM scored WHERE sp = 'calib' GROUP BY r), nc
  ) WHERE cum >= idx
), ev AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(count(*) FILTER (WHERE r <= q_hat_units) AS BIGINT) AS n_covered
  FROM scored, qh WHERE sp = 'eval'
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM base WHERE sp = 'train') AS n_train,
       nc.n_calib, ev.n_eval, CAST(1000 AS BIGINT) AS alpha_bp,
       qh.q_hat_units, ev.n_covered,
       CAST((2 * 10000 * ev.n_covered + nullif(ev.n_eval, 0))
            // (2 * nullif(ev.n_eval, 0)) AS BIGINT) AS coverage_bp
FROM nc, qh, ev
"""


QQ7_SQL = _qq7_sql()


def qq8_mase_report(spark, sf_dir):
    """MASE forecast-accuracy scoring (operators/timeseries.py
    mase_report, X164): per user, score the expanding-mean persistence
    forecast (cumulative half-up mean of PRIOR values — the exact-
    integer baseline every forecasting eval starts from) against the
    lag-1 naive scale. MASE < 1 beats "predict the previous value";
    scale-free, defined on zero-crossing series where MAPE is not.
    Keyed to the 10 busiest users so the per-series frame is dense;
    (ts, event_id) is the total order both engines share."""
    from alaska_etl_spark.operators.timeseries import mase_report

    ev = _t(spark, sf_dir, "events")
    busy = (
        ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id")
        .limit(10).select("user_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    scored = (
        ev.join(busy, "user_id")
        .withColumn("_vu", F.round(F.col("value") * 100).cast("bigint"))
        .withColumn("_cs", F.sum("_vu").over(wp).cast("bigint"))
        .withColumn("_cn", F.count("_vu").over(wp).cast("bigint"))
        .withColumn(
            "forecast",
            F.expr("(2 * _cs + _cn) div (2 * _cn)").cast("double") / 100.0,
        )
        .filter(F.col("forecast").isNotNull())
    )
    return mase_report(
        scored, "user_id", "ts", "value", "forecast",
        order_cols=["ts", "event_id"],
    )


QQ8_SQL = r"""
WITH busy AS (
  SELECT user_id FROM events GROUP BY 1
  ORDER BY count(*) DESC, user_id ASC LIMIT 10
), base AS (
  SELECT e.user_id, e.ts, e.event_id,
         CAST(round(e.value * 100) AS BIGINT) AS vu
  FROM events e JOIN busy USING (user_id)
), fc AS (
  SELECT user_id, ts, event_id, vu,
         sum(vu) OVER w AS cs, count(vu) OVER w AS cn
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT user_id, ts, event_id, vu,
         CAST(round((CAST((2 * cs + cn) // (2 * cn) AS DOUBLE) / 100.0)
              * 100) AS BIGINT) AS fu
  FROM fc WHERE cn > 0
), rows_ AS (
  SELECT user_id, vu, fu,
         lag(vu) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
  FROM scored
), agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(abs(vu - fu)) AS BIGINT) AS sae_units,
         CAST(count(fu) AS BIGINT) AS n_err,
         CAST(coalesce(sum(abs(vu - pv)), 0) AS BIGINT) AS snae_units,
         CAST(count(pv) AS BIGINT) AS n_naive
  FROM rows_ GROUP BY 1
)
SELECT user_id, n_points, sae_units, snae_units,
       CASE WHEN snae_units > 0 AND n_err > 0
            THEN CAST(sae_units * n_naive AS DOUBLE)
                 / CAST(snae_units * n_err AS DOUBLE)
       END AS mase
FROM agg ORDER BY user_id
"""


def qq9_sequence_predictability(spark, sf_dir):
    """Markov-1 sequence predictability of the event stream
    (operators/sessions.py sequence_predictability, X165): H(next),
    H(next|current), and the information gain I = H(next) −
    H(next|current) from the same per-user transition pairs the qk2
    transition matrix estimates — the one-row process summary
    separating ritualized flows from memoryless browsing. Quantized
    ln-term discipline (1e-9 units), (ts, event_id) total order."""
    from alaska_etl_spark.operators.sessions import sequence_predictability

    return sequence_predictability(
        _t(spark, sf_dir, "events"), "user_id", ["ts", "event_id"],
        "event_type",
    )


QQ9_SQL = r"""
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
), pairs AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_sd
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
), src_m AS (SELECT src, CAST(sum(n_sd) AS BIGINT) AS n_s FROM pairs GROUP BY 1),
dst_m AS (SELECT dst, CAST(sum(n_sd) AS BIGINT) AS n_d FROM pairs GROUP BY 1),
tot AS (SELECT CAST(sum(n_sd) AS BIGINT) AS n FROM pairs),
states AS (
  SELECT CAST(count(*) AS BIGINT) AS n_states FROM (
    SELECT src AS s FROM pairs UNION SELECT dst FROM pairs)
), cond AS (
  SELECT CAST(sum(CAST(round(1000000000 * (CAST(n_sd AS DOUBLE) / n)
           * (ln(n_s) - ln(n_sd))) AS BIGINT)) AS BIGINT) AS h_cond_units
  FROM pairs JOIN src_m USING (src), tot
), hnext AS (
  SELECT CAST(sum(CAST(round(1000000000 * (CAST(n_d AS DOUBLE) / n)
           * (ln(n) - ln(n_d))) AS BIGINT)) AS BIGINT) AS h_next_units
  FROM dst_m, tot
)
SELECT tot.n AS n_transitions, states.n_states,
       hnext.h_next_units, cond.h_cond_units,
       CAST(hnext.h_next_units - cond.h_cond_units AS BIGINT)
         AS info_gain_units
FROM tot, states, hnext, cond
"""


def _messy_url() -> "F.Column":
    """Deterministic messy-URL column over documents (both engines
    build the identical corpus — the fixture-less-domain pattern, qq1
    stance): 40 underlying resources (u = doc_id % 40 → subdomain,
    site{u%7}.com, /p/{u}, b={u%5}), wrapped in variant noise driven by
    v = doc_id div 40 — scheme/host case, a redundant :443, tracking
    params (utm_/fbclid), param order, #fragments, and (r11) the
    RFC 3986 §6.2.2 spellings: dot-segments (``/p/./u``,
    ``/x/../p/u``), duplicate slashes, percent-encoded unreserved
    octets in path (``%70`` = ``p``, ``%2E%2E`` = ``..``) and query
    (``%61=1`` = ``a=1``) — every one of which
    :func:`operators.urls.canonical_url` must collapse. Resource
    u = 39 is an IPv6-literal authority — canonical_url must route
    ALL its variants to NULL (the bad-row side), never emit a corrupt
    key."""
    u = F.col("doc_id") % 40
    v = F.expr("doc_id div 40")
    hostlc = F.concat(
        F.when(u % 3 == 0, F.lit("www."))
        .when(u % 3 == 1, F.lit("cdn."))
        .otherwise(F.lit("")),
        F.lit("site"),
        (u % 7).cast("string"),
        F.lit(".com"),
    )
    b = (u % 5).cast("string")
    pathpre = (
        F.when(v % 7 == 1, F.lit("/p/./"))
        .when(v % 7 == 2, F.lit("//p//"))
        .when(v % 7 == 3, F.lit("/x/../p/"))
        .when(v % 7 == 4, F.lit("/%70/"))
        .when(v % 7 == 5, F.lit("/%2E%2E/p/"))
        .otherwise(F.lit("/p/"))
    )
    aparam = F.when(v % 11 == 0, F.lit("%61=1")).otherwise(F.lit("a=1"))
    # r12 host-axis spellings: percent-encoded unreserved octet in the
    # host (%73 = 's') and the FQDN trailing root-label dot — both must
    # collapse to the plain lowercase host (canonical_url _norm_host)
    hostu = F.concat(
        F.when(v % 11 == 3, F.regexp_replace(hostlc, "site", "%73ite")).otherwise(
            hostlc
        ),
        F.when(v % 11 == 7, F.lit(".")).otherwise(F.lit("")),
    )
    normal = F.concat(
        F.when(v % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(v % 3 == 0, F.upper(hostu)).otherwise(hostu),
        F.when(v % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        pathpre,
        u.cast("string"),
        F.when(v % 2 == 0, F.concat(F.lit("?"), aparam, F.lit("&b="), b)).otherwise(
            F.concat(F.lit("?b="), b, F.lit("&"), aparam)
        ),
        F.when(v % 4 == 0, F.lit("&utm_campaign=x"))
        .when(v % 4 == 1, F.concat(F.lit("&fbclid=F"), F.col("doc_id").cast("string")))
        .otherwise(F.lit("")),
        F.when(v % 3 == 1, F.concat(F.lit("#s"), F.col("doc_id").cast("string")))
        .otherwise(F.lit("")),
    )
    return F.when(
        u == 39, F.concat(F.lit("https://[2001:db8::1]:8080/p/39?b="), b)
    ).otherwise(normal)


def _pct_sql(parts: str) -> str:
    """DuckDB twin of ``operators.urls._pct_normalize`` over a
    pre-split VARCHAR[] column (the URL text split on ``%``): piece 1
    verbatim; pieces opening with two hex digits decode when the octet
    is RFC 3986 unreserved, else keep ``%`` + UPPERCASED hex;
    malformed pieces keep their ``%`` verbatim."""
    p = f"{parts}[i]"
    return (
        f"array_to_string(list_transform(generate_series(1, len({parts})), i -> "
        f"CASE WHEN i = 1 THEN {p} "
        f"WHEN NOT regexp_matches({p}, '^[0-9A-Fa-f]{{2}}') THEN '%' || {p} "
        f"WHEN regexp_matches(upper(substring({p}, 1, 2)), "
        f"'^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)$') "
        f"THEN chr(CAST((strpos('0123456789ABCDEF', upper({p})[1]) - 1) * 16 "
        f"+ strpos('0123456789ABCDEF', upper({p})[2]) - 1 AS INTEGER)) "
        f"|| substring({p}, 3) "
        f"ELSE '%' || upper(substring({p}, 1, 2)) || substring({p}, 3) END), '')"
    )


def _fold_sql(col: str) -> str:
    """DuckDB twin of operators.urls._norm_path's string fold over a
    named column (list_reduce seeds from the prepended '' element; ''
    and '.' segments vanish, '..' pops, else append)."""
    return (
        f"list_reduce(list_prepend('', string_split({col}, '/')), (a, x) -> "
        "CASE WHEN x = '' OR x = '.' THEN a "
        "WHEN x = '..' THEN regexp_replace(a, '/[^/]*$', '') "
        "ELSE a || '/' || x END)"
    )


_FOLD_SQL = _fold_sql("npath")


# Shared oracle CTE: the identical messy-URL corpus plus the SQL twin
# of canonical_url (same regex literals, same pct/fold/filter/sort
# steps — operators/urls.py module docstring).
_URLS_SQL_CTE = r"""
WITH b_ AS (
  SELECT doc_id, source, doc_id % 40 AS u, doc_id // 40 AS v FROM documents
), parts_ AS (
  SELECT doc_id, source, u, v,
         (CASE WHEN u % 3 = 0 THEN 'www.' WHEN u % 3 = 1 THEN 'cdn.'
               ELSE '' END)
           || 'site' || CAST(u % 7 AS VARCHAR) || '.com' AS hostlc
  FROM b_
), hostu_ AS (
  SELECT doc_id, source, u, v,
         (CASE WHEN v % 11 = 3 THEN regexp_replace(hostlc, 'site', '%73ite')
               ELSE hostlc END)
           || (CASE WHEN v % 11 = 7 THEN '.' ELSE '' END) AS hostu
  FROM parts_
), urls AS (
  SELECT doc_id, source,
    CASE WHEN u = 39
         THEN 'https://[2001:db8::1]:8080/p/39?b=' || CAST(u % 5 AS VARCHAR)
    ELSE
    (CASE WHEN v % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://'
    || (CASE WHEN v % 3 = 0 THEN upper(hostu) ELSE hostu END)
    || (CASE WHEN v % 5 = 0 THEN ':443' ELSE '' END)
    || (CASE WHEN v % 7 = 1 THEN '/p/./' WHEN v % 7 = 2 THEN '//p//'
             WHEN v % 7 = 3 THEN '/x/../p/' WHEN v % 7 = 4 THEN '/%70/'
             WHEN v % 7 = 5 THEN '/%2E%2E/p/' ELSE '/p/' END)
    || CAST(u AS VARCHAR)
    || (CASE WHEN v % 2 = 0
             THEN '?' || (CASE WHEN v % 11 = 0 THEN '%61=1' ELSE 'a=1' END)
                  || '&b=' || CAST(u % 5 AS VARCHAR)
             ELSE '?b=' || CAST(u % 5 AS VARCHAR) || '&'
                  || (CASE WHEN v % 11 = 0 THEN '%61=1' ELSE 'a=1' END) END)
    || (CASE WHEN v % 4 = 0 THEN '&utm_campaign=x'
             WHEN v % 4 = 1 THEN '&fbclid=F' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
    || (CASE WHEN v % 3 = 1 THEN '#s' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
    END AS url
  FROM hostu_
), ext_ AS (
  SELECT doc_id, source, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         list_extract(string_split(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '@'), -1) AS auth,
         string_split(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '%') AS pp,
         string_split(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '%') AS pq
  FROM urls
), pct_ AS (
  SELECT doc_id, source, url, scheme, auth,
         string_split(auth, ':') AS hparts,
         string_split(list_extract(string_split(auth, ':'), 1), '%') AS ph,
         """ + _pct_sql("pp") + r""" AS npath,
         """ + _pct_sql("pq") + r""" AS nq
  FROM ext_
), canon AS (
  SELECT doc_id, source, url,
         CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
                   AND NOT contains(auth, '[')
              THEN scheme || '://' || host || portpart || path || qpart
         END AS canonical,
         host
  FROM (
    SELECT doc_id, source, url, auth, scheme,
           regexp_replace(lower(nhost), '\.+$', '') AS host,
           CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                     OR (scheme = 'https' AND port = '443')
                THEN '' ELSE ':' || port END AS portpart,
           CASE WHEN folded = '' THEN '/'
                ELSE folded || (CASE WHEN regexp_matches(npath,
                                       '/(\.\.?)?$')
                                THEN '/' ELSE '' END) END AS path,
           CASE WHEN len(keep) > 0
                THEN '?' || array_to_string(keep, '&') ELSE '' END AS qpart
    FROM (
      SELECT doc_id, source, url, auth, scheme, npath, hparts,
             CASE WHEN len(hparts) > 1 THEN hparts[2] ELSE '' END AS port,
             """ + _pct_sql("ph") + r""" AS nhost,
             """ + _FOLD_SQL + r""" AS folded,
             list_sort(list_filter(string_split(nq, '&'),
               p -> p <> '' AND substring(p, 1, 4) <> 'utm_'
                    AND (list_extract(string_split(p, '='), 1)
                         NOT IN ('gclid', 'fbclid', 'msclkid', 'igshid',
                                 'mc_eid')))) AS keep
      FROM pct_
    )
  )
)
"""


def qr3_url_canonical(spark, sf_dir):
    """URL canonicalization collapse report (operators/urls.py
    canonical_url, X166): per source, how many raw crawl URLs collapse
    into each canonical form once scheme/host case, default ports,
    tracking parameters, query order and fragments are normalized —
    the address-side dedup gain, measured the way qp3 measures the
    content-side one. collapse_bp = round-half-up 10⁴·(raw −
    canonical)/raw distinct URLs."""
    from alaska_etl_spark.operators.urls import canonical_url

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", _messy_url().alias("url")
    )
    agg = docs.select(
        "source", "url", canonical_url("url").alias("_cu")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.count_distinct("url").cast("bigint").alias("n_raw"),
        F.count_distinct("_cu").cast("bigint").alias("n_canon"),
    )
    return agg.select(
        "source",
        "n_pages",
        "n_raw",
        "n_canon",
        div_half_up("10000 * (n_raw - n_canon)", "n_raw").alias("collapse_bp"),
    ).orderBy("source")


QR3_SQL = _URLS_SQL_CTE + r"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_canon,
       CAST((2 * 10000 * (count(DISTINCT url) - count(DISTINCT canonical))
             + count(DISTINCT url)) // (2 * count(DISTINCT url)) AS BIGINT)
         AS collapse_bp
FROM canon GROUP BY 1 ORDER BY 1
"""


def qr4_domain_rollup(spark, sf_dir):
    """Registrable-domain rollup of the crawl frame (operators/urls.py
    domain_rollup, X167): per domain the page count, distinct canonical
    URLs, distinct hosts, and the duplicate share reclaimed by URL
    canonicalization — the domain-grain census a CommonCrawl-style
    ingest reads before deciding quotas and blocklists."""
    from alaska_etl_spark.operators.urls import domain_rollup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    return domain_rollup(docs, "url")


QR4_SQL = _URLS_SQL_CTE + r"""
SELECT CASE WHEN len(hl) >= 2
            THEN array_to_string(list_slice(hl, len(hl) - 1, len(hl)), '.')
            ELSE host END AS domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST((2 * 10000 * (count(*) - count(DISTINCT canonical)) + count(*))
            // (2 * count(*)) AS BIGINT) AS dup_bp
FROM (SELECT canonical, host, string_split(host, '.') AS hl
      FROM canon WHERE canonical IS NOT NULL)
GROUP BY 1 ORDER BY 1
"""


_BLOCK_RULES = [
    ("r1_site3", "site3.com"),
    ("r2_cdn4", "cdn.site4.com"),
    ("r3_dead", "example.net"),
]


def qr5_blocklist_audit(spark, sf_dir):
    """Blocklist-filter audit (operators/urls.py blocklist_audit,
    X168): per (rule, blocked-domain) the matched pages, distinct
    matched hosts and corpus share, plus the distinct-blocked total —
    host matching via the suffix-chain EQUI-join (a.b.c → [a.b.c, b.c,
    c]), never a theta join, so the same plan holds when the blocklist
    is 100k rules and the corpus is 100 TB. The rule set covers the
    three audit shapes: a registrable domain (all subdomains), one
    specific subdomain, and a dead rule that must emit its 0-row."""
    from alaska_etl_spark.operators.urls import blocklist_audit

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    rules = local_df(spark, _BLOCK_RULES, "rule string, domain string")
    return blocklist_audit(docs, "doc_id", "url", rules)


QR5_SQL = _URLS_SQL_CTE + r"""
, rules AS (
  SELECT * FROM (VALUES ('r1_site3', 'domain', 'site3.com'),
                        ('r2_cdn4', 'domain', 'cdn.site4.com'),
                        ('r3_dead', 'domain', 'example.net')) AS t(rule, kind, pattern)
), sfx AS (
  SELECT doc_id, host,
         unnest(list_transform(generate_series(1, len(hl)),
           i -> array_to_string(list_slice(hl, i, len(hl)), '.'))) AS s
  FROM (SELECT doc_id, host, string_split(host, '.') AS hl
        FROM canon WHERE canonical IS NOT NULL)
), m AS (
  SELECT r.rule, f.doc_id, f.host FROM rules r JOIN sfx f ON f.s = r.pattern
), agg AS (
  SELECT rule, CAST(count(DISTINCT doc_id) AS BIGINT) AS np,
         CAST(count(DISTINCT host) AS BIGINT) AS nh
  FROM m GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM canon WHERE canonical IS NOT NULL
)
SELECT rule, kind, pattern, n_pages, n_hosts,
       CAST((2 * 10000 * n_pages + nullif(n, 0))
            // (2 * nullif(n, 0)) AS BIGINT) AS share_bp
FROM (
  SELECT r.rule, r.kind, r.pattern,
         CAST(coalesce(a.np, 0) AS BIGINT) AS n_pages,
         CAST(coalesce(a.nh, 0) AS BIGINT) AS n_hosts
  FROM rules r LEFT JOIN agg a USING (rule)
  UNION ALL
  SELECT '_total', '', '',
         CAST(coalesce((SELECT count(DISTINCT doc_id) FROM m), 0) AS BIGINT),
         CAST(coalesce((SELECT count(DISTINCT host) FROM m), 0) AS BIGINT)
), tot
ORDER BY (rule <> '_total'), rule
"""


def qr6_longest_runs(spark, sf_dir):
    """Exact arbitrary-length longest shared verbatim token runs
    (operators/simjoin.py longest_shared_runs, X169): the
    exact-substring-dedup measurement (Lee et al. '22's suffix-array
    use case) as candidates + exact verify — rare-gram-blocked pairs
    (df ≤ 3), positional trigram matches per pair, diagonal
    gaps-and-islands, max island + n − 1 = the true maximal verbatim
    extent at ANY length. Pairs reported at ≥ 8 shared tokens with the
    longest run's 1-based start positions on both sides (surgical-cut
    offsets, the X154 stance)."""
    from alaska_etl_spark.operators.simjoin import longest_shared_runs

    return longest_shared_runs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, min_run_tokens=8, max_pair_df=3,
    )


QR6_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), tok AS (
  -- docs with < n tokens carry no gram (min_run >= n makes their
  -- runs unreportable; the whole-text-gram convention would inflate
  -- island arithmetic — r10 hypothesis catch)
  SELECT doc_id,
         unnest(generate_series(1, len(tk) - 2)) AS p,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS g
  FROM toks WHERE len(tk) >= 3
), dist AS (
  SELECT DISTINCT doc_id, g FROM tok
), rare AS (
  SELECT g FROM dist GROUP BY 1 HAVING count(*) BETWEEN 2 AND 3
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM dist a JOIN rare USING (g) JOIN dist b USING (g)
  WHERE a.doc_id < b.doc_id
), m AS (
  SELECT pr.id_a, pr.id_b, ta.p AS ps, tb.p - ta.p AS dg, tb.p AS pd
  FROM pairs pr
  JOIN tok ta ON ta.doc_id = pr.id_a
  JOIN tok tb ON tb.doc_id = pr.id_b AND tb.g = ta.g
), rn AS (
  SELECT id_a, id_b, dg, ps, pd,
         ps - row_number() OVER (PARTITION BY id_a, id_b, dg ORDER BY ps) AS k
  FROM m
), isl AS (
  SELECT id_a, id_b, dg, k,
         CAST(count(*) + 2 AS BIGINT) AS run,
         CAST(min(ps) AS BIGINT) AS s0,
         CAST(min(pd) AS BIGINT) AS d0
  FROM rn GROUP BY 1, 2, 3, 4
  HAVING count(*) + 2 >= 8
), best AS (
  SELECT id_a, id_b, run, s0, d0,
         row_number() OVER (PARTITION BY id_a, id_b
                            ORDER BY run DESC, s0 ASC, d0 ASC) AS rk
  FROM isl
)
SELECT id_a, id_b,
       CAST(max(run) AS BIGINT) AS longest_run_tokens,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(CASE WHEN rk = 1 THEN s0 END) AS BIGINT) AS src_start,
       CAST(max(CASE WHEN rk = 1 THEN d0 END) AS BIGINT) AS dst_start
FROM best GROUP BY 1, 2 ORDER BY 1, 2
"""


def qr7_domain_quota(spark, sf_dir):
    """Per-domain crawl quota (X170): cap every registrable domain at
    K pages with the EXACT deterministic quota sampler — the
    politeness/budget step a crawl ingest runs right after the domain
    rollup (big domains would otherwise own the corpus mix). Pure
    composition: canonical_url → registrable_domain (X166/X167) feeds
    splits.stratified_sample (hash-bucket + key total order, the
    engine-replayable lane), so the kept set is a pure function of
    (doc_id, domain, seed) — any engine, any partitioning, forever.
    Returns the kept (domain, doc_id) pairs ordered."""
    from alaska_etl_spark.operators.splits import stratified_sample
    from alaska_etl_spark.operators.urls import canonical_url, registrable_domain, url_host

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    framed = (
        docs.select("doc_id", canonical_url("url").alias("_cu"), url_host("url").alias("_h"))
        .filter(F.col("_cu").isNotNull())
        .select("doc_id", registrable_domain("_h").alias("domain"))
    )
    kept = stratified_sample(framed, ["domain"], "doc_id", 20, seed=7)
    return kept.select("domain", "doc_id").orderBy("domain", "doc_id")


def _qr7_sql() -> str:
    from alaska_etl_spark.operators.splits import hash_bucket_sql

    b = hash_bucket_sql("doc_id", seed=7)
    return _URLS_SQL_CTE + f"""
SELECT domain, doc_id FROM (
  SELECT doc_id,
         CASE WHEN len(hl) >= 2
              THEN array_to_string(list_slice(hl, len(hl) - 1, len(hl)), '.')
              ELSE host END AS domain
  FROM (SELECT doc_id, host, string_split(host, '.') AS hl
        FROM canon WHERE canonical IS NOT NULL)
)
QUALIFY row_number() OVER (PARTITION BY domain ORDER BY {b}, doc_id) <= 20
ORDER BY domain, doc_id
"""


QR7_SQL = _qr7_sql()


def qr8_calibration(spark, sf_dir):
    """Reliability diagram + ECE of the qg5 Naive Bayes scorer
    (operators/classifier.py reliability_diagram, X171): per score
    DECILE (distributed global ntile over the exact (score, doc_id)
    total order) the mean sigmoid confidence vs the empirical positive
    rate, plus the −1 ECE row — the calibration axis next to qg7's AUC
    (ranking) and qh0's PR sweep (operating points): does "score 0.9"
    MEAN 90%? Confidence is one pinned double chain quantized to 1e-6
    units (order-free BIGINT sums); everything after is exact."""
    from alaska_etl_spark.operators.classifier import (
        naive_bayes_scores,
        reliability_diagram,
    )

    d = _t(spark, sf_dir, "documents")
    scores = naive_bayes_scores(d, "doc_id", "text", "lang")
    scored = scores.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("score_units").alias("_score"),
        (F.col("lang") == "en").alias("_pos"),
    )
    return reliability_diagram(
        scored, "_score", "_pos", n_bins=10, order_cols=["doc_id"]
    )


QR8_SQL = r"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, lang = 'en' AS pos,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
), vocab AS MATERIALIZED (
  SELECT w,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM tk GROUP BY w
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
), pri AS (
  SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS pd,
         CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS nd
  FROM documents
), terms AS MATERIALIZED (
  SELECT w,
         CAST(round(100000000 * (ln(CAST(cp + 1 AS DOUBLE)) - ln(CAST(np + v AS DOUBLE))
                                 - ln(CAST(cn + 1 AS DOUBLE)) + ln(CAST(nn + v AS DOUBLE)))) AS BIGINT) AS t
  FROM vocab, tot
), prior AS (
  SELECT CAST(round(100000000 * (ln(CAST(pd + 1 AS DOUBLE)) - ln(CAST(nd + 1 AS DOUBLE)))) AS BIGINT) AS p
  FROM pri
), sc AS (
  SELECT doc_id, CAST(sum(t) AS BIGINT) AS s FROM tk JOIN terms USING (w) GROUP BY doc_id
), scored AS (
  SELECT sc.doc_id, CAST(sc.s + prior.p AS BIGINT) AS score, d.lang = 'en' AS pos
  FROM sc CROSS JOIN prior JOIN documents d ON sc.doc_id = d.doc_id
), binned AS (
  SELECT CAST(round(1000000.0 * (1.0 / (1.0 + exp(-(CAST(score AS DOUBLE) / 100000000.0))))) AS BIGINT) AS conf,
         pos,
         ntile(10) OVER (ORDER BY score, doc_id) AS bin
  FROM scored
), per_bin AS (
  SELECT CAST(bin AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST((2 * sum(conf) + count(*)) // (2 * count(*)) AS BIGINT) AS conf_units,
         CAST((2 * 1000000 * sum(CASE WHEN pos THEN 1 ELSE 0 END) + count(*))
              // (2 * count(*)) AS BIGINT) AS acc_units
  FROM binned GROUP BY 1
), gapped AS (
  SELECT bin, n_rows, conf_units, acc_units,
         CAST(abs(conf_units - acc_units) AS BIGINT) AS gap_units
  FROM per_bin
)
SELECT * FROM gapped
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST((2 * sum(n_rows * gap_units) + sum(n_rows)) // (2 * sum(n_rows)) AS BIGINT)
FROM gapped
ORDER BY bin
"""


def qr9_span_excision(spark, sf_dir):
    """Surgical decontamination (operators/simjoin.py excise_spans,
    X172): the cut that closes the X154 loop — containment_spans says
    WHERE the excerpt sits; this removes exactly that token range from
    every affected destination document and emits the cleaned text
    ("cut the span, keep the document" — the decontamination action
    published eval-overlap audits recommend over whole-doc drops).
    Spans from the q07 detector (n=3, τ=3/4); multiple spans per doc
    compose as their union; output on the normalized token stream (the
    offsets' domain, boundary documented in the operator)."""
    from alaska_etl_spark.operators.simjoin import containment_spans, excise_spans

    d = _t(spark, sf_dir, "documents")
    spans = containment_spans(
        d, "doc_id", "text", n=3, threshold_num=3, threshold_den=4
    ).select("dst_id", "dst_first", "dst_last")
    return excise_spans(d, "doc_id", "text", spans, n=3)


QR9_SQL = r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), sq AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')
         ) AS s
  FROM toks WHERE len(tk) > 0
), pos AS MATERIALIZED (
  SELECT doc_id, g, CAST(min(i) AS BIGINT) AS pos
  FROM (SELECT doc_id, unnest(s) AS g,
               unnest(generate_series(1, len(s))) AS i FROM sq)
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pos GROUP BY 1
), inter AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, CAST(count(*) AS BIGINT) AS np,
         CAST(min(b.pos) AS BIGINT) AS dst_first,
         CAST(max(b.pos) AS BIGINT) AS dst_last
  FROM pos a JOIN pos b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), spans AS MATERIALIZED (
  SELECT dst_id, dst_first, dst_last + 2 AS dst_cut
  FROM inter JOIN sz ON src_id = sz.doc_id
  WHERE 4 * np >= 3 * n
), aff AS (
  SELECT DISTINCT dst_id FROM spans
), t AS MATERIALIZED (
  SELECT doc_id, unnest(tk) AS w,
         unnest(generate_series(1, len(tk))) AS i
  FROM toks JOIN aff ON doc_id = dst_id
  WHERE len(tk) > 0
), removed AS (
  SELECT DISTINCT t.doc_id, t.i
  FROM t JOIN spans s
    ON t.doc_id = s.dst_id AND t.i BETWEEN s.dst_first AND s.dst_cut
), kept AS (
  SELECT doc_id, i, w FROM t ANTI JOIN removed USING (doc_id, i)
), rebuilt AS (
  SELECT doc_id,
         string_agg(w, ' ' ORDER BY i) AS kept_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY 1
)
SELECT tt.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) - coalesce(max(r.n_kept), 0) AS BIGINT) AS n_removed,
       coalesce(max(r.kept_text), '') AS text_clean
FROM t tt LEFT JOIN rebuilt r ON tt.doc_id = r.doc_id
GROUP BY 1 ORDER BY 1
"""


_QS0_RULES = [
    ("r1_dom", "domain", "site1.com"),
    ("r2_res", "path_prefix", "www.site2.com/p/16"),
    ("r3_sec", "path_prefix", "site5.com/p"),
    ("r4_dead", "path_prefix", "www.site9.com/x"),
]


def qs0_path_blocklist(spark, sf_dir):
    """Mixed-kind blocklist audit (X174): ``domain`` rules (host
    suffix-chain, subdomains included) and ``path_prefix`` rules
    (host + path-at-/-boundary chain, exact host) ride ONE kind-tagged
    equi-join — the robots/section-level filter axis the domain-grain
    r10 blocklist lacked, same never-a-theta-join contract. Rule set
    covers a registrable domain, one specific resource, a host
    section, and a dead rule's 0-row."""
    from alaska_etl_spark.operators.urls import blocklist_audit

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    rules = local_df(
        spark, _QS0_RULES, "rule string, kind string, pattern string"
    )
    return blocklist_audit(docs, "doc_id", "url", rules)


QS0_SQL = _URLS_SQL_CTE + r"""
, rules AS (
  SELECT * FROM (VALUES ('r1_dom', 'domain', 'site1.com'),
                        ('r2_res', 'path_prefix', 'www.site2.com/p/16'),
                        ('r3_sec', 'path_prefix', 'site5.com/p'),
                        ('r4_dead', 'path_prefix', 'www.site9.com/x'))
         AS t(rule, kind, pattern)
), base AS (
  SELECT doc_id, host,
         regexp_extract(canonical,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM canon WHERE canonical IS NOT NULL
), keys AS (
  SELECT doc_id, host, 'domain' AS kind,
         unnest(list_transform(generate_series(1, len(hl)),
           i -> array_to_string(list_slice(hl, i, len(hl)), '.'))) AS pattern
  FROM (SELECT doc_id, host, string_split(host, '.') AS hl FROM base)
  UNION ALL
  SELECT doc_id, host, 'path_prefix', host FROM base
  UNION ALL
  SELECT doc_id, host, 'path_prefix',
         unnest(list_transform(generate_series(1, len(sg)),
           i -> host || '/' || array_to_string(list_slice(sg, 1, i), '/')))
  FROM (SELECT doc_id, host,
               list_filter(string_split(path, '/'), x -> x <> '') AS sg
        FROM base)
), m AS (
  SELECT r.rule, k.doc_id, k.host
  FROM rules r JOIN keys k ON k.kind = r.kind AND k.pattern = r.pattern
), agg AS (
  SELECT rule, CAST(count(DISTINCT doc_id) AS BIGINT) AS np,
         CAST(count(DISTINCT host) AS BIGINT) AS nh
  FROM m GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM base
)
SELECT rule, kind, pattern, n_pages, n_hosts,
       CAST((2 * 10000 * n_pages + nullif(n, 0))
            // (2 * nullif(n, 0)) AS BIGINT) AS share_bp
FROM (
  SELECT r.rule, r.kind, r.pattern,
         CAST(coalesce(a.np, 0) AS BIGINT) AS n_pages,
         CAST(coalesce(a.nh, 0) AS BIGINT) AS n_hosts
  FROM rules r LEFT JOIN agg a USING (rule)
  UNION ALL
  SELECT '_total', '', '',
         CAST(coalesce((SELECT count(DISTINCT doc_id) FROM m), 0) AS BIGINT),
         CAST(coalesce((SELECT count(DISTINCT host) FROM m), 0) AS BIGINT)
), tot
ORDER BY (rule <> '_total'), rule
"""


def qs1_line_dedup(spark, sf_dir):
    """CCNet-style line-grain corpus dedup (operators/dedup.py
    line_dedup, X177): drop every trimmed line occurring in ≥ 2
    distinct documents corpus-wide, emit per-document removal stats +
    the cleaned text — the standard public-pipeline first pass
    (CCNet/RefinedWeb) that runs BEFORE document-grain dedup, the
    grain the X25/X6/X152 ladder lacked (VERDICT r10 Missing #2). The
    corpus has no newlines, so both engines deterministically re-line
    each document at 5-token boundaries first (the fixture-less
    construction stance): at that width ~10% of lines are corpus-hot —
    a realistic boilerplate rate."""
    from alaska_etl_spark.operators.dedup import line_dedup

    d = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    stop = F.floor((F.size(tk) - F.lit(1)) / F.lit(5)).cast("int")
    lined = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), stop),
                lambda i: F.array_join(F.slice(tk, i * 5 + 1, 5), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(lined, "doc_id", "text", min_docs=2)


QS1_SQL = r"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), lines AS (
  SELECT doc_id, i AS ln,
         array_to_string(list_slice(t, i*5+1, i*5+5), ' ') AS line
  FROM tk, unnest(generate_series(0, CAST(floor((len(t)-1)/5) AS INT))) AS u(i)
), hot AS (
  SELECT trim(line) AS key FROM lines WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT l.doc_id, l.ln, l.line,
         CASE WHEN h.key IS NOT NULL THEN 1 END AS hot
  FROM lines l LEFT JOIN hot h ON trim(l.line) = h.key AND trim(l.line) <> ''
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(coalesce(sum(hot), 0) AS BIGINT) AS n_removed,
       CAST((2 * 10000 * coalesce(sum(hot), 0) + count(*))
            // (2 * count(*)) AS BIGINT) AS removed_bp,
       coalesce(string_agg(CASE WHEN hot IS NULL THEN line END,
                           chr(10) ORDER BY ln), '') AS cleaned_text
FROM flagged GROUP BY 1 ORDER BY 1
"""


def q42_repeat_runs(spark, sf_dir):
    """Exact intra-document repeated verbatim runs (operators/
    simjoin.py longest_repeat_runs, X178): the within-example half of
    the Lee et al. '22 exact-substring story next to qr6's
    cross-document half — longest token range occurring at least twice
    INSIDE one document (periodic boilerplate, table dumps, generation
    loops), measured exactly at any length via the same positional-gram
    diagonal islands, self-paired. The corpus has no natural ≥6-token
    self-repeats, so both engines deterministically inject the two
    published failure shapes (fixture-less stance): doc_id % 4 == 0
    re-appends its own 12-token opening (a straight self-quote);
    doc_id % 4 == 1 appends its 6-token opening twice (an OVERLAPPING
    periodic repeat — each period its own diagonal)."""
    from alaska_etl_spark.operators.simjoin import longest_repeat_runs

    d = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    inj = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"), F.lit(" "), F.array_join(F.slice(tk, 1, 12), " ")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(F.slice(tk, 1, 6), " "),
                F.lit(" "),
                F.array_join(F.slice(tk, 1, 6), " "),
            ),
        )
        .otherwise(F.col("text"))
    )
    docs = d.select("doc_id", inj.alias("text"))
    return longest_repeat_runs(docs, "doc_id", "text", n=3, min_run_tokens=6)


QS2_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || ' ' || array_to_string(
                     list_slice(string_split(text, ' '), 1, 12), ' ')
              WHEN doc_id % 4 = 1
              THEN text || ' ' || array_to_string(
                     list_slice(string_split(text, ' '), 1, 6), ' ')
                   || ' ' || array_to_string(
                     list_slice(string_split(text, ' '), 1, 6), ' ')
              ELSE text END AS text
  FROM documents
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM base
), tok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(tk) - 2)) AS p,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS g
  FROM toks WHERE len(tk) >= 3
), m AS (
  SELECT a.doc_id, a.p AS ps, b.p - a.p AS dg, b.p AS pd
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.g = a.g AND b.p > a.p
), rn AS (
  SELECT doc_id, dg, ps, pd,
         ps - row_number() OVER (PARTITION BY doc_id, dg ORDER BY ps) AS k
  FROM m
), isl AS (
  SELECT doc_id, dg, k,
         CAST(count(*) + 2 AS BIGINT) AS run,
         CAST(min(ps) AS BIGINT) AS s0,
         CAST(min(pd) AS BIGINT) AS d0
  FROM rn GROUP BY 1, 2, 3
  HAVING count(*) + 2 >= 6
), best AS (
  SELECT doc_id, run, s0, d0,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY run DESC, s0 ASC, d0 ASC) AS rk
  FROM isl
)
SELECT doc_id,
       CAST(max(run) AS BIGINT) AS longest_run_tokens,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(CASE WHEN rk = 1 THEN s0 END) AS BIGINT) AS src_start,
       CAST(max(CASE WHEN rk = 1 THEN d0 END) AS BIGINT) AS dst_start
FROM best GROUP BY 1 ORDER BY 1
"""


def q48_dsir_selection(spark, sf_dir):
    """DSIR hashed-n-gram importance weights (operators/splits.py
    dsir_weights, X180; Xie et al. '23): score every raw document by
    how target-like its hashed-bigram distribution is — the published
    data-selection step between quality filtering and mixing. Target =
    source 'src0'; md5 hash lane so DuckDB replays every bucket
    assignment; weights are quantized-ln BIGINT sums (the qg5 NB
    discipline — order-free, engine-exact). ``keep`` is the
    threshold-form decision (log-weight > 0 ⇔ ŵ > 1, "more
    target-like than raw"); rank-based top-K composes with the exact
    quota/stratified samplers (X170) instead of a corpus-grain global
    sort window."""
    from alaska_etl_spark.operators.splits import dsir_weights

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("source") == "src0").alias("is_target")
    )
    w = dsir_weights(
        d, "doc_id", "text", "is_target", n=2, buckets=4096, hash_fn="md5"
    )
    return w.select(
        "doc_id", "weight_units", (F.col("weight_units") > 0).alias("keep")
    ).orderBy("doc_id")


def _qs8_sql() -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, source = 'src0' AS tgt,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, tgt,
         unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 1)),
                i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS g
  FROM toks WHERE len(tk) > 0
), tb AS (
  SELECT doc_id, tgt, {_dk_h31('g')} % 4096 AS b FROM grams
), counts AS (
  SELECT b, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
  FROM tb GROUP BY 1
), tot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM counts
), terms AS (
  SELECT b,
         CAST(round(100000000 * (ln(CAST(ct + 1 AS DOUBLE))
                                 - ln(CAST(nt + 4096 AS DOUBLE))
                                 - ln(CAST(cr + 1 AS DOUBLE))
                                 + ln(CAST(nr + 4096 AS DOUBLE)))) AS BIGINT) AS t
  FROM counts, tot
)
SELECT doc_id, weight_units, weight_units > 0 AS keep
FROM (
  SELECT doc_id, CAST(sum(t) AS BIGINT) AS weight_units
  FROM tb JOIN terms USING (b) WHERE NOT tgt GROUP BY 1
)
ORDER BY doc_id
"""


QS8_SQL = _qs8_sql()


# Shared robots.txt fixture (fixture-less stance: both engines build
# the identical per-host bodies). Site 1: an exact-agent group that
# must beat the star group, with allow-overrides-shorter-disallow,
# plus Crawl-delay/Sitemap metadata (consumed by robots_directives —
# qt1); site 2: star-only with an empty Disallow (matches nothing by
# RFC) and a star crawl-delay; site 3: wildcard paths — a `*` disallow
# with an anchored longer `$` allow winning back exactly one URL
# (RFC 9309 §2.2.3, matched since r12); site 4: the r11 verdict bug
# pinned in the oracle — a named group with ZERO rules claims
# trainbot, so the star Disallow must NOT leak in; site 5: rule-path
# normalization (percent-encoded and dot-segment rule spellings must
# match canonical URL paths — r12).
_ROBOTS_BODIES = {
    1: [
        "User-agent: trainbot",
        "Disallow: /p/1",
        "Allow: /p/15",
        "Crawl-delay: 2",
        "User-agent: *",
        "Disallow: /p",
        "Sitemap: https://site1.com/sm.xml",
    ],
    2: ["User-agent: *", "Disallow: /p/16", "Disallow:", "Crawl-delay: 10"],
    3: [
        "# wildcards",
        "User-agent: *",
        "Disallow: /p/*3",
        "Allow: /p/31$",
    ],
    4: ["User-agent: *", "Disallow: /p", "User-agent: trainbot"],
    5: ["User-agent: *", "Disallow: /%70/5", "Disallow: /x/../p/33"],
}


def _robots_rows() -> "list[tuple[str, str]]":
    return [
        (f"{pre}site{site}.com", "\n".join(lines))
        for site, lines in _ROBOTS_BODIES.items()
        for pre in ("", "www.", "cdn.")
    ]


def q14_robots_gate(spark, sf_dir):
    """robots.txt politeness gate (operators/urls.py parse_robots +
    robots_check, X181; RFC 9309): parse per-host robots.txt bodies
    into the rule rows that apply to the crawler's product token
    (group windows, exact-agent-beats-star at GROUP grain — fixture
    site 4 pins the empty-named-group case, same-UA groups merged),
    then give every corpus URL its verdict — the most-octets matching
    pattern decides, allow wins exact ties, plain RFC prefix matching
    (``/p`` matches ``/page``), rule paths percent-normalized and
    dot-segment folded before matching (site 5), ``*``/``$`` wildcard
    rules matched via anchored-regex translation (site 3; r12 — they
    were verdict-excluded in r11), no rule or an unparseable URL never
    reaches the fetcher. One host-keyed equi-join + one max-struct
    aggregate — no theta join, no window in the check."""
    from alaska_etl_spark.operators.urls import parse_robots, robots_check

    robots = local_df(spark, _robots_rows(), "host string, body string")
    rules = parse_robots(robots, "host", "body", agent="trainbot")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    return robots_check(docs, "doc_id", "url", rules)


def _robots_rules_sql() -> str:
    """DuckDB twin of parse_robots(agent='trainbot') + robots_check's
    rule normalization over the shared fixture: emits the CTE chain
    ending in rr(rhost, rule_kind, w, rp, rx) — appended after a WITH
    chain (leading comma included). Mirrors the r12 semantics exactly:
    crawl-delay rows participate in group-run detection (group-member
    key), the named-group test is at GROUP grain (an empty named group
    still claims the agent — the r11 verdict bug, pinned by fixture
    site 4), rule paths percent-normalize (+ dot-segment fold in the
    plain lane), and ``*``/``$`` wildcard rules translate to anchored
    RE2 regexes (``\\Q…\\E``-quoted literals, ``*`` → ``.*``, trailing
    ``$`` → end anchor)."""
    vals = ",\n                        ".join(
        "('{h}', concat_ws(chr(10), {body}))".format(
            h=h, body=", ".join("'" + ln + "'" for ln in _ROBOTS_BODIES[site])
        )
        for site, _lines in _ROBOTS_BODIES.items()
        for pre in ("", "www.", "cdn.")
        for h in [f"{pre}site{site}.com"]
    )
    return rf"""
, rb AS (
  SELECT * FROM (VALUES {vals}) AS t(rhost, body)
), rl AS (
  SELECT rhost, i,
         trim(regexp_replace(list_extract(ls, i), '#.*$', '')) AS line
  FROM (SELECT rhost, string_split(body, chr(10)) AS ls FROM rb),
       unnest(generate_series(1, len(ls))) AS u(i)
), dirs AS (
  SELECT rhost, i, key, val FROM (
    SELECT rhost, i,
           lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) AS key,
           trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS val
    FROM rl
  ) WHERE key IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
), marks AS (
  SELECT rhost, i, key, val,
         CASE WHEN key = 'user-agent'
                   AND NOT coalesce(lag(key = 'user-agent')
                       OVER (PARTITION BY rhost ORDER BY i), false)
              THEN 1 ELSE 0 END AS newg
  FROM dirs
), grp AS (
  SELECT rhost, i, key, val,
         sum(newg) OVER (PARTITION BY rhost ORDER BY i) AS gid
  FROM marks
), agents AS (
  SELECT rhost, gid, list(DISTINCT lower(val)) AS ags
  FROM grp WHERE key = 'user-agent' GROUP BY 1, 2
), rules0 AS (
  SELECT g.rhost, g.key AS rule_kind, g.val AS rpath, a.ags
  FROM grp g JOIN agents a USING (rhost, gid)
  WHERE g.key IN ('allow', 'disallow')
), nhost AS (
  -- GROUP grain: a named group with zero rules still claims the agent
  SELECT DISTINCT rhost FROM agents WHERE list_contains(ags, 'trainbot')
), rules AS (
  SELECT DISTINCT rhost, rule_kind, rpath FROM rules0
  WHERE list_contains(ags, 'trainbot')
  UNION
  SELECT DISTINCT rhost, rule_kind, rpath FROM rules0
  WHERE list_contains(ags, '*')
    AND rhost NOT IN (SELECT rhost FROM nhost)
), rpct AS (
  SELECT rhost, rule_kind, w, {_pct_sql("rpp")} AS rpn
  FROM (SELECT rhost, rule_kind,
               regexp_matches(rpath, '[*$]') AS w,
               string_split(rpath, '%') AS rpp
        FROM rules WHERE rpath <> '')
), rr AS (
  SELECT rhost, rule_kind, w,
         CASE WHEN w THEN rpn
              WHEN f = '' THEN '/'
              ELSE f || (CASE WHEN regexp_matches(rpn, '/(\.\.?)?$')
                              THEN '/' ELSE '' END) END AS rp,
         CASE WHEN w THEN
           '^' || array_to_string(list_transform(
                    string_split(CASE WHEN ends_with(rpn, '$')
                                      THEN substring(rpn, 1, length(rpn) - 1)
                                      ELSE rpn END, '*'),
                    p -> '\Q' || replace(p, '\E', '\E\\E\Q') || '\E'), '.*')
               || (CASE WHEN ends_with(rpn, '$') THEN '$' ELSE '' END)
         END AS rx
  FROM (SELECT rhost, rule_kind, w, rpn, {_fold_sql("rpn")} AS f FROM rpct)
)"""


def _qs9_sql() -> str:
    return _URLS_SQL_CTE + _robots_rules_sql() + r"""
, base AS (
  SELECT doc_id, host,
         regexp_extract(canonical,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM canon WHERE canonical IS NOT NULL
), m AS (
  SELECT doc_id,
         -- composite precedence key 2·octets + allow: most-octets
         -- pattern wins, allow wins exact ties (allow adds 1)
         arg_max(CAST(rule_kind = 'allow' AS INTEGER),
                 2 * CAST(strlen(rp) AS BIGINT)
                 + CASE WHEN rule_kind = 'allow' THEN 1 ELSE 0 END) = 1
           AS verdict
  FROM base b JOIN rr r ON r.rhost = b.host
  WHERE CASE WHEN r.w THEN regexp_matches(b.path, r.rx)
             ELSE starts_with(b.path, r.rp) END
  GROUP BY 1
)
SELECT b.doc_id, b.host, b.path, coalesce(m.verdict, true) AS allowed
FROM base b LEFT JOIN m USING (doc_id)
ORDER BY b.doc_id
"""


QS9_SQL = _qs9_sql()


def q35_sitemap_frontier(spark, sf_dir):
    """Sitemap-fed frontier admission (operators/urls.py sitemap_urls +
    robots_check, X182): the discovery path end-to-end — each host's
    sitemap body (built from its own corpus URLs, entries sorted and
    deduplicated: a round-trip of the extraction) is parsed for
    ``<loc>`` entries, every entry canonicalized, and the RFC 9309
    robots gate (trainbot, the shared fixture rules) decides admission;
    per host the entry count, malformed (bad-row) count, and
    allowed/blocked split. Composes X182 → X166 → X181 exactly the way
    a crawler's URL discovery loop runs."""
    from alaska_etl_spark.operators.urls import (
        parse_robots,
        robots_check,
        sitemap_urls,
        url_host,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    bodies = (
        docs.select(url_host("url").alias("h"), "url")
        .groupBy("h")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.array_distinct(F.collect_list("url"))),
                        # protocol-required entity escaping (r12):
                        # sitemap_urls unescapes — an exact round-trip
                        lambda u: F.concat(
                            F.lit("<loc>"),
                            F.replace(u, F.lit("&"), F.lit("&amp;")),
                            F.lit("</loc>"),
                        ),
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("body")
        )
    )
    sm = sitemap_urls(bodies, "h", "body")
    robots = local_df(spark, _robots_rows(), "host string, body string")
    rules = parse_robots(robots, "host", "body", agent="trainbot")
    verdicts = robots_check(sm, "loc", "loc", rules).select("loc", "allowed")
    return (
        sm.join(verdicts, "loc", "left")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_locs"),
            F.sum(F.when(F.col("canonical_url").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bad"),
            F.sum(F.when(F.col("allowed") == True, 1).otherwise(0))  # noqa: E712
            .cast("bigint")
            .alias("n_allowed"),
            F.sum(F.when(F.col("allowed") == False, 1).otherwise(0))  # noqa: E712
            .cast("bigint")
            .alias("n_blocked"),
        )
        .orderBy("host")
    )


def _qt0_sql() -> str:
    return _URLS_SQL_CTE + _robots_rules_sql() + r"""
, hu AS (
  SELECT DISTINCT host, url, canonical FROM canon
), hb AS (
  SELECT host, url, canonical,
         regexp_extract(canonical,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM hu
), mv AS (
  SELECT h.url,
         arg_max(CAST(rule_kind = 'allow' AS INTEGER),
                 2 * CAST(strlen(rp) AS BIGINT)
                 + CASE WHEN rule_kind = 'allow' THEN 1 ELSE 0 END) = 1
           AS verdict
  FROM hb h JOIN rr r ON r.rhost = h.host
  WHERE h.canonical IS NOT NULL
    AND CASE WHEN r.w THEN regexp_matches(h.path, r.rx)
             ELSE starts_with(h.path, r.rp) END
  GROUP BY 1
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_locs,
       CAST(sum(CASE WHEN canonical IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad,
       CAST(sum(CASE WHEN canonical IS NOT NULL
                          AND coalesce(verdict, true) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_allowed,
       CAST(sum(CASE WHEN canonical IS NOT NULL
                          AND NOT coalesce(verdict, true) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blocked
FROM hb LEFT JOIN mv USING (url)
GROUP BY 1 ORDER BY 1
"""


QT0_SQL = _qt0_sql()


def qt1_crawl_delay_budget(spark, sf_dir):
    """Crawl-delay politeness budget (operators/urls.py
    robots_directives, r12 — VERDICT r11 next #7): surface the
    Sitemap/Crawl-delay metadata parse_robots sees and drops, then
    compose it into the per-host admission budget the X131
    token-window throttle consumes — for each corpus host, the
    trainbot-resolved crawl delay (max when a host states several;
    1 s default when it states none — fixture site 4's named-but-empty
    trainbot group resolves to NO delay directive, pinning group-grain
    resolution on the metadata axis too), the distinct canonical URLs
    waiting, the 60-second-window fetch budget ⌊60/delay⌋, the
    admitted count min(waiting, budget), and the host's sitemap-record
    count. One tiny directives frame joined to a host-grain aggregate
    — the metadata side is KB-scale, the corpus side is one hash
    aggregate on host."""
    from alaska_etl_spark.operators.urls import canonical_url, robots_directives, url_host

    robots = local_df(spark, _robots_rows(), "host string, body string")
    d = robots_directives(robots, "host", "body", agent="trainbot")
    delays = (
        d.filter(F.col("directive") == "crawl-delay")
        .groupBy("host")
        .agg(F.max(F.col("value").cast("int")).alias("_delay"))
    )
    sitemaps = (
        d.filter(F.col("directive") == "sitemap")
        .groupBy("host")
        .agg(F.count_distinct("value").cast("bigint").alias("_sm"))
    )
    docs = _t(spark, sf_dir, "documents").select(_messy_url().alias("url"))
    hosts = (
        docs.select(
            url_host("url").alias("host"), canonical_url("url").alias("cu")
        )
        .filter(F.col("cu").isNotNull())
        .groupBy("host")
        .agg(F.count_distinct("cu").cast("bigint").alias("n_waiting"))
    )
    return (
        hosts.join(delays, "host", "left")
        .join(sitemaps, "host", "left")
        .select(
            "host",
            F.coalesce("_delay", F.lit(1)).cast("int").alias("crawl_delay"),
            "n_waiting",
            F.floor(F.lit(60) / F.coalesce("_delay", F.lit(1)))
            .cast("bigint")
            .alias("budget"),
            F.least(
                F.col("n_waiting"),
                F.floor(F.lit(60) / F.coalesce("_delay", F.lit(1))).cast("bigint"),
            )
            .cast("bigint")
            .alias("n_admitted"),
            F.coalesce("_sm", F.lit(0)).cast("bigint").alias("n_sitemaps"),
        )
        .orderBy("host")
    )


def _qt1_sql() -> str:
    """DuckDB twin: the directives side re-parses the fixture bodies
    with sitemap records host-global and crawl-delay group-resolved
    (same group machinery as _robots_rules_sql, with sitemap rows kept
    OUT of group-run detection, mirroring the operator)."""
    vals = ",\n                        ".join(
        "('{h}', concat_ws(chr(10), {body}))".format(
            h=h, body=", ".join("'" + ln + "'" for ln in _ROBOTS_BODIES[site])
        )
        for site, _lines in _ROBOTS_BODIES.items()
        for pre in ("", "www.", "cdn.")
        for h in [f"{pre}site{site}.com"]
    )
    return _URLS_SQL_CTE + rf"""
, rb AS (
  SELECT * FROM (VALUES {vals}) AS t(rhost, body)
), rl AS (
  SELECT rhost, i,
         trim(regexp_replace(list_extract(ls, i), '#.*$', '')) AS line
  FROM (SELECT rhost, string_split(body, chr(10)) AS ls FROM rb),
       unnest(generate_series(1, len(ls))) AS u(i)
), dirs0 AS (
  SELECT rhost, i, key, val FROM (
    SELECT rhost, i,
           lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) AS key,
           trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS val
    FROM rl
  ) WHERE key IN ('user-agent', 'allow', 'disallow', 'crawl-delay',
                  'sitemap')
), marks AS (
  SELECT rhost, i, key, val,
         CASE WHEN key = 'user-agent'
                   AND NOT coalesce(lag(key = 'user-agent')
                       OVER (PARTITION BY rhost ORDER BY i), false)
              THEN 1 ELSE 0 END AS newg
  FROM dirs0 WHERE key <> 'sitemap'
), grp AS (
  SELECT rhost, i, key, val,
         sum(newg) OVER (PARTITION BY rhost ORDER BY i) AS gid
  FROM marks
), agents AS (
  SELECT rhost, gid, list(DISTINCT lower(val)) AS ags
  FROM grp WHERE key = 'user-agent' GROUP BY 1, 2
), cd0 AS (
  SELECT g.rhost, g.val, a.ags
  FROM grp g JOIN agents a USING (rhost, gid)
  WHERE g.key = 'crawl-delay'
), nhost AS (
  SELECT DISTINCT rhost FROM agents WHERE list_contains(ags, 'trainbot')
), delays AS (
  SELECT rhost, max(CAST(val AS INTEGER)) AS delay FROM (
    SELECT DISTINCT rhost, val FROM cd0 WHERE list_contains(ags, 'trainbot')
    UNION
    SELECT DISTINCT rhost, val FROM cd0
    WHERE list_contains(ags, '*') AND rhost NOT IN (SELECT rhost FROM nhost)
  ) GROUP BY 1
), sm AS (
  SELECT rhost, CAST(count(DISTINCT val) AS BIGINT) AS n_sm
  FROM dirs0 WHERE key = 'sitemap' GROUP BY 1
), hosts AS (
  SELECT host, CAST(count(DISTINCT canonical) AS BIGINT) AS n_waiting
  FROM canon WHERE canonical IS NOT NULL GROUP BY 1
)
SELECT h.host,
       CAST(coalesce(d.delay, 1) AS INTEGER) AS crawl_delay,
       h.n_waiting,
       CAST(floor(60 / coalesce(d.delay, 1)) AS BIGINT) AS budget,
       CAST(least(h.n_waiting, CAST(floor(60 / coalesce(d.delay, 1)) AS BIGINT))
            AS BIGINT) AS n_admitted,
       coalesce(s.n_sm, CAST(0 AS BIGINT)) AS n_sitemaps
FROM hosts h
LEFT JOIN delays d ON d.rhost = h.host
LEFT JOIN sm s ON s.rhost = h.host
ORDER BY 1
"""


QT1_SQL = _qt1_sql()


def qt2_line_savings(spark, sf_dir):
    """Per-source line-dedup savings card (operators/dedup.py
    line_savings, r12 — VERDICT r11 next #8): the X62 dataset-card
    stance at LINE grain — for each source, the line and character
    mass qs1's CCNet-style cut would reclaim (corpus-wide ≥2
    distinct-doc trimmed-line key, blank lines never removable, raw
    char mass), WITHOUT building any cleaned text. Same deterministic
    5-token re-lining as qs1 (the corpus has no newlines — the
    fixture-less construction stance)."""
    from alaska_etl_spark.operators.dedup import line_savings

    d = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    stop = F.floor((F.size(tk) - F.lit(1)) / F.lit(5)).cast("int")
    lined = d.select(
        "source",
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), stop),
                lambda i: F.array_join(F.slice(tk, i * 5 + 1, 5), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return line_savings(lined, "source", "doc_id", "text", min_docs=2)


QT2_SQL = r"""
WITH tk AS (
  SELECT source, doc_id, string_split(text, ' ') AS t FROM documents
), lines AS (
  SELECT source, doc_id,
         array_to_string(list_slice(t, i*5+1, i*5+5), ' ') AS line
  FROM tk, unnest(generate_series(0, CAST(floor((len(t)-1)/5) AS INT))) AS u(i)
), hot AS (
  SELECT trim(line) AS key FROM lines WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT l.source, l.doc_id, length(l.line) AS chars,
         CASE WHEN h.key IS NOT NULL THEN 1 END AS hot
  FROM lines l LEFT JOIN hot h ON trim(l.line) = h.key AND trim(l.line) <> ''
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(coalesce(sum(hot), 0) AS BIGINT) AS n_removed,
       CAST((2 * 10000 * coalesce(sum(hot), 0) + count(*))
            // (2 * count(*)) AS BIGINT) AS removed_line_bp,
       CAST(sum(chars) AS BIGINT) AS chars_total,
       CAST(coalesce(sum(CASE WHEN hot = 1 THEN chars END), 0) AS BIGINT)
         AS chars_removed,
       CAST((2 * 10000 * coalesce(sum(CASE WHEN hot = 1 THEN chars END), 0)
             + sum(chars)) // (2 * sum(chars)) AS BIGINT) AS removed_char_bp
FROM flagged GROUP BY 1 ORDER BY 1
"""


_PSL_RULES = ["com", "co.uk", "uk", "*.ck", "!www.ck", "github.io", "io"]


def qt8_psl_domains(spark, sf_dir):
    """Public-suffix census under FULL PSL semantics
    (operators/urls.py psl_registrable_domain, r12 — the closure of
    registrable_domain's declared PSL boundary): a deterministic host
    corpus exercising every rule kind — plain multi-label (co.uk),
    wildcard (*.ck — every foo.ck IS a public suffix), exception
    (!www.ck — registrable despite the wildcard), a private-registry
    suffix (github.io beating io by length), and the default * rule —
    resolved by the suffix-chain equi-joins, then rolled up per public
    suffix: pages, distinct hosts, distinct registrable domains, and
    the hosts that ARE public suffixes (no registrable domain)."""
    from alaska_etl_spark.operators.urls import psl_registrable_domain

    rules = local_df(spark, [(p,) for p in _PSL_RULES], "pattern string")
    d = _t(spark, sf_dir, "documents")
    v = (F.col("doc_id") % 97).cast("string")
    u = F.col("doc_id") % 6
    host = (
        F.when(u == 0, F.concat(F.lit("h"), v, F.lit(".com")))
        .when(u == 1, F.concat(F.lit("sub.h"), v, F.lit(".co.uk")))
        .when(u == 2, F.concat(F.lit("h"), v, F.lit(".foo.ck")))
        .when(u == 3, F.concat(F.lit("x"), v, F.lit(".www.ck")))
        .when(u == 4, F.concat(F.lit("u"), v, F.lit(".github.io")))
        .otherwise(F.concat(F.lit("h"), v, F.lit(".xyz")))
    )
    hosts = d.select(host.alias("host"))
    out = psl_registrable_domain(hosts, "host", rules)
    return (
        out.groupBy("public_suffix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.count_distinct("host").cast("bigint").alias("n_hosts"),
            F.count_distinct("registrable_domain").cast("bigint").alias("n_regs"),
            F.sum(F.col("registrable_domain").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_pub_only"),
        )
        .orderBy("public_suffix")
    )


QT8_SQL = r"""
WITH hosts AS (
  SELECT CASE doc_id % 6
           WHEN 0 THEN 'h' || CAST(doc_id % 97 AS VARCHAR) || '.com'
           WHEN 1 THEN 'sub.h' || CAST(doc_id % 97 AS VARCHAR) || '.co.uk'
           WHEN 2 THEN 'h' || CAST(doc_id % 97 AS VARCHAR) || '.foo.ck'
           WHEN 3 THEN 'x' || CAST(doc_id % 97 AS VARCHAR) || '.www.ck'
           WHEN 4 THEN 'u' || CAST(doc_id % 97 AS VARCHAR) || '.github.io'
           ELSE 'h' || CAST(doc_id % 97 AS VARCHAR) || '.xyz' END AS host
  FROM documents
), dh AS (
  SELECT DISTINCT host FROM hosts
), sufx AS (
  SELECT host, n, s, sl,
         CASE WHEN sl >= 2 THEN regexp_replace(s, '^[^.]*\.', '') END AS t
  FROM (
    SELECT host, len(labels) AS n,
           array_to_string(list_slice(labels, i, len(labels)), '.') AS s,
           len(labels) - i + 1 AS sl
    FROM (SELECT host, string_split(host, '.') AS labels FROM dh),
         unnest(generate_series(1, len(labels))) AS u(i)
  )
), rules AS (
  SELECT kind, key,
         CASE kind WHEN 'wildcard' THEN len(string_split(key, '.')) + 1
                   WHEN 'exception' THEN len(string_split(key, '.')) - 1
                   ELSE len(string_split(key, '.')) END AS pl,
         CASE WHEN kind = 'exception' THEN 1 ELSE 0 END AS exc
  FROM (
    SELECT CASE WHEN starts_with(p, '!') THEN 'exception'
                WHEN starts_with(p, '*.') THEN 'wildcard'
                ELSE 'plain' END AS kind,
           CASE WHEN starts_with(p, '!') THEN substring(p, 2)
                WHEN starts_with(p, '*.') THEN substring(p, 3)
                ELSE p END AS key
    FROM (VALUES ('com'), ('co.uk'), ('uk'), ('*.ck'), ('!www.ck'),
                 ('github.io'), ('io')) AS t(p)
  )
), m AS (
  SELECT x.host, r.exc, r.pl FROM sufx x
  JOIN rules r ON r.kind <> 'wildcard' AND x.s = r.key
  UNION ALL
  SELECT x.host, r.exc, r.pl FROM sufx x
  JOIN rules r ON r.kind = 'wildcard' AND x.t = r.key
), best AS (
  -- exception beats wildcard/plain, then most labels: rank encodes
  -- (exc, pl) as exc*1000 + pl, decoded back to pl
  SELECT host, max(exc * 1000 + pl) % 1000 AS pl FROM m GROUP BY 1
), mapping AS (
  SELECT host,
         CASE WHEN pl >= 1
              THEN array_to_string(list_slice(labels, n - pl + 1, n), '.')
              ELSE '' END AS public_suffix,
         CASE WHEN n > pl
              THEN array_to_string(list_slice(labels, n - pl, n), '.')
         END AS registrable_domain
  FROM (
    SELECT d.host, string_split(d.host, '.') AS labels,
           len(string_split(d.host, '.')) AS n, coalesce(b.pl, 1) AS pl
    FROM dh d LEFT JOIN best b USING (host)
  )
)
SELECT m.public_suffix,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT h.host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT m.registrable_domain) AS BIGINT) AS n_regs,
       CAST(coalesce(sum(CASE WHEN m.registrable_domain IS NULL
                              THEN 1 END), 0) AS BIGINT) AS n_pub_only
FROM hosts h JOIN mapping m USING (host)
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_region_revenue": q02_region_revenue,
    "q03_dedup_savings": qf7_dedup_savings,
    "q04_filtered_sum": q04_filtered_sum,
    "qn0_watermark_max": q05_watermark_max,
    "q06_skyline": qi7_skyline,
    "qj5_distinct_dims": q06_distinct_dims,
    "qq2_duplicate_report": q07_duplicate_report,
    "q08_dedup_keep_first": q08_dedup_keep_first,
    "q09_target_encoding": qj3_target_encoding,
    "qj6_semi_join": q09_semi_join,
    "q59_anti_join": q59_anti_join,
    "q11_topk_per_group": q11_topk_per_group,
    "qs3_forward_fill": q12_forward_fill,
    "q12_domain_rollup": qr4_domain_rollup,
    "qs4_pivot": q13_pivot,
    "q13_path_blocklist": qs0_path_blocklist,
    "q60_union_all": q60_union_all,
    "q15_sentinel_conversion": q15_sentinel_conversion,
    "q16_hourly_rollup": q16_hourly_rollup,
    "q17_asof_join": q17_asof_join,
    "q18_nb_auc": qg7_nb_auc,
    "q19_rollup": q19_rollup,
    "qn1_json_extract": q20_json_extract,
    "q21_geo_clusters": qk8_geo_clusters,
    "qs5_token_stats": q22_token_stats,
    "q22_longest_runs": qr6_longest_runs,
    "qn2_quality_score": q23_quality_score,
    "qs6_lang_id": q24_lang_id,
    "q24_calibration": qr8_calibration,
    "q25_exact_dedup": q25_exact_dedup,
    "qq3_ngram_jaccard": q26_ngram_jaccard,
    "q27_cosine_topk": q27_cosine_topk,
    "qr0_embedding_near_dup": q28_embedding_near_dup,
    "q29_minhash_lsh": q29_minhash_lsh,
    "qo7_simhash": q30_simhash,
    "q31_ivf_ann": q31_ivf_ann,
    "q32_media_decode": q32_media_decode,
    "qo8_frame_sample": q33_frame_sample,
    "q34_sessionize": q34_sessionize,
    "q35_salted_agg": q35_salted_agg,
    # round-6 slot rotation (README "Driver query slots"): the TPC-H
    # Q13-ish supplier counts, the set-ops suite, and CUBE move to
    # qf4-qf6 (their families stay driver-visible via q01/q19/q48 aggs,
    # q40->qe6's left-outer distribution cousin, q19 rollup); the three
    # round-5 flagship operators the driver never saw — directed
    # containment join, margin bitext mining, novelty/contamination
    # rate — take their slots.
    "q36_containment_join": qf0_containment_join,
    "qf4_supplier_counts": q36_supplier_counts,
    "q61_small_quantity_revenue": q61_small_quantity_revenue,
    "q38_percentiles": q38_percentiles,
    "qo9_ranking_suite": q39_ranking_suite,
    "q40_bitext_margin": qf1_bitext_margin,
    "qr1_novelty_rate": qf2_novelty_rate,
    "qf5_set_ops": q40_set_ops,
    "qf6_cube": q41_cube,
    "qt4_dup_groups": qt4_dup_groups,
    "qs7_winnow_fingerprint": q43_winnow_fingerprint,
    "q43_span_excision": qr9_span_excision,
    # round-5 slot rotation (README "Driver query slots"): the TPC-H
    # Q12/Q13 shapes and the idle-customers anti-join move to qe5-qe7
    # (families multiply covered inside the window by q36/q48/q10/q59);
    # BM25, CUPED, and the interval sweep — round-3/4 flagships the
    # driver never saw — take their slots.
    "q44_bm25": qd5_bm25,
    "qr2_cuped": qe2_cuped,
    "qe5_priority_shipping": q44_priority_shipping,
    "qe6_order_count_distribution": q45_order_count_distribution,
    "q62_promo_revenue": q62_promo_revenue,
    "q63_disjunctive_predicates": q63_disjunctive_predicates,
    "q48_volume_shipping": q48_volume_shipping,
    "q49_max_concurrent": qc7_max_concurrent,
    "qe7_idle_customers": q49_idle_customers,
    "qf3_dup_source_matrix": qf3_dup_source_matrix,
    "ql4_top_orders": q03_top_orders,
    "qf8_vocab_divergence": qf8_vocab_divergence,
    "qf9_embedding_drift": qf9_embedding_drift,
    "q50_kmeans_summary": qg0_kmeans_summary,
    "qg2_perceptron": qg2_perceptron,
    "qg3_perceptron_screen": qg3_perceptron_screen,
    "qg4_perceptron_eval": qg4_perceptron_eval,
    "qg5_naive_bayes": qg5_naive_bayes,
    "qg6_perceptron_cv": qg6_perceptron_cv,
    "ql5_running_total": q18_running_total,
    "qg8_chi2_features": qg8_chi2_features,
    "qg9_knn_classifier": qg9_knn_classifier,
    "qh0_pr_curve": qh0_pr_curve,
    "qh1_key_skew": qh1_key_skew,
    "qh2_pmi_collocations": qh2_pmi_collocations,
    "qh3_jl_projection": qh3_jl_projection,
    "qh4_spearman": qh4_spearman,
    "qh5_seasonal_anomalies": qh5_seasonal_anomalies,
    "qh6_benford_audit": qh6_benford_audit,
    "qh7_feature_hashing": qh7_feature_hashing,
    "qh8_diff_in_diff": qh8_diff_in_diff,
    "qh9_pseudonymize_audit": qh9_pseudonymize_audit,
    "qi0_bigram_lm": qi0_bigram_lm,
    "qi1_trigram_search": qi1_trigram_search,
    "qi2_column_entropy": qi2_column_entropy,
    "qi3_reset_running_sum": qi3_reset_running_sum,
    "qi4_interval_coverage": qi4_interval_coverage,
    "qi5_bag_jaccard": qi5_bag_jaccard,
    "qi6_cusum_drift": qi6_cusum_drift,
    "qi8_twap": qi8_twap,
    "qi9_vocab_growth": qi9_vocab_growth,
    "qj0_sorted_neighborhood": qj0_sorted_neighborhood,
    "qj1_k_anonymity": qj1_k_anonymity,
    "qj2_ltob_downsample": qj2_ltob_downsample,
    "qj4_rrf_fusion": qj4_rrf_fusion,
    "qj7_agreement_kappa": qj7_agreement_kappa,
    "qj8_copurchase": qj8_copurchase,
    "qj9_survival_conversion": qj9_survival_conversion,
    "qk0_weighted_median": qk0_weighted_median,
    "qk1_transition_matrix": qk1_transition_matrix,
    "qk2_combination_overlap": qk2_combination_overlap,
    "qk3_conformal_threshold": qk3_conformal_threshold,
    "qk4_anova": qk4_anova,
    "qk5_ohlc_bars": qk5_ohlc_bars,
    "qk6_waterfall": qk6_waterfall,
    "qk7_episode_support": qk7_episode_support,
    "ql6_regex_extract": q21_regex_extract,
    "qk9_uplift_deciles": qk9_uplift_deciles,
    "ql0_lag_correlation": ql0_lag_correlation,
    "ql1_fd_audit": ql1_fd_audit,
    "ql2_inclusion_audit": ql2_inclusion_audit,
    "ql3_truncation_audit": ql3_truncation_audit,
    "q23_data_audit": ql7_data_audit,
    "qm0_ngram_diversity": qm0_ngram_diversity,
    "qm1_zipf_slope": qm1_zipf_slope,
    "q05_ann_recall": qm2_ann_recall,
    "qm3_blocking_quality": qm3_blocking_quality,
    "qm4_rbo": qm4_rbo,
    "q20_cdc_chunks": qm5_cdc_chunks,
    "qm6_ann_ndcg": qm6_ann_ndcg,
    "qm7_tokenizer_fertility": qm7_tokenizer_fertility,
    "qm8_langid_confusion": qm8_langid_confusion,
    "qm9_mixture_report": qm9_mixture_report,
    "qn3_lift_gains": qn3_lift_gains,
    "q30_mutual_info": qn4_mutual_info,
    "qn5_histograms": qn5_histograms,
    "qn6_dup_cluster_sizes": qn6_dup_cluster_sizes,
    "qn7_cluster_separation": qn7_cluster_separation,
    "qn8_winsorize": qn8_winsorize,
    "qn9_format_validity": qn9_format_validity,
    "qo0_lsh_scurve": qo0_lsh_scurve,
    "q33_join_forecast": qo1_join_forecast,
    "qo2_canonical_keepers": qo2_canonical_keepers,
    "qo3_embedding_anisotropy": qo3_embedding_anisotropy,
    "q39_ks_split_check": qo4_ks_split_check,
    "qo5_token_waterfill": qo5_token_waterfill,
    "qo6_attribution": qo6_attribution,
    "qp0_edit_distance_join": qp0_edit_distance_join,
    "qp1_index_forecast": qp1_index_forecast,
    "qp2_boilerplate_grams": qp2_boilerplate_grams,
    "q41_norm_dedup": qp3_norm_dedup,
    "q07_span_localization": qp4_containment_spans,
    "qp5_source_overlap": qp5_source_overlap,
    "qp6_rfm_segments": qp6_rfm_segments,
    "qp7_effect_sizes": qp7_effect_sizes,
    "q26_k_core": qp8_k_core,
    "q47_layout_audit": qp9_layout_audit,
    "qq1_linkage_weights": qq1_linkage_weights,
    "q28_bootstrap_ci": qq5_bootstrap_ci,
    "qq6_eta_squared": qq6_eta_squared,
    "q45_split_conformal": qq7_split_conformal,
    "qq8_mase_report": qq8_mase_report,
    "qq9_sequence_predictability": qq9_sequence_predictability,
    "qr3_url_canonical": qr3_url_canonical,
    "qr5_blocklist_audit": qr5_blocklist_audit,
    "qr7_domain_quota": qr7_domain_quota,
    "qs1_line_dedup": qs1_line_dedup,
    "q42_repeat_runs": q42_repeat_runs,
    "q48_dsir_selection": q48_dsir_selection,
    "q14_robots_gate": q14_robots_gate,
    "q35_sitemap_frontier": q35_sitemap_frontier,
    "qt1_crawl_delay_budget": qt1_crawl_delay_budget,
    "qt2_line_savings": qt2_line_savings,
    "qt8_psl_domains": qt8_psl_domains,
    "qg1_top_supplier": q50_top_supplier,
    "q10_sole_blame_supplier": q10_sole_blame_supplier,
    "q14_range_join": q14_range_join,
    "q53_lsh_ann": q53_lsh_ann,
    "q37_pii_scrub": q37_pii_scrub,
    "q46_distinct_counts": q46_distinct_counts,
    "qq4_duplicated_spans": q47_duplicated_spans,
    "q64_semantic_dedup": q64_semantic_dedup,
    "q65_zorder_key": q65_zorder_key,
    "q66_quantize_int8": q66_quantize_int8,
    "q67_matryoshka_truncate": q67_matryoshka_truncate,
    "q68_hash_split": q68_hash_split,
    "q69_data_mix": q69_data_mix,
    "q70_repetition_signals": q70_repetition_signals,
    "q71_decontaminate": q71_decontaminate,
    "q72_pack_sequences": q72_pack_sequences,
    "q74_dedup_survivors": q74_dedup_survivors,
    "q75_tfidf": q75_tfidf,
    "q77_column_profile": q77_column_profile,
    "q78_interpolate": q78_interpolate,
    "q79_fuzzy_pairs": q79_fuzzy_pairs,
    "q80_grouping_sets": q80_grouping_sets,
    "q81_histogram": q81_histogram,
    "q82_market_share": q82_market_share,
    "q83_product_profit": q83_product_profit,
    "q84_ntile_deciles": q84_ntile_deciles,
    "q85_event_deltas": q85_event_deltas,
    "q86_type_pivot": q86_type_pivot,
    "q87_continuous_rollup": q87_continuous_rollup,
    "q88_cosine_simjoin": q88_cosine_simjoin,
    "q89_lm_perplexity": q89_lm_perplexity,
    "q90_stratified_sample": q90_stratified_sample,
    "q92_ewma": q92_ewma,
    "q93_zscore_anomalies": q93_zscore_anomalies,
    "q94_domain_weights": q94_domain_weights,
    "q95_moving_avg": q95_moving_avg,
    "q96_top_terms": q96_top_terms,
    "q97_chunk_documents": q97_chunk_documents,
    "q98_large_orders": q98_large_orders,
    "q99_join_view": q99_join_view,
    "qa0_min_cost_supplier": qa0_min_cost_supplier,
    "qa1_order_priority": qa1_order_priority,
    "qa2_local_supplier_volume": qa2_local_supplier_volume,
    "qa3_returned_items": qa3_returned_items,
    "qa4_important_parts": qa4_important_parts,
    "qa5_part_promotion": qa5_part_promotion,
    "qa6_heavy_hitters": qa6_heavy_hitters,
    "qa7_mad_anomalies": qa7_mad_anomalies,
    "qa8_weighted_sample": qa8_weighted_sample,
    "qa9_bloom_pruned_join": qa9_bloom_pruned_join,
    "qb0_jaccard_simjoin": qb0_jaccard_simjoin,
    "qb1_geo_knn_join": qb1_geo_knn_join,
    "qb3_corr_matrix": qb3_corr_matrix,
    "qb4_grouped_regression": qb4_grouped_regression,
    "qb5_decimal_quantiles": qb5_decimal_quantiles,
    "qb6_pagerank": qb6_pagerank,
    "qb7_triangle_counts": qb7_triangle_counts,
    "qb8_bfs_distances": qb8_bfs_distances,
    "qb9_association_rules": qb9_association_rules,
    "qc0_snapshot_diff": qc0_snapshot_diff,
    "qc1_temperature_mix": qc1_temperature_mix,
    "qc2_unpivot": qc2_unpivot,
    "qc3_cohort_retention": qc3_cohort_retention,
    "qc4_funnel": qc4_funnel,
    "qc6_integrity_report": qc6_integrity_report,
    "qc8_activity_bitmap": qc8_activity_bitmap,
    "qc9_mix_entropy": qc9_mix_entropy,
    "qd0_top_p_coverage": qd0_top_p_coverage,
    "qd1_cdc_apply": qd1_cdc_apply,
    "qd2_sliding_distinct": qd2_sliding_distinct,
    "qd3_attribution": qd3_attribution,
    "qd4_winsorize": qd4_winsorize,
    "qd6_hard_negatives": qd6_hard_negatives,
    "qd7_perplexity_gate": qd7_perplexity_gate,
    "qd8_label_consistency": qd8_label_consistency,
    "qe0_share_and_growth": qe0_share_and_growth,
    "qe1_ab_test": qe1_ab_test,
    "qe3_psi_drift": qe3_psi_drift,
    "qe4_split_leakage": qe4_split_leakage,
}

ORACLES = {
    "q01_pricing_summary": Q01_SQL,
    "q02_region_revenue": Q02_SQL,
    "q03_dedup_savings": QF7_SQL,
    "q04_filtered_sum": Q04_SQL,
    "qn0_watermark_max": Q05_SQL,
    "q06_skyline": QI7_SQL,
    "qj5_distinct_dims": Q06_SQL,
    "qq2_duplicate_report": Q07_SQL,
    "q08_dedup_keep_first": Q08_SQL,
    "q09_target_encoding": QJ3_SQL,
    "qj6_semi_join": Q09_SQL,
    "q59_anti_join": Q59_SQL,
    "q11_topk_per_group": Q11_SQL,
    "qs3_forward_fill": Q12_SQL,
    "q12_domain_rollup": QR4_SQL,
    "qs4_pivot": Q13_SQL,
    "q13_path_blocklist": QS0_SQL,
    "q60_union_all": Q60_SQL,
    "q15_sentinel_conversion": Q15_SQL,
    "q16_hourly_rollup": Q16_SQL,
    "q17_asof_join": Q17_SQL,
    "q18_nb_auc": QG7_SQL,
    "q19_rollup": Q19_SQL,
    "qn1_json_extract": Q20_SQL,
    "q21_geo_clusters": QK8_SQL,
    "qs5_token_stats": Q22_SQL,
    "q22_longest_runs": QR6_SQL,
    "qn2_quality_score": Q23_SQL,
    "qs6_lang_id": Q24_SQL,
    "q24_calibration": QR8_SQL,
    "q25_exact_dedup": Q25_SQL,
    "qq3_ngram_jaccard": Q26_SQL,
    "q27_cosine_topk": Q27_SQL,
    "qr0_embedding_near_dup": Q28_SQL,
    "q29_minhash_lsh": Q29_SQL,
    "qo7_simhash": Q30_SQL,
    "q31_ivf_ann": Q31_SQL,
    "q32_media_decode": Q32_SQL,
    "qo8_frame_sample": Q33_SQL,
    "q34_sessionize": Q34_SQL,
    "q35_salted_agg": Q35_SQL,
    "q36_containment_join": QF0_SQL,
    "qf4_supplier_counts": Q36_SQL,
    "q61_small_quantity_revenue": Q61_SQL,
    "q38_percentiles": Q38_SQL,
    "qo9_ranking_suite": Q39_SQL,
    "q40_bitext_margin": QF1_SQL,
    "qr1_novelty_rate": QF2_SQL,
    "qf5_set_ops": Q40_SQL,
    "qf6_cube": Q41_SQL,
    "qt4_dup_groups": Q42_SQL,
    "qs7_winnow_fingerprint": Q43_SQL,
    "q43_span_excision": QR9_SQL,
    "q44_bm25": QD5_SQL,
    "qr2_cuped": QE2_SQL,
    "qe5_priority_shipping": Q44_SQL,
    "qe6_order_count_distribution": Q45_SQL,
    "q62_promo_revenue": Q62_SQL,
    "q63_disjunctive_predicates": Q63_SQL,
    "q48_volume_shipping": Q48_SQL,
    "q49_max_concurrent": QC7_SQL,
    "qe7_idle_customers": Q49_SQL,
    "qg1_top_supplier": Q50_SQL,
    "q53_lsh_ann": Q53_SQL,
    "q10_sole_blame_supplier": Q10_SQL,
    "q14_range_join": Q14_SQL,
    "q37_pii_scrub": Q37_SQL,
    "q46_distinct_counts": Q46_SQL,
    "qq4_duplicated_spans": Q47_SQL,
    "q64_semantic_dedup": Q64_SQL,
    "q65_zorder_key": Q65_SQL,
    "q66_quantize_int8": Q66_SQL,
    "q67_matryoshka_truncate": Q67_SQL,
    "q68_hash_split": Q68_SQL,
    "q69_data_mix": Q69_SQL,
    "q70_repetition_signals": Q70_SQL,
    "q71_decontaminate": Q71_SQL,
    "q72_pack_sequences": Q72_SQL,
    "q74_dedup_survivors": Q74_SQL,
    "q75_tfidf": Q75_SQL,
    "q77_column_profile": Q77_SQL,
    "q78_interpolate": Q78_SQL,
    "q79_fuzzy_pairs": Q79_SQL,
    "q80_grouping_sets": Q80_SQL,
    "q81_histogram": Q81_SQL,
    "q82_market_share": Q82_SQL,
    "q83_product_profit": Q83_SQL,
    "q84_ntile_deciles": Q84_SQL,
    "q85_event_deltas": Q85_SQL,
    "q86_type_pivot": Q86_SQL,
    "q87_continuous_rollup": Q87_SQL,
    "q88_cosine_simjoin": Q88_SQL,
    "q89_lm_perplexity": Q89_SQL,
    "q90_stratified_sample": _q90_sql(),
    "q92_ewma": Q92_SQL,
    "q93_zscore_anomalies": Q93_SQL,
    "q94_domain_weights": Q94_SQL,
    "q95_moving_avg": Q95_SQL,
    "q96_top_terms": Q96_SQL,
    "q97_chunk_documents": Q97_SQL,
    "q98_large_orders": Q98_SQL,
    "q99_join_view": Q99_SQL,
    "qa0_min_cost_supplier": QA0_SQL,
    "qa1_order_priority": QA1_SQL,
    "qa2_local_supplier_volume": QA2_SQL,
    "qa3_returned_items": QA3_SQL,
    "qa4_important_parts": QA4_SQL,
    "qa5_part_promotion": QA5_SQL,
    "qa6_heavy_hitters": QA6_SQL,
    "qa7_mad_anomalies": QA7_SQL,
    "qa8_weighted_sample": QA8_SQL,
    "qa9_bloom_pruned_join": QA9_SQL,
    "qb0_jaccard_simjoin": QB0_SQL,
    "qb1_geo_knn_join": QB1_SQL,
    "qb3_corr_matrix": QB3_SQL,
    "qb4_grouped_regression": QB4_SQL,
    "qb5_decimal_quantiles": QB5_SQL,
    "qb6_pagerank": QB6_SQL,
    "qb7_triangle_counts": QB7_SQL,
    "qb8_bfs_distances": QB8_SQL,
    "qb9_association_rules": QB9_SQL,
    "qc0_snapshot_diff": QC0_SQL,
    "qc1_temperature_mix": QC1_SQL,
    "qc2_unpivot": QC2_SQL,
    "qc3_cohort_retention": QC3_SQL,
    "qc4_funnel": QC4_SQL,
    "qc6_integrity_report": QC6_SQL,
    "qc8_activity_bitmap": QC8_SQL,
    "qc9_mix_entropy": QC9_SQL,
    "qd0_top_p_coverage": QD0_SQL,
    "qd1_cdc_apply": QD1_SQL,
    "qd2_sliding_distinct": QD2_SQL,
    "qd3_attribution": QD3_SQL,
    "qd4_winsorize": QD4_SQL,
    "qd6_hard_negatives": QD6_SQL,
    "qd7_perplexity_gate": QD7_SQL,
    "qd8_label_consistency": QD8_SQL,
    "qe0_share_and_growth": QE0_SQL,
    "qe1_ab_test": QE1_SQL,
    "qe3_psi_drift": QE3_SQL,
    "qe4_split_leakage": QE4_SQL,
    "qf3_dup_source_matrix": QF3_SQL,
    "ql4_top_orders": Q03_SQL,
    "qf8_vocab_divergence": QF8_SQL,
    "qf9_embedding_drift": QF9_SQL,
    "q50_kmeans_summary": QG0_SQL,
    "qg2_perceptron": QG2_SQL,
    "qg3_perceptron_screen": QG3_SQL,
    "qg4_perceptron_eval": QG4_SQL,
    "qg5_naive_bayes": QG5_SQL,
    "qg6_perceptron_cv": QG6_SQL,
    "ql5_running_total": Q18_SQL,
    "qg8_chi2_features": QG8_SQL,
    "qg9_knn_classifier": QG9_SQL,
    "qh0_pr_curve": QH0_SQL,
    "qh1_key_skew": QH1_SQL,
    "qh2_pmi_collocations": QH2_SQL,
    "qh3_jl_projection": QH3_SQL,
    "qh4_spearman": QH4_SQL,
    "qh5_seasonal_anomalies": QH5_SQL,
    "qh6_benford_audit": QH6_SQL,
    "qh7_feature_hashing": QH7_SQL,
    "qh8_diff_in_diff": QH8_SQL,
    "qh9_pseudonymize_audit": QH9_SQL,
    "qi0_bigram_lm": QI0_SQL,
    "qi1_trigram_search": QI1_SQL,
    "qi2_column_entropy": QI2_SQL,
    "qi3_reset_running_sum": QI3_SQL,
    "qi4_interval_coverage": QI4_SQL,
    "qi5_bag_jaccard": QI5_SQL,
    "qi6_cusum_drift": QI6_SQL,
    "qi8_twap": QI8_SQL,
    "qi9_vocab_growth": QI9_SQL,
    "qj0_sorted_neighborhood": QJ0_SQL,
    "qj1_k_anonymity": QJ1_SQL,
    "qj2_ltob_downsample": QJ2_SQL,
    "qj4_rrf_fusion": QJ4_SQL,
    "qj7_agreement_kappa": QJ7_SQL,
    "qj8_copurchase": QJ8_SQL,
    "qj9_survival_conversion": QJ9_SQL,
    "qk0_weighted_median": QK0_SQL,
    "qk1_transition_matrix": QK1_SQL,
    "qk2_combination_overlap": QK2_SQL,
    "qk3_conformal_threshold": QK3_SQL,
    "qk4_anova": QK4_SQL,
    "qk5_ohlc_bars": QK5_SQL,
    "qk6_waterfall": QK6_SQL,
    "qk7_episode_support": QK7_SQL,
    "ql6_regex_extract": Q21_SQL,
    "qk9_uplift_deciles": QK9_SQL,
    "ql0_lag_correlation": QL0_SQL,
    "ql1_fd_audit": QL1_SQL,
    "ql2_inclusion_audit": QL2_SQL,
    "ql3_truncation_audit": QL3_SQL,
    "q23_data_audit": QL7_SQL,
    "qm0_ngram_diversity": QM0_SQL,
    "qm1_zipf_slope": QM1_SQL,
    "q05_ann_recall": QM2_SQL,
    "qm3_blocking_quality": QM3_SQL,
    "qm4_rbo": QM4_SQL,
    "q20_cdc_chunks": QM5_SQL,
    "qm6_ann_ndcg": QM6_SQL,
    "qm7_tokenizer_fertility": QM7_SQL,
    "qm8_langid_confusion": QM8_SQL,
    "qm9_mixture_report": QM9_SQL,
    "qn3_lift_gains": QN3_SQL,
    "q30_mutual_info": QN4_SQL,
    "qn5_histograms": QN5_SQL,
    "qn6_dup_cluster_sizes": QN6_SQL,
    "qn7_cluster_separation": QN7_SQL,
    "qn8_winsorize": QN8_SQL,
    "qn9_format_validity": QN9_SQL,
    "qo0_lsh_scurve": QO0_SQL,
    "q33_join_forecast": QO1_SQL,
    "qo2_canonical_keepers": QO2_SQL,
    "qo3_embedding_anisotropy": QO3_SQL,
    "q39_ks_split_check": QO4_SQL,
    "qo5_token_waterfill": QO5_SQL,
    "qo6_attribution": QO6_SQL,
    "qp0_edit_distance_join": QP0_SQL,
    "qp1_index_forecast": QP1_SQL,
    "qp2_boilerplate_grams": QP2_SQL,
    "q41_norm_dedup": QP3_SQL,
    "q07_span_localization": QP4_SQL,
    "qp5_source_overlap": QP5_SQL,
    "qp6_rfm_segments": QP6_SQL,
    "qp7_effect_sizes": QP7_SQL,
    "q26_k_core": QP8_SQL,
    "q47_layout_audit": QP9_SQL,
    "qq1_linkage_weights": QQ1_SQL,
    "q28_bootstrap_ci": QQ5_SQL,
    "qq6_eta_squared": QQ6_SQL,
    "q45_split_conformal": QQ7_SQL,
    "qq8_mase_report": QQ8_SQL,
    "qq9_sequence_predictability": QQ9_SQL,
    "qr3_url_canonical": QR3_SQL,
    "qr5_blocklist_audit": QR5_SQL,
    "qr7_domain_quota": QR7_SQL,
    "qs1_line_dedup": QS1_SQL,
    "q42_repeat_runs": QS2_SQL,
    "q48_dsir_selection": QS8_SQL,
    "q14_robots_gate": QS9_SQL,
    "q35_sitemap_frontier": QT0_SQL,
    "qt1_crawl_delay_budget": QT1_SQL,
    "qt2_line_savings": QT2_SQL,
    "qt8_psl_domains": QT8_SQL,
}
