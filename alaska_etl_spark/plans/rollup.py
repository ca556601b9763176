"""Continuous aggregate (hypertable-style rollup) maintenance.

The reference computes its hourly wind mean once per batch and
blind-appends the finished averages
(`/root/reference/airflow/dags/uscrn_wind_dag.py:184-189`); a late or
replayed reading for an already-loaded hour either double-counts or is
dropped — re-aggregating a bucket is impossible once the mean is
finalized. This module keeps the rollup CORRECT under late/out-of-order
arrival by construction:

- the stored rollup holds MERGEABLE partials per (hour bucket, keys) —
  count, exact-cents sum, min, max — never finalized averages;
- :func:`refresh_rollup` folds a new batch in by recomputing ONLY the
  buckets the batch touches: the existing rollup is read with a
  partition filter on the affected days (at 100 TB the scan prunes to
  a handful of partition directories), merged with the batch partials
  in one small shuffle, and written back with dynamic partition
  overwrite so only those day directories are replaced;
- :func:`finalize` derives the presentation columns (avg, etc.) from
  the partials at read time.

The invariant — refresh over ANY partition of the event stream into
batches, in ANY order, equals the one-shot rollup over all events —
is pinned by tests/test_rollup.py and oracled end-to-end by q87.

Values follow the testdata money contract (doubles carrying exactly two
decimals); sums are stored as BIGINT cents so merge order can never
change a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from alaska_etl_spark.functions.fixedpoint import div_half_up
from alaska_etl_spark.plans.warehouse import fs_and_path

DAY_COL = "_day"


def _cents(col):
    """Exact integer cents of a 2-decimal double (summation-order and
    engine independent; same convention as plans/queries._cents)."""
    return F.round(col * 100).cast("bigint")


def hourly_partials(
    batch: DataFrame, *, key_cols: list[str], ts_col: str, val_col: str
) -> DataFrame:
    """Per-(hour, keys) mergeable partial aggregates of one batch."""
    bucket = F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz").alias("bucket")
    return (
        batch.select(bucket, *key_cols, _cents(F.col(val_col)).alias("_c"))
        .groupBy("bucket", *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_c").alias("sum_c"),
            F.min("_c").alias("min_c"),
            F.max("_c").alias("max_c"),
        )
        .withColumn(DAY_COL, F.to_date("bucket"))
    )


def merge_partials(a: DataFrame, b: DataFrame, *, key_cols: list[str]) -> DataFrame:
    """Combine two partial-aggregate tables (associative/commutative:
    counts and sums add, min/max fold)."""
    cols = ["bucket", *key_cols, "n", "sum_c", "min_c", "max_c"]
    a, b = a.select(cols), b.select(cols)
    return (
        a.unionByName(b)
        .groupBy("bucket", *key_cols)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_c").alias("sum_c"),
            F.min("min_c").alias("min_c"),
            F.max("max_c").alias("max_c"),
        )
        .withColumn(DAY_COL, F.to_date("bucket"))
    )


def refresh_rollup(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    *,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
) -> None:
    """Fold one append-only batch into the persisted rollup at ``path``.

    Scale shape: the affected-day list is a bounded driver collect (a
    batch spans few days); the existing-rollup read is partition-pruned
    to those days; the merge shuffles |affected rollup rows| + |batch
    partials|; the write replaces ONLY the affected day directories
    (dynamic partition overwrite). The other partitions of a years-deep
    rollup are never read or written.
    """
    newp = hourly_partials(batch, key_cols=key_cols, ts_col=ts_col, val_col=val_col)
    fs, hpath = fs_and_path(spark, path)
    if not fs.exists(hpath):
        newp.write.mode("overwrite").partitionBy(DAY_COL).parquet(path)
        return
    existing = spark.read.parquet(path)
    days = [r[0] for r in newp.select(DAY_COL).distinct().collect()]
    touched = existing.filter(F.col(DAY_COL).isin(days))
    merged = merge_partials(touched, newp, key_cols=key_cols)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(DAY_COL)
        .parquet(path)
    )


def finalize(rollup: DataFrame) -> DataFrame:
    """Presentation view over the stored partials: integer-half-up
    3-decimal average (engine-independent), min/max/sum in dollars."""
    return rollup.select(
        "bucket",
        *[c for c in rollup.columns if c not in ("bucket", "n", "sum_c", "min_c", "max_c", DAY_COL)],
        "n",
        (div_half_up("sum_c", "n", 10) / F.lit(1000.0)).alias("avg_val"),
        (F.col("min_c") / F.lit(100.0)).alias("min_val"),
        (F.col("max_c") / F.lit(100.0)).alias("max_val"),
        (F.col("sum_c") / F.lit(100.0)).alias("sum_val"),
    )
