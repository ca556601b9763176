"""End-to-end pipelines — the engine's equivalents of the reference's
three Airflow DAGs (SURVEY §3), each a single lazy Spark plan feeding
the Warehouse load protocol.

| Reference DAG                  | Here                        |
|--------------------------------|-----------------------------|
| uscrn_dag (hourly actuals)     | :func:`run_uscrn`           |
| uscrn_wind_dag (5-min → hourly)| :func:`run_wind`            |
| nws_dag (forecast snapshots)   | :func:`run_nws`             |
| (downstream Looker/BQ query)   | :func:`run_forecast_report` |

Each run function is idempotent end-to-end: re-running with the same
inputs appends nothing (Warehouse hash anti-join), which subsumes the
reference's watermark bookkeeping AND fixes its double-load bug in one
mechanism. Watermark-style pruning is still available via the
``watermark`` argument (maps to partition pruning when main tables are
partitioned by ``utc_date``, SURVEY §4).

The orchestration layer the reference needed (XCom shuttling, task
splits, dict/string IRs — SURVEY §3.1 'IR chain') does not exist here:
there is nothing to orchestrate inside one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from alaska_etl_spark.plans.analytics import forecast_vs_actual, lead_time_error
from alaska_etl_spark.plans.warehouse import Warehouse
from alaska_etl_spark.sources.nws import forecast_long_df, pivot_forecast
from alaska_etl_spark.sources.uscrn import parse_uscrn_lines
from alaska_etl_spark.sources.wind import hourly_wind_avg, parse_wind_lines

#: partition column added to the fact tables at load: day of utc_datetime.
#: At 100 TB this is what makes watermark filters partition-prunes and
#: the forecast-vs-actual join partition-local (SURVEY §4).
PARTITION_COL = "utc_date"


def _with_partition(df: DataFrame) -> DataFrame:
    return df.withColumn(PARTITION_COL, F.to_date("utc_datetime"))


def run_uscrn(
    spark: SparkSession,
    warehouse: Warehouse,
    lines: DataFrame,
    locations: DataFrame,
    *,
    watermark=None,
    convert_to_f: bool = True,
) -> dict:
    """Raw hourly lines → uscrn main table (reference uscrn_dag §3.1).
    Returns load metrics ({n_rows})."""
    df = parse_uscrn_lines(lines, locations, convert_to_f=convert_to_f)
    if watermark is not None:
        df = df.filter(F.col("utc_datetime") > F.lit(watermark))
    # A6/C4: in-plan metrics (reference logged row counts task-side,
    # uscrn_dag.py:264); observe() rides the write action, costing no
    # extra pass at any scale.
    obs = Observation("uscrn_load")
    df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    warehouse.load(
        _with_partition(df),
        "uscrn",
        key_cols=["wbanno", "utc_datetime"],
        partition_col=PARTITION_COL,
    )
    return dict(obs.get)


def run_wind(
    spark: SparkSession,
    warehouse: Warehouse,
    lines: DataFrame,
    locations: DataFrame,
    *,
    watermark=None,
) -> dict:
    """Raw 5-min wind lines → hourly uscrn_wind table (reference
    uscrn_wind_dag §3.3: watermark → filter → project → group-agg →
    append, literally)."""
    parsed = parse_wind_lines(lines, locations, watermark=watermark)
    # bad-row ratio metric (the reference's QC log, uscrn_wind_dag.py:162)
    obs = Observation("wind_qc")
    parsed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_readings"),
        F.sum(F.col("bad_row").cast("long")).alias("n_bad"),
    )
    hourly = hourly_wind_avg(parsed)
    warehouse.load(
        _with_partition(hourly),
        "uscrn_wind",
        key_cols=["wbanno", "utc_datetime"],
        partition_col=PARTITION_COL,
    )
    m = dict(obs.get)
    m["bad_ratio"] = (m["n_bad"] or 0) / m["n_readings"] if m["n_readings"] else 0.0
    return m


def run_nws(
    spark: SparkSession,
    warehouse: Warehouse,
    tables: list[dict],
    *,
    year: int,
) -> None:
    """Scraped landscape tables → nws snapshot table (reference nws_dag
    §3.2). ``year`` is explicit — never wall clock (SURVEY §7.4).

    The snapshot is built on the driver (``pivot_forecast``) and enters
    Spark as one typed single-partition relation (``forecast_long_df``),
    so the load's plan has no shuffle and no Python-worker scan before
    the staging write.

    Snapshot semantics: the key includes last_update_nws, so re-loading
    the same snapshot is a no-op while a NEW snapshot of the same
    forecast hours appends (history kept, reference §1.1)."""
    snap = forecast_long_df(spark, pivot_forecast(tables, year=year))
    warehouse.load(
        _with_partition(snap),
        "nws",
        key_cols=["location", "utc_datetime", "last_update_nws"],
        partition_col=PARTITION_COL,
    )


def run_forecast_report(warehouse: Warehouse, *, bucket_hours: int = 24) -> DataFrame:
    """The downstream analytical query (J5): forecast error by station
    and lead-time bucket over the loaded warehouse."""
    matched = forecast_vs_actual(warehouse.read("nws"), warehouse.read("uscrn"))
    return lead_time_error(matched, bucket_hours=bucket_hours)


