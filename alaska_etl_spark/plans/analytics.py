"""The analytics layer — the question the whole warehouse exists to
answer (SURVEY §2.4 J5, §7.1 step 6): join NWS forecasts to USCRN
actuals and measure forecast error as a function of lead time
(reference notebooks/2_nws_update.ipynb:1150-1152: "evaluated against
the historic data… utc_datetime - last_update_nws being a key
parameter").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def forecast_vs_actual(nws: DataFrame, uscrn: DataFrame) -> DataFrame:
    """Equi-join every forecast snapshot row to the matching observation
    on (location, utc_datetime), with the forecast lead time in hours.

    Scale: both sides are facts → sort-merge join on the composite key;
    partition both tables by ``date(utc_datetime)`` so the join is
    partition-local (SURVEY §4 physical choices).
    """
    f = nws.select(
        F.col("location").alias("station_location"),
        "utc_datetime",
        "last_update_nws",
        F.col("temperature_f").cast("double").alias("forecast_temp_f"),
        F.col("surface_wind_mph").cast("double").alias("forecast_wind_mph"),
        F.col("relative_humidity_pct").alias("forecast_rh_pct"),
    )
    a = uscrn.select(
        "station_location",
        "utc_datetime",
        F.col("t_hr_avg").alias("actual_temp_f"),
        F.col("rh_hr_avg").alias("actual_rh_pct"),
    )
    return (
        f.join(a, ["station_location", "utc_datetime"])
        .withColumn(
            "lead_hours",
            (
                F.col("utc_datetime").cast("timestamp").cast("long")
                - F.col("last_update_nws").cast("timestamp").cast("long")
            )
            / 3600.0,
        )
        .filter(F.col("lead_hours") >= 0)
    )


def lead_time_error(matched: DataFrame, *, bucket_hours: int = 24) -> DataFrame:
    """Forecast error aggregates per (station, lead-time bucket):
    MAE / bias / count for temperature. The headline analytical query."""
    return (
        matched.withColumn(
            "lead_bucket",
            (F.floor(F.col("lead_hours") / bucket_hours) * bucket_hours).cast("long"),
        )
        .groupBy("station_location", "lead_bucket")
        .agg(
            F.round(F.avg(F.abs(F.col("forecast_temp_f") - F.col("actual_temp_f"))), 3).alias("mae_temp_f"),
            F.round(F.avg(F.col("forecast_temp_f") - F.col("actual_temp_f")), 3).alias("bias_temp_f"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
