"""USCRN subhourly wind ingest: 5-min readings → hourly mean
(SURVEY §2.1 S6, §2.5 A1, §3.3).

The reference iterates each file's lines *backwards* with an early exit
at the watermark and routes malformed rows aside (reference
airflow/dags/uscrn_wind_dag.py:132-164), then floors timestamps to the
hour and takes a group mean (:184-189). In Spark the reverse scan
becomes a plain watermark filter — the engine prunes instead of
early-exiting (with the main table partitioned by utc_date, partition
pruning makes it an actual skip, not a scan-and-drop) — and the hourly
mean is a hash aggregate with map-side partials.

QC semantics (SURVEY §2.3 P6 decision): the notebook keeps
``wind_flag == 0`` while the DAG merely excludes flag 3 / negative
speeds; we standardize on keep = (flag == '0' AND wind >= 0) and expose
the dropped rows via :func:`split_bad_rows`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.functions.conversions import compose_datetime, floor_hour

#: subhourly01 line: positions 0-4 are keys, last two are wind_1_5 + flag
#: (reference uscrn_wind_dag.py:150-160, notebooks/1_uscrn_scrape.ipynb:600-624)


def parse_wind_lines(
    lines: DataFrame,
    locations: DataFrame,
    *,
    value_col: str = "value",
    watermark=None,
) -> DataFrame:
    """Raw subhourly lines → typed 5-min readings with a ``bad_row``
    marker column (kept in-band so one scan serves both outputs).

    ``locations`` is broadcast once per load; as for
    :func:`~alaska_etl_spark.sources.uscrn.parse_uscrn_lines`, a dim from
    ``spark.createDataFrame(<list>)`` makes that a Python-worker scan on
    every load, so pass one from
    :func:`~alaska_etl_spark.functions.localrel.local_df` or parquet."""
    toks = F.split(F.trim(F.col(value_col)), r"\s+")
    df = (
        lines.withColumn("_toks", toks)
        .withColumn("wbanno", F.col("_toks").getItem(0))
        .join(F.broadcast(locations.select("wbanno", "station_location")), "wbanno", "left")
        .select(
            "station_location",
            "wbanno",
            F.col("_toks").getItem(1).cast("bigint").alias("utc_date"),
            F.col("_toks").getItem(2).cast("bigint").alias("utc_time"),
            F.col("_toks").getItem(3).cast("bigint").alias("lst_date"),
            F.col("_toks").getItem(4).cast("bigint").alias("lst_time"),
            F.element_at("_toks", -2).cast("double").alias("wind_1_5"),
            F.element_at("_toks", -1).alias("wind_flag"),
        )
        .withColumn("utc_datetime", compose_datetime("utc_date", "utc_time"))
        .withColumn("lst_datetime", compose_datetime("lst_date", "lst_time"))
        .drop("utc_date", "utc_time", "lst_date", "lst_time")
        # bad-row routing (reference uscrn_wind_dag.py:156-162): QC flag
        # != 0, negative speed, or unparseable timestamp
        .withColumn(
            "bad_row",
            (F.col("wind_flag") != "0")
            | (F.col("wind_1_5") < 0)
            | F.col("wind_1_5").isNull()
            | F.col("utc_datetime").isNull(),
        )
    )
    if watermark is not None:
        # S6 early-exit → predicate; file/partition pruning does the skip
        df = df.filter(F.col("utc_datetime") > F.lit(watermark))
    return df


def split_bad_rows(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad) split; the reference logs the bad ratio
    (uscrn_wind_dag.py:162) — callers can ``.observe`` or count."""
    return parsed.filter(~F.col("bad_row")), parsed.filter(F.col("bad_row"))


def hourly_wind_avg(parsed: DataFrame) -> DataFrame:
    """5-min readings → hourly mean, rounded 3 (reference
    uscrn_wind_dag.py:184-189). One hash aggregate; Spark computes
    partial means map-side so the shuffle carries (sum, count), not rows
    — the property the reference's spill-to-CSV dance existed to avoid
    breaking (notebooks/1_uscrn_scrape.ipynb:540 'will skew averages')."""
    good, _ = split_bad_rows(parsed)
    return (
        good.withColumn("utc_datetime", floor_hour("utc_datetime"))
        .withColumn("lst_datetime", floor_hour("lst_datetime"))
        .groupBy("station_location", "wbanno", "utc_datetime", "lst_datetime")
        .agg(F.round(F.avg("wind_1_5"), 3).alias("wind_hr_avg"))
    )
