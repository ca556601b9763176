"""USCRN hourly fixed-width ingest (SURVEY §2.1 S4/S5, §2.9 F1-F4).

The reference fetches AK*.txt files line by line in driver Python,
filters lines whose first 5 chars are an Alaska WBANNO code, splits on
whitespace into 38 fields, and builds a pandas frame (reference
airflow/dags/uscrn_dag.py:133-206). Here the whole thing is one lazy
Spark plan over ``spark.read.text``:

    text scan → broadcast dim join on the line prefix → split →
    per-field cast → sentinel null / C→F convert → datetime compose
    → deterministic dedup

Everything is built-in Catalyst expressions (whole-stage codegen); at
100 TB the text scan parallelizes by file split and the only shuffle is
the final dedup (skipped when ``dedup=False`` because upstream files are
disjoint by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.functions.conversions import (
    c_to_f,
    compose_datetime,
    nullify_sentinel,
)
from alaska_etl_spark.operators.dedup import dedup_keep_first
from alaska_etl_spark.schemas import USCRN_RAW_FIELDS

#: columns converted Celsius→Fahrenheit (reference uscrn_dag.py:179-181
#: conversion set; see functions.conversions.c_to_f for the reference bug)
_TEMP_COLS = [
    "t_calc", "t_hr_avg", "t_max", "t_min",
    "sur_temp", "sur_temp_max", "sur_temp_min",
]
#: non-temperature measurements: sentinel-nulled only
_MEASURE_COLS = ["p_calc", "solarad", "solarad_max", "solarad_min", "rh_hr_avg"]
_FLAG_COLS = [c for c in USCRN_RAW_FIELDS if c.endswith("_flag")]
_STRING_COLS = {"wbanno", "crx_vn", "sur_temp_type", *_FLAG_COLS}


def parse_uscrn_lines(
    lines: DataFrame,
    locations: DataFrame,
    *,
    value_col: str = "value",
    convert_to_f: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Raw text lines → typed uscrn rows (without the audit column).

    ``lines`` must have a string column ``value_col`` (one raw 38-field
    line per row — the shape of ``spark.read.text``). ``locations`` is
    the 23-row station dim, keyed by ``wbanno``; it is broadcast once,
    and one inner join is both the line-prefix membership filter (S5)
    and the name join (J1).

    The broadcast scans ``locations`` once per load. A dim built with
    ``spark.createDataFrame(<list>)`` makes that a Python-worker scan, a
    job of its own on every load. Pass a JVM-backed dim instead:
    :func:`~alaska_etl_spark.functions.localrel.local_df` or a parquet
    read.
    """
    toks = F.split(F.trim(F.col(value_col)), r"\s+")

    # line-prefix filter (reference uscrn_dag.py:137-146) and J1 fact↔dim
    # join in one broadcast inner join on the prefix. wbanno is unique in
    # the dim, so each kept line gains exactly its station_location (the
    # raw line's lon/lat stay) — no collected allowlist, no shuffle.
    df = (
        lines.withColumn("wbanno", F.substring(F.trim(F.col(value_col)), 1, 5))
        .join(F.broadcast(locations.select("wbanno", "station_location")), "wbanno")
        .withColumn("_toks", toks)
        .filter(F.size("_toks") == len(USCRN_RAW_FIELDS))
    )

    cols = []
    for i, name in enumerate(USCRN_RAW_FIELDS):
        if name == "wbanno":
            continue  # already extracted (and validated) above
        c = F.col("_toks").getItem(i)
        if name in _STRING_COLS:
            c = c.cast("string")
        elif name in ("utc_date", "utc_time", "lst_date", "lst_time"):
            c = c.cast("bigint")
        else:
            c = c.cast("double")
        cols.append(c.alias(name))
    df = df.select("wbanno", "station_location", *cols).withColumns({
        **{c: c_to_f(c) if convert_to_f else nullify_sentinel(c) for c in _TEMP_COLS},
        **{c: nullify_sentinel(c) for c in _MEASURE_COLS},
        "utc_datetime": compose_datetime("utc_date", "utc_time"),
        "lst_datetime": compose_datetime("lst_date", "lst_time"),
    })

    # the output projection also drops the raw date/time parts and the
    # soil columns (the reference's regex anti-projection,
    # uscrn_dag.py:184)
    order = [
        "station_location", "wbanno", "crx_vn", "utc_datetime", "lst_datetime",
        "longitude", "latitude", "t_calc", "t_hr_avg", "t_max", "t_min",
        "p_calc", "solarad", "solarad_flag", "solarad_max", "solarad_max_flag",
        "solarad_min", "solarad_min_flag", "sur_temp_type", "sur_temp",
        "sur_temp_flag", "sur_temp_max", "sur_temp_max_flag", "sur_temp_min",
        "sur_temp_min_flag", "rh_hr_avg", "rh_hr_avg_flag",
    ]
    df = df.select(order)

    if dedup:
        # deterministic A5 (reference uscrn_dag.py:198-203 uses pandas
        # drop_duplicates keep='first' — order-dependent; we order
        # explicitly, SURVEY §7.4)
        df = dedup_keep_first(
            df,
            keys=["wbanno", "utc_datetime"],
            order_by=["lst_datetime", "crx_vn"],
        )
    return df


def read_uscrn(
    spark, paths, locations: DataFrame, *, modified_after=None, **kwargs
) -> DataFrame:
    """``spark.read.text`` over raw USCRN files → typed rows. At scale
    the scan splits by file block; `input_file_name()` is available for
    provenance if callers need it.

    ``modified_after`` (datetime or 'YYYY-MM-DDTHH:MM:SS' string) maps
    the reference's updates-page watermark scan (S3, uscrn_dag.py:114-131)
    onto the file source's own mtime filter — unselected files are never
    opened."""
    reader = spark.read
    if modified_after is not None:
        stamp = (
            modified_after
            if isinstance(modified_after, str)
            else modified_after.strftime("%Y-%m-%dT%H:%M:%S")
        )
        reader = reader.option("modifiedAfter", stamp)
    return parse_uscrn_lines(reader.text(paths), locations, **kwargs)
