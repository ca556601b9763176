"""Scalar conversion / cleaning functions (SURVEY §2.9)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from alaska_etl_spark.functions.cleaning import normalize_column_name
from alaska_etl_spark.functions.conversions import (
    c_to_f,
    compose_datetime,
    floor_hour,
    nullify_sentinel,
)


def _one(spark, schema, row, expr):
    return spark.createDataFrame([row], schema).select(expr.alias("v")).collect()[0].v


def test_c_to_f(spark):
    assert _one(spark, "c double", (0.0,), c_to_f("c")) == 32.0
    assert _one(spark, "c double", (100.0,), c_to_f("c")) == 212.0
    assert _one(spark, "c double", (-9999.0,), c_to_f("c")) is None


def test_c_to_f_strict_parity(spark):
    """strict_reference_parity replicates the unassigned-conversion bug:
    value stays Celsius, sentinel still nulled."""
    assert _one(spark, "c double", (10.0,), c_to_f("c", strict_reference_parity=True)) == 10.0
    assert _one(spark, "c double", (-9999.0,), c_to_f("c", strict_reference_parity=True)) is None


def test_nullify_sentinel(spark):
    assert _one(spark, "c double", (-9999.0,), nullify_sentinel("c")) is None
    assert _one(spark, "c double", (-89.0,), nullify_sentinel("c")) == -89.0


def test_compose_datetime(spark):
    got = _one(
        spark, "d bigint, t bigint", (20230115, 5), compose_datetime("d", "t")
    )
    assert got == dt.datetime(2023, 1, 15, 0, 5)  # zero-padded HHmm


def test_floor_hour(spark):
    got = _one(
        spark, "ts timestamp_ntz", (dt.datetime(2023, 1, 15, 12, 35, 7),), floor_hour("ts")
    )
    assert got == dt.datetime(2023, 1, 15, 12, 0)


@pytest.mark.parametrize(
    "raw,want",
    [
        ("Temperature (°F)", "temperature_f"),
        ("Sky Cover (%)", "sky_cover_pct"),
        ("Hour (AKST)", "hour_akst"),
        ("Freezing Rain", "freezing_rain"),
        ("Wind Dir", "wind_dir"),
    ],
)
def test_normalize_column_name(raw, want):
    assert normalize_column_name(raw) == want
