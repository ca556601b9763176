"""Explicit schemas for the weather warehouse star (SURVEY §1.3,
FIXTURES §4) and for the ten tables of the query-registry star.

Registry star (``STAR_SCHEMAS``): region, nation, customer, supplier,
part, orders, lineitem, events, documents and embeddings, each stored
as ``<sf_dir>/<name>.parquet`` (TESTDATA.md; ``perfbench.gen.write_star``
writes the same layout). The types are what Spark infers from those
files, declared so that a registry read runs no schema-inference job;
tests/test_schemas.py pins them against the files.

The reference declares BigQuery ``SchemaField`` lists with REQUIRED/
NULLABLE modes and per-column descriptions (reference
airflow/dags/uscrn_dag.py:213-242, nws_dag.py:138-158,
uscrn_wind_dag.py:209-215). Here the descriptions and units ride in
StructField metadata.

Type mapping (SURVEY §1.2): BigQuery STRING→StringType, FLOAT→DoubleType,
INTEGER→LongType, DATETIME (wall clock, stored as local AKST + UTC pairs)
→TimestampNTZType, TIMESTAMP (the ``date_added_utc`` audit column)
→TimestampType.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _f(name, dtype, nullable=True, description="", units=""):
    meta = {}
    if description:
        meta["description"] = description
    if units:
        meta["units"] = units
    return StructField(name, dtype, nullable, metadata=meta)


# -- uscrn: station × hour actuals (28 cols, uscrn_dag.py:213-242) ----------

_QC_FLAG_DESC = "QC flag: 0 good, 1 field-check failure, 3 erroneous"

USCRN_SCHEMA = StructType(
    [
        _f("station_location", StringType(), False, "Station name"),
        _f("wbanno", StringType(), False, "Station WBAN number (5-digit)"),
        _f("crx_vn", StringType(), True, "Station datalogger version"),
        _f("utc_datetime", TimestampNTZType(), False, "Observation hour end, UTC wall clock"),
        _f("lst_datetime", TimestampNTZType(), False, "Observation hour end, local standard time"),
        _f("longitude", DoubleType(), False, "Station longitude, decimal degrees"),
        _f("latitude", DoubleType(), False, "Station latitude, decimal degrees"),
        _f("t_calc", DoubleType(), True, "Average temperature during the last 5 min of the hour", "Fahrenheit"),
        _f("t_hr_avg", DoubleType(), True, "Average temperature for the hour", "Fahrenheit"),
        _f("t_max", DoubleType(), True, "Maximum temperature for the hour", "Fahrenheit"),
        _f("t_min", DoubleType(), True, "Minimum temperature for the hour", "Fahrenheit"),
        _f("p_calc", DoubleType(), True, "Total precipitation for the hour", "mm"),
        _f("solarad", DoubleType(), True, "Average global solar radiation", "W/m^2"),
        _f("solarad_flag", StringType(), True, _QC_FLAG_DESC),
        _f("solarad_max", DoubleType(), True, "Max global solar radiation", "W/m^2"),
        _f("solarad_max_flag", StringType(), True, _QC_FLAG_DESC),
        _f("solarad_min", DoubleType(), True, "Min global solar radiation", "W/m^2"),
        _f("solarad_min_flag", StringType(), True, _QC_FLAG_DESC),
        _f("sur_temp_type", StringType(), True, "Surface temp type: R/C/U"),
        _f("sur_temp", DoubleType(), True, "Average surface temperature", "Fahrenheit"),
        _f("sur_temp_flag", StringType(), True, _QC_FLAG_DESC),
        _f("sur_temp_max", DoubleType(), True, "Max surface temperature", "Fahrenheit"),
        _f("sur_temp_max_flag", StringType(), True, _QC_FLAG_DESC),
        _f("sur_temp_min", DoubleType(), True, "Min surface temperature", "Fahrenheit"),
        _f("sur_temp_min_flag", StringType(), True, _QC_FLAG_DESC),
        _f("rh_hr_avg", DoubleType(), True, "Average relative humidity", "%"),
        _f("rh_hr_avg_flag", StringType(), True, _QC_FLAG_DESC),
        _f("date_added_utc", TimestampType(), False, "Load audit timestamp"),
    ]
)

# Raw 38-field USCRN hourly line layout (names from uscrn_dag.py:157-161).
USCRN_RAW_FIELDS = [
    "wbanno", "utc_date", "utc_time", "lst_date", "lst_time", "crx_vn",
    "longitude", "latitude", "t_calc", "t_hr_avg", "t_max", "t_min",
    "p_calc", "solarad", "solarad_flag", "solarad_max", "solarad_max_flag",
    "solarad_min", "solarad_min_flag", "sur_temp_type", "sur_temp",
    "sur_temp_flag", "sur_temp_max", "sur_temp_max_flag", "sur_temp_min",
    "sur_temp_min_flag", "rh_hr_avg", "rh_hr_avg_flag",
    "soil_moisture_5", "soil_moisture_10", "soil_moisture_20",
    "soil_moisture_50", "soil_moisture_100", "soil_temp_5", "soil_temp_10",
    "soil_temp_20", "soil_temp_50", "soil_temp_100",
]

# -- uscrn_wind: hourly mean of 5-min wind (uscrn_wind_dag.py:209-215) ------

USCRN_WIND_SCHEMA = StructType(
    [
        _f("station_location", StringType(), False, "Station name"),
        _f("wbanno", StringType(), False, "Station WBAN number"),
        _f("utc_datetime", TimestampNTZType(), False, "Hour, UTC wall clock"),
        _f("lst_datetime", TimestampNTZType(), False, "Hour, local standard time"),
        _f("wind_hr_avg", DoubleType(), True, "Hourly mean of 5-min wind speed", "m/s"),
    ]
)

# -- nws: forecast snapshots (nws_dag.py:138-158 + date_added_utc :200) -----

NWS_SCHEMA = StructType(
    [
        _f("location", StringType(), False, "Forecast location (station name)"),
        _f("utc_datetime", TimestampNTZType(), False, "Forecast-valid hour, UTC wall clock"),
        _f("lst_datetime", TimestampNTZType(), False, "Forecast-valid hour, local (AKST fixed offset)"),
        _f("temperature_f", LongType(), True, "Forecast temperature", "Fahrenheit"),
        _f("dewpoint_f", LongType(), True, "Forecast dewpoint", "Fahrenheit"),
        _f("wind_chill_f", LongType(), True, "Forecast wind chill", "Fahrenheit"),
        _f("surface_wind_mph", LongType(), True, "Forecast surface wind", "mph"),
        _f("wind_dir", StringType(), True, "Wind direction (N/NE/E/SE/S/SW/W/NW)"),
        _f("gust", LongType(), True, "Wind gust ('' → 0)", "mph"),
        _f("sky_cover_pct", LongType(), True, "Sky cover", "%"),
        _f("precipitation_potential_pct", DoubleType(), True, "Precipitation potential", "%"),
        _f("relative_humidity_pct", DoubleType(), True, "Relative humidity", "%"),
        _f("rain", StringType(), True, "Rain outlook flag (--/SChc/Chc/Lkly/Ocnl)"),
        _f("thunder", StringType(), True, "Thunder outlook flag"),
        _f("snow", StringType(), True, "Snow outlook flag"),
        _f("freezing_rain", StringType(), True, "Freezing rain outlook flag"),
        _f("sleet", StringType(), True, "Sleet outlook flag"),
        _f("fog", StringType(), True, "Fog outlook flag"),
        _f("last_update_nws", TimestampNTZType(), True, "Forecast issuance time (snapshot id)"),
        _f("date_added_utc", TimestampType(), False, "Load audit timestamp"),
    ]
)

# -- dims -------------------------------------------------------------------

LOCATIONS_SCHEMA = StructType(
    [
        _f("station_location", StringType(), False, "Station name"),
        _f("wbanno", StringType(), False, "Station WBAN number, unique"),
        _f("longitude", DoubleType(), False),
        _f("latitude", DoubleType(), False),
    ]
)


# -- registry star: the query registry's input tables (TESTDATA.md) ---------

_STAR_TYPES = {
    "int": IntegerType(),
    "bigint": LongType(),
    "double": DoubleType(),
    "string": StringType(),
    "timestamp_ntz": TimestampNTZType(),
    "array<float>": ArrayType(FloatType()),
}


def _star(cols: str) -> StructType:
    """``"name type, ..."`` -> StructType, every field nullable (as
    Spark reads any parquet column)."""
    return StructType(
        [StructField(n, _STAR_TYPES[t]) for n, t in (c.split() for c in cols.split(","))]
    )


STAR_SCHEMAS: dict[str, StructType] = {
    "region": _star("r_regionkey int, r_name string"),
    "nation": _star("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _star(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ),
    "supplier": _star("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"),
    "part": _star(
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int,"
        " p_retailprice double"
    ),
    "orders": _star(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double,"
        " o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": _star(
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": _star(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double,"
        " props string"
    ),
    "documents": _star("doc_id bigint, text string, lang string, source string, n_chars bigint"),
    "embeddings": _star("vec_id bigint, embedding array<float>, label int"),
}
