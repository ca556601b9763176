"""SQL entry point: register the testdata star and any warehouse tables
as views so the whole engine is queryable with ``spark.sql`` — the
reference's users lived in BigQuery SQL (README.md:18-23); this is
their landing surface here.

Views are zero-cost (no data movement); Catalyst sees straight through
them, so pushdown/pruning behave exactly as with the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from alaska_etl_spark.schemas import STAR_SCHEMAS

TESTDATA_TABLES = list(STAR_SCHEMAS)


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Temp views over the driver's parquet tables (TESTDATA.md), read
    through plans.queries._t so they carry the same declared schemas as
    the query layer."""
    from alaska_etl_spark.plans.queries import _t

    for t in TESTDATA_TABLES:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)


def register_warehouse(spark: SparkSession, warehouse, tables: list[str]) -> None:
    """Temp views over loaded warehouse tables (uscrn / uscrn_wind /
    nws), so the forecast-accuracy question is one SQL statement."""
    for t in tables:
        warehouse.read(t).createOrReplaceTempView(t)


def sql(spark: SparkSession, query: str) -> DataFrame:
    return spark.sql(query)
