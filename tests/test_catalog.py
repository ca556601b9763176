"""SQL surface: views over testdata + warehouse, pushdown intact
through views, and empty-input robustness of the pipelines."""

from __future__ import annotations

from alaska_etl_spark.plans.catalog import register_testdata, register_warehouse
from alaska_etl_spark.plans.warehouse import Warehouse
from alaska_etl_spark.pipelines import run_uscrn
from tests.conftest import uscrn_line

SF = "/root/testdata/sf0.001"


def test_sql_over_testdata(spark):
    register_testdata(spark, SF)
    out = spark.sql(
        "SELECT r_name, count(*) AS n FROM region JOIN nation "
        "ON r_regionkey = n_regionkey GROUP BY r_name"
    ).collect()
    assert len(out) == 5
    assert sum(r.n for r in out) == 25


def test_pushdown_through_view(spark):
    register_testdata(spark, SF)
    q = spark.sql("SELECT l_quantity FROM lineitem WHERE l_quantity > 49")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,49" in plan
    assert "ReadSchema: struct<l_quantity:double>" in plan


def test_sql_over_warehouse(spark, tmp_path, locations):
    wh = Warehouse(spark, str(tmp_path))
    run_uscrn(
        spark, wh,
        spark.createDataFrame([(uscrn_line(),)], "value string"),
        locations,
    )
    register_warehouse(spark, wh, ["uscrn"])
    row = spark.sql(
        "SELECT station_location, max(t_max) AS mx FROM uscrn GROUP BY 1"
    ).collect()[0]
    assert row.station_location == "Fairbanks_11_NE"


def test_empty_ingest_is_safe(spark, tmp_path, locations):
    """0-row batches are load no-ops (a 0-row partitioned write would
    leave an unreadable fileless table); the main table appears on the
    first non-empty load and later empty batches leave it untouched."""
    wh = Warehouse(spark, str(tmp_path))
    empty = spark.createDataFrame([], "value string")
    metrics = run_uscrn(spark, wh, empty, locations)
    assert metrics["n_rows"] == 0
    assert not wh.probe_exists("uscrn")

    run_uscrn(spark, wh, spark.createDataFrame([(uscrn_line(),)], "value string"), locations)
    assert wh.read("uscrn").count() == 1
    run_uscrn(spark, wh, empty, locations)
    assert wh.read("uscrn").count() == 1
