"""NWS landscape ingest: U3 pivot, W1 forward fill, F5/F6 datetimes with
year rollover, P8 sentinel fills, A5 dedup (FIXTURES §3, §5 invariant 3)."""

from __future__ import annotations

import datetime as dt

from alaska_etl_spark.sources.nws import NWS_ATTRS, forecast_long_df, pivot_forecast


def _table(location="Fairbanks_11_NE", last_update="12/30/2023 14:00", hours=None):
    """Build one landscape page dict: rows are [attr, v1, v2, ...]."""
    hours = hours or [("12/30", "22"), ("", "23"), ("1/1" if False else "12/31", "0"), ("", "1")]
    dates = [h[0] for h in hours]
    hrs = [h[1] for h in hours]
    n = len(hours)
    rows = [
        ["Date", *dates],
        ["Hour (AKST)", *hrs],
        ["Temperature (°F)", *[str(-10 - i) for i in range(n)]],
        ["Dewpoint (°F)", *["-15"] * n],
        ["Wind Chill (°F)", *[""] * n],
        ["Surface Wind (mph)", *["5"] * n],
        ["Wind Dir", *["NW"] * n],
        ["Gust", *[""] * n],
        ["Sky Cover (%)", *["80"] * n],
        ["Precipitation Potential (%)", *["20"] * n],
        ["Relative Humidity (%)", *["75"] * n],
        ["Rain", *["--"] * n],
        ["Thunder", *["--"] * n],
        ["Snow", *["SChc"] * n],
        ["Freezing Rain", *["--"] * n],
        ["Sleet", *["--"] * n],
        ["Fog", *["--"] * n],
    ]
    assert [r[0] for r in rows] == NWS_ATTRS
    return {"location": location, "last_update": last_update, "pages": [{"rows": rows}]}


def test_pivot_and_forward_fill(spark):
    """Sparse Date carries forward over the explicit seq order."""
    tbl = _table(hours=[("12/30", "22"), ("", "23"), ("12/31", "0"), ("", "1")])
    out = forecast_long_df(spark, pivot_forecast([tbl], year=2023))
    rows = {r.lst_datetime: r for r in out.collect()}
    assert dt.datetime(2023, 12, 30, 22, 0) in rows
    assert dt.datetime(2023, 12, 30, 23, 0) in rows  # date forward-filled
    assert dt.datetime(2023, 12, 31, 0, 0) in rows
    assert rows[dt.datetime(2023, 12, 30, 22, 0)].temperature_f == -10


def test_year_rollover(spark):
    """Dec 31 → Jan 1 gets year+1 (the reference's wall-clock year bug,
    SURVEY §7.4; FIXTURES §3 'Must include a Dec 31 → Jan 1 boundary')."""
    tbl = _table(hours=[("12/31", "22"), ("", "23"), ("1/1", "0"), ("", "1")])
    out = forecast_long_df(spark, pivot_forecast([tbl], year=2023))
    stamps = sorted(r.lst_datetime for r in out.collect())
    assert stamps[0] == dt.datetime(2023, 12, 31, 22, 0)
    assert stamps[-1] == dt.datetime(2024, 1, 1, 1, 0)


def test_utc_is_lst_plus_9(spark):
    """Invariant 3: utc = lst + 9h fixed offset (no DST)."""
    tbl = _table(hours=[("12/30", "22")])
    row = forecast_long_df(spark, pivot_forecast([tbl], year=2023)).collect()[0]
    assert row.utc_datetime - row.lst_datetime == dt.timedelta(hours=9)


def test_gust_empty_is_zero_wind_chill_empty_is_null(spark):
    """P8: '' gust → 0; '' elsewhere → NULL; '--' flags stay strings."""
    row = forecast_long_df(spark, pivot_forecast([_table(hours=[("12/30", "22")])], year=2023)).collect()[0]
    assert row.gust == 0
    assert row.wind_chill_f is None
    assert row.snow == "SChc"
    assert row.rain == "--"


def test_dedup_across_pages(spark):
    """Overlapping AheadHour pages repeat boundary hours; earliest seq
    wins (reference nws_dag.py:106-111)."""
    tbl = _table(hours=[("12/30", "22"), ("", "23")])
    # second page repeats hour 23 with a different temperature
    page2 = _table(hours=[("12/30", "23"), ("", "0")])["pages"][0]
    page2["rows"][2] = ["Temperature (°F)", "99", "98"]
    tbl["pages"].append(page2)
    out = forecast_long_df(spark, pivot_forecast([tbl], year=2023))
    rows = {r.lst_datetime: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[dt.datetime(2023, 12, 30, 23, 0)].temperature_f == -11  # page-1 value kept


def test_snapshot_metadata(spark):
    row = forecast_long_df(spark, pivot_forecast([_table(hours=[("12/30", "22")])], year=2023)).collect()[0]
    assert row.last_update_nws == dt.datetime(2023, 12, 30, 14, 0)
    assert row.location == "Fairbanks_11_NE"


def _three_stations():
    from perfbench.gen import STATIONS, WeatherFeed

    feed = WeatherFeed(1, stations=STATIONS[:3])
    return feed.nws_tables(0), feed.day_start(0).year


def test_handoff_is_one_local_partition(spark):
    """The snapshot reaches Spark as one partition of a local relation:
    no shuffle and no Python-worker scan before the staging write."""
    tables, year = _three_stations()
    df = forecast_long_df(spark, pivot_forecast(tables, year=year))
    assert df.rdd.getNumPartitions() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "ExistingRDD", "PythonRDD"):
        assert node not in plan, plan


def test_run_nws_writes_one_file_per_day(spark, tmp_path):
    from alaska_etl_spark.pipelines import run_nws
    from alaska_etl_spark.plans.warehouse import Warehouse

    tables, year = _three_stations()
    run_nws(spark, Warehouse(spark, str(tmp_path)), tables, year=year)
    days = sorted((tmp_path / "nws").glob("utc_date=*"))
    assert len(days) == 7
    assert [len(list(d.glob("*.parquet"))) for d in days] == [1] * 7
