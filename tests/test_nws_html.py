"""Real-HTML NWS ingestion (S7/S8/S9): checked-in MapClick digital
fixtures (tools/make_nws_fixture.py mirrors the live page layout the
reference scraper depends on) flow fixture → parse → grid → pivot →
warehouse with no hand-built dicts anywhere."""

from __future__ import annotations

import pathlib
import re
from datetime import datetime

import pytest

from alaska_etl_spark.pipelines import run_nws
from alaska_etl_spark.plans.warehouse import Warehouse
from alaska_etl_spark.sources.nws import NWS_ATTRS, forecast_long_df, pivot_forecast
from alaska_etl_spark.sources.nws_html import (
    digital_forecast_url,
    extract_forecast_rows,
    fetch_forecast_tables,
    get_last_update,
    parse_page,
)

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


def _page(hr: int) -> str:
    return (FIXTURES / f"nws_digital_ahead{hr}.html").read_text(encoding="utf-8")


def _fake_fetch(url: str) -> str:
    assert url.startswith("https://forecast.weather.gov/MapClick.php?")
    hr = int(re.search(r"&AheadHour=(\d+)$", url).group(1))
    return _page(hr)


# -- S7: table extraction ----------------------------------------------------


def test_forecast_table_is_document_order_index_5():
    """The fixture nests table 1 inside table 0 — document-order
    indexing (BS4 find_all semantics) must still land on the forecast
    table at index 5."""
    p = parse_page(_page(0))
    assert len(p.tables) == 6
    assert p.tables[5].rows  # the forecast table, not a nav table


def test_extract_rows_shape_and_attrs():
    rows = extract_forecast_rows(_page(0))
    assert [r[0] for r in rows] == NWS_ATTRS
    assert all(len(r) == 49 for r in rows)  # attr + 2×24 hour cells


def test_divider_rows_removed_and_halves_concatenated():
    """Hour row must run 16..23,0..23,0..15 across the two halves —
    divider rows (identical colspan markup) never surface as cells."""
    rows = {r[0]: r[1:] for r in extract_forecast_rows(_page(0))}
    hours = [int(h) for h in rows["Hour (AKST)"]]
    assert hours[:8] == [16, 17, 18, 19, 20, 21, 22, 23]
    assert hours[8:32] == list(range(24))


def test_sparse_date_row_preserved():
    rows = {r[0]: r[1:] for r in extract_forecast_rows(_page(0))}
    dates = rows["Date"]
    assert dates[0] == "12/30"
    assert "12/31" in dates and "" in dates  # sparse until forward fill


def test_nested_table_does_not_steal_outer_row_cells():
    """Regression (ADVICE r2): a nested table's <tr> must not implicitly
    close the enclosing outer row — cells after the nested table belong
    to the outer row (BS4 semantics on real MapClick headers)."""
    html = (
        "<table>"
        "<tr><td><font>before</font></td>"
        "<td><table><tr><td><font>inner</font></td></tr></table></td>"
        "<td><font>after</font></td></tr>"
        "<tr><td><font>second</font></td></tr>"
        "</table>"
    )
    p = parse_page(html)
    assert len(p.tables) == 2
    outer, inner = p.tables
    assert [r.fonts for r in inner.rows] == [["inner"]]
    assert len(outer.rows) == 2
    # the outer row kept the cell that follows the nested table
    assert outer.rows[0].fonts == ["before", "after"]
    assert outer.rows[1].fonts == ["second"]


# -- S8: page metadata -------------------------------------------------------


def test_last_update_parses_akst_format():
    assert get_last_update(_page(0)) == datetime(2023, 12, 30, 15, 3)


def test_last_update_missing_raises():
    with pytest.raises(ValueError, match="Last Update"):
        get_last_update("<html><table><tr><td>x</td></tr></table></html>")


# -- S9: the fetch grid ------------------------------------------------------


def test_grid_fetches_location_by_ahead_hour():
    seen = []

    def spy(url):
        seen.append(url)
        return _fake_fetch(url)

    tables = fetch_forecast_tables(spy, [("Fairbanks", 64.8378, -147.7164)])
    assert [u[-len("AheadHour=XX") :] for u in seen] == [
        "&AheadHour=0",
        "AheadHour=48",
        "AheadHour=96",
    ]
    t = tables[0]
    assert t["location"] == "Fairbanks"
    assert t["last_update"] == "12/30/2023 15:03"
    assert len(t["pages"]) == 3 and all(len(p["rows"]) == 17 for p in t["pages"])


def test_mid_grid_refresh_stamps_pages_individually(spark):
    """Regression (ADVICE r2): each AheadHour page carries its own
    ``Last Update:`` stamp (the reference calls get_last_update_nws per
    soup) — a forecast refresh between page fetches must not inherit
    page 0's version stamp."""

    def refresh_fetch(url):
        html = _fake_fetch(url)
        if url.endswith("AheadHour=96"):
            html = html.replace("3:03 pm AKST Dec 30", "4:07 pm AKST Dec 30")
        return html

    tables = fetch_forecast_tables(refresh_fetch, [("Fairbanks", 64.8378, -147.7164)])
    t = tables[0]
    assert t["last_update"] == "12/30/2023 15:03"  # table-level = page 0
    assert [p["last_update"] for p in t["pages"]] == [
        "12/30/2023 15:03",
        "12/30/2023 15:03",
        "12/30/2023 16:07",
    ]
    # the per-page stamp flows through to the snapshot rows
    snap = forecast_long_df(spark, pivot_forecast(tables, year=2023))
    stamps = {r.last_update_nws for r in snap.select("last_update_nws").distinct().collect()}
    assert stamps == {datetime(2023, 12, 30, 15, 3), datetime(2023, 12, 30, 16, 7)}
    # the refreshed page's January hours keep the table's Dec→Jan
    # rollover: they land in 2024, after the page was issued
    refreshed = snap.filter(snap.last_update_nws == datetime(2023, 12, 30, 16, 7)).collect()
    assert refreshed and all(r.lst_datetime.year == 2024 for r in refreshed)


def test_digital_url_carries_all_attribute_params():
    url = digital_forecast_url(64.8378, -147.7164)
    for p in ("w0=t", "w12=fog", "FcstType=digital", "textField1=64.8378", "textField2=-147.7164"):
        assert p in url


# -- end to end: fixture → parse → pivot → warehouse -------------------------


def test_fixture_to_warehouse_end_to_end(spark, tmp_path):
    tables = fetch_forecast_tables(_fake_fetch, [("Fairbanks", 64.8378, -147.7164)])
    wh = Warehouse(spark, str(tmp_path))
    run_nws(spark, wh, tables, year=2023)
    out = wh.read("nws")

    # 3 pages × 48 hours, no overlaps in the AheadHour grid
    assert out.count() == 144

    rows = {r.lst_datetime: r for r in out.collect()}
    first = min(rows)
    assert first == datetime(2023, 12, 30, 16)
    # Dec→Jan rollover lands in the NEXT year even though year=2023
    jan = [t for t in rows if t.month == 1]
    assert jan and all(t.year == 2024 for t in jan)
    # typed columns + page-advertised snapshot timestamp
    r0 = rows[first]
    assert isinstance(r0.temperature_f, int)
    assert r0.last_update_nws == datetime(2023, 12, 30, 15, 3)


def test_fixture_to_asof_analytics_end_to_end(spark, tmp_path):
    """The whole reference lifecycle in ONE chain (VERDICT r2 #8):
    real-HTML fixture → parse → AheadHour grid → pivot/forward-fill →
    warehouse → J5 forecast-vs-actual join → lead-time error buckets.
    Actuals are forecast−2 °F, so every error aggregate is exactly 2 if
    and only if the join aligned every one of the 144 scraped forecast
    hours."""
    from pyspark.sql import functions as F

    from alaska_etl_spark.plans.analytics import forecast_vs_actual, lead_time_error

    tables = fetch_forecast_tables(_fake_fetch, [("Fairbanks", 64.8378, -147.7164)])
    wh = Warehouse(spark, str(tmp_path))
    run_nws(spark, wh, tables, year=2023)
    nws = wh.read("nws")

    actuals = nws.select(
        F.col("location").alias("station_location"),
        "utc_datetime",
        (F.col("temperature_f").cast("double") - 2.0).alias("t_hr_avg"),
        F.lit(65.0).alias("rh_hr_avg"),
    )
    matched = forecast_vs_actual(nws, actuals)
    assert matched.count() == 144  # every scraped forecast hour matched
    err = {r.lead_bucket: r for r in lead_time_error(matched).collect()}
    assert all(r.mae_temp_f == 2.0 and r.bias_temp_f == 2.0 for r in err.values())
    assert sum(r.n_matched for r in err.values()) == 144
    assert min(err) == 0 and max(err) == 144  # leads span the 3-page grid


def test_grid_reload_is_idempotent(spark, tmp_path):
    """Same snapshot re-scraped → no duplicate rows (the reference's
    double-load bug, nws_dag.py:175+187, stays fixed through the real
    HTML path)."""
    tables = fetch_forecast_tables(_fake_fetch, [("Fairbanks", 64.8378, -147.7164)])
    wh = Warehouse(spark, str(tmp_path))
    run_nws(spark, wh, tables, year=2023)
    run_nws(spark, wh, tables, year=2023)
    assert wh.read("nws").count() == 144
