"""Golden equivalence for the NWS snapshot build.

``fixtures/nws_snapshot_golden.json`` holds, per case below, the rows
(or the fact that it raised) of the earlier Spark build of the same
tables: long ``(location, last_update, seq, attr, value)`` rows, a
``groupBy``/``pivot``, window forward fill and first month, ANSI casts
and a ``row_number`` dedup. The driver-side pass must give the same
rows (order-insensitive, exact values) and raise wherever that plan
raised. CHANGES.md records how the file was generated. Three cases
are re-recorded from the pass:

- that plan let a row with an unknown attribute widen a page, so
  ``unknown_attr_row_longer`` raised there; the pass skips such rows,
  and the case gives ``unknown_attr_row``'s rows;
- that plan restarted the year rollover for a page with its own
  ``Last Update:`` stamp, so ``page_stamp_restarts_fill`` and
  ``html_fixture_refresh`` landed a refreshed page's January hours a
  year early; the pass anchors the rollover on the first month of the
  table's first page, and those hours land in ``year + 1``.

A duplicated attribute row within one page is not a golden case: the
Spark pivot's ``first`` picked either copy. The pass keeps the first,
pinned by ``test_duplicated_attribute_row_first_wins``.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import pathlib

import pytest

from alaska_etl_spark.sources.nws import forecast_long_df, pivot_forecast
from alaska_etl_spark.sources.nws_html import fetch_forecast_tables
from tests.test_nws import _table
from tests.test_nws_html import _fake_fetch

GOLDEN = pathlib.Path(__file__).parent / "fixtures" / "nws_snapshot_golden.json"
FAIRBANKS = [("Fairbanks", 64.8378, -147.7164)]


def _set(tbl: dict, attr: str, values: list) -> dict:
    """Replace (or, with ``values=None``, drop) one attribute row of
    every page of ``tbl``."""
    for page in tbl["pages"]:
        rows = [r for r in page["rows"] if r[0] != attr]
        if values is not None:
            at = next(i for i, r in enumerate(page["rows"]) if r[0] == attr)
            rows.insert(at, [attr, *values])
        page["rows"] = rows
    return tbl


def _bad(attr: str, cell: str, *, at: int = 1) -> dict:
    tbl = _table(hours=[("12/30", "22"), ("", "23")])
    row = next(r for r in tbl["pages"][0]["rows"] if r[0] == attr)
    row[at] = cell
    return tbl


def _refresh_fetch(url: str) -> str:
    html = _fake_fetch(url)
    if url.endswith("AheadHour=96"):
        html = html.replace("3:03 pm AKST Dec 30", "4:07 pm AKST Dec 30")
    return html


def golden_cases() -> dict[str, tuple[list[dict], int]]:
    """Case name -> (tables, year)."""
    from perfbench.gen import WeatherFeed

    feed = WeatherFeed(1)
    two_hours = [("12/30", "22"), ("", "23")]
    cases = {
        # tests/test_nws.py and tests/test_pipelines.py tables
        "nws_default": ([_table()], 2023),
        "nws_rollover": ([_table(hours=[("12/31", "22"), ("", "23"), ("1/1", "0"), ("", "1")])], 2023),
        "nws_one_hour": ([_table(hours=[("12/30", "22")])], 2023),
        "nws_snapshot_14": ([_table(last_update="12/30/2023 14:00", hours=two_hours)], 2023),
        "nws_snapshot_20": ([_table(last_update="12/30/2023 20:00", hours=two_hours)], 2023),
        # the three fixture pages, and the per-page stamp case
        "html_fixture": (fetch_forecast_tables(_fake_fetch, FAIRBANKS), 2023),
        "html_fixture_refresh": (fetch_forecast_tables(_refresh_fetch, FAIRBANKS), 2023),
        "empty": ([], 2023),
    }

    tbl = _table(hours=two_hours)
    page2 = _table(hours=[("12/30", "23"), ("", "0")])["pages"][0]
    page2["rows"][2] = ["Temperature (°F)", "99", "98"]
    tbl["pages"].append(page2)
    cases["nws_dedup_across_pages"] = ([tbl], 2023)

    for d in (0, 7, 20):
        cases[f"feed_day{d}"] = (feed.nws_tables(d), feed.day_start(d).year)

    # Dec 31 -> Jan 1 over 30 hours, dates only where the page prints them
    hours = []
    for i in range(30):
        h = (12 + i) % 24
        date = "12/31" if i == 0 else ("1/1" if h == 0 else "")
        hours.append((date, str(h)))
    cases["rollover_blank_dates"] = ([_table(hours=hours)], 2023)

    # a second page with its own stamp restarts the fill but keeps the
    # table's first month: its January hours land in ``year + 1``
    tbl = _table(hours=[("12/31", "22"), ("", "23")])
    page2 = _table(hours=[("1/1", "0"), ("", "1")])["pages"][0]
    page2["last_update"] = "12/30/2023 16:00"
    tbl["pages"].append(page2)
    cases["page_stamp_restarts_fill"] = ([tbl], 2023)

    tbl = _table(hours=two_hours)
    tbl["pages"][0]["rows"].insert(5, ["Heat Index (°F)", "1", "2"])
    cases["unknown_attr_row"] = ([tbl], 2023)
    tbl = _table(hours=two_hours)
    tbl["pages"][0]["rows"].append(["Heat Index (°F)", "1", "2", "3"])
    cases["unknown_attr_row_longer"] = ([tbl], 2023)
    tbl = _table(hours=two_hours)
    tbl["pages"][0]["rows"].append(["Heat Index (°F)", "1", "2", "3"])
    tbl["pages"][0]["rows"][0] = ["Date", "12/30", "", ""]
    tbl["pages"][0]["rows"][1] = ["Hour (AKST)", "22", "23", "0"]
    cases["unknown_attr_row_longer_with_hour"] = ([tbl], 2023)

    tbl = _table(hours=[("12/30", "20"), ("", "21"), ("", "22"), ("", "23")])
    _set(tbl, "Temperature (°F)", ["-1", "-2"])
    _set(tbl, "Gust", ["5"])
    _set(tbl, "Snow", ["SChc", "Chc", "Lkly"])
    _set(tbl, "Relative Humidity (%)", [])
    cases["short_rows"] = ([tbl], 2023)

    tbl = _table(hours=[(" 12/30 ", " 22"), ("  ", "23 "), ("", "\t0")])
    _set(tbl, "Temperature (°F)", [" -10 ", "  ", "\t-12\n"])
    _set(tbl, "Gust", ["  ", " 7 ", ""])
    _set(tbl, "Wind Dir", [" NW ", "", "N"])
    _set(tbl, "Precipitation Potential (%)", [" 20.5 ", "+3", " "])
    _set(tbl, "Rain", [" -- ", "", "Chc"])
    cases["whitespace_cells"] = ([tbl], 2023)

    cases["gust_missing_vs_blank"] = (
        [
            _set(_table(location="A", hours=two_hours), "Gust", None),
            _table(location="B", hours=two_hours),
            _set(_table(location="C", hours=two_hours), "Gust", ["12"]),
        ],
        2023,
    )
    cases["two_tables_one_location"] = (
        [
            _table(last_update="12/30/2023 14:00", hours=two_hours),
            _table(last_update="12/30/2023 20:00", hours=[("12/30", "21"), ("", "22"), ("", "23")]),
        ],
        2023,
    )
    cases["no_last_update_or_location"] = (
        [_table(location=None, last_update=None, hours=two_hours)],
        2023,
    )
    cases["leap_day"] = ([_table(last_update="2/28/2024 14:00", hours=[("2/29", "0")])], 2024)
    cases["padded_last_update"] = ([_table(last_update="01/05/2024 04:00", hours=[("01/05", "05")])], 2024)

    # malformed cells: each either lands as today's value or raises
    for name, attr, cell in [
        ("temp_abc", "Temperature (°F)", "abc"),
        ("temp_7.0", "Temperature (°F)", "7.0"),
        ("temp_plus7", "Temperature (°F)", "+7"),
        ("temp_nbsp", "Temperature (°F)", "\xa07"),
        ("temp_overflow", "Temperature (°F)", "9223372036854775808"),
        ("gust_abc", "Gust", "abc"),
        ("gust_7.0", "Gust", "7.0"),
        ("gust_tab", "Gust", "\t"),
        ("sky_plus7", "Sky Cover (%)", "+7"),
        ("rh_abc", "Relative Humidity (%)", "abc"),
        ("rh_7.0", "Relative Humidity (%)", "7.0"),
        ("rh_plus7", "Relative Humidity (%)", "+7"),
        ("rh_exponent", "Relative Humidity (%)", "1e1"),
        ("rh_double_suffix", "Relative Humidity (%)", "7d"),
        ("hour_abc", "Hour (AKST)", "abc"),
        ("hour_24", "Hour (AKST)", "24"),
        ("hour_blank", "Hour (AKST)", ""),
        ("hour_7.0", "Hour (AKST)", "7.0"),
        ("date_13_45", "Date", "13/45"),
        ("date_no_slash", "Date", "12"),
        ("date_with_year", "Date", "12/30/2023"),
    ]:
        cases[f"bad_{name}"] = ([_bad(attr, cell)], 2023)
    cases["bad_first_date_blank"] = ([_bad("Date", "")], 2023)
    cases["bad_feb_29"] = ([_table(last_update="2/28/2023 14:00", hours=[("2/29", "0")])], 2023)
    for name, stamp in [
        ("short_minute", "12/30/2023 14:0"),
        ("trailing_space", "12/30/2023 14:00 "),
        ("two_digit_year", "12/30/23 14:00"),
        ("seconds", "12/30/2023 14:00:00"),
    ]:
        cases[f"bad_last_update_{name}"] = ([_table(last_update=stamp, hours=two_hours)], 2023)
    return cases


def _encode(v):
    return v.isoformat() if isinstance(v, dt.datetime) else v


def _canon(rows) -> list[list]:
    return sorted(([_encode(v) for v in r] for r in rows), key=json.dumps)


@functools.cache
def _golden() -> dict:
    return json.loads(GOLDEN.read_text(encoding="utf-8"))


_cases = golden_cases()


def test_golden_covers_every_case():
    assert set(_golden()["cases"]) == set(_cases)


@pytest.mark.parametrize("name", sorted(_cases))
def test_pass_reproduces_golden(name):
    tables, year = _cases[name]
    want = _golden()["cases"][name]
    if want == "raises":
        with pytest.raises(ValueError):
            pivot_forecast(tables, year=year)
    else:
        assert _canon(pivot_forecast(tables, year=year)) == want


def test_handoff_reproduces_golden_rows_and_schema(spark):
    tables, year = _cases["html_fixture_refresh"]
    df = forecast_long_df(spark, pivot_forecast(tables, year=year))
    assert [[f.name, f.dataType.simpleString(), f.nullable] for f in df.schema] == _golden()["schema"]
    assert _canon(df.collect()) == _golden()["cases"]["html_fixture_refresh"]


def test_duplicated_attribute_row_first_wins():
    tbl = _table(hours=[("12/30", "22"), ("", "23")])
    tbl["pages"][0]["rows"].insert(3, ["Temperature (°F)", "50", "51"])
    rows = sorted(pivot_forecast([tbl], year=2023), key=lambda r: r[2])
    assert [r[3] for r in rows] == [-10, -11]
