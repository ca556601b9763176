"""End-to-end pipeline tests: raw fixtures → warehouse → analytical
report, idempotence across reruns (the golden-path test of SURVEY §5)."""

from __future__ import annotations

import datetime as dt
import json
import subprocess
import sys
from pathlib import Path

import pytest

from alaska_etl_spark.pipelines import run_forecast_report, run_nws, run_uscrn, run_wind
from alaska_etl_spark.plans.warehouse import Warehouse
from tests.conftest import uscrn_line, wind_line
from tests.test_nws import _table


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path))


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_uscrn_pipeline_end_to_end(spark, wh, locations, tmp_path):
    rows = [uscrn_line(utc_time=1100), uscrn_line(utc_time=1200), uscrn_line(wbanno="99999")]
    metrics = run_uscrn(spark, wh, _lines(spark, rows), locations)
    assert metrics["n_rows"] == 2
    main = wh.read("uscrn")
    assert main.count() == 2  # unknown wbanno filtered
    assert "utc_date" in main.columns and "date_added_utc" in main.columns
    assert (tmp_path / "uscrn" / "utc_date=2023-01-15").exists()  # partitioned

    # rerun: nothing appended (idempotence replaces watermark bookkeeping)
    run_uscrn(spark, wh, _lines(spark, rows), locations)
    assert wh.read("uscrn").count() == 2


def test_wind_pipeline_with_watermark(spark, wh, locations):
    rows = [
        wind_line(utc_time=1105, wind=2.0),
        wind_line(utc_time=1205, wind=4.0),
        wind_line(utc_time=1210, wind=6.0),
        wind_line(utc_time=1215, wind=8.0, flag="3"),  # QC-bad, metric only
    ]
    metrics = run_wind(spark, wh, _lines(spark, rows), locations,
                       watermark=dt.datetime(2023, 1, 15, 12, 0))
    out = wh.read("uscrn_wind").collect()
    assert len(out) == 1  # 11:xx pruned by watermark
    assert out[0].wind_hr_avg == 5.0
    # observe() metrics ride the write action (A6/C4)
    assert metrics["n_readings"] == 3  # post-watermark readings
    assert metrics["n_bad"] == 1
    assert abs(metrics["bad_ratio"] - 1 / 3) < 1e-9


def test_nws_snapshot_semantics(spark, wh):
    t1 = _table(last_update="12/30/2023 14:00", hours=[("12/30", "22"), ("", "23")])
    run_nws(spark, wh, [t1], year=2023)
    assert wh.read("nws").count() == 2
    # same snapshot reloaded → no-op; new snapshot of same hours → appends
    run_nws(spark, wh, [t1], year=2023)
    assert wh.read("nws").count() == 2
    t2 = _table(last_update="12/30/2023 20:00", hours=[("12/30", "22"), ("", "23")])
    run_nws(spark, wh, [t2], year=2023)
    assert wh.read("nws").count() == 4


def test_full_star_to_report(spark, wh, locations):
    """The dataset's purpose end-to-end: ingest actuals + forecasts,
    compute error by lead bucket."""
    # actuals at 07:00 and 08:00 UTC on Dec 31 (lst 22:00/23:00 Dec 30 + 9h)
    run_uscrn(
        spark, wh,
        _lines(spark, [
            uscrn_line(utc_date=20231231, utc_time=700, lst_date=20231230, lst_time=2200, t_hr_avg=-12.0),
            uscrn_line(utc_date=20231231, utc_time=800, lst_date=20231230, lst_time=2300, t_hr_avg=-12.0),
        ]),
        locations,
        convert_to_f=False,  # keep Celsius-free comparison simple
    )
    # forecast issued Dec 30 14:00 for lst 22:00/23:00 → utc 07:00/08:00 Dec 31
    run_nws(spark, wh, [_table(hours=[("12/30", "22"), ("", "23")])], year=2023)

    report = run_forecast_report(wh).collect()
    assert len(report) == 1
    r = report[0]
    assert r.station_location == "Fairbanks_11_NE"
    assert r.n_matched == 2
    # forecasts -10/-11 vs actual -12 → MAE (2+1)/2 = 1.5, bias +1.5
    assert r.mae_temp_f == 1.5
    assert r.bias_temp_f == 1.5
    assert r.lead_bucket == 0  # 17-18h lead → 0-24h bucket


def test_pipelines_import_loads_only_its_operators():
    """Subpackage ``__init__`` files re-export nothing, so importing the
    cron pipelines loads only the operator modules they use."""
    code = (
        "import json, sys, alaska_etl_spark.pipelines; "
        "print(json.dumps(sorted(m for m in sys.modules "
        "if m.startswith('alaska_etl_spark.operators.'))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = {m.rsplit(".", 1)[1] for m in json.loads(out)}
    assert loaded <= {"asof", "dedup", "similarity"}, sorted(loaded)
