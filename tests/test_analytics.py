"""Analytics layer: forecast-vs-actual join and lead-time error buckets
(SURVEY §2.4 J5 — the dataset's purpose)."""

from __future__ import annotations

import datetime as dt

from alaska_etl_spark.plans.analytics import forecast_vs_actual, lead_time_error


def _ts(d, h):
    return dt.datetime(2023, 6, d, h, 0)


def _nws(spark):
    rows = []
    for snap_day, snap_hour in [(1, 0), (2, 0)]:
        snap = _ts(snap_day, snap_hour)
        for lead in [1, 25]:
            valid = snap + dt.timedelta(hours=lead)
            rows.append(("Fairbanks_11_NE", valid, valid - dt.timedelta(hours=9),
                         -10 + lead, 5, 70.0, snap))
    return spark.createDataFrame(
        rows,
        "location string, utc_datetime timestamp_ntz, lst_datetime timestamp_ntz, "
        "temperature_f bigint, surface_wind_mph bigint, relative_humidity_pct double, "
        "last_update_nws timestamp_ntz",
    )


def _uscrn(spark):
    rows = []
    for d in [1, 2, 3]:
        for h in range(24):
            rows.append(("Fairbanks_11_NE", _ts(d, h), -10.0, 65.0))
    return spark.createDataFrame(
        rows,
        "station_location string, utc_datetime timestamp_ntz, t_hr_avg double, rh_hr_avg double",
    )


def test_forecast_vs_actual_lead_hours(spark):
    out = forecast_vs_actual(_nws(spark), _uscrn(spark)).collect()
    assert len(out) == 4  # every forecast hour has a matching observation
    leads = sorted(r.lead_hours for r in out)
    assert leads == [1.0, 1.0, 25.0, 25.0]


def test_lead_time_error_buckets(spark):
    matched = forecast_vs_actual(_nws(spark), _uscrn(spark))
    out = {r.lead_bucket: r for r in lead_time_error(matched, bucket_hours=24).collect()}
    # lead 1h → bucket 0 (forecast -9 vs actual -10 → MAE 1); lead 25h → bucket 24 (MAE 25)
    assert out[0].mae_temp_f == 1.0
    assert out[0].bias_temp_f == 1.0
    assert out[24].mae_temp_f == 25.0
    assert out[0].n_matched == 2
