"""Structured Streaming incremental path: availableNow drain, checkpoint
resume (no reprocessing), windowed hourly aggregate parity with the
batch path (SURVEY §2.11)."""

from __future__ import annotations

import datetime as dt

from alaska_etl_spark.sources.wind import hourly_wind_avg, parse_wind_lines
from alaska_etl_spark.streaming.incremental import (
    run_available_now,
    stream_hourly_wind,
    stream_uscrn,
    stream_wind_readings,
)
from tests.conftest import uscrn_line, wind_line


def test_stream_uscrn_available_now(spark, locations, tmp_path):
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "f1.txt").write_text(uscrn_line(utc_time=1100) + "\n" + uscrn_line(utc_time=1200) + "\n")

    stream = stream_uscrn(spark, str(src), locations)
    assert stream.isStreaming
    run_available_now(stream, str(out), str(ckpt))
    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert got.schema["t_calc"].dataType.simpleString() == "double"


def test_checkpoint_resume_no_reprocessing(spark, locations, tmp_path):
    """The checkpoint replaces the reference's watermark-readback: a new
    run picks up only files it has not seen (uscrn_dag.py:96-131)."""
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "f1.txt").write_text(uscrn_line(utc_time=1100) + "\n")
    stream = stream_uscrn(spark, str(src), locations)
    run_available_now(stream, str(out), str(ckpt))

    (src / "f2.txt").write_text(uscrn_line(utc_time=1200) + "\n")
    run_available_now(stream_uscrn(spark, str(src), locations), str(out), str(ckpt))

    got = spark.read.parquet(str(out))
    assert got.count() == 2  # f1 NOT reprocessed
    hours = sorted(r.utc_datetime.hour for r in got.collect())
    assert hours == [11, 12]


def test_windowed_hourly_matches_batch(spark, locations, tmp_path):
    """Streaming tumbling-window mean == batch groupBy mean for every
    window the watermark has closed (append-mode semantics: a window
    emits exactly once, when event time passes window end + delay; the
    still-open tail window correctly stays in state)."""
    rows = [
        wind_line(utc_time=1205, wind=2.0),
        wind_line(utc_time=1210, wind=3.0),
        wind_line(utc_time=1215, wind=4.0),
        wind_line(utc_time=1220, wind=100.0, flag="3"),  # excluded by QC
        wind_line(utc_time=1305, wind=10.0),
    ]
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    (src / "w1.txt").write_text("\n".join(rows) + "\n")
    run_available_now(
        stream_hourly_wind(stream_wind_readings(spark, str(src), locations)),
        str(out), str(ckpt),
    )
    # second drop advances the watermark (16:05 - 2h = 14:05) past the
    # 12:00 and 13:00 windows, which now emit exactly once
    (src / "w2.txt").write_text(wind_line(utc_time=1605, wind=7.0) + "\n")
    run_available_now(
        stream_hourly_wind(stream_wind_readings(spark, str(src), locations)),
        str(out), str(ckpt),
    )
    streamed = {
        (r.wbanno, r.utc_datetime): r.wind_hr_avg
        for r in spark.read.parquet(str(out)).collect()
    }

    batch_lines = spark.createDataFrame([(r,) for r in rows], "value string")
    batch = {
        (r.wbanno, r.utc_datetime): r.wind_hr_avg
        for r in hourly_wind_avg(parse_wind_lines(batch_lines, locations)).collect()
    }
    assert streamed == batch  # closed windows agree; 16:00 window still open
    assert streamed[("26494", dt.datetime(2023, 1, 15, 12, 0))] == 3.0


def test_stream_to_warehouse_exactly_once(spark, locations, tmp_path):
    """foreachBatch + hash-anti-join sink: duplicates across batches do
    not double-insert, and a full REPLAY (checkpoint wiped) is a no-op —
    exactly-once from an at-least-once source + idempotent sink."""
    from alaska_etl_spark.plans.warehouse import Warehouse
    from alaska_etl_spark.streaming.incremental import stream_to_warehouse

    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    line = uscrn_line(utc_time=1100)
    (src / "f1.txt").write_text(line + "\n")

    def drain():
        stream_to_warehouse(
            stream_uscrn(spark, str(src), locations),
            wh, "uscrn", str(ckpt), key_cols=["wbanno", "utc_datetime"],
        )

    drain()
    assert wh.read("uscrn").count() == 1

    # same line again in a new file: delivered again, not re-inserted
    (src / "f2.txt").write_text(line + "\n" + uscrn_line(utc_time=1200) + "\n")
    drain()
    assert wh.read("uscrn").count() == 2

    # wipe the checkpoint → the whole source replays → still 2 rows
    import shutil

    shutil.rmtree(ckpt)
    drain()
    assert wh.read("uscrn").count() == 2


def test_stream_to_warehouse_dedups_within_batch(spark, locations, tmp_path):
    """Duplicate-key rows arriving in the SAME micro-batch collapse to
    one — the anti-join alone only guards against rows already in main
    (ADVICE r1: the in-batch gap)."""
    from alaska_etl_spark.plans.warehouse import Warehouse
    from alaska_etl_spark.streaming.incremental import stream_to_warehouse

    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    line = uscrn_line(utc_time=1100)
    # same key twice in one batch (two files, one micro-batch)
    (src / "f1.txt").write_text(line + "\n")
    (src / "f2.txt").write_text(line + "\n")
    stream_to_warehouse(
        stream_uscrn(spark, str(src), locations),
        wh, "uscrn", str(ckpt), key_cols=["wbanno", "utc_datetime"],
    )
    assert wh.read("uscrn").count() == 1
