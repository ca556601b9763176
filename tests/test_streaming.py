"""Structured Streaming incremental path: availableNow drain into the
warehouse load protocol, checkpoint resume (no reprocessing),
exactly-once through an idempotent sink (SURVEY §2.11)."""

from __future__ import annotations

from alaska_etl_spark.plans.warehouse import Warehouse
from alaska_etl_spark.streaming.incremental import stream_to_warehouse, stream_uscrn
from tests.conftest import uscrn_line

_KEY = ["wbanno", "utc_datetime"]


def test_stream_uscrn_available_now(spark, locations, tmp_path):
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    (src / "f1.txt").write_text(uscrn_line(utc_time=1100) + "\n" + uscrn_line(utc_time=1200) + "\n")
    wh = Warehouse(spark, str(tmp_path / "wh"))

    stream = stream_uscrn(spark, str(src), locations)
    assert stream.isStreaming
    stream_to_warehouse(stream, wh, "uscrn", str(ckpt), key_cols=_KEY)
    got = wh.read("uscrn")
    assert got.count() == 2
    assert got.schema["t_calc"].dataType.simpleString() == "double"


def test_checkpoint_resume_no_reprocessing(spark, locations, tmp_path):
    """The checkpoint replaces the reference's watermark-readback: a new
    run picks up only files it has not seen (uscrn_dag.py:96-131).
    Staging is overwritten per micro-batch, so after the second drain it
    holds exactly what that drain read — the sink's anti-join would hide
    a replay in main, staging does not."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    (src / "f1.txt").write_text(uscrn_line(utc_time=1100) + "\n")
    stream = stream_uscrn(spark, str(src), locations)
    stream_to_warehouse(stream, wh, "uscrn", str(ckpt), key_cols=_KEY)

    (src / "f2.txt").write_text(uscrn_line(utc_time=1200) + "\n")
    stream_to_warehouse(
        stream_uscrn(spark, str(src), locations), wh, "uscrn", str(ckpt), key_cols=_KEY
    )

    staged = [r.utc_datetime.hour for r in wh.read_staging("uscrn", stream.schema).collect()]
    assert staged == [12]  # f1 NOT re-read
    hours = sorted(r.utc_datetime.hour for r in wh.read("uscrn").collect())
    assert hours == [11, 12]


def test_stream_to_warehouse_exactly_once(spark, locations, tmp_path):
    """foreachBatch + hash-anti-join sink: duplicates across batches do
    not double-insert, and a full REPLAY (checkpoint wiped) is a no-op —
    exactly-once from an at-least-once source + idempotent sink."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    line = uscrn_line(utc_time=1100)
    (src / "f1.txt").write_text(line + "\n")

    def drain():
        stream_to_warehouse(
            stream_uscrn(spark, str(src), locations),
            wh, "uscrn", str(ckpt), key_cols=_KEY,
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
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    line = uscrn_line(utc_time=1100)
    # same key twice in one batch (two files, one micro-batch)
    (src / "f1.txt").write_text(line + "\n")
    (src / "f2.txt").write_text(line + "\n")
    stream_to_warehouse(
        stream_uscrn(spark, str(src), locations),
        wh, "uscrn", str(ckpt), key_cols=_KEY,
    )
    assert wh.read("uscrn").count() == 1
