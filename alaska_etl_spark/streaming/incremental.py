"""Structured Streaming form of the reference's incremental paths
(SURVEY §2.11): the hand-rolled watermark/polling machinery becomes the
engine's built-ins.

| Reference mechanism (batch-polled)          | Here                          |
|---------------------------------------------|-------------------------------|
| watermark = max(date_added_utc) read back   | checkpointed source offsets   |
|   from the sink (uscrn_dag.py:96-112)       |                               |
| new-file discovery vs Last modified         | file stream source            |
|   (uscrn_dag.py:115-131)                    |                               |
| reverse scan until event-time cutoff        | withWatermark("utc_datetime") |
|   (uscrn_wind_dag.py:152-160)               |                               |
| 5-min → hourly mean (uscrn_wind:184-189)    | 1h tumbling window aggregate  |
| cron trigger (3_gcf_export cell-7)          | trigger(availableNow=True)    |

The parse functions are the SAME ones the batch path uses
(sources.uscrn / sources.wind) — a streaming DataFrame flows through
them unchanged, which is the point of building on lazy plans: batch and
streaming share one transformation codebase.

Scale: the file source lists incrementally (no re-listing of processed
files thanks to the checkpoint log); the windowed aggregate keeps one
(station, hour) state row per open window, bounded by the watermark
delay; shuffle partitioning follows spark.sql.shuffle.partitions and
state is RocksDB-able via config without code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alaska_etl_spark.sources.uscrn import parse_uscrn_lines
from alaska_etl_spark.sources.wind import parse_wind_lines


def stream_uscrn(
    spark: SparkSession,
    path: str,
    locations: DataFrame,
    **parse_kwargs,
) -> DataFrame:
    """Streaming variant of sources.uscrn.read_uscrn: a file-source
    stream of raw hourly lines → typed rows. Dedup is disabled in-stream
    (a global dropDuplicates would hold unbounded state); cross-batch
    idempotence belongs to the sink protocol (Warehouse hash anti-join
    in foreachBatch), matching the reference's dedup-at-load placement.

    ``locations`` is re-broadcast every micro-batch: give a JVM-backed
    dim (:func:`~alaska_etl_spark.functions.localrel.local_df` or
    parquet), not ``spark.createDataFrame(<list>)``, whose scan runs
    through Python workers (see
    :func:`~alaska_etl_spark.sources.uscrn.parse_uscrn_lines`).
    """
    lines = spark.readStream.format("text").load(path)
    return parse_uscrn_lines(lines, locations, dedup=False, **parse_kwargs)


def stream_wind_readings(spark: SparkSession, path: str, locations: DataFrame) -> DataFrame:
    lines = spark.readStream.format("text").load(path)
    return parse_wind_lines(lines, locations)


def stream_hourly_wind(
    readings: DataFrame,
    *,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """5-min readings stream → hourly mean per station (the reference's
    uscrn_wind aggregate as a tumbling window).

    ``withWatermark`` on event time is the principled version of the
    reference's reverse-scan-until-cutoff: readings later than
    ``watermark_delay`` behind the max seen event time are dropped and
    every window closes exactly once (append mode). Bad rows are
    excluded before aggregation (P6), same as the batch path.
    """
    good = readings.filter(~F.col("bad_row"))
    # Event-time watermarks require TIMESTAMP (not NTZ). utc_datetime is
    # UTC wall clock and the engine session pins spark.sql.session.timeZone
    # to UTC, so the round-trip cast is lossless; the output goes back to
    # NTZ to match the batch table schema.
    good = good.withColumn("_evt", F.col("utc_datetime").cast("timestamp"))
    win = (
        good.withWatermark("_evt", watermark_delay)
        .groupBy(
            F.window("_evt", "1 hour").alias("_w"),
            "station_location",
            "wbanno",
        )
        .agg(F.round(F.avg("wind_1_5"), 3).alias("wind_hr_avg"))
    )
    return win.select(
        "station_location",
        "wbanno",
        F.col("_w.start").cast("timestamp_ntz").alias("utc_datetime"),
        "wind_hr_avg",
    )


def _drain(writer, checkpoint: str) -> None:
    """One cron tick: start ``writer`` under ``checkpoint`` with
    ``trigger(availableNow)``, which processes everything available now
    in micro-batches and stops, and block until it has. The next call
    resumes from the checkpointed offsets. Every query this module
    starts runs through here."""
    (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_to_warehouse(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    key_cols: list[str],
    partition_col: str | None = None,
) -> None:
    """Streaming form of the K2→K4 load protocol: every micro-batch runs
    the SAME staging-overwrite + hash-anti-join append the batch path
    uses (``Warehouse.load``), via ``foreachBatch``.

    End-to-end exactly-once without transactional sinks: the source is
    at-least-once (checkpointed offsets; a batch may replay after a
    crash between sink write and commit), and the sink is idempotent
    (content-hash anti-join drops every already-landed row), so replays
    are no-ops. This is the principled version of the reference's
    tolerated double-load bug (nws_dag.py:175+187 loads staging twice;
    SURVEY §2.11) — here a double delivery cannot double-insert.

    The anti-join only drops rows already IN main, so duplicate-key rows
    arriving within one micro-batch must be collapsed first —
    ``dropDuplicates(key_cols)`` inside the sink closes that gap (the
    batch path reaches the same invariant via its upstream
    dedup_keep_first).
    """

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        warehouse.load(
            batch_df.dropDuplicates(key_cols),
            table,
            key_cols=key_cols,
            partition_col=partition_col,
        )

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def run_available_now(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    output_mode: str = "append",
) -> None:
    """Drain everything currently available and stop — the streaming
    equivalent of the reference's cron-triggered batch run
    (trigger(availableNow): incremental listing + checkpointed offsets,
    so the next invocation resumes where this one stopped)."""
    _drain(
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .outputMode(output_mode),
        checkpoint,
    )
