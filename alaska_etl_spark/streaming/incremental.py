"""Structured Streaming form of the reference's incremental USCRN path
(SURVEY §2.11): the hand-rolled watermark/polling machinery becomes the
engine's built-ins.

| Reference mechanism (batch-polled)          | Here                          |
|---------------------------------------------|-------------------------------|
| watermark = max(date_added_utc) read back   | checkpointed source offsets   |
|   from the sink (uscrn_dag.py:96-112)       |                               |
| new-file discovery vs Last modified         | file stream source            |
|   (uscrn_dag.py:115-131)                    |                               |
| cron trigger (3_gcf_export cell-7)          | trigger(availableNow=True)    |

The parse function is the SAME one the batch path uses
(sources.uscrn) — a streaming DataFrame flows through it unchanged,
which is the point of building on lazy plans: batch and streaming share
one transformation codebase.

Scale: the file source lists incrementally (no re-listing of processed
files thanks to the checkpoint log), and each micro-batch lands through
the batch path's O(batch) load protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from alaska_etl_spark.sources.uscrn import parse_uscrn_lines


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
