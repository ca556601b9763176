"""Continuous-aggregate maintenance (plans/rollup.py): the incremental
refresh over any batching/ordering of the stream must equal the one-shot
rollup — including late data re-opening an already-written bucket, the
case the reference's finalized-mean append cannot handle
(uscrn_wind_dag.py:184-189)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from alaska_etl_spark.plans.rollup import (
    DAY_COL,
    finalize,
    hourly_partials,
    merge_partials,
    refresh_rollup,
)

SCHEMA = "user_id bigint, ts timestamp_ntz, value double"


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.fromisoformat(t), v) for u, t, v in rows], SCHEMA
    )


def _full(spark, rows):
    ev = _events(spark, rows)
    return finalize(
        hourly_partials(ev, key_cols=["user_id"], ts_col="ts", val_col="value")
    )


ROWS = [
    (1, "2024-01-01T10:05:00", 1.25),
    (1, "2024-01-01T10:40:00", 2.75),
    (1, "2024-01-01T11:10:00", 4.00),
    (2, "2024-01-01T10:20:00", 10.50),
    (2, "2024-01-03T09:59:59", 7.25),
    (1, "2024-01-03T09:00:00", 0.50),
]


def _canon(df):
    return sorted(
        (r.bucket, r.user_id, r.n, r.avg_val, r.min_val, r.max_val, r.sum_val)
        for r in df.collect()
    )


def test_incremental_refresh_equals_one_shot(spark, tmp_path):
    """Three interleaved batches — the third is LATE data into hours
    written by batch one — must finalize identically to aggregating
    everything at once."""
    path = str(tmp_path / "rollup")
    batches = [ROWS[0:2], ROWS[2:5], ROWS[5:]]
    for b in batches:
        refresh_rollup(
            spark, _events(spark, b), path,
            key_cols=["user_id"], ts_col="ts", val_col="value",
        )
    got = _canon(finalize(spark.read.parquet(path)))
    want = _canon(_full(spark, ROWS))
    assert got == want
    # late row (user 1, Jan-3 09:00) merged into a bucket alongside
    # batch-2's row, and batch-1's 10:00 bucket was re-opened correctly
    assert len(got) == 5  # (10:00,u1) (10:00,u2) (11:00,u1) (09:00,u1) (09:00,u2)


def test_refresh_prunes_to_affected_day_partitions(spark, tmp_path):
    """A batch touching only Jan-3 must leave the Jan-1 partition files
    byte-identical (dynamic partition overwrite rewrote one directory)."""
    import os

    path = str(tmp_path / "rollup")
    refresh_rollup(
        spark, _events(spark, ROWS[0:4]), path,
        key_cols=["user_id"], ts_col="ts", val_col="value",
    )

    def day_files(day):
        d = os.path.join(path, f"{DAY_COL}={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = day_files("2024-01-01")
    refresh_rollup(
        spark, _events(spark, ROWS[4:]), path,
        key_cols=["user_id"], ts_col="ts", val_col="value",
    )
    assert day_files("2024-01-01") == before  # untouched partition intact
    assert day_files("2024-01-03")  # new day exists
    got = _canon(finalize(spark.read.parquet(path)))
    assert got == _canon(_full(spark, ROWS))


def test_merge_partials_is_order_insensitive(spark):
    a = hourly_partials(
        _events(spark, ROWS[0:3]), key_cols=["user_id"], ts_col="ts", val_col="value"
    )
    b = hourly_partials(
        _events(spark, ROWS[3:]), key_cols=["user_id"], ts_col="ts", val_col="value"
    )
    ab = _canon(finalize(merge_partials(a, b, key_cols=["user_id"])))
    ba = _canon(finalize(merge_partials(b, a, key_cols=["user_id"])))
    assert ab == ba == _canon(_full(spark, ROWS))


def test_existing_rollup_read_is_partition_pruned(spark, tmp_path):
    """Scale pin: the refresh reads the existing rollup through a
    partition filter on the affected days — visible as PartitionFilters
    in the scan, not a full-table read."""
    path = str(tmp_path / "rollup")
    refresh_rollup(
        spark, _events(spark, ROWS), path,
        key_cols=["user_id"], ts_col="ts", val_col="value",
    )
    existing = spark.read.parquet(path)
    pruned = existing.filter(F.col(DAY_COL).isin(["2024-01-03"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert f"{DAY_COL}#" in plan.split("PartitionFilters")[1][:200]
