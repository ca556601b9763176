"""ensure_min_parallelism: widens narrow inputs, no-op on wide ones;
plan_scan_partitions: its driver-side split count equals Spark's own."""
import contextlib
import os

import pytest
from pyspark.sql import functions as F

from alaska_etl_spark.operators.parallelism import (
    ensure_min_parallelism,
    plan_scan_partitions,
)
from alaska_etl_spark.plans.catalog import TESTDATA_TABLES
from alaska_etl_spark.plans.queries import _t
from tests.test_catalog import SF as _SF_SMALL

#: the sf0.01 testdata star, next to the sf0.001 one the catalog tests read
SF_DIR = os.path.join(os.path.dirname(_SF_SMALL), "sf0.01")


def test_narrow_input_widened_to_shuffle_parallelism(spark):
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.createDataFrame([(i,) for i in range(100)], "id bigint").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = ensure_min_parallelism(df, "id")
    assert out.rdd.getNumPartitions() == nparts
    # values survive the repartition
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(100))


def test_wide_input_is_left_alone(spark):
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.createDataFrame([(i,) for i in range(100)], "id bigint").repartition(
        nparts + 4
    )
    out = ensure_min_parallelism(df, "id")
    assert out is df  # no new plan node at all


def test_no_columns_round_robin(spark):
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.createDataFrame([(i,) for i in range(10)], "id bigint").coalesce(1)
    out = ensure_min_parallelism(df)
    assert out.rdd.getNumPartitions() == nparts
    assert out.count() == 10


# --- plan_scan_partitions: Spark's split math, pinned against Spark -------


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _pinned(df):
    n = plan_scan_partitions(df)
    assert n is not None
    assert n == df.rdd.getNumPartitions()
    return n


#: every testdata scale; sf0.01 cases keep their bare table-name ids
SCALES = {sf: os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")}


@pytest.mark.parametrize(
    "sf, table",
    [
        pytest.param(sf, table, id=table if sf == "sf0.01" else f"{sf}-{table}")
        for sf in SCALES
        for table in TESTDATA_TABLES
    ],
)
def test_plan_scan_partitions_matches_spark_on_testdata(spark, sf, table):
    _pinned(_t(spark, SCALES[sf], table))


def test_plan_scan_partitions_many_tiny_files(spark, tmp_path):
    p = str(tmp_path / "tiny")
    spark.range(400).repartition(40).write.parquet(p)
    assert len(spark.read.parquet(p).inputFiles()) == 40
    _pinned(spark.read.parquet(p))


def test_plan_scan_partitions_splits_one_large_file(spark):
    path = os.path.join(SF_DIR, "lineitem.parquet")
    with _conf(spark, "spark.sql.files.maxPartitionBytes", str(64 << 10)):
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == 1
        assert _pinned(df) > 1  # the one file chops into several splits


def test_plan_scan_partitions_dir_with_empty_file(spark, tmp_path):
    p = tmp_path / "with_empty"
    spark.range(1000).repartition(3).write.parquet(str(p))
    (p / "part-empty.parquet").write_bytes(b"")
    df = spark.read.schema("id bigint").parquet(str(p))
    assert len(df.inputFiles()) == 4
    _pinned(df)


def test_plan_scan_partitions_through_filter_and_select(spark):
    li = _t(spark, SF_DIR, "lineitem")
    _pinned(li.filter("l_quantity > 10").select("l_orderkey", "l_quantity"))


def test_plan_scan_partitions_none_for_non_narrow_plan(spark):
    li = _t(spark, SF_DIR, "lineitem")
    assert plan_scan_partitions(li.groupBy("l_orderkey").count()) is None
