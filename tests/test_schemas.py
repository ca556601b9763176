"""The registry star's declared schemas (``schemas.STAR_SCHEMAS``):
they equal what Spark infers from every star the registry reads, and
reading through them runs no Spark job."""

from __future__ import annotations

import pytest

from alaska_etl_spark.schemas import STAR_SCHEMAS

TESTDATA = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


def _fields(schema):
    return [(f.name, f.dataType) for f in schema]


def _assert_declared(spark, sf_dir):
    for name, schema in STAR_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _fields(inferred) == _fields(schema), name


@pytest.mark.parametrize("sf_dir", TESTDATA)
def test_star_schemas_match_testdata(spark, sf_dir):
    _assert_declared(spark, sf_dir)


def test_star_schemas_match_perfbench_star(spark, tmp_path):
    from perfbench.gen import write_star

    write_star(str(tmp_path), 7, 0.001)
    _assert_declared(spark, str(tmp_path))


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` runs, read from its own job group through
    ``statusTracker`` once the listener bus has caught up."""
    sc = spark.sparkContext
    group = "test-star-reads"
    tracker = sc.statusTracker()
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    before = set(tracker.getJobIdsForGroup(group))
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup(group)) - before)


def test_registry_reads_run_no_jobs(spark):
    from alaska_etl_spark.plans.queries import _t, q02_region_revenue

    sf_dir = TESTDATA[0]
    for name in STAR_SCHEMAS:
        assert _jobs_run_by(spark, lambda: _t(spark, sf_dir, name)) == 0, name
    assert _jobs_run_by(spark, lambda: q02_region_revenue(spark, sf_dir)) == 0
    with pytest.raises(KeyError):
        _t(spark, sf_dir, "no_such_table")
