"""Repo-wide physical-plan audit: EVERY registered query planned at
sf0.001 must be free of (a) true cartesian products and (b)
row-at-a-time Python UDFs (`BatchEvalPython`). Broadcast nested-loop
joins are allowed — several operators broadcast a tiny-by-contract
side (cosine query sets, 1-row corpus counts) with a non-equi or empty
condition, which Spark plans as BNLJ over a broadcast; the per-operator
tests pin those shapes individually.

This is the wholesale form of the per-operator plan pins: any future
operator that sneaks in an interpreted Python UDF or an unbounded
cross join fails here before the driver ever sees it.
"""

from __future__ import annotations

import pytest

from alaska_etl_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: queries whose construction runs real side-effect jobs (rollup
#: refresh loops) — planned AND executed cheaply
#: at sf0.001, but worth listing so a hang is attributable.
_HEAVY_BUILD = {"q87_continuous_rollup"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_no_row_python_udf(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_bm25_postings_cached_and_joins_broadcast(spark):
    """q44 BM25 (slot-rotated from qd5 in r5): the postings table is persisted and read by multiple
    consumers (InMemoryTableScan), the query-idf side broadcasts
    (no sort-merge join anywhere), and the only nested-loop is the
    1-row (N, avgdl) stats broadcast."""
    from alaska_etl_spark.plans.queries import QUERIES

    plan = (
        QUERIES["q44_bm25"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_hard_negatives_broadcast_single_scan(spark):
    """qd6: queries broadcast against one corpus scan (a single
    BroadcastNestedLoopJoin), label filter below the rank window, and
    no sort-merge join."""
    from alaska_etl_spark.plans.queries import QUERIES

    plan = (
        QUERIES["qd6_hard_negatives"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_perplexity_gate_single_scoring_chain(spark):
    """qd7: the scored doc table is persisted — the threshold aggregate
    and the bucket join read the cache instead of re-running the LM
    scoring chain."""
    from alaska_etl_spark.plans.queries import QUERIES

    plan = (
        QUERIES["qd7_perplexity_gate"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
