"""Dump `.explain("formatted")` per query into plans/r12/<query>_<tag>.txt.

The optimization-round evidence trail: run once with --tag before at the
start of the round and once with --tag after for every touched query;
the judge diffs the pair against the claims in OPTIMIZATION_r12.md.

    python tools/dump_plans.py --tag before [query ...]

With no query list, dumps the bench HEADLINE + HEAVY set (the queries
whose wall-clock the driver grades). Plans are rendered at sf0.001 like
EXPLAINS.md (plan SHAPE is scale-invariant here: strategies are pinned
by hints/contracts, not input statistics).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, choices=["before", "after"])
    ap.add_argument("--round", default="r12")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from bench import HEADLINE, HEAVY

    from alaska_etl_spark.plans.queries import QUERIES
    from alaska_etl_spark.session import get_spark

    names = args.queries or (HEADLINE + HEAVY)
    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump-plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        fn = QUERIES[name]
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # a broken query must be visible, not skipped
            plan = f"EXPLAIN FAILED: {e}"
        # string literals holding a NUL (sentinels like "\x00docs")
        # print it raw; escape it so the dump stays a text file
        plan = plan.replace("\x00", "\\x00")
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {SF_DIR} ({args.tag})\n{plan}\n")
        print(path)


if __name__ == "__main__":
    main()
