"""Dump `.explain("formatted")` for every bench-headline query into
EXPLAINS.md — the checked-in physical-plan evidence trail.

Regenerate after plan-affecting changes:

    python tools/explain_audit.py          # writes EXPLAINS.md at sf0.001

Plans are rendered at sf0.001 (plan SHAPE is scale-invariant for these
queries: join strategies are pinned by hints/contracts, not by input
statistics — AQE may re-plan sizes at runtime but the audit documents
the static strategy Catalyst chose)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from bench import HEADLINE

    from alaska_etl_spark.plans.queries import QUERIES
    from alaska_etl_spark.session import get_spark

    # Diff-proof coverage (VERDICT r5 #7): the headline set first (the
    # plans a perf reader looks for), then EVERY other registered query
    # in sorted order — a newly registered query can never be missing
    # from EXPLAINS.md, because the list is derived, not hand-kept.
    names = HEADLINE + sorted(q for q in QUERIES if q not in HEADLINE)

    spark = get_spark("explain-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# EXPLAINS — formatted physical plans: bench headline set first, then every registered query",
        "",
        f"Generated by `python tools/explain_audit.py` at `{SF_DIR}`.",
        "Read top-down per query: scan → (pushed filters / read schema) →",
        "joins (broadcast vs shuffle) → aggregates (partial/final) →",
        "exchanges. The per-operator plan pins in tests/ assert the",
        "load-bearing properties; this file is the full human-readable dump.",
        "",
    ]
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # string literals holding a NUL (sentinels like "\x00docs")
        # print it raw; escape it so the dump stays a text file
        plan = plan.replace("\x00", "\\x00")
        out.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(names)} plans)")


if __name__ == "__main__":
    main()
