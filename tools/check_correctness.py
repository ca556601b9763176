"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
same sf, compare row count + column set + order-insensitive values.

Round-1 lesson (VERDICT.md "What's wrong" #1-2): the driver fetches
both result sets through pandas/Arrow, where DuckDB's HUGEINT (any
integer SUM) becomes float64 while Spark emits int64 — str()-based
canonicalization over fetchall() masked exactly that class of bug
(q34 session_id, q44 CASE-sums). This replica therefore:

- fetches DuckDB via ``.df()`` and Spark via ``.toPandas()`` (the
  pandas/Arrow path, same family as the driver), and
- canonicalizes values WITH a type tag (``i:``/``f:``/``t:``/...), so
  int64 9943 != float64 9943.0 and micros != nanos timestamps.

Strictly stronger than the driver as far as we can observe it: a local
pass may still be a driver fail in principle, but every divergence the
driver has flagged so far is caught here.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alaska_etl_spark.schemas import STAR_SCHEMAS  # noqa: E402

TABLES = list(STAR_SCHEMAS)


def canon(v):
    """Type-tagged canonical string for one cell value."""
    # missing first: None, NaN, NaT (pd.isna on arrays returns arrays — guard)
    if v is None:
        return "∅"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(v[k])}" for k in sorted(v)) + "}"
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"
        return f"f:{f!r}"
    if isinstance(v, _decimal.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, _dt.datetime):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, _dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, str):
        return f"s:{v}"
    return f"o:{v!r}"


def frame_keys(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(canon(v) for v in row))
    out.sort()
    return out


def main():
    argv = list(sys.argv[1:])
    # --json PATH writes the per-query verdicts as a committed artifact
    # (ADVICE r11: the repo carried no auditable record that non-
    # headline oracles were gated at all sfs — now every sweep can
    # leave one).
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    # extra args = query names to run (space- or comma-separated; a
    # bare "--only" marker is tolerated). UNKNOWN names are an ERROR:
    # a silent no-match run prints "all queries match" vacuously — the
    # r9 footgun that let four broken oracles masquerade as verified.
    only = {
        n
        for a in argv[1:]
        if a != "--only"
        for n in a.split(",")
        if n
    }

    import duckdb

    import __spark_entry__ as entrymod
    from alaska_etl_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        sys.exit(f"unknown query names (nothing was checked): {sorted(unknown)}")
    failures = []
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spdf = sdf.toPandas()
        # operators persist fan-in intermediates by design (SCALE.md
        # "Cache policy"); in a 137-query sweep those accumulate and at
        # sf0.1 they OOM'd the driver heap mid-sweep — each query's
        # caches are throwaways here, so drop them before the next one
        spark.catalog.clearCache()
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(spdf)} rows")
            record[name] = {"status": "rows_only", "rows": len(spdf)}
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:28s} ORACLE ERROR: {e}")
            failures.append(name)
            record[name] = {"status": "oracle_error", "rows": len(spdf)}
            continue
        ok = True
        if sorted(spdf.columns) != sorted(opdf.columns):
            print(
                f"{name:28s} COLUMN MISMATCH spark={sorted(spdf.columns)} "
                f"oracle={sorted(opdf.columns)}"
            )
            ok = False
        elif len(spdf) != len(opdf):
            print(f"{name:28s} ROWCOUNT MISMATCH spark={len(spdf)} oracle={len(opdf)}")
            ok = False
        else:
            skeys = frame_keys(spdf)
            okeys = frame_keys(opdf)
            if skeys != okeys:
                ndiff = sum(1 for a, b in zip(skeys, okeys) if a != b)
                print(f"{name:28s} VALUE MISMATCH ({ndiff}/{len(skeys)} rows differ)")
                for a, b in zip(skeys, okeys):
                    if a != b:
                        print(f"    spark : {a}")
                        print(f"    oracle: {b}")
                        break
                ok = False
        if ok:
            print(f"{name:28s} OK ({len(spdf)} rows)")
            record[name] = {"status": "ok", "rows": len(spdf)}
        else:
            failures.append(name)
            record[name] = {"status": "fail", "rows": len(spdf)}

    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(record), "results": record},
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_path}")

    print()
    if failures:
        print(f"FAILED: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
