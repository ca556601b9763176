"""``query_mix``: the analyst's read path — registry queries over a
generated star, each run cold and then warm, with the operator caches
released between queries. One client, closed loop. Every result is
checked against the query's DuckDB oracle."""

from __future__ import annotations

import os
import time

from perfbench.gen import write_star
from perfbench.instrument import layer_spans

#: relational, time-series, dedup, similarity, retrieval and LM queries;
#: each has an exact DuckDB oracle
QUERIES = (
    "q01_pricing_summary q02_region_revenue q17_asof_join q34_sessionize "
    "q92_ewma q29_minhash_lsh q88_cosine_simjoin q44_bm25 q89_lm_perplexity "
    "qs1_line_dedup"
).split()
SF = 0.01
WARMUP_SF = 0.001


def make_inputs(work: str, seed: int) -> dict:
    star, tiny = os.path.join(work, "star"), os.path.join(work, "star_tiny")
    write_star(tiny, seed + 1, WARMUP_SF)
    return {"star": star, "tiny": tiny, "rows": write_star(star, seed, SF)}


def warm_up(spark, inputs: dict) -> None:
    """Each query once, at the smallest input."""
    from alaska_etl_spark.cache import release_tracked
    from alaska_etl_spark.plans.queries import QUERIES as REGISTRY

    for q in QUERIES:
        REGISTRY[q](spark, inputs["tiny"]).toPandas()
        release_tracked()


def oracle_keys(star: str) -> dict:
    import duckdb

    from alaska_etl_spark.plans.queries import ORACLES
    from tools.check_correctness import TABLES, frame_keys

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star}/{t}.parquet'")
        return {q: frame_keys(con.execute(ORACLES[q]).df()) for q in QUERIES}
    finally:
        con.close()


def run(spark, rec, inputs: dict, seconds: float) -> dict:
    from alaska_etl_spark.cache import release_tracked
    from alaska_etl_spark.plans.queries import QUERIES as REGISTRY
    from tools.check_correctness import frame_keys

    star = inputs["star"]
    results: dict[str, list] = {q: [] for q in QUERIES}
    cold: dict[str, list[float]] = {q: [] for q in QUERIES}
    warm: dict[str, list[float]] = {q: [] for q in QUERIES}
    failed = 0

    def call(q: str, phase: str) -> float:
        nonlocal failed
        t0 = time.perf_counter()
        try:
            with rec.span(f"plans.queries.{q}.{phase}", query=q):
                with rec.span(f"plans.queries.{q}.build"):
                    df = REGISTRY[q](spark, star)
                pdf = df.toPandas()
            wall = time.perf_counter() - t0
            results[q].append(frame_keys(pdf))
        except Exception as e:  # a failing query is counted, the mix goes on
            wall = time.perf_counter() - t0
            failed += 1
            print(f"query_mix: {q} {phase} raised {type(e).__name__}: {e}", flush=True)
        return wall

    passes: list[tuple[float, float]] = []
    units: list[tuple[float, bool]] = []
    min_passes = 3 if rec.trace_mode else 1  # traced: first, then off, on
    deadline = time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() + sum(passes[-1]) < deadline:
        traced = rec.unit(len(passes))
        with layer_spans(rec), rec.span("query_mix.pass", new_trace=True):
            for q in QUERIES:
                cold[q].append(call(q, "cold"))
                warm[q].append(call(q, "warm"))
                with rec.span("cache.release_tracked") as s:
                    n = release_tracked()
                    if s is not None:
                        s.attrs["released"] = n
        passes.append((sum(cold[q][-1] for q in QUERIES), sum(warm[q][-1] for q in QUERIES)))
        units.append((sum(passes[-1]), traced))

    expected = oracle_keys(star)
    for q in QUERIES:
        for keys in results[q]:
            if keys != expected[q]:
                failed += 1
                print(f"query_mix: {q} differs from its DuckDB oracle", flush=True)
    n_calls = 2 * len(QUERIES) * len(passes)
    op_s = [w for q in QUERIES for w in cold[q] + warm[q]]
    return {
        "attempted": n_calls,
        "failed": failed,
        "op_s": op_s,
        "items_per_s": n_calls / sum(c + w for c, w in passes),
        "units": units,
        "info": {
            "op": "one query call (plan build + toPandas), cold or warm",
            "items": "query calls completed",
            "passes": len(passes),
            "mix_cold_s": [c for c, _ in passes],
            "mix_warm_s": [w for _, w in passes],
            "input_rows": inputs["rows"],
        },
    }
