"""Registry integrity (plans/queries.py): one name and one exact oracle
per query. Needs no SparkSession."""

from __future__ import annotations

import json
import re
from collections import Counter
from pathlib import Path

import bench
from alaska_etl_spark.plans.queries import ORACLES, QUERIES
from perfbench import query_mix

REPO = Path(__file__).resolve().parent.parent


def _used_names() -> dict[str, set[str]]:
    """Every query name that bench.py, perfbench and BENCHMARK.json use."""
    metrics = json.loads((REPO / "BENCHMARK.json").read_text())["per_layer"]
    return {
        "bench.py": set(bench.HEADLINE) | set(bench.HEAVY),
        "perfbench/query_mix.py": set(query_mix.QUERIES),
        "BENCHMARK.json": {
            m.group(1)
            for x in metrics
            if (m := re.fullmatch(r"plans\.queries\.(\w+)\.\w+", x["name"]))
        },
    }


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    assert set(QUERIES) == set(ORACLES)


def test_no_function_registered_under_two_keys():
    counts = Counter(id(fn) for fn in QUERIES.values())
    aliases = sorted(k for k, fn in QUERIES.items() if counts[id(fn)] > 1)
    assert not aliases, aliases


def test_benchmarked_query_names_are_registry_keys():
    used = _used_names()
    assert all(used.values()), used
    for source, names in used.items():
        assert names <= set(QUERIES), (source, sorted(names - set(QUERIES)))
