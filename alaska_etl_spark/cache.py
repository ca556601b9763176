"""Tracked operator caches.

Several operators persist a fan-in intermediate by design (MinHash
per-doc tables, BM25 postings, LM token/bigram rows, graph edges, the
global-ranking numbered table — see SCALE.md "Cache policy"): the
cached table is consumed by 2+ downstream branches of the SAME query,
and without materialization each branch re-runs the expensive subtree.

The flip side (ADVICE r4): those ``persist()`` registrations live in
Spark's CacheManager until explicitly unpersisted, so a long-lived
session composing operators repeatedly accumulates dead caches (each
one is small — doc-grain or vocabulary-grain — but unbounded in
number). The operators cannot unpersist themselves: their result is
lazy, so the cache must outlive the function and stay alive until the
caller's terminal action.

This module is the release valve. Operators route their persists
through :func:`tracked_persist`; a long-lived caller calls
:func:`release_tracked` between units of work:

    bm25_topk(...).collect()          # caches live here
    release_tracked()                 # caches released

One-shot jobs (bench.py, the driver) never need to bother — session
teardown drops everything. ``tools/check_correctness.py`` calls
``spark.catalog.clearCache()`` between queries, which also clears
these (clearCache is a superset of release_tracked).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# _LOCK guards the registry's list mutations so concurrent driver
# threads never corrupt it or double-release an entry (ADVICE r5).
_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration for later bulk release."""
    df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked cache (best-effort; a cache whose
    session already stopped is skipped). Returns the number released."""
    with _LOCK:
        released = _TRACKED[:]
        _TRACKED.clear()
    n = 0
    for df in released:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
