"""Tracked operator caches (alaska_etl_spark/cache.py): the release
valve for operator-internal persists (SCALE.md "Cache policy")."""

from __future__ import annotations

import pathlib
import re

from alaska_etl_spark.cache import release_tracked, tracked_persist


def test_tracked_persist_and_release(spark):
    df = tracked_persist(spark.range(100).selectExpr("id", "id * 2 AS v"))
    df.count()
    assert df.is_cached
    n = release_tracked()
    assert n >= 1
    assert not df.is_cached
    # idempotent: nothing left to release
    assert release_tracked() == 0


def test_no_bare_persist_outside_cache_module():
    """The invariant the release valve implies (VERDICT r5 #4): every
    operator persist routes through tracked_persist, so release_tracked
    can always free it. A bare ``.persist()`` anywhere else in the
    package is a leak waiting to happen — fail on any hit."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "alaska_etl_spark"
    offenders = []
    for path in pkg.rglob("*.py"):
        if path.name == "cache.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.persist\(", code):
                offenders.append(f"{path.relative_to(pkg)}:{i}: {line.strip()}")
    assert not offenders, "bare .persist() outside cache.py:\n" + "\n".join(offenders)


def test_tracked_registry_is_thread_safe(spark):
    """Concurrent tracked_persist/release_tracked from driver threads
    never corrupt the registry (ADVICE r5: lock added)."""
    import threading

    errors = []

    def work(tag):
        try:
            for i in range(10):
                df = tracked_persist(spark.range(50).selectExpr(f"id + {i} AS v{tag}"))
                df.count()
                release_tracked()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert release_tracked() == 0  # registry fully drained


def test_checkpoint_dir_scope_overrides_then_restores(spark, tmp_path):
    """The operator's explicit checkpoint_dir wins INSIDE the scope;
    any application-configured dir is restored on exit (ADVICE r5 —
    no permanent session-state side effect from a per-query call)."""
    from alaska_etl_spark.session import checkpoint_dir_scope

    sc = spark.sparkContext
    first = str(tmp_path / "ck_first")
    second = str(tmp_path / "ck_second")
    with checkpoint_dir_scope(sc, first):
        assert first.split("/")[-1] in sc.getCheckpointDir()
        configured = sc.getCheckpointDir()
        with checkpoint_dir_scope(sc, second):
            assert second.split("/")[-1] in sc.getCheckpointDir()
            assert first.split("/")[-1] not in sc.getCheckpointDir()
        # restored INTO the enclosing scope's tree (setCheckpointDir
        # nests a fresh uuid each call — see checkpoint_dir_scope)
        assert sc.getCheckpointDir().startswith(configured)
        assert second.split("/")[-1] not in sc.getCheckpointDir()
