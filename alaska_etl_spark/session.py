"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same configuration knobs are the
ones that matter on a 1000-executor cluster: AQE (runtime re-planning,
skew-join splitting, partition coalescing), broadcast threshold (every
dimension table in the star is broadcastable), shuffle partition count,
and Arrow for the few Pandas-UDF code paths.

The reference pipeline hand-rolled memory management (100k-row batches,
gc.collect, spill-to-CSV — reference notebooks/uscrn_scrape.py:84-88);
all of that is replaced by Tungsten spill-aware execution configured here.
"""

from __future__ import annotations

import contextlib
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from alaska_etl_spark import _cds

#: What class-data sharing did for the gateway JVM this process launched
#: last (None before the first launch): ``active``, ``built``,
#: ``rejected`` or ``skipped:<reason>``; see ``alaska_etl_spark._cds``.
#: A ``get_spark`` call that reuses a running JVM leaves it unchanged.
cds_state: str | None = None


def get_spark(
    app_name: str = "alaska-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    A call that launches the gateway JVM starts it from a class-data
    archive that it builds on first use (``alaska_etl_spark._cds``), and
    records the outcome in ``cds_state``.

    Defaults chosen for scale:
      - AQE on: coalesces post-shuffle partitions at small SF, splits
        skewed shuffle partitions at large SF — the same plan text works
        at sf0.001 and at 100 TB.
      - 32 MiB broadcast threshold: all star dims (region/nation/
        supplier/customer at small SF, locations/column_descriptions in
        the weather star) become broadcast-hash joins; the big
        fact-to-fact joins fall through to sort-merge on their keys.
      - 128 MiB file split size: parquet scan parallelism tracks data
        volume, not file count.
      - Arrow enabled for the Pandas-UDF escape hatches (similarity
        search, multimodal decode).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # The AQE coalesce floor stays at the 1 MiB default: lowering
        # it to 64k fixed the simjoin verify (a 4 MB post-distinct
        # exchange feeding CPU-dense array_intersect was coalesced to
        # 3 tasks) but cost q50's k-row aggregates ~0.6 s (measured
        # min-of-4 both ways, r8) — per-stage CPU density is not a
        # session-level property. CPU-dense small-bytes stages get an
        # explicit AQE-proof repartition instead (simjoin candidate
        # frames, q92's Arrow recursion).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 32 MiB, not 64: every star dim at test SFs is ≤ 11 MiB so
        # nothing is lost locally, while scan-derived frames of the
        # 100× stress corpora (~44 MiB estimates) stay OFF the
        # broadcast path — with driver == executor == 8 GiB, several
        # live ~50 MiB-estimate broadcasts (true size bigger) plus 32
        # task threads was enough heap pressure to OOM the stress
        # JVM's last cell (r8). On a real cluster this is a deployment
        # knob; the conditional corpus-grain pin (operators/hints.py)
        # is what guards the misestimated-aggregate class.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Scan-parallelism floor (r12, guide §6): Spark's split size is
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)),
        # so the 4 MiB openCost default caps a 10 MiB table at ~3 scan
        # tasks on a 32-core box — measured 3-task scan+join+agg stages
        # with 29 cores idle (q49 1.84→1.22 s, q16 0.47→0.32 s, q17
        # 0.95→0.84 s, ABAB same-session). Floor the task count at
        # 2×cores and drop openCost to 512 KiB: scale-adaptive by
        # construction — at cluster scale files are ≥128 MiB so neither
        # knob changes split sizes (bytes/minPartitionNum ≥ maxPartition
        # Bytes), while openCost keeps modelling per-file open latency
        # (an object-store GET is ~ms ≈ well under 512 KiB of scan
        # bandwidth, not 4 MiB). Both overridable via env for deploys.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", str(512 * 1024)),
        )
        .config(
            "spark.sql.files.minPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_MIN_PARTITIONS",
                str(2 * int(cpus)),
            ),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InMemoryRelation columnar compression is a per-build CPU tax
        # (r9 A/B on the q23 counts frame: 24 CPU-s cold / 6.5 hot with
        # compression vs 2.4 without — the build was 8× the aggregate
        # it cached). The repo's persist discipline (cache.py) only
        # caches REDUCED index-grain frames — postings, count tables,
        # centroids — never raw corpus rows, so the memory saved by
        # compressing is immaterial while the CPU cost is paid on every
        # cold query. On a memory-tight cluster this is a deployment
        # knob to flip back.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # local mode: the driver JVM IS the executor; Spark's 1g default
        # OOMs a 32-thread sf0.1 sweep (found by the full-registry gate)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame debugging wraps EVERY DataFrame/Column
        # API call with call-site capture: a Python stack walk plus 3
        # py4j round-trips (conf read, PySparkCurrentOrigin.set/clear)
        # per operation, only consumed when an error needs a query
        # context. Plan construction here is thousands of API calls per
        # query (cProfile: 0.45 s of 4.98 s on q07's build alone, ~4 ms
        # per wrapped call), so the default costs seconds per bench run
        # for a debug feature. Off by default, env-overridable for
        # debugging sessions (r13, guide §5 "the driver should do
        # almost no data work" — this was pure driver-side overhead).
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    global cds_state
    spark, cds_state = _cds.launch(builder, extra_conf)
    return spark


@contextlib.contextmanager
def checkpoint_dir_scope(sc, checkpoint_dir: str):
    """Temporarily point the session's checkpoint dir at
    ``checkpoint_dir``, restoring the previously configured dir on
    exit.

    Operators offering a reliable-checkpoint durability tier
    (connected_components, global ranking) take a ``checkpoint_dir``
    argument and checkpoint EAGERLY inside the scope, so the override
    never leaks into later lazily-executed work. This resolves the
    ADVICE-r5 concern (a per-query operator silently clobbering an
    application-level checkpoint dir as permanent session state) while
    still honoring the explicit argument — the caller asked for THAT
    directory, not whichever one happened to be configured. If no dir
    was configured before, the operator's dir stays configured after
    (Spark has no unset API); and because ``setCheckpointDir`` always
    nests a fresh UUID subdirectory under the path it is given, the
    restored dir is a NEW uuid under the previously configured path —
    same tree, same durability and lifecycle, not the same leaf. Those
    are the only residual side effects."""
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(checkpoint_dir)
    try:
        yield
    finally:
        if prev is not None and prev != sc.getCheckpointDir():
            sc.setCheckpointDir(prev)
