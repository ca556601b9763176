"""End-to-end pipelines — the engine's equivalents of the reference's
three Airflow DAGs (SURVEY §3), each a single lazy Spark plan feeding
the Warehouse load protocol.

| Reference DAG                  | Here                        |
|--------------------------------|-----------------------------|
| uscrn_dag (hourly actuals)     | :func:`run_uscrn`           |
| uscrn_wind_dag (5-min → hourly)| :func:`run_wind`            |
| nws_dag (forecast snapshots)   | :func:`run_nws`             |
| (downstream Looker/BQ query)   | :func:`run_forecast_report` |

Each run function is idempotent end-to-end: re-running with the same
inputs appends nothing (Warehouse hash anti-join), which subsumes the
reference's watermark bookkeeping AND fixes its double-load bug in one
mechanism. Watermark-style pruning is still available via the
``watermark`` argument (maps to partition pruning when main tables are
partitioned by ``utc_date``, SURVEY §4).

The orchestration layer the reference needed (XCom shuttling, task
splits, dict/string IRs — SURVEY §3.1 'IR chain') does not exist here:
there is nothing to orchestrate inside one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from alaska_etl_spark.plans.analytics import forecast_vs_actual, lead_time_error
from alaska_etl_spark.plans.warehouse import Warehouse
from alaska_etl_spark.sources.nws import forecast_long_df, pivot_forecast
from alaska_etl_spark.sources.uscrn import parse_uscrn_lines
from alaska_etl_spark.sources.wind import hourly_wind_avg, parse_wind_lines

#: partition column added to the fact tables at load: day of utc_datetime.
#: At 100 TB this is what makes watermark filters partition-prunes and
#: the forecast-vs-actual join partition-local (SURVEY §4).
PARTITION_COL = "utc_date"


def _with_partition(df: DataFrame) -> DataFrame:
    return df.withColumn(PARTITION_COL, F.to_date("utc_datetime"))


def run_uscrn(
    spark: SparkSession,
    warehouse: Warehouse,
    lines: DataFrame,
    locations: DataFrame,
    *,
    watermark=None,
    convert_to_f: bool = True,
) -> dict:
    """Raw hourly lines → uscrn main table (reference uscrn_dag §3.1).
    Returns load metrics ({n_rows})."""
    df = parse_uscrn_lines(lines, locations, convert_to_f=convert_to_f)
    if watermark is not None:
        df = df.filter(F.col("utc_datetime") > F.lit(watermark))
    # A6/C4: in-plan metrics (reference logged row counts task-side,
    # uscrn_dag.py:264); observe() rides the write action, costing no
    # extra pass at any scale.
    obs = Observation("uscrn_load")
    df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    warehouse.load(
        _with_partition(df),
        "uscrn",
        key_cols=["wbanno", "utc_datetime"],
        partition_col=PARTITION_COL,
    )
    return dict(obs.get)


def run_wind(
    spark: SparkSession,
    warehouse: Warehouse,
    lines: DataFrame,
    locations: DataFrame,
    *,
    watermark=None,
) -> dict:
    """Raw 5-min wind lines → hourly uscrn_wind table (reference
    uscrn_wind_dag §3.3: watermark → filter → project → group-agg →
    append, literally)."""
    parsed = parse_wind_lines(lines, locations, watermark=watermark)
    # bad-row ratio metric (the reference's QC log, uscrn_wind_dag.py:162)
    obs = Observation("wind_qc")
    parsed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_readings"),
        F.sum(F.col("bad_row").cast("long")).alias("n_bad"),
    )
    hourly = hourly_wind_avg(parsed)
    warehouse.load(
        _with_partition(hourly),
        "uscrn_wind",
        key_cols=["wbanno", "utc_datetime"],
        partition_col=PARTITION_COL,
    )
    m = dict(obs.get)
    m["bad_ratio"] = (m["n_bad"] or 0) / m["n_readings"] if m["n_readings"] else 0.0
    return m


def run_nws(
    spark: SparkSession,
    warehouse: Warehouse,
    tables: list[dict],
    *,
    year: int,
) -> None:
    """Scraped landscape tables → nws snapshot table (reference nws_dag
    §3.2). ``year`` is explicit — never wall clock (SURVEY §7.4).

    The snapshot is built on the driver (``pivot_forecast``) and enters
    Spark as one typed single-partition relation (``forecast_long_df``),
    so the load's plan has no shuffle and no Python-worker scan before
    the staging write.

    Snapshot semantics: the key includes last_update_nws, so re-loading
    the same snapshot is a no-op while a NEW snapshot of the same
    forecast hours appends (history kept, reference §1.1)."""
    snap = forecast_long_df(spark, pivot_forecast(tables, year=year))
    warehouse.load(
        _with_partition(snap),
        "nws",
        key_cols=["location", "utc_datetime", "last_update_nws"],
        partition_col=PARTITION_COL,
    )


def run_forecast_report(warehouse: Warehouse, *, bucket_hours: int = 24) -> DataFrame:
    """The downstream analytical query (J5): forecast error by station
    and lead-time bucket over the loaded warehouse."""
    matched = forecast_vs_actual(warehouse.read("nws"), warehouse.read("uscrn"))
    return lead_time_error(matched, bucket_hours=bucket_hours)


def prepare_training_data(
    documents: DataFrame,
    *,
    benchmark: DataFrame | None = None,
    min_tokens: int = 20,
    max_dup_token_ratio: float = 0.9,
    jaccard_threshold: float = 0.5,
    split_weights: dict[str, float] | None = None,
    pack_budget: int = 4096,
    seed: int = 0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The full training-data preparation pipeline, composed from the
    engine's operator families — quality filter → exact dedup → near-dup
    group dedup → benchmark decontamination → deterministic split →
    sequence packing. One call; everything rerun-stable (every decision
    derives from content or stable ids). The dedup survivor set is
    materialized at a checkpoint barrier before the fan-out stages —
    every later stage re-reads it instead of re-expanding the MinHash +
    connected-components subtree in its plan.

    Returns one row per SURVIVING document:
    (doc_id, text, n_tokens, split, shard, start_offset, seq_idx).

    Stage shapes (each documented at its operator): repetition signals
    and token counts are window + hash aggregates; exact dedup is a
    keyed keep-first; near-dup groups come from the banded MinHash join
    + connected components with the min-id survivor; decontamination is
    a broadcast span semi-join; split/pack are hash projections plus one
    prefix-sum window. Near-dup FAMILIES stay on one side of every
    split boundary because the split key is the group survivor's id.
    """
    from alaska_etl_spark.operators.dedup import (
        decontaminate,
        dedup_keep_first,
        dup_groups,
        minhash_near_dup_pairs,
    )
    from alaska_etl_spark.operators.splits import hash_split, pack_sequences
    from alaska_etl_spark.operators.text import repetition_signals, token_count

    split_weights = split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}

    base = documents.select("doc_id", "text").withColumn(
        "n_tokens", token_count("text")
    )

    # 1. quality: length floor + repetition ceiling
    rep = repetition_signals(documents, "doc_id", "text").select(
        "doc_id", "dup_token_ratio"
    )
    kept = (
        base.join(rep, "doc_id", "left")
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.coalesce(F.col("dup_token_ratio"), F.lit(0.0)) <= max_dup_token_ratio)
        )
        .drop("dup_token_ratio")
    )

    # 2. exact dedup (first doc_id per identical text wins)
    kept = dedup_keep_first(kept, ["text"], ["doc_id"])

    # 3. near-dup groups: keep only each family's min-id survivor
    pairs = minhash_near_dup_pairs(
        kept, "doc_id", "text", n=3, jaccard_threshold=jaccard_threshold
    ).select("id_a", "id_b")
    groups = dup_groups(pairs, checkpoint_dir=checkpoint_dir)  # (component, member_count, keep_id)
    family_members = (
        pairs.selectExpr("id_a AS doc_id")
        .unionByName(pairs.selectExpr("id_b AS doc_id"))
        .distinct()
    )
    survivors_of_families = groups.select(F.col("keep_id").alias("doc_id"))
    kept = kept.join(family_members, "doc_id", "left_anti").unionByName(
        kept.join(survivors_of_families, "doc_id", "left_semi")
    )
    # Stage barrier: the dedup survivor set is consumed by every later
    # stage (decontaminate, split, three per-split packings, the final
    # join), and each reference would re-expand the MinHash + components
    # subtree — the plan TREE itself grows multiplicatively and the
    # recompute cost with it. Same lineage-truncation mechanism as
    # connected_components: localCheckpoint locally, reliable
    # checkpoint() when a fault-tolerant dir is configured.
    if checkpoint_dir is not None:
        kept.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        kept = kept.checkpoint()
    else:
        kept = kept.localCheckpoint()

    # 4. decontamination against the benchmark/eval set
    if benchmark is not None:
        flags = decontaminate(kept, benchmark, "doc_id", "text", n=8, hashed=True)
        kept = kept.join(flags.filter("contaminated").select("doc_id"), "doc_id", "left_anti")

    # 5. deterministic split on the surviving id (post-dedup each family
    #    is exactly its survivor, so families cannot straddle splits)
    kept = hash_split(kept, "doc_id", weights=split_weights, seed=seed)

    # 6. sequence packing PER SPLIT (a packed sequence must never mix
    #    train and held-out docs), seeded per split name
    packed = None
    for i, name in enumerate(sorted(split_weights)):
        part = pack_sequences(
            kept.filter(F.col("split") == name),
            "doc_id",
            "n_tokens",
            budget=pack_budget,
            seed=seed + 1 + i,
        )
        packed = part if packed is None else packed.unionByName(part)
    return kept.join(packed, "doc_id").select(
        "doc_id", "text", "n_tokens", "split", "shard", "start_offset", "seq_idx"
    )
