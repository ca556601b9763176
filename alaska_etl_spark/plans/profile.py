"""Unified data-quality audit (VERDICT r6 #7): the q77 column profile,
qi2 entropy profile, ql1 FD audit, and ql2 inclusion audit are the four
reports a data-quality user runs nightly over the same tables — run
separately they re-scan the same inputs four times. ``profile_tables``
derives all four from ONE scan per table:

- each table scans once into a long entries frame via a single
  ``explode`` projection (codegen): one entry per profiled COLUMN and
  one per unordered FD column PAIR (carrying both value hashes) —
  pairs cannot be recovered from a single-column unpivot (it destroys
  joint distributions), so they ride the same generator instead of a
  second scan;
- every (table, kind, name) subject is assigned a small INTEGER id at
  plan time (there are ~a dozen subjects; the driver knows them all),
  so entry rows carry ``(_id int, va string?, _ha long?, _hb long?)``
  instead of three repeated strings — the r9 anatomy measured the
  string-keyed cache at 58 MB for 888 k value-grain rows with every
  report paying a full string-key re-aggregate; int ids shrink the
  cached bytes, make the per-report kind/subject filters prunable
  integer ranges, and names decode back via one tiny broadcast join
  per report (on the ≤48-row reduced frames, never at value grain);
- the per-table entry frames UNION into ONE hash aggregate to
  ``(_id, va, _ha, _hb) → row count``, persisted (``tracked_persist``)
  and materialized behind a one-job barrier — this single reduced
  frame IS the shared input every report reads (EXPLAINS shows one
  InMemoryRelation under all four), and the columnar cache prunes
  per-report: FD/IND read only int/long columns, never ``va`` bytes;
- column profile (rows/nulls/distincts/min/max) re-aggregates the
  ``col`` entries for all tables in one pass; Shannon entropy
  (1e-9-unit BIGINT, the qi2/PSI quantized-term discipline) computes
  per-value terms via a WINDOW total over the same single scan (the
  r8 broadcast-join shape paid a second cache scan just to learn each
  column's n); each FD direction re-aggregates the SAME ``pair``
  counts from one scan — a 2-element inline explode emits the forward
  (``_ha``) and reverse (``_hb``) determinant per joint group, where
  the r8 fwd/rev union read the cache twice; inclusion dependencies
  self-join the value hashes of key columns (``_ha`` is already the
  value hash — computed once at explode time — so the IND branch
  never touches strings; NULLs excluded per the SQL-FK convention,
  ADVICE r6).

Scale shape: the explode multiplies scan output by (|cols| + |pairs|),
but everything downstream operates on the REDUCED counts frame (Σ
per-column + per-pair cardinalities, not rows), and the table is read
once instead of once per report — at 100 TB the trade is one wide
pass + a persisted index-sized frame vs. four cold scans. Mirrors the
single-report semantics exactly: profile ``n_distinct`` excludes NULLs
(q77), entropy counts NULL as a category (qi2), FD violating-group /
row-mass / max-fanout definitions are ql1's, coverage is ql2's 4dp
round-half-up basis points.

Output is one tall frame:
``(report, table_name, subject, object, metric, value, value_str)`` —
every metric an exact BIGINT except min/max, which emit their rendered
string in ``value_str`` (dates and categoricals order correctly as
strings; numeric columns should be pre-rendered by the caller).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from alaska_etl_spark.cache import tracked_persist
from alaska_etl_spark.functions.localrel import local_df

__all__ = ["profile_tables", "format_validity"]

_OUT_COLS = ["report", "table_name", "subject", "object", "metric", "value", "value_str"]


def _entry_array(ids: "list[tuple[int, str, str, str | None]]"):
    """The explode generator: ``ids`` is ``[(id, kind, col_a, col_b)]``
    (``col_b`` None for kind='col'). Emits ``(_id, va, _ha, _hb)``
    structs — value string + value hash for columns, joint hashes for
    pairs."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("_id"),
                F.col(a).cast("string").alias("va"),
                F.when(F.col(a).isNotNull(), F.xxhash64(F.col(a).cast("string")))
                .alias("_ha"),
                F.lit(None).cast("bigint").alias("_hb"),
            )
            if kind == "col"
            else F.struct(
                F.lit(i).alias("_id"),
                F.lit(None).cast("string").alias("va"),
                F.xxhash64(F.col(a)).alias("_ha"),
                F.xxhash64(F.col(b)).alias("_hb"),
            )
            for i, kind, a, b in ids
        ]
    )


def _subject_df(spark, rows, schema):
    """Tiny driver-side decode frame (≤ subjects × tables rows) — the
    only place names exist at value grain is the explode literal; all
    report-side decodes broadcast-join this frame onto already-reduced
    (≤48-row) aggregates. Literal relation (localrel, r12): the
    createDataFrame form scanned a Python-backed RDD — 32 tasks ×
    ~250 ms Python-worker round-trip per materialization (guide §4)."""
    return F.broadcast(local_df(spark, rows, schema))


def _profile_report(col_counts: DataFrame, dec: DataFrame) -> DataFrame:
    per_col = col_counts.groupBy("_id").agg(
        F.sum("_c").cast("bigint").alias("_n_rows"),
        F.sum(F.when(F.col("va").isNull(), F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("_n_null"),
        F.count("va").cast("bigint").alias("_n_distinct"),  # non-null groups
        F.min("va").alias("_min"),
        F.max("va").alias("_max"),
    )
    return per_col.join(dec, "_id").select(
        F.expr(
            "stack(5, "
            "'n_rows', _n_rows, CAST(NULL AS STRING), "
            "'n_null', _n_null, CAST(NULL AS STRING), "
            "'n_distinct', _n_distinct, CAST(NULL AS STRING), "
            "'min', CAST(NULL AS BIGINT), _min, "
            "'max', CAST(NULL AS BIGINT), _max) "
            "AS (metric, value, value_str)"
        ),
        F.lit("profile").alias("report"),
        "table_name",
        F.col("name").alias("subject"),
        F.lit(None).cast("string").alias("object"),
    ).select(*_OUT_COLS)


def _entropy_report(col_counts: DataFrame, dec: DataFrame, scale: int) -> DataFrame:
    """Quantized-term entropy from ONE cache scan: the per-column total
    n arrives via a window over the value-grain rows (hash-partitioned
    by ``_id``; the final aggregate reuses that partitioning, so the
    branch costs one pruned scan + one small exchange — the r8 shape
    re-scanned the cache for a totals aggregate and broadcast it back)."""
    w = Window.partitionBy("_id")
    terms = col_counts.select(
        "_id",
        F.col("_c").alias("_cv"),
        F.sum("_c").over(w).cast("bigint").alias("_n"),
    ).select(
        "_id",
        F.round(
            F.lit(scale)
            * (F.col("_cv") / F.col("_n"))
            * (F.log(F.col("_n")) - F.log(F.col("_cv")))
        )
        .cast("long")
        .alias("_t"),
    )
    return (
        terms.groupBy("_id")
        .agg(F.sum("_t").cast("bigint").alias("value"))
        .join(dec, "_id")
        .select(
            F.lit("entropy").alias("report"),
            "table_name",
            F.col("name").alias("subject"),
            F.lit(None).cast("string").alias("object"),
            F.lit("entropy_units").alias("metric"),
            "value",
            F.lit(None).cast("string").alias("value_str"),
        )
    )


def _fd_report(pair_counts: DataFrame, dec: DataFrame) -> DataFrame:
    """ALL FD directions of ALL tables from ONE cache scan and two
    aggregates total: a 2-element inline explode emits the forward
    (determinant ``_ha``) and reverse (``_hb``) row per joint group —
    the r8 fwd/rev union read the cache twice for the same rows. One
    aggregate computes per-determinant fan-out/mass, one more reduces
    to the per-direction report; per-direction sub-plans (the first
    cut) paid the ~0.1 s stage floor 2·|pairs|·2 times."""
    both = pair_counts.select(
        "_id",
        "_c",
        F.posexplode(F.array("_ha", "_hb")).alias("_pos", "_k"),
    ).select(
        # direction folds into the int id (_id*2 + pos): the hot
        # per-determinant aggregate then groups on (int, long) instead
        # of (int, string, long) — no struct materialization, no 'f'/'r'
        # string in 1.9 M group keys.
        (F.col("_id") * 2 + F.col("_pos")).alias("_idd"),
        "_k",
        "_c",
    )
    per_det = both.groupBy("_idd", "_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("_fan"),
        F.sum("_c").cast("bigint").alias("_mass"),
    )
    stats = per_det.groupBy("_idd").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_groups"),
        F.sum(F.when(F.col("_fan") > 1, 1).otherwise(0)).cast("bigint").alias("_vg"),
        F.sum(F.when(F.col("_fan") > 1, F.col("_mass")).otherwise(0))
        .cast("bigint")
        .alias("_vr"),
        F.max("_fan").cast("bigint").alias("_mf"),
    )
    left = F.split(F.col("name"), r"\|")[0]
    right = F.split(F.col("name"), r"\|")[1]
    stats = stats.select(
        F.expr("CAST(_idd DIV 2 AS INT)").alias("_id"),
        F.when(F.col("_idd") % 2 == 0, F.lit("f")).otherwise(F.lit("r")).alias("_dir"),
        "_n_groups", "_vg", "_vr", "_mf",
    )
    return stats.join(dec, "_id").select(
        F.expr(
            "stack(4, "
            "'n_groups', _n_groups, "
            "'violating_groups', _vg, "
            "'violating_rows', _vr, "
            "'max_fanout', _mf) AS (metric, value)"
        ),
        F.lit("fd").alias("report"),
        "table_name",
        F.when(F.col("_dir") == "f", left).otherwise(right).alias("subject"),
        F.when(F.col("_dir") == "f", right).otherwise(left).alias("object"),
        F.lit(None).cast("string").alias("value_str"),
    ).select(*_OUT_COLS)


def _ind_report(
    col_counts: DataFrame,
    key_ids: "list[int]",
    id_names: "dict[int, tuple[str, str]]",
    bp_scale: int = 10**4,
) -> DataFrame:
    """ALL inclusion pairs from ONE value self-join (not one anti-join
    per ordered pair): the key columns' distinct value HASHES come
    straight off the shared counts cache (``_ha`` is computed once at
    explode time; the columnar cache prunes this branch to two int/long
    columns — no string bytes move); a single self-join on the hash
    counts |K_L ∩ K_R| for EVERY pair simultaneously, and n_missing =
    |K_L| − |K_L ∩ K_R|. The per-pair anti-join cut paid the stage
    floor 3·|pairs| times (36 stages for 4 key columns); this is one
    join + two small aggregates, and at scale the shared value frame
    shuffles once instead of once per pair. Join identity, not
    rendered value: the self-join only tests cross-table equality of
    the RENDERED value (both sides hash the string form, so int32 and
    int64 keys holding the same number still match), and 8-byte longs
    shuffle ~5× lighter than key strings (the value-keyed oracle still
    checks the exact counts). NULL keys are excluded (``_ha`` is NULL
    for NULL values by construction)."""
    spark = col_counts.sparkSession
    tagged = (
        col_counts.filter(F.col("_id").isin(key_ids))
        .filter(F.col("_ha").isNotNull())
        .select(F.col("_id").alias("_cid"), F.col("_ha").alias("_k"))
    )
    nd = tagged.groupBy("_cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nd")
    )
    common = (
        tagged.alias("a")
        .join(tagged.alias("b"), "_k")
        .filter(F.col("a._cid") != F.col("b._cid"))
        .groupBy(F.col("a._cid").alias("_lcid"), F.col("b._cid").alias("_rcid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_nc"))
    )
    pairs_df = _subject_df(
        spark,
        [
            (li, id_names[li][0], id_names[li][1], ri,
             f"{id_names[ri][0]}.{id_names[ri][1]}")
            for li in key_ids
            for ri in key_ids
            if li != ri
        ],
        "_lcid int, _lt string, _lc string, _rcid int, _robj string",
    )
    stats = (
        pairs_df
        .join(nd.select(F.col("_cid").alias("_lcid"), "_nd"), "_lcid")
        .join(common, ["_lcid", "_rcid"], "left")
        .select(
            "_lt", "_lc", "_robj", "_nd",
            (F.col("_nd") - F.coalesce(F.col("_nc"), F.lit(0)))
            .cast("bigint")
            .alias("_nm"),
        )
    )
    return stats.select(
        F.expr(
            "stack(3, 'n_distinct', _nd, 'n_missing', _nm, "
            # nullif: a key column that is entirely NULL has _nd = 0;
            # both engines must emit NULL there, not raise (ADVICE r7 —
            # DuckDB's integer // by zero errors while Spark's div
            # returns NULL; the oracle twin carries the same nullif).
            f"'coverage_bp', (2 * {bp_scale} * (_nd - _nm) + _nd) "
            "div nullif(2 * _nd, 0)) "
            "AS (metric, value)"
        ),
        F.lit("ind").alias("report"),
        F.col("_lt").alias("table_name"),
        F.col("_lc").alias("subject"),
        F.col("_robj").alias("object"),
        F.lit(None).cast("string").alias("value_str"),
    ).select(*_OUT_COLS)


def profile_tables(
    tables: "list[tuple[str, DataFrame, list[str], list[tuple[str, str]]]]",
    ind_keys: "list[tuple[str, str]]",
    *,
    entropy_cols: "dict[str, list[str]] | None" = None,
    scale: int = 10**9,
) -> DataFrame:
    """The unified audit. ``tables`` is ``[(name, df, profile_cols,
    fd_pairs)]``; ``ind_keys`` is ``[(table_name, key_col)]`` where the
    key col must appear in that table's ``profile_cols`` (its distinct
    values come from the shared counts frame, not a new scan);
    ``entropy_cols`` optionally restricts the entropy report per table
    (default: all profile cols). Returns the tall report frame ordered
    by (report, table_name, subject, object, metric)."""
    spark = tables[0][1].sparkSession
    parts = []
    next_id = 0
    col_ids: "list[int]" = []
    pair_ids: "list[int]" = []
    entropy_ids: "list[int]" = []
    id_rows = []  # (_id, table_name, name) for the decode frame
    id_names: "dict[int, tuple[str, str]]" = {}
    for name, df, cols, pairs in tables:
        ids = []
        ecols = set((entropy_cols or {}).get(name, cols))
        for c in cols:
            ids.append((next_id, "col", c, None))
            col_ids.append(next_id)
            if c in ecols:
                entropy_ids.append(next_id)
            id_rows.append((next_id, name, c))
            id_names[next_id] = (name, c)
            next_id += 1
        for a, b in pairs:
            ids.append((next_id, "pair", a, b))
            pair_ids.append(next_id)
            id_rows.append((next_id, name, f"{a}|{b}"))
            id_names[next_id] = (name, f"{a}|{b}")
            next_id += 1
        need = sorted({c for c in cols} | {c for p in pairs for c in p})
        src = df.select(*need)
        # Parallelize the explode when the scan is under-split: local
        # single-row-group parquet files are unsplittable, so the whole
        # ×(|cols|+|pairs|) generate + partial aggregate otherwise runs
        # as ONE task per table (the r9 anatomy's 1.6 s straggler). A
        # cheap pre-explode exchange of the RAW rows to P/4 partitions
        # measured 1.3 s vs 2.0 s for the counts build at sf0.1 (P/4,
        # not P: 32 concurrent partial-agg hash maps contend in the
        # shared local JVM — the r9 A/B at 32 was a wash). At 100 TB
        # the scan has thousands of splits and the gate never fires.
        target = max(2, spark.sparkContext.defaultParallelism // 4)
        from alaska_etl_spark.operators.parallelism import plan_scan_partitions

        # driver-side split count, no RDD conversion (r13): the .rdd
        # probe cost ~0.12-1.1 s per table of pure driver time here
        nsrc = plan_scan_partitions(src)
        if nsrc is None:
            nsrc = src.rdd.getNumPartitions()
        if nsrc < target:
            src = src.repartition(target)
        parts.append(
            src.select(F.explode(_entry_array(ids)).alias("_e")).select("_e.*")
        )
    tcols = {n: cs for n, _, cs, _ in tables}
    for t, k in ind_keys:
        assert k in tcols.get(t, []), f"IND key {t}.{k} must be profiled"
    key_ids = [
        i for i, (t, c) in id_names.items()
        if (t, c) in {(t, k) for t, k in ind_keys} and i in set(col_ids)
    ]
    long = parts[0]
    for p in parts[1:]:
        long = long.unionByName(p)
    counts = tracked_persist(
        long.groupBy("_id", "va", "_ha", "_hb").agg(
            F.count(F.lit(1)).cast("bigint").alias("_c")
        ).coalesce(max(2, spark.sparkContext.defaultParallelism // 4))
        # ^ the counts frame is index-grain (Σ cardinalities, not rows);
        # cached at the shuffle width (32 × ~1 MB partitions) every one
        # of the four report branches launched a 32-task stage wave over
        # kilobyte payloads (the r9 anatomy's four near-zero-CPU stages,
        # ~2 s of pure scheduling). Coalescing the agg output to P/4 is
        # exchange-free and keeps per-partition size proportional to
        # cluster width at any scale.
    )
    # One-job materialization barrier: the report union references this
    # cache 4-5 times and Spark runs sibling stages of one job
    # concurrently — tasks hitting a not-yet-built cache partition each
    # recompute it (no cross-task wait in BlockManager), so without the
    # barrier the whole explode+aggregate ran up to twice (r9 anatomy).
    counts.count()
    dec = _subject_df(
        spark, id_rows, "_id int, table_name string, name string"
    )
    col_counts = counts.filter(F.col("_id").isin(col_ids))
    reports = [_profile_report(col_counts, dec)]
    if entropy_ids:
        reports.append(
            _entropy_report(
                counts.filter(F.col("_id").isin(entropy_ids)), dec, scale
            )
        )
    if pair_ids:
        reports.append(
            _fd_report(counts.filter(F.col("_id").isin(pair_ids)), dec)
        )
    if key_ids:
        reports.append(_ind_report(col_counts, key_ids, id_names))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    # Global order via one single-partition exchange: the union is ≤ a
    # few hundred rows, so a range-partitioned orderBy would spend a
    # sampling pass learning bounds for one output partition.
    return out.repartition(1).sortWithinPartitions(
        "report", "table_name", "subject", "object", "metric"
    )


def format_validity(
    tables: "list[tuple[str, DataFrame, list[tuple[str, str, str, object]]]]",
) -> DataFrame:
    """Format/constraint validity audit — the rule-driven sibling of
    the statistical profile: per (table, column, rule), how many
    non-NULL values satisfy a declared format contract. Rules are
    declarative so the DuckDB oracle can carry the identical
    semantics: ``("regex", pattern)`` uses a conservative shared
    dialect (anchors, classes, bounded quantifiers — valid in both
    Java regex and DuckDB RE2), ``("non_negative", None)`` is the
    numeric range form. NULLs are exempt (the profile's null_bp
    reports them; validity is about malformed PRESENT values).

    Each table's rules ride ONE tagged explode + ONE hash aggregate
    (the r7 stage-floor rule); tables union. Returns (table_name,
    subject, rule, n_checked, n_valid, valid_bp) ordered."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    outs = []
    for name, df, rules in tables:
        entries = []
        for col, rule_name, kind, arg in rules:
            if kind == "regex":
                ok = F.col(col).cast("string").rlike(arg)
            elif kind == "non_negative":
                ok = F.col(col) >= 0
            else:
                raise ValueError(f"unknown rule kind {kind!r}")
            entries.append(
                F.struct(
                    F.lit(col).alias("_c"),
                    F.lit(rule_name).alias("_r"),
                    F.col(col).isNotNull().alias("_nn"),
                    F.coalesce(ok, F.lit(False)).alias("_ok"),
                )
            )
        outs.append(
            df.select(F.explode(F.array(*entries)).alias("_e"))
            .select("_e._c", "_e._r", "_e._nn", "_e._ok")
            .filter(F.col("_nn"))
            .groupBy("_c", "_r")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_checked"),
                F.sum(F.when(F.col("_ok"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_valid"),
            )
            .select(
                F.lit(name).alias("table_name"),
                F.col("_c").alias("subject"),
                F.col("_r").alias("rule"),
                "n_checked",
                "n_valid",
                div_half_up("10000 * n_valid", "nullif(n_checked, 0)").alias(
                    "valid_bp"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name", "subject", "rule")
