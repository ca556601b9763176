"""Multi-dimensional data layout: Z-order (Morton) clustering keys and
the file-skipping audit that measures them.

At 100 TB, pruning is the cheapest optimization there is: a z-ordered
table colocates rows that are close in EVERY clustering dimension, so
parquet min/max footer stats skip files/row-groups for predicates on any
of them — a plain ``ORDER BY (a, b)`` layout only ever prunes on ``a``.
This is the same public technique as Delta/Iceberg ``OPTIMIZE ZORDER BY``
(Morton curves; see also Orenstein & Merrett '84), implemented as pure
bit arithmetic — no table format required. A clustered write is
``repartitionByRange`` plus ``sortWithinPartitions`` on the key.

The key is deterministic integer arithmetic, so the identical computation
is emitted in two forms from one term generator: a Spark ``Column``
(:func:`zorder_key`, whole-stage codegen) and an ANSI-SQL string
(:func:`zorder_sql`) that external engines — the DuckDB oracle — run
verbatim.

Production notes baked into the contract:

- Each input is masked to the low ``bits`` bits. Real tables first map
  each dimension onto that range (e.g. ``width_bucket``/percentile rank,
  as Delta does); the mask keeps the demo exact and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _check(cols: list[str], bits: int) -> None:
    if not cols or len(cols) < 2:
        raise ValueError("z-order needs at least two columns (one: just sort)")
    if bits * len(cols) > 63:
        raise ValueError(f"bits*ncols = {bits * len(cols)} exceeds a signed int64")


def zorder_key(cols: list[str], *, bits: int = 16) -> Column:
    """Interleaved-bit (Morton) key over ``cols`` as one codegen'd
    integer expression: bit ``i`` of masked column ``j`` lands at key
    position ``i*ncols + j``. NULLs coalesce to 0 (sort first)."""
    _check(cols, bits)
    n = len(cols)
    key = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        masked = F.coalesce(F.col(c).cast("bigint"), F.lit(0)).bitwiseAND(
            F.lit((1 << bits) - 1)
        )
        for i in range(bits):
            bit = F.shiftright(masked, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def zorder_sql(cols: list[str], *, bits: int = 16) -> str:
    """The same Morton arithmetic as :func:`zorder_key`, rendered as an
    ANSI-SQL scalar expression (parenthesized bitwise ops) for engines
    that must reproduce the key bit-for-bit."""
    _check(cols, bits)
    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        masked = f"(coalesce({c}, 0) & {(1 << bits) - 1})"
        for i in range(bits):
            terms.append(f"((({masked} >> {i}) & 1) << {i * n + j})")
    return "(" + " | ".join(terms) + ")"


def layout_skipping_audit(
    df: DataFrame,
    layouts: "dict[str, Column]",
    probe_col: str,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """File-skipping effectiveness audit — the number a z-order /
    sort-key decision is actually made by: simulate writing ``df`` in
    each candidate layout order as ``n_buckets`` equal files, record
    each file's (min, max) of the probe column, and replay the
    point-lookup workload "one query per distinct probe value" against
    the min-max index. ``files_touched`` per probe value = files whose
    range covers it (exactly what parquet row-group / Delta file
    min-max pruning would scan); a perfectly clustered layout touches
    1, a random layout touches ~all. This makes X19's z-order claim
    ("co-locates multi-column locality") a measured, comparable
    number instead of prose — the layout sibling of the qp1/qo1
    planner audits.

    ``layouts`` maps a label to its ORDER expression (e.g. natural id,
    the Morton :func:`zorder_key`, the probe column itself = the
    clustered upper bound). Buckets are exact ANSI ntile over
    (order-expr, probe, …) via the range-exchange
    :func:`~alaska_etl_spark.operators.ranking.global_ntile` — a total
    order, so both engines bucket identically. Per layout: one k-row
    min/max frame joined to the distinct probe values on a RANGE
    predicate (k·|values| candidate pairs with k = n_buckets — bounded
    by construction, never data²).

    Returns one row per layout: (layout, n_buckets, n_probe_values,
    files_touched_total, avg_files_x100 = round-half-up
    100·touched/values, skip_bp = round-half-up share of (file, value)
    pairs PRUNED), ordered by layout."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.ranking import global_ntile

    probes = df.select(F.col(probe_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    ).distinct()
    outs = []
    for label, order in sorted(layouts.items()):
        keyed = df.select(
            order.alias("_o"), F.col(probe_col).alias("_p")
        )
        # deterministic total order on (_o, _p): rows tied on both carry
        # identical _p, so bucket min/max — the only thing read — is
        # invariant to how ties land across buckets; no further tiebreak
        # is needed (and the QP9 twin orders the same way)
        bucketed = global_ntile(
            keyed, ["_o", "_p"], n_buckets, bucket_col="_b"
        )
        franges = bucketed.groupBy("_b").agg(
            F.min("_p").alias("_lo"), F.max("_p").alias("_hi")
        )
        hits = (
            probes.join(
                franges,
                (F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi")),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("_hits"))
        )
        nv = probes.agg(F.count(F.lit(1)).cast("bigint").alias("_nv"))
        outs.append(
            hits.crossJoin(nv).select(
                F.lit(label).alias("layout"),
                F.lit(n_buckets).cast("bigint").alias("n_buckets"),
                F.col("_nv").alias("n_probe_values"),
                F.col("_hits").alias("files_touched_total"),
                div_half_up("100 * _hits", "nullif(_nv, 0)").alias(
                    "avg_files_x100"
                ),
                div_half_up(
                    f"10000 * ({n_buckets} * _nv - _hits)",
                    f"nullif({n_buckets} * _nv, 0)",
                ).alias("skip_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("layout")
