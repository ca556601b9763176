"""Embedding-column preprocessing: int8 quantization, matryoshka
truncation.

The storage side of similarity search at 100 TB: a float32 embedding
column is usually the widest thing in a training-data table, and the
standard levers are (a) quantize to int8 (4× smaller, and the
shuffle/scan volume of every dedup & ANN stage shrinks with it),
(b) truncate matryoshka-trained embeddings to a prefix (MRL, Kusupati
et al. '22) for the coarse stages of a cascade.

Both are Arrow-batched or pure-expression — no row-at-a-time
Python. Quantization uses the explicit ``floor(x*scale + 0.5)``
convention rather than a library ``round`` so the DuckDB oracle (q66)
reproduces every code point exactly (banker's rounding differs between
numpy and SQL engines; floor(+0.5) is identical everywhere).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    StructField,
    StructType,
)


_QUANT_SCHEMA = StructType(
    [
        StructField("q", ArrayType(ByteType())),
        StructField("scale", DoubleType()),
    ]
)


@pandas_udf(_QUANT_SCHEMA)
def _quantize_batch(v: pd.Series) -> pd.DataFrame:
    """Vectorized over the whole Arrow batch: one stacked |batch|×dim
    matrix, one abs-max reduction, one fused floor/clip — no per-row
    Python in the arithmetic. NULL rows yield NULL struct fields."""
    n = len(v)
    if n == 0:
        return pd.DataFrame({"q": [], "scale": []})
    vals = v.to_numpy()
    mask = np.fromiter((x is None for x in vals), count=n, dtype=bool)
    if mask.all():
        return pd.DataFrame({"q": [None] * n, "scale": [None] * n})
    fill = next(x for x, m in zip(vals, mask) if not m)
    x = np.stack([fill if m else val for val, m in zip(vals, mask)]).astype(
        np.float64, copy=False
    )
    amax = np.abs(x).max(axis=1)
    scale = np.where(amax > 0, 127.0 / np.where(amax > 0, amax, 1.0), 0.0)
    q = np.clip(np.floor(x * scale[:, None] + 0.5), -127, 127).astype(np.int8)
    qs = [None if m else row.tolist() for row, m in zip(q, mask)]
    scales = [None if m else s for s, m in zip(scale, mask)]
    return pd.DataFrame({"q": qs, "scale": scales})


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: returns a struct
    ``(q: array<tinyint>, scale: double)`` with
    ``q[i] = clip(floor(v[i]*scale + 0.5), -127, 127)``,
    ``scale = 127/max|v|``. Dequantize as ``q[i]/scale``. 4× smaller
    than float32 (8× vs the float64 working form), which every
    downstream shuffle and scan inherits."""
    return _quantize_batch(vec.cast("array<double>"))


def truncate_dims(vec: Column, dims: int, *, renormalize: bool = True) -> Column:
    """Matryoshka truncation: keep the first ``dims`` components,
    optionally re-unit-normalizing the prefix (MRL embeddings are
    trained so prefixes remain usable). Pure expressions — ``slice`` +
    an aggregate for the norm; preprocessing is not a hot loop."""
    prefix = F.slice(vec.cast("array<double>"), 1, dims)
    if not renormalize:
        return prefix
    norm = F.sqrt(
        F.aggregate(F.transform(prefix, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return F.when(norm > 0, F.transform(prefix, lambda x: x / norm)).otherwise(prefix)


def label_consistency(
    df,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_digits: int = 3,
):
    """kNN label-consistency screen (confident-learning-style mislabel
    detection): for every vector, the fraction of its ``k`` nearest
    neighbors (cosine) sharing its label — (id, label, agree_frac,
    flagged). ``flagged`` marks rows where a MAJORITY of neighbors
    disagree: the candidates a labeling audit reads first.

    Self-kNN over the full set is quadratic; run it on a stratified
    audit sample (operators.splits.stratified_sample) or swap the
    brute-force neighbor stage for the LSH/IVF candidate generators —
    the agreement aggregate is unchanged. Neighbor ranking uses rounded
    cosine + id tie-breaks (engine-exact, the q27 contract).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from alaska_etl_spark.operators.similarity import cosine_sim

    a = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    b = df.select(
        F.col(id_col).alias("_nid"),
        F.col(label_col).alias("_nlbl"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    )
    sim = F.round(cosine_sim(F.col("_v"), F.col("_nv")), round_digits)
    w = Window.partitionBy("_id").orderBy(F.col("_cos").desc(), F.col("_nid").asc())
    pairs = (
        a.join(F.broadcast(b), F.lit(True))
        .filter(F.col("_id") != F.col("_nid"))
        .select("_id", "_lbl", "_nid", "_nlbl", sim.alias("_cos"))
    )
    topk = pairs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    return (
        topk.groupBy("_id", "_lbl")
        .agg(
            F.round(
                F.sum((F.col("_nlbl") == F.col("_lbl")).cast("int")) / F.count(F.lit(1)),
                4,
            ).alias("agree_frac")
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_lbl").alias(label_col),
            "agree_frac",
            (F.col("agree_frac") < 0.5).alias("flagged"),
        )
    )


def embedding_drift(
    a: "DataFrame",
    b: "DataFrame",
    vec_col: str = "embedding",
    *,
    n_bins: int = 10,
    psi_threshold: float = 0.25,
) -> "DataFrame":
    """Per-DIMENSION distribution drift between two embedding snapshots
    — the embedding-space extension of the scalar PSI gate (qe3,
    ``stats.psi_drift``): encoder upgrades, domain shift, or a broken
    preprocessing step move individual dimensions' distributions long
    before any downstream metric notices, and per-dim PSI localizes
    WHICH dimensions moved (all of them → new encoder; a few → feature
    drift). Returns one row per dimension:
    (dim, n_a, n_b, mean_a, mean_b, psi, drifted).

    Engine-exact protocol (the qe3 discipline, component-wise):
    components are fixed-pointed to integer MICROS (float32 widens to
    the identical double in any engine; round half-away matches DuckDB),
    bin assignment is pure integer arithmetic over each dimension's
    global [min, max] micros, proportions are Laplace-smoothed over the
    all-bins frame, per-bin terms are fixed-pointed to 1e-8 and summed
    as BIGINT — PSI is aggregation-order-free and replays bit-for-bit.
    Means emit as exact-integer-sum / count double chains.

    Scale shape: one posexplode pass per side (|rows| × dims
    components), THREE dim-keyed aggregates (min/max, binned counts,
    final PSI) — dims is small (64-4096), so everything after the
    component explode is broadcast-sized. NULL embeddings contribute no
    components; ragged widths simply populate different dim values.
    """
    def comps(df, flag):
        return df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "_x")
        ).select(
            "dim",
            F.round(F.col("_x") * 1e6).cast("bigint").alias("_c"),
            F.lit(flag).alias("_ref"),
        )

    base = comps(a, True).unionByName(comps(b, False))
    # NOT persisted (r12, measured): the plan prints the component
    # explode once per consumer of mm/binned, but both are aggregates —
    # every copy sits above their Exchanges, so runtime exchange reuse
    # computes each once; persisting them A/B'd SLOWER (cold med
    # 0.91 → 1.26 s, exec-run 2.6 → 7.3 s at sf0.1).
    mm = base.groupBy("dim").agg(F.min("_c").alias("_lo"), F.max("_c").alias("_hi"))
    binned = (
        base.join(mm, "dim")
        .withColumn(
            "bin", F.expr(f"(_c - _lo) * {n_bins} div (_hi - _lo + 1)").cast("int")
        )
        .groupBy("dim", "bin")
        .agg(
            F.sum(F.when(F.col("_ref"), 1).otherwise(0)).cast("bigint").alias("c_ref"),
            F.sum(F.when(~F.col("_ref"), 1).otherwise(0)).cast("bigint").alias("c_cur"),
            F.sum(F.when(F.col("_ref"), F.col("_c"))).cast("bigint").alias("s_ref"),
            F.sum(F.when(~F.col("_ref"), F.col("_c"))).cast("bigint").alias("s_cur"),
        )
    )
    spark = a.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    dims = mm.select("dim")
    frame = (
        dims.crossJoin(bins)
        .join(binned, ["dim", "bin"], "left")
        .select(
            "dim",
            "bin",
            F.coalesce(F.col("c_ref"), F.lit(0)).alias("c_ref"),
            F.coalesce(F.col("c_cur"), F.lit(0)).alias("c_cur"),
            F.coalesce(F.col("s_ref"), F.lit(0)).alias("s_ref"),
            F.coalesce(F.col("s_cur"), F.lit(0)).alias("s_cur"),
        )
    )
    tot = binned.groupBy("dim").agg(
        F.sum("c_ref").cast("bigint").alias("n_a"),
        F.sum("c_cur").cast("bigint").alias("n_b"),
        F.sum("s_ref").cast("bigint").alias("sa"),
        F.sum("s_cur").cast("bigint").alias("sb"),
    )
    p_ref = (F.col("c_ref") + 1) / (F.col("n_a") + n_bins)
    p_cur = (F.col("c_cur") + 1) / (F.col("n_b") + n_bins)
    term_1e8 = F.round((p_cur - p_ref) * F.log(p_cur / p_ref) * F.lit(1e8), 0).cast(
        "bigint"
    )
    out = (
        frame.join(tot, "dim")
        .groupBy("dim")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max("sa").alias("sa"),
            F.max("sb").alias("sb"),
            F.sum(term_1e8).cast("bigint").alias("_pm"),
        )
    )
    psi = F.round(F.col("_pm") / 1e8, 6)
    return out.select(
        "dim",
        "n_a",
        "n_b",
        (F.col("sa") / F.col("n_a") / F.lit(1000000.0)).alias("mean_a"),
        (F.col("sb") / F.col("n_b") / F.lit(1000000.0)).alias("mean_b"),
        psi.alias("psi"),
        (psi > F.lit(psi_threshold)).alias("drifted"),
    )


def jl_project(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    in_dims: int = 64,
    out_dims: int = 16,
    scale: int = 10**6,
):
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix — the cheap projection in front of ANN / clustering when the
    full embedding width is too expensive to shuffle (JL lemma:
    pairwise distances survive random sign projections in expectation;
    the sign-matrix variant is Achlioptas's database-friendly form).

    Exactly replayable: the projection matrix is DATA, not a seed —
    sign(i,j) = parity of the first 8 md5 hex chars of ``"i:j"`` (the
    q29/q30 md5 lane, so any engine regenerates the identical matrix) —
    and components quantize to 1e-6 BIGINT units BEFORE the signed
    sums, so every output coordinate is an order-free exact integer.

    Scale shape: posexplode to (id, dim, unit) rows, one broadcast join
    against the in_dims×out_dims sign table (a few KB), one
    (id, out-dim)-keyed hash aggregate with map-side partials — one
    shuffle of id×out_dims rows, the REDUCED width. Output long-form
    ``(id_col, dim_out, comp_units)``; overflow bound
    in_dims·scale·max|x| ≪ 2⁶³ at any realistic width.
    """
    spark = emb.sparkSession
    signs = (
        spark.range(in_dims)
        .select(F.col("id").cast("int").alias("_i"))
        .crossJoin(spark.range(out_dims).select(F.col("id").cast("int").alias("dim_out")))
        .select(
            "_i",
            "dim_out",
            (
                1
                - 2
                * F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("_i"), F.col("dim_out"))), 1, 8
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    F.lit(2),
                )
            )
            .cast("bigint")
            .alias("_s"),
        )
    )
    comp = emb.select(
        F.col(id_col), F.posexplode_outer(F.col(vec_col)).alias("_i", "_x")
    ).filter(F.col("_x").isNotNull()).select(
        id_col,
        F.col("_i").cast("int").alias("_i"),
        F.round(F.lit(scale) * F.col("_x").cast("double")).cast("bigint").alias("_q"),
    )
    return (
        comp.join(F.broadcast(signs), "_i")
        .groupBy(id_col, "dim_out")
        .agg(F.sum(F.col("_s") * F.col("_q")).cast("bigint").alias("comp_units"))
    )


def anisotropy_report(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    micros: int = 10**6,
    dead_var: float = 1e-6,
    unit_scale: int = 10**9,
) -> DataFrame:
    """Embedding-space health report: anisotropy + dead dimensions.

    Anisotropy — the squared norm of the MEAN vector — equals the
    average pairwise cosine of an L2-normalized corpus (E[xᵢ·xⱼ] =
    ‖E[x]‖² for i≠j, up to the 1/n self term): the well-known
    "narrow cone" pathology of embedding spaces (Ethayarajh '19) that
    silently wrecks cosine-threshold dedup (everything looks similar)
    and IVF cell balance. Dead dimensions (per-dim variance < eps)
    measure wasted capacity and tell the matryoshka/JL truncation
    operators what is free to drop.

    Exactness: components quantize once to ``micros`` BIGINTs; per-dim
    S = Σm and Q = Σm² are exact integers (|m| ≤ 1e6 → Q sums stay
    < 2⁶³ up to ~9e6 vectors; beyond that lower ``micros``); each
    per-dim float expression keeps ONE pinned parenthesization with
    n/S/Q cast to double (products are correctly-rounded IEEE —
    deterministic, no libm), and the two cross-dim SUMS are quantized
    to 1e-9 units per dim BEFORE summing (order-free BIGINT — a raw
    64-way double sum would be summation-order dependent). One
    posexplode + one hash aggregate + 64-row arithmetic.

    One row: (n_vecs, n_dims, anisotropy, total_variance, n_dead_dims,
    min_dim_var, max_dim_var)."""
    from pyspark.sql import functions as F

    comp = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_d", "_v")
    ).select("_d", F.round(F.col("_v") * micros).cast("bigint").alias("_m"))
    per_dim = comp.groupBy("_d").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_m").cast("bigint").alias("_s"),
        F.sum(F.col("_m") * F.col("_m")).cast("bigint").alias("_q"),
    )
    mu2 = float(micros) * float(micros)
    n_d, s_d, q_d = (
        F.col("_n").cast("double"),
        F.col("_s").cast("double"),
        F.col("_q").cast("double"),
    )
    mean_sq = (s_d * s_d) / (n_d * n_d * F.lit(mu2))   # mean[d]²
    var_d = (n_d * q_d - s_d * s_d) / (n_d * n_d * F.lit(mu2))
    terms = per_dim.select(
        "_n",
        F.round(F.lit(unit_scale) * mean_sq).cast("long").alias("_a_u"),
        F.round(F.lit(unit_scale) * var_d).cast("long").alias("_v_u"),
        var_d.alias("_var"),
    )
    s = float(unit_scale)
    return terms.agg(
        F.max("_n").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        (F.sum("_a_u").cast("double") / s).alias("anisotropy"),
        (F.sum("_v_u").cast("double") / s).alias("total_variance"),
        F.sum(F.when(F.col("_var") < dead_var, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dead_dims"),
        F.min("_var").alias("min_dim_var"),
        F.max("_var").alias("max_dim_var"),
    )
