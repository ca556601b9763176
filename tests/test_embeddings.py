"""Embedding preprocessing: int8 quantization round-trip error bound,
matryoshka truncation."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from alaska_etl_spark.operators.embeddings import quantize_int8, truncate_dims


def _df(spark):
    rows = [
        (1, [3.0, 4.0]),
        (2, [0.0, 0.0]),
        (3, [-1.5, 2.5]),
        (4, None),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_quantize_int8_roundtrip_bound(spark):
    rows = [(i, [((i * j * 2654435761) % 2000 - 1000) / 250.0 for j in range(1, 33)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = df.select("vec_id", "embedding", quantize_int8(F.col("embedding")).alias("qs")).collect()
    for r in out:
        scale = r.qs.scale
        assert all(-127 <= q <= 127 for q in r.qs.q)
        # dequantization error is at most half a quantization step
        for x, q in zip(r.embedding, r.qs.q):
            assert abs(q / scale - x) <= 0.5 / scale + 1e-12


def test_quantize_handles_zero_and_null(spark):
    got = {r.vec_id: r.qs for r in _df(spark).select("vec_id", quantize_int8(F.col("embedding")).alias("qs")).collect()}
    assert got[2].scale == 0.0 and got[2].q == [0, 0]
    assert got[4] is None or (got[4].q is None and got[4].scale is None)
    assert got[1].q == [95, 127]  # 3/4 of full scale then full scale


def test_truncate_dims_renormalizes(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 2.0, 9.0])], "vec_id bigint, embedding array<double>")
    got = df.select(truncate_dims(F.col("embedding"), 3).alias("t")).collect()[0].t
    assert len(got) == 3
    assert math.isclose(sum(x * x for x in got), 1.0, rel_tol=1e-12)
    raw = df.select(truncate_dims(F.col("embedding"), 3, renormalize=False).alias("t")).collect()[0].t
    assert raw == [1.0, 2.0, 2.0]


def test_label_consistency_flags_planted_mislabel(spark):
    """A vector whose neighbors all carry the other label is flagged;
    members of a coherent cluster are not."""
    from alaska_etl_spark.operators.embeddings import label_consistency

    rows = (
        # cluster A near (1, 0), label 0 — except id 3, mislabeled 1
        [(0, [1.0, 0.0], 0), (1, [0.98, 0.2], 0), (2, [0.97, 0.24], 0),
         (3, [0.99, 0.1], 1)]
        # cluster B near (0, 1), label 1
        + [(10, [0.0, 1.0], 1), (11, [0.2, 0.98], 1), (12, [0.24, 0.97], 1)]
    )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    got = {r.vec_id: r for r in label_consistency(df, k=3).collect()}
    assert len(got) == 7
    assert got[3].flagged and got[3].agree_frac == 0.0
    for i in (0, 1, 2, 10, 11, 12):
        assert not got[i].flagged, i


# --- per-dimension embedding drift (PSI, qe3 discipline) --------------------


def test_embedding_drift_localizes_shifted_dimension(spark):
    from alaska_etl_spark.operators.embeddings import embedding_drift

    # dim 0 shifted by +2.0 in snapshot b; dim 1 identical
    a = spark.createDataFrame(
        [(i, [i / 100.0, 0.5]) for i in range(60)], "vec_id bigint, embedding array<double>"
    )
    b = spark.createDataFrame(
        [(i, [2.0 + i / 100.0, 0.5]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    out = {r.dim: r for r in embedding_drift(a, b).collect()}
    assert out[0].drifted and out[0].psi > 1.0
    assert not out[1].drifted and out[1].psi < 0.05
    assert abs(out[0].mean_b - out[0].mean_a - 2.0) < 1e-6
    assert out[0].n_a == 60 and out[0].n_b == 60


def test_embedding_drift_identical_snapshots_zero(spark):
    from alaska_etl_spark.operators.embeddings import embedding_drift

    a = spark.createDataFrame(
        [(i, [i * 0.01, -i * 0.02]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    out = embedding_drift(a, a).collect()
    assert len(out) == 2
    assert all(r.psi == 0.0 and not r.drifted for r in out)
    assert all(r.mean_a == r.mean_b for r in out)


def test_embedding_drift_null_embeddings_ignored(spark):
    from alaska_etl_spark.operators.embeddings import embedding_drift

    a = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None), (3, [0.3, 0.4])],
        "vec_id bigint, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(4, [0.1, 0.2])], "vec_id bigint, embedding array<double>"
    )
    out = {r.dim: r for r in embedding_drift(a, b).collect()}
    assert out[0].n_a == 2 and out[0].n_b == 1


def test_jl_project_exact_replica_and_shape(spark):
    import hashlib

    from alaska_etl_spark.operators.embeddings import jl_project

    vecs = [
        (0, [0.5, -0.25, 0.125, 1.0]),
        (1, [1.0, 1.0, -1.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    out = jl_project(emb, in_dims=4, out_dims=3).collect()
    got = {(r.vec_id, r.dim_out): r.comp_units for r in out}
    assert len(got) == 6

    def sign(i, j):
        hv = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
        return 1 - 2 * (hv % 2)

    for vid, v in vecs:
        q = [round(1e6 * x) for x in v]
        for j in range(3):
            want = sum(sign(i, j) * q[i] for i in range(4))
            assert got[(vid, j)] == want, (vid, j)


def test_jl_project_null_embedding_emits_no_rows(spark):
    from alaska_etl_spark.operators.embeddings import jl_project

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id bigint, embedding array<float>"
    )
    out = jl_project(emb, in_dims=2, out_dims=2).collect()
    assert {r.vec_id for r in out} == {0}


def test_anisotropy_report_extremes(spark):
    from alaska_etl_spark.operators.embeddings import anisotropy_report

    # degenerate cone: every vector identical and unit-norm -> mean
    # vector has norm 1, anisotropy == 1, zero variance, all dims dead
    same = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    r = anisotropy_report(same).collect()[0]
    assert (r.n_vecs, r.n_dims) == (10, 4)
    assert abs(r.anisotropy - 1.0) < 1e-6
    assert r.total_variance == 0.0 and r.n_dead_dims == 4

    # balanced orthogonal basis: mean = (1/4,..) -> anisotropy 4*(1/16)
    basis = spark.createDataFrame(
        [(i, [1.0 if d == i % 4 else 0.0 for d in range(4)]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    r2 = anisotropy_report(basis).collect()[0]
    assert abs(r2.anisotropy - 0.25) < 1e-6
    assert r2.n_dead_dims == 0 and r2.total_variance > 0.5
