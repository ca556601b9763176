"""Z-order layout: key arithmetic, two-dimensional locality of the
written files, and the pruning it buys."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from alaska_etl_spark.operators.layout import zorder_key, zorder_sql


def _morton_ref(vals: list[int], bits: int) -> int:
    n = len(vals)
    key = 0
    for j, v in enumerate(vals):
        v &= (1 << bits) - 1
        for i in range(bits):
            key |= ((v >> i) & 1) << (i * n + j)
    return key


def test_zorder_key_matches_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (70000, -1), (None, 7)]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = [
        r.k
        for r in df.select(zorder_key(["a", "b"], bits=16).alias("k"))
        .collect()
    ]
    want = [_morton_ref([a or 0, b or 0], 16) for a, b in rows]
    assert got == want
    # the curve is locality-preserving: (0,0),(1,0),(0,1) are the three
    # smallest keys above
    assert sorted(got)[:3] == sorted(want)[:3] == [0, 1, 2]


def test_zorder_sql_identical_in_duckdb(spark):
    import duckdb

    rows = [(i * 37 % 120, i * 91 % 77) for i in range(200)]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = {
        (r.a, r.b, r.k)
        for r in df.select("a", "b", zorder_key(["a", "b"], bits=8).alias("k")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = f"SELECT a, b, {zorder_sql(['a', 'b'], bits=8)} AS k FROM t"
    want = set(map(tuple, con.execute(sql).fetchall()))
    assert got == want


def test_zorder_rejects_overflow_and_single_column():
    with pytest.raises(ValueError):
        zorder_key(["a"], bits=16)
    with pytest.raises(ValueError):
        zorder_sql(["a", "b", "c", "d"], bits=16)


def _write_zordered(df, path: str, by: list, *, bits: int, num_files: int) -> None:
    """A clustered write on the Morton key: range-partition on it and
    sort within files, so each file holds one contiguous curve segment."""
    (
        df.withColumn("_zkey", zorder_key(by, bits=bits))
        .repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.parquet(path)
    )


def _per_file_spread(spark, path: str, col: str) -> float:
    """Mean (max-min) of ``col`` per parquet file, as a fraction of the
    global range — the quantity parquet min/max pruning depends on."""
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) > 1
    spans, lo, hi = [], None, None
    for f in files:
        r = spark.read.parquet(f).agg(F.min(col), F.max(col)).collect()[0]
        spans.append(r[1] - r[0])
        lo = r[0] if lo is None else min(lo, r[0])
        hi = r[1] if hi is None else max(hi, r[1])
    return (sum(spans) / len(spans)) / (hi - lo)


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Files clustered on the Morton key are tight in BOTH dimensions;
    a linear sort by x is tight in x but each of its files spans ~the
    full y range."""
    rows = [(i % 256, (i * 7919) % 256) for i in range(20000)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")

    zpath = str(tmp_path / "z")
    _write_zordered(df, zpath, ["x", "y"], bits=8, num_files=16)
    lpath = str(tmp_path / "linear")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)

    zx, zy = _per_file_spread(spark, zpath, "x"), _per_file_spread(spark, zpath, "y")
    lx, ly = _per_file_spread(spark, lpath, "x"), _per_file_spread(spark, lpath, "y")
    # linear layout: x tight, y useless (files span ~full y range)
    assert lx < 0.2 and ly > 0.8
    # z-order: BOTH dimensions well under the linear layout's y spread
    assert zx < 0.5 and zy < 0.5


def test_zorder_pruning_touches_fewer_files(spark, tmp_path):
    """A selective predicate on either dimension finds its rows in a
    small subset of z-ordered files (what min/max skipping prunes to)."""
    rows = [(i % 256, (i * 7919) % 256) for i in range(20000)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    zpath = str(tmp_path / "z")
    _write_zordered(df, zpath, ["x", "y"], bits=8, num_files=16)

    back = spark.read.parquet(zpath)
    for col in ("x", "y"):
        touched = (
            back.filter(F.col(col) < 32)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        assert touched <= 8, f"{col}: rows for a 1/8 slice spread over {touched}/16 files"


def test_zorder_key_is_narrow_codegen(spark):
    """The Morton key is one codegen'd projection: no Exchange, no
    Python evaluation."""
    df = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    out = df.select(zorder_key(["a", "b"]).alias("k"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # the '*(n)' prefix marks a WholeStageCodegen span over the Project
    assert plan.lstrip().startswith("*("), plan
