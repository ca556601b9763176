"""Warehouse load protocol: K2 staging overwrite, K4 audit append,
idempotence via hash anti-join (FIXTURES §5 invariant 5)."""

from __future__ import annotations

import pytest

from alaska_etl_spark.plans.warehouse import AUDIT_COL, Warehouse, sink_spec


@pytest.fixture(params=["parquet", "orc"])
def wh(spark, tmp_path, request):
    """The whole protocol suite runs against TWO path formats — proving
    the sink seam is real, not a parquet special case (the same seam
    carries the bigquery connector, unit-tested in test_sink_spec_*)."""
    return Warehouse(spark, str(tmp_path), fmt=request.param)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string, part string")


def test_staging_overwrite(spark, wh):
    wh.write_staging(_batch(spark, [(1, "a", "p1")]), "t")
    b = _batch(spark, [(2, "b", "p1"), (3, "c", "p1")])
    wh.write_staging(b, "t")
    assert wh.read_staging("t", b.schema).count() == 2


def test_append_creates_main_with_audit(spark, wh):
    wh.load(_batch(spark, [(1, "a", "p1")]), "t", key_cols=["k"])
    main = wh.read("t")
    assert main.count() == 1
    assert AUDIT_COL in main.columns
    assert main.collect()[0][AUDIT_COL] is not None
    assert "_row_hash" not in main.columns  # the key digest is never stored


@pytest.mark.parametrize("partition_col", [None, "part"])
def test_reload_is_idempotent(spark, wh, partition_col):
    """Invariant 5: re-running the same load must not duplicate rows —
    the fix for the reference's double-load bug (nws_dag.py:175+187).
    Partitioned, the re-delivered rows sit in a touched partition."""
    b = _batch(spark, [(1, "a", "p1"), (2, "b", "p1")])
    wh.load(b, "t", key_cols=["k"], partition_col=partition_col)
    wh.load(b, "t", key_cols=["k"], partition_col=partition_col)
    assert wh.read("t").count() == 2


def test_append_new_rows_only(spark, wh):
    wh.load(_batch(spark, [(1, "a", "p1")]), "t", key_cols=["k"])
    wh.load(_batch(spark, [(1, "a", "p1"), (2, "b", "p1")]), "t", key_cols=["k"])
    out = wh.read("t")
    assert out.count() == 2
    assert sorted(r.k for r in out.collect()) == [1, 2]


def test_partitioned_write(spark, wh, tmp_path):
    wh.load(
        _batch(spark, [(1, "a", "p1"), (2, "b", "p2")]),
        "t",
        key_cols=["k"],
        partition_col="part",
    )
    assert (tmp_path / "t" / "part=p1").exists()
    assert (tmp_path / "t" / "part=p2").exists()
    assert wh.read("t").count() == 2


def _files(root, table):
    import glob

    return sorted(glob.glob(f"{root}/{table}/**/[!_.]*", recursive=True))


def test_append_reads_only_touched_partitions(spark, wh, tmp_path):
    """The existing side of the anti-join reads only the partitions the
    batch touches: a corrupt data file in an untouched partition is
    never opened, and the load lands exactly its new rows."""
    wh.load(
        _batch(spark, [(1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")]),
        "t",
        key_cols=["k"],
        partition_col="part",
    )
    [victim] = _files(tmp_path, "t/part=p1")
    with open(victim, "wb") as f:
        f.write(b"not a data file" * 64)

    wh.load(
        _batch(spark, [(2, "b", "p2"), (4, "d", "p2"), (5, "e", "p4")]),
        "t",
        key_cols=["k"],
        partition_col="part",
    )
    rest = (
        spark.read.format(wh.fmt)
        .schema(f"k bigint, v string, {AUDIT_COL} timestamp, part string")
        .load(f"{tmp_path}/t")
        .filter("part != 'p1'")
    )
    assert sorted((r.k, r.part) for r in rest.collect()) == [
        (2, "p2"), (3, "p3"), (4, "p2"), (5, "p4"),
    ]


class _JobCounting(Warehouse):
    """Records how many Spark jobs each ``append_main`` call runs, read
    from its own job group through ``statusTracker``."""

    group = "test-append-main"

    def append_main(self, table, **kwargs):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", self.group)
        before = set(sc.statusTracker().getJobIdsForGroup(self.group))
        try:
            super().append_main(table, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        self.jobs = len(set(sc.statusTracker().getJobIdsForGroup(self.group)) - before)


def test_append_jobs_do_not_grow_with_main(spark, tmp_path):
    """A load's append runs a fixed number of jobs, whatever the size of
    main: no schema inference, no emptiness probe, and an anti-join
    only when a touched partition already exists."""
    wh = _JobCounting(spark, str(tmp_path))
    counts = {}
    for n_parts in (10, 60):
        t = f"t{n_parts}"
        rows = [(i, "v", f"p{i:02d}") for i in range(n_parts)]
        wh.load(_batch(spark, rows), t, key_cols=["k"], partition_col="part")
        wh.load(_batch(spark, [(1000, "n", "new")]), t, key_cols=["k"], partition_col="part")
        new_only = wh.jobs
        wh.load(
            _batch(spark, [(3, "v", "p03"), (1001, "n", "p03"), (1002, "n", "new2")]),
            t,
            key_cols=["k"],
            partition_col="part",
        )
        counts[n_parts] = (new_only, wh.jobs)
        assert wh.read(t).count() == n_parts + 3
    new_only, touched = counts[10]
    assert new_only == 1  # only new partitions: just the write, no anti-join
    assert touched <= 2  # broadcast the touched hashes, then write
    assert counts[60] == counts[10]


def test_assert_schema_reports_all_violations(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from alaska_etl_spark.plans.warehouse import SchemaViolation, assert_schema

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("name", StringType(), False),
            StructField("opt", StringType(), True),
        ]
    )
    ok = spark.createDataFrame([(1, "a", None)], "k bigint, name string, opt string")
    assert_schema(ok, schema)  # no raise

    bad = spark.createDataFrame(
        [(1, None, None), (None, None, "x")], "k bigint, name string, opt string"
    )
    with pytest.raises(SchemaViolation) as e:
        assert_schema(bad, schema)
    msg = str(e.value)
    assert "'k': 1" in msg and "'name': 2" in msg and "opt" not in msg

    with pytest.raises(SchemaViolation, match="missing columns"):
        assert_schema(ok.drop("name"), schema)


def test_read_uscrn_modified_after(spark, locations, tmp_path):
    """S3 watermark scan via the file source's mtime filter: older files
    are never opened."""
    import os

    from alaska_etl_spark.sources.uscrn import read_uscrn
    from tests.conftest import uscrn_line

    old, new = tmp_path / "old.txt", tmp_path / "new.txt"
    old.write_text(uscrn_line(utc_time=1100) + "\n")
    new.write_text(uscrn_line(utc_time=1200) + "\n")
    os.utime(old, (1500000000, 1500000000))  # 2017
    os.utime(new, (1700000000, 1700000000))  # 2023

    got = read_uscrn(spark, str(tmp_path), locations, modified_after="2020-01-01T00:00:00")
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0].utc_datetime.hour == 12


def test_same_key_different_payload_appends(spark, wh):
    """The hash covers key_cols only — a changed payload with the same
    key is a new snapshot row (snapshot-append semantics, SURVEY §1.1)."""
    wh.load(_batch(spark, [(1, "a", "p1")]), "t", key_cols=["k", "v"])
    wh.load(_batch(spark, [(1, "CHANGED", "p1")]), "t", key_cols=["k", "v"])
    assert wh.read("t").count() == 2


# -- sink-format seam ---------------------------------------------------------


def test_sink_spec_path_formats(tmp_path):
    s = sink_spec("parquet", "/wh", "nws")
    assert s == {"format": "parquet", "kind": "path", "target": "/wh/nws", "options": {}}
    s = sink_spec("orc", "gs://bucket/wh", "nws", {"compression": "zlib"})
    assert s["target"] == "gs://bucket/wh/nws" and s["options"] == {"compression": "zlib"}


def test_sink_spec_bigquery_option_plumbing():
    """The reference's actual sink (uscrn_dag.py:244-261): root is
    project.dataset, target is the fully-qualified table via the
    connector's table option, direct Storage-Write by default,
    indirect+GCS staging when configured."""
    s = sink_spec("bigquery", "myproj.alaska", "nws")
    assert s["format"] == "bigquery" and s["kind"] == "table"
    assert s["target"] == "myproj.alaska.nws"
    assert s["options"] == {"writeMethod": "direct"}

    s = sink_spec(
        "bigquery", "myproj.alaska", "uscrn_staging",
        {"writeMethod": "indirect", "temporaryGcsBucket": "myproj-bucket"},
    )
    assert s["options"]["writeMethod"] == "indirect"
    assert s["options"]["temporaryGcsBucket"] == "myproj-bucket"


def test_unknown_format_rejected_eagerly(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown warehouse format"):
        Warehouse(spark, str(tmp_path), fmt="avro3")


# --- snapshot audit diff ----------------------------------------------------


def test_diff_snapshots_classifies_all_three(spark):
    from alaska_etl_spark.plans.warehouse import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k bigint, s string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)], "k bigint, s string, v double"
    )
    got = {r.k: r.change for r in diff_snapshots(old, new, ["k"]).collect()}
    assert got == {2: "changed", 3: "removed", 4: "added"}  # 1 unchanged, absent


def test_diff_snapshots_null_position_is_a_change(spark):
    from alaska_etl_spark.plans.warehouse import diff_snapshots

    # (NULL, 'a') vs ('a', NULL): multi-column xxhash64 folds NULLs as
    # no-ops and would call these equal — the per-position hash must not
    old = spark.createDataFrame([(1, None, "a")], "k bigint, s string, t string")
    new = spark.createDataFrame([(1, "a", None)], "k bigint, s string, t string")
    [r] = diff_snapshots(old, new, ["k"]).collect()
    assert r.change == "changed"


def test_diff_snapshots_schema_order_independent(spark):
    from alaska_etl_spark.plans.warehouse import diff_snapshots

    old = spark.createDataFrame([(1, "a", 2.0)], "k bigint, s string, v double")
    new = spark.createDataFrame([(2.0, "a", 1)], "v double, s string, k bigint")
    assert diff_snapshots(old, new, ["k"]).count() == 0


def test_diff_snapshots_rejects_schema_drift(spark):
    import pytest

    from alaska_etl_spark.plans.warehouse import diff_snapshots

    old = spark.createDataFrame([(1, "a")], "k bigint, s string")
    new = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    with pytest.raises(ValueError):
        diff_snapshots(old, new, ["k"])


def test_fk_check_counts_orphans_and_null_keys(spark):
    from alaska_etl_spark.plans.warehouse import fk_check

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id bigint, fk bigint"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk bigint")
    [r] = fk_check(child, parent, "fk", "pk").collect()
    assert r.n_child == 4
    assert r.n_orphans == 2  # the missing 99 and the NULL fk


# --- CDC changelog apply (qd1) ---------------------------------------------

def _snap(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def test_apply_changelog_last_op_wins(spark):
    from alaska_etl_spark.plans.warehouse import apply_changelog

    base = _snap(spark, [(1, "a"), (2, "b"), (3, "c")])
    feed = spark.createDataFrame(
        [
            (1, "a2", "U", 1),
            (2, None, "D", 1),
            (2, "b2", "I", 2),   # delete then re-insert: last op wins
            (3, "c2", "U", 1),
            (3, None, "D", 2),   # update then delete: gone
            (4, "d", "I", 1),    # brand-new key
        ],
        "k bigint, v string, op string, seq bigint",
    )
    got = {r.k: r.v for r in apply_changelog(base, feed, ["k"]).collect()}
    assert got == {1: "a2", 2: "b2", 4: "d"}


def test_apply_changelog_is_idempotent_and_base_seqless(spark):
    from alaska_etl_spark.plans.warehouse import apply_changelog

    base = _snap(spark, [(1, "a")])
    feed = spark.createDataFrame([(1, "a9", "U", 5)], "k bigint, v string, op string, seq bigint")
    once = apply_changelog(base, feed, ["k"])
    twice = apply_changelog(once, feed, ["k"])
    assert [(r.k, r.v) for r in twice.collect()] == [(1, "a9")]


def test_apply_changelog_empty_feed_is_identity(spark):
    from alaska_etl_spark.plans.warehouse import apply_changelog

    base = _snap(spark, [(1, "a"), (2, "b")])
    feed = spark.createDataFrame([], "k bigint, v string, op string, seq bigint")
    assert sorted((r.k, r.v) for r in apply_changelog(base, feed, ["k"]).collect()) == [
        (1, "a"), (2, "b"),
    ]


def test_probe_exists_path_and_table_kinds(spark, tmp_path, monkeypatch):
    """r12 (ADVICE r11): the streaming existence probe is KIND-aware.
    Path sinks ask the Hadoop FS; table sinks attempt a schema read and
    re-raise unless the connector error clearly says not-found — a
    transient failure must FAIL the batch, never read as 'absent' (the
    silent ledger-reset class)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert wh.probe_exists("t") is False
    wh.load(_batch(spark, [(1, "a", "p1")]), "t", key_cols=["k"])
    assert wh.probe_exists("t") is True

    # table-kind spec: simulate the connector's read outcomes
    twh = Warehouse(spark, str(tmp_path / "wh2"))
    monkeypatch.setattr(
        twh, "_spec", lambda table: {
            "format": "bigquery", "kind": "table",
            "target": f"p.d.{table}", "options": {},
        },
    )

    def _missing(spec):
        raise RuntimeError(f"Table {spec['target']} not found")

    monkeypatch.setattr(twh, "_read_spec", _missing)
    assert twh.probe_exists("t") is False

    def _transient(spec):
        raise RuntimeError("connection reset by peer")

    monkeypatch.setattr(twh, "_read_spec", _transient)
    with pytest.raises(RuntimeError, match="connection reset"):
        twh.probe_exists("t")  # transient error RAISES, never 'absent'
