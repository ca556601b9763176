"""Warehouse load protocol: staging overwrite → audit-timestamped,
idempotent append (SURVEY §2.2 K2/K4/K5, §7.1 step 5).

The reference's protocol is: truncate-load a ``*_staging`` BigQuery
table, then ``INSERT INTO main SELECT *, CURRENT_TIMESTAMP() AS
date_added_utc FROM main_staging``, creating main on NotFound (reference
airflow/dags/utils/utils.py:44-66). That protocol double-inserts on
retry (the reference actually loads staging twice in one task,
nws_dag.py:175+187 — a latent duplication bug tolerated by dedup-on-read).

We keep the two-phase shape (staging is the retry/inspection point) and
make the append *idempotent*: rows are keyed by a content hash
(``sha2`` over the key columns — the reference's vestigial ``hash_id``
column, 2_nws_update.ipynb:1114, attempted exactly this) and
anti-joined against the existing main table before appending.

Scale: a load costs O(batch), not O(main). One ``Observation`` on the
staging write yields the batch's row count and its distinct partition
values, and every read carries a known schema, so the append runs no
schema-inference or emptiness job of its own. Main tables are written
partitioned (by ``utc_date`` for the weather star), and the anti-join's
main side reads only the partition directories the batch touches; its
key hashes are the side Spark broadcasts, and main is never shuffled.
A batch whose partitions are all new (every backfill batch) skips the
anti-join altogether.

Precondition of that pruning: ``partition_col`` is a function of
``key_cols`` (and a table is always loaded with the same
``partition_col``), so a re-delivered row lands in the partition its
first copy did. Every caller meets it — the weather tables partition on
``to_date(utc_datetime)`` and ``utc_datetime`` is in every key.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

AUDIT_COL = "date_added_utc"


class SchemaViolation(ValueError):
    """Raised by :func:`assert_schema` with per-column null counts."""


def assert_schema(df: DataFrame, schema, *, sample_action: bool = True) -> None:
    """K7 made pre-flight: the reference parsed BigQuery's 'Required
    column value for column index N' load error and rewrote it with the
    column *name* (reference nws_dag.py:174-185). We check non-nullable
    columns BEFORE the write — one aggregate pass — and raise with every
    offending column and its null count at once, instead of one opaque
    index per failed load attempt.

    Also verifies every schema column exists (missing columns are a
    plan-time error with the full missing list).
    """
    missing = [f.name for f in schema.fields if f.name not in df.columns and f.name != AUDIT_COL]
    if missing:
        raise SchemaViolation(f"missing columns: {missing}")
    required = [f.name for f in schema.fields if not f.nullable and f.name in df.columns]
    if not required or not sample_action:
        return
    counts = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in required]
    ).collect()[0]
    bad = {c: counts[c] for c in required if counts[c]}
    if bad:
        raise SchemaViolation(f"nulls in REQUIRED columns: {bad}")


def row_hash(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Stable content hash over key columns (NULL-safe, \\x1f-separated)."""
    return df.withColumn(
        "_row_hash",
        F.sha2(
            F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols]),
            256,
        ),
    )


def _partition_value(col: str) -> Column:
    """``col`` as the text its partition directory is named by: Spark's
    string cast, with NULL mapped to ``""`` (both name the default
    partition)."""
    return F.coalesce(F.col(col).cast("string"), F.lit(""))


#: formats addressed by filesystem path (local, gs://, s3a://, hdfs://);
#: everything else is a named-table connector.
PATH_FORMATS = ("parquet", "orc", "csv", "json")


def fs_and_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — any scheme Spark reads
    (file://, hdfs://, gs://, s3a://), unlike ``os.path``."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def data_bytes(spark: SparkSession, path: str) -> int:
    """Total data-file bytes under ``path`` (hidden ``_``/``.`` files
    excluded) via the Hadoop FileSystem API."""
    fs, jpath = fs_and_path(spark, path)
    total = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            total += st.getLen()
    return total


def sink_spec(fmt: str, root: str, table: str, options: dict[str, str] | None = None) -> dict:
    """Resolve (format, root, table) to a concrete read/write target —
    the ONE place that knows how each backend is addressed, pure and
    unit-testable without the connector jars on the classpath.

    - path formats: ``root`` is a directory URI (``/data/wh``,
      ``gs://bucket/wh``) and the target is ``root/table``;
    - ``bigquery``: ``root`` is ``<project>.<dataset>`` and the target
      is the fully-qualified table name passed via the spark-bigquery
      connector's ``table`` option (reference loads the same tables via
      the BigQuery client, uscrn_dag.py:244-261, nws_dag.py:160-188).
      ``writeMethod`` defaults to ``direct`` (Storage Write API — no
      temporaryGcsBucket needed; set ``writeMethod=indirect`` +
      ``temporaryGcsBucket`` to stage through GCS instead).
    """
    opts = dict(options or {})
    if fmt in PATH_FORMATS:
        return {"format": fmt, "kind": "path", "target": os.path.join(root, table), "options": opts}
    if fmt == "bigquery":
        opts.setdefault("writeMethod", "direct")
        return {"format": fmt, "kind": "table", "target": f"{root}.{table}", "options": opts}
    raise ValueError(f"unknown warehouse format {fmt!r} (path formats: {PATH_FORMATS}, or 'bigquery')")


class Warehouse:
    """Format-pluggable warehouse with the staging→main protocol.

    ``fmt`` picks the sink/source backend: any path format (parquet is
    the default; the protocol tests also run against orc to prove the
    seam carries) or ``bigquery`` for the reference's actual sink via
    the spark-bigquery connector. Protocol semantics (staging
    truncate-load, audit append, hash-anti-join idempotence) are
    identical across backends — the swap is configuration, not code
    (SURVEY §7.1 step 8).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        self.options = dict(options or {})
        sink_spec(fmt, root, "_probe_", self.options)  # validate fmt eagerly

    def _spec(self, table: str) -> dict:
        return sink_spec(self.fmt, self.root, table, self.options)

    def _path(self, table: str) -> str:
        return self._spec(table)["target"]

    def _read_spec(self, spec: dict, schema: StructType | None = None) -> DataFrame:
        """Read ``spec``. A path read given ``schema`` runs no inference
        job; a named table carries its own schema."""
        reader = self.spark.read.format(spec["format"]).options(**spec["options"])
        if spec["kind"] == "path":
            if schema is not None:
                reader = reader.schema(schema)
            return reader.load(spec["target"])
        return reader.option("table", spec["target"]).load()

    def _write_spec(self, df: DataFrame, spec: dict, mode: str, partition_col: str | None = None):
        writer = df.write.format(spec["format"]).mode(mode).options(**spec["options"])
        if partition_col:
            writer = writer.partitionBy(partition_col)
        if spec["kind"] == "path":
            writer.save(spec["target"])
        else:
            writer.option("table", spec["target"]).save()

    def probe_exists(self, table: str) -> bool:
        """Existence probe that DISTINGUISHES missing from transient
        error: a filesystem or connector failure RAISES here instead of
        reading as "absent". Every writer decides create-vs-append with
        it, because an "absent" verdict skips the dedup against main —
        a transient failure misread as absent would re-append a batch
        that already landed.

        Path sinks ask the Hadoop FileSystem directly (works for any
        scheme Spark reads: file://, hdfs://, gs://). Table sinks
        (``kind == "table"``, e.g. bigquery) attempt a schema read and
        re-raise unless the connector's error clearly says not-found —
        the conservative direction: an unrecognized error fails the
        batch (replay-safe) rather than resetting state.
        """
        spec = self._spec(table)
        if spec["kind"] == "path":
            fs, p = fs_and_path(self.spark, spec["target"])
            return fs.exists(p)
        try:
            self._read_spec(spec).schema
            return True
        except Exception as e:  # connector-specific not-found detection
            msg = str(e).lower()
            if "not found" in msg or "notfound" in msg or "does not exist" in msg:
                return False
            raise

    def read(self, table: str) -> DataFrame:
        """Read a table."""
        return self._read_spec(self._spec(table))

    # -- K2: staging truncate-load ---------------------------------------

    def write_staging(self, df: DataFrame, table: str) -> str:
        """Overwrite the staging area for ``table`` (reference
        WRITE_TRUNCATE, uscrn_dag.py:244-261)."""
        spec = self._spec(f"{table}_staging")
        self._write_spec(df, spec, "overwrite")
        return spec["target"]

    def read_staging(self, table: str, schema: StructType) -> DataFrame:
        """The staging area, read with the staged frame's ``schema``."""
        return self._read_spec(self._spec(f"{table}_staging"), schema)

    # -- K4/K5: audit-timestamped append, create-if-missing --------------

    def append_main(
        self,
        table: str,
        *,
        staged: DataFrame,
        rows: int,
        parts: list[str],
        key_cols: list[str],
        partition_col: str | None = None,
    ) -> None:
        """``staged`` → main with ``date_added_utc`` audit column and
        hash-anti-join idempotence (FIXTURES §5 invariant 5: re-running a
        load must not duplicate rows). ``rows`` and ``parts`` are the
        batch's row count and distinct :func:`_partition_value` texts,
        as :meth:`load` observes them on the staging write.

        Empty batches are a no-op: a 0-row partitioned parquet write
        produces no data files (an unreadable "table"), and appending
        nothing needs no audit row. The main table appears on the first
        non-empty load."""
        if rows == 0:
            return
        spec = self._spec(table)
        existing = None
        if self.probe_exists(table):
            existing = self._touched(spec, staged.schema, parts, partition_col)
        staged = row_hash(staged, key_cols)
        if existing is not None:
            # the touched partitions' key hashes are the broadcast side
            existing = row_hash(existing, key_cols).select("_row_hash")
            staged = staged.join(existing, "_row_hash", "left_anti")
        out = staged.drop("_row_hash").withColumn(AUDIT_COL, F.current_timestamp())
        self._write_spec(out, spec, "append", partition_col=partition_col)

    def _touched(
        self, spec: dict, schema: StructType, parts: list[str], partition_col: str | None
    ) -> DataFrame | None:
        """The rows of main a batch over ``parts`` can collide with, or
        None when none of its partitions exists yet. Sound because
        ``partition_col`` is a function of the key (module docstring).

        Path tables read just the existing ``partition_col=<v>``
        directories under ``basePath``; named tables, which have no
        directories, filter on ``partition_col``. The read schema is
        the staged frame's plus the audit column, so no footer is
        inferred and a positional format lines up; parquet and orc
        still read only the key columns."""
        schema = StructType([*schema.fields, StructField(AUDIT_COL, TimestampType())])
        if partition_col is None:
            return self._read_spec(spec, schema)
        if spec["kind"] != "path":
            return self._read_spec(spec).filter(_partition_value(partition_col).isin(parts))
        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        dirs = []
        for v in parts:
            d = os.path.join(spec["target"], utils.getPartitionPathString(partition_col, v))
            fs, p = fs_and_path(self.spark, d)
            if fs.exists(p):
                dirs.append(d)
        if not dirs:
            return None
        return (
            self.spark.read.format(spec["format"])
            .options(**spec["options"])
            .option("basePath", spec["target"])
            .schema(schema)
            .load(dirs)
        )

    def load(
        self,
        df: DataFrame,
        table: str,
        *,
        key_cols: list[str],
        partition_col: str | None = None,
    ) -> None:
        """Full protocol: staging overwrite then idempotent append. The
        staging write observes the batch's row count and partition
        values, so the append needs no pass of its own to learn them."""
        obs = Observation()
        facts = [F.count(F.lit(1)).alias("rows")]
        if partition_col:
            facts.append(F.collect_set(_partition_value(partition_col)).alias("parts"))
        self.write_staging(df.observe(obs, *facts), table)
        got = obs.get
        self.append_main(
            table,
            staged=self.read_staging(table, df.schema),
            rows=got["rows"],
            parts=list(got.get("parts", [])),
            key_cols=key_cols,
            partition_col=partition_col,
        )


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Audit diff between two snapshots of the same table: one row per
    key that was ``added`` (only in new), ``removed`` (only in old), or
    ``changed`` (both sides, non-key content differs). Unchanged keys
    produce nothing — at 100 TB the diff is proportional to churn, the
    output never to the table.

    The content compare is ONE 8-byte xxhash64 of the non-key columns
    per side, computed before the join — the full-outer join carries
    (key, hash), never the row bodies, so wide tables diff at
    key-column shuffle cost (the same hash-not-rows decision as the
    idempotent append's anti-join). A 64-bit collision would mask one
    changed row per ~10¹⁹ — the same accepted envelope as every other
    hash in the engine, and the engine-agnostic SEMANTICS (classify by
    content equality) is what the oracle replays column-wise (qc0).

    Non-key columns are hashed in sorted-name order so the verdict is
    schema-order independent — and NULL-safely: Spark's multi-column
    ``xxhash64`` folds NULL inputs as a no-op, so ``(NULL, 'a')`` and
    ``('a', NULL)`` would hash EQUAL and mask a change. Hashing each
    column with its position as the seed and XOR-combining keeps a
    NULL's position visible (``xxhash64(lit(i))`` alone is a distinct
    non-null value per slot) without ANSI-mode overflow."""
    from functools import reduce

    body = sorted(c for c in old.columns if c not in key_cols)
    if body != sorted(c for c in new.columns if c not in key_cols):
        raise ValueError("snapshots must share a schema")

    def _row_hash(cols: list[str]):
        return reduce(
            lambda a, b: a.bitwiseXOR(b),
            [F.xxhash64(F.lit(i), F.col(c)) for i, c in enumerate(cols)],
        )

    o = old.select(*key_cols, _row_hash(body).alias("_h_old"))
    n = new.select(*key_cols, _row_hash(body).alias("_h_new"))
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    *,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered CDC changelog (op ∈ I/U/D, monotone ``seq_col``
    per key) to a snapshot and return the resulting snapshot — the
    lakehouse "apply change data feed" op: a key may be updated,
    deleted, and re-inserted in ONE feed and the outcome is whatever
    the LAST operation says.

    Plan: base rows enter the union as (seq = −∞) pseudo-inserts, then
    one window per key ordered by seq descending picks the latest
    operation, and a filter drops keys whose last op is D. One shuffle
    on the key; the window reads each row once. Replaying the same feed
    is idempotent: the final state depends only on (base, feed), not
    delivery count.

    ``changes`` must carry base's columns plus ``op_col``/``seq_col``;
    D rows only need the keys (payload columns are ignored).
    """
    data_cols = [c for c in base.columns if c not in key_cols]
    b = base.select(
        *key_cols,
        *data_cols,
        F.lit("I").alias("_op"),
        F.lit(None).cast("bigint").alias("_seq"),
    )
    c = changes.select(
        *key_cols,
        *data_cols,
        F.col(op_col).alias("_op"),
        F.col(seq_col).cast("bigint").alias("_seq"),
    )
    from pyspark.sql import Window

    # nulls_first: the base pseudo-insert sorts BELOW every feed seq
    w = Window.partitionBy(*key_cols).orderBy(F.col("_seq").desc_nulls_last())
    latest = (
        b.unionByName(c)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return latest.filter(F.col("_op") != "D").select(*key_cols, *data_cols)


def fk_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity probe: one row with the child's row count
    and how many child rows reference a missing parent. The orphan scan
    is a LEFT ANTI join on the key — parent side reduced to its
    distinct keys first, so the join input is |parent keys|, not
    |parent rows| — and both counts come from one pass each. NULL
    foreign keys count as orphans (they reference nothing); relax
    upstream if NULLs are a modeled "no parent"."""
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    orphans = child.select(child_key).join(keys, [child_key], "left_anti")
    return child.agg(F.count(F.lit(1)).alias("n_child")).join(
        orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
    )
