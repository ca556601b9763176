"""Bloom-filter join pruning: drop fact rows that cannot join BEFORE
the shuffle.

The 100 TB problem: ``fact ⋈ dim`` where dim is too large to broadcast
(so the join must shuffle both sides) but the join is selective — most
fact rows match nothing. Shuffling the non-matching rows is pure waste.
A Bloom filter of the dim keys is kilobytes-to-megabytes regardless of
dim's row width, ships to every task, and filters the fact *in the scan
stage*, so the exchange only carries rows that might match. No false
negatives (pruning never changes the join result); false positives only
cost shuffle bytes, tuned by sizing ``m_bits``.

Spark has this as an optimizer rule (`spark.sql.optimizer.runtime.
bloomFilter.enabled`, injecting `BloomFilterAggregate`/`might_contain`
around shuffle joins); this operator is the explicit, composable form —
usable where the rule doesn't fire (e.g. the build side behind a
mapInPandas, a pre-filter persisted across many queries, or a stream).

Layout: positions are computed JVM-side with ``xxhash64(i, key)`` (one
whole-stage-codegen projection, engine-native 64-bit xxHash); only the
membership test against the bit array runs in an Arrow-batched
pandas_udf (numpy gather over a shared ndarray — no per-row Python).
The bit array itself is built from the collected position set: bounded
by design at ``n_hashes · |dim keys|`` ints, the same driver envelope
as broadcasting the dim's keys would need, but the ARRAY shipped to
executors is m_bits/8 bytes however many keys went in.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from alaska_etl_spark.plans.warehouse import fs_and_path

__all__ = [
    "bloom_params",
    "build_bloom",
    "bloom_prune",
    "bloom_pruned_semi_join",
    "bloom_sidecar_read",
    "bloom_sidecar_write",
    "bloom_sidecar_load",
    "bloom_sidecar_compact",
    "bloom_delta_append",
    "bloom_positions_pdf",
    "bloom_or_positions",
    "bloom_add",
    "bloom_split",
]


def bloom_params(n_keys: int, fpp: float) -> tuple[int, int]:
    """Optimal (m_bits, n_hashes) for ``n_keys`` at false-positive rate
    ``fpp``: m = -n·ln p / ln²2, k = (m/n)·ln 2 — the standard sizing."""
    if not 0 < fpp < 1:
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    m = max(64, int(-n_keys * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round((m / max(1, n_keys)) * math.log(2)))
    return m, k


def _positions(col: Column, *, m_bits: int, n_hashes: int) -> Column:
    """The ``n_hashes`` bit positions of a key, as an array column —
    xxhash64 seeded by the hash index, codegen throughout."""
    return F.array(
        *[F.pmod(F.xxhash64(F.lit(i), col), F.lit(m_bits)) for i in range(n_hashes)]
    )


def build_bloom(
    keys: DataFrame, col: str, *, m_bits: int, n_hashes: int
) -> np.ndarray:
    """Build the bit array from the build side's keys: one distributed
    projection to positions, folded to BYTE grain with a distributed
    ``bit_or`` (at most m_bits/8 result rows regardless of key count —
    a 10⁷-key rebuild collects byte rows, never 10⁸ position rows),
    fetched via Arrow. Bit-within-byte layout matches
    ``np.unpackbits`` (big-endian per byte), the probe's indexing.
    Returns a packed uint8 array of m_bits/8 bytes."""
    byte_rows = (
        keys.select(
            F.explode(_positions(F.col(col), m_bits=m_bits, n_hashes=n_hashes)).alias(
                "p"
            )
        )
        .select(
            F.shiftright(F.col("p"), 3).alias("i"),
            # SQL shiftleft: the Python API only takes literal shift
            # counts; unpackbits layout = big-endian within the byte
            F.expr("CAST(shiftleft(1, CAST(7 - pmod(p, 8) AS INT)) AS INT)").alias(
                "b"
            ),
        )
        .groupBy("i")
        .agg(F.bit_or("b").alias("b"))
        .toPandas()
    )
    arr = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    if len(byte_rows):
        arr[byte_rows["i"].to_numpy()] = byte_rows["b"].to_numpy().astype(np.uint8)
    return arr


def bloom_prune(
    fact: DataFrame,
    packed_bits: np.ndarray,
    col: str,
    *,
    m_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Rows of ``fact`` whose key MIGHT be in the filter — a superset of
    the true matches (no false negatives: every inserted key sets
    exactly the bits the probe checks). The PACKED array ships as a
    SPARK BROADCAST (once per executor), never a closure capture (a
    closure is re-serialized per task — at 10⁷-key filters that was
    ~GBs of shipping per job, the measured r12 cost); the probe tests
    bits IN the packed bytes (byte-index + mask), no 8× unpack."""
    return _bloom_filter_rows(fact, packed_bits, col, m_bits, n_hashes, True).drop(
        "_bf_pos"
    )


def _bloom_filter_rows(
    fact: DataFrame,
    packed_bits: np.ndarray,
    col: str,
    m_bits: int,
    n_hashes: int,
    keep_maybe: bool,
) -> DataFrame:
    sc = fact.sparkSession.sparkContext
    bcast = sc.broadcast(packed_bits)

    @pandas_udf(BooleanType())
    def _might_contain(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype="bool")
        b = bcast.value  # packed uint8, np.unpackbits bit order
        arr = np.stack(pos.to_numpy())  # batch × n_hashes
        hit = (b[arr >> 3] & (128 >> (arr & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    tagged = fact.withColumn(
        "_bf_pos", _positions(F.col(col), m_bits=m_bits, n_hashes=n_hashes)
    )
    cond = _might_contain(F.col("_bf_pos"))
    return tagged.filter(cond if keep_maybe else ~cond)


def bloom_pruned_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    col: str,
    *,
    fpp: float = 0.01,
    n_keys_hint: int | None = None,
) -> DataFrame:
    """LEFT SEMI join with a Bloom pre-filter on the fact side: the
    result is IDENTICAL to ``fact ⋈semi dim`` (false positives are
    removed by the exact join; false negatives don't exist), but the
    exchange under the join only carries rows that passed the filter.
    ``n_keys_hint`` sizes the filter without a counting job; when
    omitted, one count runs on the (small) build side."""
    n = n_keys_hint if n_keys_hint is not None else dim_keys.count()
    m_bits, n_hashes = bloom_params(n, fpp)
    packed = build_bloom(dim_keys, col, m_bits=m_bits, n_hashes=n_hashes)
    pruned = bloom_prune(fact, packed, col, m_bits=m_bits, n_hashes=n_hashes)
    return pruned.join(dim_keys.select(col), [col], "left_semi")


# --- incremental seen-set Bloom sidecar (r12, VERDICT r11 Missing #2) --------
#
# The streaming frontier's last row-grain per-batch term is the
# seen-set anti-join: every micro-batch reads the landed table's key
# column to decide which batch rows are re-crawls (~100 s/batch
# extrapolated at 10⁹ landed rows — SCALE.md "Frontier per-batch scan
# cost"). A Bloom filter of the LANDED keys, maintained INCREMENTALLY
# across batches (bloom union = bitwise OR; no per-batch rebuild),
# splits each batch into definitely-new rows (bloom-negative — no
# false negatives, so they provably cannot be landed) and maybe-seen
# rows (true re-crawls + fpp·|batch| false positives). Only the maybe
# lane touches the landed table at all; when it is empty — the
# steady-state of a crawl discovering new URLs — the batch lands with
# ZERO reads of the seen-set, which is what makes the per-batch cost
# flat in |landed|.
#
# CRASH-SAFETY INVARIANT (the ledger-before-rows stance): the batch's
# bits reach DISK (the delta log) BEFORE the rows land, so the on-disk
# filter is always a SUPERSET of the landed keys. A crash between the
# two writes leaves keys in the filter that never landed — those route
# to the maybe lane on replay, where the exact anti-join re-admits
# them (correct). The reverse order would let a landed key read as
# definitely-new and re-admit a duplicate. An unreadable/missing
# sidecar recovers by rebuilding from the landed keys (one full scan —
# the cost the sidecar normally avoids), which restores the superset
# exactly.
#
# LAYOUT (r12): ``{path}/base`` (one-row parquet: m_bits, n_hashes,
# packed bytes) + ``{path}/delta`` (appended parquet of bit
# positions). Per batch the sink appends the batch's positions —
# O(|batch|) bytes — instead of rewriting the whole filter
# (O(capacity) bytes: at a 10⁷-key filter that full rewrite was 36 MB
# per batch, a term LINEAR in the seen-set that would have crept back
# in at 10⁹). The live filter stays in driver memory across a stream
# run (foreachBatch closure state); a restart loads base, re-ORs the
# delta log (idempotent), and continues. Compaction folds deltas into
# base at BLOOM_COMPACT_POSITIONS — base-then-delete ordering, safe at
# every crash point because OR is idempotent.
#
# Sizing: m_bits is FIXED at creation from (capacity, fpp) and stored
# in the sidecar; inserting beyond capacity only degrades fpp (more
# maybe-lane traffic, never a wrong result). PICK fpp ≲ 0.01/|batch|
# (default 1e-6): the thing fpp buys is P(no false positive in a
# batch) — only then does an all-new batch skip the landed read
# entirely; at 1% fpp a 10⁴-row batch carries ~100 false positives
# and the maybe-lane full scan fires EVERY batch, burying the win
# (measured, r12). 1e-6 is ~29 bits/key: 3.6 MB per 10⁶ keys, ~3.6 GB
# at 10⁹ — the honest trade written down: per-batch closure shipping
# at that size is real, vs. minutes of landed scan.

_BLOOM_SCHEMA = "m_bits bigint, n_hashes int, packed binary"


def bloom_sidecar_read(spark, path: str):
    """Read an incremental Bloom sidecar written by
    :func:`bloom_sidecar_write`; returns (packed uint8 array, m_bits,
    n_hashes) or None when the sidecar does not exist. Any OTHER read
    failure raises — the caller decides to rebuild, never silently."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return None
    # toPandas (Arrow), not collect: a 10⁷-key filter is ~36 MB of
    # binary — the py4j row path shuttles that through the gateway
    pdf = spark.read.schema(_BLOOM_SCHEMA).parquet(path).toPandas()
    row = pdf.iloc[0]
    return (
        np.frombuffer(row["packed"], dtype=np.uint8),
        int(row["m_bits"]),
        int(row["n_hashes"]),
    )


def bloom_sidecar_write(
    spark, path: str, packed: np.ndarray, m_bits: int, n_hashes: int
) -> None:
    """Persist the filter as a one-row parquet (overwrite). A crash
    mid-write can leave the sidecar unreadable; readers treat that as
    missing-and-rebuild (see module comment), so the write needs no
    rename dance. The frame is built from pandas (Arrow path) — the
    plain-list route pickles the MB-scale binary through py4j."""
    pdf = pd.DataFrame(
        {
            "m_bits": np.array([m_bits], dtype=np.int64),
            "n_hashes": np.array([n_hashes], dtype=np.int32),
            "packed": [bytes(packed.tobytes())],
        }
    )
    spark.createDataFrame(pdf, _BLOOM_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


_DELTA_SCHEMA = "p bigint"

#: compact the delta log into the base once this many positions have
#: accumulated — bounds restart replay at ~16 MB of delta reads while
#: keeping the per-batch write O(|batch|), never O(filter)
BLOOM_COMPACT_POSITIONS = 2_000_000


def bloom_positions_pdf(
    keys: DataFrame, col: str, *, m_bits: int, n_hashes: int
) -> pd.DataFrame:
    """Distinct bit positions of ``keys`` as a pandas frame (Arrow
    fetch; at most n_hashes·|keys| ints — batch-bounded)."""
    return (
        keys.select(
            F.explode(
                _positions(F.col(col), m_bits=m_bits, n_hashes=n_hashes)
            ).alias("p")
        )
        .distinct()
        .toPandas()
    )


def bloom_or_positions(packed: np.ndarray, pos: pd.DataFrame) -> np.ndarray:
    """New packed array with the position rows OR'd in."""
    bits = np.unpackbits(packed)
    if len(pos):
        bits[pos["p"].to_numpy()] = 1
    return np.packbits(bits)


def bloom_delta_append(spark, path: str, pos: pd.DataFrame) -> None:
    """Append one batch's positions to the delta log — the O(|batch|)
    per-batch disk write that replaces rewriting the whole filter
    (O(capacity) bytes — at a 10⁷-key filter that was 36 MB per batch,
    linear in the seen-set; the delta is ~KBs). OR is idempotent, so a
    replayed batch's duplicate delta rows are harmless."""
    if not len(pos):
        return
    spark.createDataFrame(pos, _DELTA_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{path}/delta")


def bloom_sidecar_load(spark, path: str):
    """(packed, m_bits, n_hashes, n_delta) from ``{path}/base`` with
    the delta log OR'd in; None when no base exists (a delta without a
    base also reads as missing → the caller rebuilds from landed keys,
    which restores the superset — every crash ordering is safe because
    OR is idempotent and base-then-delete is the compaction order)."""
    got = bloom_sidecar_read(spark, f"{path}/base")
    if got is None:
        return None
    packed, m_bits, n_hashes = got
    n_delta = 0
    dpath = f"{path}/delta"
    fs, p = fs_and_path(spark, dpath)
    if fs.exists(p):
        pos = spark.read.schema(_DELTA_SCHEMA).parquet(dpath).toPandas()
        n_delta = len(pos)
        if n_delta:
            packed = bloom_or_positions(packed, pos)
    return packed, m_bits, n_hashes, n_delta


def bloom_sidecar_compact(
    spark, path: str, packed: np.ndarray, m_bits: int, n_hashes: int
) -> None:
    """Fold the delta log into the base: write base (already containing
    the delta bits), then drop the delta dir. A crash between the two
    leaves base ⊇ deltas and the deltas still present — the next load
    re-ORs them into the same filter (idempotent), never loses a bit."""
    bloom_sidecar_write(spark, f"{path}/base", packed, m_bits, n_hashes)
    fs, p = fs_and_path(spark, f"{path}/delta")
    if fs.exists(p):
        fs.delete(p, True)


def bloom_add(
    keys: DataFrame, col: str, packed: np.ndarray, *, m_bits: int, n_hashes: int
) -> np.ndarray:
    """New packed array with ``keys``' bits OR'd in (one distributed
    projection + one bounded Arrow fetch of distinct positions — at
    most min(m_bits, n_hashes·|keys|) ints; per streaming batch that
    is n_hashes·|batch|, never the landed size)."""
    pos = (
        keys.select(
            F.explode(
                _positions(F.col(col), m_bits=m_bits, n_hashes=n_hashes)
            ).alias("p")
        )
        .distinct()
        .toPandas()
    )
    bits = np.unpackbits(packed)
    if len(pos):
        bits[pos["p"].to_numpy()] = 1
    return np.packbits(bits)


def bloom_split(
    df: DataFrame,
    packed: np.ndarray,
    col: str,
    *,
    m_bits: int,
    n_hashes: int,
) -> "tuple[DataFrame, DataFrame]":
    """(maybe_seen, definitely_new) split of ``df`` on the filter: the
    first frame holds rows whose key might be in the filter (needs the
    exact check), the second rows that provably are not (no false
    negatives — safe to treat as new without touching the seen-set).

    Callers that consume both sides more than once should persist the
    frames (or a tagged parent): each evaluation re-runs the membership
    UDF. The filter ships as one SPARK BROADCAST shared by both sides
    (never a per-task closure — the measured r12 cost) and is probed
    packed (byte-index + mask, no 8× unpack)."""
    sc = df.sparkSession.sparkContext
    bcast = sc.broadcast(packed)

    @pandas_udf(BooleanType())
    def _might_contain(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype="bool")
        b = bcast.value
        arr = np.stack(pos.to_numpy())
        hit = (b[arr >> 3] & (128 >> (arr & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    tagged = df.withColumn(
        "_bf_pos", _positions(F.col(col), m_bits=m_bits, n_hashes=n_hashes)
    ).withColumn("_bf_maybe", _might_contain(F.col("_bf_pos")))
    maybe = tagged.filter(F.col("_bf_maybe")).drop("_bf_pos", "_bf_maybe")
    new = tagged.filter(~F.col("_bf_maybe")).drop("_bf_pos", "_bf_maybe")
    return maybe, new
