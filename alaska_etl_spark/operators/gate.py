"""The document quality gate: the transform every training-data ingest
runs between "raw crawl" and "warehouse" — quality scoring, repetition
screening, PII scrubbing, content fingerprinting — as ONE pure
DataFrame→DataFrame function, so every caller executes the identical
plan.

Everything stays in whole-stage codegen (quality + redaction are
expression-only); the single shuffle is ``repetition_signals``' n-gram
aggregate back to document grain. Dedup is deliberately NOT here: a
within-DataFrame dropDuplicates can't see what already landed, so
cross-batch exact dedup belongs to the sink's fingerprint-keyed
idempotent append (Warehouse.load's hash anti-join) — the gate only
ATTACHES the fingerprint (computed over the SCRUBBED text, so two
documents differing only in redacted PII collapse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.operators.redact import redact_pii
from alaska_etl_spark.operators.text import (
    doc_fingerprint,
    quality_score,
    repetition_signals,
)

__all__ = ["gate_documents"]


def gate_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.3,
    max_dup_token_ratio: float = 0.6,
) -> DataFrame:
    """(id, text, ...) → gated (id, text_clean, quality,
    dup_token_ratio, fingerprint): drop documents scoring under
    ``min_quality`` or with more than ``max_dup_token_ratio`` of their
    tokens duplicated, scrub PII from survivors, fingerprint the
    scrubbed text. Thresholds are conservative defaults; tune per
    corpus."""
    rep = repetition_signals(df, id_col, text_col).select(
        F.col(id_col), "dup_token_ratio"
    )
    return (
        df.withColumn("quality", quality_score(text_col))
        .join(rep, id_col)
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("dup_token_ratio") <= max_dup_token_ratio)
        )
        .withColumn("text_clean", redact_pii(text_col))
        .withColumn("fingerprint", doc_fingerprint(F.col("text_clean")))
        .select(id_col, "text_clean", "quality", "dup_token_ratio", "fingerprint")
    )
