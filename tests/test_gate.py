"""Document quality gate (operators/gate.py): quality and repetition
screens, PII scrubbed from survivors, fingerprint over scrubbed text."""

from __future__ import annotations

from alaska_etl_spark.operators.gate import gate_documents

GOOD = (
    "The quarterly report shows steady improvement across all regional "
    "offices, with customer satisfaction rising for the third consecutive "
    "period and operational costs holding flat despite expansion."
)
SPAM = "buy buy buy buy buy buy buy buy buy buy buy buy buy buy buy buy"
PII = (
    "Please contact our support analyst at jane.doe@example.com or call "
    "907-555-1234 to review the findings of the infrastructure audit "
    "conducted across the northern monitoring stations last winter."
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_gate_filters_and_scrubs(spark):
    df = _docs(spark, [(1, GOOD), (2, SPAM), (3, PII), (4, "")])
    out = {r.doc_id: r for r in gate_documents(df).collect()}
    assert 1 in out and 3 in out
    assert 2 not in out  # repetition screen
    assert 4 not in out  # empty text fails quality
    assert "[EMAIL]" in out[3].text_clean and "@" not in out[3].text_clean
    assert "[PHONE]" in out[3].text_clean


def test_gate_fingerprint_is_over_scrubbed_text(spark):
    # same text, different email: scrubbed forms are identical
    a = PII
    b = PII.replace("jane.doe@example.com", "bob@other.org")
    df = _docs(spark, [(1, a), (2, b)])
    fps = {r.fingerprint for r in gate_documents(df).collect()}
    assert len(fps) == 1

