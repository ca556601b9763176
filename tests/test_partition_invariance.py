"""Partition-count invariance: the determinism contract, tested.

SCALE.md claims results are "reproducible at 32 or 32,000 partitions"
because float-bearing queries either do their arithmetic in exact
integers or round identical correctly-rounded expressions. This suite
runs the most float-sensitive queries under different
spark.sql.shuffle.partitions settings and requires BIT-IDENTICAL rows —
not approximately equal ones.
"""
import pytest

from alaska_etl_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# float-bearing shapes across the operator families: integer-cents
# aggregation, percentile clipping, MAD medians, EWMA recursion, CUPED
# moments, PSI drift, BM25 fixed-point scores, LM perplexity,
# containment integer rounding, bitext margin micros
CASES = [
    "q01_pricing_summary",
    "qd4_winsorize",
    "qa7_mad_anomalies",
    "q92_ewma",
    "qr2_cuped",
    "qe3_psi_drift",
    "q44_bm25",
    "q89_lm_perplexity",
    "q02_region_revenue",
    "qb3_corr_matrix",
    "qd7_perplexity_gate",
    "qe1_ab_test",
    "qs7_winnow_fingerprint",  # was q43 (r11 rotation)
    "q36_containment_join",
    "q40_bitext_margin",
    "q03_dedup_savings",
    "qf8_vocab_divergence",
    "q50_kmeans_summary",
    "qf9_embedding_drift",
    # r9 float emitters: hash-seeded bootstrap order statistics, the
    # centered eta^2 double division, MASE's product-ratio division,
    # and the quantized conditional-entropy units
    "q28_bootstrap_ci",
    "qq6_eta_squared",
    "qq8_mase_report",
    "qq9_sequence_predictability",
    # r10: hash-bucket quota ordering (the deterministic-sample lane)
    # and the longest-run island windows
    "qr7_domain_quota",
    "q22_longest_runs",  # was qr6 (r11 rotation)
    "q24_calibration",  # was qr8 (r11 rotation)
    # r11: the intra-doc island windows, the line-dedup reassembly
    # aggregate, the DSIR quantized-ln sums, and the robots
    # longest-prefix max-struct verdicts
    "q42_repeat_runs",
    "qs1_line_dedup",
    "q48_dsir_selection",
    "q14_robots_gate",
]


def _canon(df):
    rows = [tuple(repr(v) for v in row) for row in df.collect()]
    return sorted(rows)


@pytest.mark.parametrize("name", CASES)
def test_results_identical_across_partition_counts(spark, name):
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "5")
        a = _canon(QUERIES[name](spark, SF_DIR))
        spark.conf.set(key, "32")
        b = _canon(QUERIES[name](spark, SF_DIR))
    finally:
        spark.conf.set(key, orig)
    assert a == b, f"{name}: results depend on partition count"
    assert a, f"{name}: empty result proves nothing"
