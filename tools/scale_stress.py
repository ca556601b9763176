"""Synthetic 10× scale stress for the similarity/dedup family
(VERDICT r4 next-round #5): no sf1 testdata exists, so build it —
replicate the sf0.1 corpus 10× in a way that preserves each copy's
internal near-dup structure while making copies mutually dissimilar,
then measure how the LSH / inverted-index / cluster-blocked operators
actually scale from 1× to 10×.

Corpus construction (the part that makes the measurement honest):

- ``documents`` ×10: copy k offsets doc_id by k·10^7 and prefixes every
  TOKEN with ``c{k}`` — within-copy shingle sets keep their exact
  Jaccard/cosine structure (every token maps injectively), while
  cross-copy vocabularies are disjoint, so the TRUE pair set is exactly
  10× the base pair set. A naive 10× clone instead gives every document
  9 exact twins and the output (and any verify stage) legitimately
  grows ~100× — that measures output size, not operator scaling.
- ``embeddings`` ×10: copy k applies a seed-k random PERMUTATION of the
  64 dimensions plus per-dimension SIGN FLIPS — a signed permutation is
  orthogonal, so within-copy cosines are exactly preserved, while the
  sign flips zero the cross-copy expectation even when the corpus lives
  in a positive cone (a bare permutation of all-positive-mean vectors
  stays positively correlated — measured: survivors collapsed to ~570
  of 20 000 because copy 0 dominated everything).

What linear wall-clock growth certifies per query: q29 MinHash-LSH —
banding volume |docs|×bands and candidate count both 10×, never
all-pairs; q88 cosine / qb0 Jaccard similarity joins — the inverted
index's Σdf² bound is 10× (per-copy df distributions are identical and
vocabularies disjoint); q64 SemDeDup — cluster-blocked chunked matmul
(clusters get denser; see the note printed with the results); q30
SimHash — chunk-blocked hamming join. q26 stays id-bounded (<60) by
contract and acts as the constant-work control.

Usage:
    python tools/scale_stress.py            # builds ./.scale_stress, runs, prints a table

Output parquet lands in .scale_stress/ (gitignored); results are
printed as the markdown table SCALE.md's "Measured 1×→10×" section
carries.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_stress")
COPIES = 10
QUERIES_UNDER_TEST = [
    "qq3_ngram_jaccard",   # constant-work control (id-bounded by contract; was q26)
    "q29_minhash_lsh",
    "qo7_simhash",
    "q88_cosine_simjoin",
    "qb0_jaccard_simjoin",
    "q64_semantic_dedup",
    # qf0 containment: src-prefix + full-dst postings — with disjoint
    # per-copy vocabularies the true directed pair set is exactly 10x.
    # qf1 bitext margin is deliberately ABSENT: its brute-force top-k
    # baseline is O(|x|*|y|) by design (the scale path swaps ivf_topk),
    # so a 10x clone measures the documented-quadratic oracle baseline,
    # not the operator's scaling shape.
    "q36_containment_join",
    # qf8 vocab divergence: token-prefix renaming gives each copy a
    # DISJOINT vocabulary, so the shared-token join only fires within
    # the original source pairs of each copy — the 10x corpus measures
    # the tokenize/count passes (linear) + a 10x-vocab count-table
    # self-join whose matches stay 1x-sized. Sub-linear expected.
    "qf8_vocab_divergence",
    # round-6 tail: the evaluation/statistics family over documents —
    # NB train+score (one vocab aggregate + vocab-keyed join), its AUC
    # and PR-curve reductions (distinct-score frames), chi2 selection
    # (vocab aggregate + sort-limit), PMI (bigram aggregates). All
    # expected ~linear: work is token- or vocabulary-proportional,
    # never pairwise.
    "qg5_naive_bayes",
    "q18_nb_auc",
    "qh0_pr_curve",
    "qg8_chi2_features",
    "qh2_pmi_collocations",
    # JL projection over embeddings: strictly per-row — the linear
    # control of the embedding family.
    "qh3_jl_projection",
    # round-6 tail: blocked SNM — token prefixing shifts every copy's
    # normalized key prefix, so blocks stay copy-disjoint and the true
    # neighbor-pair set is exactly 10x; expected ~linear (O(n·w) pairs
    # by contract, windows inside bounded blocks).
    "qj0_sorted_neighborhood",
    # Heaps vocab growth: injective token renaming makes the 10x vocab
    # exactly 10x; work is one token aggregate — expected ~linear.
    "qi9_vocab_growth",
    # round-7 corpus metrics: diversity/Zipf are vocabulary-bound
    # aggregates (injective renaming → 10x vocab, expected ~linear in
    # vocab over a fixed floor); CDC chunk stats is one window + a
    # vocab-grain chunk-frequency join; blocking quality adds the
    # unfiltered shared-gram truth join whose Sigma-df^2 term is
    # exactly 10x (disjoint per-copy vocabularies).
    "qm0_ngram_diversity",
    "qm1_zipf_slope",
    "q20_cdc_chunks",
    "qm3_blocking_quality",
    # round-8 (VERDICT r7 #5): the unified audit over the key-offset
    # ×10 TPC-H tables — per-copy FDs and inclusions are preserved
    # exactly while key distinct counts (the persisted counts frame,
    # the audit's cost driver) grow 10× and categorical domains stay
    # constant (as real ones do). Expected ~linear: one scan + one
    # counts aggregate per table, every report off the reduced frame.
    "q23_data_audit",
    # round-9 (VERDICT r8 #7): the r8 tail's two join-bearing shapes.
    # Join forecast: two key-grain count aggregates + a key-frame join
    # — its whole pitch is "cheaper than the join it predicts", and
    # the keyed ×10 tables grow the key-count frames exactly 10×
    # (expected ~linear). Categorical MI: ALL column pairs ride one
    # tagged explode + one cell aggregate — the explode width is the
    # risk; keyed/categorical domains constant, rows 10×.
    "q33_join_forecast",
    "q30_mutual_info",
    # round-9 (the r9 tail's join-bearing shapes): qp1 gram-grain index
    # forecast (one vocab aggregate over the token-prefixed ×10 corpus:
    # vocab and postings exactly 10×, candidate sum 10× by disjoint
    # per-copy vocabularies); qp4 span localization (containment join +
    # match-grain position joins — expected to track q36's exponent,
    # the span tail being output-bounded at exactly 10× pairs); qp5
    # source-overlap (copies keep the SAME source labels, so the matrix
    # stays source-grain constant while per-pair counts grow 10× —
    # prefixed copies share no fingerprints across copies); qp8 k-core
    # (keyed ×10 trade graph preserves per-copy degrees, so survivors
    # are exactly 10× and each peel round is edge-linear).
    "qp1_index_forecast",
    "q07_span_localization",  # was qp4
    "qp5_source_overlap",
    "q26_k_core",  # was qp8
    # round-10: the two new join-bearing shapes. Longest shared runs:
    # token prefixing keeps per-copy positional-gram structure exact
    # and per-copy df distributions identical with disjoint cross-copy
    # vocabularies, so the rare-gram (df<=3) candidate pairs and the
    # true run set are both exactly 10x; the diagonal-island windows
    # run at candidate-pair grain. Span excision: the q07 containment
    # construction argument (directed pair set exactly 10x) plus a
    # match-grain token explode and the cut — output rows (affected
    # dst docs) exactly 10x.
    "q22_longest_runs",  # was qr6 (r11 driver-window rotation)
    "q43_span_excision",  # was qr9
    # round-11: the two new join-bearing shapes. Line dedup: injective
    # token prefixing keeps every copy's 5-token line set identical in
    # structure and disjoint across copies, so the corpus-hot line set
    # and the removal set are both exactly 10x; work is one explode +
    # one line-hash aggregate + one key-grain join (expected ~linear).
    # Intra-doc repeat runs: the self-pair frame is per-document, and
    # copy offsets are multiples of 4 so each copy injects the same
    # doc_id%4 repeat shapes — true run set exactly 10x, diagonal
    # windows at document grain.
    "qs1_line_dedup",
    "q42_repeat_runs",
]

# Second-decade (100×) tier: only the inverted-index trio whose Σdf² /
# posting-list candidate terms are the binding cost models (VERDICT r6
# #3) — one decade of measurement extrapolated five more was the
# weakest link in the 100 TB argument; two decades anchor it.
HUNDRED = [
    "qb0_jaccard_simjoin",
    "q36_containment_join",
    "q88_cosine_simjoin",
]


def build(spark) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    embs = spark.read.parquet(f"{BASE}/embeddings.parquet")

    # 1x: pass-through rewrite so both scales read identical file layouts
    docs.write.mode("overwrite").parquet(f"{OUT}/x1/documents.parquet")
    embs.write.mode("overwrite").parquet(f"{OUT}/x1/embeddings.parquet")

    parts_d = []
    parts_e = []
    for k in range(COPIES):
        parts_d.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
                # token-injective rename: prefix every non-space run
                F.regexp_replace(F.col("text"), r"(\S+)", f"c{k}$1").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        rng = random.Random(1000 + k)
        perm = list(range(64))
        rng.shuffle(perm)
        signs = [rng.choice((1.0, -1.0)) if k > 0 else 1.0 for _ in range(64)]
        signed_perm = F.array(
            *[
                F.lit(float(s)) * F.element_at("embedding", p + 1)
                for p, s in zip(perm, signs)
            ]
        )
        parts_e.append(
            embs.select(
                (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
                (F.col("embedding") if k == 0 else signed_perm).alias("embedding"),
                *[c for c in embs.columns if c not in ("vec_id", "embedding")],
            )
        )
    d10 = parts_d[0]
    e10 = parts_e[0]
    for p in parts_d[1:]:
        d10 = d10.unionByName(p)
    for p in parts_e[1:]:
        e10 = e10.unionByName(p)
    d10.write.mode("overwrite").parquet(f"{OUT}/x10/documents.parquet")
    e10.write.mode("overwrite").parquet(f"{OUT}/x10/embeddings.parquet")

    # audit tables ×10 (q23_data_audit cell): copy k offsets every KEY
    # column by k·10⁹, so per-copy functional dependencies and
    # cross-table inclusions hold exactly, key distinct counts grow
    # 10×, and categorical/date domains stay constant — the realistic
    # growth shape for a warehouse audit.
    keyed = {
        "orders": ["o_orderkey", "o_custkey"],
        # l_suppkey offset too (r9): without it the ×10 copies share
        # one supplier population, so the qp8 trade graph merged
        # supplier nodes across copies (10× degree hubs) instead of
        # replicating per-copy subgraphs — survivors were 131 010, not
        # the exact 140 010 the construction promises.
        "lineitem": ["l_orderkey", "l_suppkey"],
        "customer": ["c_custkey"],
    }
    # r13 (VERDICT r12 #7): every remaining bench table, so
    # SPARK_GRAFT_SF_DIR can point bench.py at the ×10 corpus for the
    # paired c8/c32 scaling rows. Facts scale by key offset (events:
    # 10× users over the same time window; supplier ×10 matches the
    # offset l_suppkey); the small dims (nation/region/part) pass
    # through unscaled — the realistic warehouse growth shape, and
    # lineitem's un-offset l_partkey keeps part joins consistent.
    keyed["events"] = ["event_id", "user_id"]
    keyed["supplier"] = ["s_suppkey"]
    for t, keys in keyed.items():
        base = spark.read.parquet(f"{BASE}/{t}.parquet")
        base.write.mode("overwrite").parquet(f"{OUT}/x1/{t}.parquet")
        parts = []
        for k in range(COPIES):
            parts.append(
                base.select(
                    *[
                        (F.col(c) + F.lit(k * 1_000_000_000)).alias(c)
                        if c in keys
                        else F.col(c)
                        for c in base.columns
                    ]
                )
            )
        t10 = parts[0]
        for p in parts[1:]:
            t10 = t10.unionByName(p)
        t10.write.mode("overwrite").parquet(f"{OUT}/x10/{t}.parquet")
    for t in ("nation", "region", "part"):
        base = spark.read.parquet(f"{BASE}/{t}.parquet")
        base.write.mode("overwrite").parquet(f"{OUT}/x1/{t}.parquet")
        base.write.mode("overwrite").parquet(f"{OUT}/x10/{t}.parquet")


def build_x100(spark) -> None:
    """Second decade for the inverted-index trio (VERDICT r6 #3): 10
    copies OF THE x10 CORPUS, each with a second injective token-prefix
    level (``c3foo`` → ``d7c3foo``) and a disjoint doc_id block — the
    same construction argument as build(), applied once more, so the
    true pair set is exactly 100× the base and per-copy df distributions
    stay identical (Σdf² grows exactly 100×). Only ``documents`` is
    written: all three 100×-tier queries are document joins."""
    from pyspark.sql import functions as F

    d10 = spark.read.parquet(f"{OUT}/x10/documents.parquet")
    parts = [
        d10.select(
            (F.col("doc_id") + F.lit(k * 1_000_000_000)).alias("doc_id"),
            F.regexp_replace(F.col("text"), r"(\S+)", f"d{k}$1").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for k in range(COPIES)
    ]
    d100 = parts[0]
    for p in parts[1:]:
        d100 = d100.unionByName(p)
    d100.write.mode("overwrite").parquet(f"{OUT}/x100/documents.parquet")


def _run_one(name: str, with_x100: bool) -> dict:
    """Run one query's cells in THIS process (spawned fresh per query
    by main — see its isolation note) and return the result row."""
    import math

    from alaska_etl_spark.cache import release_tracked
    from alaska_etl_spark.plans.queries import QUERIES
    from alaska_etl_spark.session import get_spark

    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    # warm plan shapes once at 1x so codegen/plan compilation doesn't
    # land inside either timed run
    QUERIES[name](spark, f"{OUT}/x1").collect()
    release_tracked()

    row = {"query": name}
    scales = ("x1", "x10", "x100") if with_x100 and name in HUNDRED else ("x1", "x10")
    for scale in scales:
        best, rows = None, None
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                n = len(QUERIES[name](spark, f"{OUT}/{scale}").collect())
            except Exception as e:  # report the cell, keep the table
                # py4j errors bury the JVM cause lines deep in the
                # message — surface the first few informative ones
                # (r8: a bare "collectToPython" first line hid an OOM
                # class for a whole round)
                lines = [
                    ln for ln in str(e).splitlines()
                    if ln.strip() and not ln.startswith("\tat ")
                ]
                print(
                    f"FAILED {name} {scale}: "
                    + " | ".join(ln.strip()[:160] for ln in lines[:4]),
                    file=sys.stderr,
                )
                release_tracked()
                n = -1
            dt = time.perf_counter() - t0
            release_tracked()
            best = dt if best is None else min(best, dt)
            rows = n
        row[scale] = best
        row[f"{scale}_rows"] = rows
    row["time_ratio"] = row["x10"] / row["x1"]
    row["exponent"] = math.log10(max(row["time_ratio"], 1e-9))
    if "x100" in row:
        # exponent over TWO decades: log10(t100/t1) / 2
        row["exponent_2dec"] = math.log10(max(row["x100"] / row["x1"], 1e-9)) / 2
    return row


def run_degenerate() -> None:
    """Adversarial X178 cell (VERDICT r11 #3): ONE pathological document
    — 10⁵ repetitions of a single token — dropped into the sf0.1 corpus.
    Uncapped, that document alone owns a (id, gram) join key with
    multiplicity ~10⁵ → ~5·10⁹ pairs on one task; the ``hot_gram_cap``
    lane must keep the whole-corpus run at interactive wall-clock by
    routing it to the linear adjacent-occurrence lane. The uncapped
    contrast runs at m = 3 000 and m = 10 000 (big enough to show the
    ~m² trend, small enough to finish) — extrapolating that trend to
    10⁵ is the honest statement of what the guard prevents; running it
    would be the task the guard exists to avoid."""
    from pyspark.sql import functions as F

    from alaska_etl_spark.cache import release_tracked
    from alaska_etl_spark.operators.simjoin import longest_repeat_runs
    from alaska_etl_spark.session import get_spark

    spark = get_spark("scale-stress-degenerate")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{BASE}/documents.parquet").select("doc_id", "text")

    def corpus(m: int):
        degen = spark.range(1).select(
            F.lit(999_999_999).alias("doc_id"),
            F.array_repeat(F.lit("z"), m).alias("_t"),
        ).select("doc_id", F.concat_ws(" ", "_t").alias("text"))
        return docs.unionByName(degen)

    print("| lane | degenerate m | wall (s) | degen longest_run |")
    print("|---|---|---|---|")
    for lane, cap, m in (
        ("exact (uncapped)", None, 3_000),
        ("exact (uncapped)", None, 10_000),
        ("hot_gram_cap=256", 256, 100_000),
    ):
        t0 = time.perf_counter()
        out = longest_repeat_runs(
            corpus(m), "doc_id", "text", n=3, hot_gram_cap=cap
        )
        got = {r["doc_id"]: r for r in out.collect()}
        dt = time.perf_counter() - t0
        release_tracked()
        run = got[999_999_999]["longest_run_tokens"]
        assert run == m - 1, (m, run)  # both lanes exact on this shape
        print(f"| {lane} | {m} | {dt:.2f} | {run} |")


def main() -> None:
    import json
    import subprocess

    if "--degenerate" in sys.argv[1:]:
        run_degenerate()
        return

    # child mode: one query, corpora already on disk, row as one JSON
    # line for the parent to collect.
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        row = _run_one(sys.argv[2], "--x100" in sys.argv[3:])
        print("ROW " + json.dumps(row))
        return

    # optional subset: tools/scale_stress.py qg5_naive_bayes ... reruns
    # only those cells (the SCALE.md table merges by query name).
    # --x100 adds the second decade for the HUNDRED trio.
    argv = [a for a in sys.argv[1:] if a not in ("--x100", "--build-only")]
    with_x100 = "--x100" in sys.argv[1:]
    build_only = "--build-only" in sys.argv[1:]  # r13: corpus for the
    # bench's ×10 scaling rows (SPARK_GRAFT_SF_DIR=.scale_stress/x10)
    names = argv or QUERIES_UNDER_TEST
    unknown = [n for n in names if n not in QUERIES_UNDER_TEST]
    if unknown:
        raise SystemExit(f"not in QUERIES_UNDER_TEST: {unknown}")

    from alaska_etl_spark.session import get_spark

    spark = get_spark("scale-stress-build")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)
    if with_x100:
        build_x100(spark)
    spark.stop()
    if build_only:
        print(f"built {OUT}/x1 and {OUT}/x10")
        return

    # PER-QUERY JVM ISOLATION: every query's cells run in a fresh
    # subprocess. A shared 8 GiB driver=executor JVM accumulates
    # broadcast/code-cache/py4j remnants across a 100x marathon and
    # OOMs whichever query runs LAST (r8: q36 then q88 each failed
    # only in the shared run, both passed solo twice) — that is a
    # harness artifact, not a plan property, and the point of the
    # stress tier is to measure PLAN scaling. Isolation makes every
    # cell's memory claim per-query, the same claim the solo-repro
    # protocol checks.
    results = []
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--one", name]
        if with_x100:
            cmd.append("--x100")
        proc = subprocess.run(cmd, capture_output=True, text=True)
        row = None
        for line in proc.stdout.splitlines():
            if line.startswith("ROW "):
                row = json.loads(line[4:])
        for line in proc.stderr.splitlines():
            if line.startswith("FAILED"):
                print(line, file=sys.stderr)
        if row is None:
            print(
                f"FAILED {name}: subprocess rc={proc.returncode}: "
                + (proc.stderr.strip().splitlines()[-1][:200] if proc.stderr.strip() else "no output"),
                file=sys.stderr,
            )
            continue
        results.append(row)

    print("| query | 1× wall (s) | 10× wall (s) | time ratio | exponent | 1× rows | 10× rows |")
    print("|---|---|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['query']} | {r['x1']:.2f} | {r['x10']:.2f} "
            f"| {r['time_ratio']:.2f}× | {r['exponent']:.2f} "
            f"| {r['x1_rows']} | {r['x10_rows']} |"
        )
    hundred = [r for r in results if "x100" in r]
    if hundred:
        print()
        print("| query | 1× wall (s) | 10× wall (s) | 100× wall (s) | 2-decade exponent | 100× rows |")
        print("|---|---|---|---|---|---|")
        for r in hundred:
            print(
                f"| {r['query']} | {r['x1']:.2f} | {r['x10']:.2f} "
                f"| {r['x100']:.2f} | {r['exponent_2dec']:.2f} "
                f"| {r['x100_rows']} |"
            )


if __name__ == "__main__":
    main()
