"""Dedup family: deterministic keyed dedup, duplicate report, MinHash-LSH,
SimHash, n-gram Jaccard, embedding near-dup — planted duplicates must be
found, disjoint docs must not pair."""

from __future__ import annotations

from pyspark.sql import functions as F

from alaska_etl_spark.operators.dedup import (
    dedup_keep_first,
    duplicate_report,
    embedding_near_dup_pairs,
    gram_rows,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden under a clear sky"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one token differs
OTHER = (
    "completely different content about spark distributed query engines "
    "catalyst tungsten shuffle partitions broadcast joins and parquet files"
)


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE)],
        "doc_id bigint, text string",
    )


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k", 2, "b"), ("k", 1, "a"), ("k", 3, "c"), ("j", 1, "x")],
        "k string, ord bigint, v string",
    )
    out = dedup_keep_first(df, keys=["k"], order_by=["ord"]).collect()
    got = {r.k: r.v for r in out}
    assert got == {"k": "a", "j": "x"}


def test_duplicate_report(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "k string, v bigint")
    out = duplicate_report(df, ["k"]).collect()
    assert len(out) == 1 and out[0].k == "a" and out[0].dup_count == 2


def test_minhash_finds_planted_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            _docs(spark), "doc_id", "text", n=3, jaccard_threshold=0.5
        ).collect()
    }
    assert (0, 3) in pairs          # exact duplicate
    assert (0, 1) in pairs          # near duplicate
    assert not any(2 in p for p in pairs)  # disjoint doc never pairs


def test_minhash_exact_dup_jaccard_is_one(spark):
    rows = minhash_near_dup_pairs(_docs(spark), "doc_id", "text", n=3).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert j[(0, 3)] == 1.0


def test_simhash_pairs(spark):
    """Exact dup = hamming 0; the one-token near-dup lands at hamming 8
    on this corpus (one swapped token flips several bit majorities in a
    ~30-token doc) — found at max_hamming=8 via 9-chunk blocking; the
    disjoint doc (hamming 34) never pairs."""
    strict = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(_docs(spark), "doc_id", "text", max_hamming=3).collect()
    }
    assert strict[(0, 3)] == 0
    assert not any(2 in p for p in strict)
    loose = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(_docs(spark), "doc_id", "text", max_hamming=8).collect()
    }
    assert loose[(0, 1)] == 8
    assert not any(2 in p for p in loose)


def test_minhash_md5_lane_same_recall(spark):
    """The md5 (oracle-replayable) lane finds the same planted dups as
    the xxhash64 production lane, with identical EXACT-verify jaccard
    (the verification stage is hash-free set arithmetic, so only the
    approximate candidate stage depends on the lane)."""
    for lane in ("xxhash64", "md5"):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_near_dup_pairs(
                _docs(spark), "doc_id", "text", n=3,
                jaccard_threshold=0.5, hash_fn=lane,
            ).collect()
        }
        assert pairs[(0, 3)] == 1.0
        assert (0, 1) in pairs
        assert not any(2 in p for p in pairs)


def test_simhash_md5_lane(spark):
    """md5 lane (60-bit hashes): exact dup still hamming 0, disjoint doc
    never pairs; fingerprints are non-negative by construction."""
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            _docs(spark), "doc_id", "text", max_hamming=3, hash_fn="md5"
        ).collect()
    }
    assert got[(0, 3)] == 0
    assert not any(2 in p for p in got)


def test_shingles_empty_doc_is_empty_array(spark):
    """Zero-token docs shingle to [], not [\"\"] (ADVICE r4: the empty-
    string shingle made Jaccard(∅,∅) read 1.0 while SQL oracles got
    NULL from 0/0)."""
    from alaska_etl_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a b c")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r.sh for r in df.select("doc_id", shingles("text", 2).alias("sh")).collect()}
    assert out[0] == [] and out[1] == []
    assert out[2] == ["a b", "b c"]


def test_ngram_jaccard_exact(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e"), (2, "x y z w")],
        "doc_id bigint, text string",
    )
    rows = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.5).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert abs(j[(0, 1)] - 3 / 5) < 1e-9
    assert (0, 2) not in j and (1, 2) not in j


def test_hashed_shingles_short_doc(spark):
    """Docs shorter than n tokens still emit exactly one hashed shingle."""
    docs = spark.createDataFrame([(0, "hi there"), (1, "hi there")], "doc_id bigint, text string")
    out = sorted(gram_rows(docs, "doc_id", "text", n=3).collect())
    assert [r._id for r in out] == [0, 1]
    assert out[0]._g == out[1]._g  # identical short docs hash identically


def test_connected_components_groups(spark):
    """Chain 1-2-3, pair 10-11, chain 20-21-22 (via separate edges) —
    min-label propagation finds min-id components."""
    from alaska_etl_spark.operators.dedup import connected_components, dup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (21, 22)], "id_a bigint, id_b bigint"
    )
    cc = {r.id: r.component for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    groups = {r.component: (r.member_count, r.keep_id) for r in dup_groups(pairs).collect()}
    assert groups == {1: (3, 1), 10: (2, 10), 20: (3, 20)}


def test_embedding_near_dup(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.14, 0.0]),   # ~cos 0.99 with 0
            (2, [0.0, 1.0, 0.0]),     # orthogonal
        ],
        "vec_id bigint, embedding array<double>",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.95).collect()
    }
    assert pairs == {(0, 1)}


def test_duplicated_spans_includes_tail_spans(spark):
    """Regression (ADVICE r2, high): spans must be built BEFORE tail
    positions are filtered — lead() over the filtered partition silently
    truncated trailing tokens. A 7-token doc with n=5 has exactly three
    5-token spans, all complete."""
    from alaska_etl_spark.operators.dedup import duplicated_spans

    doc = "a b c d e f g"
    docs = spark.createDataFrame([(0, doc), (1, doc)], "doc_id bigint, text string")
    got = {
        r.span: (r.n_docs, r.n_occurrences)
        for r in duplicated_spans(docs, "doc_id", "text", n=5, min_docs=2).collect()
    }
    assert got == {
        "a b c d e": (2, 2),
        "b c d e f": (2, 2),
        "c d e f g": (2, 2),
    }

    hashed = duplicated_spans(docs, "doc_id", "text", n=5, min_docs=2, hashed=True)
    expected_hashes = {
        r.h
        for r in spark.createDataFrame([(s,) for s in got], "s string")
        .select(F.xxhash64("s").alias("h"))
        .collect()
    }
    hrows = hashed.collect()
    assert {r.span for r in hrows} == expected_hashes
    assert all((r.n_docs, r.n_occurrences) == (2, 2) for r in hrows)


import pytest


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_connected_components_bounded_lineage(spark, tmp_path, mode):
    """Scale pin (VERDICT r1 #5): each iteration checkpoints its
    labels, so the returned plan must NOT contain the k-deep join chain
    of the propagation rounds — a long chain (1-2-...-8 needs several
    rounds) must still come back as a shallow scan over checkpointed
    blocks. Both branches: localCheckpoint (default, executor blocks)
    and reliable checkpoint(dir) (survives executor loss — the 100 TB
    cluster mode, VERDICT r2 #4)."""
    from alaska_etl_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 8)]
    pairs = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    ckpt = str(tmp_path / "ckpt") if mode == "reliable" else None
    cc = connected_components(pairs, checkpoint_dir=ckpt)
    plan = cc._jdf.queryExecution().optimizedPlan().toString()
    # lineage was truncated: no Join survives into the final plan
    assert "Join" not in plan
    assert plan.count("\n") < 12  # shallow: project over a checkpointed scan
    assert {r.component for r in cc.collect()} == {1}
    if mode == "reliable":
        import pathlib

        # the rounds really landed in fault-tolerant storage
        assert any(pathlib.Path(ckpt).rglob("rdd-*"))


def test_dup_groups_reliable_checkpoint_matches_local(spark, tmp_path):
    from alaska_etl_spark.operators.dedup import dup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (21, 22)], "id_a bigint, id_b bigint"
    )
    local = {(r.component, r.member_count, r.keep_id) for r in dup_groups(pairs).collect()}
    reliable = {
        (r.component, r.member_count, r.keep_id)
        for r in dup_groups(pairs, checkpoint_dir=str(tmp_path / "ck")).collect()
    }
    assert local == reliable == {(1, 3, 1), (10, 2, 10), (20, 3, 20)}


def test_semantic_dedup_constructed_clusters(spark):
    """Two well-separated directions; within each, a near-identical pair.
    The dominated (larger-id) member of each pair drops; cluster ids come
    from the smallest-id quantizer rule."""
    from alaska_etl_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),       # centroid of cluster 1 (and kept)
        (2, [0.0, 1.0, 0.0]),       # centroid of cluster 2 (and kept)
        (3, [0.99, 0.14, 0.0]),     # near id 1 -> dominated
        (4, [0.0, 0.98, 0.2]),      # near id 2 -> dominated
        (5, [0.7, -0.71, 0.0]),     # cluster 1 side, far from 1/3 -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    kept = semantic_dedup(df, "vec_id", "embedding", ncells=2, threshold=0.95)
    got = {(r.vec_id, r.centroid_id) for r in kept.collect()}
    assert got == {(1, 1), (2, 2), (5, 1)}


def test_semantic_dedup_assignment_stage_has_no_exchange(spark):
    """The quantizer-assignment subtree must stay a narrow projection:
    scan -> ArrowEvalPython, no Exchange (same contract as the IVF build
    pin in test_similarity.py)."""
    from alaska_etl_spark.operators.similarity import assign_buckets, centroids_by_id

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 40)], "vec_id bigint, embedding array<double>"
    )
    cents = centroids_by_id(df, ncells=4)
    assigned = assign_buckets(df, cents, round_digits=6)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_decontaminate_flags_span_overlap(spark):
    from alaska_etl_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy dog indeed"),
            (2, "completely unrelated words with no benchmark overlap at all here"),
            (3, "quick brown fox jumps over the lazy cat tail truncated"),  # only 7 shared in a row at best
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.contaminated for r in decontaminate(docs, bench, "doc_id", "text", n=8).collect()}
    assert got == {1: True, 2: False, 3: False}
    # hashed variant agrees
    got_h = {
        r.doc_id: r.contaminated
        for r in decontaminate(docs, bench, "doc_id", "text", n=8, hashed=True).collect()
    }
    assert got_h == got


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The corpus-side span stream must meet the benchmark span set in a
    BROADCAST semi join (eval suites are MBs against a TB corpus) — no
    sort-merge, no corpus shuffle for the membership test."""
    from alaska_etl_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, "w%d a b c d e f g h" % i) for i in range(200)], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame([(999, "a b c d e f g h")], "doc_id bigint, text string")
    out = decontaminate(docs, bench, "doc_id", "text", n=8, hashed=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    sem = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert any("Broadcast" in ln for ln in sem), sem


def test_dedup_survivors_full_corpus(spark):
    # docs 0/1/3 form one near-dup cluster; 2 is a singleton.
    # quality = n_chars: doc 0 and 3 are identical BASE (longest), doc 1
    # one token longer ("sleepy" vs "lazy") -> doc 1 wins on length.
    from alaska_etl_spark.operators.dedup import dedup_survivors

    df = _docs(spark).withColumn("n_chars", F.length("text"))
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    out = dedup_survivors(df, "doc_id", pairs, quality_col="n_chars")
    got = {r["doc_id"]: (r["component"], r["survivor"]) for r in out.collect()}
    assert got[2] == (2, True)  # singleton survives as own component
    assert got[0][0] == got[1][0] == got[3][0] == 0  # one cluster, min-id label
    assert [got[i][1] for i in (0, 1, 3)] == [False, True, False]  # longest wins
    assert sum(v[1] for v in got.values()) == 2


def test_dedup_survivors_min_id_without_quality(spark):
    from alaska_etl_spark.operators.dedup import dedup_survivors

    df = _docs(spark)
    pairs = spark.createDataFrame([(3, 1)], "id_a bigint, id_b bigint")
    out = dedup_survivors(df, "doc_id", pairs)
    got = {r["doc_id"]: (r["component"], r["survivor"]) for r in out.collect()}
    assert got[1] == (1, True) and got[3] == (1, False)
    assert got[0] == (0, True) and got[2] == (2, True)


# --- persisted LSH index: incremental near-dup ------------------------------


def _dup_corpus(spark):
    # two "days" of a crawl: day-2 re-crawls half of day-1's pages with
    # one token changed, plus fresh pages. ids: day1 = 0..19, day2 = 100..119
    base = [
        f"alpha beta gamma delta epsilon zeta eta theta iota kappa doc{i} "
        f"lambda mu nu xi omicron pi rho sigma tau upsilon"
        for i in range(20)
    ]
    day1 = [(i, base[i]) for i in range(20)]
    day2 = [(100 + i, base[i].replace("sigma", "sigmb")) for i in range(10)] + [
        (110 + i, f"totally fresh page number {i} with its own unique words "
                  f"zero one two three four five six seven eight nine")
        for i in range(10)
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")  # noqa: E731
    return mk(day1), mk(day2)


def test_novelty_rate(spark):
    """Gram-level novelty vs a reference: fully-contained doc scores
    0.0, disjoint doc scores 1.0, a half-overlapping doc is exact; the
    hashed and string lanes agree; broadcast pinned in the plan."""
    from alaska_etl_spark.operators.dedup import novelty_rate

    ref = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id bigint, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # unigrams all in ref → novelty 0
            (2, "x y z"),            # disjoint → 1
            (3, "a b x y"),          # 2 of 4 unigrams new → 0.5
            (4, ""),                 # zero grams → absent
        ],
        "doc_id bigint, text string",
    )
    for hashed in (True, False):
        out = {
            r.doc_id: (r.n_grams, r.n_seen, r.novelty)
            for r in novelty_rate(
                docs, ref, "doc_id", "text", n=1, hashed=hashed
            ).collect()
        }
        assert out[1] == (4, 4, 0.0)
        assert out[2] == (3, 0, 1.0)
        assert out[3] == (4, 2, 0.5)
        assert 4 not in out
    df = novelty_rate(docs, ref, "doc_id", "text", n=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_savings_counts_and_rate(spark):
    from alaska_etl_spark.operators.dedup import dedup_savings

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd", "s1"),   # keeper of {1,2,3}
            (2, "aa bb cc dd", "s1"),   # redundant
            (3, "aa bb cc dd", "s2"),   # redundant (cross-source group)
            (4, "unrelated text here", "s2"),  # singleton
        ],
        "doc_id bigint, text string, source string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    out = {r.source: r for r in dedup_savings(docs, pairs, "doc_id", "text", group_col="source").collect()}
    assert out["s1"].n_docs == 2 and out["s1"].n_redundant == 1
    assert out["s2"].n_docs == 2 and out["s2"].n_redundant == 1
    assert out["s1"].chars_redundant == len("aa bb cc dd")
    assert out["s1"].tokens_total == 8 and out["s1"].tokens_redundant == 4
    # s2: chars 11 + 19 = 30, redundant 11 -> 0.3667
    assert out["s2"].savings_rate == round((2 * 10000 * 11 + 30) // 60 / 10000.0, 4)


def test_dedup_savings_ungrouped_single_row(spark):
    from alaska_etl_spark.operators.dedup import dedup_savings

    docs = spark.createDataFrame(
        [(1, "x y", "a"), (2, "x y", "b")], "doc_id bigint, text string, source string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    rows = dedup_savings(docs, pairs, "doc_id", "text").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.group == "all" and r.n_docs == 2 and r.n_redundant == 1
    assert r.savings_rate == 0.5


def test_bag_jaccard_counts_repetition(spark):
    from alaska_etl_spark.operators.dedup import bag_jaccard_pairs

    docs = [
        (0, "a b c"),
        (1, "a b c a b c"),        # set-identical to 0, bag jaccard 3/6
        (2, "a b c"),              # exact dup of 0 -> bag jaccard 1.0
        (3, "x y z"),              # disjoint: no shared tokens, no pair row
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        (r.id_a, r.id_b): r
        for r in bag_jaccard_pairs(df, "doc_id", "text", threshold_pct=50).collect()
    }
    assert (0, 2) in out and out[(0, 2)].bag_jaccard == 1.0
    assert out[(0, 1)].sum_min == 3 and out[(0, 1)].sum_max == 6
    assert out[(0, 1)].bag_jaccard == 0.5
    assert not any(3 in k for k in out)


def test_bag_jaccard_threshold_prunes(spark):
    from alaska_etl_spark.operators.dedup import bag_jaccard_pairs

    docs = [(0, "a b b b"), (1, "a c c c")]
    # shared: only 'a' -> sum_min 1, sum_max 4+4-1=7 -> 14% < 50%
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    assert bag_jaccard_pairs(df, "doc_id", "text").count() == 0
    out = bag_jaccard_pairs(df, "doc_id", "text", threshold_pct=10).collect()
    assert len(out) == 1 and out[0].sum_min == 1 and out[0].sum_max == 7


def test_sorted_neighborhood_finds_prefix_neighbors(spark):
    from alaska_etl_spark.operators.dedup import sorted_neighborhood_pairs

    docs = [
        (1, "Alpha Beta Gamma Delta"),
        (2, "alpha beta  gamma delta"),   # same normalized key -> adjacent
        (3, "alpha beta gamma DELTA epsilon"),
        (10, "zeta eta theta"),
        (11, "completely different words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        (r.id_a, r.id_b): r
        for r in sorted_neighborhood_pairs(
            df, "doc_id", "text", window=3, threshold_pct=50
        ).collect()
    }
    # (1,2): identical token sets -> jaccard 1.0
    assert (1, 2) in out and out[(1, 2)].jaccard == 1.0
    # (1,3)/(2,3): 4 shared of 5 union = 0.8
    assert out[(1, 3)].inter == 4 and out[(1, 3)].uni == 5
    assert out[(2, 3)].jaccard == 0.8
    assert not any(10 in p or 11 in p for p in out)


def test_sorted_neighborhood_window_and_block_bounds(spark):
    from alaska_etl_spark.operators.dedup import sorted_neighborhood_pairs

    # identical texts but window=2 only pairs adjacent rows in sort
    # order: 3 docs yield 2 pairs, not 3
    docs = [(i, "same words here") for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = sorted(
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            df, "doc_id", "text", window=2, threshold_pct=50
        ).collect()
    )
    assert got == [(0, 1), (1, 2)]
    # different blocks never pair even with identical token SETS
    docs2 = [(1, "aaaa xx yy"), (2, "bbbb xx yy")]
    df2 = spark.createDataFrame(docs2, "doc_id bigint, text string")
    assert (
        sorted_neighborhood_pairs(df2, "doc_id", "text", window=4, threshold_pct=10).count()
        == 0
    )


def test_sorted_neighborhood_empty_texts_no_pairs(spark):
    from alaska_etl_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "   ")], "doc_id bigint, text string"
    )
    assert (
        sorted_neighborhood_pairs(df, "doc_id", "text", window=3, threshold_pct=0).count()
        == 0
    )


def test_dup_cluster_sizes_hand_case(spark):
    from alaska_etl_spark.operators.dedup import dup_cluster_sizes

    df = spark.createDataFrame(
        [("k1", "s"), ("k1", "s"), ("k1", "s"), ("k2", "s"), ("k3", "t"), ("k3", "t")],
        "k string, src string",
    )
    out = {r.cluster_size: r for r in dup_cluster_sizes(df, ["k"]).collect()}
    assert (out[1].n_clusters, out[1].n_rows, out[1].n_excess) == (1, 1, 0)
    assert (out[2].n_clusters, out[2].n_rows, out[2].n_excess) == (1, 2, 1)
    assert (out[3].n_clusters, out[3].n_rows, out[3].n_excess) == (1, 3, 2)
    # grouped form partitions by source
    g = dup_cluster_sizes(df, ["k"], group_col="src").collect()
    assert {(r.src, r.cluster_size, r.n_clusters) for r in g} == {
        ("s", 3, 1), ("s", 1, 1), ("t", 2, 1)
    }


def test_lsh_scurve_consistency_with_blocking_quality(spark):
    """Bucket sums must reconcile with blocking_quality's totals over
    the same corpus, detection shares are valid bp, and the analytic
    curve is monotone in the bucket."""
    from alaska_etl_spark.operators.dedup import blocking_quality, lsh_scurve

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),        # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),          # near dup
        (4, "one two three four five six seven"),
        (5, "one two three four nine ten eleven"),          # mid overlap
        (6, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    curve = lsh_scurve(df, "doc_id", "text", n=3, num_hashes=64, bands=16).collect()
    bq = blocking_quality(df, "doc_id", "text", n=3, num_hashes=64, bands=16).collect()[0]
    assert sum(r.n_pairs for r in curve) > 0
    assert all(0 <= r.detect_bp <= 10000 for r in curve)
    assert all(r.n_detected <= r.n_pairs for r in curve)
    mids = [r for r in curve]
    assert all(
        a.analytic_detect <= b.analytic_detect
        for a, b in zip(mids, mids[1:])
    )
    # the exact-dup pair lives in the top bucket and must be detected
    top = max(curve, key=lambda r: r.j_bucket)
    assert top.j_bucket == 9 and top.n_detected >= 1
    # true pairs at J >= 1/2 caught by bands == blocking_quality's n_hit
    assert bq.n_hit <= sum(r.n_detected for r in curve if r.j_bucket >= 5)


def test_canonical_selection_keeps_best_with_ties(spark):
    from alaska_etl_spark.operators.dedup import canonical_selection

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (10, 7), (11, 7)],
        "doc_id bigint, quality bigint",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    out = {r.component: r for r in canonical_selection(
        docs, pairs, "doc_id", "quality"
    ).collect()}
    c1 = out[1]  # chain 1-2-3-4: best score 30 tied by ids 2,3 -> keep 2
    assert (c1.keeper_id, c1.n_members, c1.keeper_score) == (2, 4, 30)
    assert (c1.score_total, c1.score_discarded) == (75, 45)
    c10 = out[10]  # pair 10-11 tied at 7 -> keep 10
    assert (c10.keeper_id, c10.n_members, c10.score_discarded) == (10, 2, 7)


def test_line_dedup_hand_computed(spark):
    # r11 X177: CCNet-style line-grain dedup — hot = trimmed line in
    # >= 2 distinct docs; removal hits EVERY occurrence; blank lines
    # are structure (kept, never counted); within-doc repeats count
    # their document once toward hotness.
    from alaska_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello\nshared line\nunique one"),
            (2, "shared line\nother text\n  shared line  "),
            (3, "nothing common\n\nblank kept"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(df, "doc_id", "text").collect()}
    r1 = got[1]
    assert (r1["n_lines"], r1["n_removed"], r1["removed_bp"]) == (3, 1, 3333)
    assert r1["cleaned_text"] == "Hello\nunique one"
    r2 = got[2]  # indented variant is the same key; both occurrences cut
    assert (r2["n_lines"], r2["n_removed"], r2["removed_bp"]) == (3, 2, 6667)
    assert r2["cleaned_text"] == "other text"
    r3 = got[3]  # untouched, blank line preserved in place
    assert (r3["n_removed"], r3["cleaned_text"]) == (0, "nothing common\n\nblank kept")
    r4 = got[4]  # empty text reads as one blank line, kept
    assert (r4["n_lines"], r4["n_removed"], r4["cleaned_text"]) == (1, 0, "")


def test_line_dedup_min_docs_threshold_and_all_removed(spark):
    from alaska_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "x y\nonly mine"), (2, "x y"), (3, "x y")],
        "doc_id bigint, text string",
    )
    # min_docs=3: the 3-doc line goes, the 2-doc threshold not reached
    got = {r["doc_id"]: r for r in line_dedup(df, "doc_id", "text", min_docs=3).collect()}
    assert got[1]["cleaned_text"] == "only mine" and got[1]["n_removed"] == 1
    # docs 2/3 lose their only line: empty cleaned text, 10000 bp
    assert got[2]["cleaned_text"] == "" and got[2]["removed_bp"] == 10000
