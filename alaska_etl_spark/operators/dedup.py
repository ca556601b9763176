"""Deduplication family: exact, deterministic keyed, and near-duplicate.

The reference needs only keyed dedup-keep-first (reference
airflow/dags/nws_dag.py:106-111, uscrn_dag.py:198-203, via pandas
``drop_duplicates``). A training-data pipeline at 100 TB needs the whole
family; everything here is built from native Catalyst expressions —
``xxhash64`` for hashing, array higher-order functions for signatures —
so the hot path never leaves the JVM.

Scale notes:
- exact dedup: one shuffle on the group keys; with AQE skew handling on.
- MinHash-LSH: cost is (docs × bands) exploded rows shuffled by band
  hash — the standard join-on-bucket plan; candidate verification is a
  self-join only on bucket-colliding pairs, never a cross join.
- SimHash: 64-bit fingerprints, banded into 16-bit chunks for hamming
  ≤ 3 blocking (pigeonhole: any pair within distance 3 shares a chunk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alaska_etl_spark.cache import tracked_persist
from alaska_etl_spark.functions.fixedpoint import div_half_up
from alaska_etl_spark.functions.localrel import local_df
from alaska_etl_spark.operators.similarity import _np_round_half_away

# ---------------------------------------------------------------------------
# exact / keyed
# ---------------------------------------------------------------------------


def duplicate_report(df: DataFrame, keys: list[str]) -> DataFrame:
    """A4: duplicate-key detection (reference uscrn_dag.py:198-202 warns
    with the duplicate count before dropping). Returns one row per
    duplicated key with its multiplicity."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[str | Column]) -> DataFrame:
    """A5 made deterministic: keep exactly one row per key, the first
    under an explicit order (reference pandas ``drop_duplicates``
    keep='first' is input-order-dependent; SURVEY §7.4 decision).

    One shuffle on ``keys``; at scale prefer keys that include the table's
    partition column so the window runs partition-local.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dup_cluster_sizes(
    df: DataFrame, keys: list[str], *, group_col: "str | None" = None
) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the dataset-card shape of
    duplication that :func:`duplicate_report` (per-key multiplicities)
    and the savings rollup (total reclaimable mass) both flatten: "are
    dups mostly pairs, or a few giant clusters?" decides whether
    keep-first dedup or cluster-level review is the right tool, and a
    heavy tail here predicts a skewed shuffle key downstream.

    Two hash aggregates, both on reduced frames: (keys[, group]) →
    cluster sizes, then (size[, group]) → cluster counts; excess =
    (size − 1)·n_clusters is the keep-first deletion count. Returns
    (group_col?, cluster_size, n_clusters, n_rows, n_excess) ordered,
    singleton clusters included (cluster_size = 1 row shows the
    undeduplicated mass)."""
    gcols = [group_col] if group_col else []
    sizes = df.groupBy(*gcols, *keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy(*gcols, "cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            *gcols,
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_rows"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_excess"),
        )
        .orderBy(*gcols, "cluster_size")
    )


# ---------------------------------------------------------------------------
# shingling / tokenization helpers (shared by the near-dup family)
# ---------------------------------------------------------------------------


def word_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as array<string>.

    Built with sequence + transform (JVM-side); documents shorter than
    ``n`` tokens contribute their full token string as a single shingle;
    documents with ZERO tokens contribute an empty array (not ``[""]``
    — two empty docs are exact dedup's job, and the empty-string
    shingle made Jaccard(∅, ∅) read 1.0 here while SQL oracles computed
    NULL from a 0/0 division).
    """
    toks = word_tokens(col)
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    out = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    return F.when(F.size(toks) > 0, out).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 31) - 1  # 2^31-1, prime; keeps a*h+b < 2^63 (ANSI-safe)
_MASK31 = (1 << 31) - 1


def md5_hash31(col: Column | str) -> Column:
    """Engine-portable 31-bit hash: first 8 hex chars of md5 → BIGINT,
    mod 2^31. Bit-identical in DuckDB (Q43's list_reduce hex fold) —
    the replayable lane for cross-engine oracles. ~2× the cost of
    xxhash64 (md5 + string slice), so the xxhash64 lane stays the
    default for production scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint"), F.lit(1 << 31)
    )


def md5_hash60(col: Column | str) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 → BIGINT.
    60 bits on purpose: the value stays non-negative in a signed 64-bit
    long, so ``>>``/``&`` replay identically in engines whose shift
    semantics on negative longs differ (DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _token_hash31(col: Column | str, hash_fn: str) -> Column:
    """31-bit token hash in the chosen lane: ``xxhash64`` (default,
    fastest, engine-private) or ``md5`` (engine-portable, oracled)."""
    c = F.col(col) if isinstance(col, str) else col
    if hash_fn == "md5":
        return md5_hash31(c)
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(c), F.lit(1 << 31))
    raise ValueError(f"unknown hash_fn {hash_fn!r} (use 'xxhash64' or 'md5')")


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic 31-bit (a, b) pairs for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p — derived from a seeded LCG so runs
    are reproducible without RNG state. 31-bit params × 31-bit reduced
    shingle hashes never overflow a signed 64-bit long."""
    params = []
    state = seed & _MASK31
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) & _MASK31 or 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) & _MASK31
        params.append((a, b))
    return params


def _signature_sql(num_hashes: int, seed: int, hash_col: str) -> str:
    """SQL text for the MinHash signature aggregate: ``array(min(...),
    ...)`` with one universal-hash min per slot.

    Why a SQL string instead of a Column-per-slot list comprehension:
    building ``num_hashes`` Column trees costs ~6 Py4J round-trips each
    (~0.5 s of driver latency for 64 slots, measured), while one
    ``F.expr`` ships the whole aggregate in a single call and the JVM
    parser produces the identical expression tree — same physical plan,
    same codegen, ~10× faster query *construction*. Driver-side build
    latency is pure overhead at any cluster scale."""
    slots = ", ".join(
        f"min(({a}L * {hash_col} + {b}L) % {_MERSENNE}L)"
        for a, b in _hash_params(num_hashes, seed)
    )
    return f"array({slots})"


def gram_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, *, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, text) → (_id, _g) rows: hashed word-n-gram shingles as ROWS,
    not arrays — the codegen-friendly formulation.

    Array higher-order functions (transform/aggregate lambdas) run
    interpreted in Spark, and building shingle arrays that way measured
    ~10 interpreted ops per shingle — the hot-path cost at any scale.
    Here the only HOF is the one-pass tokenizer; everything after is
    whole-stage-codegen relational ops: posexplode tokens → window
    ``lead`` over (id, pos) to form the n-gram → modular hash in a
    projection. Docs shorter than ``n`` tokens contribute one fold-hash
    of all their tokens.

    Single-pass formulation (r12, guide §2.4): the original shape
    computed doc length with a SECOND window (its own sort pass) and
    routed short docs through a UNION branch that re-ran the whole
    scan→tokenize→explode→exchange→sort→window subtree plus a
    collect_list aggregate — two sorts and two subtree evaluations for
    one logical pass (measured 0.91 s vs 0.56 s for the fused form at
    sf0.1, plan: 2 Exchange/2 Sort/2 Window/Union → 1/1/1). Both
    branches are decidable from the lead chain alone:

    - a position starts a FULL n-gram  ⟺  ``lead(_h, n-1)`` is
      non-null (the chain value is null iff any lead is null);
    - a doc is SHORT (fewer than n tokens)  ⟺  ``pos == 0`` and
      ``lead(_h, n-1)`` is null, and its fold-hash over all tokens is
      exactly the truncated lead chain — the last non-null prefix of
      the same chain the full branch uses.

    So one projection emits the full chain where complete, the
    truncated chain on the pos-0 row of short docs, null everywhere
    else; one filter drops the nulls. Identical output to the
    two-branch form (same chain arithmetic, one row per short doc).
    """
    toks = word_tokens(text_col)
    ex = (
        df.select(F.col(id_col).alias("_id"), F.posexplode_outer(toks).alias("pos", "_t"))
        .filter(F.col("_t").isNotNull())
        .select("_id", "pos", _token_hash31("_t", hash_fn).alias("_h"))
    )
    if n == 1:
        return ex.select("_id", F.col("_h").alias("_g"))
    w = Window.partitionBy("_id").orderBy("pos")
    leads = [F.col("_h")] + [F.lead("_h", j).over(w) for j in range(1, n)]
    chains = [leads[0]]
    for j in range(1, n):
        chains.append(
            F.pmod(chains[-1] * F.lit(1_000_003) + leads[j], F.lit(1 << 31))
        )
    # short-doc fold: the longest prefix chain before the first null lead
    short_g = F.when(leads[1].isNull(), chains[0])
    for j in range(2, n):
        short_g = short_g.when(leads[j].isNull(), chains[j - 1])
    g = F.when(leads[n - 1].isNotNull(), chains[n - 1]).when(
        F.col("pos") == 0, short_g
    )
    return (
        ex.select("_id", g.alias("_g"))
        .filter(F.col("_g").isNotNull())
    )


def span_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    hashed: bool = False,
) -> DataFrame:
    """(id, text) → (_id, span) rows of ``n`` consecutive tokens.

    The span column MUST be computed before tail positions are dropped:
    ``lead`` only sees rows inside its window partition, so filtering
    first removes exactly the tokens the trailing spans need (the same
    ordering :func:`gram_rows` uses). We therefore build every span and
    keep the complete ones by requiring the last lead to be non-null —
    one window spec for both expressions, one sort.

    ``hashed=True`` replaces span text with ``xxhash64(span)`` — at
    100 TB carry 8-byte hashes through the shuffle, not strings.
    """
    toks = word_tokens(text_col)
    ex = (
        df.select(F.col(id_col).alias("_id"), F.posexplode_outer(toks).alias("pos", "_t"))
        .filter(F.col("_t").isNotNull())
    )
    w = Window.partitionBy("_id").orderBy("pos")
    parts = [F.col("_t")] + [F.lead("_t", j).over(w) for j in range(1, n)]
    span = F.concat_ws(" ", *parts)
    last = F.lead("_t", n - 1).over(w) if n > 1 else F.col("_t")
    spans = (
        ex.select("_id", span.alias("span"), last.alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select("_id", "span")
    )
    if hashed:
        spans = spans.select("_id", F.xxhash64("span").alias("span"))
    return spans


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    hashed: bool = False,
    broadcast: bool = True,
    flag_col: str = "contaminated",
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares ANY ``n``-token span with a benchmark/eval document — the
    standard n-gram membership test (e.g. GPT-3's 13-gram rule) run as a
    relational plan instead of a bloom-filter pass.

    Returns ``docs``' ids with a boolean ``contaminated`` column.

    Scale shape: the benchmark side is tiny next to the corpus — its
    distinct span set is aggregated first and the membership test is a
    BROADCAST left-semi join on the span key (by contract, like
    cosine_topk's query side: an eval suite is MBs against a 100 TB
    corpus, and the aggregated span set carries no size statistics for
    Catalyst to decide this itself), so the corpus-side span stream
    never shuffles — pinned by
    tests/test_dedup.py:test_decontaminate_benchmark_side_broadcasts.
    Pass ``broadcast=False`` for an abnormally large benchmark to fall
    back to a shuffled semi join. ``hashed=True`` joins on 8-byte
    xxhash64 keys instead of span strings (pass ``hashed=False`` only
    when an external engine must replay the join, e.g. the q71 oracle).
    """
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    docs = ensure_min_parallelism(docs, id_col)
    doc_spans = span_rows(docs, id_col, text_col, n=n, hashed=hashed)
    bench_spans = span_rows(benchmark, id_col, text_col, n=n, hashed=hashed)
    span_set = bench_spans.select("span").distinct()
    if broadcast:
        span_set = F.broadcast(span_set)
    hits = (
        doc_spans.join(span_set, "span", "left_semi")
        .select("_id")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_hit"), F.lit(False)).alias(flag_col),
        )
    )


def novelty_rate(
    docs: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    hashed: bool = True,
    broadcast: bool = True,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document gram-level NOVELTY against a reference corpus:
    ``novelty = |Sh_n(d) \\ Sh_n(ref)| / |Sh_n(d)|`` over distinct word
    n-gram shingles (1 − novelty is the contamination/overlap rate).
    The continuous tier between :func:`decontaminate` (binary any-span
    flag) and :func:`~alaska_etl_spark.operators.simjoin.containment_join`
    (pairwise attribution): curation gates on "≥ x% of this document is
    new relative to what we already trained on", and dataset cards
    report the distribution.

    Scale shape mirrors decontaminate: the reference's DISTINCT gram
    set aggregates first and joins the corpus gram stream as the
    (by-contract) broadcast side — a left join carrying a hit flag, so
    the corpus grams never shuffle; one hash-aggregate back to document
    grain. ``broadcast=False`` degrades to a shuffled join when the
    reference is itself corpus-sized. ``hashed=True`` joins 8-byte
    xxhash64 keys (membership counts are hash-invariant modulo ~1e-8
    collisions; the string-keyed qf2 oracle cross-checks exactly like
    qb0's).

    Returns (id, n_grams, n_seen, novelty); novelty emits via the
    integer round-half-up scaling, zero-gram documents are absent
    (no denominator — same convention as the similarity joins).
    """
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    docs = ensure_min_parallelism(docs, id_col)
    gram = shingles(text_col, n)
    key = (lambda c: F.xxhash64(c)) if hashed else (lambda c: c)
    dg = docs.select(
        F.col(id_col).alias("_id"), F.explode(gram).alias("_t")
    ).select("_id", key(F.col("_t")).alias("_t"))
    ref = (
        reference.select(F.explode(gram).alias("_t"))
        .select(key(F.col("_t")).alias("_t"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast:
        ref = F.broadcast(ref)
    agg = (
        dg.join(ref, "_t", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_seen"),
        )
    )
    scale = 10**round_digits
    return agg.select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_seen",
        (
            div_half_up("n_grams - n_seen", "n_grams", scale)
            / F.lit(float(scale))
        ).alias("novelty"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Exact token-``n``-gram span dedup report: every span of ``n``
    consecutive tokens that occurs in at least ``min_docs`` *distinct*
    documents, with its document and occurrence counts — the
    cross-document repeated-substring detector of the "deduplicating
    training data" family (exact substring dedup à la Lee et al. '22),
    complementing whole-document resemblance (MinHash q29) and
    containment sampling (winnowing q43).

    Returns (span, n_docs, n_occurrences). ``hashed=True`` replaces the
    span text with ``xxhash64(span)`` — at 100 TB carry 8-byte hashes
    through the shuffle, not strings; the report join back to text is a
    second pass over only the surviving spans.

    Plan: posexplode tokens (narrow) → one window over (id, pos) builds
    the span via ``lead`` (single shuffle on id) → hash-aggregate on the
    span with a partial (map-side) distinct-ish combine → count filter.
    Two shuffles total, both keyed, no driver work.

    The span column MUST be computed before tail positions are dropped:
    ``lead`` only sees rows inside its window partition, so filtering
    first removes exactly the tokens the trailing spans need (the same
    ordering :func:`gram_rows` uses). We therefore build every span and
    keep the complete ones by requiring the last lead to be non-null —
    one window spec for both expressions, one sort.
    """
    spans = span_rows(df, id_col, text_col, n=n, hashed=hashed)
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_docs: int = 2,
) -> DataFrame:
    """Line-grain corpus dedup, CCNet-style (Wenzek et al. '19;
    RefinedWeb runs the same first pass): hash every LINE of every
    document, drop lines occurring in ≥ ``min_docs`` DISTINCT documents
    corpus-wide, and emit the cleaned document plus its removal stats —
    the standard public-pipeline boilerplate cut (headers, footers,
    nav bars, cookie banners repeat verbatim across a site's pages)
    that runs BEFORE any document-grain dedup (VERDICT r10 Missing #2).

    Grain ladder context: X25 dedups whole documents, X6/X169 measure
    cross-document token spans, X152 audits per-source hot GRAMS —
    this is the line axis: membership is per trimmed line, removal is
    in-place, and the document survives (the X172 "cut, keep the
    document" stance, reassembled the same way: order keys carried
    through the explode, in-row struct sort, join).

    Rules: line boundary is ``\\n``; the dedup key is the TRIMMED line
    (indentation variants of one boilerplate line are one key); lines
    empty after trim are never counted and never removed (they are
    document structure, not content); a line repeated WITHIN one
    document counts that document once (distinct-doc grain). NULL text
    reads as empty.

    Plan shape at 100 TB: one posexplode (narrow), one hash aggregate
    on the 8-byte line hash (partial combine; the distinct-doc count
    rides Spark's two-level expansion), one key-grain hash join back
    (hot lines are corpus-grain-bounded, never broadcast-assumed), one
    per-document aggregate for reassembly. No windows, no driver state.

    Returns (``id_col``, n_lines, n_removed, removed_bp, cleaned_text)
    ordered by id; removed_bp = round-half-up 10⁴·removed/lines."""
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    base = ensure_min_parallelism(df, id_col)
    lines = base.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_ln", "_line"
        ),
    ).select(
        "_id",
        "_ln",
        "_line",
        # NULL key for blank-after-trim lines: they never join hot (and
        # a NULL join key matches nothing), so they are kept verbatim
        F.when(F.trim(F.col("_line")) != "", F.xxhash64(F.trim(F.col("_line")))).alias(
            "_k"
        ),
    )
    hot = (
        lines.filter(F.col("_k").isNotNull())
        .groupBy("_k")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k", F.lit(1).alias("_hot"))
    )
    flagged = lines.join(hot, "_k", "left")
    out = flagged.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.coalesce(F.sum("_hot"), F.lit(0)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_hot").isNull(),
                            F.struct(F.col("_ln").alias("p"), F.col("_line").alias("t")),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            "\n",
        ).alias("cleaned_text"),
    )
    return out.select(
        F.col("_id").alias(id_col),
        "n_lines",
        "n_removed",
        div_half_up("10000 * n_removed", "n_lines").alias("removed_bp"),
        "cleaned_text",
    ).orderBy(id_col)


def line_savings(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    *,
    min_docs: int = 2,
) -> DataFrame:
    """Per-group reclaimable mass under :func:`line_dedup` — the X62
    dataset-card savings stance at LINE grain (r12, VERDICT r11 next
    #8): for each ``group_col`` (source, dump, domain…), how many
    lines and characters the CCNet-style cut removes, before anyone
    runs it. Same rules as line_dedup — trimmed-line key, corpus-wide
    ≥ ``min_docs`` distinct-document threshold, blank-after-trim lines
    counted in the totals but never removable; char mass is the RAW
    line length (what the cut physically reclaims).

    Plan shape: line_dedup's explode + corpus-grain hot aggregate +
    key join, then ONE group-grain aggregate instead of the
    per-document reassembly (no collect_list, no doc-grain array
    build — the rollup is strictly cheaper than the cut itself).

    Returns (``group_col``, n_docs, n_lines, n_removed,
    removed_line_bp, chars_total, chars_removed, removed_char_bp)
    ordered by group; *_bp = round-half-up 10⁴·removed/total."""
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    base = ensure_min_parallelism(df, id_col)
    lines = base.select(
        F.col(group_col).alias("_grp"),
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_ln", "_line"
        ),
    ).select(
        "_grp",
        "_id",
        F.length("_line").alias("_chars"),
        F.when(F.trim(F.col("_line")) != "", F.xxhash64(F.trim(F.col("_line")))).alias(
            "_k"
        ),
    )
    hot = (
        lines.filter(F.col("_k").isNotNull())
        .groupBy("_k")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k", F.lit(1).alias("_hot"))
    )
    return (
        lines.join(hot, "_k", "left")
        .groupBy("_grp")
        .agg(
            F.count_distinct("_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.coalesce(F.sum("_hot"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.sum("_chars").cast("bigint").alias("chars_total"),
            F.coalesce(
                F.sum(F.when(F.col("_hot").isNotNull(), F.col("_chars"))), F.lit(0)
            )
            .cast("bigint")
            .alias("chars_removed"),
        )
        .select(
            F.col("_grp").alias(group_col),
            "n_docs",
            "n_lines",
            "n_removed",
            div_half_up("10000 * n_removed", "n_lines").alias("removed_line_bp"),
            "chars_total",
            "chars_removed",
            div_half_up("10000 * chars_removed", "chars_total").alias(
                "removed_char_bp"
            ),
        )
        .orderBy(group_col)
    )


def minhash_doc_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The two per-document MinHash relations every LSH consumer needs:
    ``per_doc`` (_id, _sig, _sh) — signature array + shingle set from
    ONE fused hash-aggregate (shuffle-free after gram_rows' window) —
    and ``banded`` (_id, band, bh), its banded projection.

    ``per_doc`` is persisted: multiple consumers read it (the band
    explode, verification joins, index writes), and without
    materialization each re-runs the tokenize→shingle→aggregate
    subtree — measured 5× the warm runtime at sf0.1. Materialized
    signatures are the standard MinHash practice at any scale (the
    table is |docs| × ~(num_hashes·8 B + shingle set), tiny next to the
    corpus); blocks are reclaimed by the ContextCleaner once the result
    becomes unreachable."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    grams = gram_rows(df, id_col, text_col, n, hash_fn=hash_fn)
    per_doc = (
        grams.groupBy("_id")
        .agg(
            F.expr(_signature_sql(num_hashes, seed, "_g")).alias("_sig"),
            F.collect_set("_g").alias("_sh"),
        )
    )
    per_doc = tracked_persist(per_doc)
    return per_doc, _banded_from_signatures(per_doc, num_hashes, bands, hash_fn)


def _banded_from_signatures(
    sig_tbl: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(_id, _sig) → (_id, band, bh): the banded LSH projection.

    ``bands`` is a plain Python int → unroll the band structs
    driver-side, as ONE SQL expression (single Py4J call; see
    _signature_sql for why). Band hash: xxhash64 (default) or the
    md5-derived 60-bit BIGINT (engine-replayable for the oracle lane;
    same 8-byte shuffle width — md5_hash60's conv(substring(md5)) in
    SQL form) — the candidate set is identical either way."""
    rows_per_band = num_hashes // bands
    _band_hash = (
        "xxhash64(concat_ws(',', {items}))"
        if hash_fn == "xxhash64"
        else "cast(conv(substring(md5(concat_ws(',', {items})), 1, 15), 16, 10) as bigint)"
    )
    band_structs = ", ".join(
        ("named_struct('band', {b}, 'bh', " + _band_hash + ")").format(
            b=b,
            items=", ".join(
                f"cast(_sig[{b * rows_per_band + i}] as string)"
                for i in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig_tbl.select(
        "_id", F.explode(F.expr(f"array({band_structs})")).alias("_b")
    ).select("_id", "_b.band", "_b.bh")


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    jaccard_threshold: float | None = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs.

    Plan: gram rows → signature (one hash-aggregate) → explode into
    ``bands`` band-hashes → self-join on (band, band_hash) carrying ONLY
    ids → distinct candidate pairs → re-join shingle sets by id → exact
    Jaccard verification over the hashed shingle sets.

    The id-only band join is the load-bearing scale decision: the
    exploded rows that shuffle are (id, band, bh) — 24 bytes — and the
    distinct collapses multi-band collisions *before* any array touches
    a shuffle. Carrying the shingle arrays through the explode (the
    naive plan) multiplies shuffle volume by bands × |shingles| and
    re-verifies every colliding band of the same pair.

    (r6 negative result, kept for the record: a flat distinct-gram-row
    verify — candidates join each side's gram rows, count aggregate as
    the intersection — replaced the collect_set arrays and measured
    2.2-2.8 s cold vs 2.0-2.3 s for this form at sf0.1: the distinct's
    extra exchange cost more than the array build it saved. The array
    form stays.)

    Returns (id_a, id_b, jaccard) with id_a < id_b. No cross join at any
    scale. ``bands`` must divide ``num_hashes``.
    """
    per_doc, banded = minhash_doc_tables(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands, seed=seed,
        hash_fn=hash_fn,
    )
    shingle_tbl = per_doc.select("_id", "_sh")

    cands = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    pairs = (
        cands.join(
            shingle_tbl.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")),
            "id_a",
        )
        .join(
            shingle_tbl.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.size(F.array_union("_sh_a", "_sh_b"))
            ).alias("jaccard"),
        )
    )
    if jaccard_threshold is not None:
        pairs = pairs.filter(F.col("jaccard") >= jaccard_threshold)
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / bounded candidate sets)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 1,
    threshold: float = 0.5,
    max_id: int | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard over all pairs of a *bounded* subset
    (``id < max_id``). This is the O(k²) verifier / oracle companion to
    the LSH path — at scale use :func:`minhash_near_dup_pairs` to
    generate candidates and this metric only on collisions."""
    base = df.select(F.col(id_col).alias("_id"), shingles(text_col, n).alias("_sh"))
    if max_id is not None:
        base = base.filter(F.col("_id") < max_id)
    a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.size(F.array_union("_sh_a", "_sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints_grouped(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, text) → (_id, _sim BIGINT): distributed SimHash — explode
    tokens to (id, hash) rows, then ONE hash-aggregate with ``bits``
    bit-count sums. Fingerprint bit b is set when a strict majority of
    token hashes have bit b set (2·count > n, identical to the ±1-vote
    sum > 0 of the classic formulation).

    Partial map-side aggregation means the shuffle carries |docs|
    fixed-width vectors regardless of document length. Documents with
    zero tokens have no fingerprint (dropped by the explode) —
    empty-text identity is exact dedup's job, not SimHash's."""
    toks = word_tokens(text_col)
    # explode_outer to suppress the inferred size>0 filter, which Catalyst
    # pushes below the exchange and so re-tokenizes every doc a second
    # time; null tokens from genuinely empty docs are dropped right after.
    # md5 lane uses a 60-bit hash (md5_hash60) so the value is non-
    # negative and ``>>``/``&`` replay identically in DuckDB; fingerprint
    # bits 60-63 then carry zero votes and stay 0 on both engines.
    tok_hash = F.xxhash64("_t") if hash_fn == "xxhash64" else md5_hash60("_t")
    exploded = (
        df.select(F.col(id_col).alias("_id"), F.explode_outer(toks).alias("_t"))
        .filter(F.col("_t").isNotNull())
        .select("_id", tok_hash.alias("_h"))
    )
    # one SQL expression per stage instead of `bits` Column trees — same
    # plan, single Py4J call (see _signature_sql for the rationale)
    counts = ", ".join(
        f"sum(shiftright(_h, {b}) & 1L)" for b in range(bits)
    )
    counted = exploded.groupBy("_id").agg(
        F.expr(f"array({counts})").alias("_cs"),
        F.count(F.lit(1)).alias("_n"),
    )

    def _bit_lit(b: int) -> str:
        # -(1<<63) has no direct long literal (unary minus overflows)
        return f"{1 << b}L" if b < 63 else "(-9223372036854775807L - 1L)"

    fp = " | ".join(
        f"(case when 2 * _cs[{b}] > _n then {_bit_lit(b)} else 0L end)"
        for b in range(bits)
    )
    return counted.select("_id", F.expr(fp).alias("_sim"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ ``max_hamming``.

    Blocking: split the 64-bit fingerprint into ``max_hamming + 1``
    chunks; by pigeonhole any qualifying pair agrees on ≥1 whole chunk,
    so the join runs on (chunk_idx, chunk_value) — never a cross join.
    """
    chunks = max_hamming + 1
    width = 64 // chunks

    sig = simhash_fingerprints_grouped(df, id_col, text_col, hash_fn=hash_fn)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftright(F.col("_sim"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("cv"),
        )
        for i in range(chunks)
    ]
    banded = sig.select(
        "_id", "_sim", F.explode(F.array(*chunk_structs)).alias("_c")
    ).select("_id", "_sim", "_c.chunk", "_c.cv")

    left = banded.select(F.col("_id").alias("id_a"), F.col("_sim").alias("_sa"), "chunk", "cv")
    right = banded.select(F.col("_id").alias("id_b"), F.col("_sim").alias("_sb"), "chunk", "cv")
    return (
        left.join(right, ["chunk", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# duplicate groups (connected components over the near-dup pair graph)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id_a, id_b) edges → (id, component) where component is the
    minimum id reachable from ``id`` — turning near-dup PAIRS into dup
    GROUPS (pick min(id) per component as the canonical survivor).

    Iterative min-label propagation WITH pointer jumping: each round
    (a) joins every node's label against its neighbors' labels and
    keeps the min, then (b) follows the winning label's OWN label one
    hop (path halving — labels are node ids, so a self-join of the
    label table compresses chains ~2× per round). Bare propagation is
    O(diameter) rounds — fine for LSH near-cliques (2-4 rounds) but
    >50 on long geometric chains (qk8's 250 km ε-graph at sf0.1); the
    jump makes it O(log diameter) (that same graph: 8 rounds). Each
    round is three shuffles over (node, label) pairs; driver-side work
    is ONE boolean (converged?) per round, not data.

    Iteration hygiene (the part that decides whether this survives
    100 TB — VERDICT r1 "What's wrong" #5): ``edges`` is persisted once
    (it is re-joined every round), and each round's labels are
    ``localCheckpoint``-ed — materialized AND lineage-truncated — so
    round k's convergence count reads round k's blocks, never replaying
    rounds 0..k-1, and the plan stays O(1) deep instead of O(k).
    ``tests/test_dedup.py::test_connected_components_bounded_lineage``
    pins the bounded plan.

    Durability (VERDICT r2 "What's wrong" #4): ``localCheckpoint``
    blocks live on executors, so on a real cluster an executor loss
    after round k kills the job — the blocks are unrecomputable by
    design. Pass ``checkpoint_dir`` (HDFS/S3/GCS path on a cluster) to
    use reliable ``checkpoint()`` instead: each round's labels land in
    fault-tolerant storage and survive executor loss. Default stays
    ``localCheckpoint`` — the right call in local mode and for short
    jobs where re-running the whole thing beats paying DFS writes per
    round."""
    import contextlib

    from alaska_etl_spark.session import checkpoint_dir_scope

    # scoped, not permanent: the loop checkpoints EAGERLY, so the
    # override never outlives this call and any application-configured
    # checkpoint dir is restored on exit (ADVICE r5)
    scope = (
        checkpoint_dir_scope(pairs.sparkSession.sparkContext, checkpoint_dir)
        if checkpoint_dir is not None
        else contextlib.nullcontext()
    )
    # tracked_persist (not bare .persist): the eager edges.unpersist()
    # below releases it on the normal path, but an exception mid-loop
    # would otherwise strand the cache — tracking gives release_tracked
    # a handle either way (unpersist is idempotent).
    edges = tracked_persist(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("component")
    )
    prev_labels = None
    with scope:
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nmin"))
            )
            propagated = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                    ).alias("_prop"),
                    "component",
                )
            )
            # pointer jumping (path halving): follow the label's OWN
            # label one hop — labels are node ids, so one self-join
            # compresses every chain by ~half per round, turning the
            # O(diameter) bound of bare min-propagation into
            # O(log diameter). Bare propagation needed >50 rounds on
            # sf0.1 geographic chains (qk8); with the jump the same
            # graph converges in 8. Neighbor-min alone still decides
            # correctness (the jump only shortcuts already-discovered
            # reachability, never invents it).
            updated = (
                propagated.alias("p")
                .join(
                    propagated.select(
                        F.col("id").alias("_lid"), F.col("_prop").alias("_lprop")
                    ),
                    F.col("p._prop") == F.col("_lid"),
                    "left",
                )
                .select(
                    "id",
                    F.least(
                        F.col("_prop"), F.coalesce(F.col("_lprop"), F.col("_prop"))
                    ).alias("new_component"),
                    "component",
                )
            )
            # eager checkpoint: one materialization serves BOTH the
            # convergence probe and next round's join, and cuts lineage so
            # nothing upstream of this round is ever recomputed. (local
            # blocks of dropped generations are reclaimed by the
            # ContextCleaner once the previous `updated` reference goes
            # away; reliable-mode files are cleaned by
            # spark.cleaner.referenceTracking.cleanCheckpoints or the
            # deployment's dir lifecycle.)
            updated = (
                updated.checkpoint(eager=True)
                if checkpoint_dir is not None
                else updated.localCheckpoint()
            )
            changed = updated.filter(F.col("new_component") < F.col("component")).limit(1).count()
            labels = updated.select("id", F.col("new_component").alias("component"))
            # stats firewall: checkpoint cuts LINEAGE but PRESERVES the
            # optimized plan's statistics (LogicalRDD originStats), and
            # each round's join product then SQUARES the previous
            # round's sizeInBytes — measured: 91→191→392→… digits per
            # round until Catalyst's BigInteger overflows around round
            # 20 (found by qk8's ε-graph, the first input needing that
            # many rounds pre-jump). Materializing the round's labels
            # in the cache replaces them with InMemoryRelation's REAL
            # computed bytes for every downstream consumer, resetting
            # the chain each round.
            labels = tracked_persist(labels)
            labels.count()
            if prev_labels is not None:
                prev_labels.unpersist()
            prev_labels = labels
            if changed == 0:
                break
        edges.unpersist()
    return labels


def dup_groups(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs → one row per duplicate group:
    (component, member_count, keep_id) with keep_id = min member (the
    deterministic survivor; drop everything else)."""
    cc = connected_components(pairs, a_col=a_col, b_col=b_col, checkpoint_dir=checkpoint_dir)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("member_count"),
        F.min("id").alias("keep_id"),
    )


def dedup_savings(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    group_col: str | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
    round_digits: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Dedup SAVINGS report: given near-dup pairs, how much of each
    group's volume is redundant — the number a curation review reads to
    decide whether running the expensive dedup pass (and re-sharding
    the corpus) is worth it, and the headline of a dataset card's
    "deduplication" section.

    Members of each connected component beyond its deterministic keeper
    (min id — :func:`dedup_survivors`' default) count as redundant;
    their characters and word tokens are the reclaimable volume. Per
    ``group_col`` (e.g. source) emits: n_docs, n_redundant,
    chars_total, chars_redundant, tokens_total, tokens_redundant, and
    ``savings_rate = chars_redundant / chars_total`` via the integer
    round-half-up emit. Documents in no pair are singletons (never
    redundant) but still count in the totals — the rate is over the
    whole group, not just the paired part.

    Scale shape: components over the PAIRS only (bounded by the
    candidate set, never corpus-sized — see connected_components);
    one broadcast-sized join of the redundant-id set onto the corpus
    stats scan; one group aggregate. All counts integer → the
    composition stays exactly oracled (qf7 replays the components with
    q42's recursive CTE)."""
    cc = connected_components(
        pairs, a_col=a_col, b_col=b_col, checkpoint_dir=checkpoint_dir
    )
    keep = cc.groupBy("component").agg(F.min("id").alias("_keep"))
    redundant = (
        cc.join(keep, "component")
        .filter(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias("_rid"), F.lit(1).alias("_dup"))
    )
    grp = F.col(group_col) if group_col else F.lit("all")
    stats = docs.select(
        F.col(id_col).alias("_rid"),
        grp.alias("_grp"),
        F.length(text_col).alias("_chars"),
        F.size(word_tokens(text_col)).alias("_toks"),
    )
    scale = 10**round_digits
    dup = F.coalesce(F.col("_dup"), F.lit(0))
    return (
        stats.join(redundant, "_rid", "left")
        .groupBy(F.col("_grp").alias(group_col or "group"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).alias("n_redundant"),
            F.sum("_chars").alias("chars_total"),
            F.sum(dup * F.col("_chars")).alias("chars_redundant"),
            F.sum("_toks").alias("tokens_total"),
            F.sum(dup * F.col("_toks")).alias("tokens_redundant"),
        )
        .withColumn(
            "savings_rate",
            div_half_up("chars_redundant", "chars_total", scale) / F.lit(float(scale)),
        )
    )


def dedup_survivors(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    *,
    quality_col: str | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full-corpus survivor selection: near-dup PAIRS → per-document
    verdict ``(id, component, survivor)``. Documents outside every
    duplicate cluster survive as their own singleton component; within a
    cluster exactly one representative survives — highest
    ``quality_col`` (length, score, ...), ties broken by smallest id —
    or smallest id when no quality column is given.

    Scale shape: the component labels cover only documents that appear
    in ``pairs`` (the duplicate minority), so the corpus-sized side is
    touched twice by id-equi-joins — an inner join to rank cluster
    members and an anti join for the untouched majority — and the
    ranking window runs over cluster members ONLY, never the corpus.
    The full corpus is never shuffled by component; singletons pass
    through with zero data movement beyond the joins, which AQE turns
    into broadcasts whenever the label table fits.

    Reference tie-in: the keep-first dedup at
    ``airflow/dags/nws_dag.py:111`` keeps an arbitrary member per key;
    this is the transitive-closure generalization with a declared,
    deterministic keep rule."""
    cc = connected_components(pairs, a_col=a_col, b_col=b_col, checkpoint_dir=checkpoint_dir)
    order = (
        [F.col(quality_col).desc(), F.col(id_col).asc()]
        if quality_col is not None
        else [F.col(id_col).asc()]
    )
    members = df.join(cc, df[id_col] == cc.id, "inner").drop("id")
    ranked = members.withColumn(
        "survivor",
        F.row_number().over(Window.partitionBy("component").orderBy(*order)) == 1,
    )
    singles = df.join(cc, df[id_col] == cc.id, "left_anti").select(
        "*",
        F.col(id_col).alias("component"),
        F.lit(True).alias("survivor"),
    )
    return ranked.select(*singles.columns).unionByName(singles)


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over a bounded subset
    (exact; the LSH-bucketed scale path lives in operators.similarity).

    Cosine is computed with zip_with/aggregate — JVM-side, no UDF.
    """
    from alaska_etl_spark.operators.similarity import cosine_sim

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
    if max_id is not None:
        base = base.filter(F.col("_id") < max_id)
    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    ncells: int = 8,
    threshold: float = 0.95,
    round_digits: int = 4,
    assign_round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer,
    compare pairs ONLY within a cluster, and drop every row that has a
    smaller-id near-duplicate (cosine >= threshold) in its cluster.
    Returns the kept rows as (id, centroid_id).

    Scale shape — the reason SemDeDup clusters first: similarity is
    evaluated within a cluster only, so the pair count drops by ~ncells×
    for balanced clusters. Centroid pick is ``TakeOrderedAndProject``
    (per-partition heaps, no Exchange); assignment is a narrow Arrow
    argmax over the broadcast centroid matrix
    (:func:`~alaska_etl_spark.operators.similarity.assign_buckets` — no
    join, no shuffle); domination is ``applyInPandas`` per cluster — the
    ONLY shuffle moves each corpus row once (keyed by ``centroid_id``),
    and the cluster-local cosine matrix is a chunked BLAS matmul that
    never materializes the pair rows. (The obvious self-join-then-filter
    formulation shuffles |pairs| rows each carrying two vectors — ~500 MB
    at sf0.1 and catastrophic at 100 TB.) Cluster size is the memory
    unit: size ``ncells`` so a cluster's vectors fit an executor, the
    same contract as any grouped-map op; chunking keeps the similarity
    scratch at O(chunk × cluster).

    The survivor rule is "dominated by ANY smaller id" rather than
    greedy-vs-kept-set: greedy has a sequential dependence (row k's fate
    depends on the fates of all rows < k), while the dominated rule is
    embarrassingly parallel and exactly replicable in ANSI SQL, so the
    DuckDB oracle hash-checks the whole operator. Both similarity
    decisions round first (argmax at ``assign_round_digits``, the
    threshold compare at ``round_digits``) so cluster membership and the
    drop set are reproducible across engines / summation orders.
    """
    import numpy as np
    import pandas as pd

    from alaska_etl_spark.operators.similarity import assign_buckets, centroids_by_id

    cents = centroids_by_id(df, id_col=id_col, vec_col=vec_col, ncells=ncells)
    assigned = assign_buckets(
        df, cents, id_col=id_col, vec_col=vec_col, round_digits=assign_round_digits
    )

    chunk = 1024

    def _dominated(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({id_col: np.array([], dtype=np.int64)})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        vals = pdf[vec_col].to_numpy()[order]
        dim = next((len(v) for v in vals if v is not None), 1)
        zero = np.zeros(dim)
        x = np.stack([zero if v is None else v for v in vals]).astype(np.float64, copy=False)
        norm = np.sqrt(np.einsum("ij,ij->i", x, x))
        norm[norm == 0] = 1.0
        dominated = np.zeros(m, dtype=bool)
        for s in range(0, m, chunk):
            e = min(s + chunk, m)
            # half-away-from-zero to match the DuckDB oracle's round()
            # (np.round is half-to-even — the ADVICE r5 tie divergence)
            sims = _np_round_half_away(
                (x[s:e] @ x.T) / np.outer(norm[s:e], norm), round_digits
            )
            hit = sims >= threshold
            # rows s..e dominate every later column: block-triangular part
            # for columns inside the chunk, full column-any beyond it
            dominated[s:e] |= np.triu(hit[:, s:e], 1).any(axis=0)
            if e < m:
                dominated[e:] |= hit[:, e:].any(axis=0)
        return pd.DataFrame({id_col: ids[dominated]})

    dominated = assigned.groupBy("centroid_id").applyInPandas(
        _dominated, schema=f"{id_col} bigint"
    )
    return assigned.join(dominated, id_col, "left_anti").select(id_col, "centroid_id")


def bag_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_id: int = 60,
    threshold_pct: int = 50,
) -> DataFrame:
    """Multiset (bag) Jaccard over token COUNTS — Σ min(cᵃ, cᵇ) /
    Σ max(cᵃ, cᵇ) — the repetition-aware near-dup measure the
    set-based q26 misses: a document that repeats one paragraph five
    times is nearly set-identical to the single-paragraph original but
    far from it under bag semantics (and vice versa for templated
    boilerplate). Same bounded-block contract as q26 (ids < max_id).

    Exact integer protocol: per-pair numerator Σmin counts only tokens
    PRESENT IN BOTH (an inner join on token), while the denominator
    uses Σmax = total_a + total_b − Σmin (totals from per-doc token
    counts) — so the one join that runs is the shared-vocabulary join,
    never a full outer. Threshold compares
    ``100·Σmin ≥ threshold_pct·Σmax`` in BIGINT; jaccard emits via
    div_half_up at 1e-4.

    Scale shape: (doc, token, count) aggregate over the block, one
    token-keyed self-join (inverted-index economics — the qb0 family's
    prefix/positional filters apply unchanged if the block contract is
    lifted), one pair aggregate. Returns ``(id_a, id_b, sum_min,
    sum_max, bag_jaccard)``.
    """
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    block = df.filter(F.col(id_col) < max_id)
    # NOT persisted (r12, measured): the self-join sides and totals
    # re-plan the tokenize subtree, but counts is an aggregate — every
    # copy sits above its Exchange and runtime exchange reuse computes
    # it once (persisting A/B'd slower, cold med 0.53 → 0.76 s at
    # sf0.1).
    counts = (
        block.select(F.col(id_col).alias("_id"), F.explode(word_tokens(text_col)).alias("_w"))
        .groupBy("_id", "_w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    totals = counts.groupBy("_id").agg(F.sum("_c").cast("bigint").alias("_n"))
    a = counts.select(F.col("_id").alias("id_a"), "_w", F.col("_c").alias("_ca"))
    b = counts.select(F.col("_id").alias("id_b"), "_w", F.col("_c").alias("_cb"))
    mins = (
        a.join(b, "_w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("_ca", "_cb")).cast("bigint").alias("sum_min"))
    )
    ta = totals.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    tb = totals.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    scored = (
        mins.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "sum_min",
            (F.col("_na") + F.col("_nb") - F.col("sum_min")).cast("bigint").alias("sum_max"),
        )
        .filter(F.lit(100) * F.col("sum_min") >= F.lit(threshold_pct) * F.col("sum_max"))
    )
    return scored.select(
        "id_a",
        "id_b",
        "sum_min",
        "sum_max",
        (div_half_up("sum_min", "sum_max", 10000) / 10000.0).alias("bag_jaccard"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 6,
    threshold_pct: int = 50,
    key_len: int = 24,
    block_len: int = 8,
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-duplicate candidate pairs with
    exact set-Jaccard verification — the classic record-linkage
    blocking method (Hernández & Stolfo '95) alongside the hashing
    family (MinHash q29, SimHash q30): sort records by a normalized
    key, compare each record only with its next ``window-1``
    neighbors. Catches near-dups that share a PREFIX (titles, names,
    boilerplate headers) at O(n·w) comparisons with no hashing and no
    recall-vs-bands tuning.

    Spark-first shape: the sort key is the first ``key_len``
    alphanumeric chars of the lowercased text; records partition by
    the coarser ``block_len``-char block prefix, so every window
    operator runs inside a bounded block partition — ONE exchange +
    ONE sort, no global single-partition window at any scale (blocked
    SNM; pairs straddling a block boundary are out of contract, the
    standard multi-pass answer being a second key). Neighbor
    enumeration is ``lead(struct, k)`` for k=1..window-1 — forward
    only, so each unordered pair appears at most once.

    Verification is exact: distinct word-token sets, intersection via
    ``array_intersect`` (inputs already distinct), union by
    inclusion-exclusion; keep iff ``100·|∩| >= threshold_pct·|∪|``
    (all BIGINT). Pairs where both token sets are empty are dropped
    (no evidence). Emits ``(id_a, id_b, inter, uni, jaccard)`` with
    id_a < id_b and a 4dp round-half-up jaccard.
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.substring(norm, 1, key_len).alias("_key"),
        F.array_sort(F.array_distinct(word_tokens(F.col(text_col)))).alias("_tk"),
    ).withColumn("_block", F.substring(F.col("_key"), 1, block_len))
    w = Window.partitionBy("_block").orderBy("_key", "_id")
    leads = F.array(
        *[
            F.lead(F.struct(F.col("_id"), F.col("_tk")), k).over(w)
            for k in range(1, window)
        ]
    )
    cand = (
        base.select("_id", "_tk", leads.alias("_nb"))
        .select(
            "_id",
            "_tk",
            F.explode(F.filter(F.col("_nb"), lambda s: s.isNotNull())).alias("_o"),
        )
        .select(
            F.least("_id", F.col("_o._id")).alias("id_a"),
            F.greatest("_id", F.col("_o._id")).alias("id_b"),
            F.size(F.array_intersect("_tk", F.col("_o._tk")))
            .cast("bigint")
            .alias("inter"),
            (F.size("_tk") + F.size(F.col("_o._tk")))
            .cast("bigint")
            .alias("_sz"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("_sz") - F.col("inter")).alias("uni"),
        )
    )
    return cand.filter(
        (F.col("uni") > 0)
        & (100 * F.col("inter") >= threshold_pct * F.col("uni"))
    ).select(
        "id_a",
        "id_b",
        "inter",
        "uni",
        (div_half_up("inter", "uni", 10000) / 10000.0).alias("jaccard"),
    )


def blocking_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold_num: int = 1,
    threshold_den: int = 2,
    hash_fn: str = "xxhash64",
    bp_scale: int = 10**4,
) -> DataFrame:
    """Blocking-quality evaluation of the MinHash-LSH banding scheme —
    the record-linkage literature's two-number report (pair
    completeness × reduction ratio) that decides band/row settings
    BEFORE a corpus-scale dedup run: of the truly-near-duplicate pairs
    (exact Jaccard ≥ num/den over the SAME shingle sets the bands
    hash), how many does ≥1 band catch (completeness = LSH recall), and
    what fraction of the all-pairs universe did blocking avoid
    comparing (reduction)?

    Truth is computed from the identical ``minhash_doc_tables`` shingle
    sets via the shared-gram inverted index — no unshared-gram pair can
    have J > 0, so the truth join is exact while never being all-pairs.
    The truth side carries no prefix filter (every shared-gram pair is
    scored): blocking evaluation is a SAMPLED-CORPUS operation by
    design — you tune bands on a sample, then run the tuned pipeline at
    corpus scale — so the evaluation's Σdf² term is bounded by the
    sample, exactly like qm2's brute-force ANN truth.

    One row: (n_docs, n_universe_pairs, n_candidates, n_true, n_hit,
    completeness_bp, reduction_bp); integer cross-multiplied threshold,
    4dp basis points, exactly oracle-replayable in the md5 lane.
    """
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    per_doc, banded = minhash_doc_tables(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        seed=seed, hash_fn=hash_fn,
    )
    cands = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    # pair-grain over the sampled corpus; unpersisted, cands was
    # re-planned by its two consumers (count + semi-join probe) and
    # truth's shared-gram join ran twice (truth count + hit) — the r12
    # diamond audit read the cached-shingle explode 4× in qm3's plan.
    cands = tracked_persist(cands)
    grams = per_doc.select("_id", F.explode("_sh").alias("_g"))
    sizes = per_doc.select("_id", F.size("_sh").cast("bigint").alias("_sz"))
    ic = (
        grams.alias("a")
        .join(grams.alias("b"), "_g")
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_ic"))
    )
    tn, td = threshold_num, threshold_den
    truth = (
        ic.join(sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sa")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sb")), "id_b")
        .filter(
            F.lit(td) * F.col("_ic")
            >= F.lit(tn) * (F.col("_sa") + F.col("_sb") - F.col("_ic"))
        )
        .select("id_a", "id_b")
    )
    truth = tracked_persist(truth)
    hit = truth.join(cands, ["id_a", "id_b"], "left_semi")
    agg = (
        per_doc.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates")))
        .crossJoin(truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true")))
        .crossJoin(hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
        .withColumn(
            "n_universe_pairs",
            F.expr("n_docs * (n_docs - 1) div 2"),  # exact BIGINT, no FP
        )
    )
    return agg.select(
        "n_docs",
        "n_universe_pairs",
        "n_candidates",
        "n_true",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            div_half_up(f"{bp_scale} * n_hit", "n_true"),
        ).alias("completeness_bp"),
        F.when(
            F.col("n_universe_pairs") > 0,
            div_half_up(
                f"{bp_scale} * (n_universe_pairs - n_candidates)",
                "n_universe_pairs",
            ),
        ).alias("reduction_bp"),
    )


def lsh_scurve_constants(bands: int, rows: int, buckets: int = 10) -> "list[tuple]":
    """The analytic MinHash-LSH detection curve 1 − (1 − s^r)^b at each
    Jaccard-bucket midpoint s = (2i+1)/(2·buckets) — a constant lookup
    table given (b, r), computed ONCE here and embedded as literals in
    BOTH the Spark plan and the SQL oracle, so cross-engine parity of
    the float column holds by construction (same driver-side doubles).
    Returns [(bucket, s_mid, p_detect)]."""
    out = []
    for i in range(buckets):
        s = (2 * i + 1) / (2.0 * buckets)
        out.append((i, s, 1.0 - (1.0 - s**rows) ** bands))
    return out


def lsh_scurve(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    buckets: int = 10,
) -> DataFrame:
    """Empirical-vs-analytic LSH S-curve: bucket every shared-gram pair
    by its EXACT Jaccard and report, per bucket, how many pairs ≥1 band
    actually caught next to the theory's 1 − (1 − s^r)^b at the bucket
    midpoint. :func:`blocking_quality` gives the two-number verdict at
    ONE threshold; the S-curve is how you pick ``bands`` — it shows
    where the detection cliff sits and how much sub-threshold mass the
    bands drag in (the candidate-volume cost the reduction ratio pays).

    Same sampled-corpus contract and machinery as blocking_quality:
    truth = exact Jaccard over the identical shingle sets via the
    shared-gram inverted index (a J=0 pair shares no gram, so absent
    pairs are bucket-0 by definition and excluded — the curve is over
    comparable pairs). Buckets are exact integers:
    ``(buckets·|∩|) div |∪|`` clamped to buckets−1. Detection ratio is
    half-up 4dp bp; the analytic column joins from
    :func:`lsh_scurve_constants` literals.

    Returns (j_bucket, s_mid, n_pairs, n_detected, detect_bp,
    analytic_detect) ordered by bucket; empty buckets absent."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    per_doc, banded = minhash_doc_tables(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        seed=seed, hash_fn=hash_fn,
    )
    cands = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    grams = per_doc.select("_id", F.explode("_sh").alias("_g"))
    sizes = per_doc.select("_id", F.size("_sh").cast("bigint").alias("_sz"))
    pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "_g")
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_ic"))
        .join(sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sa")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.least(
                F.lit(buckets - 1),
                F.expr(f"({buckets} * _ic) div (_sa + _sb - _ic)"),
            )
            .cast("int")
            .alias("j_bucket"),
        )
    )
    # bucketed pair grain (sample-bounded); unpersisted, the detected
    # semi-join and the per-bucket totals each re-ran the shared-gram
    # self-join (the r12 diamond audit read the shingle explode 4× in
    # qo0's plan).
    pairs = tracked_persist(pairs)
    detected = pairs.join(cands, ["id_a", "id_b"], "left_semi").groupBy(
        "j_bucket"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_detected"))
    curve = local_df(
        df.sparkSession,
        lsh_scurve_constants(bands, num_hashes // bands, buckets),
        "j_bucket int, s_mid double, analytic_detect double",
    )
    return (
        pairs.groupBy("j_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .join(detected, "j_bucket", "left")
        .join(F.broadcast(curve), "j_bucket")
        .select(
            "j_bucket",
            "s_mid",
            "n_pairs",
            F.coalesce("n_detected", F.lit(0)).cast("bigint").alias("n_detected"),
            div_half_up(
                "10000 * coalesce(n_detected, 0)", "n_pairs"
            ).alias("detect_bp"),
            "analytic_detect",
        )
        .orderBy("j_bucket")
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    *,
    boundary_mod: int = 16,
    hash_fn: str = "xxhash64",
    bp_scale: int = 10**4,
) -> DataFrame:
    """Content-defined chunking dedup report (the FastCDC/rsync
    primitive at token grain): split every document into chunks at
    CONTENT-derived boundaries — after any token whose 31-bit hash ≡ 0
    (mod ``boundary_mod``) — then measure, per group, how much chunk
    mass repeats corpus-wide. Content-defined boundaries are the load-
    bearing idea: an insertion shifts byte offsets but leaves every
    boundary after it in place, so unchanged regions keep identical
    chunk hashes — the dedup axis between exact whole-document (q25)
    and fuzzy whole-document (q29): near-identical documents share most
    CHUNKS even when no whole-document screen fires.

    Chunk identity is the ordered polynomial fold of the chunk's token
    hashes (gram_rows' short-doc idiom — order-sensitive, engine-
    replayable in the md5 lane). Expected chunk length is
    ``boundary_mod`` tokens; per group the report gives chunk counts,
    corpus-wide-duplicated chunk counts, the duplicated token mass, and
    its share in 4dp basis points (the reclaimable-storage number a
    chunk-store would save).

    Shape: tokenize+posexplode narrow; ONE (doc, pos) window sort
    serves the boundary running count; chunk fold is one hash
    aggregate; the global chunk-frequency table joins back by chunk
    hash (vocab-grain: shuffle_hash unless the input scan proves it
    driver-safe to broadcast — operators/hints.py).
    Returns (group_col, n_chunks, n_dup_chunks, total_tokens,
    dup_tokens, dup_token_bp) ordered by group."""
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    # compact corpus files scan as 2 splits at sf0.1 and the fused
    # tokenize+hash map side ran there (stage profile r13: 2 tasks,
    # 0.74 s wall, ~30% of the critical path) — the lm.py/simjoin
    # guard, no-op at scale (operators/parallelism.py)
    tok = (
        ensure_min_parallelism(df, id_col)
        .select(
            F.col(group_col).alias("_grp"),
            F.col(id_col).alias("_id"),
            F.posexplode_outer(word_tokens(text_col)).alias("pos", "_t"),
        )
        .filter(F.col("_t").isNotNull())
        .select("_grp", "_id", "pos", _token_hash31("_t", hash_fn).alias("_h"))
    )
    w = Window.partitionBy("_id").orderBy("pos")
    # boundary AFTER a matching token: the running boundary count up to
    # and including the PREVIOUS token is this token's chunk ordinal
    marked = tok.withColumn(
        "_ck",
        F.coalesce(
            F.sum(
                F.when(F.pmod(F.col("_h"), F.lit(boundary_mod)) == 0, 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    # Chunk fold over PACKED LONGS, not structs (r12): pos and h are
    # both < 2³¹, so (pos << 31) | h is one non-negative bigint that
    # sorts by pos and still carries h — the ObjectHashAggregate
    # buffers/sorts primitive longs instead of (pos, h) structs and
    # the fold extracts h with one AND. (A full codegen rewrite —
    # order-free Σ hᵢ·P⁻ⁱ terms with per-row 31-step modpow chains —
    # was implemented, oracle-matched at all three sfs, and REVERTED:
    # ABAB measured it 0.6-1.0 s SLOWER cold at sf0.1; at the ~16-token
    # expected chunk length the per-row square-and-multiply costs more
    # than the small-array buffering it removes.)
    chunks = (
        marked.groupBy("_grp", "_id", "_ck")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.shiftleft(F.col("pos").cast("bigint"), 31)
                    .bitwiseOR(F.col("_h"))
                )
            ).alias("_ph"),
            F.count(F.lit(1)).cast("bigint").alias("_n_tok"),
        )
        .select(
            "_grp",
            "_n_tok",
            F.aggregate(
                "_ph",
                F.lit(0).cast("bigint"),
                lambda acc, x: F.pmod(
                    acc * F.lit(1_000_003) + x.bitwiseAND(F.lit((1 << 31) - 1)),
                    F.lit(1 << 31),
                ),
            ).alias("_ch"),
        )
    )
    chunks = tracked_persist(chunks)
    from alaska_etl_spark.operators.hints import input_fits_driver, pin_corpus_agg

    freq = pin_corpus_agg(  # vocab-grain; conditional — operators/hints.py
        chunks.groupBy("_ch").agg(F.count(F.lit(1)).cast("bigint").alias("_occ")),
        input_fits_driver(df),
    )
    return (
        chunks.join(freq, "_ch")
        .groupBy("_grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("_occ") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum("_n_tok").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("_occ") > 1, F.col("_n_tok")).otherwise(0))
            .cast("bigint")
            .alias("dup_tokens"),
        )
        .select(
            F.col("_grp").alias(group_col),
            "n_chunks",
            "n_dup_chunks",
            "total_tokens",
            "dup_tokens",
            div_half_up(f"{bp_scale} * dup_tokens", "total_tokens").alias(
                "dup_token_bp"
            ),
        )
        .orderBy(group_col)
    )


def canonical_selection(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col,
    *,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Keep-BEST canonical selection over near-dup components — the
    decision step between detection and deletion that keep-FIRST
    (min-id) dedup gets wrong for training data: within each
    :func:`connected_components` group, the keeper is the member with
    the highest quality ``score_col`` (ties → smallest id, so the
    choice is deterministic and oracle-replayable), and the report
    says what each cluster keeps vs discards. Members absent from any
    pair are singletons and never appear (nothing to decide).

    One window per COMPONENT (components are near-cliques — bounded
    blocks, never a global sort) over the members frame joined to the
    scores. Returns (component, keeper_id, n_members, keeper_score,
    score_total, score_discarded) ordered by component; scores are
    BIGINT (counts/chars/tokens — the caller picks the quality
    integer)."""
    from pyspark.sql import Window

    comp = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    scored = comp.join(
        df.select(
            F.col(id_col).alias("id"),
            F.col(score_col).cast("bigint").alias("_s") if isinstance(score_col, str)
            else score_col.cast("bigint").alias("_s"),
        ),
        "id",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_s").desc(), F.col("id").asc()
    )
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    keep = ranked.filter(F.col("_rn") == 1).select(
        "component",
        F.col("id").alias("keeper_id"),
        F.col("_s").alias("keeper_score"),
    )
    return (
        scored.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("_s").cast("bigint").alias("score_total"),
        )
        .join(keep, "component")
        .select(
            "component",
            "keeper_id",
            "n_members",
            "keeper_score",
            "score_total",
            (F.col("score_total") - F.col("keeper_score"))
            .cast("bigint")
            .alias("score_discarded"),
        )
        .orderBy("component")
    )


def normalized_fingerprint(col: "Column | str") -> Column:
    """Aggressive text-normalization fingerprint — the "fuzzy-exact"
    dedup key most production pipelines (Dolma, RefinedWeb) run BEFORE
    any near-dup machinery: lowercase, mask digit runs to ``0``, strip
    everything but letters/digit-mask/spaces, collapse whitespace,
    trim. Two documents differing only in case, punctuation, numbers,
    or spacing collide exactly. Every step is in the Java-regex∩RE2
    shared dialect so a SQL oracle replays the fingerprint literally
    (the qn9 format-validity stance)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(c)
    s = F.regexp_replace(s, "[0-9]+", "0")
    s = F.regexp_replace(s, "[^a-z0 ]+", " ")
    s = F.regexp_replace(s, " +", " ")
    return F.trim(s)


def normalized_dedup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: "str | None" = None,
) -> DataFrame:
    """Normalization-gain dedup report: per source (or corpus-wide),
    how much duplication exists under RAW exact matching vs under the
    :func:`normalized_fingerprint` — the delta is what normalization
    alone buys before MinHash/SimHash spend a single signature. The
    decision number for pipeline ordering: a high ``norm_gain`` says
    run the cheap fingerprint pass first and shrink the near-dup
    input; a near-zero gain says skip straight to LSH.

    ONE scan, one aggregate at (group, raw-hash, norm-hash) grain —
    raw-distinct and norm-distinct then both reduce from the same
    frame (a raw group never spans two norm groups: normalization is
    a function of the text, so the pair-grain frame counts both
    exactly). Hashes are xxhash64 identities (the simjoin stance: any
    injective mapping gives identical counts; the value-keyed oracle
    cross-checks). Returns (group?, n_docs, n_exact_distinct,
    n_norm_distinct, exact_dupes, norm_dupes, norm_gain,
    norm_savings_bp) ordered."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    gcols = [group_col] if group_col else []
    pairs = df.select(
        *gcols,
        F.xxhash64(F.col(text_col)).alias("_hr"),
        F.xxhash64(normalized_fingerprint(text_col)).alias("_hn"),
    ).groupBy(*gcols, "_hr", "_hn").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    per_norm = pairs.groupBy(*gcols, "_hn").agg(
        F.sum("_c").cast("bigint").alias("_cn"),
        F.count(F.lit(1)).cast("bigint").alias("_raw_groups"),
    )
    out = per_norm.groupBy(*gcols).agg(
        # coalesce: the corpus-wide (no-group) aggregate of an empty
        # input is one row of NULL sums — an empty corpus has 0 docs
        F.coalesce(F.sum("_cn"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("_raw_groups"), F.lit(0))
        .cast("bigint")
        .alias("n_exact_distinct"),
        F.count("_hn").cast("bigint").alias("n_norm_distinct"),
    )
    out = out.select(
        *gcols,
        "n_docs",
        "n_exact_distinct",
        "n_norm_distinct",
        (F.col("n_docs") - F.col("n_exact_distinct"))
        .cast("bigint")
        .alias("exact_dupes"),
        (F.col("n_docs") - F.col("n_norm_distinct"))
        .cast("bigint")
        .alias("norm_dupes"),
        (F.col("n_exact_distinct") - F.col("n_norm_distinct"))
        .cast("bigint")
        .alias("norm_gain"),
        div_half_up(
            "10000 * (n_docs - n_norm_distinct)", "nullif(n_docs, 0)"
        ).alias("norm_savings_bp"),
    )
    return out.orderBy(*gcols) if gcols else out


def source_overlap_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    *,
    normalized: bool = True,
) -> DataFrame:
    """Pairwise EXACT content overlap between sources — the dataset
    card's "which crawls contain the same documents" matrix. The
    Jensen-Shannon divergence family (X63) compares sources as token
    DISTRIBUTIONS (two sources can be distributionally identical while
    sharing zero documents); this counts shared CONTENT: distinct
    fingerprints (:func:`normalized_fingerprint` by default, raw text
    otherwise) present in both sources of every ordered pair, plus the
    directional coverage share — how much of source A's distinct
    content also lives in source B, the number that decides which
    source is redundant when trimming a data mixture.

    One fingerprint-distinct aggregate at (group, hash) grain, one
    self-join on the hash (identity join — the simjoin stance: any
    injective mapping counts identically, the value-keyed oracle
    cross-checks), one per-pair count; per-source distinct totals ride
    a window over the same reduced frame. Only pairs with ≥1 shared
    fingerprint emit (the all-pairs zero matrix is output noise at
    1000 sources; absent pair = 0 overlap by contract).

    Returns (source_a, source_b, n_distinct_a, n_shared,
    coverage_bp = round-half-up 10⁴·n_shared/n_distinct_a) for every
    ordered pair with overlap, sorted."""
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up

    key = (
        normalized_fingerprint(text_col)
        if normalized
        else F.col(text_col)
    )
    fp = (
        df.select(F.col(group_col).alias("_src"), F.xxhash64(key).alias("_h"))
        .groupBy("_src", "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .drop("_c")
    )
    fp = fp.withColumn(
        "_nd", F.count(F.lit(1)).over(Window.partitionBy("_src"))
    )
    shared = (
        fp.alias("a")
        .join(fp.alias("b"), "_h")
        .filter(F.col("a._src") != F.col("b._src"))
        .groupBy(
            F.col("a._src").alias("source_a"),
            F.col("b._src").alias("source_b"),
        )
        .agg(
            F.max("a._nd").cast("bigint").alias("n_distinct_a"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        )
    )
    return shared.select(
        "source_a",
        "source_b",
        "n_distinct_a",
        "n_shared",
        div_half_up("10000 * n_shared", "nullif(n_distinct_a, 0)").alias(
            "coverage_bp"
        ),
    ).orderBy("source_a", "source_b")
