"""Text-analysis operators for training-data pipelines (BASELINE
north-star): language ID, quality scoring, token counting, document
fingerprinting. All pure Catalyst expressions — these run inside
whole-stage codegen over the documents table at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alaska_etl_spark.cache import tracked_persist

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small + deterministic (no model download): the point is the
# *operator shape* — replace the lexicon to upgrade quality.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "avec"],
    "es": ["el", "los", "las", "es", "en", "una", "por", "para", "con"],
}


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored token count: words, numbers, and punctuation runs
    counted separately (a cheap proxy for subword tokenizers — the regex
    splits the same boundaries a byte-level BPE would never merge)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def _count_in_lexicon(toks: Column, words: list[str]) -> Column:
    # NOTE: Column.isin inside a higher-order-function lambda miscoerces
    # the lambda variable (Spark 4.1 casts the IN list to BIGINT);
    # array_contains against a literal array types correctly.
    lex = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    sw = stopwords or LANG_MARKERS["en"]
    toks = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    return _count_in_lexicon(toks, sw) / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_word_length(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(c, r"\s+"), lambda t: t != "")
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: length band + word-length band +
    low punctuation + stopword presence. A heuristic filter of the
    Gopher/C4-rule family — each term is a documented rule, not a model."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    mwl = mean_word_length(c)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    sw_ok = F.when(stopword_ratio(c) >= 0.01, 1.0).otherwise(0.0)
    return (len_ok + mwl_ok + punct_ok + sw_ok) / 4.0


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Marker-lexicon language ID: argmax over per-language stopword hit
    counts; 'und' when nothing matches. Deterministic tie-break by
    language code order."""
    c = F.col(col) if isinstance(col, str) else col
    mk = markers or LANG_MARKERS
    toks = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    # struct(-hits, lang) sorted ascending → highest hit count first,
    # ties broken by language code ascending
    scored = F.array(
        *[
            F.struct(
                (-_count_in_lexicon(toks, words)).alias("neg_hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(mk.items())
        ]
    )
    # F.get (not getItem) → NULL on empty array under ANSI mode
    best = F.get(F.sort_array(F.filter(scored, lambda s: s.getField("neg_hits") < 0)), 0)
    return F.when(best.isNull(), F.lit("und")).otherwise(best.getField("lang"))


def doc_fingerprint(col: Column | str) -> Column:
    """64-bit content fingerprint of whitespace-normalized lowercase
    text (xxhash64). The exact-dedup key: identical normalized content
    → identical fingerprint."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    w: int = 5,
    base: int = 31,
    modulus: int = 2_147_483_647,
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm).

    Polynomial rolling hash over token ``k``-grams, then the minimum
    hash of every ``w``-gram window is selected; the distinct selected
    hashes per document are its fingerprint set. Two documents sharing a
    run of ≥ ``k + w - 1`` tokens are guaranteed to share a fingerprint,
    which makes the output directly joinable for partial-overlap /
    containment detection (a different axis than MinHash's whole-doc
    resemblance).

    Execution shape (100 TB story): tokenize + posexplode are
    narrow/local; the only shuffle is hash-partitioning by ``id_col``
    for the per-document windows, after which lead/min/row_number all
    share ONE sort within the same partitioning (single Window exchange,
    whole-stage codegen throughout — no interpreted array HOFs in the
    hot path, per the gram-row formulation notes in dedup.gram_rows).

    Arithmetic is engine-portable on purpose: token hash = first 8 hex
    chars of md5 reduced mod ``modulus`` (31-bit), so the k-gram
    polynomial stays < 2^48 — exact under ANSI mode and identical in the
    DuckDB oracle.

    Returns distinct ``(id_col, fp)`` rows.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    # compact corpus files scan as one split; hashing by _id up front
    # both widens the explode and pre-satisfies the window's clustering
    # (REPARTITION_BY_NUM is AQE-coalesce-exempt; no-op at scale)
    df = ensure_min_parallelism(df, id_col)
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    rows = df.select(
        F.col(id_col).alias("_id"), F.posexplode_outer(toks).alias("pos", "tok")
    ).filter(F.col("pos").isNotNull())
    th = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint"), F.lit(modulus)
    )
    rows = rows.select("_id", "pos", th.alias("th"))

    w_ord = Window.partitionBy("_id").orderBy("pos")
    gram = F.lit(0).cast("bigint")
    for i in range(k):
        term = F.col("th") if i == 0 else F.lead("th", i).over(w_ord)
        gram = gram + term * (base ** (k - 1 - i))
    grams = (
        rows.select("_id", "pos", F.pmod(gram, F.lit(modulus)).alias("gh"))
        .filter(F.col("gh").isNotNull())  # drop ragged tail (< k tokens left)
    )

    w_min = Window.partitionBy("_id").orderBy("pos").rowsBetween(0, w - 1)
    wins = grams.select(
        "_id",
        F.min("gh").over(w_min).alias("fp"),
        F.row_number().over(Window.partitionBy("_id").orderBy("pos")).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_n"),
    )
    return (
        wins.filter(F.col("_rn") <= F.col("_n") - (w - 1))  # full windows only
        .select(F.col("_id").alias(id_col), "fp")
        .distinct()
    )


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText quality
    rules adapted to token n-grams): documents dominated by repeated
    fragments are boilerplate/spam and get filtered before training.

    Returns (id, n_tokens, dup_token_ratio, top_bigram_frac,
    dup_trigram_frac), ratios rounded to 6dp:

    - ``dup_token_ratio``   — 1 − distinct/total tokens;
    - ``top_bigram_frac``   — occurrences of the most frequent bigram ÷
      all bigram occurrences (ties don't matter: it's a max over counts);
    - ``dup_trigram_frac``  — fraction of trigram occurrences whose
      trigram appears ≥ 2 times in the document.

    Documents with fewer than 2 (3) tokens yield NULL bigram (trigram)
    metrics; documents with ZERO tokens are absent from the output (there
    is no row to describe).

    ONE exchange total (pinned by tests/test_text.py): the (id, pos)
    lead-window hash-partitions by ``_id``, and every later step reuses
    that partitioning — per-gram occurrence counts are count-windows over
    (_id, gram), whose required clustering is satisfied by the ``_id``
    hash (partition-key subset rule, the same shared-sort trick as
    sessionization), and the final per-doc aggregate (including the
    distinct-token count) is partition-local. Each gram row carries its
    gram's occurrence count, so max(count) = top-gram occurrences and
    count(rows with count ≥ 2) = duplicated-gram occurrences. Everything
    is exact integer counting — the DuckDB oracle (q70) replays it
    verbatim. (The first formulation re-aggregated each gram stream
    separately and joined three per-doc tables: 6 exchanges.)
    """
    from pyspark.sql import Window

    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    df = ensure_min_parallelism(df, id_col)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    ex = (
        df.select(F.col(id_col).alias("_id"), F.posexplode_outer(toks).alias("pos", "_t"))
        .filter(F.col("_t").isNotNull() & (F.col("_t") != ""))
    )
    w = Window.partitionBy("_id").orderBy("pos")
    rows = ex.select(
        "_id",
        "_t",
        F.concat_ws(" ", "_t", F.lead("_t", 1).over(w)).alias("_b2"),
        F.lead("_t", 1).over(w).isNotNull().alias("_has2"),
        F.concat_ws(" ", "_t", F.lead("_t", 1).over(w), F.lead("_t", 2).over(w)).alias("_b3"),
        F.lead("_t", 2).over(w).isNotNull().alias("_has3"),
    )
    c2 = F.count(F.lit(1)).over(Window.partitionBy("_id", "_b2"))
    c3 = F.count(F.lit(1)).over(Window.partitionBy("_id", "_b3"))
    counted = rows.select(
        "_id",
        "_t",
        "_has2",
        "_has3",
        F.when(F.col("_has2"), c2).alias("_c2"),
        F.when(F.col("_has3"), c3).alias("_c3"),
    )
    agg = counted.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("_t").alias("_n_distinct"),
        F.max("_c2").alias("_mx"),
        F.sum(F.col("_has2").cast("long")).alias("_btot"),
        F.sum(F.when(F.col("_has3") & (F.col("_c3") >= 2), 1).otherwise(0)).alias("_dup"),
        F.sum(F.col("_has3").cast("long")).alias("_ttot"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        F.round(1.0 - F.col("_n_distinct") / F.col("n_tokens"), 6).alias("dup_token_ratio"),
        F.round(F.col("_mx") / F.when(F.col("_btot") > 0, F.col("_btot")), 6).alias(
            "top_bigram_frac"
        ),
        F.round(F.col("_dup") / F.when(F.col("_ttot") > 0, F.col("_ttot")), 6).alias(
            "dup_trigram_frac"
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    round_digits: int = 4,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document:
    ``(id, term, tfidf, rank)`` with tfidf = tf · ln((N+1)/(df+1)),
    rounded, ranked by (tfidf desc, term asc).

    Exchange budget (pinned in tests): ONE corpus-sized shuffle. Token
    rows are repartitioned by document id once; the (id, term) aggregate
    and the per-document ranking window both reuse that partitioning
    (hash(id) clusters every finer key). The document-frequency side
    aggregates from the already-reduced (id, term) table — an exchange
    over |vocab| rows, not the corpus — and joins back WITHOUT a
    broadcast hint: AQE broadcasts it while vocabulary fits (preserving
    the id partitioning for the window) and degrades to a shuffle join
    when it doesn't. N is a one-row aggregate cross-joined in, not a
    driver-side collect.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")).alias(
            "term"
        ),
    )
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = toks.repartition(nparts, "_id")
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            "_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                round_digits,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "term", "tfidf", "rank")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-size token windows with optional
    overlap: (id, chunk_id, chunk_text, n_tokens) — the preprocessing
    step between raw documents and fixed-window training/embedding
    (RAG chunking, long-doc splitting before ``splits.pack_sequences``).

    Chunks start every ``chunk_tokens − overlap`` tokens; the last
    chunk may be short; empty documents produce no chunks. Entirely
    codegen: one tokenize, a ``sequence`` of chunk starts, slice +
    rejoin per chunk, one explode — no shuffle at all (narrow,
    partition-preserving; the DuckDB oracle replays it with
    list_slice/array_to_string).

    Token-boundary chunking re-spaces runs of whitespace (chunks join
    with single spaces) — the standard normalization, same as
    ``doc_fingerprint``'s.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("chunk_text"),
            F.least(n - s, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(chunks).alias("_c")
    ).select(
        id_col,
        F.col("_c.chunk_id").alias("chunk_id"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_tokens").alias("n_tokens"),
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    *,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 top-``k`` retrieval: score every document against every
    query with Okapi BM25 and keep the ``k`` best per query —
    ``(query_id, doc_id, score_micro, score, rank)``.

    score(q,d) = Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1) /
                 (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene/Okapi form
    (always ≥ 0; query-term multiplicity ignored, as in Lucene).

    Engine-exact protocol: the per-term contribution is rounded to
    integer MICRO-units and summed as a BIGINT — integer addition is
    associative, so the score is independent of Spark's partial-agg
    summation order and an external engine replays it bit-for-bit
    (the same fixed-point trick as the exact-moment statistics family).
    ``score`` is derived from ``score_micro`` by one final division.

    Scale shape: ONE corpus scan + ONE corpus-sized shuffle build the
    (doc, term, tf) postings, PERSISTED — the postings table IS the
    index (what Lucene materializes), and all four consumers (document
    frequencies, doc lengths, the one-row (N, avgdl) reduction, the
    scoring join) read the cache; the doc-length aggregate reuses the
    postings' hash(_id) partitioning, so no second exchange. Query
    terms and their idf are a tiny broadcast — the postings are pruned
    to query terms BY the broadcast join before any scoring work, so
    the scored intermediate is |matching postings|, not the corpus.
    The final top-k window partitions by query (parallel across
    queries; k rows kept each). (The first cut let every consumer
    re-derive the postings: 4 corpus scans, 0 reused exchanges,
    measured 1.9 s warm at sf0.1 vs 1.0 s for this shape.)
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    tf = (
        toks.repartition(nparts, "_id")
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = tracked_persist(tf)
    dl = tf.groupBy("_id").agg(F.sum("tf").alias("dl"))
    stats = dl.select(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qterms = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.lower(query_text_col), r"\s+"), lambda t: t != "")
            )
        ).alias("term"),
    )
    qidf = (
        dfreq.join(F.broadcast(qterms), "term")
        .join(F.broadcast(stats))
        .select(
            "_qid",
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
            "avgdl",
        )
    )

    contrib = (
        tf.join(F.broadcast(qidf), "term")
        .join(dl, "_id")
        .select(
            "_qid",
            "_id",
            F.round(
                (
                    F.col("idf")
                    * (F.col("tf") * F.lit(k1 + 1.0))
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("avgdl")
                        )
                    )
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("_micro"),
        )
    )
    scores = contrib.groupBy("_qid", "_id").agg(F.sum("_micro").alias("score_micro"))
    w = Window.partitionBy("_qid").orderBy(
        F.col("score_micro").desc(), F.col("_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            "score_micro",
            F.round(F.col("score_micro") / 1000000.0, 6).alias("score"),
            "rank",
        )
    )


def vocab_divergence(
    docs: DataFrame,
    group_col: str,
    text_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between groups' unigram
    distributions — the DISTRIBUTIONAL source-similarity matrix
    complementing qf3's verbatim-copy matrix: two scrapes can share
    zero near-dup pairs yet be the same kind of text (JS ~ 0), or share
    a template yet cover different domains. Curation reads this next to
    the dup matrix when picking mix weights; it is also the standard
    corpus-vs-corpus drift score (C4-vs-Wiki style comparisons).

    JS needs NO smoothing (unlike KL): with the 0*ln0 = 0 convention it
    is finite for disjoint support, so the engine computes it exactly
    over raw proportions:

        JS(a,b) = 0.5 * [ sum_shared(p*ln(p/m) + q*ln(q/m))
                          + (1 - Ca/na)*ln 2 + (1 - Cb/nb)*ln 2 ]

    where the sum runs over SHARED tokens only (m = (p+q)/2), and the
    correction terms fold every one-sided token's contribution
    (p*ln(p/(p/2)) = p*ln 2) through the integer shared-mass totals
    Ca, Cb — so the only per-token work is an inner join on the token
    key. Range [0, ln 2] nats; disjoint vocabularies emit exactly ln 2.

    Engine-exact protocol (the PSI discipline, stats.psi_drift): every
    per-token term is a double chain from exact integers, fixed-pointed
    to 1e-9 units and SUMMED AS BIGINT (aggregation-order-free); the
    corrections use integer sums Ca/Cb, so they are one double chain
    per pair. Replays bit-for-bit in DuckDB modulo sub-fixed-point ln()
    ulps (qf8 oracle).

    Scale shape: one tokenize+explode pass, one (group, token)
    aggregate (map-side combined), one token-keyed self-join of the
    per-group count table (vocabulary-sized, NOT corpus-sized — AQE
    broadcasts the smaller side while it fits), one |groups|^2
    aggregate. The all-pairs frame comes from the |groups|-row totals
    cross join, so disjoint pairs still emit.
    """
    from alaska_etl_spark.operators.dedup import word_tokens

    uni = docs.select(
        F.col(group_col).alias("_g"), F.explode(word_tokens(text_col)).alias("_w")
    )
    cnt = uni.groupBy("_g", "_w").agg(F.count(F.lit(1)).alias("_c"))
    return vocab_divergence_from_counts(cnt, round_digits=round_digits)


def vocab_divergence_from_counts(
    cnt: DataFrame, *, round_digits: int = 6
) -> DataFrame:
    """:func:`vocab_divergence` from a PRE-BUILT (_g, _w, _c) token
    count table — the entry point for callers whose distributions are
    already counted: a persisted reference vocabulary vs a new batch,
    two warehouse snapshots, etc. Same emit contract and fixed-point
    protocol as the document-level form (which delegates here)."""
    # NOT persisted (r12, measured): the plan prints cnt's tokenize
    # subtree once per consumer, but every copy sits above cnt's
    # aggregation Exchange, so runtime exchange reuse computes it once
    # — persisting cnt/tot here A/B'd SLOWER (cold med 1.20 → 1.32 s,
    # exec-run 0.5 → 10.8 s at sf0.1: pure cache-build barrier cost).
    tot = cnt.groupBy("_g").agg(F.sum("_c").alias("_n"))
    a = cnt.join(tot, "_g").select(
        F.col("_g").alias("_ga"), "_w", F.col("_c").alias("_ca"), F.col("_n").alias("_na")
    )
    b = cnt.join(tot, "_g").select(
        F.col("_g").alias("_gb"), "_w", F.col("_c").alias("_cb"), F.col("_n").alias("_nb")
    )
    p = F.col("_ca") / F.col("_na")
    q = F.col("_cb") / F.col("_nb")
    m = (p + q) / F.lit(2.0)
    term_nano = F.round(
        (p * F.log(p / m) + q * F.log(q / m)) * F.lit(1e9), 0
    ).cast("bigint")
    shared = (
        a.join(b, ["_w"])
        .filter(F.col("_ga") < F.col("_gb"))
        .groupBy("_ga", "_gb")
        .agg(
            F.count(F.lit(1)).alias("shared_vocab"),
            F.sum("_ca").alias("_Ca"),
            F.sum("_cb").alias("_Cb"),
            F.sum(term_nano).alias("_t_nano"),
        )
    )
    ta = tot.select(F.col("_g").alias("_ga"), F.col("_n").alias("_na"))
    tb = tot.select(F.col("_g").alias("_gb"), F.col("_n").alias("_nb"))
    frame = ta.join(tb, F.col("_ga") < F.col("_gb"))
    ln2 = 0.6931471805599453
    joined = frame.join(shared, ["_ga", "_gb"], "left").select(
        "_ga",
        "_gb",
        "_na",
        "_nb",
        F.coalesce(F.col("shared_vocab"), F.lit(0)).alias("shared_vocab"),
        F.coalesce(F.col("_Ca"), F.lit(0)).alias("_Ca"),
        F.coalesce(F.col("_Cb"), F.lit(0)).alias("_Cb"),
        F.coalesce(F.col("_t_nano"), F.lit(0)).alias("_t_nano"),
    )
    corr = (
        (F.lit(1.0) - F.col("_Ca") / F.col("_na"))
        + (F.lit(1.0) - F.col("_Cb") / F.col("_nb"))
    ) * F.lit(ln2)
    return joined.select(
        F.col("_ga").alias("group_a"),
        F.col("_gb").alias("group_b"),
        F.col("_na").alias("tokens_a"),
        F.col("_nb").alias("tokens_b"),
        "shared_vocab",
        F.round(
            F.lit(0.5) * (F.col("_t_nano") / F.lit(1e9) + corr), round_digits
        ).alias("js_nats"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_pair: int = 5,
    top_k: int = 50,
    scale: int = 10**8,
) -> DataFrame:
    """Top-``top_k`` adjacent-bigram collocations by pointwise mutual
    information — the corpus-statistics operator behind phrase mining
    and tokenizer-merge candidates.

    PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) with p(a,b) over adjacent
    bigrams and p(a) over unigrams. Exactness is the qg5/qf8 per-term
    ln discipline: every input to ln is an exact BIGINT count, the
    pinned-shape expression ``(((ln c_ab − ln N_bi) − ln c_a) −
    ln c_b) + 2·ln N_uni`` is evaluated once per DISTINCT surviving
    pair, and the 1e-8 rounding to ``pmi_units`` BIGINT absorbs
    last-ulp libm drift. ``min_pair`` prunes the noise floor (PMI is
    notoriously biased toward rare pairs) BEFORE the joins, so the
    scored frame is the heavy-collocation set, not the bigram tail.

    Scale shape: posexplode → per-doc ``lead`` window forms bigrams
    (the gram_rows codegen path, never an interpreted array HOF) →
    two vocabulary-sized hash aggregates (unigrams, bigrams) → two
    joins of the PRUNED pair frame against the unigram counts + one
    broadcast 1-row totals frame → global top-k as sort-limit.
    Returns ``(w1, w2, pair_count, pmi_units)``.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.operators.dedup import word_tokens

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(word_tokens(text_col)).alias("_pos", "_w"),
    ).filter(F.col("_w").isNotNull())
    # Totals derive from the two count tables instead of a third
    # tokenize pass (r12): Σuni._c is the token count and Σpair_count
    # over the unfiltered pair table is the bigram count (per doc,
    # #bigrams = #tokens − 1 — the same number the old _pos>0 count
    # read). The count tables themselves are NOT persisted: every
    # consumer sits above their aggregation Exchanges, so runtime
    # exchange reuse already computes each once (persisting A/B'd
    # slower — cold med 0.67 → 1.08 s at sf0.1, cache-build barrier).
    uni = toks.groupBy(F.col("_w")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    pairs_raw = toks.select(
        F.col("_w").alias("w1"), F.lead("_w", 1).over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    pairs_all = pairs_raw.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_count")
    )
    pairs = pairs_all.filter(F.col("pair_count") >= min_pair)
    totals = uni.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("_n_uni")
    ).crossJoin(
        pairs_all.agg(
            F.coalesce(F.sum("pair_count"), F.lit(0))
            .cast("bigint")
            .alias("_n_bi")
        )
    )
    ca = uni.select(F.col("_w").alias("w1"), F.col("_c").alias("_ca"))
    cb = uni.select(F.col("_w").alias("w2"), F.col("_c").alias("_cb"))
    scored = (
        pairs.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(
                F.lit(scale)
                * (
                    (
                        (F.log(F.col("pair_count")) - F.log(F.col("_n_bi")))
                        - F.log(F.col("_ca"))
                    )
                    - F.log(F.col("_cb"))
                    + F.lit(2.0) * F.log(F.col("_n_uni"))
                )
            )
            .cast("long")
            .alias("pmi_units"),
        )
    )
    return scored.orderBy(
        F.col("pmi_units").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


def bigram_lm_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_head_count: int = 20,
    k: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Bigram language model, trained and queried in-engine: for every
    head word frequent enough to condition on (``min_head_count``
    unigram occurrences), the top-``k`` most likely continuations with
    their exact conditional probability — the table a completion
    heuristic or a data-synthesis sanity check reads, and the
    conditional-probability sibling of PMI (:func:`pmi_collocations`
    scores association; this scores P(w₂|w₁)).

    Exact end-to-end: P(w₂|w₁) = pair_count / head_count is integer ÷
    integer through the shared div_half_up emit at 1e-6 (conditioning
    on head counts from the SAME unigram pass the bigrams came from —
    the final-position token of each doc conditions nothing but still
    counts as a unigram, standard corpus convention). Ranking is
    (prob_units DESC, continuation ASC) per head via one top-k window
    over the per-head candidate lists.

    Scale shape: the qh2 bigram path (posexplode + per-doc lead, all
    codegen) → one bigram aggregate + one unigram aggregate → the
    min_head prune BEFORE the join (only conditionable heads join) →
    per-head top-k window over the surviving pair frame. Returns
    ``(w1, w2, pair_count, head_count, prob_units, rank)``.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.dedup import word_tokens

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(word_tokens(text_col)).alias("_pos", "_w"),
    ).filter(F.col("_w").isNotNull())
    uni = (
        toks.groupBy(F.col("_w").alias("w1"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("head_count"))
        .filter(F.col("head_count") >= min_head_count)
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    pairs = (
        toks.select(F.col("_w").alias("w1"), F.lead("_w", 1).over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
    )
    scored = pairs.join(uni, "w1").select(
        "w1",
        "w2",
        "pair_count",
        "head_count",
        div_half_up("pair_count", "head_count", scale).alias("prob_units"),
    )
    rk = Window.partitionBy("w1").orderBy(
        F.col("prob_units").desc(), F.col("w2").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= k)
    )


def trigram_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
) -> DataFrame:
    """Substring search through a character-trigram index (the pg_trgm
    technique): candidate documents are those containing EVERY trigram
    of the pattern — a sound over-approximation (any true match
    contains all of them) — and a final ``contains`` verify makes the
    result EXACT. Same answer as the naive ``LIKE '%pattern%'`` scan;
    radically different cost shape at scale, because the gram match
    prunes with an equi-join instead of running a substring automaton
    over every byte of the corpus.

    Index shape (built inline here; persist ``(gram, id)`` as the
    standing index in a real deployment — it is append-only under
    corpus growth): char 3-grams via ``sequence`` + ``substring`` in
    pure codegen, pre-filtered to the pattern's grams BEFORE the
    aggregate, so the indexed frame that shuffles is (matched gram,
    doc) pairs — corpus bytes never move. A doc qualifies when its
    DISTINCT matched-gram count equals the pattern's distinct-gram
    count; the verify then re-checks the actual substring (grams can
    coincide without adjacency). Patterns shorter than 3 chars fall
    back to the plain scan (no trigrams to prune with).

    Returns ``(id_col,)`` of matching documents — identical to the
    brute scan by construction, which is exactly what the oracle
    checks.
    """
    pats = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    if not pats:
        return df.filter(F.contains(F.col(text_col), F.lit(pattern))).select(id_col)
    pat_arr = F.array(*[F.lit(g) for g in pats])
    # length < 3 can't hold a trigram (and can't contain the pattern);
    # the filter also keeps sequence() ascending — sequence(1, 0)
    # would generate a DESCENDING [1, 0] range, not an empty one
    grams = (
        df.filter(F.length(text_col) >= 3)
        .select(
            F.col(id_col),
            F.col(text_col).alias("_t"),
            F.explode(F.sequence(F.lit(1), F.length(text_col) - 2)).alias("_i"),
        )
        .select(id_col, F.substring(F.col("_t"), F.col("_i"), 3).alias("_g"))
    )
    cand = (
        grams.filter(F.array_contains(pat_arr, F.col("_g")))
        .groupBy(id_col)
        .agg(F.countDistinct("_g").alias("_ng"))
        .filter(F.col("_ng") == len(pats))
        .select(id_col)
    )
    verified = cand.join(df.select(id_col, text_col), id_col).filter(
        F.contains(F.col(text_col), F.lit(pattern))
    )
    return verified.select(id_col)


def column_entropy(
    df: DataFrame,
    cols: list[str],
    *,
    scale: int = 10**9,
) -> DataFrame:
    """Per-column Shannon entropy + distinct count over categorical
    columns — the information-content row of a data profile (q77 gives
    nulls/min/max; this says how much a column actually DISCRIMINATES:
    entropy ≈ 0 flags near-constant columns, entropy ≈ ln(n_distinct)
    flags uniform keys — both common data-quality smells).

    The qf8/PSI float discipline: each distinct value's term
    ``(c/n)·ln(n/c)`` is computed ONCE from exact integers, quantized
    to 1e-9 BIGINT units, and summed — aggregation-order-free,
    engine-replayable; NULLs count as a category (a column that is
    half NULL carries that as information). Unpivot is a ``stack``
    projection (codegen), so the input scans once for all columns.

    Scale shape: one (column, value) hash aggregate over the unpivoted
    frame (map-side combined; output is Σ per-column cardinalities),
    a broadcast of the per-column totals, one per-column sum. Returns
    ``(column_name, n_distinct, entropy_units)`` — nats at 1e-9,
    ordered by column name.
    """
    stack_expr = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in cols
    )
    long = df.select(
        F.expr(f"stack({len(cols)}, {stack_expr}) AS (column_name, _v)")
    )
    counts = long.groupBy("column_name", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    totals = counts.groupBy("column_name").agg(
        F.sum("_c").cast("bigint").alias("_n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    terms = counts.join(F.broadcast(totals), "column_name").select(
        "column_name",
        "n_distinct",
        F.round(
            F.lit(scale)
            * (F.col("_c") / F.col("_n"))
            * (F.log(F.col("_n")) - F.log(F.col("_c")))
        )
        .cast("long")
        .alias("_t"),
    )
    return (
        terms.groupBy("column_name", "n_distinct")
        .agg(F.sum("_t").cast("bigint").alias("entropy_units"))
        .orderBy("column_name")
    )


def vocab_growth(
    df: DataFrame, id_col: str, text_col: str, n_batches: int = 10
) -> DataFrame:
    """Heaps-law vocabulary growth curve: reading the corpus in id
    order, how many NEW token types does each successive batch of
    documents introduce? The curve's flattening is the standard
    diminishing-returns diagnostic for corpus curation — when
    vocab_cum stops growing, additional scraping of the same source
    mostly re-collects known language (Heaps '78; the reference —
    apsocarras/alaska-etl — has no corpus-growth analytics).

    Scale design: NO global window over documents. Batch assignment is
    ``least(n-1, id·n div (max_id+1))`` with the max taken from a
    1-row aggregate joined by broadcast — ids are assumed roughly
    dense (the loader's contract); skewed ids skew batch SIZES, never
    correctness of the first-occurrence logic. Token first occurrence
    is ``groupBy(token).agg(min(id))`` — one shuffle on the token,
    partial-aggregated map-side. The final cumulative window runs over
    ``n_batches`` rows only.

    Returns one row per batch: ``(batch, n_docs, docs_cum,
    batch_tokens, tokens_cum, new_types, vocab_cum)`` — all BIGINT.
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    maxid = df.agg(F.max(id_col).alias("_maxid"))
    based = df.select(F.col(id_col).alias("_id"), toks.alias("_tk")).join(
        F.broadcast(maxid)
    )
    batched = based.select(
        F.expr(
            f"least(cast({n_batches - 1} as bigint),"
            f" (_id * {n_batches}) div (_maxid + 1))"
        )
        .cast("bigint")
        .alias("batch"),
        F.col("_id"),
        F.col("_tk"),
    )
    per_batch = batched.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("_tk")).cast("bigint").alias("batch_tokens"),
    )
    first_seen = (
        batched.select("batch", F.explode("_tk").alias("_w"))
        .groupBy("_w")
        .agg(F.min("batch").alias("_fb"))
        .groupBy(F.col("_fb").alias("batch"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    w_cum = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_batch.join(first_seen, on="batch", how="left")
        .select(
            "batch",
            "n_docs",
            "batch_tokens",
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        .select(
            "batch",
            "n_docs",
            F.sum("n_docs").over(w_cum).cast("bigint").alias("docs_cum"),
            "batch_tokens",
            F.sum("batch_tokens").over(w_cum).cast("bigint").alias("tokens_cum"),
            "new_types",
            F.sum("new_types").over(w_cum).cast("bigint").alias("vocab_cum"),
        )
    )


def fd_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """Functional-dependency audit over every ordered column pair
    (Metanome-style profiling, Papenbrock et al. '15): does determinant
    A functionally determine dependent B — and if not, how badly is the
    FD violated? The schema-discovery primitive behind key detection,
    normalization advice, and dirty-data triage; extends the q77/qi2
    single-column profilers to RELATIONSHIPS between columns.

    Per pair: one (A, B) distinct-pair aggregate then one A-grain
    aggregate — both map-side combined; the d·(d−1) pairs are
    independent subtrees unioned into one result (Catalyst schedules
    them as parallel stages off shared scans). An FD holds iff every
    determinant group maps to exactly one dependent value; the audit
    reports the violating-group count, the violating-row mass, and the
    worst group's fan-out. All BIGINT.

    Returns per ordered pair: ``(determinant, dependent, n_groups,
    violating_groups, violating_rows, max_fanout, holds)``.
    """
    parts = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            # rows per (A,B) value pair, then per-A fan-out + row mass
            ab = df.groupBy(F.col(a).alias("_a"), F.col(b).alias("_b")).agg(
                F.count(F.lit(1)).cast("bigint").alias("_rows")
            )
            per_a = ab.groupBy("_a").agg(
                F.count(F.lit(1)).cast("bigint").alias("_fan"),
                F.sum("_rows").cast("bigint").alias("_mass"),
            )
            parts.append(
                per_a.agg(
                    F.lit(a).alias("determinant"),
                    F.lit(b).alias("dependent"),
                    F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                    F.sum(F.when(F.col("_fan") > 1, 1).otherwise(0))
                    .cast("bigint")
                    .alias("violating_groups"),
                    F.sum(F.when(F.col("_fan") > 1, F.col("_mass")).otherwise(0))
                    .cast("bigint")
                    .alias("violating_rows"),
                    F.max("_fan").cast("bigint").alias("max_fanout"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("holds", F.col("violating_groups") == 0)


def inclusion_audit(
    frames: "list[tuple[str, DataFrame, str]]",
) -> DataFrame:
    """Inclusion-dependency (candidate foreign-key) audit: for every
    ordered pair of key columns from different tables, what fraction
    of the left side's DISTINCT values exists on the right — the
    discovery sibling of qc6's referential-integrity report (that
    checks KNOWN keys; this surveys candidates, the step FK
    constraints come from — Bauckmann et al.'s SPIDER problem).

    ``frames`` is ``[(name, df, key_col), ...]``. Per pair: both sides
    reduce to distinct key sets first (one aggregate each, shared
    across all pairs touching the table via plain plan reuse), then a
    left-anti join counts the escapees — shuffle volume is distinct
    keys, never rows. Coverage is the engine's 4dp round-half-up
    basis-point emit.

    NULL convention: NULL keys are excluded from BOTH sides before the
    distinct — a NULL can't witness or violate an inclusion dependency
    (SQL FK semantics ignore NULLs), and the convention also makes the
    engine agree with a ``NOT IN``-style oracle by construction
    (``x NOT IN (...)`` is NULL for NULL x, silently dropping the row,
    while ``left_anti`` would have kept it — ADVICE r6).

    Returns per ordered pair: ``(from_table, from_col, to_table,
    to_col, n_distinct, n_missing, coverage_bp, holds)``.
    """
    from alaska_etl_spark.functions.fixedpoint import div_half_up

    # NOT persisted (r12, measured): each distinct set is REPLANNED at
    # every pair, but distinct() is an aggregate — every copy sits
    # above the same Exchange and runtime exchange reuse computes it
    # once (before/after exec-run 8.9 vs 40.3 s, cold med 2.42 vs
    # 3.43 s at sf0.1 — the persisted form paid a cache-build barrier
    # per table for work reuse was already sharing).
    distincts = [
        (
            name,
            df.select(F.col(col).alias("_k"))
            .filter(F.col(col).isNotNull())
            .distinct(),
            col,
        )
        for name, df, col in frames
    ]
    parts = []
    for ln, lf, lc in distincts:
        for rn, rf, rc in distincts:
            if ln == rn:
                continue
            missing = lf.join(rf, on="_k", how="left_anti")
            parts.append(
                lf.agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
                .crossJoin(
                    missing.agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_missing")
                    )
                )
                .select(
                    F.lit(ln).alias("from_table"),
                    F.lit(lc).alias("from_col"),
                    F.lit(rn).alias("to_table"),
                    F.lit(rc).alias("to_col"),
                    "n_distinct",
                    "n_missing",
                    div_half_up(
                        "n_distinct - n_missing", "n_distinct", 10000
                    ).alias("coverage_bp"),
                    (F.col("n_missing") == 0).alias("holds"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ngram_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    max_n: int = 3,
    bp_scale: int = 10**4,
) -> DataFrame:
    """Distinct-n corpus diversity report: per group and n-gram order,
    total grams, distinct grams, and the distinct ratio in 4dp basis
    points — distinct-1 is the type-token ratio, distinct-2/3 are the
    self-repetition diversity metrics generation and dataset-curation
    papers report (a source whose trigram diversity collapses is
    boilerplate- or template-heavy even when unigram diversity looks
    fine; the per-source companion to q23's within-document repetition
    signals).

    One scan and ONE window pass serve every n: tokens explode once,
    ``lead(j)`` over the shared (doc, pos) sort supplies the j-ahead
    token, and n-grams for all orders are projections over the same
    frame (the gram_rows trick, string-grain) — documents shorter than
    ``n`` contribute no n-grams (no short-doc fold: diversity over
    padded pseudo-grams would skew small sources). Distinct counting is
    a two-level aggregate: (group, n, gram) partial-combines map-side,
    then collapses to per-(group, n) totals; shuffle volume is the
    distinct gram vocabulary, Heaps-sublinear in corpus bytes.
    """
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.dedup import word_tokens

    toks = word_tokens(text_col)
    # doc id must bind BEFORE the generator: monotonically_increasing_id
    # is non-deterministic and, placed in the same select as a
    # posexplode, evaluates per OUTPUT row — every token would get its
    # own "document" and every lead() would be NULL.
    docs = df.select(
        F.col(group_col).alias("_grp"),
        F.monotonically_increasing_id().alias("_doc"),
        toks.alias("_tk"),
    )
    ex = (
        docs.select(
            "_grp", "_doc", F.posexplode_outer("_tk").alias("_pos", "_t")
        )
        .filter(F.col("_t").isNotNull())
    )
    w = Window.partitionBy("_doc").orderBy("_pos")
    cols = {"_l0": F.col("_t")}
    for j in range(1, max_n):
        cols[f"_l{j}"] = F.lead("_t", j).over(w)
    ex = ex.select("_grp", *[c.alias(nm) for nm, c in cols.items()])
    gram_exprs = []
    for n in range(1, max_n + 1):
        parts = [F.col(f"_l{j}") for j in range(n)]
        g = F.when(
            parts[-1].isNotNull(), F.concat_ws(" ", *parts)
        ).otherwise(F.lit(None))
        gram_exprs.append((n, g))
    stack = F.explode(
        F.array(
            *[
                F.struct(F.lit(n).cast("bigint").alias("_n"), g.alias("_g"))
                for n, g in gram_exprs
            ]
        )
    ).alias("_e")
    long = (
        ex.select("_grp", stack)
        .select("_grp", "_e._n", "_e._g")
        .filter(F.col("_g").isNotNull())
    )
    per_gram = long.groupBy("_grp", "_n", "_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    return (
        per_gram.groupBy("_grp", "_n")
        .agg(
            F.sum("_c").cast("bigint").alias("total_grams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_grams"),
        )
        .select(
            F.col("_grp").alias(group_col),
            F.col("_n").alias("n"),
            "total_grams",
            "distinct_grams",
            div_half_up(f"{bp_scale} * distinct_grams", "total_grams").alias(
                "distinct_bp"
            ),
        )
        .orderBy(group_col, "n")
    )


def zipf_slope(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    scale: int = 10**9,
) -> DataFrame:
    """Zipf rank-frequency fit per group: OLS slope and intercept of
    ln(freq) on ln(rank) over the group's token frequency table — the
    log-log slope near −1 is the natural-language signature; sources
    that flatten (slope ≫ −1) are vocabulary-uniform (ids, logs,
    boilerplate), sources that steepen are template-dominated. The
    rank-side companion to qi9's Heaps-law growth curve, and a
    dataset-card staple.

    Engine-exact by the quantized-term discipline (qi2/qf8): every
    per-token term — ln r, ln f, ln r·ln f, ln r·ln r — is computed
    once, rounded to 1e-9 BIGINT units, and summed order-free; the
    closed-form OLS slope/intercept are then ONE identically-
    parenthesized float expression over those exact sums, so a SQL
    replay hash-matches bit-for-bit. Ranks are deterministic:
    row_number over (count DESC, token ASC).

    Scale shape: one token aggregate (map-side combined, output is the
    per-group vocabulary), one window over the REDUCED frequency frame
    (rank runs over types, not tokens), one final aggregate to a row
    per group."""
    from pyspark.sql import Window

    from alaska_etl_spark.operators.dedup import word_tokens

    tok = df.select(
        F.col(group_col).alias("_grp"),
        F.explode(word_tokens(text_col)).alias("_t"),
    )
    freq = tok.groupBy("_grp", "_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_f")
    )
    w = Window.partitionBy("_grp").orderBy(F.col("_f").desc(), F.col("_t"))
    ranked = freq.select(
        "_grp", "_f", F.row_number().over(w).cast("bigint").alias("_r")
    )
    lr = F.log(F.col("_r"))
    lf = F.log(F.col("_f"))
    q = lambda e: F.round(F.lit(scale) * e).cast("long")  # noqa: E731
    terms = ranked.select(
        "_grp",
        q(lr).alias("_x"),
        q(lf).alias("_y"),
        q(lr * lf).alias("_xy"),
        q(lr * lr).alias("_xx"),
    )
    sums = terms.groupBy("_grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum("_xy").alias("_sxy"),
        F.sum("_xx").alias("_sxx"),
    )
    n = F.col("n_types").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sc = F.lit(float(scale))
    # slope = (n·Σxy − Σx·Σy/scale) / (n·Σxx − Σx²/scale): every input
    # is an exact BIGINT, the expression is written identically in the
    # SQL twin, and *, −, / are correctly rounded — hash-exact.
    denom = n * sxx - sx * sx / sc
    slope = (n * sxy - sx * sy / sc) / denom
    intercept = (sy - slope * sx) / (n * sc)
    # a degenerate group (one type: zero x-variance) emits NULLs rather
    # than engine-dependent inf/NaN encodings
    return sums.select(
        F.col("_grp").alias(group_col),
        "n_types",
        F.when(denom != 0.0, slope).alias("slope"),
        F.when(denom != 0.0, intercept).alias("intercept"),
    ).orderBy(group_col)


def boilerplate_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    *,
    n: int = 3,
    min_share_bp: int = 5000,
) -> DataFrame:
    """Boilerplate stop-gram audit per source: an n-gram that appears
    in ≥ ``min_share_bp``/10⁴ of a source's documents is template
    text (headers, footers, navigation, license banners), not content
    — the CCNet/RefinedWeb-style signal that a crawl source needs
    boilerplate stripping before its token counts mean anything, and
    the per-source complement of the corpus-wide repetition signals
    (X26): repetition finds bad DOCUMENTS, this finds bad SOURCES.

    One shingle pass (``dedup.shingles`` — distinct per doc, so gram
    document-frequency is exact), one (source, gram) aggregate, one
    per-source reduction:

    - ``n_docs`` / ``vocab_size`` — source size and distinct grams;
    - ``boiler_grams`` — grams with df·10⁴ ≥ min_share_bp·n_docs
      (integer cross-multiplication, no division, no float);
    - ``boiler_posting_bp`` — the share of the source's POSTING mass
      (Σdf) owned by boilerplate grams, round-half-up basis points:
      the fraction of index/shingle work that is template noise;
    - ``top_gram`` / ``top_gram_df`` — the most document-frequent gram
      (ties broken lexicographically — deterministic and
      oracle-replayable).

    Scale shape: ONE scan, ONE action, NO persist and NO per-source
    vocab sort (r10, VERDICT r9 #3 — the previous shape paid a
    cache-barrier job plus broadcast-build jobs per run; the ~1 s warm
    floor was job orchestration, not compute). The chain: each doc's
    shingle array gets a ``\\x00docs`` SENTINEL gram appended, so the
    same (source, gram) aggregate that counts gram document-frequency
    counts each source's documents (the sentinel's df IS n_docs); the
    vocab-grain frame then collapses to the per-(source, df-value)
    DISTRIBUTION — gram count, posting mass, min gram, sentinel flag
    per df level — which is df-domain-sized (hundreds of rows), so
    n_docs and max df ride a free window over THAT tiny frame and the
    threshold cut + top-gram pick (``min(gram) where df = max df``,
    the same (df desc, gram asc) total order a ranked window would
    encode) happen at distribution grain. Two shuffles total, both
    behind map-side partial aggregation. The NUL byte cannot appear in
    a whitespace token unless the raw text contains NUL itself —
    outside this operator's text domain. One row per source."""
    from pyspark.sql import Window

    from alaska_etl_spark.functions.fixedpoint import div_half_up
    from alaska_etl_spark.operators.dedup import shingles
    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    sent = "\x00docs"
    # cheap row-identical pre-filter ("has a non-whitespace char" ⟺
    # shingles non-empty) + posexplode_outer: a plain explode makes
    # InferFiltersFromGenerate synthesize size()>0 and push it below the
    # parallelizing exchange, re-tokenizing the corpus inside the single
    # scan task (the q07 trap, operators/simjoin.py:766).
    tok = (
        ensure_min_parallelism(  # single-split local files
            df.select(F.col(source_col).alias("_src"), F.col(text_col), F.col(id_col)),
            id_col,
        )
        .filter(F.col(text_col).rlike(r"\S"))
        .select("_src", F.concat(shingles(text_col, n), F.array(F.lit(sent))).alias("_gs"))
        .select("_src", F.explode_outer("_gs").alias("_g"))
    )
    gram = tok.groupBy("_src", "_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    # df-value distribution per source: the frame every remaining
    # statistic needs, at df-domain (not vocab) grain
    dist = gram.groupBy("_src", "_df").agg(
        F.count(F.when(F.col("_g") != sent, F.lit(1)))
        .cast("bigint")
        .alias("_cnt"),
        F.min(F.when(F.col("_g") != sent, F.col("_g"))).alias("_min_g"),
        F.max(F.when(F.col("_g") == sent, 1).otherwise(0)).alias("_has_sent"),
    )
    wsrc = Window.partitionBy("_src")
    d = dist.withColumn(
        "_n_docs", F.max(F.when(F.col("_has_sent") == 1, F.col("_df"))).over(wsrc)
    ).withColumn(
        "_maxdf", F.max(F.when(F.col("_cnt") > 0, F.col("_df"))).over(wsrc)
    )
    boiler = F.col("_df") * F.lit(10**4) >= F.lit(min_share_bp) * F.col("_n_docs")
    out = d.groupBy("_src", "_n_docs", "_maxdf").agg(
        F.sum("_cnt").cast("bigint").alias("vocab_size"),
        F.sum(F.when(boiler, F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("boiler_grams"),
        F.sum(F.col("_df") * F.col("_cnt")).cast("bigint").alias("_postings"),
        F.sum(F.when(boiler, F.col("_df") * F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("_boiler_postings"),
        F.max(F.when(F.col("_df") == F.col("_maxdf"), F.col("_min_g"))).alias(
            "top_gram"
        ),
    )
    return out.select(
        F.col("_src").alias("source"),
        F.col("_n_docs").alias("n_docs"),
        "vocab_size",
        "boiler_grams",
        div_half_up("10000 * _boiler_postings", "nullif(_postings, 0)").alias(
            "boiler_posting_bp"
        ),
        "top_gram",
        F.col("_maxdf").alias("top_gram_df"),
    ).orderBy("source")
