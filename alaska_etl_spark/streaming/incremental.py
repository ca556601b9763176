"""Structured Streaming form of the reference's incremental paths
(SURVEY §2.11): the hand-rolled watermark/polling machinery becomes the
engine's built-ins.

| Reference mechanism (batch-polled)          | Here                          |
|---------------------------------------------|-------------------------------|
| watermark = max(date_added_utc) read back   | checkpointed source offsets   |
|   from the sink (uscrn_dag.py:96-112)       |                               |
| new-file discovery vs Last modified         | file stream source            |
|   (uscrn_dag.py:115-131)                    |                               |
| reverse scan until event-time cutoff        | withWatermark("utc_datetime") |
|   (uscrn_wind_dag.py:152-160)               |                               |
| 5-min → hourly mean (uscrn_wind:184-189)    | 1h tumbling window aggregate  |
| cron trigger (3_gcf_export cell-7)          | trigger(availableNow=True)    |

The parse functions are the SAME ones the batch path uses
(sources.uscrn / sources.wind) — a streaming DataFrame flows through
them unchanged, which is the point of building on lazy plans: batch and
streaming share one transformation codebase.

Scale: the file source lists incrementally (no re-listing of processed
files thanks to the checkpoint log); the windowed aggregate keeps one
(station, hour) state row per open window, bounded by the watermark
delay; shuffle partitioning follows spark.sql.shuffle.partitions and
state is RocksDB-able via config without code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alaska_etl_spark.cache import tracked_persist
from alaska_etl_spark.functions.localrel import local_df
from alaska_etl_spark.plans.warehouse import apply_changelog, data_bytes, fs_and_path, swap_in
from alaska_etl_spark.sources.uscrn import parse_uscrn_lines
from alaska_etl_spark.sources.wind import parse_wind_lines


def stream_uscrn(
    spark: SparkSession,
    path: str,
    locations: DataFrame,
    **parse_kwargs,
) -> DataFrame:
    """Streaming variant of sources.uscrn.read_uscrn: a file-source
    stream of raw hourly lines → typed rows. Dedup is disabled in-stream
    (a global dropDuplicates would hold unbounded state); cross-batch
    idempotence belongs to the sink protocol (Warehouse hash anti-join
    in foreachBatch), matching the reference's dedup-at-load placement.
    """
    lines = spark.readStream.format("text").load(path)
    return parse_uscrn_lines(lines, locations, dedup=False, **parse_kwargs)


def stream_wind_readings(spark: SparkSession, path: str, locations: DataFrame) -> DataFrame:
    lines = spark.readStream.format("text").load(path)
    return parse_wind_lines(lines, locations)


def stream_hourly_wind(
    readings: DataFrame,
    *,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """5-min readings stream → hourly mean per station (the reference's
    uscrn_wind aggregate as a tumbling window).

    ``withWatermark`` on event time is the principled version of the
    reference's reverse-scan-until-cutoff: readings later than
    ``watermark_delay`` behind the max seen event time are dropped and
    every window closes exactly once (append mode). Bad rows are
    excluded before aggregation (P6), same as the batch path.
    """
    good = readings.filter(~F.col("bad_row"))
    # Event-time watermarks require TIMESTAMP (not NTZ). utc_datetime is
    # UTC wall clock and the engine session pins spark.sql.session.timeZone
    # to UTC, so the round-trip cast is lossless; the output goes back to
    # NTZ to match the batch table schema.
    good = good.withColumn("_evt", F.col("utc_datetime").cast("timestamp"))
    win = (
        good.withWatermark("_evt", watermark_delay)
        .groupBy(
            F.window("_evt", "1 hour").alias("_w"),
            "station_location",
            "wbanno",
        )
        .agg(F.round(F.avg("wind_1_5"), 3).alias("wind_hr_avg"))
    )
    return win.select(
        "station_location",
        "wbanno",
        F.col("_w.start").cast("timestamp_ntz").alias("utc_datetime"),
        "wind_hr_avg",
    )


def stream_dedup_keyed(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming A5: keep the first arrival per key, with state bounded
    by the event-time watermark (``dropDuplicatesWithinWatermark`` —
    duplicates arriving within the delay are dropped; state for keys
    older than the watermark is evicted, so this runs forever at 100 TB
    where an unbounded dropDuplicates would OOM). Cross-batch dedup
    beyond the watermark horizon is the sink protocol's hash anti-join,
    same as batch."""
    evt = events.withColumn("_evt", F.col(ts_col).cast("timestamp"))
    return (
        evt.withWatermark("_evt", watermark_delay)
        .dropDuplicatesWithinWatermark(key_cols)
        .drop("_evt")
    )


def stream_sessionize(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization via ``F.session_window`` — the
    incremental twin of ``operators.sessions.session_stats``: for every
    closed session, (keys, session_start, session_end, n_events,
    duration_s). State is one row per OPEN session per key, bounded by
    the watermark; a session closes (and emits exactly once, append
    mode) when event time passes its end + gap + delay."""
    evt = events.withColumn("_evt", F.col(ts_col).cast("timestamp"))
    agg = (
        evt.withWatermark("_evt", watermark_delay)
        .groupBy(F.session_window("_evt", gap).alias("_w"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return agg.select(
        *key_cols,
        F.col("_w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("_w.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        (F.col("_w.end").cast("long") - F.col("_w.start").cast("long")).alias("window_s"),
    )


def stream_running_stats(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    ttl: str | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    cumulative (count, sum, last event time) maintained ACROSS batches —
    the stateful-rollup shape none of the built-in windowed aggregates
    express (they bound state by window; this keeps one running row per
    key for the key's lifetime).

    Each micro-batch emits one row per active key with the cumulative
    values as of that batch (``is_final=false``); with ``ttl`` set, a
    key idle longer than the TTL (processing time) is evicted and emits
    a terminal ``is_final=true`` row, so state stays bounded on
    unbounded key domains — the 100 TB requirement. State lives in the
    checkpointed state store (RocksDB-able via
    ``spark.sql.streaming.stateStore.providerClass`` with no code
    change), partitioned by key hash across executors; batches arrive
    as Arrow-backed pandas frames, so per-row Python cost is amortized.

    The reference's analog is the watermark bookkeeping it rebuilds per
    run from the sink (uscrn_dag.py:96-112) — here the engine owns it.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Key columns keep their INPUT types (an int/timestamp key
    # hardcoded as string would surface mis-typed — ADVICE r6);
    # applyInPandasWithState passes group keys through untouched, so
    # the passthrough type is always correct.
    key_fields = ", ".join(
        f"{k} {events.schema[k].dataType.simpleString()}" for k in key_cols
    )
    out_schema = (
        f"{key_fields}, n_events bigint, total double, "
        "last_event_us bigint, is_final boolean"
    )
    state_schema = "n bigint, total double, last_us bigint"

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, total, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                [[*key, n, total, last_us, True]],
                columns=[*key_cols, "n_events", "total", "last_event_us", "is_final"],
            )
            return
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            batch_max = pdf[ts_col].max()
            if pd.notna(batch_max):
                last_us = max(last_us, int(batch_max.value // 1_000))
        state.update((n, total, last_us))
        if ttl is not None:
            state.setTimeoutDuration(ttl)
        yield pd.DataFrame(
            [[*key, n, total, last_us, False]],
            columns=[*key_cols, "n_events", "total", "last_event_us", "is_final"],
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: list[str],
    left_ts: str,
    right_ts: str,
    watermark_delay: str = "1 hour",
    tolerance: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — the streaming twin of
    the forecast ⋈ actual comparison (J5): while both sides flow, a left
    row pairs with right rows that share the equality keys and whose
    event time falls in ``[left_ts - tolerance, left_ts + tolerance]``.

    The time-range predicate plus BOTH-side watermarks are what make
    this runnable forever: each side's join state buffers only rows
    younger than ``watermark + tolerance`` — Spark derives the state
    eviction bound from the interval condition — so state is
    O(arrival-rate × horizon), independent of stream length. Without the
    range bound a stream-stream join must buffer everything (unbounded
    state, the streaming analogue of a cross join). Outer variants emit
    the unmatched row exactly once, when its match window expires.

    Applied on batch DataFrames the same plan degrades gracefully
    (``withWatermark`` is a no-op in batch), which is what the
    stream-vs-batch equivalence test pins.
    """
    from functools import reduce

    r = right
    for k in on:
        r = r.withColumnRenamed(k, f"_r_{k}")
    lw = (
        left.withColumn("_lts", F.col(left_ts).cast("timestamp"))
        .withWatermark("_lts", watermark_delay)
    )
    rw = (
        r.withColumn("_rts", F.col(right_ts).cast("timestamp"))
        .withWatermark("_rts", watermark_delay)
    )
    tol = F.expr(f"INTERVAL {tolerance}")
    conds = [F.col(k) == F.col(f"_r_{k}") for k in on] + [
        F.col("_rts") >= F.col("_lts") - tol,
        F.col("_rts") <= F.col("_lts") + tol,
    ]
    joined = lw.join(rw, reduce(lambda a, b: a & b, conds), how)
    return joined.drop("_lts", "_rts", *[f"_r_{k}" for k in on])


def _drain(writer, checkpoint: str) -> None:
    """One cron tick: start ``writer`` under ``checkpoint`` with
    ``trigger(availableNow)``, which processes everything available now
    in micro-batches and stops, and block until it has. The next call
    resumes from the checkpointed offsets. Every query this module
    starts runs through here."""
    (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_to_warehouse(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    key_cols: list[str],
    partition_col: str | None = None,
) -> None:
    """Streaming form of the K2→K4 load protocol: every micro-batch runs
    the SAME staging-overwrite + hash-anti-join append the batch path
    uses (``Warehouse.load``), via ``foreachBatch``.

    End-to-end exactly-once without transactional sinks: the source is
    at-least-once (checkpointed offsets; a batch may replay after a
    crash between sink write and commit), and the sink is idempotent
    (content-hash anti-join drops every already-landed row), so replays
    are no-ops. This is the principled version of the reference's
    tolerated double-load bug (nws_dag.py:175+187 loads staging twice;
    SURVEY §2.11) — here a double delivery cannot double-insert.

    The anti-join only drops rows already IN main, so duplicate-key rows
    arriving within one micro-batch must be collapsed first —
    ``dropDuplicates(key_cols)`` inside the sink closes that gap (the
    batch path reaches the same invariant via its upstream
    dedup_keep_first).
    """

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        warehouse.load(
            batch_df.dropDuplicates(key_cols),
            table,
            key_cols=key_cols,
            partition_col=partition_col,
        )

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_to_rollup(
    stream_df: DataFrame,
    rollup_path: str,
    checkpoint: str,
    *,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
) -> None:
    """Streaming continuous-aggregate maintenance: every micro-batch is
    folded into the persisted partial-aggregate rollup
    (plans/rollup.refresh_rollup) via ``foreachBatch`` — the
    Structured-Streaming form of the hypertable rollup.

    Late data needs no watermark here because the rollup stores
    MERGEABLE partials, not finalized results: an arbitrarily late row
    simply reopens its (hour, key) bucket and the affected day
    partition is rewritten. The trade is replay semantics: refresh is
    additive, NOT idempotent per row, so a replayed batch would
    double-count — the checkpoint's exactly-once batch tracking is the
    guard (vs. the warehouse sink, which is idempotent by content hash
    and tolerates replays; SCALE.md discusses the pairing)."""
    from alaska_etl_spark.plans.rollup import refresh_rollup

    spark = stream_df.sparkSession

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        refresh_rollup(
            spark, batch_df, rollup_path,
            key_cols=key_cols, ts_col=ts_col, val_col=val_col,
        )

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def run_available_now(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    output_mode: str = "append",
) -> None:
    """Drain everything currently available and stop — the streaming
    equivalent of the reference's cron-triggered batch run
    (trigger(availableNow): incremental listing + checkpointed offsets,
    so the next invocation resumes where this one stopped)."""
    _drain(
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .outputMode(output_mode),
        checkpoint,
    )


def stream_documents_gate(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    max_dup_token_ratio: float = 0.6,
) -> None:
    """Streaming document ingest through the quality gate
    (``operators.gate.gate_documents``): every micro-batch is scored,
    repetition-screened, PII-scrubbed, fingerprinted, then landed via
    the idempotent warehouse append KEYED ON THE CONTENT FINGERPRINT —
    so exact duplicates are dropped across batches, restarts, and
    replays without any in-stream state (a streaming dropDuplicates
    would hold every fingerprint ever seen in the state store; the
    warehouse main table already IS that set, so the sink's hash
    anti-join does it with zero streaming state — the same
    at-least-once-source + idempotent-sink contract as
    :func:`stream_to_warehouse`).

    Within-batch duplicate fingerprints collapse deterministically to
    the smallest document id (dedup-keep-first, not dropDuplicates'
    arrival-order roulette)."""
    from pyspark.sql import Window

    from alaska_etl_spark.operators.gate import gate_documents

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        gated = gate_documents(
            batch_df,
            id_col,
            text_col,
            min_quality=min_quality,
            max_dup_token_ratio=max_dup_token_ratio,
        )
        w = Window.partitionBy("fingerprint").orderBy(id_col)
        first = (
            gated.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        warehouse.load(first, table, key_cols=["fingerprint"])

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def _bloom_init(spark, warehouse, table, bloom_path, capacity, fpp, key_col) -> dict:
    """Driver-side filter state for a stream run, loaded ONCE and then
    kept in the foreachBatch closure across batches (re-reading a
    10⁷-key filter per batch is MBs of IO per batch — the r12 measured
    term). Sources, in order: the base+delta sidecar; else a rebuild
    from the landed keys (the one full scan that restores the superset
    — recovery and enable-on-existing); else an empty filter sized for
    ``capacity``. The base is materialized on first init so later
    delta appends have an anchor."""
    import numpy as np

    from alaska_etl_spark.operators.pruning import (
        bloom_params,
        bloom_sidecar_load,
        bloom_sidecar_write,
        build_bloom,
    )

    got = bloom_sidecar_load(spark, bloom_path)
    if got is not None:
        packed, m_bits, n_hashes, n_delta = got
        return {"packed": packed, "m": m_bits, "k": n_hashes, "n_delta": n_delta}
    m_bits, n_hashes = bloom_params(capacity, fpp)
    if warehouse.probe_exists(table):
        packed = build_bloom(
            warehouse.read(table).select(key_col),
            key_col,
            m_bits=m_bits,
            n_hashes=n_hashes,
        )
    else:
        packed = np.packbits(np.zeros(m_bits, dtype=bool))
    bloom_sidecar_write(spark, f"{bloom_path}/base", packed, m_bits, n_hashes)
    return {"packed": packed, "m": m_bits, "k": n_hashes, "n_delta": 0}


def _bloom_commit(spark, bloom_path, keys_df, state: dict) -> None:
    """Append the batch keys' bit positions to the DELTA log — called
    BEFORE any row lands, so the on-disk filter stays a SUPERSET of
    the landed keys across every crash point — update the in-memory
    filter, and compact base+delta when the log is due. Per-batch disk
    cost is O(|batch|) positions, never O(filter) bytes."""
    from alaska_etl_spark.operators.pruning import (
        BLOOM_COMPACT_POSITIONS,
        bloom_delta_append,
        bloom_or_positions,
        bloom_positions_pdf,
        bloom_sidecar_compact,
    )

    pos = bloom_positions_pdf(
        keys_df.select("canonical_url"), "canonical_url",
        m_bits=state["m"], n_hashes=state["k"],
    )
    state["packed"] = bloom_or_positions(state["packed"], pos)
    bloom_delta_append(spark, bloom_path, pos)
    state["n_delta"] += len(pos)
    if state["n_delta"] > BLOOM_COMPACT_POSITIONS:
        bloom_sidecar_compact(
            spark, bloom_path, state["packed"], state["m"], state["k"]
        )
        state["n_delta"] = 0


def stream_url_frontier(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    rules: "DataFrame | None" = None,
    rejects_table: "str | None" = None,
    robots_rules: "DataFrame | None" = None,
    bloom_path: "str | None" = None,
    bloom_capacity: int = 1_000_000,
    bloom_fpp: float = 1e-6,
) -> None:
    """Streaming crawl-FRONTIER gate (r10, the URL family's streaming
    form): every micro-batch's URLs are canonicalized
    (``operators.urls.canonical_url`` — case, default ports, tracking
    params, query order, fragments all collapse), optionally
    blocklist-filtered (``rules`` = (rule, domain), the suffix-chain
    equi-join), optionally robots-gated (``robots_rules`` =
    :func:`~alaska_etl_spark.operators.urls.parse_robots` output for
    the crawler's product token — RFC 9309 longest-prefix verdicts,
    r11/X181's streaming composition), collapsed within-batch to the
    smallest id per canonical URL, then landed via the idempotent
    warehouse append KEYED ON THE CANONICAL URL — so a re-crawl of the
    same resource through an ad link, a different case, or a
    ``#fragment`` is admitted exactly once across batches, restarts,
    and replays with ZERO streaming state (the main table already is
    the seen-set; the sink's hash anti-join does the dedup — the
    :func:`stream_documents_gate` contract, address-side).

    Rows whose URL does not canonicalize (no scheme) are routed to
    ``rejects_table`` (idempotent on the row id) rather than dropped
    silently — the bad-row discipline of ``sources/wind.py``.
    Robots-DISALLOWED rows are dropped, not rejected: they are
    well-formed URLs the crawler must simply not fetch now — a later
    robots change can legitimately re-propose them, and the frontier
    admits only what is fetchable TODAY (per-URL deny audits are
    :func:`robots_check`'s batch job).

    ``bloom_path`` (r12, VERDICT r11 Missing #2) enables the
    incremental seen-set Bloom sidecar (operators/pruning.py module
    comment for the full invariant): each batch splits into
    definitely-new rows — bloom-negative, landed via the
    ``assume_new`` fast append with ZERO reads of the seen-set — and
    maybe-seen rows (re-crawls + fpp·|batch| false positives), which
    alone pay the exact hash anti-join. The sidecar is written BEFORE
    the rows (superset invariant → crash-replay-safe), sized once from
    ``bloom_capacity``/``bloom_fpp`` and rebuilt from the landed keys
    when missing. In the steady state of a crawl discovering new URLs
    the per-batch cost stops growing with the landed row count — the
    last row-grain per-batch term of the zero-state design
    (tools/frontier_envelope.py measures it)."""
    from alaska_etl_spark.operators.urls import (
        blocklist_filter,
        canonical_url,
        robots_check,
    )

    bloom_state: dict = {}  # driver-cached filter, one load per stream run

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import Window

        tagged = batch_df.withColumn("canonical_url", canonical_url(url_col))
        bad = tagged.filter(F.col("canonical_url").isNull()).drop("canonical_url")
        good = tagged.filter(F.col("canonical_url").isNotNull())
        if rules is not None:
            good = blocklist_filter(good, id_col, url_col, rules)
        if robots_rules is not None:
            allowed = robots_check(good, id_col, url_col, robots_rules).filter(
                F.col("allowed")
            )
            good = good.join(
                allowed.select(F.col(id_col).alias("_ok")),
                good[id_col] == F.col("_ok"),
                "left_semi",
            )
        w = Window.partitionBy("canonical_url").orderBy(id_col)
        first = (
            good.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # store the key digest: a frontier sink appends forever, and the
        # idempotent anti-join must not re-hash the whole seen-set per
        # batch (SCALE.md "Frontier per-batch scan cost")
        if bloom_path is None:
            warehouse.load(
                first, table, key_cols=["canonical_url"], store_row_hash=True
            )
        else:
            from alaska_etl_spark.operators.pruning import bloom_split

            spark = batch_df.sparkSession
            if "packed" not in bloom_state:  # once per stream run
                bloom_state.update(
                    _bloom_init(
                        spark, warehouse, table, bloom_path,
                        bloom_capacity, bloom_fpp, "canonical_url",
                    )
                )
            first = tracked_persist(first)
            maybe, new = bloom_split(
                first, bloom_state["packed"], "canonical_url",
                m_bits=bloom_state["m"], n_hashes=bloom_state["k"],
            )
            # maybe is consumed twice (emptiness probe + load) — persist
            # so the membership UDF runs once over the cached batch
            maybe = tracked_persist(maybe)
            # delta BEFORE rows: the on-disk filter must stay a superset
            # of the landed keys across any crash point
            _bloom_commit(spark, bloom_path, first, bloom_state)
            # maybe lane: exact keyed append (the normal anti-join);
            # new lane: provably-unlanded fast append, zero seen reads
            if not maybe.isEmpty():
                warehouse.load(
                    maybe, table, key_cols=["canonical_url"], store_row_hash=True
                )
            warehouse.load(
                new, table, key_cols=["canonical_url"],
                store_row_hash=True, assume_new=True,
            )
            maybe.unpersist()
            first.unpersist()
        if rejects_table is not None:
            warehouse.load(bad, rejects_table, key_cols=[id_col], store_row_hash=True)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_domain_quota(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    max_per_domain: int,
    id_col: str = "doc_id",
    url_col: str = "url",
    ledger_table: "str | None" = None,
    bloom_path: "str | None" = None,
    bloom_capacity: int = 1_000_000,
    bloom_fpp: float = 1e-6,
) -> None:
    """Streaming per-domain admission quota on the crawl frontier
    (r10, the batch X170 quota's streaming form): every micro-batch is
    canonicalized and deduplicated like :func:`stream_url_frontier`,
    then each registrable domain admits only up to ``max_per_domain``
    pages TOTAL across the stream's life — the politeness/budget cap
    enforced at ingest, not in a later compaction.

    State discipline, default form: the warehouse main table IS the
    per-domain ledger (one count aggregate over already-landed rows
    per batch — domain-grain output, but a ROW-GRAIN scan of the main
    table every batch), so there is no streaming state store to grow
    or to drift from the data; a replayed batch re-admits the same
    rows idempotently (canonical-URL keyed append) and the headroom
    arithmetic sees them already landed. Within a batch, headroom is
    filled deterministically by the exact hash-ordered quota sampler's
    total order (smallest id first after canonical dedup — replay
    gives the same admitted set, any partitioning).

    ``ledger_table`` (r11, the R12 IVM stance applied to the frontier):
    at frontier scale the per-batch headroom aggregate re-scans the
    whole landed table — a 10⁹-row frontier pays a full scan per
    micro-batch. With a ledger table the used counts are maintained
    INCREMENTALLY: each batch appends one (domain, _batch_id,
    n_admitted) row per admitting domain, keyed on (domain,
    _batch_id) through the same hash-anti-join idempotent append (a
    replayed batch cannot double-count), and headroom reads the
    LEDGER's sum — domain×batch grain, thousands of rows where the
    main table has billions. Write ordering is ledger FIRST, rows
    second: a crash between the two writes leaves the ledger
    OVERcounting by one batch, which is the safe side for a cap (the
    quota invariant is never violated; the lost headroom is one
    batch's worth, and the admitted rows of the interrupted batch were
    never landed so a replay re-admits within what headroom remains).

    ``bloom_path`` (r12, VERDICT r11 Missing #2) closes the last
    row-grain per-batch term, the canonical-URL seen-set anti-join:
    the incremental Bloom sidecar (operators/pruning.py module
    comment) splits the batch so only maybe-seen rows pay the landed
    anti-join, and the admitted rows append with ``assume_new`` (each
    is provably unlanded — bloom-negative, or anti-join-verified).
    With the ledger carrying headroom too, a batch of entirely new
    URLs runs with ZERO reads of the landed table; the cost envelope
    is measured by tools/frontier_envelope.py into SCALE.md
    ("Frontier per-batch scan cost")."""
    from alaska_etl_spark.operators.urls import canonical_url, registrable_domain, url_host

    bloom_state: dict = {}  # driver-cached filter, one load per stream run

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import Window

        good = (
            batch_df.withColumn("canonical_url", canonical_url(url_col))
            .filter(F.col("canonical_url").isNotNull())
            .withColumn("domain", registrable_domain(url_host(url_col)))
        )
        w = Window.partitionBy("canonical_url").orderBy(id_col)
        first = (
            good.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # explicit existence probe, NOT a try/except around read():
        # a transient read failure must fail the batch (replay-safe),
        # never silently reset the per-domain ledger to empty — that
        # would re-admit up to max_per_domain rows per domain and break
        # the lifetime quota invariant (ADVICE r10). probe_exists is
        # KIND-aware (ADVICE r11): for path sinks it asks the Hadoop
        # FileSystem; for table sinks (bigquery) a raw path probe would
        # resolve a bogus relative path and read "absent" every batch —
        # the exact silent reset this probe exists to prevent.
        spark = batch_df.sparkSession
        if warehouse.probe_exists(table):
            landed = warehouse.read(table)
        else:  # first batch: the table does not exist yet
            landed = spark.createDataFrame([], first.schema)
        if ledger_table is not None:
            # incremental headroom: the domain×batch-grain ledger sum
            # replaces the row-grain main-table aggregate
            if warehouse.probe_exists(ledger_table):
                used = (
                    warehouse.read(ledger_table)
                    .groupBy("domain")
                    .agg(F.sum("n_admitted").cast("bigint").alias("_used"))
                )
            else:
                used = spark.createDataFrame([], "domain string, _used bigint")
        else:
            used = landed.groupBy("domain").agg(
                F.count(F.lit(1)).cast("bigint").alias("_used")
            )
        # never re-admit a landed canonical URL's quota slot: the
        # idempotent append would drop the row but the rank below must
        # not count it against this batch's headroom either
        packed = None
        if bloom_path is None:
            fresh = first.join(
                landed.select("canonical_url"), "canonical_url", "left_anti"
            )
        else:
            # Bloom lane (VERDICT r11 Missing #2): only maybe-seen rows
            # pay the row-grain landed anti-join; a batch of entirely
            # new URLs never reads the seen-set at all (with the X176
            # ledger carrying headroom, the batch then runs with ZERO
            # landed-table reads). Sidecar invariants and crash
            # ordering: operators/pruning.py module comment.
            from alaska_etl_spark.operators.pruning import bloom_split

            if "packed" not in bloom_state:  # once per stream run
                bloom_state.update(
                    _bloom_init(
                        spark, warehouse, table, bloom_path,
                        bloom_capacity, bloom_fpp, "canonical_url",
                    )
                )
            packed = bloom_state["packed"]
            first = tracked_persist(first)
            maybe, new = bloom_split(
                first, packed, "canonical_url",
                m_bits=bloom_state["m"], n_hashes=bloom_state["k"],
            )
            maybe = tracked_persist(maybe)
            if maybe.isEmpty():
                fresh = new
            else:
                fresh = new.unionByName(
                    maybe.join(
                        landed.select("canonical_url"), "canonical_url", "left_anti"
                    )
                )
        wq = Window.partitionBy("domain").orderBy(id_col)
        admitted = (
            fresh.withColumn("_rk", F.row_number().over(wq))
            .join(F.broadcast(used), "domain", "left")
            .filter(
                F.col("_rk") + F.coalesce(F.col("_used"), F.lit(0))
                <= F.lit(max_per_domain)
            )
            .drop("_rk", "_used")
        )
        if ledger_table is not None:
            # materialize admitted to STAGING before touching the ledger:
            # admitted's plan reads the ledger path (used), and Spark
            # invalidates path-reading cached/lazy plans when that path
            # is written — a lazy admitted would silently recompute
            # against the post-write ledger and admit nothing. The
            # staging file is the stable snapshot both writes read.
            warehouse.write_staging(admitted, table)
            stable = warehouse.read_staging(table)
            if packed is not None:
                _bloom_commit(spark, bloom_path, stable, bloom_state)
            counts = (
                stable.groupBy("domain")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_admitted"))
                .withColumn("_batch_id", F.lit(int(_batch_id)).cast("bigint"))
            )
            # ledger before rows: overcount-on-crash is the safe side
            warehouse.load(
                counts, ledger_table, key_cols=["domain", "_batch_id"],
                store_row_hash=True,
            )
            warehouse.append_main(
                table, key_cols=["canonical_url"], store_row_hash=True,
                assume_new=packed is not None,
            )
        else:
            if packed is not None:
                # stage first: bloom_add and the append must read ONE
                # snapshot of admitted (same staging stance as above)
                warehouse.write_staging(admitted, table)
                stable = warehouse.read_staging(table)
                _bloom_commit(spark, bloom_path, stable, bloom_state)
                warehouse.append_main(
                    table, key_cols=["canonical_url"], store_row_hash=True,
                    assume_new=True,
                )
            else:
                warehouse.load(
                    admitted, table, key_cols=["canonical_url"],
                    store_row_hash=True,
                )
        if bloom_path is not None:
            maybe.unpersist()
            first.unpersist()

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_near_dup_gate(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    index_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> None:
    """Streaming NEAR-duplicate gate: every micro-batch is deduplicated
    within itself (MinHash pairs → survivor selection), probed against
    the persisted LSH index of everything ever admitted
    (operators/dedup.py:probe_lsh_index — the corpus text is never
    re-read), and only then landed; admitted documents are appended to
    the index, so the next batch dedups against them too.

    This finishes the dedup story :func:`stream_documents_gate` starts:
    that gate drops EXACT re-deliveries via the content-fingerprint
    anti-join with zero streaming state; near-duplicates (one token
    edited, boilerplate re-crawls) need resemblance, and holding
    MinHash state in the state store would grow without bound. The
    parquet index IS the unbounded state, where it belongs — on
    storage, shared by batch and streaming, restart-safe for free.

    Replay safety (at-least-once source + non-transactional index):
    the batch is anti-joined against MAIN before anything is written,
    so a replayed micro-batch computes admitted = ∅ and neither the
    warehouse nor the index double-appends. Within one batch,
    survivor selection keeps one representative per near-dup cluster
    (highest quality by text length lives in dedup_survivors' default:
    smallest id).
    """
    from alaska_etl_spark.operators.dedup import (
        dedup_survivors,
        minhash_near_dup_pairs,
        probe_lsh_index,
        write_lsh_index,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = minhash_near_dup_pairs(
            batch_df,
            id_col,
            text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            seed=seed,
            jaccard_threshold=jaccard_threshold,
        ).select("id_a", "id_b")
        verdicts = dedup_survivors(batch_df, id_col, pairs)
        kept = batch_df.join(
            verdicts.filter(F.col("survivor")).select(F.col(id_col)), [id_col]
        )
        fs, bands_p = fs_and_path(spark, f"{index_path}/bands")
        if fs.exists(bands_p):
            dup_new = (
                probe_lsh_index(
                    kept,
                    id_col,
                    text_col,
                    index_path,
                    n=n,
                    num_hashes=num_hashes,
                    bands=bands,
                    seed=seed,
                    jaccard_threshold=jaccard_threshold,
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            kept = kept.join(dup_new, [id_col], "left_anti")
        if warehouse.probe_exists(table):  # kind-aware (ADVICE r11)
            seen = warehouse.read(table).select(id_col)
            kept = kept.join(seen, [id_col], "left_anti")
        # tracked_persist (not bare .persist): the unpersist below frees
        # it per batch, but a failing load/index write would otherwise
        # strand the cache across the stream's lifetime.
        admitted = tracked_persist(kept)
        if admitted.count() > 0:
            warehouse.load(admitted, table, key_cols=[id_col])
            # index from the STAGING parquet the load just wrote, not
            # from `admitted`: the load's append to MAIN invalidates
            # any cache whose plan reads the MAIN path (Spark recaches
            # by path), and recomputing `admitted` AFTER the load finds
            # the batch already in MAIN — its anti-join goes empty and
            # the index append would silently write nothing. Staging
            # holds exactly the admitted rows with no MAIN lineage.
            write_lsh_index(
                warehouse.read_staging(table),
                id_col,
                text_col,
                index_path,
                n=n,
                num_hashes=num_hashes,
                bands=bands,
                seed=seed,
                mode="append",
            )
        admitted.unpersist()

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_novelty_gate(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    ref_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_novelty: float = 0.5,
    broadcast: bool = True,
    compact_after_files: int | None = None,
) -> None:
    """Streaming NOVELTY gate (VERDICT r5 #8): admit a document only if
    at least ``min_novelty`` of its word n-gram shingles are UNSEEN
    relative to everything already admitted — the continuous-admission
    form of the batch novelty_rate (qf2/q41), sitting between the
    exact-fingerprint gate (:func:`stream_documents_gate`) and the
    resemblance gate (:func:`stream_near_dup_gate`): it catches the
    mosaic case both miss, a "new" document stitched from already-
    ingested pieces, which is near-dup to NO single prior document.

    State lives where the LSH gate's does — in a persisted parquet
    gram set at ``ref_path`` (8-byte xxhash64 keys from
    :func:`~alaska_etl_spark.operators.dedup.doc_grams`), not the
    streaming state store: shared by batch audits, restart-safe for
    free, and bounded by the DISTINCT gram vocabulary (Heaps-law
    sublinear in admitted bytes), not by document count. Each batch
    scores via :func:`~alaska_etl_spark.operators.dedup.novelty_vs_grams`
    (reference grams broadcast by default; pass ``broadcast=False``
    once the vocabulary outgrows it and the join degrades to a
    shuffle on the gram key), and admitted documents' grams are
    appended for the next batch.

    Contract details:
    - zero-gram documents are REJECTED (no novelty evidence; they are
      the exact-dedup tier's concern), matching novelty_rate's
      zero-denominator omission;
    - within one batch, exact-text duplicates collapse to the smallest
      id BEFORE scoring; two merely SIMILAR novel documents in the
      same batch both pass (batch members are unordered peers) and the
      overlap starts counting from the next batch on;
    - replay safety mirrors the LSH gate: the batch is anti-joined
      against MAIN before the gram append, so a replayed micro-batch
      admits nothing and the reference never double-counts.

    ``compact_after_files``: opt-in inline maintenance — after a
    batch's gram append, if the reference holds more than this many
    data files, run :func:`compact_gram_reference` before the next
    batch (the sink is the one place compaction provably cannot race
    an append, since availableNow batches are sequential). Leave None
    to schedule compaction externally instead."""
    from pyspark.sql import Window

    from alaska_etl_spark.operators.dedup import doc_grams, novelty_vs_grams

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(text_col).orderBy(id_col)
        batch = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        fs, ref_p = fs_and_path(spark, ref_path)
        if fs.exists(ref_p):
            ref = spark.read.parquet(ref_path)
        else:
            ref = spark.createDataFrame([], "gram bigint")
        scored = novelty_vs_grams(
            batch, ref, id_col, text_col, n=n, broadcast=broadcast
        )
        keep = scored.filter(F.col("novelty") >= min_novelty).select(id_col)
        kept = batch.join(keep, [id_col])
        if warehouse.probe_exists(table):  # kind-aware (ADVICE r11)
            seen = warehouse.read(table).select(id_col)
            kept = kept.join(seen, [id_col], "left_anti")
        admitted = tracked_persist(kept)
        if admitted.count() > 0:
            warehouse.load(admitted, table, key_cols=[id_col])
            # grams from the STAGING parquet the load just wrote — the
            # load's MAIN append invalidates `admitted`'s cache (recache
            # by path) and a recompute would anti-join the batch away
            # against the MAIN that now contains it, silently appending
            # zero grams (the reference would freeze at batch 1).
            doc_grams(
                warehouse.read_staging(table), id_col, text_col, n=n
            ).select("gram").distinct().write.mode("append").parquet(ref_path)
            if compact_after_files is not None:
                fs, jp = fs_and_path(spark, ref_path)
                it, n_files = fs.listFiles(jp, True), 0
                while it.hasNext():
                    if not it.next().getPath().getName().startswith(("_", ".")):
                        n_files += 1
                if n_files > compact_after_files:
                    compact_gram_reference(spark, ref_path)
        admitted.unpersist()

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def compact_gram_reference(
    spark: SparkSession,
    ref_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Compact a persisted streaming reference (the novelty gate's gram
    set, or any append-accreted parquet state): global row-distinct,
    rewritten as ``ceil(bytes / target_file_bytes)`` files and swapped
    in atomically (:func:`~alaska_etl_spark.plans.warehouse.swap_in`).

    Why the gate needs this: each admitted batch appends its documents'
    grams ``.distinct()``-ed WITHIN the batch only — an admitted
    document may legitimately share up to ``1 - min_novelty`` of its
    grams with the reference, so cross-batch duplicate gram rows
    accrete (along with one file set per batch). Correctness never
    suffers (the gate's scorer joins on gram, where duplicates change
    nothing after its own distinct), but the reference's size — and the
    broadcast that :func:`stream_novelty_gate` ships per batch — grows
    past the true vocabulary. Run this between gate invocations (it
    must not race a concurrent ``_sink`` append; availableNow triggers
    make that sequencing natural).

    Plan shape: ``repartition(n, cols).distinct()`` — the explicit hash
    partitioning satisfies the aggregate's clustering requirement, so
    the dedup runs in the SAME single exchange that sets the output
    file count. ``n`` is sized from the pre-compaction bytes (an upper
    bound — duplicates inflate it; the next compaction re-sizes from
    the smaller truth).

    For a PARTITIONED reference (the LSH gate's band index is
    ``partitionBy("band")``), pass ``partition_by`` — the rewrite then
    preserves the directory layout (a flat rewrite would silently drop
    the partition pruning every probe relies on) at the cost of a
    second exchange that co-locates each partition's scattered batch
    files, exactly like ``Warehouse.compact``'s partitioned branch.
    Returns ``{"rows_before", "rows_after", "files"}``.
    """
    df = spark.read.parquet(ref_path)
    cols = df.columns
    rows_before = df.count()
    n_files = max(1, -(-data_bytes(spark, ref_path) // target_file_bytes))
    tmp = ref_path + "__compact_tmp"
    if partition_by:
        deduped = df.distinct().repartition(n_files, *partition_by)
        deduped.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    else:
        deduped = df.repartition(n_files, *cols).distinct()
        deduped.write.mode("overwrite").parquet(tmp)
    rows_after = spark.read.parquet(tmp).count()
    swap_in(spark, tmp, ref_path)
    return {"rows_before": rows_before, "rows_after": rows_after, "files": n_files}


def stream_vocab_drift(
    stream_df: DataFrame,
    metrics_path: str,
    checkpoint: str,
    ref_path: str,
    *,
    text_col: str = "text",
    threshold: float = 0.1,
) -> None:
    """Streaming VOCABULARY drift monitor: per micro-batch, the
    Jensen-Shannon divergence (qf8's protocol —
    ``operators.text.vocab_divergence_from_counts``) between the
    batch's unigram distribution and a persisted TRUSTED reference
    distribution at ``ref_path`` (built once with
    ``operators.text.token_counts`` + a parquet write), appended as one
    metrics row (batch_id, tokens_batch, tokens_ref, shared_vocab,
    js_nats, drifted) to ``metrics_path``. The reference is
    deliberately static — standard drift-monitor semantics: the
    question is "does today's crawl still look like the corpus we
    validated", so the baseline must not chase the drift it measures
    (contrast :func:`stream_novelty_gate`, whose reference grows by
    design because its question is "is this NEW").

    Monitoring, not gating: the stream lands nothing and drops nothing
    (pair it with a gate if drift should block admission); a metrics
    row is written even for a token-less batch (NULL js — no batch
    distribution exists, which is not the same claim as "maximally
    drifted") so gaps in the series stay visible. The reference parquet
    is ``operators.text.write_vocab_reference``'s output (_w, _c).
    Scale shape: one batch-sized token aggregate, then the
    vocabulary-sized count join — identical to qf8's, measured at 10×
    exponent 0.09."""
    from alaska_etl_spark.operators.dedup import word_tokens
    from alaska_etl_spark.operators.text import vocab_divergence_from_counts

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ref = spark.read.parquet(ref_path).select(
            # '_' < any [a-z0-9] token in ASCII, so the reference sorts
            # as group_a and the batch as group_b — fixed orientation
            F.lit("_ref").alias("_g"), "_w", "_c"
        )
        batch_counts = (
            batch_df.select(F.explode(word_tokens(text_col)).alias("_w"))
            .groupBy("_w")
            .agg(F.count(F.lit(1)).alias("_c"))
            .select(F.lit("batch").alias("_g"), "_w", "_c")
        )
        div = vocab_divergence_from_counts(ref.unionByName(batch_counts))
        rows = div.select(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            F.col("tokens_b").alias("tokens_batch"),
            F.col("tokens_a").alias("tokens_ref"),
            "shared_vocab",
            "js_nats",
            (F.col("js_nats") > F.lit(threshold)).alias("drifted"),
        ).collect()
        # literal relation either way (localrel, r12): this sink runs
        # PER BATCH, and a Python-RDD frame scan costs 32 worker
        # round-trips per materialization (guide §4)
        out = local_df(
            spark,
            [tuple(r) for r in rows] or [(batch_id, 0, 0, 0, None, None)],
            "batch_id bigint, tokens_batch bigint, tokens_ref bigint, "
            "shared_vocab bigint, js_nats double, drifted boolean",
        )
        out.write.mode("append").parquet(metrics_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_apply_changelog(
    stream_df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Streaming form of the CDC apply (plans/warehouse.apply_changelog):
    consume an ordered I/U/D change feed as a stream and maintain the
    snapshot table, one ``foreachBatch`` apply + atomic directory swap
    per micro-batch.

    Exactly-once from at-least-once delivery WITHOUT a transactional
    sink, by the algebra of the operator itself (pinned in
    tests/test_properties.py): chunked application equals whole-feed
    application (any batch boundary is safe), and re-applying an
    already-applied feed is a no-op (base rows enter as seq −∞
    pseudo-inserts, so replayed ops re-resolve to the same winners) —
    a crash between snapshot swap and checkpoint commit replays the
    batch onto the updated snapshot harmlessly.

    At 100 TB the swap is the honest no-table-format baseline (same as
    Warehouse.compact); a lakehouse table format would replace the
    directory swap with a metadata commit, leaving the plan unchanged.
    """
    data_cols = [c for c in stream_df.columns if c not in (op_col, seq_col)]

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        # probe_exists, not table_exists: a transient read failure
        # misread as "absent" would rebuild the snapshot from an EMPTY
        # base and swap it over the live table — destructive. The probe
        # raises on anything that is not genuinely-missing (ADVICE r11).
        if warehouse.probe_exists(table):
            base = warehouse.read(table)
        else:
            base = spark.createDataFrame([], batch_df.select(*data_cols).schema)
        snap = apply_changelog(
            base, batch_df, key_cols, seq_col=seq_col, op_col=op_col
        )
        tmp = warehouse._spec(f"{table}__cdc_tmp")
        warehouse._write_spec(snap, tmp, "overwrite")
        if warehouse.probe_exists(table):
            swap_in(spark, tmp["target"], warehouse._path(table))
        else:  # first batch: nothing live to move aside
            fs, tmp_p = fs_and_path(spark, tmp["target"])
            _, live_p = fs_and_path(spark, warehouse._path(table))
            fs.rename(tmp_p, live_p)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_perceptron_train(
    stream_df: DataFrame,
    history_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    positive_lang: str = "en",
) -> None:
    """CONTINUAL classifier training: each micro-batch is one
    mini-batch perceptron step (`operators.classifier.train_step` — the
    exact same aggregate the batch trainer runs, so stream and batch
    can never drift) against the latest weights, and the post-update
    weights are APPENDED as one row
    ``(iter, batch_id, misclassified, w0..w4)`` to the parquet history
    at ``history_path``.

    State protocol mirrors the gates: the weight history lives on
    storage, not in the state store — restart-safe for free, readable
    by batch audits (the history IS the learning curve), and
    append-only so a crash never leaves a half-written weight vector
    (the current model is simply the max-``iter`` row). Replay safety:
    a batch_id already present in the history is skipped, so
    at-least-once delivery never applies the same update twice.

    Scale shape per batch: one batch-sized feature projection + one
    map-side-combined aggregate (k+2 longs per partition), a 1-row
    append, and a history read that only ever needs the max-iter row
    (at very long horizons, compact with
    :func:`compact_gram_reference` — the history is append-accreted
    parquet like every other reference here)."""
    from alaska_etl_spark.operators.classifier import (
        FEATURE_COLS,
        text_label_features,
        train_step,
    )

    k = len(FEATURE_COLS)
    schema = (
        "iter bigint, batch_id bigint, misclassified bigint, "
        + ", ".join(f"w{j} bigint" for j in range(k))
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w, it = [0] * k, 0
        fs, history_p = fs_and_path(spark, history_path)
        if fs.exists(history_p):
            hist = spark.read.parquet(history_path)
            if hist.filter(F.col("batch_id") == batch_id).count() > 0:
                return  # replayed micro-batch: update already applied
            last = hist.orderBy(F.col("iter").desc()).first()
            if last is not None:
                w = [last[f"w{j}"] for j in range(k)]
                it = last["iter"]
        feats = text_label_features(
            batch_df, id_col, text_col, lang_col, positive_lang=positive_lang
        )
        m, g = train_step(feats, w)
        w = [w[j] + g[j] for j in range(k)]
        local_df(
            spark, [(it + 1, batch_id, m, *w)], schema
        ).write.mode("append").parquet(history_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_model_monitor(
    stream_df: DataFrame,
    metrics_path: str,
    checkpoint: str,
    history_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    positive_lang: str = "en",
    min_accuracy: float = 0.5,
) -> None:
    """Streaming MODEL-QUALITY monitor: per micro-batch, the held-out
    confusion counts + 4dp accuracy of the CURRENT deployed classifier
    (the max-``iter`` row of :func:`stream_perceptron_train`'s weight
    history — weights are read fresh each batch, so a concurrently
    training stream is monitored live) over the batch's labeled
    documents, appended as one row ``(batch_id, model_iter, tp, fp,
    tn, fn, accuracy, degraded)`` to ``metrics_path``.

    The deployment-side mirror of :func:`stream_vocab_drift`: drift
    watches the INPUT distribution, this watches the MODEL's output
    quality — the two metrics series distinguish "data changed" from
    "model stopped fitting" (drift high + accuracy flat = robust;
    drift flat + accuracy falling = label shift). Monitoring, not
    gating: nothing is dropped; ``degraded`` flags accuracy below
    ``min_accuracy`` (NULL accuracy — empty batch or no trained model
    yet — is flagged NULL, not degraded: "no evidence" is not "bad").

    Replay-idempotent on the (batch_id, model_iter) PAIR — a metrics
    row is a measurement of one batch under one model version, so a
    replayed batch under the same weights is skipped, while the same
    batch re-monitored after the trainer advanced (or before any model
    existed) appends a new, genuinely different measurement. Scale
    shape per batch: one max-iter history lookup, one batch-sized
    feature projection, ONE map-side-combined confusion aggregate
    (4 longs per partition), a 1-row append."""
    from alaska_etl_spark.functions.fixedpoint import div_half_up_py
    from alaska_etl_spark.operators.classifier import (
        FEATURE_COLS,
        text_label_features,
    )

    k = len(FEATURE_COLS)
    schema = (
        "batch_id bigint, model_iter bigint, tp bigint, fp bigint, "
        "tn bigint, fn bigint, accuracy double, degraded boolean"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w, it = None, None
        fs, history_p = fs_and_path(spark, history_path)
        if fs.exists(history_p):
            last = (
                spark.read.parquet(history_path)
                .orderBy(F.col("iter").desc())
                .first()
            )
            if last is not None:
                w = [last[f"w{j}"] for j in range(k)]
                it = last["iter"]
        fs, metrics_p = fs_and_path(spark, metrics_path)
        if fs.exists(metrics_p):
            same_model = (
                F.col("model_iter").isNull()
                if it is None
                else F.col("model_iter") == int(it)
            )
            done = spark.read.parquet(metrics_path).filter(
                (F.col("batch_id") == batch_id) & same_model
            )
            if done.count() > 0:
                return  # replayed (batch, model) measurement: already landed
        if w is None:
            row = (batch_id, None, 0, 0, 0, 0, None, None)
        else:
            feats = text_label_features(
                batch_df, id_col, text_col, lang_col, positive_lang=positive_lang
            )
            dot = F.lit(int(w[0])) * F.col("f0")
            for j in range(1, k):
                dot = dot + F.lit(int(w[j])) * F.col(f"f{j}")
            pred_pos, act_pos = dot > 0, F.col("y") > 0
            c = feats.agg(
                F.sum(F.when(pred_pos & act_pos, 1).otherwise(0)).cast("bigint").alias("tp"),
                F.sum(F.when(pred_pos & ~act_pos, 1).otherwise(0)).cast("bigint").alias("fp"),
                F.sum(F.when(~pred_pos & ~act_pos, 1).otherwise(0)).cast("bigint").alias("tn"),
                F.sum(F.when(~pred_pos & act_pos, 1).otherwise(0)).cast("bigint").alias("fn"),
            ).collect()[0]
            tp, fp, tn, fn = (int(c[x] or 0) for x in ("tp", "fp", "tn", "fn"))
            total = tp + fp + tn + fn
            if total:
                acc = div_half_up_py(tp + tn, total, 10000) / 10000.0
                row = (batch_id, it, tp, fp, tn, fn, acc, acc < min_accuracy)
            else:
                row = (batch_id, it, 0, 0, 0, 0, None, None)
        local_df(batch_df.sparkSession, [row], schema).write.mode(
            "append"
        ).parquet(metrics_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_cusum_monitor(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    target_cents: int,
    threshold_cents: int,
    slack_cents: int = 0,
) -> DataFrame:
    """Streaming two-sided CUSUM monitor (Page '54) against a FIXED
    target level: per key, maintain ``S⁺ = max(0, S⁺ + (x − μ₀ − k))``
    and ``S⁻ = max(0, S⁻ + (μ₀ − x − k))`` across micro-batches and
    count alarm ONSETS (below→above threshold transitions). The
    streaming sibling of the batch qi6 retrospective (which centers on
    the key's own full-series mean — unknowable online, hence the
    fixed-target form the SPC literature uses).

    State per key is three integers + two onset counters — O(keys)
    regardless of stream length, in the checkpointed state store.
    Within a batch the recursion collapses to the same closed form as
    qi6 — with carried state S₀ and batch prefix sums Q_t,
    ``S_t = max(S₀ + Q_t, Q_t − min_{1≤j≤t} Q_j)`` — one cumsum + one
    running min per side in numpy, no per-row Python. Exactness: cents
    are BIGINT, every step integer.

    Emits one row per active key per batch: ``(keys..., n_events,
    s_up, s_dn, alarm_up, alarm_dn, onsets_up, onsets_dn)`` with
    s_up/s_dn the post-batch statistics in cents.
    """
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Key columns keep their INPUT types (an int/timestamp key
    # hardcoded as string would surface mis-typed — ADVICE r6);
    # applyInPandasWithState passes group keys through untouched, so
    # the passthrough type is always correct.
    key_fields = ", ".join(
        f"{k} {events.schema[k].dataType.simpleString()}" for k in key_cols
    )
    out_schema = (
        f"{key_fields}, n_events bigint, s_up bigint, s_dn bigint, "
        "alarm_up boolean, alarm_dn boolean, onsets_up bigint, onsets_dn bigint"
    )
    state_schema = "su bigint, sd bigint, n bigint, ou bigint, od bigint"
    mu, k, h = int(target_cents), int(slack_cents), int(threshold_cents)

    def _side(s0: int, d: "np.ndarray") -> "np.ndarray":
        q = np.cumsum(d)
        return np.maximum(s0 + q, q - np.minimum.accumulate(q))

    def _onsets(s0: int, s: "np.ndarray") -> int:
        above = s > h
        prev = np.concatenate(([s0 > h], above[:-1]))
        return int(np.count_nonzero(above & ~prev))

    def update(key, pdfs, state):
        su, sd, n, ou, od = state.get if state.exists else (0, 0, 0, 0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            v = pdf[value_col].to_numpy(dtype="float64")
            c = np.rint(v * 100).astype(np.int64)
            s_up = _side(su, c - mu - k)
            s_dn = _side(sd, mu - c - k)
            ou += _onsets(su, s_up)
            od += _onsets(sd, s_dn)
            su, sd = int(s_up[-1]), int(s_dn[-1])
            n += len(pdf)
        state.update((su, sd, n, ou, od))
        yield pd.DataFrame(
            [[*key, n, su, sd, su > h, sd > h, ou, od]],
            columns=[
                *key_cols,
                "n_events",
                "s_up",
                "s_dn",
                "alarm_up",
                "alarm_dn",
                "onsets_up",
                "onsets_dn",
            ],
        )

    return events.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_warc_gate(
    record_stream: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    *,
    min_quality: float = 0.3,
    max_dup_token_ratio: float = 0.6,
    errors_table: str | None = None,
) -> None:
    """Streaming WARC ingestion (VERDICT r6 #5): the crawl-to-warehouse
    path the batch WARC source + document gate already cover, composed
    with the incremental protocol the JSONL stream has —
    ``sources.warc.stream_warc`` record stream → ``response_bodies`` /
    ``warc_text_documents`` (status-200 HTTP bodies as UTF-8 docs,
    URI-keyed) → the quality/repetition/PII gate → idempotent
    fingerprint-keyed warehouse append. At-least-once file source +
    idempotent sink = replayed micro-batches admit nothing, exactly as
    :func:`stream_to_warehouse`.

    Parse-error rows (corrupt gzip, malformed headers, truncated
    payloads — the file-grain quarantine channel) are routed to
    ``errors_table`` (default ``{table}_errors``) keyed on
    ``(file, offset)``, so a corrupt file surfaces durably instead of
    vanishing with the micro-batch; replays cannot double-log it.

    The parsed record batch is persisted for the sink's duration: the
    error route and the document gate are two actions, and without the
    persist each would re-parse (re-gunzip) every WARC file in the
    micro-batch."""
    from pyspark.sql import Window

    from alaska_etl_spark.operators.gate import gate_documents
    from alaska_etl_spark.sources.warc import warc_text_documents

    err_table = errors_table or f"{table}_errors"

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        records = tracked_persist(batch_df)
        try:
            errors = records.filter(F.col("error").isNotNull()).select(
                "file", "offset", "error"
            )
            if errors.count() > 0:
                warehouse.load(errors, err_table, key_cols=["file", "offset"])
            gated = gate_documents(
                warc_text_documents(records),
                "doc_id",
                "text",
                min_quality=min_quality,
                max_dup_token_ratio=max_dup_token_ratio,
            )
            w = Window.partitionBy("fingerprint").orderBy("doc_id")
            first = (
                gated.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            warehouse.load(first, table, key_cols=["fingerprint"])
        finally:
            records.unpersist()

    _drain(record_stream.writeStream.foreachBatch(_sink), checkpoint)


def stream_admission_quota(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    quota: int,
    window_seconds: int = 3600,
) -> DataFrame:
    """Streaming per-key admission quota: admit at most ``quota``
    events per key per event-time window (tumbling, ``window_seconds``
    wide), deciding by (ts, id) order — the ingestion throttle that
    stops one domain/source flooding a crawl batch while small sources
    pass untouched (the streaming sibling of the batch mix/rebalance
    family: those reweight AFTER ingest; this caps AT ingest).

    State per key is two integers (current window start, admits used) —
    O(keys), checkpointed. Within a batch the decision vectorizes:
    sort by (ts, id), rank within window via cumcount, admit where
    rank + carried-use < quota. Deterministic under the file-drop
    contract the other stateful monitors share: event time is
    non-decreasing across micro-batches per key (a late event lands in
    an already-closed window and is rejected unless its window is the
    current one — never admitted over quota; the invariant "≤ quota
    admits per (key, window)" holds under ANY batch split, pinned in
    tests).

    Emits every event row with its verdict: ``(keys..., id, ts,
    admitted)`` — route the rejects to a quarantine table or drop them
    in the consuming sink."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_fields = ", ".join(
        f"{k} {events.schema[k].dataType.simpleString()}" for k in key_cols
    )
    id_t = events.schema[id_col].dataType.simpleString()
    ts_t = events.schema[ts_col].dataType.simpleString()
    out_schema = f"{key_fields}, {id_col} {id_t}, {ts_col} {ts_t}, admitted boolean"
    state_schema = "win bigint, used bigint"
    q, wsec = int(quota), int(window_seconds)

    def update(key, pdfs, state):
        win, used = state.get if state.exists else (-1, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            epoch = (
                pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1_000_000_000
            )
            w = (epoch // wsec).to_numpy()
            rank = pdf.groupby(w).cumcount().to_numpy()
            carried = w == win  # rows continuing the carried window
            offset = rank + carried * used
            # rows in windows EARLIER than the carried one are late
            # arrivals into closed windows: reject outright
            late = w < win
            admitted = (offset < q) & ~late
            pdf["admitted"] = admitted
            last_w = int(w[-1])
            in_last = w == last_w
            if last_w > win:
                win, used = last_w, int(admitted[in_last].sum())
            elif last_w == win:
                used += int(admitted[in_last].sum())
            # last_w < win: every row was late into a closed window —
            # the carried state must not move
            yield pd.DataFrame(
                {
                    **{k: pdf[k] for k in key_cols},
                    id_col: pdf[id_col],
                    ts_col: pdf[ts_col],
                    "admitted": pdf["admitted"],
                }
            )
        state.update((win, used))

    return events.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def write_profile_reference(
    df: DataFrame, cols: list[str], ref_path: str
) -> None:
    """Build the static profile reference :func:`stream_profile_monitor`
    compares against: per monitored column, the validated value DOMAIN
    (distinct non-null renderings) plus one null-rate row (``value``
    NULL, ``null_bp`` set). One scan via the ql7-style stack explode."""
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("value"),
            )
            for c in cols
        ]
    )
    long = df.select(F.explode(entries).alias("_e")).select("_e.*")
    domain = (
        long.filter(F.col("value").isNotNull())
        .distinct()
        .withColumn("null_bp", F.lit(None).cast("bigint"))
    )
    rates = long.groupBy("column_name").agg(
        F.expr(
            "(2 * 10000 * sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)"
            " + count(*)) div (2 * count(*))"
        )
        .cast("bigint")
        .alias("null_bp")
    ).select("column_name", F.lit(None).cast("string").alias("value"), "null_bp")
    domain.unionByName(rates).write.mode("overwrite").parquet(ref_path)


def stream_profile_monitor(
    stream_df: DataFrame,
    metrics_path: str,
    checkpoint: str,
    ref_path: str,
    *,
    cols: list[str],
    null_bp_tolerance: int = 500,
) -> None:
    """Streaming SCHEMA-PROFILE drift monitor: per micro-batch and per
    monitored column, null rate vs the validated reference and unseen
    categorical values vs the validated domain — the streaming sibling
    of ql7's batch profile, and the check that catches an upstream
    schema change (a renamed enum value, a feed that suddenly ships
    NULLs) in the batch where it starts rather than in next week's
    audit. Same static-reference semantics as
    :func:`stream_vocab_drift`: the baseline must not chase the drift
    it measures; monitoring, not gating.

    Appends one metrics row per (batch, column):
    ``(batch_id, column_name, n_rows, n_null, null_bp, n_distinct,
    n_unseen_values, null_alert, domain_alert)``. A row-less batch
    emits one all-zero row per column (NULL alerts) so series gaps
    stay visible. Scale shape: one batch-sized explode + aggregate,
    one broadcast-able anti-join against the reference domain."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ref = spark.read.parquet(ref_path)
        ref_rates = ref.filter(F.col("value").isNull()).select(
            "column_name", F.col("null_bp").alias("_ref_bp")
        )
        ref_domain = ref.filter(F.col("value").isNotNull()).select(
            "column_name", "value"
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.col(c).cast("string").alias("value"),
                )
                for c in cols
            ]
        )
        long = batch_df.select(F.explode(entries).alias("_e")).select("_e.*")
        stats = long.groupBy("column_name").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.count_distinct("value").cast("bigint").alias("n_distinct"),
        )
        unseen = (
            long.filter(F.col("value").isNotNull())
            .distinct()
            .join(ref_domain, ["column_name", "value"], "left_anti")
            .groupBy("column_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_unseen_values"))
        )
        rows = (
            stats.join(unseen, "column_name", "left")
            .join(F.broadcast(ref_rates), "column_name", "left")
            .select(
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                "column_name",
                "n_rows",
                "n_null",
                F.expr("(2 * 10000 * n_null + n_rows) div (2 * n_rows)")
                .cast("bigint")
                .alias("null_bp"),
                "n_distinct",
                F.coalesce("n_unseen_values", F.lit(0))
                .cast("bigint")
                .alias("n_unseen_values"),
                (
                    F.abs(
                        F.expr("(2 * 10000 * n_null + n_rows) div (2 * n_rows)")
                        - F.col("_ref_bp")
                    )
                    > null_bp_tolerance
                ).alias("null_alert"),
                (F.coalesce("n_unseen_values", F.lit(0)) > 0).alias("domain_alert"),
            )
            .collect()
        )
        # literal relation either way (localrel, r12, per-batch sink)
        out = local_df(
            spark,
            [tuple(r) for r in rows]
            or [(batch_id, c, 0, 0, None, 0, 0, None, None) for c in cols],
            "batch_id bigint, column_name string, n_rows bigint, "
            "n_null bigint, null_bp bigint, n_distinct bigint, "
            "n_unseen_values bigint, null_alert boolean, domain_alert boolean",
        )
        out.write.mode("append").parquet(metrics_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def _unseen_src_files(
    spark, tagged: DataFrame, store_path: str, batch_id: int, content_col: str
):
    """Per-FILE replay dedup shared by the file-keyed monitor stores
    (heavy hitters, quantiles): given a batch frame carrying
    ``_src = input_file_name()``, return (tagged', new_files) where
    tagged' has a non-empty ``_src`` key and new_files are the keys not
    yet in the store. The file is the file source's atomic delivery
    unit, so this dedup survives both recreated checkpoints (recycled
    batch ids over NEW data are new files → counted) and rebatched
    replays (a combined re-delivery decomposes into the same per-file
    units → skipped). Non-file rows (empty input_file_name) fall back
    to a (batch_id, order-free content signature) key — safe against
    recycled-id undercounts only — and the fallback is PER ROW-GROUP,
    not per batch: in a mixed batch (some rows file-tagged, some not)
    only the blank rows are rekeyed to the signature key, so the empty
    string is never stored as a "file" that silently marks every later
    non-file row as already seen (ADVICE r8). The signature folds each
    value's xxhash64 through pmod 2³¹ before the sum, so Σ over n rows
    stays < n·2³¹ (no ANSI overflow) and any partitioning of a replay
    matches."""
    blank = F.col("_src").isNull() | (F.col("_src") == "")
    files = [r["_src"] for r in tagged.select("_src").distinct().collect()]
    if any(not f for f in files):
        s = tagged.filter(blank).agg(
            F.coalesce(
                F.sum(F.pmod(F.xxhash64(F.col(content_col).cast("string")), F.lit(1 << 31))),
                F.lit(0),
            ).alias("_h"),
            F.count(F.lit(1)).cast("bigint").alias("_c"),
        ).head(1)[0]
        key = f"batch:{batch_id}:{int(s['_h'])}:{int(s['_c'])}"
        tagged = tagged.withColumn(
            "_src", F.when(blank, F.lit(key)).otherwise(F.col("_src"))
        )
        files = [f for f in files if f] + [key]
    if not files:
        return tagged, files
    fs, store_p = fs_and_path(spark, store_path)
    if not fs.exists(store_p):
        return tagged, files
    probe = local_df(spark, [(f,) for f in files], "_src string")
    stored = {
        r["_src"]
        for r in spark.read.parquet(store_path)
        .select("_src")
        .join(F.broadcast(probe), "_src", "left_semi")
        .distinct()
        .collect()
    }
    return tagged, [f for f in files if f not in stored]


def stream_heavy_hitters_monitor(
    stream_df: DataFrame,
    store_path: str,
    metrics_path: str,
    checkpoint: str,
    *,
    col: str,
    k: int = 16,
) -> None:
    """Streaming heavy hitters over an unbounded value domain — the
    streaming sibling of the batch X36 operator (qa6/q46): per
    micro-batch, a Misra-Gries partial of the batch is APPENDED to a
    persisted partial store, the partials are merged under the
    mergeable-summaries rule (:func:`operators.sketches.
    merge_mg_partials`), and the current top candidates land as metrics
    rows. The guarantee the batch operator has survives merging
    (Agarwal et al., PODS'12): any value whose true count over the
    WHOLE stream exceeds n/(k+1) is present in the merged summary —
    state is k counters per batch partial, never the distinct-value
    set, which at 100 TB is the data.

    Replay safety follows the LSH-index/gram-reference pattern — the
    store is the durable state; the checkpoint only drives discovery —
    but the partial is keyed by SOURCE FILE, not batch_id (ADVICE r7):
    with a bare batch_id key, deleting and recreating the checkpoint
    while the store survives restarts batch ids at 0, and NEW
    micro-batches would be silently skipped as 'replays' of the old
    partials (undercounting). The file is the file source's atomic
    delivery unit, so it is also robust to REBATCHING — a replay that
    groups yesterday's two batches into one still decomposes into the
    same per-file units, each already stored (a batch-content signature
    would see a 'new' combined batch and double-count; measured in the
    replay test). Per-file partials merge into a valid whole-stream
    summary by the PODS'12 mergeable rule
    (:func:`operators.sketches.misra_gries_partials_by`). Non-file
    sources (no ``input_file_name``) fall back to a
    (batch_id, order-free content signature) key — safe against
    recycled-id undercounts, but not against rebatched replays, which
    only a durable per-record key could catch there. Per-file totals
    ride the same store as ``item`` NULL rows, so φ-thresholding
    against the exact stream length needs no extra state. Compaction:
    :func:`compact_partial_store` rewrites the store as the merged
    summary + seen-file markers under a sentinel src key (same opt-in
    placement as compact_gram_reference)."""
    from alaska_etl_spark.operators.sketches import (
        merge_mg_partials,
        misra_gries_partials_by,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tagged = batch_df.select(
            F.col(col).cast("string").alias("item"),
            F.input_file_name().alias("_src"),
        )
        tagged, new_files = _unseen_src_files(
            spark, tagged, store_path, batch_id, "item"
        )
        if new_files:  # first delivery of these files: store partials
            sub = tagged.filter(F.col("_src").isin(new_files))
            partial = misra_gries_partials_by(sub, "_src", "item", k=k)
            n_rows = sub.groupBy("_src").agg(
                F.lit(None).cast("string").alias("item"),
                F.count(F.lit(1)).cast("bigint").alias("lb"),
            )
            partial.select("_src", F.col("item").cast("string"), "lb") \
                .unionByName(n_rows) \
                .withColumn("batch_id", F.lit(batch_id).cast("bigint")) \
                .write.mode("append").parquet(store_path)
        fs, store_p = fs_and_path(spark, store_path)
        if not fs.exists(store_p):
            return  # zero-row first batch: nothing stored yet, no metrics
        store = spark.read.parquet(store_path)
        n_total = (
            store.filter(F.col("item").isNull())
            .agg(F.sum("lb").cast("bigint").alias("n"))
            .head(1)[0]["n"]
        ) or 0
        merged = merge_mg_partials(
            store.filter(F.col("item").isNotNull()), k=k
        )
        out = merged.select(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            "item",
            "lb",
            F.lit(int(n_total)).cast("bigint").alias("n_total"),
        )
        if not out.head(1):
            out = local_df(
                spark,
                [(batch_id, None, None, int(n_total))],
                "batch_id bigint, item string, lb bigint, n_total bigint",
            )
        out.write.mode("append").parquet(metrics_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


_COMPACT_SENTINEL = "\x00compact"


def compact_partial_store(
    spark: SparkSession, store_path: str, *, k: "int | None" = None
) -> dict:
    """Compact a monitor partial store (heavy hitters or quantiles) to
    its merged summary — the million-batch-lifetime lever the growth
    test's O(files·(k+1)) bound points at (VERDICT r8 #6). The store is
    rewritten as:

    - ONE merged summary under the sentinel key ``'\\x00compact'``
      (NUL-prefixed — ``input_file_name()`` paths and the
      ``batch:`` signature keys can never collide with it): the MG
      partials merge under the PODS'12 rule into ≤ k rows (heavy
      hitters), or the value-count tables integer-add into one counts
      table bounded by the value domain (quantiles);
    - ONE total row under the sentinel carrying the exact stream
      length (heavy-hitters stores only — the ``item IS NULL`` lane);
    - one zero-weight MARKER row per previously-seen source key
      (``item``/``_v`` NULL, weight 0) — replay dedup is the
      seen-key REGISTRY, and dropping it would make a replayed old
      file look new and double-count, so compaction bounds the
      per-file payload at O(1), not below O(files).

    Correctness of re-merging: an MG summary with ≤ k items is a fixed
    point of the merge rule (the (k+1)-th weight is 0), and merging it
    with post-compaction per-file partials is the same PODS'12
    associative merge the monitor already does; value-count tables are
    trivially associative. The zero-weight markers ride the existing
    NULL lanes: heavy-hitters totals gain +0, quantile merges filter
    NULL values.

    Must not race a concurrent sink append — run it between
    ``availableNow`` invocations (same contract as
    :func:`compact_gram_reference`). Returns
    ``{"rows_before", "rows_after", "kind"}``."""
    from alaska_etl_spark.operators.sketches import merge_mg_partials

    fs, store_p = fs_and_path(spark, store_path)
    if not fs.exists(store_p):
        return {"rows_before": 0, "rows_after": 0, "kind": "empty"}
    store = spark.read.parquet(store_path)
    rows_before = store.count()
    seen = store.select("_src").filter(
        F.col("_src") != _COMPACT_SENTINEL
    ).distinct()
    if "item" in store.columns:  # heavy-hitters store
        if k is None:
            raise ValueError("heavy-hitters store compaction needs k")
        summary = merge_mg_partials(
            store.filter(F.col("item").isNotNull()), k=k
        ).select(
            F.lit(_COMPACT_SENTINEL).alias("_src"),
            F.col("item").cast("string"),
            F.col("lb").cast("bigint"),
        )
        total = store.filter(F.col("item").isNull()).agg(
            F.lit(_COMPACT_SENTINEL).alias("_src"),
            F.lit(None).cast("string").alias("item"),
            F.coalesce(F.sum("lb"), F.lit(0)).cast("bigint").alias("lb"),
        )
        markers = seen.select(
            "_src",
            F.lit(None).cast("string").alias("item"),
            F.lit(0).cast("bigint").alias("lb"),
        )
        compacted = summary.unionByName(total).unionByName(markers)
        kind = "heavy_hitters"
    else:  # quantile store: (_src, _v, _c)
        merged = (
            store.filter(F.col("_v").isNotNull())
            .groupBy("_v")
            .agg(F.sum("_c").cast("bigint").alias("_c"))
            .select(F.lit(_COMPACT_SENTINEL).alias("_src"), "_v", "_c")
        )
        markers = seen.select(
            "_src",
            F.lit(None).cast("bigint").alias("_v"),
            F.lit(0).cast("bigint").alias("_c"),
        )
        compacted = merged.unionByName(markers)
        kind = "quantiles"
    compacted = compacted.withColumn("batch_id", F.lit(-1).cast("bigint"))
    tmp = store_path + "__compact_tmp"
    compacted.write.mode("overwrite").parquet(tmp)
    rows_after = spark.read.parquet(tmp).count()
    swap_in(spark, tmp, store_path)
    return {"rows_before": rows_before, "rows_after": rows_after, "kind": kind}


def stream_quantile_monitor(
    stream_df: DataFrame,
    store_path: str,
    metrics_path: str,
    checkpoint: str,
    *,
    col: str,
    probs: "tuple[float, ...]" = (0.5, 0.95, 0.99),
    scale: int = 100,
) -> None:
    """Streaming EXACT quantiles for fixed-precision values — the
    latency/price/size-distribution monitor next to the heavy-hitters
    one, with the same durable-store replay contract
    (:func:`_unseen_src_files`: per-file partials, rebatch- and
    recycled-id-safe). State is the VALUE-DOMAIN trade of the batch
    operator (:func:`operators.sketches.decimal_quantiles`): each new
    file appends its (value-in-``scale``-units, count) table — bounded
    by the file's distinct quantized values, never its rows — and the
    whole-stream quantile is a cumulative-count walk over the merged
    counts frame. Exact at any number of batches (value counts are the
    canonical mergeable summary: merge = integer add), where a KLL/GK
    sketch would trade a rank-error budget for domain-independent
    state; for unbounded-domain columns use that family instead.
    Compaction: :func:`compact_partial_store` rewrites the store as
    the merged counts + seen-file markers under a sentinel ``_src``. Metrics rows: (batch_id, prob, value,
    n_total) per trigger — type-1 lower quantiles, NULLs excluded, the
    decimal_quantiles conventions."""
    from pyspark.sql import Window

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tagged = batch_df.select(
            F.round(F.col(col) * scale).cast("bigint").alias("_v"),
            F.input_file_name().alias("_src"),
        ).filter(F.col("_v").isNotNull())
        tagged, new_files = _unseen_src_files(
            spark, tagged, store_path, batch_id, "_v"
        )
        if new_files:
            (
                tagged.filter(F.col("_src").isin(new_files))
                .groupBy("_src", "_v")
                .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
                .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                .write.mode("append")
                .parquet(store_path)
            )
        fs, store_p = fs_and_path(spark, store_path)
        if not fs.exists(store_p):
            return  # zero-row first batch
        merged = (
            spark.read.parquet(store_path)
            # NULL _v rows are compaction's zero-weight seen-file
            # markers (compact_partial_store), not values
            .filter(F.col("_v").isNotNull())
            .groupBy("_v")
            .agg(F.sum("_c").cast("bigint").alias("_c"))
        )
        # windows run over the value-domain-bounded counts frame, not
        # the stream (the decimal_quantiles post-aggregation shape)
        w = Window.orderBy("_v")
        wall = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = merged.withColumn("_cum", F.sum("_c").over(w)).withColumn(
            "_n", F.sum("_c").over(wall)
        )
        outs = []
        for p in probs:
            need = F.ceil(F.lit(p) * F.col("_n"))
            outs.append(
                cum.filter(
                    (F.col("_cum") >= need) & (F.col("_cum") - F.col("_c") < need)
                ).select(
                    F.lit(batch_id).cast("bigint").alias("batch_id"),
                    F.lit(p).alias("prob"),
                    (F.col("_v") / F.lit(float(scale))).alias("value"),
                    F.col("_n").cast("bigint").alias("n_total"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionAll(o)
        out.write.mode("append").parquet(metrics_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)


def stream_late_audit(
    stream_df: DataFrame,
    store_path: str,
    metrics_path: str,
    checkpoint: str,
    *,
    ts_col: str,
    delay_seconds: int,
) -> None:
    """Late-data audit — the evidence a watermark delay is tuned BY:
    per micro-batch, how many rows arrive with event time older than
    the stream's high-watermark (max event ts over all PRIOR files)
    minus ``delay_seconds``, i.e. exactly the rows a
    ``withWatermark(delay)`` aggregate would have silently dropped.
    Running it beside a windowed pipeline turns "pick 2 hours" from
    folklore into a measured loss curve.

    Durable-store contract of the monitor family
    (:func:`_unseen_src_files`): per-file rows carry (max_ts, n_rows,
    n_late-at-arrival), so replays and recycled batch ids dedup at the
    file grain, and the high-watermark rebuilds from the store (one
    max over O(files) rows) rather than checkpoint state. Metrics:
    (batch_id, n_rows, n_late, hwm) per trigger with new files."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tagged = batch_df.select(
            F.col(ts_col).cast("timestamp_ntz").alias("_ts"),
            F.input_file_name().alias("_src"),
        ).filter(F.col("_ts").isNotNull())
        tagged, new_files = _unseen_src_files(
            spark, tagged, store_path, batch_id, "_ts"
        )
        if not new_files:
            return
        fs, store_p = fs_and_path(spark, store_path)
        have = fs.exists(store_p)
        hwm = None
        if have:
            hwm = (
                spark.read.parquet(store_path)
                .agg(F.max("_max_ts").alias("m"))
                .head(1)[0]["m"]
            )
        sub = tagged.filter(F.col("_src").isin(new_files))
        late = (
            F.lit(False)
            if hwm is None
            else F.col("_ts")
            < (F.lit(hwm) - F.expr(f"INTERVAL {delay_seconds} SECONDS"))
        )
        rows = sub.groupBy("_src").agg(
            F.max("_ts").alias("_max_ts"),
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("_n_late"),
        )
        rows = rows.localCheckpoint()  # compute once: store write + totals
        rows.withColumn("batch_id", F.lit(batch_id).cast("bigint")) \
            .write.mode("append").parquet(store_path)
        # totals from THIS trigger's rows, not a batch_id filter over
        # the store — recycled ids must not mix two batches' totals
        tot = rows.agg(
            F.sum("_n").cast("bigint").alias("n_rows"),
            F.sum("_n_late").cast("bigint").alias("n_late"),
        ).head(1)[0]
        local_df(
            spark,
            [(batch_id, int(tot["n_rows"] or 0), int(tot["n_late"] or 0), hwm)],
            "batch_id bigint, n_rows bigint, n_late bigint, hwm timestamp_ntz",
        ).write.mode("append").parquet(metrics_path)

    _drain(stream_df.writeStream.foreachBatch(_sink), checkpoint)
