"""Metric derivation: end-to-end metrics from an untraced run, per-layer
metrics from the spans of a traced run.

Every run prints every metric of its kind, so a per-layer metric of a
layer the workload never calls reads 0 (no time, no work)."""

from __future__ import annotations

from perfbench.stats import TAIL_BEYOND, median, tail


def op_tail(op_s: list[float]) -> tuple[float, int]:
    """:func:`stats.tail`, or the maximum (percentile 100) when a run has
    too few operations for a tail with ``TAIL_BEYOND`` samples beyond."""
    if len(op_s) > TAIL_BEYOND:
        return tail(op_s)
    return max(op_s), 100


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    tail_v, tail_p = op_tail(res["op_s"])
    res["info"].update(
        op_samples=len(res["op_s"]), op_tail_s=tail_v, op_tail_percentile=tail_p,
        op_s=[round(x, 4) for x in res["op_s"]],
    )
    return {
        "setup_s": (res["setup_s"], "s"),
        "success_rate": ((res["attempted"] - res["failed"]) / res["attempted"], "ratio"),
        "op_p50_s": (median(res["op_s"]), "s"),
        "items_per_s": (res["items_per_s"], "items/s"),
    }


def _med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def _per_trace(ix, name: str) -> float:
    """Seconds spent in spans called ``name`` per trace that has any."""
    spans = ix.named(name)
    traces = {s.trace_id for s in spans}
    return sum(s.duration for s in spans) / len(traces) if traces else 0.0


def per_layer(ix, res: dict, queries: list[str]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, derived from the span index ``ix``."""
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (res["session_s"], "s"),
        "session.warmup_s": (res["warmup_s"], "s"),
        "session.jvm_peak_rss_mb": (res["jvm_peak_rss_mb"], "MB"),
    }
    for src in ("uscrn", "wind", "nws"):
        m[f"sources.{src}.build_s"] = (_per_trace(ix, f"sources.{src}.build"), "s")

    # per-load figures cover the cron ticks' loads, not the bulk backfill
    backfill = {s.trace_id for s in ix.named("pipelines.backfill")}

    def tick_spans(name):
        return [s for s in ix.named(name) if s.trace_id not in backfill]

    loads = tick_spans("plans.warehouse.load")
    acct = [s.attrs for s in loads if "staged" in s.attrs]
    staged = sum(a["staged"] for a in acct)
    m.update({
        "plans.warehouse.write_staging_s": (_med(s.duration for s in tick_spans("plans.warehouse.write_staging")), "s"),
        "plans.warehouse.append_main_s": (_med(s.duration for s in tick_spans("plans.warehouse.append_main")), "s"),
        "plans.warehouse.jobs_per_load": (_med(ix.inclusive(s, "jobs") for s in loads), "count"),
        "plans.warehouse.tasks_per_load": (_med(ix.inclusive(s, "tasks") for s in loads), "count"),
        "plans.warehouse.append_yield": (sum(a["appended"] for a in acct) / staged if staged else 0.0, "ratio"),
        "plans.warehouse.files_written_per_load": (_med(a["files_written"] for a in acct), "count"),
        "plans.warehouse.main_files": (float(res.get("main_files", 0)), "count"),
        "plans.warehouse.stored_bytes_per_row": (res.get("stored_bytes_per_row", 0.0), "B/row"),
    })

    streams = ix.named("streaming.stream_to_warehouse")
    m["streaming.stream_to_warehouse_self_s"] = (_med(ix.self_time(s) for s in streams), "s")
    m["streaming.micro_batches"] = (
        _med(len(ix.descendants(s, "plans.warehouse.load")) for s in streams), "count")

    # run_uscrn only runs in the backfill (ticks land USCRN by stream)
    for p in ("run_uscrn", "run_wind", "run_nws"):
        m[f"pipelines.{p}_self_s"] = (_med(ix.self_time(s) for s in ix.named(f"pipelines.{p}")), "s")
    m["pipelines.backfill_s"] = (_med(s.duration for s in ix.named("pipelines.backfill")), "s")

    reports = ix.named("plans.analytics.report")
    m["plans.analytics.report_s"] = (_med(s.duration for s in reports), "s")
    m["plans.analytics.report_tasks"] = (_med(ix.inclusive(s, "tasks") for s in reports), "count")

    total_build = total_jobs = total_tasks = 0.0
    for q in queries:
        build = _med(s.duration for s in ix.named(f"plans.queries.{q}.build"))
        cold = ix.named(f"plans.queries.{q}.cold")
        warm = ix.named(f"plans.queries.{q}.warm")
        jobs = _med(ix.inclusive(s, "jobs") for s in cold)
        m[f"plans.queries.{q}.build_s"] = (build, "s")
        m[f"plans.queries.{q}.cold_s"] = (_med(s.duration for s in cold), "s")
        m[f"plans.queries.{q}.warm_s"] = (_med(s.duration for s in warm), "s")
        m[f"plans.queries.{q}.jobs"] = (jobs, "count")
        total_build += build
        total_jobs += jobs + _med(ix.inclusive(s, "jobs") for s in warm)
        total_tasks += _med(ix.inclusive(s, "tasks") for s in cold) + _med(
            ix.inclusive(s, "tasks") for s in warm)
    # totals per pass (every query once cold, once warm)
    m["plans.queries.build_s"] = (total_build, "s")
    m["plans.queries.jobs"] = (total_jobs, "count")
    m["plans.queries.tasks"] = (total_tasks, "count")
    released = [s.attrs["released"] for s in ix.named("cache.release_tracked") if "released" in s.attrs]
    m["cache.released_per_query"] = (sum(released) / len(released) if released else 0.0, "count")

    m.update(operator_metrics(ix))
    return m


#: operator modules with wrapped entry points (see instrument.LAYER_FUNCTIONS)
OPERATOR_MODULES = (
    "asof", "dedup", "lm", "sessions", "simjoin", "text", "timeseries",
)


def operator_metrics(ix) -> dict[str, tuple[float, str]]:
    """Per operator module, per unit of work (trace): seconds in calls to
    its entry points and the Spark jobs they ran eagerly. A call nested
    in another call of the same module counts once, in the outer one."""
    m = {}
    for mod in OPERATOR_MODULES:
        prefix = f"operators.{mod}."
        spans = [
            s for s in ix.spans
            if s.name.startswith(prefix)
            and not (s.parent in ix.by_id and ix.by_id[s.parent].name.startswith(prefix))
        ]
        traces = {s.trace_id for s in spans} or {None}
        m[f"operators.{mod}.call_s"] = (sum(s.duration for s in spans) / len(traces), "s")
        m[f"operators.{mod}.jobs"] = (sum(ix.inclusive(s, "jobs") for s in spans) / len(traces), "count")
    return m


def trace_overhead(rec, res: dict) -> dict[str, tuple[float, str]]:
    """Traced minus untraced wall of the workload's unit of work (the
    traced run alternates the two, see ``Recorder.unit``), and the
    recorder's own time. The first unit after set-up is left out: it
    meets colder caches, and for ``ingest`` it opens the stream's
    checkpoint."""
    units = res["units"][1:]
    traced = [w for w, on in units if on]
    plain = [w for w, on in units if not on]
    return {
        "trace.overhead_s": (_med(traced) - _med(plain), "s"),
        "trace.bookkeeping_s": (rec.bookkeeping_s, "s"),
        "trace.spans": (float(len(rec.spans)), "count"),
    }
