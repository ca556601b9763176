"""Span wrappers around the program's public layer functions, applied
from the benchmark's side only in the traced run.

``pipelines`` and ``streaming.incremental`` bind their ``sources`` and
``plans.analytics`` helpers by name at import, and the registry queries
reach their operators through ``plans.queries`` or the operator
modules; replacing those module attributes with wrappers puts a span
around each call without touching the program's files. Lazy builders
return a plan, so their spans measure plan construction only; eager
work inside a call lands in its span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import os
import time

import pyarrow.parquet as pq

from alaska_etl_spark.plans.warehouse import Warehouse

_P = "alaska_etl_spark."
#: (module, attribute, span name). Operator spans are named
#: ``operators.<module>.<function>``; the names bound in ``plans.queries``
#: and ``pipelines`` at import are wrapped where the call goes through them.
LAYER_FUNCTIONS = [
    (_P + "pipelines", "parse_uscrn_lines", "sources.uscrn.build"),
    (_P + "streaming.incremental", "parse_uscrn_lines", "sources.uscrn.build"),
    (_P + "pipelines", "parse_wind_lines", "sources.wind.build"),
    (_P + "pipelines", "hourly_wind_avg", "sources.wind.build"),
    (_P + "pipelines", "forecast_long_df", "sources.nws.build"),
    (_P + "pipelines", "pivot_forecast", "sources.nws.build"),
    (_P + "pipelines", "forecast_vs_actual", "plans.analytics.build"),
    (_P + "pipelines", "lead_time_error", "plans.analytics.build"),
    # operators behind the query_mix queries
    (_P + "plans.queries", "asof_join", "operators.asof.asof_join"),
    (_P + "plans.queries", "minhash_near_dup_pairs", "operators.dedup.minhash_near_dup_pairs"),
    (_P + "operators.dedup", "line_dedup", "operators.dedup.line_dedup"),
    (_P + "operators.sessions", "session_stats", "operators.sessions.session_stats"),
    (_P + "operators.timeseries", "ewma", "operators.timeseries.ewma"),
    (_P + "operators.simjoin", "cosine_similarity_join", "operators.simjoin.cosine_similarity_join"),
    (_P + "operators.text", "bm25_topk", "operators.text.bm25_topk"),
    (_P + "operators.lm", "bigram_lm_scores", "operators.lm.bigram_lm_scores"),
]


def table_files(path: str) -> list[str]:
    """Parquet data files under a table directory."""
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def table_rows(path: str) -> int:
    """Row count of a parquet table directory, from file footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in table_files(path))


def _wrap(rec, name, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextlib.contextmanager
def layer_spans(rec):
    """Wrap every function in :data:`LAYER_FUNCTIONS` while the block
    runs, when ``rec`` is in trace mode (untraced runs call the program
    unwrapped)."""
    undo = []
    try:
        if rec.trace_mode:
            for mod_name, attr, span_name in LAYER_FUNCTIONS:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                undo.append((mod, attr, orig))
                setattr(mod, attr, _wrap(rec, span_name, orig))
        yield
    finally:
        for mod, attr, orig in reversed(undo):
            setattr(mod, attr, orig)


class TracedWarehouse(Warehouse):
    """A :class:`Warehouse` whose protocol steps open spans on ``rec``."""

    def __init__(self, spark, root, rec, **kwargs):
        super().__init__(spark, root, **kwargs)
        self.rec = rec

    def load(self, df, table, **kwargs):
        """The protocol, plus (when recording) the load's row and file
        accounting from parquet footers, read outside the load's span
        and counted as recorder time."""
        if not self.rec.enabled:
            return super().load(df, table, **kwargs)
        t0 = time.perf_counter()
        before = set(table_files(self._path(table)))
        self.rec.bookkeeping_s += time.perf_counter() - t0
        with self.rec.span("plans.warehouse.load", table=table) as s:
            out = super().load(df, table, **kwargs)
        t0 = time.perf_counter()
        new = [f for f in table_files(self._path(table)) if f not in before]
        s.attrs.update(
            staged=table_rows(self._path(f"{table}_staging")),
            appended=sum(pq.ParquetFile(f).metadata.num_rows for f in new),
            files_written=len(new),
        )
        self.rec.bookkeeping_s += time.perf_counter() - t0
        return out

    def write_staging(self, df, table):
        with self.rec.span("plans.warehouse.write_staging", table=table):
            return super().write_staging(df, table)

    def append_main(self, table, **kwargs):
        with self.rec.span("plans.warehouse.append_main", table=table):
            return super().append_main(table, **kwargs)
