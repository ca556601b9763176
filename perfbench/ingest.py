"""``ingest``: the reference's own job — a bulk backfill, then daily cron
ticks that land USCRN (streaming, 50% re-delivered rows), wind and an
NWS snapshot, with a verbatim retry and a forecast report every few
ticks. One client, closed loop: each tick starts when the last ended."""

from __future__ import annotations

import os
import shutil
import time

from perfbench.gen import STATIONS, WeatherFeed, write_lines
from perfbench.instrument import TracedWarehouse, layer_spans, table_files, table_rows
from perfbench.stats import median

BACKFILL_BATCHES = 3  # rows/s is taken over the median batch
BATCH_DAYS = 3
RETRY_EVERY = 2  # ticks 1, 3, 5, ... are retried verbatim, then reported
MIN_TICKS = 1
KEYS = ["wbanno", "utc_datetime"]
TABLES = ("uscrn", "uscrn_wind", "nws")


def expected_wind_keys(lines: list[str]) -> set:
    """(wbanno, UTC hour) pairs with at least one reading that passes QC."""
    keys = set()
    for line in lines:
        f = line.split()
        if f[-1] == "0" and float(f[-2]) >= 0:
            keys.add((f[0], f[1], f[2][:2]))
    return keys


class Ingest:
    def __init__(self, spark, rec, work: str, seed: int, stations=STATIONS):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.feed = WeatherFeed(seed, stations)
        self.locations = spark.createDataFrame(
            STATIONS, "station_location string, wbanno string, longitude double, latitude double"
        )
        self.load_s: list[float] = []
        self.report_s: list[float] = []
        self.failed = 0
        self.attempted = 0
        self.wind_keys: set = set()
        self.nws_rows = 0
        self.uscrn_days: set = set()

    # -- steps ---------------------------------------------------------

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"ingest check failed: {what}", flush=True)

    def _timed(self, name, fn, samples=None):
        """Run ``fn`` under a span named ``name`` and append its wall to
        ``samples`` (the load samples by default)."""
        t0 = time.perf_counter()
        with self.rec.span(name):
            out = fn()
        (self.load_s if samples is None else samples).append(time.perf_counter() - t0)
        return out

    def backfill(self, wh, days: range) -> tuple[int, float]:
        from alaska_etl_spark.pipelines import run_uscrn, run_wind

        raw = os.path.join(self.work, "raw_backfill")
        os.makedirs(raw, exist_ok=True)
        u_paths, w_paths, n_lines = [], [], 0
        for d in days:
            u, w = os.path.join(raw, f"uscrn_{d}.txt"), os.path.join(raw, f"wind_{d}.txt")
            n_lines += write_lines(u, self.feed.uscrn_lines(d))
            wl = self.feed.wind_lines(d)
            n_lines += write_lines(w, wl)
            self.wind_keys |= expected_wind_keys(wl)
            self.uscrn_days.add(d)
            u_paths.append(u)
            w_paths.append(w)
        t0 = time.perf_counter()
        with self.rec.span("pipelines.backfill", new_trace=True):
            with self.rec.span("pipelines.run_uscrn"):
                run_uscrn(self.spark, wh, self.spark.read.text(u_paths), self.locations)
            with self.rec.span("pipelines.run_wind"):
                run_wind(self.spark, wh, self.spark.read.text(w_paths), self.locations)
        return n_lines, time.perf_counter() - t0

    def tick(self, wh, d: int, *, retry: bool = False) -> float:
        """Land day ``d``; returns the summed wall of its load calls. The
        USCRN file re-delivers day ``d - 1`` too; a retry re-delivers the
        tick's exact inputs under new names."""
        from alaska_etl_spark.pipelines import PARTITION_COL, _with_partition, run_nws, run_wind
        from alaska_etl_spark.streaming.incremental import stream_to_warehouse, stream_uscrn

        tag = f"{d}r" if retry else f"{d}"
        stream_dir = os.path.join(self.work, "stream_uscrn")
        os.makedirs(stream_dir, exist_ok=True)
        write_lines(
            os.path.join(stream_dir, f"uscrn_{tag}.txt"),
            self.feed.uscrn_lines(d - 1) + self.feed.uscrn_lines(d),
        )
        wind_path = os.path.join(self.work, "raw_wind", f"wind_{tag}.txt")
        os.makedirs(os.path.dirname(wind_path), exist_ok=True)
        wl = self.feed.wind_lines(d)
        write_lines(wind_path, wl)
        tables = self.feed.nws_tables(d)
        year = self.feed.day_start(d).year

        with self.rec.span("ingest.tick", new_trace=True, day=d, retry=retry):
            self._timed(
                "streaming.stream_to_warehouse",
                lambda: stream_to_warehouse(
                    _with_partition(stream_uscrn(self.spark, stream_dir, self.locations)),
                    wh,
                    "uscrn",
                    os.path.join(self.work, "ckpt_uscrn"),
                    key_cols=KEYS,
                    partition_col=PARTITION_COL,
                ),
            )
            self._timed(
                "pipelines.run_wind",
                lambda: run_wind(self.spark, wh, self.spark.read.text(wind_path), self.locations),
            )
            self._timed("pipelines.run_nws", lambda: run_nws(self.spark, wh, tables, year=year))
        if not retry:
            self.wind_keys |= expected_wind_keys(wl)
            self.nws_rows += self.feed.nws_keys_per_snapshot
            self.uscrn_days.add(d)
        return sum(self.load_s[-3:])

    def report(self, wh):
        from alaska_etl_spark.pipelines import run_forecast_report

        return self._timed(
            "plans.analytics.report", lambda: run_forecast_report(wh).collect(), self.report_s
        )

    def landed(self, root: str) -> dict[str, int]:
        return {t: table_rows(os.path.join(root, t)) for t in TABLES}

    def expected(self) -> dict[str, int]:
        return {
            "uscrn": self.feed.uscrn_keys_per_day * len(self.uscrn_days),
            "uscrn_wind": len(self.wind_keys),
            "nws": self.nws_rows,
        }


def make_inputs(work: str, seed: int) -> dict:
    """Raw files are generated per day as the run reaches it."""
    return {"work": work, "seed": seed}


def warm_up(spark, inputs: dict) -> None:
    """One untimed iteration at the smallest input: a one-day backfill,
    one tick and one report of one station into a throw-away
    warehouse."""
    from perfbench.trace import Recorder

    work = inputs["work"]
    off = Recorder(enabled=False)
    job = Ingest(spark, off, os.path.join(work, "warmup"), inputs["seed"] + 1, STATIONS[:1])
    wh = TracedWarehouse(spark, os.path.join(work, "warmup", "wh"), off)
    job.backfill(wh, range(1))
    job.tick(wh, 1)
    job.report(wh)
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)


def run(spark, rec, inputs: dict, seconds: float) -> dict:
    """Backfill, then ticks while they fit in ``seconds`` (at least
    ``MIN_TICKS``). The units of work a traced run alternates between
    traced and untraced are first ticks; the backfill and every retry
    (which lands no rows) are recorded in trace mode and are no units."""
    work = inputs["work"]
    job = Ingest(spark, rec, work, inputs["seed"])
    root = os.path.join(work, "wh")
    wh = TracedWarehouse(spark, root, rec)
    deadline = time.perf_counter() + seconds
    units: list[tuple[float, bool]] = []
    with layer_spans(rec):
        rec.enabled = rec.trace_mode
        batches = [
            job.backfill(wh, range(b * BATCH_DAYS, (b + 1) * BATCH_DAYS))
            for b in range(BACKFILL_BATCHES)
        ]
        d = BACKFILL_BATCHES * BATCH_DAYS
        ticks = 0
        last = 0.0
        min_ticks = 3 if rec.trace_mode else MIN_TICKS  # traced: first, then off, on
        # start another tick only if one as long as the last still fits
        while ticks < min_ticks or time.perf_counter() + last < deadline:
            t0 = time.perf_counter()
            traced = rec.unit(len(units))
            units.append((job.tick(wh, d), traced))
            ticks += 1
            if ticks % RETRY_EVERY == 1:
                before = job.landed(root)
                rec.enabled = rec.trace_mode
                job.tick(wh, d, retry=True)
                job._check(job.landed(root) == before, f"retry of day {d} appended rows")
                job._check(len(job.report(wh)) > 0, "forecast report is empty")
            last = time.perf_counter() - t0
            d += 1
    landed = job.landed(root)
    job._check(landed == job.expected(), f"landed {landed} != expected {job.expected()}")
    job._check(check_report(spark, wh, root), "forecast report differs from DuckDB")
    from alaska_etl_spark.plans.warehouse import data_bytes

    stored_per_row = sum(data_bytes(spark, os.path.join(root, t)) for t in TABLES) / sum(
        landed.values()
    )
    main_files = {t: len(table_files(os.path.join(root, t))) for t in TABLES}
    return {
        "attempted": job.attempted + len(job.load_s) + len(job.report_s),
        "failed": job.failed,
        "op_s": job.load_s,
        "items_per_s": median(n / wall for n, wall in batches),
        "units": units,
        "main_files": sum(main_files.values()),
        "stored_bytes_per_row": stored_per_row,
        "info": {
            "op": "one load call: USCRN stream tick, wind or NWS load, first or retried",
            "items": "raw input rows landed per second by a backfill batch (median batch)",
            "backfill_rows": [n for n, _ in batches],
            "backfill_s": [wall for _, wall in batches],
            "report_p50_s": median(job.report_s),
            "report_samples": len(job.report_s),
            "stored_bytes_per_row": stored_per_row,
            "ticks": ticks,
            "landed_rows": landed,
            "main_files": main_files,
        },
    }


REPORT_SQL = """
SELECT station_location,
       CAST(floor(lead_hours / 24) * 24 AS BIGINT) AS lead_bucket,
       avg(abs(f - a)) AS mae, avg(f - a) AS bias, count(*) AS n_matched
FROM (
  SELECT n.location AS station_location, CAST(n.temperature_f AS DOUBLE) AS f,
         u.t_hr_avg AS a,
         (epoch(n.utc_datetime) - epoch(n.last_update_nws)) / 3600.0 AS lead_hours
  FROM read_parquet('{root}/nws/**/*.parquet', hive_partitioning = true) n
  JOIN read_parquet('{root}/uscrn/**/*.parquet', hive_partitioning = true) u
    ON n.location = u.station_location AND n.utc_datetime = u.utc_datetime
) WHERE lead_hours >= 0
GROUP BY 1, 2
"""


def check_report(spark, wh, root: str) -> bool:
    """Recompute the forecast report on DuckDB over the landed parquet
    and compare with the program's (rounded aggregates to 1e-3)."""
    import duckdb

    from alaska_etl_spark.pipelines import run_forecast_report

    ours = {
        (r.station_location, r.lead_bucket): (r.mae_temp_f, r.bias_temp_f, r.n_matched)
        for r in run_forecast_report(wh).collect()
    }
    con = duckdb.connect()
    try:
        theirs = {
            (s, b): (m, bias, n)
            for s, b, m, bias, n in con.execute(REPORT_SQL.format(root=root)).fetchall()
        }
    finally:
        con.close()
    if not ours or set(ours) != set(theirs):
        return False
    return all(
        ours[k][2] == theirs[k][2]
        and abs(ours[k][0] - theirs[k][0]) <= 1e-3
        and abs(ours[k][1] - theirs[k][1]) <= 1e-3
        for k in ours
    )
