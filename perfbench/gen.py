"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` (or a seed) and
writes plain files; the program under test only ever sees those files.
The same seed gives byte-identical output.

- :func:`write_star` — the TPC-H-ish star plus ``events``, ``documents``
  and ``embeddings`` parquet tables the registry queries read
  (``query_mix``).
- :func:`make_documents` — a small-vocabulary corpus with exact and near
  duplicates (the ``documents`` table).
- :class:`WeatherFeed` — raw USCRN hourly lines, 5-min wind lines and
  NWS landscape tables for consecutive days over the reference's 23
  stations (``ingest``). NWS forecast hours overlap the USCRN hours, so the
  forecast report has matches.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star tables (query_mix) -------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
PART_NOUN = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a the data spark scan sort hash join agg filter group order line part "
    "customer key value row column table query stream batch window merge "
    "vector fast slow big small"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(start: dt.datetime, seconds: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + (seconds * 1e6).astype("timedelta64[us]")


def make_documents(rng: np.random.Generator, n: int) -> dict:
    """``n`` documents of 10–99 words from a 30-word vocabulary. About
    5% are near duplicates of an earlier document (a truncated copy or a
    copy with ``dup`` appended) and about 0.5% exact duplicates, so the
    dedup stages always have work."""
    texts: list[str] = []
    kinds = rng.random(n)
    lengths = rng.integers(10, 100, n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kinds[i] < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if kinds[i] < 0.03 else src[: max(20, len(src) - 8)])
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 10, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, dict]:
    """Column dicts for the star at scale factor ``sf`` (sf 0.01 gives
    60,000 lineitem rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    day0 = dt.datetime(1995, 1, 1)
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(day0, rng.integers(0, 2405, n_ord) * 86400.0),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(day0 + dt.timedelta(days=1), rng.integers(0, 2499, n_line) * 86400.0),
    }
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)],
    }
    t["documents"] = make_documents(rng, 500)
    n_emb = 500
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return t


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every star table as ``<out_dir>/<name>.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in star_tables(np.random.default_rng(seed), sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# -- weather feed (ingest) ---------------------------------------------------

#: (station_location, wbanno, longitude, latitude): the reference's 23
#: Alaska USCRN stations (its ``locations`` dimension). Coordinates are
#: approximate and WBAN numbers need only be distinct five-digit codes.
STATIONS = [
    ("Aleknagik_1_NNE", "25380", -158.61, 59.28),
    ("Bethel_87_WNW", "26656", -164.07, 61.35),
    ("Cordova_14_ESE", "26462", -145.35, 60.47),
    ("Deadhorse_3_S", "26565", -148.46, 70.16),
    ("Denali_27_N", "26563", -149.40, 63.45),
    ("Fairbanks_11_NE", "26494", -147.51, 64.97),
    ("Glennallen_64_N", "26442", -145.51, 62.95),
    ("Gustavus_2_NE", "25381", -135.70, 58.43),
    ("Ivotuk_1_NNE", "26528", -155.74, 68.49),
    ("Kenai_29_ENE", "26559", -150.45, 60.72),
    ("King_Salmon_42_SE", "25630", -156.16, 58.21),
    ("Metlakatla_6_S", "25382", -131.58, 55.04),
    ("Port_Alsworth_1_SW", "26655", -154.32, 60.20),
    ("Red_Dog_Mine_3_SSW", "26633", -162.92, 68.03),
    ("Ruby_44_ESE", "26564", -154.45, 64.50),
    ("Sand_Point_1_ENE", "25631", -160.47, 55.35),
    ("Selawik_28_E", "26634", -159.00, 66.56),
    ("Sitka_1_NE", "25379", -135.33, 57.06),
    ("St._Paul_4_NE", "25713", -170.21, 57.16),
    ("Tok_70_SE", "96406", -141.92, 62.74),
    ("Toolik_Lake_5_ENE", "26627", -149.40, 68.65),
    ("Utqiagvik", "27516", -156.61, 71.32),
    ("Yakutat_3_SSE", "25339", -139.64, 59.51),
]
FOREIGN_WBANNO = "99999"  # lines from a non-Alaska station: filtered at parse
AKST = dt.timedelta(hours=9)
DAY0 = dt.datetime(2023, 3, 1)
#: an NWS snapshot: 144 forecast hours on three pages of 48 (AheadHour
#: 0, 48, 96), as the reference scrapes them
NWS_PAGES, NWS_PAGE_HOURS = 3, 48


class WeatherFeed:
    """Raw inputs for consecutive days starting at ``DAY0`` (UTC), over
    ``stations`` (all 23 by default; the warm-up takes one).

    Day ``d`` covers UTC hours ``DAY0 + d`` 00:00–23:00. Each generator
    is a pure function of ``(seed, d)``, so a day can be regenerated and
    re-delivered byte for byte."""

    def __init__(self, seed: int, stations=STATIONS):
        self.seed = seed
        self.stations = stations

    def _rng(self, kind: int, d: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, kind, d])

    @staticmethod
    def day_start(d: int) -> dt.datetime:
        return DAY0 + dt.timedelta(days=d)

    def uscrn_lines(self, d: int) -> list[str]:
        """24 hourly 38-field lines per station, plus one line of a
        foreign station per hour (dropped by the parser)."""
        rng = self._rng(1, d)
        out = []
        start = self.day_start(d)
        for h in range(24):
            utc = start + dt.timedelta(hours=h)
            lst = utc - AKST
            for name, wban, lon, lat in self.stations + [("x", FOREIGN_WBANNO, -100.0, 40.0)]:
                t = round(float(rng.normal(-8.0, 6.0)), 1)
                rh = round(float(rng.uniform(40, 100)), 0)
                solar = round(float(rng.uniform(0, 300)), 1)
                sur = round(t - float(rng.uniform(0, 4)), 1)
                fields = [
                    wban, utc.strftime("%Y%m%d"), utc.strftime("%H%M"),
                    lst.strftime("%Y%m%d"), lst.strftime("%H%M"), "2.623", lon, lat,
                    t, t, round(t + 1.2, 1), round(t - 1.3, 1), 0.0,
                    solar, 0, solar, 0, solar, 0,
                    "R", sur, 0, sur, 0, sur, 0,
                    rh, 0,
                    -99.0, -99.0, -99.0, -99.0, -99.0,
                    -9999.0, -9999.0, -9999.0, -9999.0, -9999.0,
                ]
                out.append(" ".join(str(f) for f in fields))
        return out

    def wind_lines(self, d: int) -> list[str]:
        """12 five-minute readings per station-hour; about 2% carry a
        bad QC flag and are excluded from the hourly mean."""
        rng = self._rng(2, d)
        out = []
        start = self.day_start(d)
        for h in range(24):
            for m in range(0, 60, 5):
                utc = start + dt.timedelta(hours=h, minutes=m)
                lst = utc - AKST
                for _, wban, lon, lat in self.stations:
                    wind = round(float(rng.gamma(2.0, 1.5)), 2)
                    flag = "3" if rng.random() < 0.02 else "0"
                    out.append(
                        f"{wban} {utc:%Y%m%d} {utc:%H%M} {lst:%Y%m%d} {lst:%H%M} "
                        f"2.623 {lon} {lat} 1.2 {wind} {flag}"
                    )
        return out

    def nws_tables(self, d: int) -> list[dict]:
        """One forecast snapshot per station, issued at 14:00 AKST the
        day before ``d``, for the 144 AKST hours starting 00:00 on day
        ``d``'s local date, on three pages of 48 hours. The first 24
        land at UTC 09:00 day ``d`` through 08:00 day ``d + 1``, so 15
        of them meet day ``d``'s USCRN hours; later hours meet the days
        later ticks land."""
        rng = self._rng(3, d)
        local = self.day_start(d)
        issued = local - dt.timedelta(hours=10)
        stamp = f"{issued.month}/{issued.day}/{issued.year} {issued.hour}:{issued.minute:02d}"
        n = NWS_PAGE_HOURS
        tables = []
        for name, *_ in self.stations:
            pages = []
            for p in range(NWS_PAGES):
                hours = [local + dt.timedelta(hours=p * n + h) for h in range(n)]
                dates = [f"{t.month}/{t.day}" if t.hour == 0 or i == 0 else "" for i, t in enumerate(hours)]
                temps = [str(int(round(x))) for x in rng.normal(17.0, 10.0, n)]
                rows = [
                    ["Date", *dates],
                    ["Hour (AKST)", *[f"{t.hour:02d}" for t in hours]],
                    ["Temperature (°F)", *temps],
                    ["Dewpoint (°F)", *[str(int(x) - 5) for x in temps]],
                    ["Wind Chill (°F)", *[""] * n],
                    ["Surface Wind (mph)", *[str(int(x)) for x in rng.integers(0, 30, n)]],
                    ["Wind Dir", *["NW"] * n],
                    ["Gust", *[""] * n],
                    ["Sky Cover (%)", *[str(int(x)) for x in rng.integers(0, 101, n)]],
                    ["Precipitation Potential (%)", *[str(int(x)) for x in rng.integers(0, 101, n)]],
                    ["Relative Humidity (%)", *[str(int(x)) for x in rng.integers(30, 101, n)]],
                    ["Rain", *["--"] * n],
                    ["Thunder", *["--"] * n],
                    ["Snow", *["SChc"] * n],
                    ["Freezing Rain", *["--"] * n],
                    ["Sleet", *["--"] * n],
                    ["Fog", *["--"] * n],
                ]
                pages.append({"rows": rows})
            tables.append({"location": name, "last_update": stamp, "pages": pages})
        return tables

    @property
    def uscrn_keys_per_day(self) -> int:
        """552 for the 23 stations: the reference's daily USCRN load."""
        return 24 * len(self.stations)

    @property
    def nws_keys_per_snapshot(self) -> int:
        """3,312 for the 23 stations: the reference's NWS scrape."""
        return NWS_PAGES * NWS_PAGE_HOURS * len(self.stations)


def write_lines(path: str, lines: list[str]) -> int:
    """Write ``lines`` as one text file (via a temp name + rename, so a
    streaming file source never sees a half-written file)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)
    return len(lines)
