"""NWS forecast-table ingest: landscape tables → typed snapshot rows
(SURVEY §2.1 S7-S9, §2.8 U3, §2.6 W1, §2.9 F5/F6).

The scraped NWS page carries the forecast "landscape": one row per
attribute, one column per forecast hour, in two 24-hour half-tables per
(location, AheadHour page) (reference airflow/dags/utils/utils.py:180-231).
The reference transposes dict-side (``transpose_as_dict``) and
forward-fills the sparse Date row with an in-place list walk
(utils/utils.py:144-149). Here:

- :func:`pivot_forecast` is one driver-side pass over the scraped
  cells, which already arrive in forecast-hour order: pivot, Date
  forward fill, year-aware datetimes (year is an injected parameter,
  fixing the reference's ``datetime.now().year`` Dec→Jan rollover bug,
  nws_dag.py:97-100), fixed-offset UTC, sentinel fills, typed casts and
  the keep-earliest dedup. A scrape is 3,312 rows, so a Spark plan for
  this costs more in shuffles and Python-worker scans than the work;
- :func:`forecast_long_df` hands the typed rows to Spark as one
  single-partition relation built from a ``pyarrow.Table``, in the
  declared :data:`~alaska_etl_spark.schemas.NWS_SCHEMA`.

Casts follow Spark's ANSI string casts, which the earlier Spark plan
ran: a cell that cast rejected raises ``ValueError`` here, never lands
as NULL. The one deliberate difference is stricter: Java's hexadecimal
floats (``0x1p3``) raise.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import re
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from alaska_etl_spark.functions.cleaning import normalize_column_name
from alaska_etl_spark.functions.conversions import AKST_OFFSET_HOURS
from alaska_etl_spark.plans.warehouse import AUDIT_COL
from alaska_etl_spark.schemas import NWS_SCHEMA

#: landscape attribute rows, scrape order (FIXTURES §3)
NWS_ATTRS = [
    "Date",
    "Hour (AKST)",
    "Temperature (°F)",
    "Dewpoint (°F)",
    "Wind Chill (°F)",
    "Surface Wind (mph)",
    "Wind Dir",
    "Gust",
    "Sky Cover (%)",
    "Precipitation Potential (%)",
    "Relative Humidity (%)",
    "Rain",
    "Thunder",
    "Snow",
    "Freezing Rain",
    "Sleet",
    "Fog",
]
_ATTRS = frozenset(NWS_ATTRS)

#: what :func:`forecast_long_df` hands to Spark: ``NWS_SCHEMA`` without
#: the audit column the append adds, and without field metadata, so the
#: landed files keep their schema.
FORECAST_SCHEMA = StructType(
    [StructField(f.name, f.dataType, f.nullable) for f in NWS_SCHEMA if f.name != AUDIT_COL]
)
_ARROW_SCHEMA = to_arrow_schema(FORECAST_SCHEMA)

# Spark's string -> number casts trim these first: bytes <= 0x20 (and
# DEL for integers), then accept exactly these spellings.
_LONG_TRIM = "".join(map(chr, range(0x21))) + "\x7f"
_DOUBLE_TRIM = _LONG_TRIM[:-1]
_LONG = re.compile(r"[+-]?[0-9]+")
_DOUBLE = re.compile(r"[+-]?(?:NaN|Infinity|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?[fFdD]?)")
_DOUBLE_WORDS = {"inf", "+inf", "infinity", "+infinity", "-inf", "-infinity", "nan"}
# 'M/d/yyyy H:mm' as Spark parses it: unpadded or padded fields, a
# four-digit year, two-digit minutes
_STAMP = re.compile(r"([0-9]+)/([0-9]+)/([0-9]{4}) ([0-9]+):([0-9]{2})")


def _to_long(cell: str, bits: int = 64) -> int:
    t = cell.strip(_LONG_TRIM)
    if _LONG.fullmatch(t) and -(2 ** (bits - 1)) <= int(t) < 2 ** (bits - 1):
        return int(t)
    raise ValueError(f"cannot cast {cell!r} to a {bits}-bit integer")


def _to_double(cell: str) -> float:
    t = cell.strip(_DOUBLE_TRIM)
    if _DOUBLE.fullmatch(t):
        return float(t.rstrip("fFdD"))
    if t.lower() in _DOUBLE_WORDS:
        return float(t)
    raise ValueError(f"cannot cast {cell!r} to a double")


def _timestamp(text: str) -> dt.datetime:
    m = _STAMP.fullmatch(text)
    if m:
        month, day, year, hour, minute = map(int, m.groups())
        with contextlib.suppress(ValueError, OverflowError):
            return dt.datetime(year, month, day, hour, minute)
    raise ValueError(f"cannot parse {text!r} as 'M/d/yyyy H:mm'")


_CASTS = {LongType(): _to_long, DoubleType(): _to_double}
_ATTR_OF = {normalize_column_name(a): a for a in NWS_ATTRS}
#: (attribute row, cast or None for raw strings, value of a blank cell)
#: per value column, in schema order from ``temperature_f`` to ``fog``
_VALUES = [
    (_ATTR_OF[f.name], _CASTS.get(f.dataType), 0 if f.name == "gust" else None)
    for f in FORECAST_SCHEMA.fields[3:-1]
]
_UTC_OFFSET = dt.timedelta(hours=AKST_OFFSET_HOURS)


def _first_month(hours: dict[int, dict[str, str]]) -> int | None:
    """Month of the first non-blank Date of one snapshot's positions."""
    for seq in sorted(hours):
        date = (hours[seq].get("Date") or "").strip(" ")
        if date:
            return _to_long(date.split("/")[0], 32)
    return None


def pivot_forecast(tables: Iterable[dict[str, Any]], *, year: int) -> list[tuple]:
    """Scraped landscape tables → one typed tuple per (location,
    forecast hour), in :data:`FORECAST_SCHEMA` order.

    Each input dict: ``{"location": str, "last_update": str
    ('M/D/YYYY H:mm' page timestamp), "pages": [ {"rows":
    [[attr, v1, ... v24], ...]} , ...]}`` — ``pages`` in AheadHour order
    (0, 48, 96), each page's rows covering its half-tables already
    concatenated (the reference merges the two 24 h halves the same way,
    utils/utils.py:194-195). A page dict may carry its own
    ``last_update`` (the per-page ``Last Update:`` stamp, as
    :func:`~alaska_etl_spark.sources.nws_html.fetch_forecast_tables`
    emits) which overrides the table-level one for that page's rows —
    mirroring the reference's per-soup stamping.

    Rows whose attribute is not in :data:`NWS_ATTRS` are skipped. A
    table's forecast-hour positions run on across its pages; a page is
    as wide as its longest remaining row. Per (location, last_update),
    in that order:

    - Date is forward-filled over its blank cells (ASCII spaces trimmed);
    - ``year`` is the year of the first date of the table's first page;
      a later month smaller than that first month is in ``year + 1``
      (the rollover the reference's wall-clock year could not do,
      SURVEY §7.4). A page with its own stamp keeps its table's first
      month, so a refreshed page issued in December whose hours start
      on 1/1 lands in ``year + 1``;
    - utc = local + 9 h, fixed offset (no DST);
    - a blank Gust is 0 and any other blank number NULL (P8, reference
      nws_dag.py:94); flags and Wind Dir stay raw strings;
    - when a cell repeats an attribute at one position, the first wins.

    Overlapping AheadHour pages repeat boundary hours (reference
    nws_dag.py:106-111): per (location, utc, local hour) the earliest
    position wins, and the first table given on a tie.
    """
    # (location, last_update) -> position -> attribute -> cell
    snaps: dict[tuple, dict[int, dict[str, str]]] = {}
    # (location, last_update) -> the snapshot holding its first table's
    # first page, whose first month anchors the year rollover
    anchors: dict[tuple, tuple] = {}
    for tbl in tables:
        loc, tbl_update = tbl["location"], tbl["last_update"]
        seq_base = 0
        first = None
        for page in tbl["pages"]:
            snap = (loc, page.get("last_update", tbl_update))
            first = first or snap
            anchors.setdefault(snap, first)
            hours = snaps.setdefault(snap, {})
            width = 0
            for attr, *cells in page["rows"]:
                if attr not in _ATTRS:
                    continue
                width = max(width, len(cells))
                for seq, cell in enumerate(cells, seq_base):
                    hours.setdefault(seq, {}).setdefault(attr, cell)
            seq_base += width

    kept: dict[tuple, tuple[int, tuple]] = {}
    for (loc, stamp), hours in snaps.items():
        if not hours:
            continue
        issued = None if stamp is None else _timestamp(stamp)
        date = None
        first_month = _first_month(snaps[anchors[loc, stamp]])
        for seq in sorted(hours):
            cells = hours[seq]
            date = (cells.get("Date") or "").strip(" ") or date
            if date is None:
                raise ValueError(f"{loc} {stamp}: no Date before position {seq}")
            month = _to_long(date.split("/")[0], 32)
            if first_month is None:
                first_month = month
            hour = cells.get("Hour (AKST)")
            if hour is None:
                raise ValueError(f"{loc} {stamp}: no Hour (AKST) at position {seq}")
            row_year = year + (month < first_month)
            lst = _timestamp(f"{date}/{row_year} {_to_long(hour, 32)}:00")
            values = []
            for attr, cast, blank in _VALUES:
                cell = cells.get(attr)
                if cast is not None and cell is not None:
                    cell = cell.strip(" ")
                    cell = cast(cell) if cell else blank
                values.append(cell)
            key = (loc, lst)
            if key not in kept or seq < kept[key][0]:
                kept[key] = (seq, (loc, lst + _UTC_OFFSET, lst, *values, issued))
    return [row for _, row in kept.values()]


def forecast_long_df(spark, rows: list[tuple]) -> DataFrame:
    """:func:`pivot_forecast` rows → one single-partition Spark relation
    in :data:`FORECAST_SCHEMA`, handed over as one ``pyarrow.Table``.

    Spark sees a local relation: no Python-worker scan and no shuffle
    before the staging write, and one partition, so an append writes
    one file per ``utc_date``. The typing stays in
    :func:`pivot_forecast`: Catalyst folds any projection over a local
    relation on the driver, interpreted, at optimize time.

    The name is the earlier long-row builder's: perfbench's layer hooks
    patch ``pipelines.forecast_long_df`` and ``pipelines.pivot_forecast``
    by attribute, until spans move into the program (ROADMAP item 6).
    """
    columns = list(zip(*rows)) or [[] for _ in FORECAST_SCHEMA]
    table = pa.Table.from_arrays(columns, schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, FORECAST_SCHEMA).coalesce(1)
