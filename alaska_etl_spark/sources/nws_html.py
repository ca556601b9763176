"""Real-HTML NWS MapClick "digital" page parsing (SURVEY §2.1 S7-S9).

The reference scrapes forecast.weather.gov with BeautifulSoup
(reference airflow/dags/utils/utils.py:165-211): the forecast landscape
lives in ``soup.find_all("table")[5]``, whose rows split into two
24-hour half-tables separated by colspan divider rows; cell values are
the texts of ``<font>`` elements; the page timestamp is a ``td``
containing ``Last Update:``. The fetch plan is a grid of
(location × AheadHour ∈ {0, 48, 96}) pages (reference
airflow/dags/nws_dag.py:62-77).

This module re-creates those semantics on the standard library only
(``html.parser`` — BS4 is not a dependency of this engine), driver-side
by design: one page is ~50 KB and a full Alaska scrape is 23 locations
× 3 pages; the *output* is what Spark receives (sources/nws.py types
it in one driver-side pass and hands it over as one Arrow relation).
At ingest scale the grid composer takes any injected ``fetch``
(sources/fetch.py) so pages can also be fetched executor-side via a
urls-DataFrame + mapInPandas if a deployment ever scrapes thousands of
points.

Structural mirroring of BS4 used by the reference and re-created here:

- ``find_all("table")`` returns tables in *document order of their
  opening tags*, including nested tables — the forecast table is
  index 5 only under that ordering.
- ``tr != table_records[0]`` removes every row that renders identically
  to the first (both colspan divider rows) — Tag equality in BS4 is
  rendered-markup equality, so we compare raw source spans.
- ``tr.find_all("font")`` collects *descendant* fonts in order.
"""

from __future__ import annotations

import re
from datetime import datetime
from html import unescape
from html.parser import HTMLParser
from typing import Any, Iterable

from alaska_etl_spark.sources.fetch import Fetch

# ---------------------------------------------------------------------------
# low-level HTML table model
# ---------------------------------------------------------------------------


class _Row:
    __slots__ = ("fonts", "text", "raw_start", "raw_end")

    def __init__(self, raw_start: int) -> None:
        self.fonts: list[str] = []
        self.text: list[str] = []
        self.raw_start = raw_start
        self.raw_end = raw_start


class _Table:
    __slots__ = ("rows",)

    def __init__(self) -> None:
        self.rows: list[_Row] = []


class _PageParser(HTMLParser):
    """Collects every table (document order of opening tags), its rows,
    each row's font-cell texts, and every td's text (for the
    ``Last Update:`` cell). Tolerates the old-school HTML on NWS pages:
    an unclosed ``<tr>`` is closed implicitly by the next ``<tr>`` /
    ``</table>``."""

    def __init__(self, html: str) -> None:
        super().__init__(convert_charrefs=True)
        self._html = html
        # absolute offset of each line start, for getpos() → offset
        self._line_off = [0]
        for m in re.finditer("\n", html):
            self._line_off.append(m.end())
        self.tables: list[_Table] = []
        self._table_stack: list[_Table] = []
        self._row_stack: list[_Row] = []
        # per open table: _row_stack depth when it opened — a <tr> may only
        # implicitly close rows opened by the *innermost* table, so a nested
        # table's first <tr> doesn't pop the enclosing outer row (BS4 keeps
        # the outer row open across nested tables; MapClick headers nest).
        self._row_marks: list[int] = []
        self._font_depth = 0
        self._td_texts: list[str] = []
        self._td_buf: list[str] | None = None

    # -- offsets ---------------------------------------------------------
    def _pos(self) -> int:
        line, off = self.getpos()
        return self._line_off[line - 1] + off

    # -- tag events ------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag == "table":
            t = _Table()
            self.tables.append(t)
            self._table_stack.append(t)
            self._row_marks.append(len(self._row_stack))
        elif tag == "tr":
            if self._table_stack:
                if len(self._row_stack) > self._row_marks[-1]:
                    # implicit close of a dangling row in THIS table only
                    self._close_row()
                row = _Row(self._pos())
                self._table_stack[-1].rows.append(row)
                self._row_stack.append(row)
            elif self._row_stack:  # <tr> outside any table: old tolerant path
                self._close_row()
        elif tag == "font":
            self._font_depth += 1
            if self._row_stack:
                self._row_stack[-1].fonts.append("")
        elif tag == "td":
            self._td_buf = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "table":
            if self._table_stack:
                mark = self._row_marks.pop()
                while len(self._row_stack) > mark:
                    self._close_row()
                self._table_stack.pop()
        elif tag == "tr":
            # a stray </tr> in a table with no open row must not close an
            # outer table's row
            if self._row_stack and (
                not self._row_marks or len(self._row_stack) > self._row_marks[-1]
            ):
                # raw span ends after the closing tag text
                self._row_stack[-1].raw_end = self._pos() + len("</tr>")
                self._row_stack.pop()
        elif tag == "font":
            self._font_depth = max(0, self._font_depth - 1)
        elif tag == "td":
            if self._td_buf is not None:
                self._td_texts.append("".join(self._td_buf))
            self._td_buf = None

    def _close_row(self) -> None:
        row = self._row_stack.pop()
        if row.raw_end <= row.raw_start:
            row.raw_end = self._pos()

    def handle_data(self, data: str) -> None:
        if self._row_stack:
            self._row_stack[-1].text.append(data)
            if self._font_depth and self._row_stack[-1].fonts:
                self._row_stack[-1].fonts[-1] += data
        if self._td_buf is not None:
            self._td_buf.append(data)

    # -- views -----------------------------------------------------------
    def row_raw(self, row: _Row) -> str:
        return self._html[row.raw_start : row.raw_end]


def parse_page(html: str) -> _PageParser:
    p = _PageParser(html)
    p.feed(html)
    p.close()
    return p


# ---------------------------------------------------------------------------
# S8: page-metadata extract
# ---------------------------------------------------------------------------

#: the reference's exact cleanup regex (utils/utils.py:176):
#: "Last Update: 3:03 pm AKST Dec 18, 2023" → "3:03pm Dec 18 2023"
_LAST_UPDATE_CLEAN = re.compile(r"Last Update: |\s(?=pm|am)|AKST |,")
_LAST_UPDATE_FMT = "%I:%M%p %b %d %Y"


def get_last_update(html: str, *, page: _PageParser | None = None) -> datetime:
    """S8: find the ``Last Update:`` td and parse its timestamp
    (reference get_last_update_nws, utils/utils.py:165-178 — which
    returns the *string*; the datetime parse happens at the XCom
    boundary there, here immediately)."""
    p = page or parse_page(html)
    for txt in p._td_texts:
        if "Last Update:" in txt:
            cleaned = _LAST_UPDATE_CLEAN.sub("", unescape(txt)).strip()
            return datetime.strptime(cleaned, _LAST_UPDATE_FMT)
    raise ValueError("no 'Last Update:' cell on page")


# ---------------------------------------------------------------------------
# S7: forecast-table extraction
# ---------------------------------------------------------------------------


def extract_forecast_rows(html: str, *, table_index: int = 5) -> list[list[str]]:
    """Real-HTML counterpart of the reference's ``extract_table_data``
    (utils/utils.py:180-211): take ``find_all("table")[table_index]``,
    drop every row identical to the first (the two colspan dividers
    between the 24 h half-tables), read each remaining row as the texts
    of its ``<font>`` cells, and concatenate the two halves attr-wise.

    Returns rows ``[attr, v1, ..., v48]`` — the reference reaches the
    same 48-wide shape via its transpose dict merging first/second-half
    columns by header name (utils/utils.py:215-231)."""
    p = parse_page(html)
    if len(p.tables) <= table_index:
        raise ValueError(
            f"page has {len(p.tables)} tables; forecast table expected at "
            f"index {table_index} (MapClick layout change?)"
        )
    records = p.tables[table_index].rows
    if not records:
        raise ValueError("forecast table has no rows")
    divider_raw = p.row_raw(records[0])
    rows = [
        [unescape(c).strip() for c in r.fonts]
        for r in records
        if p.row_raw(r) != divider_raw
    ]
    rows = [r for r in rows if r]  # spacer rows carry no font cells
    if len(rows) % 2 != 0:
        raise ValueError(f"expected two equal half-tables, got {len(rows)} attr rows")
    half = len(rows) // 2
    out: list[list[str]] = []
    for i in range(half):
        a, b = rows[i], rows[half + i]
        if a[0] != b[0]:
            raise ValueError(f"half-table attr mismatch: {a[0]!r} vs {b[0]!r}")
        out.append([a[0], *a[1:], *b[1:]])
    return out


# ---------------------------------------------------------------------------
# S9: the (location × AheadHour) fetch grid
# ---------------------------------------------------------------------------

#: the reference's full digital-forecast URL template
#: (get_nws_url, utils/utils.py:151-163)
_DIGITAL_URL = (
    "https://forecast.weather.gov/MapClick.php?w0=t&w1=td&w2=wc&w3=sfcwind&w3u=1"
    "&w4=sky&w5=pop&w6=rh&w7=rain&w8=thunder&w9=snow&w10=fzg&w11=sleet&w12=fog"
    "&AheadHour=0&Submit=Submit&FcstType=digital&textField1={lat}&textField2={lon}"
    "&site=all&unit=0&dd=&bw=&menu=1"
)


def digital_forecast_url(lat: float, lon: float) -> str:
    return _DIGITAL_URL.format(lat=lat, lon=lon)


def fetch_forecast_tables(
    fetch: Fetch,
    locations: Iterable[tuple[str, float, float]],
    *,
    ahead_hours: tuple[int, ...] = (0, 48, 96),
    table_index: int = 5,
) -> list[dict[str, Any]]:
    """S9: build and run the fetch grid — for every (location, lat, lon)
    fetch the AheadHour ∈ {0, 48, 96} digital pages (144 h of forecasts)
    and parse each into the ``tables`` contract that
    :func:`alaska_etl_spark.sources.nws.pivot_forecast` consumes, as
    ``pipelines.run_nws`` does (reference get_forecast_dict,
    nws_dag.py:62-77: the same loop with ``url + f"&AheadHour={hr}"``).

    Each page's own ``Last Update:`` timestamp becomes that page's
    ``last_update`` ('M/D/YYYY H:mm') — the reference stamps per page
    (extract_table_data calls get_last_update_nws per soup), so if the
    forecast refreshes mid-grid the later pages carry the newer version
    stamp rather than inheriting page 0's. The table-level
    ``last_update`` is page 0's, kept for callers that want one snapshot
    id per location."""

    def _stamp(dt: datetime) -> str:
        return f"{dt.month}/{dt.day}/{dt.year} {dt.hour}:{dt.minute:02d}"

    tables: list[dict[str, Any]] = []
    for location, lat, lon in locations:
        url = digital_forecast_url(lat, lon)
        pages = []
        first_update: datetime | None = None
        for hr in ahead_hours:
            html = fetch(url + f"&AheadHour={hr}")
            page = parse_page(html)
            page_update = get_last_update(html, page=page)
            if first_update is None:
                first_update = page_update
            pages.append(
                {
                    "rows": extract_forecast_rows(html, table_index=table_index),
                    "last_update": _stamp(page_update),
                }
            )
        assert first_update is not None
        tables.append(
            {
                "location": location,
                "last_update": _stamp(first_update),
                "pages": pages,
            }
        )
    return tables
