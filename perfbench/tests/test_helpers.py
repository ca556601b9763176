"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os

import pytest

from perfbench.gen import STATIONS, WeatherFeed, write_lines, write_star
from perfbench.stats import tail
from perfbench.trace import Recorder, Span, SpanIndex, self_time


# -- tail: highest percentile with at least 10 samples beyond it -------------


def test_tail_100_samples_is_p90():
    value, p = tail(range(1, 101))
    assert p == 90
    assert value == 90  # nearest rank: 10 samples (91..100) lie beyond


def test_tail_leaves_at_least_ten_beyond():
    for n in range(11, 300):
        xs = list(range(n))
        value, p = tail(xs)
        assert sum(1 for x in xs if x > value) >= 10
        # the next percentile up would leave fewer than ten beyond
        if p < 100:
            rank = -(-(p + 1) * n // 100)
            assert n - rank < 10


def test_tail_20_samples_is_the_median_rank():
    value, p = tail([float(i) for i in range(20)])
    assert p == 50 and value == 9.0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail(range(10))


# -- self time on a synthetic span tree -------------------------------------


def _span(i, start, end, parent=None):
    s = Span(i, f"s{i}", start, parent, 1)
    s.end = end
    return s


def test_self_time_subtracts_children_once():
    root = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 4.0, 1),  # overlaps the first child: 1..4 covered
        _span(4, 6.0, 7.0, 1),
        _span(5, 9.5, 12.0, 1),  # runs past the parent: clipped at 10
    ]
    assert self_time(root, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)


def test_span_index_tree():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 5.0, 1),
        _span(3, 2.0, 3.0, 2),
        _span(4, 6.0, 8.0, 1),
    ]
    spans[2].jobs, spans[1].jobs, spans[0].jobs = 2, 1, 1
    ix = SpanIndex(spans)
    assert ix.self_time(spans[0]) == pytest.approx(4.0)
    assert ix.self_time(spans[1]) == pytest.approx(3.0)
    assert ix.inclusive(spans[0], "jobs") == 4
    assert [s.id for s in ix.descendants(spans[0], "s3")] == [3]


def test_recorder_nesting_and_disabled():
    rec = Recorder()
    with rec.span("a", new_trace=True):
        with rec.span("b"):
            pass
    with rec.span("c", new_trace=True):
        pass
    a, b, c = rec.spans
    assert b.parent == a.id and a.parent is None
    assert b.trace_id == a.trace_id != c.trace_id
    rec.enabled = False
    with rec.span("d") as s:
        assert s is None
    assert len(rec.spans) == 3


def test_unit_pattern_balances_traced_units():
    rec = Recorder()
    assert [rec.unit(i) for i in range(9)] == [True] + [False, True, True, False] * 2
    plain = Recorder(enabled=False)
    assert not any(plain.unit(i) for i in range(4))


# -- seed determinism of the generators --------------------------------------


def _write_feed(out, seed):
    feed = WeatherFeed(seed)
    for d in range(3):
        write_lines(os.path.join(out, f"uscrn_{d}.txt"), feed.uscrn_lines(d))
        write_lines(os.path.join(out, f"wind_{d}.txt"), feed.wind_lines(d))
    return feed


def test_ingest_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for p in (a, b, c):
        p.mkdir()
    fa = _write_feed(str(a), 7)
    fb = _write_feed(str(b), 7)
    _write_feed(str(c), 8)
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert differ == names
    assert fa.nws_tables(4) == fb.nws_tables(4)


def test_feed_matches_the_reference_traffic():
    """23 stations (552 USCRN keys a day) and NWS snapshots of 144
    hours on three pages of 48 (3,312 rows), whose forecast hours
    (AKST + 9 h) meet the landed USCRN hours of the same UTC day, so
    the forecast report has matches."""
    import datetime as dt

    assert len({wban for _, wban, *_ in STATIONS}) == len(STATIONS) == 23
    feed = WeatherFeed(1)
    assert feed.uscrn_keys_per_day == 552 and feed.nws_keys_per_snapshot == 3312
    d = 2
    uscrn_hours = {
        dt.datetime.strptime(" ".join(line.split()[1:3]), "%Y%m%d %H%M")
        for line in feed.uscrn_lines(d)
    }
    tables = feed.nws_tables(d)
    assert len(tables) == 23
    pages = tables[0]["pages"]
    assert [len(page["rows"][0]) - 1 for page in pages] == [48, 48, 48]
    hours = [h for page in pages for h in dict((r[0], r[1:]) for r in page["rows"])["Hour (AKST)"]]
    assert [int(h) for h in hours] == [i % 24 for i in range(144)]
    forecast = {feed.day_start(d) + dt.timedelta(hours=i + 9) for i in range(len(hours))}
    assert len(forecast & uscrn_hours) == 15


def test_star_tables_are_byte_identical_per_seed(tmp_path):
    write_star(str(tmp_path / "a"), 3, 0.001)
    write_star(str(tmp_path / "b"), 3, 0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names
