"""Each worksheet byte is scanned once where one scan suffices.

Two places used to scan bytes a second time:

* The interval-stats author (``indexer._analyze_interval``) now reads an
  interval through the reader's dense row pattern
  (``parser.build_dense_row_re``): one ``findall`` yields every column's
  raw ``<v>`` values. The per-cell ``cell_re`` scan runs only over the
  rows before the first template match (a worksheet opener and header
  row), or over the whole interval when a later row deviates from the
  template. The differential below requires both paths to give equal
  claims on generated intervals, and a guard requires a big_sheet-shaped
  interval to make no per-cell scan at all.
* A sharded read (``XlsxWorkbook._drive_chunks``) row-counts a chunk it
  does not own only while the global row ordinal is below ``skip_rows``.
  Reads that skip rows across several 1 MB chunks must equal the
  single-shard read, and a guard pins that no unowned chunk is counted
  once ``skip_rows`` is passed.
"""

from __future__ import annotations

import io
import random
import re
import sys
import zipfile

import pytest

import sheetreader_duckdb_spark.sources.xlsx.parser as P
from sheetreader_duckdb_spark.sources.xlsx import indexer as IX
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
from tests.test_xlsx_dense import _DEVIATING, _read, _sparse_workbook

# ---- interval statistics: dense scan vs per-cell scan ---------------------

DATE_STYLES = frozenset({1})  # s="1" is a date format, s="2" a plain number
HEAP = [f"w{j}" for j in range(50)]
BOOLS = [b"1", b"0", b"true", b"false", b"&#160;true", b" TRUE"]
FAMILIES = {
    "A": lambda rng: (b' t="s"', b"%d" % rng.randrange(len(HEAP))),
    "B": lambda rng: (b"", b"%.3f" % rng.uniform(-1e3, 1e3)),
    "C": lambda rng: (b' s="1"', b"%d" % (40000 + rng.randrange(5000))),
    "D": lambda rng: (b' t="b"', rng.choice(BOOLS)),
    "E": lambda rng: (b' s="2"', b"%d.25" % rng.randrange(100)),
}


def _row(r, cells, pfx=b""):
    """One row; ``cells`` is ``[(letter, attrs, value)]``."""
    body = b"".join(
        b'<%sc r="%s%d"%s><%sv>%s</%sv></%sc>' % (pfx, c.encode(), r, a, pfx, v, pfx, pfx)
        for c, a, v in cells
    )
    return b'<%srow r="%d">%s</%srow>' % (pfx, r, body, pfx)


def _interval(seed, n_rows=3000, cols="ABCDE", pfx=b"", plants=None):
    """A mid-file interval: every cell absent with probability 0.05, every
    500th row empty. ``plants`` maps a row number to replacement XML."""
    rng = random.Random(seed)
    rows = []
    for r in range(1000, 1000 + n_rows):
        if plants and r in plants:
            rows.append(plants[r])
        elif r % 500 == 7:
            rows.append(_row(r, [], pfx))
        else:
            rows.append(_row(r, [
                (c, *FAMILIES[c](rng)) for c in cols if rng.random() >= 0.05
            ], pfx))
    return b"".join(rows)


def _plant(r, cells, pfx=b""):
    return {r: _row(r, cells, pfx)}


FOREIGN_ROW = b'<x:row r="1500"><x:c r="A1500" t="s"><x:v>3</x:v></x:c></x:row>'
# The first interval of a worksheet: its opener and a header row of
# shared strings precede rows shaped like the rest of the sheet.
OPENER = (
    b'<?xml version="1.0" encoding="UTF-8"?>\n<worksheet xmlns="urn:s">'
    b'<dimension ref="A999:E3999"/><cols><col min="1" max="5"/></cols>'
    b"<sheetData>"
)
HEADER_ROW = _row(999, [(c, b' t="s"', b"%d" % j) for j, c in enumerate("ABCDE")])

# name -> (interval, prefix, date styles, dense path expected)
CASES = {
    "families": (_interval(1), b"", DATE_STYLES, True),
    # one capture group: the dense findall yields bytes, not tuples
    "single_column": (_interval(2, cols="A"), b"", DATE_STYLES, True),
    "date_styles_unknown": (_interval(4), b"", None, True),
    "garbage_numeric": (
        _interval(5, plants=_plant(1500, [("B", b"", b"1.2.3")])), b"", DATE_STYLES, True
    ),
    "garbage_ref": (
        _interval(6, plants=_plant(1500, [("A", b' t="s"', b"x7")])), b"", DATE_STYLES, True
    ),
    "non_utf8_bool": (
        _interval(7, plants=_plant(1500, [("D", b' t="b"', b"\xff")])), b"", DATE_STYLES, True
    ),
    "str_row": (
        _interval(8, plants=_plant(1500, [("A", b' t="str"', b"x")])), b"", DATE_STYLES, False
    ),
    "repeated_ref": (
        _interval(9, plants=_plant(1500, [("B", b"", b"1"), ("B", b"", b"2")])),
        b"", DATE_STYLES, False,
    ),
    "extra_column": (
        _interval(10, plants=_plant(1500, [("A", b' t="s"', b"1"), ("F", b"", b"2")])),
        b"", DATE_STYLES, False,
    ),
    # own ``</x:row>`` closers no longer count as foreign-row evidence
    "prefixed": (_interval(11, pfx=b"x:"), b"x:", DATE_STYLES, True),
    "foreign_prefix_row": (
        _interval(12, plants={1500: FOREIGN_ROW}), b"", DATE_STYLES, False
    ),
    # the header rows go cell by cell, every later row to the findall
    "header": (OPENER + HEADER_ROW + _interval(13), b"", DATE_STYLES, True),
}


def _heap_zip():
    body = b"<sst>" + b"".join(b"<si><t>%s</t></si>" % w.encode() for w in HEAP)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(SI.SST_ENTRY, body + b"</sst>")
    return zipfile.ZipFile(buf)


# The heap the string bounds fold over: a resident list (what the sink
# passes), the streamed heap of a zip member (what the retrofit passes),
# or none at all.
MODES = {
    "eager": lambda: HEAP,
    "deferred": lambda: IX._iter_sst_entries(_heap_zip(), b""),
    "no_heap": lambda: None,
}


def _plain(result):
    """``_analyze_interval``'s result with the ref arrays as lists."""
    rows_in, claims, refs = result
    return rows_in, claims, (
        None if refs is None
        else (refs[0], {k: v.tolist() for k, v in refs[1].items()})
    )


def _claims(data, pfx, styles, mode):
    """One interval through the whole stats author: its analysis, and
    the collector's claims once the string bounds are folded over the
    ``mode`` heap."""
    coll = IX._IntervalStatsCollector(pfx, date_styles=styles)
    r = IX._analyze_interval(data, pfx, styles)
    plain = _plain(r)
    coll.fold(r)
    IX._resolve_deferred_strings([coll], MODES[mode]())
    return plain, coll.fine


def _takes_dense(data, pfx):
    pr = P.prefix_res(pfx)
    return IX._dense_columns(data, pr, P.count_row_starts(data, pfx)) is not None


@pytest.mark.parametrize("mode", list(MODES))
@pytest.mark.parametrize("case", list(CASES))
def test_dense_stats_equal_per_cell_stats(monkeypatch, case, mode):
    data, pfx, styles, dense = CASES[case]
    assert _takes_dense(data, pfx) is dense
    got = _claims(data, pfx, styles, mode)
    monkeypatch.setattr(IX, "_dense_columns", lambda *a: None)
    want = _claims(data, pfx, styles, mode)
    assert got == want


def test_dense_stats_claim_every_family():
    """The clean interval's claims are real, not a withheld interval
    compared with another: bounds, counts and boolean truths (the
    ``&#160;true`` payload reads True) for every family."""
    data, pfx, styles, _ = CASES["families"]
    _, [(rows_in, claims)] = _claims(data, pfx, styles, "eager")
    assert rows_in == 3000
    assert sorted(claims["st"]) == ["B", "C", "E"]
    assert sorted(claims["sv"]) == ["A"]
    assert claims["nc"]["C"] == (0, 0, 0, data.count(b' s="1"><v>'))
    assert claims["nc"]["E"] == (data.count(b' s="2"><v>'), 0, 0, 0)
    payloads = re.findall(rb't="b"><v>([^<]*)</v>', data)
    assert claims["bt"]["D"] == (
        sum(map(P._bool_payload, payloads)),
        sum(not P._bool_payload(v) for v in payloads),
    )
    assert b"&#160;true" in payloads


def test_dense_stats_random_plants(monkeypatch):
    """Random deviating rows over random intervals: either path, equal
    claims, in every heap mode."""
    rng = random.Random(5)
    deviations = [
        [("A", b' t="s"', b"1"), ("C", b"", b"2")],          # style change
        [("B", b' t="n"', b"3")],                            # explicit t="n"
        [("B", b"", b"")],                                   # empty <v>
        [("C", b' s="1"', b"4"), ("A", b' t="s"', b"5")],    # out of order
        [("D", b' t="e"', b"#N/A")],                         # error cell
        [("E", b' s="2"', b"nan")],                          # NaN
    ]
    for seed in range(20):
        plants = {}
        for _ in range(rng.randrange(3)):
            r = 1000 + rng.randrange(600)
            plants.update(_plant(r, rng.choice(deviations)))
        data = _interval(100 + seed, n_rows=600, plants=plants)
        for mode in MODES:
            got = _claims(data, b"", DATE_STYLES, mode)
            with monkeypatch.context() as m:
                m.setattr(IX, "_dense_columns", lambda *a: None)
                want = _claims(data, b"", DATE_STYLES, mode)
            assert got == want, (seed, sorted(plants))


def _big_sheet_interval():
    """Rows shaped like the benchmark's big_sheet: four numbers, a flag
    string, a date-styled serial, a boolean, and a note string absent from
    about 5% of rows."""
    rng = random.Random(7)
    rows = []
    for r in range(5000, 20000):
        cells = [(c, b"", b"%.2f" % rng.uniform(0, 1e5)) for c in "ABCD"]
        cells += [
            ("E", b' t="s"', b"%d" % rng.randrange(3)),
            ("F", b' s="1"', b"%d" % (40000 + rng.randrange(3000))),
            ("G", b' t="b"', b"%d" % rng.randrange(2)),
        ]
        if rng.random() >= 0.05:
            cells.append(("H", b' t="s"', b"%d" % rng.randrange(50)))
        rows.append(_row(r, cells))
    return b"".join(rows)


def test_big_sheet_interval_makes_no_per_cell_scan(monkeypatch):
    """Guard: a big_sheet-shaped interval is analysed by the dense scan
    alone — ``cell_re`` never runs over the interval (it still parses the
    one template row). Forcing the per-cell path shows the counter sees
    that scan."""
    data = _big_sheet_interval()
    n = [0]
    pr = P.prefix_res(b"")
    cell_re = pr.cell_re

    class Counting:
        def findall(self, s, *a):
            n[0] += s is data
            return cell_re.findall(s, *a)

        def finditer(self, s, *a):
            n[0] += s is data
            return cell_re.finditer(s, *a)

    monkeypatch.setattr(pr, "cell_re", Counting())
    got = _plain(IX._analyze_interval(data, b"", DATE_STYLES))
    assert n[0] == 0
    assert sorted(got[1]["st"]) == list("ABCDF")
    monkeypatch.setattr(IX, "_dense_columns", lambda *a: None)
    assert _plain(IX._analyze_interval(data, b"", DATE_STYLES)) == got
    assert n[0] == 1


SKIPS = (0, 20_000, 45_000)


@pytest.fixture(scope="module")
def sparse_60k(tmp_path_factory):
    """A 64k-row sparse workbook (about 13 one-MB chunks) with rows that
    defeat the dense pattern before and after each skip point, and a
    header row plus two full rows at each skip point (the schema probe
    reads from there)."""
    header = '<row r="{r}">' + "".join(
        f'<c r="{c}{{r}}" t="s"><v>{i}</v></c>' for i, c in enumerate("ABCDEF")
    ) + "</row>"
    full = (
        '<row r="{r}"><c r="A{r}" t="s"><v>6</v></c><c r="B{r}"><v>1.5</v></c>'
        '<c r="C{r}" s="1"><v>35000</v></c><c r="D{r}" t="b"><v>1</v></c>'
        '<c r="E{r}"><v>2.5</v></c><c r="F{r}" t="s"><v>7</v></c></row>'
    )
    plants = dict(_DEVIATING)
    plants[50_000] = (
        '<row r="{r}"><c r="A{r}" t="s"><v>8</v></c>'
        '<c r="B{r}"><f>1+1</f><v>2</v></c></row>'
    )
    plants[58_000] = _DEVIATING[22_000]
    for skip in SKIPS[1:]:
        plants.update({skip - 1: header, skip: full, skip + 1: full})
    d = tmp_path_factory.mktemp("skip60k")
    return _sparse_workbook(str(d / "s.xlsx"), plants=plants, n_rows=64_000)



@pytest.mark.parametrize("inline", ["false", "true"])
@pytest.mark.parametrize("skip", SKIPS)
def test_sharded_skip_rows_past_chunk_zero(sparse_60k, skip, inline):
    """Shards emit their chunks in round-robin order, so rows compare as
    multisets."""
    want, _ = _read(sparse_60k, threads="1", skip_rows=str(skip), inline_strings=inline)
    assert len(want) == 64_000 - skip
    want.sort(key=repr)
    for threads in ("4", "7"):
        got, _ = _read(
            sparse_60k, threads=threads, skip_rows=str(skip), inline_strings=inline
        )
        assert sorted(got, key=repr) == want, threads


@pytest.mark.parametrize("inline", ["false", "true"])
def test_unowned_chunks_not_counted_past_skip_rows(sparse_60k, monkeypatch, inline):
    """Guard: a shard row-counts a chunk it does not own only while the
    global ordinal is below ``skip_rows``; with no rows to skip it counts
    none at all."""
    calls = []
    chunk_rows = P._chunk_rows

    def spy(work, pfx):
        f = sys._getframe(1)
        if f.f_code.co_name == "run":  # _drive_chunks' unowned-chunk count
            calls.append((f.f_locals["ordinal"], f.f_locals["skip_rows"]))
        return chunk_rows(work, pfx)

    monkeypatch.setattr(P, "_chunk_rows", spy)
    _read(sparse_60k, threads="4", inline_strings=inline)
    assert calls == []
    _read(sparse_60k, threads="4", skip_rows="45000", inline_strings=inline)
    assert calls and all(ordinal < skip for ordinal, skip in calls)


# ---- end to end: the retrofit archive -------------------------------------


def test_index_output_identical_without_dense_stats(tmp_path, monkeypatch):
    """The retrofit's archive is byte-identical whether interval stats
    come from the dense scan or from the per-cell scan, on a sparse book
    with deviating rows."""
    src = _sparse_workbook(str(tmp_path / "src.xlsx"), plants=_DEVIATING)
    a, b = str(tmp_path / "a.xlsx"), str(tmp_path / "b.xlsx")
    assert index_xlsx(src, out_path=a)["indexed"]
    monkeypatch.setattr(IX, "_dense_columns", lambda *a: None)
    assert index_xlsx(src, out_path=b)["indexed"]
    assert open(a, "rb").read() == open(b, "rb").read()
    with zipfile.ZipFile(a) as zf:
        assert zf.comment
