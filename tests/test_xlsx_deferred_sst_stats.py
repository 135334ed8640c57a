"""String-bound resolution by one streamed pass over the heap — the
stats author's only string path: the retrofit collects sst REF INDICES
during staging and folds truncated bounds in one streaming pass over the
heap, memory O(unique refs, capped) instead of O(heap).

Pinned here: the published bounds equal a resident-heap oracle (each
interval's refs resolved against ``wb.shared_strings``, then
``truncated_string_bounds``), pruned reads equal the unindexed reference
read (spy-verified skips), the per-column budget shed (only the
high-cardinality column loses its claims, reported), streaming-decoder
shapes (rich-text fallback, entities, ST_Xstring, self-closing, chunk
boundaries), and the resolver's withhold rules (lone surrogates, refs
beyond the heap, a missing or undecodable heap, entry-count cross-check
failure → claim nothing).
"""

from __future__ import annotations

import io
import re
import zipfile

import pytest

from pyspark.sql.datasource import EqualTo, StringStartsWith
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import (
    _IntervalStatsCollector,
    _iter_sst_entries,
    _resolve_deferred_strings,
    index_xlsx,
)
from sheetreader_duckdb_spark.sources.xlsx.parser import XlsxWorkbook
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 160_000
SHEET = "xl/worksheets/sheet1.xml"

SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("status", StringType()),
        StructField("num", DoubleType()),
    ]
)


def _foreignize(src: str, dst: str) -> str:
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    return dst


def _write_src(path: str) -> None:
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["key", "status", "num"])
    for i in range(N):
        w.write_row([f"k{i:07d}", f"st{i % 5}", float(i)])
    w.close()


@pytest.fixture(scope="module")
def twin_retrofits(tmp_path_factory):
    """The same source twice: one copy retrofit with stats, one left
    unindexed — the reference every read of the indexed copy must
    equal."""
    d = tmp_path_factory.mktemp("defsst")
    src = str(d / "src.xlsx")
    _write_src(src)
    plain = _foreignize(src, str(d / "plain.xlsx"))
    indexed = _foreignize(src, str(d / "indexed.xlsx"))
    out = index_xlsx(indexed)
    assert out["indexed"] and out["string_stats_shed"] == []
    return plain, indexed


def _oracle_sv(path, pts):
    """Each interval's string bounds from a resident heap: its refs
    resolved against ``wb.shared_strings``, then
    ``truncated_string_bounds`` per column."""
    ends = [cum for _, cum in pts]  # the last point is the row total
    with XlsxWorkbook(path) as wb:
        heap = wb.shared_strings
        rows = re.findall(rb"<row[ >].*?</row>", wb.zf.read(SHEET))
    per: list = [{} for _ in ends]
    i = 0
    for r, row in enumerate(rows):
        while r >= ends[i]:
            i += 1
        for col, ref in re.findall(rb'<c r="([A-Z]+)\d+" t="s"><v>(\d+)<', row):
            per[i].setdefault(col.decode(), []).append(heap[int(ref)])
    return {
        c: [
            SI.truncated_string_bounds(min(p[c]), max(p[c])) if c in p else None
            for p in per
        ]
        for c in sorted({c for p in per for c in p})
    }


def _collect(path, filters, threads=4):
    reader = DS.SheetReaderReader(
        {"path": path, "threads": str(threads)}, SCHEMA
    )
    rows = []
    for s in range(threads):
        part = DS._SheetPartition(
            (path,), shard=s, n_shards=threads, filters=tuple(filters)
        )
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


class _Spy:
    def __init__(self, monkeypatch):
        self.materialized = 0
        self.skipped = 0
        orig = SI.iter_intervals

        def wrapped(*a, **k):
            for i, work, cin in orig(*a, **k):
                if work is None:
                    self.skipped += 1
                else:
                    self.materialized += 1
                yield i, work, cin

        monkeypatch.setattr(DS.SI, "iter_intervals", wrapped)


def test_deferred_publishes_honest_sv(twin_retrofits):
    _, indexed = twin_retrofits
    with zipfile.ZipFile(indexed) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        sv = SI.decode_interval_sections(zf, SHEET, pts).get("sv")
    assert sv is not None and set(sv) == {"A", "B", "C"}
    assert sv == _oracle_sv(indexed, pts)


def test_deferred_pruned_reads_bit_equal(twin_retrofits, monkeypatch):
    plain, indexed = twin_retrofits
    mk = f"k{N - 700:07d}"
    for filters, pred in [
        ([EqualTo(("key",), mk)], lambda r: r[0] == mk),
        ([StringStartsWith(("key",), "k00001")],
         lambda r: r[0].startswith("k00001")),
    ]:
        want = sorted(_collect(plain, filters), key=str)
        spy = _Spy(monkeypatch)
        got = sorted(_collect(indexed, filters), key=str)
        assert got == want and len(want) > 0
        assert spy.skipped > spy.materialized, (filters, vars(spy))


def test_budget_sheds_only_the_wide_column(tmp_path, monkeypatch):
    """key is all-unique (N refs); status has 5 values. With the
    per-column cap forced under N, key sheds — REPORTED — while status
    keeps its claims and still prunes."""
    src = str(tmp_path / "src.xlsx")
    _write_src(src)
    p = _foreignize(src, str(tmp_path / "f.xlsx"))
    monkeypatch.setattr(_IntervalStatsCollector, "_DEFER_COL_CAP", 10_000)
    out = index_xlsx(p)
    assert out["indexed"]
    assert out["string_stats_shed"] == ["A"]
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        sv = SI.decode_interval_sections(zf, SHEET, pts).get("sv")
    assert sv is not None and "A" not in sv and "B" in sv
    # the surviving low-cardinality column's bounds are exact
    for rng in sv["B"][1:]:
        assert rng is not None and rng[0] >= "st0" and rng[1] <= "st4"


# ----------------------------------------------------- streaming decoder


def _sst_zip(body: bytes, chunk_hint: "int | None" = None) -> zipfile.ZipFile:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(SI.SST_ENTRY, body)
    return zipfile.ZipFile(io.BytesIO(buf.getvalue()))


def test_iter_sst_entries_shapes(monkeypatch):
    body = (
        b'<?xml version="1.0"?>\n'
        b'<sst xmlns="x" count="6" uniqueCount="6">'
        b"<si><t>plain</t></si>"
        b"<si/>"
        b"<si><t>a&amp;b</t></si>"
        b"<si><t>_x000A_line</t></si>"
        b"<si><r><t>rich</t></r><r><t>text</t></r></si>"
        b'<si ph="1"><t>attr</t></si>'
        b"</sst>"
    )
    with _sst_zip(body) as zf:
        got = list(_iter_sst_entries(zf, b""))
    assert got == ["plain", "", "a&b", "\nline", "richtext", "attr"]
    # tiny chunks: entry boundaries straddle every read
    import sheetreader_duckdb_spark.sources.xlsx.indexer as ix

    def tiny_chunks(zf, name, head=b""):
        with zf.open(name) as f:
            while True:
                c = f.read(7)
                if not c:
                    return
                yield c

    monkeypatch.setattr(ix, "_inflate_chunks", tiny_chunks)
    with _sst_zip(body) as zf:
        got2 = list(_iter_sst_entries(zf, b""))
    assert got2 == got


def test_iter_sst_entries_prefixed():
    body = (
        b'<x:sst xmlns:x="urn:s"><x:si><x:t>aa</x:t></x:si>'
        b"<x:si><x:r><x:t>b</x:t></x:r><x:r><x:t>c</x:t></x:r></x:si>"
        b"</x:sst>"
    )
    with _sst_zip(body) as zf:
        assert list(_iter_sst_entries(zf, b"x:")) == ["aa", "bc"]


def _deferred_coll(refs_xml: bytes) -> _IntervalStatsCollector:
    coll = _IntervalStatsCollector(b"", date_styles=frozenset())
    coll.fold(coll.analyzer()(refs_xml))  # one whole interval
    return coll


def test_resolver_withholds_on_count_mismatch():
    coll = _deferred_coll(
        b'<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        b"</sheetData>"
    )
    _resolve_deferred_strings([coll], iter(["x", "y"]), expected_n=3)
    # mismatch → misaligned refs: the interval claims nothing at all
    assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS)
    assert coll._defer_resolved


def test_resolver_parity_rules():
    """r13 review pass 2 semantics: a lone-surrogate heap entry or a
    ref beyond the heap means the READ of the referencing interval
    RAISES — the whole interval withholds every section's claims, so
    no other column's stats can prune the error away. An unclaimable
    bound (U+10FFFF prefix) is NOT an error: only that column skips."""
    # surrogate entry referenced: interval fully withheld
    coll = _deferred_coll(
        b'<sheetData><row r="1">'
        b'<c r="A1" t="s"><v>0</v></c>'
        b'<c r="B1" t="s"><v>1</v></c>'
        b'<c r="D1"><v>5</v></c>'
        b"</row></sheetData>"
    )
    _resolve_deferred_strings([coll], iter(["ok", "bad\ud800"]),
                              expected_n=2)
    assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS)
    # ref beyond the heap: same full withhold
    coll = _deferred_coll(
        b'<sheetData><row r="1">'
        b'<c r="A1" t="s"><v>0</v></c>'
        b'<c r="C1" t="s"><v>9</v></c>'
        b"</row></sheetData>"
    )
    _resolve_deferred_strings([coll], iter(["ok"]), expected_n=1)
    assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS)
    # U+10FFFF-prefixed max: no honest bound — THAT column claims
    # nothing, everything else keeps its claims
    coll = _deferred_coll(
        b'<sheetData><row r="1">'
        b'<c r="A1" t="s"><v>0</v></c>'
        b'<c r="B1" t="s"><v>1</v></c>'
        b'<c r="D1"><v>5</v></c>'
        b"</row></sheetData>"
    )
    big = chr(0x10FFFF) * 20
    _resolve_deferred_strings([coll], iter(["ok", big]), expected_n=2)
    sv = coll.fine[0][1]["sv"]
    assert sv.get("A") == ("ok", "ok")
    assert "B" not in sv
    assert coll.fine[0][1]["st"] == {"D": (5.0, 5.0)}
    assert coll.fine[0][1]["nc"]["A"] == (0, 1, 0, 0)


def test_resolver_truncates_long_entries_honestly():
    long_min = "m" * 40
    long_max = "z" * 40
    coll = _deferred_coll(
        b'<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        b'<row r="2"><c r="A2" t="s"><v>1</v></c></row></sheetData>'
    )
    _resolve_deferred_strings(
        [coll], iter([long_min, long_max]), expected_n=2
    )
    lo, hi = coll.fine[0][1]["sv"]["A"]
    assert lo <= long_min and hi >= long_max
    assert len(lo.encode()) <= SI.STR_STAT_BYTES
    assert len(hi) <= SI.STR_STAT_BYTES + 1


def test_resolver_bounds_equal_resident_rule_on_long_non_ascii():
    """The fold keeps each group's exact min and max entry and truncates
    that pair once, so its bounds are the resident-heap rule's
    (``truncated_string_bounds(min, max)``). Truncating every entry
    before folding widens them on non-ASCII strings longer than 16
    bytes: here the 18-byte max's 15-byte prefix sorts below the 16-byte
    min."""
    heaps = [
        ["中" * 5 + "a", "中" * 6],
        ["é" * 8, "é" * 9, "éa"],
        ["ab" + "ü" * 9, "ab" + "ü" * 7 + "z", "ab" + "ü" * 8],
    ]
    for heap in heaps:
        rows = b"".join(
            b'<row r="%d"><c r="A%d" t="s"><v>%d</v></c></row>' % (i, i, i)
            for i in range(len(heap))
        )
        coll = _deferred_coll(b"<sheetData>" + rows + b"</sheetData>")
        _resolve_deferred_strings([coll], iter(heap), expected_n=len(heap))
        assert coll.fine[0][1]["sv"]["A"] == SI.truncated_string_bounds(
            min(heap), max(heap)
        ), heap


def test_unreadable_heap_withholds_string_intervals():
    """A heap stream that cannot be decoded, or no heap at all, leaves
    the string refs unresolvable: every interval holding string cells
    claims nothing in ANY section (as the reader's failure or an
    unknowable value demands), while intervals without string cells keep
    their claims."""
    strings = (
        b'<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c>'
        b'<c r="B1"><v>7</v></c></row></sheetData>'
    )
    numbers = b'<sheetData><row r="2"><c r="B2"><v>8</v></c></row></sheetData>'
    broken = (  # an unclosed rich-text run defeats both span decoders
        b'<sst xmlns="x"><si><t>a</t></si><si><r><t>b</t></si></sst>'
    )
    for heap in ("broken", None):
        coll = _IntervalStatsCollector(b"", date_styles=frozenset())
        for xml in (strings, numbers):
            coll.fold(coll.analyzer()(xml))
        with _sst_zip(broken) as zf:
            entries = _iter_sst_entries(zf, b"") if heap else None
            _resolve_deferred_strings([coll], entries, expected_n=2)
        assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS), heap
        assert coll.fine[1][1]["st"] == {"B": (8.0, 8.0)}, heap
        assert coll.fine[1][1]["nc"] == {"B": (1, 0, 0, 0)}, heap


def test_pooled_and_deferred_compose(tmp_path):
    """workers>1 (fork-pool interval analysis) + the streamed heap fold
    in one retrofit: claims — and the output bytes — must match the
    serial run exactly."""
    import hashlib
    import shutil

    src = str(tmp_path / "src.xlsx")
    _write_src(src)
    a = _foreignize(src, str(tmp_path / "a.xlsx"))
    # byte-copy ONE foreignized input: re-foreignizing stamps fresh zip
    # DOS timestamps and the inputs themselves can differ across a
    # 2-second boundary (the r12 byte-identity test's documented trap)
    b = str(tmp_path / "b.xlsx")
    shutil.copy(a, b)
    out1 = index_xlsx(a, workers=1)
    out4 = index_xlsx(b, workers=4)
    assert out1["indexed"] and out4["indexed"]
    assert out1["string_stats_shed"] == out4["string_stats_shed"] == []
    h = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()
    assert h(a) == h(b)
    with zipfile.ZipFile(b) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        secs = SI.decode_interval_sections(zf, SHEET, pts)
    assert secs.get("sv") is not None and secs.get("nc") is not None


def test_tail_only_string_column_defers_cleanly(tmp_path):
    """r13 review repro: a workbook whose t="s" cells appear
    only AFTER the last flush point (trailing interval) used to crash
    index_xlsx with 'deferred string bounds not resolved' — the
    deferred-collector filter read _defer_refs before the trailing
    buffer flushed. Must index and publish the tail column's bounds."""
    p = str(tmp_path / "tail.xlsx")
    w = IncrementalXlsxWriter(p, "Sheet1")
    w.write_row(["num", "tailstr"])
    n = 220_000
    for i in range(n):
        w.write_row([float(i), f"z{i:06d}" if i >= n - 50 else None])
    w.close()
    f = _foreignize(p, str(tmp_path / "tail_f.xlsx"))
    out = index_xlsx(f, workers=1)
    assert out["indexed"], out
    with zipfile.ZipFile(f) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        sv = SI.decode_interval_sections(zf, SHEET, pts).get("sv")
    assert sv is not None and "B" in sv
    # the tail interval carries the claim; earlier pure-numeric
    # intervals claim nothing for B... (header interval 0 does: the
    # "tailstr" header string)
    assert sv["B"][-1] is not None
    assert sv["B"][-1][0] <= f"z{n - 50:06d}" and sv["B"][-1][1] >= f"z{n - 1:06d}"
