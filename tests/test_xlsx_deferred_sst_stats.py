"""Deferred (streaming) string-bound resolution — the big-heap path
(VERDICT r12 task 3: the 256 MB resident gate used to shed ALL string
stats; now the retrofit collects sst REF INDICES during staging and
folds truncated bounds in one streaming pass over the heap, memory
O(unique refs, capped) instead of O(heap)).

Pinned here: deferred == eager pruning on the same source (bounds
honest, reads bit-equal, spy-verified skips), the per-column budget
shed (only the high-cardinality column loses its claims, reported),
streaming-decoder shapes (rich-text fallback, entities, ST_Xstring,
self-closing, chunk boundaries), and the resolver's withhold rules
(lone surrogates, refs beyond the heap, entry-count cross-check
failure → claim nothing).
"""

from __future__ import annotations

import io
import zipfile

import pytest

from pyspark.sql.datasource import EqualTo, StringStartsWith
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import indexer as IX
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import (
    _IntervalStatsCollector,
    _iter_sst_entries,
    _resolve_deferred_strings,
    index_xlsx,
)
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
    """The same source retrofit twice: once eager (resident heap), once
    with the resident cap forced to 0 so the deferred streaming path
    runs — everything downstream must agree."""
    d = tmp_path_factory.mktemp("defsst")
    src = str(d / "src.xlsx")
    _write_src(src)
    eager = _foreignize(src, str(d / "eager.xlsx"))
    deferred = _foreignize(src, str(d / "deferred.xlsx"))
    out_e = index_xlsx(eager)
    assert out_e["indexed"] and out_e["string_stats_shed"] == []
    orig_cap = IX._SST_STATS_RESIDENT_CAP
    IX._SST_STATS_RESIDENT_CAP = 0
    try:
        out_d = index_xlsx(deferred)
    finally:
        IX._SST_STATS_RESIDENT_CAP = orig_cap
    assert out_d["indexed"] and out_d["string_stats_shed"] == []
    return eager, deferred


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
    eager, deferred = twin_retrofits
    with zipfile.ZipFile(eager) as zf:
        pts_e = SI.decode_split_index(zf, SHEET)
        sv_e = SI.decode_interval_sections(zf, SHEET, pts_e).get("sv")
    with zipfile.ZipFile(deferred) as zf:
        pts_d = SI.decode_split_index(zf, SHEET)
        sv_d = SI.decode_interval_sections(zf, SHEET, pts_d).get("sv")
    assert pts_e == pts_d  # staging bytes independent of stats mode
    assert sv_e is not None and sv_d is not None
    assert set(sv_d) == set(sv_e)
    # every value here is <= 16 bytes, so both paths store EXACT
    # (min, max) per interval — byte-identical claims
    assert sv_d == sv_e
    # numeric and count sections unaffected by the string mode
    with zipfile.ZipFile(eager) as ze, zipfile.ZipFile(deferred) as zd:
        sec_e = SI.decode_interval_sections(ze, SHEET, pts_e)
        sec_d = SI.decode_interval_sections(zd, SHEET, pts_d)
    assert sec_e.get("st") == sec_d.get("st")
    assert sec_e.get("nc") == sec_d.get("nc")


def test_deferred_pruned_reads_bit_equal(twin_retrofits, monkeypatch):
    eager, deferred = twin_retrofits
    mk = f"k{N - 700:07d}"
    for filters, pred in [
        ([EqualTo(("key",), mk)], lambda r: r[0] == mk),
        ([StringStartsWith(("key",), "k00001")],
         lambda r: r[0].startswith("k00001")),
    ]:
        want = sorted(_collect(eager, filters), key=str)
        spy = _Spy(monkeypatch)
        got = sorted(_collect(deferred, filters), key=str)
        assert got == want and len(want) > 0
        assert spy.skipped > spy.materialized, (filters, vars(spy))


def test_budget_sheds_only_the_wide_column(tmp_path, monkeypatch):
    """key is all-unique (N refs); status has 5 values. With the
    per-column cap forced under N, key sheds — REPORTED — while status
    keeps its claims and still prunes."""
    src = str(tmp_path / "src.xlsx")
    _write_src(src)
    p = _foreignize(src, str(tmp_path / "f.xlsx"))
    monkeypatch.setattr(IX, "_SST_STATS_RESIDENT_CAP", 0)
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
    coll = _IntervalStatsCollector(
        b"", date_styles=frozenset(), defer_strings=True
    )
    coll.fold(coll.analyzer()(refs_xml))  # one whole interval
    return coll


def test_resolver_withholds_on_count_mismatch():
    coll = _deferred_coll(
        b'<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        b"</sheetData>"
    )
    _resolve_deferred_strings([coll], iter(["x", "y"]), expected_n=3)
    assert coll.fine[0][1]["sv"] == {}  # mismatch → no string claims
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


def test_pooled_and_deferred_compose(tmp_path, monkeypatch):
    """workers>1 (fork-pool interval analysis) + big-heap deferral in
    one retrofit: claims — and the output bytes — must match the
    serial deferred run exactly."""
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
    monkeypatch.setattr(IX, "_SST_STATS_RESIDENT_CAP", 0)
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


def test_tail_only_string_column_defers_cleanly(tmp_path, monkeypatch):
    """r13 review repro: a defer-mode workbook whose t="s" cells appear
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
    monkeypatch.setattr(IX, "_SST_STATS_RESIDENT_CAP", 0)
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
