"""Retrofit indexer (indexer.index_xlsx — VERDICT r11 task 1).

The split index previously existed only for files OUR writer produced;
these tests pin that ``index_xlsx`` extends it to FOREIGN files — plain
single-stream deflate members, foreign row XML shapes (spans/dyDescent
attributes, namespace prefixes), extra members we don't parse — with
bit-equal reads before/after, raw-byte preservation of untouched members,
and the no-op discipline for files it cannot or should not index.

Foreign files are simulated by recompressing every member through plain
``zipfile.writestr`` (one deflate stream, zero flush points, no comment) —
byte-for-byte the compression shape Excel/openpyxl emit — plus handcrafted
foreign XML where the shape itself is the point.
"""

from __future__ import annotations

import os
import zipfile

import pytest

from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N_ROWS = 60_000  # ~7 MB sheet XML: enough for 2 flush points


def _foreignize(src: str, dst: str) -> str:
    """Recompress every member plainly: single deflate streams, no flush
    points, no archive comment — a foreign producer's compression shape."""
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    return dst


@pytest.fixture(scope="module")
def foreign_xlsx(tmp_path_factory):
    d = tmp_path_factory.mktemp("indexer")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["name", "qty", "price"])
    for i in range(N_ROWS):
        if i == 30_000:
            w.write_row([None, None, None])  # empty row mid-file
        else:
            w.write_row([f"r{i}", float(i % 50), float(i) + 0.25])
    w.close()
    return _foreignize(src, str(d / "foreign.xlsx"))


SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("qty", DoubleType()),
        StructField("price", DoubleType()),
    ]
)


def _collect(options, schema=SCHEMA):
    reader = DS.SheetReaderReader(options, schema)
    rows: list[tuple] = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    key = lambda r: tuple((v is None, str(type(v)), v) for v in r)  # noqa: E731
    return sorted(rows, key=key)


def test_retrofit_roundtrip_bit_equal(foreign_xlsx, tmp_path):
    """The headline contract: a foreign file reads bit-equal before and
    after retrofit, sharded and single-thread, and the sharded read
    genuinely rides the new index."""
    import shutil

    p = str(tmp_path / "work.xlsx")
    shutil.copy(foreign_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        assert SI.decode_split_index(zf, "xl/worksheets/sheet1.xml") is None
    before_1 = _collect({"path": p, "threads": "1"})
    before_4 = _collect({"path": p, "threads": "4"})

    out = index_xlsx(p)
    assert out["indexed"] and out["path"] == p
    assert out["rows"] == N_ROWS + 1  # physical rows incl. header
    assert out["worksheet_points"] >= 1

    with zipfile.ZipFile(p) as zf:
        assert zf.testzip() is None
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        assert pts is not None and len(pts) >= 2
        assert pts[-1][1] == N_ROWS + 1

    after_1 = _collect({"path": p, "threads": "1"})
    after_4 = _collect({"path": p, "threads": "4"})
    assert before_1 == after_1 == before_4 == after_4
    assert len(after_4) == N_ROWS


def test_retrofit_preserves_untouched_members_raw(foreign_xlsx, tmp_path):
    """Members the indexer doesn't parse — including a STORED binary one
    and docProps — survive at the raw COMPRESSED byte level, not just
    content-equal: same CRC, same compress_size, same data bytes."""
    import shutil

    p = str(tmp_path / "extras.xlsx")
    shutil.copy(foreign_xlsx, p)
    blob = bytes(range(256)) * 64
    with zipfile.ZipFile(p, "a") as zf:
        zf.writestr("docProps/custom.bin", blob)
        zi = zipfile.ZipInfo("xl/media/raw.bin")
        zf.writestr(zi, b"stored-bytes" * 100, compress_type=zipfile.ZIP_STORED)

    def member_raw(path, name):
        with zipfile.ZipFile(path) as zf:
            info = zf.getinfo(name)
            doff = SI.member_data_offset(path, info)
            with open(path, "rb") as f:
                f.seek(doff)
                return (info.CRC, info.compress_size, f.read(info.compress_size))

    before = {
        n: member_raw(p, n)
        for n in ("docProps/custom.bin", "xl/media/raw.bin", "xl/styles.xml")
    }
    assert index_xlsx(p)["indexed"]
    for name, want in before.items():
        assert member_raw(p, name) == want, name
    with zipfile.ZipFile(p) as zf:
        assert zf.read("docProps/custom.bin") == blob
        assert zf.testzip() is None


def test_retrofit_foreign_row_shapes(tmp_path):
    """Foreign row XML — `spans=`/`x14ac:dyDescent` attributes like Excel
    writes, plus rows the dense template won't match — counts and reads
    correctly after retrofit (the count convention is the reader's own
    `<row` − `<rowB` rule, not our writer's shape)."""
    from tests.test_xlsx_dense import _prefixed_workbook_parts

    ct, rels, wb_rels, wb_xml = _prefixed_workbook_parts()
    ct = ct.replace("x:workbook", "workbook")  # parts are generic enough
    wb_xml = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    n = 120_000
    body = []
    for i in range(1, n + 1):
        if i % 5000 == 0:
            body.append(f'<row r="{i}"/>')  # self-closing empty row
        else:
            body.append(
                f'<row r="{i}" spans="1:2" x14ac:dyDescent="0.25">'
                f'<c r="A{i}"><v>{i}</v></c><c r="B{i}"><v>{i * 2}</v></c></row>'
            )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:x14ac="http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    p = str(tmp_path / "shapes.xlsx")
    with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    schema = StructType(
        [StructField("a", DoubleType()), StructField("b", DoubleType())]
    )
    opts = {"path": p, "has_header": "false"}
    before = _collect({**opts, "threads": "4"}, schema)
    out = index_xlsx(p)
    assert out["indexed"] and out["rows"] == n
    after = _collect({**opts, "threads": "4"}, schema)
    single = _collect({**opts, "threads": "1"}, schema)
    assert before == after == single
    assert len(after) == n


def test_retrofit_prefixed_document(tmp_path):
    """A namespace-prefixed (`<x:row>`) document indexes with prefixed
    needles and reads bit-equal sharded — the same prefix detection the
    scan tiers use."""
    from tests.test_xlsx_dense import _prefixed_workbook_parts

    ct, rels, wb_rels, wb_xml = _prefixed_workbook_parts()
    n = 120_000
    rows = "".join(
        f'<x:row r="{i}"><x:c r="A{i}"><x:v>{i}</x:v></x:c>'
        f'<x:c r="B{i}"><x:v>{i * 3}</x:v></x:c></x:row>'
        for i in range(1, n + 1)
    )
    sheet = (
        '<?xml version="1.0"?>'
        '<x:worksheet xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<x:sheetData>{rows}</x:sheetData></x:worksheet>"
    )
    p = str(tmp_path / "prefixed.xlsx")
    with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    schema = StructType(
        [StructField("a", DoubleType()), StructField("b", DoubleType())]
    )
    opts = {"path": p, "has_header": "false"}
    before = _collect({**opts, "threads": "4"}, schema)
    out = index_xlsx(p)
    assert out["indexed"] and out["rows"] == n and out["worksheet_points"] >= 1
    after = _collect({**opts, "threads": "4"}, schema)
    assert before == after and len(after) == n
    # interval stats collect through the PREFIXED cell regex too
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        st = SI.decode_interval_sections(zf, "xl/worksheets/sheet1.xml", pts).get("st")
    assert st is not None and "A" in st and "B" in st
    assert st["A"][0] is not None and st["A"][0][0] == 1.0


def test_retrofit_sst_index(tmp_path):
    """A string-heavy foreign file gains the shared-strings section too:
    sst_points > 0, IntervalStringHeap-eligible, reads equal."""
    src = str(tmp_path / "strsrc.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["k", "txt"])
    for i in range(90_000):
        w.write_row([float(i), f"unique-string-{i:07d}-" + "x" * 40])
    w.close()
    p = _foreignize(src, str(tmp_path / "strheavy.xlsx"))
    schema = StructType(
        [StructField("k", DoubleType()), StructField("txt", StringType())]
    )
    before = _collect({"path": p, "threads": "4"}, schema)
    out = index_xlsx(p)
    assert out["indexed"] and out["sst_points"] >= 1
    with zipfile.ZipFile(p) as zf:
        spts = SI.decode_sst_index(zf)
        # 90,000 data strings + the 2 header-cell strings
        assert spts is not None and spts[-1][1] == 90_002
    after = _collect({"path": p, "threads": "4"}, schema)
    assert before == after and len(after) == 90_000


def test_retrofit_out_path_leaves_source_untouched(foreign_xlsx, tmp_path):
    dst = str(tmp_path / "indexed_copy.xlsx")
    src_bytes = open(foreign_xlsx, "rb").read()
    out = index_xlsx(foreign_xlsx, out_path=dst)
    assert out["indexed"] and out["path"] == dst
    assert open(foreign_xlsx, "rb").read() == src_bytes
    with zipfile.ZipFile(dst) as zf:
        assert SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
    assert _collect({"path": dst, "threads": "4"}) == _collect(
        {"path": foreign_xlsx, "threads": "1"}
    )


def test_retrofit_idempotent(foreign_xlsx, tmp_path):
    """Indexing an already-indexed file (ours or a prior retrofit)
    replaces the stale index and stays correct."""
    import shutil

    p = str(tmp_path / "twice.xlsx")
    shutil.copy(foreign_xlsx, p)
    assert index_xlsx(p)["indexed"]
    first = _collect({"path": p, "threads": "4"})
    assert index_xlsx(p)["indexed"]  # our MAGIC comment: replaced, no opt-in
    assert _collect({"path": p, "threads": "4"}) == first


def test_retrofit_noop_paths(tmp_path, foreign_xlsx):
    """Too-small files and foreign-comment files are reported, NOT
    modified; replace_comment=True overrides the comment guard."""
    import shutil

    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    small = str(tmp_path / "small.xlsx")
    write_xlsx(small, {"S": [["a"], ["x"], ["y"]]})
    small_foreign = _foreignize(small, str(tmp_path / "small_foreign.xlsx"))
    raw = open(small_foreign, "rb").read()
    out = index_xlsx(small_foreign)
    assert not out["indexed"] and "interval" in out["reason"]
    assert open(small_foreign, "rb").read() == raw  # untouched

    commented = str(tmp_path / "commented.xlsx")
    shutil.copy(foreign_xlsx, commented)
    with zipfile.ZipFile(commented, "a") as zf:
        zf.comment = b"customer archive note: do not remove"
    raw = open(commented, "rb").read()
    out = index_xlsx(commented)
    assert not out["indexed"] and "foreign comment" in out["reason"]
    assert open(commented, "rb").read() == raw
    out = index_xlsx(commented, replace_comment=True)
    assert out["indexed"]
    assert _collect({"path": commented, "threads": "4"}) == _collect(
        {"path": foreign_xlsx, "threads": "1"}
    )


def test_retrofit_discipline_tests_apply_to_output(foreign_xlsx, tmp_path):
    """The untrusted-index discipline (lying counts fail loudly, stripped
    comment falls back) applies unchanged to retrofit output — the read
    path is shared with writer-indexed files."""
    import shutil

    p = str(tmp_path / "disc.xlsx")
    shutil.copy(foreign_xlsx, p)
    assert index_xlsx(p)["indexed"]
    base = _collect({"path": p, "threads": "4"})

    stripped = str(tmp_path / "disc_stripped.xlsx")
    shutil.copy(p, stripped)
    with zipfile.ZipFile(stripped, "a") as zf:
        zf.comment = b""
    assert _collect({"path": stripped, "threads": "4"}) == base

    lying = str(tmp_path / "disc_lying.xlsx")
    shutil.copy(p, lying)
    with zipfile.ZipFile(lying) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
    bad = [(c, r + 1) for c, r in pts[:-1]]
    with zipfile.ZipFile(lying, "a") as zf:
        zf.comment = SI.encode_split_index(
            "xl/worksheets/sheet1.xml", bad, pts[-1][1]
        )
    with pytest.raises(ValueError, match="split-index row count mismatch"):
        _collect({"path": lying, "threads": "4"})


def test_retrofit_crash_leaves_source_intact(foreign_xlsx, tmp_path, monkeypatch):
    """A failure mid-retrofit removes the temp file and leaves the source
    byte-identical (atomic os.replace is the only mutation)."""
    import shutil

    from sheetreader_duckdb_spark.sources.xlsx import indexer as IX

    p = str(tmp_path / "crash.xlsx")
    shutil.copy(foreign_xlsx, p)
    raw = open(p, "rb").read()

    real = IX._raw_copy
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        if calls["n"] == 3:
            raise OSError("disk full (simulated)")
        return real(*a, **k)

    monkeypatch.setattr(IX, "_raw_copy", boom)
    with pytest.raises(OSError, match="disk full"):
        index_xlsx(p)
    assert open(p, "rb").read() == raw
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".idx-tmp")]


def test_index_xlsx_dir_distributed_sweep(spark, tmp_path):
    """index_xlsx_dir: every file indexed in place; per-file failures
    reported, not fatal."""
    from sheetreader_duckdb_spark import index_xlsx_dir

    d = tmp_path / "corpus"
    d.mkdir()
    for j in range(3):
        src = str(tmp_path / f"src{j}.xlsx")
        w = IncrementalXlsxWriter(src, "Sheet1")
        w.write_row(["k", "txt"])
        for i in range(60_000):
            w.write_row([float(i + j), f"c{j}-{i}"])
        w.close()
        _foreignize(src, str(d / f"wb{j}.xlsx"))
    # plant a corrupt file: the sweep must survive and report it
    (d / "bad.xlsx").write_bytes(b"not a zip at all")

    results = {r["path"].rsplit("/", 1)[-1]: r for r in index_xlsx_dir(spark, str(d))}
    assert len(results) == 4
    for j in range(3):
        assert results[f"wb{j}.xlsx"]["indexed"], results[f"wb{j}.xlsx"]
    assert not results["bad.xlsx"]["indexed"]
    assert "error:" in results["bad.xlsx"]["reason"]
    for j in range(3):
        with zipfile.ZipFile(str(d / f"wb{j}.xlsx")) as zf:
            assert SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
    # the indexed corpus reads back exactly through Spark (bad.xlsx is
    # not matched by the directory read's .xlsx glob? it IS .xlsx — read
    # the three good ones explicitly)
    from sheetreader_duckdb_spark import register

    register(spark)
    total = (
        spark.read.format("sheetreader")
        .option("threads", "4")
        .load(str(d / "wb*.xlsx"))
        .count()
    )
    assert total == 180_000


def test_retrofit_multi_sheet_sections(tmp_path):
    """Multi-sheet workbooks (r11): EVERY big sheet gets a section — the
    primary in the top-level keys, the rest under `m` — and a
    sheet_index=2 sharded read rides its own index (spy-verified),
    bit-equal to single-thread."""
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    n1, n2 = 60_000, 80_000
    src = str(tmp_path / "multi.xlsx")
    write_xlsx(
        src,
        {
            "First": [["a", "b"]] + [[f"x{i}", float(i)] for i in range(n1)],
            "Second": [["p", "q"]] + [[float(i), float(i * 3)] for i in range(n2)],
        },
    )
    p = _foreignize(src, str(tmp_path / "multi_foreign.xlsx"))
    out = index_xlsx(p)
    assert out["indexed"] and out["extra_sheets"] == 1

    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI2

    with zipfile.ZipFile(p) as zf:
        pts1 = SI2.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        pts2 = SI2.decode_split_index(zf, "xl/worksheets/sheet2.xml")
        assert pts1 is not None and pts1[-1][1] == n1 + 1
        assert pts2 is not None and pts2[-1][1] == n2 + 1
        st2 = SI2.decode_interval_sections(zf, "xl/worksheets/sheet2.xml", pts2).get("st")
        assert st2 is not None and "A" in st2  # numeric col on sheet 2

    schema2 = StructType(
        [StructField("p", DoubleType()), StructField("q", DoubleType())]
    )

    calls = {"mat": 0}
    orig = SI.iter_intervals

    def spy(*a, **k):
        for i, w, c in orig(*a, **k):
            if w is not None:
                calls["mat"] += 1
            yield i, w, c

    DS.SI.iter_intervals = spy
    try:
        single = _collect(
            {"path": p, "threads": "1", "sheet_index": "2"}, schema2
        )
        before = calls["mat"]
        sharded = _collect(
            {"path": p, "threads": "4", "sheet_index": "2"}, schema2
        )
        assert calls["mat"] > before  # sheet 2's sharded read used ITS index
    finally:
        DS.SI.iter_intervals = orig
    assert single == sharded and len(single) == n2
    assert (79_999.0, 239_997.0) in single

    # writer-side: our own multi-sheet write_xlsx carries both sections
    with zipfile.ZipFile(src) as zf:
        assert SI2.decode_split_index(zf, "xl/worksheets/sheet2.xml") is not None

    # row_count of sheet 2 served from its section
    assert DS.row_count(p, sheet_index=2) == n2 + 1 - 1  # header consumed


def test_retrofit_descriptor_written_zip_with_unicode_names(tmp_path):
    """Foreign files written by STREAMING zip writers carry data
    descriptors (flag 0x08: zero sizes in the local header, a descriptor
    after the data — the shape Java's ZipOutputStream and many services
    emit) plus UTF-8-flagged member names. The retrofit must normalize
    the descriptor members (real sizes up front, flag cleared), preserve
    unicode names, and produce a valid indexed archive."""
    import io

    class NoSeek(io.RawIOBase):
        def __init__(self):
            self.buf = bytearray()

        def writable(self):
            return True

        def write(self, b):
            self.buf += b
            return len(b)

        def seekable(self):
            return False

    from tests.test_xlsx_dense import _prefixed_workbook_parts

    ct, rels, wb_rels, _ = _prefixed_workbook_parts()
    wb_xml = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    n = 120_000
    rows = "".join(
        f'<row r="{i}"><c r="A{i}"><v>{i}</v></c></row>' for i in range(1, n + 1)
    )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{rows}</sheetData></worksheet>"
    )
    out = NoSeek()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("méta/ünïcode.txt", "hello")
    p = str(tmp_path / "desc.xlsx")
    with open(p, "wb") as f:
        f.write(bytes(out.buf))
    with zipfile.ZipFile(p) as zf:
        assert zf.getinfo("xl/worksheets/sheet1.xml").flag_bits & 0x08
        assert zf.getinfo("méta/ünïcode.txt").flag_bits & 0x800

    res = index_xlsx(p)
    assert res["indexed"] and res["rows"] == n
    with zipfile.ZipFile(p) as zf:
        assert zf.testzip() is None
        assert zf.read("méta/ünïcode.txt") == b"hello"
        assert SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")[-1][1] == n

    schema = StructType([StructField("a", DoubleType())])
    got = _collect({"path": p, "threads": "4", "has_header": "false"}, schema)
    assert len(got) == n and (1.0,) in got and (float(n),) in got


def test_below_one_interval_decided_before_staging(tmp_path, monkeypatch):
    """A workbook whose members all sit below one split interval is
    reported before any member is inflated or re-deflated: the report
    staging used to reach, the file untouched, no member staged and no
    temp file left."""
    from sheetreader_duckdb_spark.sources.xlsx import indexer as IX
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    src = str(tmp_path / "src.xlsx")
    write_xlsx(src, {"S": [["k", "v"]] + [[f"s{i}", float(i)] for i in range(2_500)]})
    p = _foreignize(src, str(tmp_path / "small.xlsx"))
    os.remove(src)
    raw = open(p, "rb").read()
    staged = []
    monkeypatch.setattr(IX, "_stage_members", lambda *a, **k: staged.append(a))
    for workers in (1, 4, None):
        assert index_xlsx(p, workers=workers) == {
            "indexed": False,
            "reason": "member(s) below one split interval — nothing to index",
            "rows": 0, "worksheet_points": 0, "sst_points": 0, "path": p,
        }
    assert staged == []
    assert open(p, "rb").read() == raw
    assert os.listdir(tmp_path) == ["small.xlsx"]


def test_stats_survive_final_flush_on_last_row():
    """r11 review: a final flush point landing exactly on the last row
    produces a duplicate cumulative bound (zero-row terminal interval);
    aligned() must emit a claim-nothing interval, not drop ALL stats."""
    from sheetreader_duckdb_spark.sources.xlsx.indexer import (
        _IntervalStatsCollector,
    )

    coll = _IntervalStatsCollector(b"")
    coll.fine = [
        (10, {"st": {"A": (0.0, 9.0)}, "sv": {"B": ("a", "c")},
              "nc": {"A": (10, 0, 0, 0)}, "bt": {"C": (4, 6)}}),
        (20, {"st": {"A": (10.0, 19.0)}, "sv": {"B": ("d", "f")},
              "nc": {"A": (10, 0, 0, 0)}, "bt": {"C": (0, 10)}}),
    ]
    got = coll.aligned([(100, 10), (200, 20)], 20)
    out, sv, nc, bv = (got.get(k) for k in SI.SECTION_KEYS)
    assert out == {"A": [0.0, 9.0, 10.0, 19.0, None, None]}
    assert sv == {"B": ["a", "c", "d", "f", None, None]}
    # counts: the zero-row terminal interval claims all-zero (vacuously
    # true), not unknown — [] after trailing-zero stripping
    assert nc == {"A": [[10], [10], []]}
    assert bv == {"C": [[4, 6], [0, 10], []]}


def test_flush_unavailable_reports_unavailable_not_mixed(foreign_xlsx, tmp_path, monkeypatch):
    """r11 review: with the flush machinery gated off, every file used to
    misreport as 'mixes row prefixes' (the needle count stops early while
    the any-prefix count doesn't). The verdict must be the generic
    nothing-to-index one, and the file untouched."""
    import shutil

    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    p = str(tmp_path / "gated.xlsx")
    shutil.copy(foreign_xlsx, p)
    raw = open(p, "rb").read()
    monkeypatch.setattr(W, "_FLUSH_OK", False)
    out = index_xlsx(p)
    assert not out["indexed"]
    assert "mixes row prefixes" not in out["reason"]
    assert open(p, "rb").read() == raw


def _analysis_bug(*a, **k):
    # module level: a pooled analysis job pickles its function by name
    raise RuntimeError("interval analysis bug (simulated)")


@pytest.mark.parametrize("workers", [1, 4])
def test_stats_analysis_error_is_loud(foreign_xlsx, tmp_path, monkeypatch, workers):
    """An unexpected error while analysing an interval fails the retrofit
    on the serial path (workers=1) and the pooled one (workers=4) alike —
    the pooled worker used to return None and drop every claim silently
    — and the failure leaves no staging files behind."""
    from sheetreader_duckdb_spark.sources.xlsx import indexer as IX

    monkeypatch.setattr(IX, "_analyze_interval", _analysis_bug)
    out = str(tmp_path / "out.xlsx")
    with pytest.raises(RuntimeError, match="interval analysis bug"):
        index_xlsx(foreign_xlsx, out_path=out, workers=workers)
    assert not os.path.exists(out)
    assert not [f for f in os.listdir(tmp_path) if ".idx-tmp" in f]


@pytest.mark.parametrize("exc", [OSError, ValueError, RuntimeError])
def test_stats_pool_setup_error(foreign_xlsx, tmp_path, monkeypatch, exc):
    """Pool setup on a box without fork or under resource limits
    (OSError, ValueError) falls back to the serial path with
    byte-identical output; any other setup error propagates."""
    import multiprocessing

    class NoPool:
        def Pool(self, *a, **k):
            raise exc("pool setup (simulated)")

    want = str(tmp_path / "want.xlsx")
    assert index_xlsx(foreign_xlsx, out_path=want, workers=4)["indexed"]
    monkeypatch.setattr(multiprocessing, "get_context", lambda method: NoPool())
    out = str(tmp_path / "out.xlsx")
    if exc is RuntimeError:
        with pytest.raises(RuntimeError, match="pool setup"):
            index_xlsx(foreign_xlsx, out_path=out, workers=4)
        assert not os.path.exists(out)
        return
    assert index_xlsx(foreign_xlsx, out_path=out, workers=4)["indexed"]
    assert open(out, "rb").read() == open(want, "rb").read()


@pytest.mark.parametrize("exc", [ValueError, RuntimeError])
def test_stats_heap_error_sheds_only_undecodable(foreign_xlsx, tmp_path, monkeypatch, exc):
    """An undecodable shared-strings heap (ValueError from the heap
    stream) costs only the statistics: the file still indexes, without
    an ``sv`` section (an interval with string cells withholds every
    claim, since its read would raise). Any other error from the heap
    stream is a bug and propagates."""
    from sheetreader_duckdb_spark.sources.xlsx import indexer as IX

    def heap(zf, pfx):
        raise exc("heap decode (simulated)")
        yield

    monkeypatch.setattr(IX, "_iter_sst_entries", heap)
    out = str(tmp_path / "out.xlsx")
    if exc is RuntimeError:
        with pytest.raises(RuntimeError, match="heap decode"):
            index_xlsx(foreign_xlsx, out_path=out)
        assert not os.path.exists(out)
        return
    assert index_xlsx(foreign_xlsx, out_path=out)["indexed"]
    with zipfile.ZipFile(out) as zf:
        sheet = "xl/worksheets/sheet1.xml"
        pts = SI.decode_split_index(zf, sheet)
        assert pts is not None and pts[-1][1] == N_ROWS + 1
        assert "sv" not in SI.decode_interval_sections(zf, sheet, pts)


def test_stream_counters_match_whole_buffer_property():
    """Property: the chunked-stream counters agree with their whole-
    buffer ground truth under ADVERSARIAL chunkings — every split point,
    including mid-tag splits, for both the fixed-needle pair counter
    (writer._StraddleCounter) and the retrofit's mixed-prefix guard
    (rowstream.MixedAwareRowCounter, exact under any prefix). This is the
    carry discipline the r11 review flagged as subtle-and-triplicated;
    the property pins each variant."""
    import itertools
    import random

    from sheetreader_duckdb_spark.sources.xlsx.parser import (
        MixedAwareRowCounter,
        count_any_row_starts,
        prefix_res,
    )
    from sheetreader_duckdb_spark.sources.xlsx.writer import _StraddleCounter

    rng = random.Random(11)
    samples = []
    tags = [b"<row ", b"<row>", b"<row/>", b"<x:row ", b"<rowBreaks>",
            b"<x:rowBreaks>", b"</row>", b"<longprefix-a.b:row ", b"<c ",
            b"text :row text", b"<ro", b"w "]
    for _ in range(40):
        doc = b"".join(rng.choice(tags) for _ in range(rng.randint(0, 60)))
        samples.append(doc)
    # plus pathological repeats around the carry width
    samples.append(b"<row " * 100)
    samples.append((b"x" * 68 + b"<x:row ") * 30)

    for doc in samples:
        want_any = count_any_row_starts(doc)
        want_pair = doc.count(b"<row") - doc.count(b"<rowB")
        # a handful of random chunkings incl. 1-byte splits for short docs
        chunkings = [[len(doc)]]
        for _ in range(6):
            cuts = sorted(rng.sample(range(1, max(2, len(doc))),
                                     k=min(rng.randint(1, 9), max(1, len(doc) - 1))))
            chunkings.append(list(itertools.chain(cuts, [len(doc)])))
        if len(doc) <= 64:
            chunkings.append(list(range(1, len(doc) + 1)))  # 1-byte chunks
        for ends in chunkings:
            a = MixedAwareRowCounter(b"", prefix_res(b"").row_count_re)
            s = _StraddleCounter(b"<row", b"<rowB")
            prev = 0
            for e in ends:
                piece = doc[prev:e]
                prev = e
                a.feed(piece)
                s.feed(piece)
            assert a.close() == want_any, (doc[:60], ends[:5])
            assert s.count == want_pair, (doc[:60], ends[:5])


def test_parallel_retrofit_byte_identical_any_worker_count(tmp_path):
    """Per-member-parallel retrofit (VERDICT r12 task 3): the staged
    assembly produces BYTE-IDENTICAL output for every worker count —
    each member's deflate stream depends only on its own source bytes,
    and assembly replays archive order. Also pins that the parallel
    output reads back exactly and carries the same index sections."""
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI2
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    n1, n2, n3 = 50_000, 70_000, 60_000
    src = str(tmp_path / "multi3.xlsx")
    write_xlsx(
        src,
        {
            "First": [["a", "b"]] + [[f"x{i}", float(i)] for i in range(n1)],
            "Second": [["p", "q"]] + [[float(i), float(i * 3)] for i in range(n2)],
            "Third": [["u", "v"]] + [[f"s{i:06d}", float(i)] for i in range(n3)],
        },
    )
    import shutil

    base = _foreignize(src, str(tmp_path / "base.xlsx"))
    outs = {}
    for w in (1, 2, 4):
        # byte-copy ONE foreignized input (zipfile re-foreignizing would
        # stamp fresh mtimes and make the inputs themselves differ)
        p = str(tmp_path / f"w{w}.xlsx")
        shutil.copy(base, p)
        res = index_xlsx(p, workers=w)
        assert res["indexed"] and res["extra_sheets"] == 2, (w, res)
        outs[w] = open(p, "rb").read()
    assert outs[1] == outs[2] == outs[4]
    # the indexed output still decodes every section
    p = str(tmp_path / "w4.xlsx")
    with zipfile.ZipFile(p) as zf:
        for entry, total in (
            ("xl/worksheets/sheet1.xml", n1 + 1),
            ("xl/worksheets/sheet2.xml", n2 + 1),
            ("xl/worksheets/sheet3.xml", n3 + 1),
        ):
            pts = SI2.decode_split_index(zf, entry)
            assert pts is not None and pts[-1][1] == total, entry
        assert SI2.decode_sst_index(zf) is not None


def test_retrofit_survives_lone_surrogate_shared_strings(tmp_path):
    """r12 review fix: ST_Xstring escapes like _xD800_ decode to lone
    surrogates in the sst heap; truncated_string_bounds UTF-8-encodes and
    used to crash the WHOLE retrofit. The column must simply claim
    nothing (stats are an optimization), the file must index, and reads
    must stay bit-equal."""
    import shutil

    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI2

    src = str(tmp_path / "surr_src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["name", "qty"])
    for i in range(N_ROWS):
        w.write_row([f"r{i}", float(i)])
    w.close()
    p = _foreignize(src, str(tmp_path / "surr.xlsx"))
    # splice a _xD800_ escape into one shared string
    with zipfile.ZipFile(p) as zf:
        sst = zf.read("xl/sharedStrings.xml")
        members = [(i, zf.read(i.filename)) for i in zf.infolist()]
    assert b"<t xml:space=\"preserve\">r77</t>" in sst
    sst = sst.replace(
        b"<t xml:space=\"preserve\">r77</t>",
        b"<t xml:space=\"preserve\">_xD800_r77</t>", 1,
    )
    with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as zout:
        for info, raw in members:
            zout.writestr(
                info.filename,
                sst if info.filename == "xl/sharedStrings.xml" else raw,
            )
    before = str(tmp_path / "surr_before.xlsx")
    shutil.copy(p, before)
    out = index_xlsx(p)
    assert out["indexed"], out  # no UnicodeEncodeError from the retrofit
    with zipfile.ZipFile(p) as zf:
        pts = SI2.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        secs = SI2.decode_interval_sections(
            zf, "xl/worksheets/sheet1.xml", pts
        )
    sv, st = secs.get("sv"), secs.get("st")
    assert st is not None and "B" in st  # numeric claims unaffected
    assert pts is not None and pts[-1][1] == N_ROWS + 1
    del sv  # shape validated by decode; surrogate column's claims optional
    # Error PARITY: Arrow cannot hold a lone surrogate either, so READING
    # this column fails identically before and after the retrofit — the
    # index changes economics, never semantics.
    schema = StructType(
        [StructField("name", StringType()), StructField("qty", DoubleType())]
    )
    for path2 in (before, p):
        with pytest.raises(UnicodeEncodeError):
            _collect({"path": path2, "threads": "4"}, schema)
    # and the surrogate-free COLUMN still reads exactly on the indexed copy
    qty = _collect(
        {"path": p, "threads": "4", "columns": "qty"},
        StructType([StructField("qty", DoubleType())]),
    )
    assert len(qty) == N_ROWS


def test_retrofit_glob_metachar_basename_leaves_no_temps(tmp_path):
    """r12 review fix: staged-temp cleanup uses exact recorded names, so
    a destination basename with glob metacharacters doesn't leak .m*
    staging files (on success or failure)."""
    src = str(tmp_path / "meta_src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["a", "b"])
    for i in range(N_ROWS):
        w.write_row([f"x{i}", float(i)])
    w.close()
    p = _foreignize(src, str(tmp_path / "report[2024]*.xlsx"))
    out = index_xlsx(p)
    assert out["indexed"], out
    leftovers = [f for f in os.listdir(tmp_path) if ".idx-tmp" in f]
    assert leftovers == [], leftovers
    # and a too-small file (error path) cleans up as well
    src2 = str(tmp_path / "tiny_src.xlsx")
    w = IncrementalXlsxWriter(src2, "Sheet1")
    w.write_row(["a"])
    w.write_row(["x"])
    w.close()
    p2 = _foreignize(src2, str(tmp_path / "tiny[1].xlsx"))
    out2 = index_xlsx(p2)
    assert not out2["indexed"]
    leftovers = [f for f in os.listdir(tmp_path) if ".idx-tmp" in f]
    assert leftovers == [], leftovers


def test_describe_index_reports_health(tmp_path):
    """describe_index (r13): decode-only index-health report — the
    fleet-audit counterpart of index_xlsx. Covers: unindexed file,
    indexed file's sections/stride/coverage, and the claim-coverage
    signal dropping when intervals withhold."""
    from sheetreader_duckdb_spark import describe_index
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    n = 120_000
    src = str(tmp_path / "d.xlsx")
    write_xlsx(
        src,
        {"S": [["a", "b"]] + [[float(i), f"s{i % 7}"] for i in range(n)]},
    )
    raw = _foreignize(src, str(tmp_path / "raw.xlsx"))
    rep0 = describe_index(raw)
    assert rep0["indexed"] is False and rep0["sheets"] == {}

    out = index_xlsx(raw)
    assert out["indexed"]
    rep = describe_index(raw)
    assert rep["indexed"] and rep["comment_bytes"] > 0
    sheet = rep["sheets"]["xl/worksheets/sheet1.xml"]
    assert sheet["rows"] == n + 1
    assert sheet["intervals"] >= 2 and sheet["stride"] >= 1
    assert sheet["numeric_stat_cols"] == ["A"]
    assert "B" in sheet["string_stat_cols"]
    assert set(sheet["count_stat_cols"]) >= {"A", "B"}
    # honest file: numeric/count sections fully claimed; the string
    # section averages in column A's header-only claims (interval 0
    # only) — exactly the partial-coverage signal the report exists
    # to surface
    assert sheet["claim_coverage"]["numeric"] > 0.9
    assert sheet["claim_coverage"]["count"] > 0.9
    assert 0.5 < sheet["claim_coverage"]["string"] < 1.0
    # 9 unique strings: the heap never spans one split interval, so no
    # sst section exists — reported as absent, matching what a sharded
    # read can use
    assert rep["sst"] is None

    # a garbled sv section reports as ABSENT — what the planner sees
    import json as _json
    import zipfile as _zf

    with _zf.ZipFile(raw) as z:
        payload = _json.loads(z.comment[len(SI.MAGIC):])
    payload["sv"] = {"B": ["x"]}
    with _zf.ZipFile(raw, "a") as z:
        z.comment = SI.MAGIC + _json.dumps(payload).encode()
    rep2 = describe_index(raw)
    sheet2 = rep2["sheets"]["xl/worksheets/sheet1.xml"]
    assert sheet2["string_stat_cols"] == []
    assert "string" not in sheet2["claim_coverage"]
    assert sheet2["numeric_stat_cols"] == ["A"]  # independent sections


def test_describe_index_dir_sweep(tmp_path, spark):
    """describe_index_dir (r13): mixed indexed/unindexed corpus in a
    glob-metacharacter directory name ('batch[2024]' — the resolver
    must escape the dir part), plus the per-file error-row shape for
    an unreadable file."""
    import shutil

    from sheetreader_duckdb_spark import describe_index_dir
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    d = tmp_path / "batch[2024]"
    d.mkdir()
    src = str(d / "indexed.xlsx")
    write_xlsx(
        src, {"S": [["a"]] + [[float(i)] for i in range(120_000)]}
    )
    _foreignize(src, str(d / "plain.xlsx"))
    assert index_xlsx(src)["indexed"]
    (d / "broken.xlsx").write_bytes(b"not a zip at all")

    reps = {os.path.basename(r["path"]): r
            for r in describe_index_dir(spark, str(d))}
    assert set(reps) == {"indexed.xlsx", "plain.xlsx", "broken.xlsx"}
    assert reps["indexed.xlsx"]["indexed"]
    sh = reps["indexed.xlsx"]["sheets"]["xl/worksheets/sheet1.xml"]
    assert sh["rows"] == 120_001 and sh["stride"] >= 1
    assert not reps["plain.xlsx"]["indexed"]
    assert not reps["broken.xlsx"]["indexed"]
    assert reps["broken.xlsx"]["reason"].startswith("error:")

    # forged stride reports as None — distinct from honest unstrided 1
    import json as _json
    import zipfile as _zf

    from sheetreader_duckdb_spark import describe_index

    with _zf.ZipFile(src) as z:
        payload = _json.loads(z.comment[len(SI.MAGIC):])
    payload["q"] = 0
    with _zf.ZipFile(src, "a") as z:
        z.comment = SI.MAGIC + _json.dumps(payload).encode()
    rep = describe_index(src)
    sh2 = rep["sheets"]["xl/worksheets/sheet1.xml"]
    assert sh2["stride"] is None and sh2["numeric_stat_cols"] == []


# ---- interval-parallel deflate: one encoder, any worker count -------------

SMALL_INTERVAL = 96 << 10  # ~1 MB sheet → more than 8 intervals


def _raw_member(path: str, name: str) -> bytes:
    with zipfile.ZipFile(path) as zf:
        info = zf.getinfo(name)
    with open(path, "rb") as f:
        f.seek(SI.member_data_offset(path, info))
        return f.read(info.compress_size)


def _serial_oracle(data: bytes, cuts: list) -> bytes:
    """One raw deflate stream over the whole member with a full flush at
    every cut: the single-stream encoding the segments must reproduce."""
    import zlib

    c = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
    out, prev = [], 0
    for off in cuts:
        out += [c.compress(data[prev:off]), c.flush(zlib.Z_FULL_FLUSH)]
        prev = off
    out += [c.compress(data[prev:]), c.flush()]
    return b"".join(out)


@pytest.fixture(scope="module")
def many_interval_xlsx(tmp_path_factory):
    d = tmp_path_factory.mktemp("segments")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["name", "qty", "price"])
    for i in range(9_000):
        w.write_row([f"n{i:05d}", float(i % 97), float(i) + 0.5])
    w.close()
    return _foreignize(src, str(d / "foreign.xlsx"))


@pytest.mark.parametrize("max_points", [None, 4], ids=["plain", "thinned"])
def test_segments_byte_identical_to_serial_oracle(
    many_interval_xlsx, tmp_path, monkeypatch, max_points
):
    """Every flush interval is deflated on its own, inline or in the
    pool: the output is byte-identical for workers 1, 2, 4 and auto,
    with statistics on and off, and each re-deflated member equals one
    serial deflate stream that full-flushes at the cuts the encoder
    made. With ``max_points`` the recorded points thin 2:1 while the
    member keeps every flush."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    monkeypatch.setattr(W, "SPLIT_INTERVAL", SMALL_INTERVAL)
    if max_points is not None:
        monkeypatch.setattr(W, "MAX_POINTS", max_points)
    cuts: dict = {}
    real_add, real_cut = W._SegmentWriter.add, W._SegmentWriter.cut

    def add(self, piece):
        self.seen = getattr(self, "seen", 0) + len(piece)
        real_add(self, piece)

    def cut(self, last):
        if not last:
            cuts.setdefault(self._zwf._zinfo.filename, []).append(self.seen)
        return real_cut(self, last)

    monkeypatch.setattr(W._SegmentWriter, "add", add)
    monkeypatch.setattr(W._SegmentWriter, "cut", cut)

    sheet, sst = "xl/worksheets/sheet1.xml", "xl/sharedStrings.xml"
    outs: dict = {}
    for stats in (True, False):
        for workers in (1, 2, 4, None):
            cuts.clear()
            out = str(tmp_path / f"o-{stats}-{workers}.xlsx")
            res = index_xlsx(
                many_interval_xlsx, out_path=out, stats=stats, workers=workers
            )
            assert res["indexed"], res
            outs[stats, workers] = open(out, "rb").read()
            seen_cuts = {k: list(v) for k, v in cuts.items()}
        assert len({outs[stats, w] for w in (1, 2, 4, None)}) == 1, stats

    # flushes made; with thinning the interval doubles as it goes
    assert len(seen_cuts[sheet]) >= (8 if max_points is None else 5)
    with zipfile.ZipFile(many_interval_xlsx) as zf:
        plain = {name: zf.read(name) for name in (sheet, sst)}
    for stats in (True, False):
        out = str(tmp_path / f"o-{stats}-None.xlsx")
        for name in (sheet, sst):
            assert _raw_member(out, name) == _serial_oracle(
                plain[name], seen_cuts[name]
            ), (stats, name)
        with zipfile.ZipFile(out) as zf:
            assert zf.testzip() is None
            pts = SI.decode_split_index(zf, sheet)
        if max_points is None:
            assert len(pts) == len(seen_cuts[sheet]) + 1
        else:
            assert len(pts) < len(seen_cuts[sheet])


@pytest.mark.parametrize("workers", [1, 4])
def test_segment_past_cap_streams_in_the_parent(
    many_interval_xlsx, tmp_path, monkeypatch, workers
):
    """An open segment that outgrows ``writer._SEGMENT_CAP`` (a long
    stretch with no boundary) stops buffering and deflates as it
    streams, in the parent: the members and their flush points are
    unchanged, and only the interval statistics are given up."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    monkeypatch.setattr(W, "SPLIT_INTERVAL", SMALL_INTERVAL)
    want = str(tmp_path / "want.xlsx")
    assert index_xlsx(many_interval_xlsx, out_path=want)["indexed"]
    monkeypatch.setattr(W, "_SEGMENT_CAP", 16 << 10)
    out = str(tmp_path / "out.xlsx")
    assert index_xlsx(many_interval_xlsx, out_path=out, workers=workers)["indexed"]
    sheet = "xl/worksheets/sheet1.xml"
    for name in (sheet, "xl/sharedStrings.xml"):
        assert _raw_member(out, name) == _raw_member(want, name), name
    with zipfile.ZipFile(want) as zw, zipfile.ZipFile(out) as zo:
        pts = SI.decode_split_index(zo, sheet)
        assert pts == SI.decode_split_index(zw, sheet) and len(pts) >= 8
        assert SI.decode_interval_sections(zw, sheet, pts)
        assert not SI.decode_interval_sections(zo, sheet, pts)


@pytest.mark.parametrize("workers", [1, 4])
@pytest.mark.parametrize("stats", [False, True])
def test_segment_deflate_error_is_loud(
    foreign_xlsx, tmp_path, monkeypatch, stats, workers
):
    """A deflater that raises, streaming inline or in a pool worker's
    segment job, fails the retrofit and leaves neither the output nor
    staging files behind."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    class Boom:
        def compress(self, *a):
            raise RuntimeError("segment deflate bug (simulated)")

        flush = compress

    monkeypatch.setattr(W, "_deflater", Boom)
    monkeypatch.setattr(W, "_FLUSH_OK", True)  # the probe deflates too
    out = str(tmp_path / "out.xlsx")
    with pytest.raises(RuntimeError, match="segment deflate bug"):
        index_xlsx(foreign_xlsx, out_path=out, stats=stats, workers=workers)
    assert not os.path.exists(out)
    assert not [f for f in os.listdir(tmp_path) if ".idx-tmp" in f]


def test_workers_one_starts_no_process_or_thread(foreign_xlsx, tmp_path, monkeypatch):
    """``workers=1`` (what ``index_xlsx_dir`` passes inside Spark tasks)
    runs every segment inline: no pool, no staging thread — and the
    bytes are those of the parallel path."""
    import multiprocessing
    import threading

    want = str(tmp_path / "want.xlsx")
    assert index_xlsx(foreign_xlsx, out_path=want, workers=4)["indexed"]

    def refuse(*a, **k):
        raise AssertionError("workers=1 must not start a pool or a thread")

    monkeypatch.setattr(multiprocessing, "get_context", refuse)
    monkeypatch.setattr(threading.Thread, "start", refuse)
    out = str(tmp_path / "out.xlsx")
    assert index_xlsx(foreign_xlsx, out_path=out, workers=1)["indexed"]
    assert open(out, "rb").read() == open(want, "rb").read()


def test_writer_output_pinned(tmp_path, monkeypatch):
    """``write_xlsx`` and ``IncrementalXlsxWriter`` (with interval
    statistics) write the same bytes as the single-stream encoder did:
    sha256 pinned, with the zip timestamps fixed and intervals small
    enough for many flush points in the sheet and the heap."""
    import hashlib
    import types

    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    monkeypatch.setattr(W, "SPLIT_INTERVAL", 32 << 10)
    monkeypatch.setattr(
        zipfile, "time",
        types.SimpleNamespace(time=lambda: 0.0,
                              localtime=lambda _t=None: (2024, 1, 2, 3, 4, 5)),
    )
    rows = [["k", "name", "x", "flag"]] + [
        [i, f"s{i % 2500:04d}-label", i * 0.25, i % 3 == 0] for i in range(6_000)
    ]
    a = str(tmp_path / "a.xlsx")
    W.write_xlsx(a, {"One": rows, "Two": rows[:3_000]})
    b = str(tmp_path / "b.xlsx")
    w = IncrementalXlsxWriter(b, "S", stats=True)
    for r in rows:
        w.write_row(r)
    w.close()
    digest = {
        p: hashlib.sha256(open(p, "rb").read()).hexdigest() for p in (a, b)
    }
    assert digest == {
        a: "0bfba1e9582244de8606adebe8a952cda0cb88e0a0c1c9eef75cdc872d665e27",
        b: "1ae7436aa1a08a1aa1d99aad15485eeb4772f794913bdf6671ec00e97bb4416d",
    }
