"""Dense-row fast path (parser.build_dense_row_re + datasource wiring).

The columnar reader compiles a row pattern from a template row of chunk 0
and extracts every chunk whose rows all match it, chunk 0's own rows
included, with one findall. These tests build workbooks big enough to
span several chunks, plant rows that omit cells (which must stay on the
fast path) and rows whose present cells deviate from the template (which
must fall back), and pin that (a) results are identical to an oracle
written here (``_oracle``: ``XlsxWorkbook.iter_rows`` per partition plus
a per-cell dispatch of the test's own), for typed, coerce and inline
reads alike — all of which go through the one partition reader — and
(b) absent cells and empty rows keep exact NULL semantics. No
SparkSession needed for most of them — the reader API is driven directly.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import parser as P
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N_ROWS = 60_000  # ~7 MB of sheet XML -> 2-3 chunks at the 4 MB chunk size
IRREGULAR = {20_000: "absent_b", 40_000: "empty_row"}  # planted, chunk 2+


@pytest.fixture(scope="module")
def big_xlsx(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dense") / "big.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["name", "qty", "price"])
    for i in range(N_ROWS):
        kind = IRREGULAR.get(i)
        if kind == "absent_b":
            w.write_row([f"r{i}", None, float(i) + 0.25])
        elif kind == "empty_row":
            w.write_row([None, None, None])
        else:
            w.write_row([f"r{i}", float(i % 50), float(i) + 0.25])
    w.close()
    return path


SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("qty", DoubleType()),
        StructField("price", DoubleType()),
    ]
)


def _collect(options):
    reader = DS.SheetReaderReader(options, SCHEMA)
    rows: list[tuple] = []
    for part in reader.partitions():
        for batch in reader.read(part):
            cols = [c.to_pylist() for c in batch.columns]
            rows.extend(zip(*cols))
    return rows


def test_dense_engages_on_this_shape(big_xlsx):
    # Guard: the fixture's template row must actually compile a dense
    # pattern — otherwise every assertion below silently tests only the
    # generic path.
    built = P.build_dense_row_re(
        b'<c r="A2" t="s"><v>3</v></c><c r="B2"><v>1.0</v></c>'
        b'<c r="C2"><v>2.0</v></c>',
        [0, 1, 2],
        [0, 1, 1],
        frozenset(),
    )
    assert built is not None
    regex, out_slots = built
    assert out_slots == [0, 1, 2]
    assert regex.findall(
        b'<row r="9"><c r="A9" t="s"><v>7</v></c><c r="B9"><v>8.5</v></c>'
        b'<c r="C9"><v>9.5</v></c></row>'
    ) == [(b"7", b"8.5", b"9.5")]
    # Absent cells are optional (an empty capture, read as NULL); a
    # present cell still needs a value.
    assert regex.findall(
        b'<row r="9"><c r="A9" t="s"><v>7</v></c><c r="C9"><v>9.5</v></c>'
        b'</row><row r="10"></row>'
    ) == [(b"7", b"", b"9.5"), (b"", b"", b"")]
    assert regex.findall(b'<row r="9"><c r="A9" t="s"><v></v></c></row>') == []


def test_dense_matches_row_path_and_null_semantics(big_xlsx):
    dense = _collect({"path": big_xlsx, "threads": "1"})
    rowpath = _oracle(big_xlsx, threads="1")
    assert len(dense) == N_ROWS
    assert dense == rowpath
    assert dense[20_000] == ("r20000", None, 20000.25)
    assert dense[40_000] == (None, None, None)
    assert dense[0] == ("r0", 0.0, 0.25)
    assert dense[N_ROWS - 1] == (f"r{N_ROWS - 1}", (N_ROWS - 1) % 50, N_ROWS - 1 + 0.25)


def test_dense_sharded_equals_single(big_xlsx):
    single = _collect({"path": big_xlsx, "threads": "1"})
    sharded = _collect({"path": big_xlsx, "threads": "4"})
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(single, key=key) == sorted(sharded, key=key)


def test_dense_pruned_read(big_xlsx):
    reader = DS.SheetReaderReader(
        {"path": big_xlsx, "threads": "1", "columns": "price,name"},
        StructType(
            [StructField("name", StringType()), StructField("price", DoubleType())]
        ),
    )
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    assert len(rows) == N_ROWS
    assert rows[123] == ("r123", 123.25)
    assert rows[40_000] == (None, None)


def test_template_rejects_type_disagreement():
    # force_types semantics: if the schema expects DOUBLE where the
    # template carries a shared string, dense must refuse (the generic
    # path yields NULL for the mismatch — dense would yield bytes).
    assert (
        P.build_dense_row_re(
            b'<c r="A2" t="s"><v>3</v></c><c r="B2"><v>1.0</v></c>',
            [0, 1],
            [1, 1],  # schema says DOUBLE for the t="s" column
            frozenset(),
        )
        is None
    )


def test_template_rejects_absent_and_unordered():
    assert (
        P.build_dense_row_re(
            b'<c r="A2" t="s"><v>3</v></c><c r="B2"/>', [0, 1], [0, 1], frozenset()
        )
        is None
    )
    # duplicate column letters can't cover the schema
    assert (
        P.build_dense_row_re(
            b'<c r="A2"><v>1</v></c><c r="A2"><v>2</v></c>',
            [0, 1],
            [1, 1],
            frozenset(),
        )
        is None
    )


def test_row_count_primitives_agree_on_xml_whitespace():
    """ADVICE r7: assigned chunks count rows with _ROW_COUNT_RE while
    unassigned chunks use count_row_starts (bytes.count); a writer
    emitting `<row\\n` (legal XML whitespace) must count identically on
    both, or sharded readers desync rows_seen and mis-apply skip_rows."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    body = (
        b'<sheetData><row r="1"><c r="A1"><v>1</v></c></row>'
        b'<row\n r="2"><c r="A2"><v>2</v></c></row>'
        b'<row\t r="3"/><row>\x3c/row>'
        b'<rowBreaks count="1"><brk id="1"/></rowBreaks></sheetData>'
    )
    assert len(P._ROW_COUNT_RE.findall(body)) == P.count_row_starts(body) == 4


def test_shared_string_heap_lazy_matches_expat():
    """SharedStringHeap (the sharded-read lazy heap) decodes every entry
    identically to the expat walk: entities, xml:space, empty forms,
    ST_Xstring; rich-text runs fall back to the full parse."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    doc = (
        b'<?xml version="1.0"?><sst xmlns="x" count="7" uniqueCount="7">'
        b'<si><t>a &amp; b &lt;c&gt; &#233;</t></si>'
        b'<si><t xml:space="preserve"> lead </t></si>'
        b'<si/><si><t/></si><si><t>_x000D_ cr</t></si>'
        b'<si><t></t></si><si><t>tail</t></si></sst>'
    )
    heap = P.SharedStringHeap(doc)
    want = P._parse_sst_expat(doc)
    assert len(heap) == len(want) == 7
    assert [heap[i] for i in range(len(heap))] == want
    assert heap.decode_many([6, 0, 3]) == [want[6], want[0], want[3]]
    # rich-text entry: per-entry regex can't match -> one full-parse
    # fallback, identical results
    rich = b'<sst><si><r><t>a</t></r><r><t>b</t></r></si><si><t>c</t></si></sst>'
    lazy = P.SharedStringHeap(rich)
    assert [lazy[0], lazy[1]] == P._parse_sst_expat(rich) == ["ab", "c"]


def test_string_heavy_sharded_read_equals_single_thread(spark, tmp_path):
    """Auto-sharded read of a unique-string-heavy sheet (the partsupp
    shape, where each shard lazily decodes only its own referenced heap
    entries) returns exactly the single-thread rows."""
    from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter
    from sheetreader_duckdb_spark import register

    register(spark)
    path = str(tmp_path / "strings.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["k", "comment"])
    for i in range(5000):
        w.write_row([float(i), f"unique comment {i} " + "x" * (i % 37)])
    w.close()
    one = spark.read.format("sheetreader").option("threads", 1).load(path)
    many = spark.read.format("sheetreader").option("threads", 8).load(path)
    r1 = sorted(map(tuple, one.collect()))
    r8 = sorted(map(tuple, many.collect()))
    assert r1 == r8 and len(r1) == 5000


def test_sst_comment_and_cdata_fall_back_to_expat():
    """An XML comment containing a well-formed <si> would BOTH count and
    regex-match (a phantom heap entry no count check catches), and it
    would shift every later lazy-heap offset — both paths must hand such
    documents to expat."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    doc = (
        b'<sst count="2" uniqueCount="2">'
        b'<!-- <si><t>phantom</t></si> -->'
        b'<si><t>real one</t></si><si><t>real two</t></si></sst>'
    )
    want = ["real one", "real two"]
    assert P._parse_sst_fast(doc) is None
    assert P._parse_sst_expat(doc) == want
    heap = P.SharedStringHeap(doc)
    assert [heap[0], heap[1]] == want and len(heap) == 2
    assert heap.decode_many([1, 0]) == ["real two", "real one"]


def test_auto_shard_cap_matrix(spark, tmp_path, monkeypatch):
    """VERDICT r8 task 5: the AUTO shard cap is cluster-aware —
    max(32, defaultParallelism), or the max_shards reader option — over a
    mocked (file size × parallelism) matrix; explicit threads never cap."""
    import os as _os

    from pyspark.sql.types import StructType, StructField, DoubleType

    from sheetreader_duckdb_spark.sources.xlsx import datasource as DS

    path = str(tmp_path / "m.xlsx")
    with open(path, "wb") as f:
        f.write(b"\x00")
    schema = StructType([StructField("x", DoubleType())])

    def reader(parallelism=None, **opts):
        # The REAL plumbing (ADVICE r9): default_parallelism is what
        # register(spark) captures onto the pickled class — no mock of
        # _auto_shard_cap, the cap math itself runs.
        return DS.SheetReaderReader(
            {"path": path, **opts}, schema, default_parallelism=parallelism
        )

    def n_parts(r, size_mb, parallelism=None):
        monkeypatch.setattr(
            _os.path, "getsize", lambda _p: size_mb << 20
        )
        if parallelism is not None:
            r._default_parallelism = parallelism
        return len(r.partitions())

    r = reader()
    # small file: 1 shard per MB regardless of cluster size
    assert n_parts(r, 3, 1000) == 3
    # local[32]-era behavior preserved: big file, small cluster → 32
    assert n_parts(r, 4096, 32) == 32
    # big file + big cluster → parallelism-sized fan-out
    assert n_parts(r, 4096, 1000) == 1000
    # cap still binds by size: 100 MB on 1000 cores → 100 shards
    assert n_parts(r, 100, 1000) == 100
    # explicit max_shards option wins over cluster size
    assert n_parts(reader(max_shards="8"), 4096, 1000) == 8
    # explicit threads is never capped
    assert n_parts(reader(threads="48"), 1, 4) == 48
    # the real _auto_shard_cap honors the option and the 32 floor
    assert DS._auto_shard_cap(7) == 7
    assert DS._auto_shard_cap(None) >= 32


def test_auto_shards_round_to_whole_waves(big_xlsx, monkeypatch):
    """Past the captured width the auto shard count rounds down to a
    multiple of it, so no wave runs mostly idle (5 shards on 4 cores
    were 4 + 1). Width None, explicit threads and a max_shards option
    keep their count. Shards split rows round-robin by chunk, so the
    rows of a 4-shard and a 5-shard read are equal as multisets, not in
    order."""
    import os as _os

    real_getsize = _os.path.getsize

    def plan(size_mb, width=4, **opts):
        r = DS.SheetReaderReader(
            {"path": big_xlsx, **opts}, SCHEMA, default_parallelism=width
        )
        monkeypatch.setattr(_os.path, "getsize", lambda _p: size_mb << 20)
        try:
            return r, r.partitions()
        finally:
            monkeypatch.setattr(_os.path, "getsize", real_getsize)

    def n(size_mb, width=4, **opts):
        return len(plan(size_mb, width, **opts)[1])

    assert [n(mb) for mb in (3, 4, 5, 6, 7, 8, 9)] == [3, 4, 4, 4, 4, 8, 8]
    assert [n(mb, width=None) for mb in (5, 9)] == [5, 9]
    assert n(9, threads="5") == 5 and n(5, threads="7") == 7
    assert n(9, max_shards="6") == 6
    assert n(20, width=8) == 16 and n(20, width=None) == 20

    def rows(reader, parts):
        out = []
        for part in parts:
            for batch in reader.read(part):
                out.extend(zip(*[c.to_pylist() for c in batch.columns]))
        return out

    whole = rows(*plan(5))
    old = rows(*plan(5, width=None))
    assert len(plan(5)[1]) == 4 and len(plan(5, width=None)[1]) == 5
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(whole, key=key) == sorted(old, key=key)
    assert len(whole) == len(_collect({"path": big_xlsx, "threads": "1"}))


def test_coerce_sharded_read_equals_single_thread(spark, tmp_path):
    """VERDICT r8 task 2: coerce_to_string now shards like any other read
    (chunk round-robin, lazy per-shard heap) — sharded
    rows must be exactly the single-thread rows, including the fixed-6
    float / TRUE-FALSE / ISO-date coercions."""
    from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter
    from sheetreader_duckdb_spark import register

    register(spark)
    path = str(tmp_path / "coerce.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["k", "v", "comment"])
    for i in range(4000):
        w.write_row([float(i), float(i) * 1.5 + 0.25, f"text {i} " + "y" * (i % 23)])
    w.close()
    mk = lambda t: (  # noqa: E731
        spark.read.format("sheetreader")
        .option("types", "VARCHAR,VARCHAR,VARCHAR")
        .option("coerce_to_string", True)
        .option("threads", t)
        .load(path)
    )
    one, many = mk(1), mk(8)
    assert [f.dataType.simpleString() for f in many.schema.fields] == [
        "string", "string", "string"
    ]
    r1 = sorted(map(tuple, one.collect()))
    r8 = sorted(map(tuple, many.collect()))
    assert r1 == r8 and len(r1) == 4000
    assert r1[0][0].endswith(".000000")  # fixed-6 coercion intact


def test_row_path_sharded_skip_rows(spark, tmp_path):
    """skip_rows accounting is GLOBAL across coerce-read shards: unassigned
    chunks are row-counted so every shard agrees on row ordinals."""
    from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter
    from sheetreader_duckdb_spark import register

    register(spark)
    path = str(tmp_path / "skip.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["a", "b"])
    for i in range(3000):
        w.write_row([float(i), f"s{i}"])
    w.close()
    mk = lambda t: (  # noqa: E731
        spark.read.format("sheetreader")
        .option("types", "VARCHAR,VARCHAR")
        .option("coerce_to_string", True)
        .option("skip_rows", 500)
        .option("threads", t)
        .load(path)
    )
    r1 = sorted(map(tuple, mk(1).collect()))
    r6 = sorted(map(tuple, mk(6).collect()))
    assert r1 == r6 and len(r1) == 2501  # header consumed, 500 skipped


def _prefixed_workbook_parts():
    """The non-worksheet members of a minimal namespace-prefixed package."""
    ct = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    wb_xml = (
        '<?xml version="1.0"?>'
        '<x:workbook xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<x:sheets><x:sheet name="S" sheetId="1" r:id="rId1"/></x:sheets></x:workbook>'
    )
    return ct, rels, wb_rels, wb_xml


def test_expat_fallback_sharded_parses_once(tmp_path, spark):
    """A namespace-prefixed worksheet scans on the SHARDED fast tier since
    r10 (prefix-parameterized patterns) — previously it defeated to a
    whole-file expat parse pinned to shard 0. Sharded result identical to
    single-thread, no duplicates, and the fast tier provably engages."""
    import zipfile

    from sheetreader_duckdb_spark import register

    register(spark)
    path = str(tmp_path / "prefixed.xlsx")
    ct, rels, wb_rels, wb_xml = _prefixed_workbook_parts()
    rows = "".join(
        f'<x:row r="{i + 2}"><x:c r="A{i + 2}"><x:v>{i}</x:v></x:c>'
        f'<x:c r="B{i + 2}"><x:v>{i * 2}</x:v></x:c></x:row>'
        for i in range(200)
    )
    sheet = (
        '<?xml version="1.0"?>'
        '<x:worksheet xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<x:sheetData><x:row r="1"><x:c r="A1"><x:v>10</x:v></x:c>'
        f"<x:c r=\"B1\"><x:v>20</x:v></x:c></x:row>{rows}</x:sheetData></x:worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    mk = lambda t: (  # noqa: E731
        spark.read.format("sheetreader")
        .option("has_header", False)
        .option("threads", t)
        .load(path)
    )
    r1 = sorted(map(tuple, mk(1).collect()))
    r4 = sorted(map(tuple, mk(4).collect()))
    assert r1 == r4 and len(r1) == 201

    # The fast tier provably engages AND genuinely shards: with a tiny
    # chunk size, every one of 3 shards yields rows (pre-r10 the whole
    # document parsed on shard 0 and shards 1-2 yielded nothing).
    per_shard = []
    with P.XlsxWorkbook(path) as wb:
        sheet = wb.resolve_sheet(None, None)
        for s in range(3):
            per_shard.append(
                sum(
                    1
                    for _ in wb.iter_rows(
                        sheet, chunk_bytes=1024, shard=s, n_shards=3
                    )
                )
            )
    assert all(c > 0 for c in per_shard), per_shard
    assert sum(per_shard) == 201


def test_prefixed_doc_full_type_matrix_sharded(tmp_path, spark):
    """Prefixed worksheet with shared strings (prefixed sst heap),
    booleans, an irregular row (reordered attrs → the ns-aware fragment
    parser) and an empty row: sharded read bit-equal to single-thread."""
    import zipfile

    from sheetreader_duckdb_spark import register

    register(spark)
    path = str(tmp_path / "prefixed_typed.xlsx")
    ct, rels, wb_rels, wb_xml = _prefixed_workbook_parts()
    sst = (
        '<?xml version="1.0"?>'
        '<x:sst xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<x:si><x:t>alpha</x:t></x:si><x:si><x:t>beta &amp; co</x:t></x:si>"
        "<x:si><x:t>gamma</x:t></x:si></x:sst>"
    )
    body = []
    for i in range(2, 402):
        if i == 200:
            # irregular: t before r defeats the cell regex -> fragment
            # parser (needs the synthetic xmlns declarations mid-file)
            body.append(
                f'<x:row r="{i}"><x:c t="s" r="A{i}"><x:v>{i % 3}</x:v></x:c>'
                f'<x:c r="B{i}"><x:v>{i}.5</x:v></x:c>'
                f'<x:c r="C{i}" t="b"><x:v>1</x:v></x:c></x:row>'
            )
        elif i == 300:
            body.append(f'<x:row r="{i}"/>')  # empty row -> all NULL
        else:
            body.append(
                f'<x:row r="{i}"><x:c r="A{i}" t="s"><x:v>{i % 3}</x:v></x:c>'
                f'<x:c r="B{i}"><x:v>{i}.5</x:v></x:c>'
                f'<x:c r="C{i}" t="b"><x:v>{i % 2}</x:v></x:c></x:row>'
            )
    sheet = (
        '<?xml version="1.0"?>'
        '<x:worksheet xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<x:sheetData><x:row r="1">'
        '<x:c r="A1" t="s"><x:v>0</x:v></x:c>'
        '<x:c r="B1"><x:v>1.5</x:v></x:c>'
        '<x:c r="C1" t="b"><x:v>0</x:v></x:c></x:row>'
        + "".join(body)
        + "</x:sheetData></x:worksheet>"
    )
    wb_rels = wb_rels.replace(
        "</Relationships>",
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>',
    )
    ct = ct.replace(
        "</Types>",
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>',
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    mk = lambda t: (  # noqa: E731
        spark.read.format("sheetreader")
        .option("has_header", False)
        .option("types", "VARCHAR,DOUBLE,BOOLEAN")
        .option("threads", t)
        .load(path)
    )
    r1 = sorted(map(tuple, mk(1).collect()), key=str)
    r4 = sorted(map(tuple, mk(4).collect()), key=str)
    assert r1 == r4
    assert len(r1) == 401
    assert ("gamma", 200.5, True) in r1  # the irregular row, decoded
    assert any(r[0] == "beta & co" for r in r1)  # entity through the heap
    assert (None, None, None) in r1  # the empty row

    # row_count statistic on the prefixed document (regex row counting
    # with the detected prefix — used to see zero '<row' tags).
    assert DS.row_count(path) == 401


def test_prefixed_dense_row_template(tmp_path):
    """build_dense_row_re compiles a prefixed template and matches
    prefixed rows (the dense single-findall tier works on <x:...> docs)."""
    built = P.build_dense_row_re(
        b'<x:c r="A2" t="s"><x:v>3</x:v></x:c><x:c r="B2"><x:v>1.0</x:v></x:c>',
        [0, 1],
        [0, 1],
        frozenset(),
        pfx=b"x:",
    )
    assert built is not None
    regex, out_slots = built
    assert out_slots == [0, 1]
    assert regex.findall(
        b'<x:row r="9"><x:c r="A9" t="s"><x:v>7</x:v></x:c>'
        b'<x:c r="B9"><x:v>8.5</x:v></x:c></x:row>'
    ) == [(b"7", b"8.5")]
    # count_row_starts with the prefix
    assert P.count_row_starts(b'<x:row r="1"/><x:rowBreaks/><x:row>', b"x:") == 2


def test_sst_si_with_whitespace_or_attribute_falls_back():
    """ADVICE r9 (high): an <si start tag carrying XML whitespace or an
    attribute ('<si >', '<si\\n>', '<si ph="x">') is counted by NEITHER
    the literal n_si count NOR the fast regex — the match-count check
    alone still passes while the entry is silently OMITTED, shifting
    every later string ref. Both fast paths must hand such documents to
    expat."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    for opener in (b"<si >", b"<si\n>", b'<si ph="x">'):
        doc = (
            b'<sst count="3" uniqueCount="3">'
            b"<si><t>first</t></si>"
            + opener
            + b"<t>hidden</t></si>"
            b"<si><t>last</t></si></sst>"
        )
        want = ["first", "hidden", "last"]
        assert P._parse_sst_expat(doc) == want
        assert P._parse_sst_fast(doc) is None, opener
        heap = P.SharedStringHeap(doc)
        assert len(heap) == 3
        assert [heap[0], heap[1], heap[2]] == want, opener


def test_sst_namespace_prefixed_rides_fast_machinery():
    """A namespace-prefixed heap (<x:sst><x:si><x:t>) rides the same fast
    per-entry machinery since r10 (ADVICE r9 made it defeat-to-expat; now
    the prefix resolves from the sst opener): the fast parse decodes it,
    the lazy heap builds a REAL offset index (per-shard cost stays
    O(entries referenced), not O(heap)), the Arrow bulk path works, and
    defeat shapes (attributes on the prefixed <si>) still fall back."""
    import pyarrow as pa

    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    doc = (
        b'<x:sst xmlns:x="s" count="3" uniqueCount="3">'
        b"<x:si><x:t>alpha</x:t></x:si>"
        b"<x:si><x:t>beta</x:t></x:si>"
        b'<x:si><x:t xml:space="preserve"> g </x:t></x:si></x:sst>'
    )
    want = ["alpha", "beta", " g "]
    assert P._parse_sst_expat(doc) == want
    assert P._parse_sst_fast(doc) == want
    heap = P.SharedStringHeap(doc)
    assert heap._full is None  # lazy: the offset index, not eager expat
    assert len(heap) == 3
    assert [heap[0], heap[1], heap[2]] == want
    assert heap.decode_many([1, 0]) == ["beta", "alpha"]
    bulk = heap.decode_many_arrow([0, 1, 2])
    assert bulk is not None and bulk.to_pylist() == want
    # rich-text prefixed entry: per-entry fallback to ONE expat parse
    rich = (
        b'<x:sst xmlns:x="s"><x:si><x:r><x:t>a</x:t></x:r>'
        b"<x:r><x:t>b</x:t></x:r></x:si>"
        b"<x:si><x:t>c</x:t></x:si></x:sst>"
    )
    lazy = P.SharedStringHeap(rich)
    assert [lazy[0], lazy[1]] == P._parse_sst_expat(rich) == ["ab", "c"]
    # defeat shape: attribute on the prefixed <si> start tag
    bad = (
        b'<x:sst xmlns:x="s"><x:si ph="y"><x:t>h</x:t></x:si>'
        b"<x:si><x:t>i</x:t></x:si></x:sst>"
    )
    assert P._parse_sst_fast(bad) is None
    hb = P.SharedStringHeap(bad)
    assert [hb[0], hb[1]] == ["h", "i"]  # eager expat fallback
    # Genuinely empty heap: cheap expat, no phantom entries.
    empty = b'<sst count="0" uniqueCount="0"></sst>'
    assert P._parse_sst_fast(empty) is None
    assert len(P.SharedStringHeap(empty)) == 0


def test_irregular_formula_rows_sharded_equals_single(spark, tmp_path):
    """Mid-file irregular rows (formula <f> children defeat the cell
    regex → per-chunk expat fragments) must read identically sharded and
    single-stream — the fragment path's shard accounting, not just the
    dense path's."""
    import zipfile

    from sheetreader_duckdb_spark import register

    register(spark)
    path = str(tmp_path / "formulas.xlsx")
    rows = []
    rows.append('<row r="1"><c r="A1"><v>1</v></c><c r="B1"><v>10</v></c></row>')
    for i in range(2, 2002):
        if i % 7 == 0:
            # formula cell: <f> child → irregular row → fragment parse
            rows.append(
                f'<row r="{i}"><c r="A{i}"><f>SUM(1,2)</f><v>{i}</v></c>'
                f'<c r="B{i}"><v>{i * 10}</v></c></row>'
            )
        else:
            rows.append(
                f'<row r="{i}"><c r="A{i}"><v>{i}</v></c>'
                f'<c r="B{i}"><v>{i * 10}</v></c></row>'
            )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
    )
    ct = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        "</Types>"
    )
    rels = '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"/>'
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    wb_xml = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    mk = lambda t: (  # noqa: E731
        spark.read.format("sheetreader")
        .option("has_header", False)
        .option("threads", t)
        .load(path)
    )
    r1 = sorted(map(tuple, mk(1).collect()))
    r5 = sorted(map(tuple, mk(5).collect()))
    assert r1 == r5 and len(r1) == 2001
    assert (7.0, 70.0) in r1  # a formula row's cached value decoded


def test_sst_multi_t_entry_falls_back():
    """A schema-invalid multi-<t> si (no <r> wrapper) must decode like
    expat ('ab' — runs concatenate), never as raw XML text: the fast
    pattern's [^<]* text class fails on it, forcing the fallback on
    every path (r9)."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    doc = (
        b'<sst count="2" uniqueCount="2">'
        b"<si><t>a</t><t>b</t></si><si><t>c</t></si></sst>"
    )
    want = ["ab", "c"]
    assert P._parse_sst_expat(doc) == want
    assert P._parse_sst_fast(doc) is None
    heap = P.SharedStringHeap(doc)
    assert [heap[0], heap[1]] == want
    assert heap.decode_many_arrow([0, 1]) is None


def test_decode_many_arrow_matches_scalar():
    """decode_many_arrow (bulk run-findall → one Arrow array) returns
    exactly decode_many's strings on every shape it accepts, and declines
    (None) on shapes needing per-entry handling — escapes, ST_Xstring,
    rich text."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P

    doc = (
        b'<sst count="6" uniqueCount="6">'
        b"<si><t>alpha</t></si>"
        b'<si><t xml:space="preserve"> b </t></si>'
        b"<si/><si><t/></si><si><t></t></si>"
        b"<si><t>zeta</t></si></sst>"
    )
    heap = P.SharedStringHeap(doc)
    want = P._parse_sst_expat(doc)
    # full ascending run
    got = heap.decode_many_arrow(list(range(6)))
    assert got is not None and got.to_pylist() == want
    # out-of-order / gapped indices (degrades to 1-entry runs)
    for idxs in ([5, 0, 3], [2, 2, 4], [1], []):
        got = heap.decode_many_arrow(idxs)
        assert got is not None
        assert got.to_pylist() == heap.decode_many(idxs) == [want[i] for i in idxs]
    # entity escape in range → decline, scalar path identical to expat
    esc = b"<sst><si><t>a &amp; b</t></si><si><t>c</t></si></sst>"
    h2 = P.SharedStringHeap(esc)
    assert h2.decode_many_arrow([0, 1]) is None
    assert h2.decode_many([0, 1]) == P._parse_sst_expat(esc)
    # ST_Xstring in range → decline
    xs = b"<sst><si><t>_x000D_ cr</t></si></sst>"
    h3 = P.SharedStringHeap(xs)
    assert h3.decode_many_arrow([0]) is None
    assert h3.decode_many([0]) == P._parse_sst_expat(xs)
    # rich-text entry inside the run → decline (count mismatch)
    rich = b"<sst><si><t>a</t></si><si><r><t>b</t></r><r><t>c</t></r></si></sst>"
    h4 = P.SharedStringHeap(rich)
    assert h4.decode_many_arrow([0, 1]) is None
    assert h4.decode_many([0, 1]) == ["a", "bc"]
    # out of range raises like the scalar path
    import pytest as _pytest

    with _pytest.raises(IndexError):
        heap.decode_many_arrow([99])


def test_sst_fast_paths_roundtrip_hostile_strings():
    """Property sweep (hypothesis): arbitrary text through the writer's
    exact sst emission (ST_Xstring control-char escapes, XML entity
    escaping, xml:space) must decode identically via the regex fast
    parse, the expat walk, and the lazy SharedStringHeap."""
    from hypothesis import given, settings, strategies as st

    from sheetreader_duckdb_spark.sources.xlsx import parser as P
    from sheetreader_duckdb_spark.sources.xlsx.writer import _xstring as wx
    from xml.sax.saxutils import escape

    def sst_xml(strings):
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<sst xmlns="x" count="{len(strings)}" uniqueCount="{len(strings)}">'
            + "".join(
                f"<si><t xml:space=\"preserve\">{escape(wx(s))}</t></si>"
                for s in strings
            )
            + "</sst>"
        ).encode("utf-8")

    texts = st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\r"
            ),
            max_size=40,
        ),
        min_size=0,
        max_size=12,
    )

    @settings(max_examples=150, deadline=None)
    @given(texts)
    def check(strings):
        # XML normalizes bare \r away; the writer escapes it to _x000D_
        # and the parser restores it — include some explicitly.
        strings = strings + ["a_x0041_b", "tab\ttab", "cr\rcr", ""]
        data = sst_xml(strings)
        want = P._parse_sst_expat(data)
        assert want == strings  # writer→expat roundtrip is the contract
        fast = P._parse_sst_fast(data)
        assert fast == strings
        heap = P.SharedStringHeap(data)
        assert [heap[i] for i in range(len(heap))] == strings
        bulk = heap.decode_many_arrow(list(range(len(heap))))
        if bulk is not None:  # bulk path accepts → must agree exactly
            assert bulk.to_pylist() == strings

    check()


def test_cluster_cap_travels_through_real_spark_read(spark, tmp_path):
    """ADVICE r9 (medium): the cluster-aware auto shard cap must survive the
    trip into the planning worker — partitions() runs in a separate
    driver-side Python process with NO active SparkSession, so the cap has
    to ride the class pickled at register() time. This is the non-mocked
    proof: the class attribute is set (exactly what register() does, with a
    simulated 48-core width since local mode can't exceed its own core
    count), the class is re-registered, and a REAL spark.read on a 50 MB
    file must plan 48 shards — not the 32 a reader without a captured
    width caps at."""
    import zipfile

    from sheetreader_duckdb_spark import register
    from sheetreader_duckdb_spark.sources.xlsx.datasource import (
        SheetReaderDataSource,
    )
    from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

    register(spark)
    # register() captures the driver's real width onto the class.
    assert (
        SheetReaderDataSource._cluster_default_parallelism
        == spark.sparkContext.defaultParallelism
    )

    path = str(tmp_path / "padded.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["a", "b"])
    for i in range(2000):
        w.write_row([float(i), float(i) * 0.5])
    w.close()
    # Pad the archive to 50 MB with a STORED non-worksheet member: the auto
    # shard count keys on os.path.getsize, so this buys a big "file"
    # without a slow fixture write (the sheet itself stays tiny and every
    # shard's parse is cheap).
    with zipfile.ZipFile(path, "a") as z:
        z.writestr(
            zipfile.ZipInfo("docProps/pad.bin"), b"\x00" * (50 << 20),
            compress_type=zipfile.ZIP_STORED,
        )
    assert (50 << 20) <= __import__("os").path.getsize(path) < (52 << 20)

    SheetReaderDataSource._cluster_default_parallelism = 48
    try:
        spark.dataSource.register(SheetReaderDataSource)
        df = spark.read.format("sheetreader").load(path)
        # min(max(32, 48), 50 MB) = 48 shards — the 48 proves the value
        # crossed into the planning worker; rows prove shard correctness.
        assert df.rdd.getNumPartitions() == 48
        assert df.count() == 2000
    finally:
        register(spark)  # restore the real width for the rest of the suite


def test_fragment_parses_prefixed_attributes_without_scope():
    """Excel writes `x14ac:dyDescent` on <row>; a mid-file irregular
    fragment loses the root's xmlns declarations, which used to hit
    expat's unbound-prefix error. The synthetic wrapper declares every
    prefix the fragment carries (r10), so such rows parse; colon-bearing
    cell text must not confuse the prefix harvest."""
    frag = (
        b'<row r="5" spans="1:2" x14ac:dyDescent="0.25">'
        b'<c r="A5"><v>1.5</v></c><c r="B5" t="b"><v>1</v></c></row>'
    )
    assert P._fragment_rows(frag, frozenset()) == [
        [(0, P.T_NUMERIC, 1.5), (1, P.T_BOOLEAN, True)]
    ]
    frag2 = b'<row r="6"><c r="A6"><f>SUM(A1:A5)</f><v>7.5</v></c></row>'
    assert P._fragment_rows(frag2, frozenset()) == [[(0, P.T_NUMERIC, 7.5)]]


# ---- split-index (splittable-XLSX) path -----------------------------------


def test_split_index_present_and_sharded_read_uses_it(big_xlsx):
    """Guard: the module fixture is big enough to carry a split index, so
    the sharded assertions in this file genuinely exercise the seek-and-
    inflate acquisition (not silently the sequential one)."""
    import zipfile

    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI

    with zipfile.ZipFile(big_xlsx) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        assert pts is not None and len(pts) >= 2
        # terminal point == (member csize, total physical rows incl header)
        info = zf.getinfo("xl/worksheets/sheet1.xml")
        assert pts[-1] == (info.compress_size, N_ROWS + 1)


def test_split_index_stripped_comment_is_equal(big_xlsx, tmp_path):
    """No comment -> sequential acquisition; results identical (the index
    is pure acceleration, never semantics)."""
    import shutil
    import zipfile

    noc = str(tmp_path / "nocomment.xlsx")
    shutil.copy(big_xlsx, noc)
    with zipfile.ZipFile(noc, "a") as zf:
        zf.comment = b""
    a = _collect({"path": big_xlsx, "threads": "4"})
    b = _collect({"path": noc, "threads": "4"})
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    assert sorted(a, key=key) == sorted(
        _collect({"path": big_xlsx, "threads": "1"}), key=key
    )


def test_split_index_garbage_comment_ignored(big_xlsx, tmp_path):
    """A comment that fails structural validation (wrong magic, wrong
    entry, non-monotonic offsets) is ignored — sequential scan, same
    rows."""
    import json
    import shutil
    import zipfile

    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI

    base = _collect({"path": big_xlsx, "threads": "4"})
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    for comment in (
        b"not an index at all",
        SI.MAGIC + b"{broken json",
        SI.MAGIC + json.dumps(
            {"e": "xl/worksheets/other.xml", "n": 1, "c": [1], "r": [1]}
        ).encode(),
        SI.MAGIC + json.dumps(
            # non-monotonic compressed offsets
            {"e": "xl/worksheets/sheet1.xml", "n": 10, "c": [5, -2], "r": [1, 1]}
        ).encode(),
    ):
        p = str(tmp_path / "garbage.xlsx")
        shutil.copy(big_xlsx, p)
        with zipfile.ZipFile(p, "a") as zf:
            zf.comment = comment
        got = _collect({"path": p, "threads": "4"})
        assert sorted(got, key=key) == sorted(base, key=key)


@pytest.mark.parametrize(
    "extra", [{}, {"coerce_to_string": "true"}], ids=["columnar", "row"]
)
def test_split_index_lying_rowcount_fails_loudly(big_xlsx, tmp_path, extra):
    """A well-formed index whose row counts disagree with the actual sheet
    must raise, never return silently wrong data: every materialized
    interval's parsed count is checked against the recorded one — on the
    typed read and on the coerce read alike."""
    import shutil
    import zipfile

    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI

    p = str(tmp_path / "lying.xlsx")
    shutil.copy(big_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        total = pts[-1][1]
    bad = [(c, r + 1) for c, r in pts[:-1]]
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.encode_split_index("xl/worksheets/sheet1.xml", bad, total)
    with pytest.raises(ValueError, match="split-index row count mismatch"):
        _collect({"path": p, "threads": "4", **extra})


def test_split_index_row_path_coerce_sharded_equals_single(big_xlsx):
    """A coerce read with user VARCHAR types, whose sharded acquisition
    also rides the split index — same rows as single-thread,
    and as the stripped-comment scan (covered by the reader suites)."""
    schema = StructType(
        [
            StructField("name", StringType()),
            StructField("qty", StringType()),
            StructField("price", StringType()),
        ]
    )

    def rd(threads):
        reader = DS.SheetReaderReader(
            {"path": big_xlsx, "threads": threads, "coerce_to_string": "true"},
            schema,
        )
        rows = []
        for part in reader.partitions():
            for batch in reader.read(part):
                rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
        return rows

    single, sharded = rd("1"), rd("4")
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert len(sharded) == N_ROWS
    assert sorted(single, key=key) == sorted(sharded, key=key)


def test_split_index_misaligned_offsets_fail_descriptively(big_xlsx, tmp_path):
    """ADVICE r10: a structurally valid index whose offsets don't land on
    flush points (stale comment on a recompressed archive) must surface as
    the descriptive 'stale or corrupt' ValueError, not a bare zlib.error."""
    import shutil
    import zipfile

    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI

    p = str(tmp_path / "misaligned.xlsx")
    shutil.copy(big_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        total = pts[-1][1]
    # Shift every offset off its flush boundary: still monotonic, still
    # inside the member, so structural validation passes — only the
    # inflate can discover the lie.
    bad = [(c + 1, r) for c, r in pts[:-1]]
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.encode_split_index("xl/worksheets/sheet1.xml", bad, total)
    with pytest.raises(ValueError, match="stale or corrupt"):
        _collect({"path": p, "threads": "4"})


def test_flush_probe_gates_indexing(tmp_path):
    """ADVICE r10: the writer's zipfile-internals surgery self-tests once
    per process; on this interpreter the probe passes, and a failing probe
    degrades writes to plain unindexed (but valid) workbooks instead of
    risking mis-sized zip metadata."""
    import zipfile

    from sheetreader_duckdb_spark.sources.xlsx import writer as W
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    assert W._flush_probe() is True

    p = str(tmp_path / "gated.xlsx")
    saved = W._FLUSH_OK
    try:
        W._FLUSH_OK = False
        write_xlsx(p, {"S": [["a", "b"], ["x", 1.0], ["y", 2.0]]})
    finally:
        W._FLUSH_OK = saved
    with zipfile.ZipFile(p) as zf:
        assert zf.comment == b""  # no index published
        assert zf.testzip() is None  # archive metadata intact
    reader = DS.SheetReaderReader(
        {"path": p, "threads": "1"},
        StructType([StructField("a", StringType()), StructField("b", DoubleType())]),
    )
    got = []
    for part in reader.partitions():
        for batch in reader.read(part):
            got.extend(zip(*[c.to_pylist() for c in batch.columns]))
    assert got == [("x", 1.0), ("y", 2.0)]


# ---- mixed-prefix rows (r11: silent-loss fix + sharded tier 3) ------------


def _mixed_prefix_xlsx(path: str, n: int, mix_from: int = 0) -> int:
    """A worksheet whose rows ALTERNATE <row> and <x:row> from row
    ``mix_from`` on (every 3rd row prefixed). Returns the expected row
    count. Before r11 the prefixed rows were silently DROPPED by the fast
    tiers (the r9 guard only fires when ZERO rows match the detected
    prefix)."""
    import zipfile

    ct, rels, wb_rels, _ = _prefixed_workbook_parts()
    wb_xml = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    body = []
    for i in range(1, n + 1):
        if i > mix_from and i % 3 == 0:
            body.append(
                f'<x:row r="{i}"><x:c r="A{i}"><x:v>{i}</x:v></x:c>'
                f'<x:c r="B{i}"><x:v>{i * 2}</x:v></x:c></x:row>'
            )
        else:
            body.append(
                f'<row r="{i}"><c r="A{i}"><v>{i}</v></c>'
                f'<c r="B{i}"><v>{i * 2}</v></c></row>'
            )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return n


MIXED_SCHEMA = StructType(
    [StructField("a", DoubleType()), StructField("b", DoubleType())]
)


def _collect_mixed(path, threads, **extra):
    reader = DS.SheetReaderReader(
        {"path": path, "threads": threads, "has_header": "false", **extra},
        MIXED_SCHEMA,
    )
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def test_mixed_prefix_rows_not_dropped(tmp_path):
    """The r11 repro: rows alternating <row>/<x:row> must ALL be read —
    previously 267 of 400 came back with no error."""
    p = str(tmp_path / "mixed.xlsx")
    n = _mixed_prefix_xlsx(p, 400)
    got = _collect_mixed(p, "1")
    assert len(got) == n
    assert (3.0, 6.0) in got and (399.0, 798.0) in got  # prefixed rows
    assert (1.0, 2.0) in got  # unprefixed rows
    assert sorted(got) == [(float(i), float(2 * i)) for i in range(1, n + 1)]


def test_mixed_prefix_sharded_equals_single_tier3(tmp_path, monkeypatch):
    """Mixed rows IN CHUNK 0 defeat the regex scan: chunk 0 goes to the
    fragment walk like any chunk, so every shard yields rows (not just
    shard 0), no shard walks the whole member, and the union equals the
    single-thread read."""
    p = str(tmp_path / "mixed_t3.xlsx")
    n = _mixed_prefix_xlsx(p, 4000)
    walks = _whole_member_walks(monkeypatch)
    single = sorted(_collect_mixed(p, "1"))
    sharded = sorted(_collect_mixed(p, "4"))
    assert len(single) == n
    assert single == sharded

    from sheetreader_duckdb_spark.sources.xlsx import parser as P2

    per_shard = []
    with P2.XlsxWorkbook(p) as wb:
        sheet = wb.resolve_sheet(None, None)
        for s in range(3):
            per_shard.append(
                sum(1 for _ in wb.iter_rows(sheet, chunk_bytes=4096, shard=s, n_shards=3))
            )
    assert all(c > 0 for c in per_shard), per_shard
    assert sum(per_shard) == n
    assert walks() == 0


def test_mixed_prefix_midfile_stays_on_fast_tier_with_fragments(tmp_path):
    """Mixed rows appearing only AFTER a clean chunk 0: the fast tier has
    already yielded, so the evidence check routes just those chunks to the
    namespace-aware fragment parser — all rows read, sharded == single."""
    p = str(tmp_path / "mixed_mid.xlsx")
    # chunk size in iter_rows is 4MB; at ~60 bytes/row, 4000 rows ~ 240KB
    # fits one chunk — drive iter_rows with a small chunk_bytes directly.
    n = _mixed_prefix_xlsx(p, 4000, mix_from=2000)

    from sheetreader_duckdb_spark.sources.xlsx import parser as P2

    with P2.XlsxWorkbook(p) as wb:
        sheet = wb.resolve_sheet(None, None)
        single = [
            cells for cells in wb.iter_rows(sheet, chunk_bytes=1 << 20)
        ]
        totals = []
        for s in range(3):
            totals.append(
                sum(1 for _ in wb.iter_rows(sheet, chunk_bytes=16384, shard=s, n_shards=3))
            )
    assert len(single) == n
    assert sum(totals) == n
    # every shard participated: mid-file mixing must not re-route the
    # document to a single-shard path
    assert all(c > 0 for c in totals), totals


def test_mixed_prefix_skip_rows_and_row_count(tmp_path):
    """skip_rows ordinals stay consistent across shards on mixed docs
    (unassigned chunks must count foreign-prefix rows too), and the
    row_count statistic sees every row."""
    p = str(tmp_path / "mixed_skip.xlsx")
    n = _mixed_prefix_xlsx(p, 4000)
    got1 = sorted(_collect_mixed(p, "1", skip_rows="100"))
    got4 = sorted(_collect_mixed(p, "4", skip_rows="100"))
    assert len(got1) == n - 100
    assert got1 == got4
    assert DS.row_count(p) == n


def test_retrofit_refuses_mixed_prefix_worksheet(tmp_path):
    """index_xlsx must not publish a worksheet section whose counts the
    reader's any-prefix parse would contradict."""
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    import zipfile

    p = str(tmp_path / "mixed_retro.xlsx")
    n = _mixed_prefix_xlsx(p, 120_000)  # > one split interval of XML
    out = index_xlsx(p)
    assert not out["indexed"]
    assert "mixes row prefixes" in out["reason"]
    with zipfile.ZipFile(p) as zf:
        assert SI.decode_split_index(zf, "xl/worksheets/sheet1.xml") is None
    # and the file still reads completely
    assert len(_collect_mixed(p, "4")) == n


def test_trailing_foreign_rows_in_final_chunk_read_not_crash(tmp_path):
    """r11 review: a well-formed sheet whose LAST rows (just before
    </sheetData>) use a foreign prefix routed its trailer-bearing final
    chunk to the fragment parser, which crashed on the unopened
    </sheetData></worksheet> close tags. The trailer now strips inside
    _fragment_rows, so every call site reads such files completely."""
    import zipfile

    ct, rels, wb_rels, _ = _prefixed_workbook_parts()
    wb_xml = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    n = 40_000
    body = []
    for i in range(1, n + 1):
        if i > n - 5:  # ONLY the last rows are foreign-prefixed
            body.append(
                f'<x:row r="{i}"><x:c r="A{i}"><x:v>{i}</x:v></x:c></x:row>'
            )
        else:
            body.append(f'<row r="{i}"><c r="A{i}"><v>{i}</v></c></row>')
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData>"
        '<pageMargins left="0.7" right="0.7"/></worksheet>'
    )
    p = str(tmp_path / "trail.xlsx")
    with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    schema = StructType([StructField("a", DoubleType())])
    got1 = sorted(
        _collect_mixed_schema(p, "1", schema)
    )
    got4 = sorted(_collect_mixed_schema(p, "4", schema))
    assert len(got1) == n
    assert got1 == got4
    assert (float(n),) in got1 and (float(n - 4),) in got1  # the x: rows
    # and iter_rows (row path) under small chunks — the other call site
    from sheetreader_duckdb_spark.sources.xlsx import parser as P3

    with P3.XlsxWorkbook(p) as wb:
        sheet_i = wb.resolve_sheet(None, None)
        total = sum(
            1
            for s in range(3)
            for _ in wb.iter_rows(sheet_i, chunk_bytes=65536, shard=s, n_shards=3)
        )
    assert total == n


def _collect_mixed_schema(path, threads, schema):
    reader = DS.SheetReaderReader(
        {"path": path, "threads": threads, "has_header": "false"}, schema
    )
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def test_mixed_prefix_full_type_matrix_sharded(tmp_path, spark):
    """Mixed-prefix rows carrying the FULL cell-type matrix — shared
    strings (both prefixes referencing one heap), booleans, date-styled
    serials, self-closing foreign empty rows — read bit-equal sharded vs
    single through the real Spark path."""
    import zipfile

    from sheetreader_duckdb_spark import register

    register(spark)
    ct, rels, wb_rels, _ = _prefixed_workbook_parts()
    wb_xml = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = wb_rels.replace(
        "</Relationships>",
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/></Relationships>',
    )
    sst = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<si><t>alpha</t></si><si><t>beta</t></si><si><t>gamma</t></si></sst>"
    )
    styles = (
        '<?xml version="1.0"?>'
        '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>'
        "</styleSheet>"
    )
    n = 3000
    body = []
    for i in range(1, n + 1):
        if i % 7 == 0:
            body.append(f'<x:row r="{i}"/>')  # self-closing FOREIGN empty row
        elif i % 3 == 0:
            body.append(
                f'<x:row r="{i}"><x:c r="A{i}" t="s"><x:v>{i % 3}</x:v></x:c>'
                f'<x:c r="B{i}"><x:v>{i}.5</x:v></x:c>'
                f'<x:c r="C{i}" t="b"><x:v>{i % 2}</x:v></x:c>'
                f'<x:c r="D{i}" s="1"><x:v>44200</x:v></x:c></x:row>'
            )
        else:
            body.append(
                f'<row r="{i}"><c r="A{i}" t="s"><v>{i % 3}</v></c>'
                f'<c r="B{i}"><v>{i}.5</v></c>'
                f'<c r="C{i}" t="b"><v>{i % 2}</v></c>'
                f'<c r="D{i}" s="1"><v>44200</v></c></row>'
            )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    p = str(tmp_path / "mixed_matrix.xlsx")
    with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/styles.xml", styles)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    mk = lambda t: (  # noqa: E731
        spark.read.format("sheetreader")
        .option("has_header", False)
        .option("types", "VARCHAR,DOUBLE,BOOLEAN,DATE")
        .option("threads", t)
        .load(p)
    )
    r1 = sorted(map(tuple, mk(1).collect()), key=str)
    r4 = sorted(map(tuple, mk(4).collect()), key=str)
    assert r1 == r4
    assert len(r1) == n
    import datetime as dt

    d = dt.date(2021, 1, 4)  # serial 44200
    assert ("alpha", 3.5, True, d) in r1  # a prefixed data row (i=3, 3%3=0)
    assert ("gamma", 2.5, False, d) in r1  # an unprefixed one (i=2, 2%3=2)
    assert (None, None, None, None) in r1  # the self-closing foreign rows
    assert sum(1 for r in r1 if r[0] is None) == n // 7


# -- Sparse rows on the dense path ------------------------------------------
# A foreign-shaped sheet (stdlib zipfile, shared strings, a date style) in
# which about 5% of the cells of every type family are absent. An absent
# cell is optional in the compiled row pattern, so such chunks must stay on
# the one-findall path; rows whose PRESENT cells deviate from the template
# must still fall back to the generic scan.

SPARSE_ROWS = 30_000  # ~6 MB of sheet XML: 2 chunks at 4 MB, ~6 at 1 MB
SPARSE_BATCH = 1000
SPARSE_E_GAP = range(6000, 9000)  # E absent for three whole batches
_SPARSE_STRINGS = [*"ABCDEF", *(f"w{j} &amp; {j % 7}" for j in range(50))]
_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _sparse_workbook(
    path, plants=None, trailing_gap=False, n_rows=SPARSE_ROWS, ascending_e=False
):
    """A header row and ``n_rows`` data rows of columns A (t="s"),
    B (number), C (date style), D (t="b"), E (number), F (t="s"). Past
    the two rows the schema probe reads, each
    cell is absent with probability 0.05, E is absent in SPARSE_E_GAP and
    every 2,500th row is an empty ``<row r="n"></row>``. ``plants`` maps
    a data row index to replacement row XML (``{r}`` = row number);
    ``trailing_gap`` drops F from every row past the probe rows, so the
    last row of chunk 0 cannot serve as the template. ``ascending_e``
    writes the data row index into E, so interval statistics can prune a
    range filter on it."""
    import random
    import zipfile

    rng = random.Random(7)
    rows = ['<row r="1">' + "".join(
        f'<c r="{c}1" t="s"><v>{i}</v></c>' for i, c in enumerate("ABCDEF")
    ) + "</row>"]
    for i in range(n_rows):
        r = i + 2
        if plants and i in plants:
            rows.append(plants[i].format(r=r))
            continue
        if i % 2500 == 1234:
            rows.append(f'<row r="{r}"></row>')
            continue
        cells = {
            "A": f' t="s"><v>{6 + rng.randrange(50)}</v>',
            "B": f"><v>{rng.randrange(1000)}.5</v>",
            "C": f' s="1"><v>{34700 + rng.randrange(2500)}</v>',
            "D": f' t="b"><v>{rng.randrange(2)}</v>',
            "E": f"><v>{i if ascending_e else rng.randrange(10**6) / 4}</v>",
            "F": f' t="s"><v>{6 + rng.randrange(50)}</v>',
        }
        absent = {c for c in cells if rng.random() < 0.05}
        if i in SPARSE_E_GAP:
            absent.add("E")
        if trailing_gap:
            absent.add("F")
        if i < 2:
            absent = set()
        rows.append(f'<row r="{r}">' + "".join(
            f'<c r="{c}{r}"{v}</c>' for c, v in cells.items() if c not in absent
        ) + "</row>")
    ct, rels, _, _ = _prefixed_workbook_parts()
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", (
            f'<workbook xmlns="{_NS}" xmlns:r="{rel}"><sheets>'
            '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ))
        z.writestr("xl/_rels/workbook.xml.rels", (
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            f'<Relationship Id="rId3" Type="{rel}/styles" Target="styles.xml"/>'
            "</Relationships>"
        ))
        z.writestr("xl/styles.xml", (
            f'<styleSheet xmlns="{_NS}"><cellXfs count="3"><xf numFmtId="0"/>'
            '<xf numFmtId="14" applyNumberFormat="1"/>'
            '<xf numFmtId="2" applyNumberFormat="1"/></cellXfs></styleSheet>'
        ))
        z.writestr("xl/sharedStrings.xml", (
            f'<sst xmlns="{_NS}" count="{len(_SPARSE_STRINGS)}" '
            f'uniqueCount="{len(_SPARSE_STRINGS)}">'
            + "".join(f"<si><t>{s}</t></si>" for s in _SPARSE_STRINGS)
            + "</sst>"
        ))
        z.writestr("xl/worksheets/sheet1.xml", (
            f'<worksheet xmlns="{_NS}"><dimension ref="A1:F{n_rows + 1}"/>'
            "<sheetData>" + "".join(rows) + "</sheetData></worksheet>"
        ))
    return path


# Rows whose present cells deviate from the template, one per 1 MB chunk.
_DEVIATING = {
    4_000: '<row r="{r}"><c r="A{r}" t="s"/><c r="B{r}"><v>1.5</v></c></row>',
    10_000: '<row r="{r}"><c r="A{r}" t="s"><v>7</v></c><c r="B{r}"><v></v></c>'
            '<c r="F{r}" t="s"><v>8</v></c></row>',
    16_000: '<row r="{r}"><c r="B{r}" s="2"><v>2.25</v></c>'
            '<c r="E{r}"><v>3</v></c></row>',
    22_000: '<row r="{r}"><c r="B{r}"><v>4.5</v></c><c r="A{r}" t="s"><v>9</v></c>'
            '<c r="D{r}" t="b"><v>1</v></c></row>',
}


@pytest.fixture(scope="module")
def sparse_books(tmp_path_factory):
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    d = tmp_path_factory.mktemp("sparse")
    books = {
        "sparse": _sparse_workbook(str(d / "sparse.xlsx")),
        "trailing_gap": _sparse_workbook(str(d / "gap.xlsx"), trailing_gap=True),
        "deviating": _sparse_workbook(str(d / "dev.xlsx"), plants=_DEVIATING),
        "extra_column": _sparse_workbook(
            str(d / "extra.xlsx"),
            plants={20_000: '<row r="{r}"><c r="G{r}"><v>1</v></c></row>'},
        ),
    }
    books["indexed"] = str(d / "indexed.xlsx")
    assert index_xlsx(books["sparse"], out_path=books["indexed"])["indexed"]
    return books


def _read(path, **opts):
    """(rows, batches) of a schema-inferring read, partitions in order."""
    opts = {"path": path, "batch_size": str(SPARSE_BATCH), **opts}
    src = DS.SheetReaderDataSource(opts)
    reader = src.reader(src.schema())
    batches = [b for part in reader.partitions() for b in reader.read(part)]
    rows = [r for b in batches for r in zip(*[c.to_pylist() for c in b.columns])]
    return rows, batches


def _decode(reader, cols, rows, heap):
    """Parser rows of (col, ctype, value) cells as the read's tuples, by
    a per-cell dispatch independent of the reader's: NULL on type
    mismatch; under ``coerce_to_string`` a VARCHAR cell formats numbers
    ``%.6f``, booleans TRUE/FALSE and dates ISO. ``cols`` maps each
    output column to its file column."""
    import datetime as dt

    o = reader.opts
    day = lambda secs: dt.date(1970, 1, 1) + dt.timedelta(days=int(secs / 86400.0))  # noqa: E731
    typed = {"DOUBLE": P.T_NUMERIC, "BOOLEAN": P.T_BOOLEAN, "DATE": P.T_DATE}

    def cell(sql, ctype, val):
        if sql == "VARCHAR":
            if ctype == P.T_STRING_REF:
                return heap[val]
            if ctype == P.T_STRING_LIT:
                return val
            if not o.coerce_to_string:
                return None
            if ctype == P.T_NUMERIC:
                return "%.6f" % val
            if ctype == P.T_BOOLEAN:
                return "TRUE" if val else "FALSE"
            return day(val).isoformat() if ctype == P.T_DATE else None
        if ctype != typed[sql]:
            return None
        return day(val) if sql == "DATE" else val

    out = []
    for cells in rows:
        by_col = {c: (t, v) for c, t, v in cells}
        out.append(tuple(
            cell(sql, *by_col.get(c, (P.T_NONE, None)))
            for sql, c in zip(reader.col_types, cols)
        ))
    return out


def _oracle(path, **opts):
    """Rows of a schema-inferring read, by a path independent of the
    reader's chunk step: ``XlsxWorkbook.iter_rows`` per partition (the
    reader's own shard plan, so row order is exact) and ``_decode``'s
    cell rule."""
    opts = {"path": path, "batch_size": str(SPARSE_BATCH), **opts}
    src = DS.SheetReaderDataSource(opts)
    schema = src.schema()
    reader = src.reader(schema)
    o = reader.opts
    names = [f.name for f in schema.fields]
    rows = []
    for part in reader.partitions():
        for path in part.paths:
            fs = DS._infer_or_declared(path, o, lambda: (names, reader.col_types))
            cols = [fs.names.index(n) for n in names]
            with P.XlsxWorkbook(path, allow_inline=o.inline_strings) as wb:
                sheet = wb.resolve_sheet(o.sheet_name, o.sheet_index)
                rows += _decode(reader, cols, wb.iter_rows(
                    sheet, skip_rows=fs.skip_rows,
                    shard=part.shard, n_shards=part.n_shards,
                ), wb.shared_strings)
    return rows


def _reference(path, **opts):
    """Sorted rows of a schema-inferring read by the whole-member expat
    walk (``XlsxWorkbook._iter_rows_expat``: no chunk driver, no
    ``_scan_chunk``) and ``_decode``'s cell rule."""
    src = DS.SheetReaderDataSource({"path": path, **opts})
    schema = src.schema()
    reader = src.reader(schema)
    o = reader.opts
    names = [f.name for f in schema.fields]
    fs = DS._infer_or_declared(path, o, lambda: (names, reader.col_types))
    with P.XlsxWorkbook(path, allow_inline=o.inline_strings) as wb:
        sheet = wb.resolve_sheet(o.sheet_name, o.sheet_index)
        rows = _decode(
            reader, [fs.names.index(n) for n in names],
            wb._iter_rows_expat(sheet, fs.skip_rows), wb.shared_strings,
        )
    return sorted(rows, key=repr)


def _row_scans(monkeypatch, pfx=b""):
    """Count the columnar reader's per-row cell scans (its generic path):
    calls of the ``pfx`` cell regex made from the datasource module.
    Template compilation and the schema probe scan in the parser."""
    import sys

    n = [0]
    pr = P.prefix_res(pfx)
    cell_re = pr.cell_re

    class Counting:
        def findall(self, *a):
            n[0] += sys._getframe(1).f_globals["__name__"] == DS.__name__
            return cell_re.findall(*a)

    monkeypatch.setattr(pr, "cell_re", Counting())
    return lambda: n[0]


@pytest.mark.parametrize("threads", ["1", "4"])
def test_sparse_rows_match_row_path(sparse_books, threads):
    rows, batches = _read(sparse_books["sparse"], threads=threads)
    want = _oracle(sparse_books["sparse"], threads=threads)
    assert len(rows) == SPARSE_ROWS
    assert rows == want
    # every family has absent cells, in leading, middle and trailing
    # columns, and they read as NULL next to present values
    for j in range(6):
        assert 0 < sum(r[j] is None for r in rows) < SPARSE_ROWS // 2
    assert rows.count((None,) * 6) >= SPARSE_ROWS // 2500  # empty <row></row>
    # a whole batch of one column absent (an all-empty raw column)
    assert any(b.column(4).null_count == b.num_rows for b in batches)
    if threads == "1":  # file order
        assert rows[1234] == (None,) * 6
        assert all(r[4] is None for r in rows[SPARSE_E_GAP.start:SPARSE_E_GAP.stop])
        assert None not in rows[0] + rows[1]


@pytest.mark.parametrize("threads", ["1", "4"])
@pytest.mark.parametrize("book", ["sparse", "trailing_gap"])
def test_sparse_rows_take_dense_path(sparse_books, monkeypatch, threads, book):
    """Guard: sparse chunks stay on the one-findall path — no per-row cell
    scan at all — so the differential tests around it exercise it. The
    trailing_gap book also pins the template choice: chunk 0's last row
    lacks F, so the template is an earlier row that compiles."""
    want = _oracle(sparse_books[book], threads=threads)
    scans = _row_scans(monkeypatch)
    rows, _ = _read(sparse_books[book], threads=threads)
    assert scans() == 0
    assert rows == want


@pytest.mark.parametrize("threads", ["1", "4"])
def test_sparse_indexed_copy_and_pruned_read(sparse_books, threads):
    want = _oracle(sparse_books["sparse"], threads="1")
    got, _ = _read(sparse_books["indexed"], threads=threads)
    assert sorted(got, key=repr) == sorted(want, key=repr)
    pruned, _ = _read(sparse_books["sparse"], threads=threads, columns="F,A,D")
    assert sorted(pruned, key=repr) == sorted(
        ((r[5], r[0], r[3]) for r in want), key=repr
    )


@pytest.mark.parametrize("threads", ["1", "4"])
def test_sparse_deviating_rows_fall_back(sparse_books, threads):
    """Self-closing and ``<v></v>`` cells, a second style id in a numeric
    column and out-of-order cells defeat the row pattern; their chunks
    take the generic scan and read exactly like the row path."""
    rows, _ = _read(sparse_books["deviating"], threads=threads)
    want = _oracle(sparse_books["deviating"], threads=threads)
    assert rows == want
    s = [t.replace("&amp;", "&") for t in _SPARSE_STRINGS]
    for planted in (
        (None, 1.5, None, None, None, None),
        (s[7], None, None, None, None, s[8]),
        (None, 2.25, None, None, 3.0, None),
        (s[9], 4.5, None, True, None, None),
    ):
        assert planted in rows


@pytest.mark.parametrize("threads", ["1", "4"])
def test_sparse_cell_past_template_still_raises(sparse_books, threads):
    with pytest.raises(ValueError, match="more columns"):
        _read(sparse_books["extra_column"], threads=threads)


# -- One partition reader ----------------------------------------------------
# Coerce and inline reads go through the same chunk step as typed reads:
# the dense template on regular chunks and ``parser._scan_chunk`` off it,
# chunk 0 included (``_drive_chunks`` hands it over past the sheetData
# opener). Only a member with no sheetData opener is walked whole
# (``_iter_rows_expat``, shard 0). Every row-shaped result becomes Arrow
# through one builder.

_FULL_ROW = (
    '<row r="{r}"><c r="A{r}" t="s"><v>6</v></c><c r="B{r}"><v>1.5</v></c>'
    '<c r="C{r}" s="1"><v>35000</v></c><c r="D{r}" t="b"><v>1</v></c>'
    '<c r="E{r}"><v>2.25</v></c><c r="F{r}" t="s"><v>7</v></c></row>'
)
_INLINE_ROW = (
    '<row r="{r}"><c r="A{r}" t="str"><v>lit {r} &amp; x</v></c>'
    '<c r="B{r}"><v>2.5</v></c><c r="D{r}" t="b"><v>1</v></c>'
    '<c r="F{r}" t="inlineStr"><is><t>in</t><t>l{r}</t></is></c></row>'
)
_INLINE_ROWS = 60_000  # ~12 MB of sheet XML: 3 chunks at 4 MB
_INLINE_SKIPS = ("0", "501", "45001")  # none, inside chunk 0, past chunks
_INLINE_AT = (22_000, 29_000, 41_000, 52_000)  # past chunk 0 at 4 MB


def _prefixed_copy(src, dst):
    """``src`` with every worksheet element under the ``x:`` prefix."""
    import re
    import zipfile

    with zipfile.ZipFile(src) as zi, zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as zo:
        for info in zi.infolist():
            data = zi.read(info.filename)
            if info.filename.startswith("xl/worksheets/"):
                data = re.sub(
                    rb"<(/?)([A-Za-z])", rb"<\1x:\2",
                    data.replace(b'xmlns="', b'xmlns:x="', 1),
                )
            zo.writestr(info.filename, data)
    return dst


@pytest.fixture(scope="module")
def reader_books(tmp_path_factory):
    d = tmp_path_factory.mktemp("one_reader")
    # Full rows where the skip_rows probes land (SPARSE_ROWS' random
    # absent cells would fail the two-row schema probe).
    full = {i: _FULL_ROW for s in _INLINE_SKIPS[1:] for i in (int(s) - 1, int(s))}
    mid = {**full, **{i: _INLINE_ROW for i in _INLINE_AT}}
    return {
        "inline_mid": _sparse_workbook(
            str(d / "inline_mid.xlsx"), plants=mid, n_rows=_INLINE_ROWS
        ),
        "inline_chunk0": _sparse_workbook(
            str(d / "inline_c0.xlsx"), plants={**mid, 300: _INLINE_ROW},
            n_rows=_INLINE_ROWS,
        ),
        "mixed_type": _sparse_workbook(str(d / "mixed_type.xlsx"), plants={
            5_000: '<row r="{r}"><c r="A{r}"><v>3.25</v></c></row>',
            12_000: '<row r="{r}"><c r="A{r}" t="b"><v>1</v></c></row>',
            19_000: '<row r="{r}"><c r="A{r}" s="1"><v>40000</v></c></row>',
            26_000: '<row r="{r}"><c r="A{r}" t="e"><v>#N/A</v></c></row>',
        }),
        "irregular": _sparse_workbook(str(d / "irregular.xlsx"), plants={
            15_000: '<row r="{r}"><c r="A{r}" t="s"><v>9</v></c>'
                    '<c r="B{r}"><f>1+1</f><v>2</v></c></row>',
            22_000: '<x:row r="{r}"><x:c r="A{r}" t="s"><x:v>10</x:v></x:c>'
                    '<x:c r="F{r}" t="s"><x:v>11</x:v></x:c></x:row>',
        }),
    }


def _chunk_scans(monkeypatch):
    """Count the partition reader's ``parser._scan_chunk`` calls (the
    schema probe's ``iter_rows`` scans chunk 0 from the parser)."""
    import sys

    n = [0]
    scan = P._scan_chunk

    def counting(*a):
        n[0] += sys._getframe(1).f_globals["__name__"] == DS.__name__
        return scan(*a)

    monkeypatch.setattr(P, "_scan_chunk", counting)
    return lambda: n[0]


@pytest.mark.parametrize("threads", ["1", "4"])
@pytest.mark.parametrize("opt", ["coerce_to_string", "inline_strings"])
@pytest.mark.parametrize("book", ["sparse", "deviating"])
def test_coerce_and_inline_reads_take_dense_path(
    sparse_books, monkeypatch, threads, opt, book
):
    """Regular chunks of coerce and inline reads stay on the dense
    template: the reader makes no ``_scan_chunk`` call. Chunks holding a
    deviating row take ``_scan_chunk``, and both equal the oracle."""
    want = _oracle(sparse_books[book], threads=threads, **{opt: "true"})
    scans = _chunk_scans(monkeypatch)
    rows, _ = _read(sparse_books[book], threads=threads, **{opt: "true"})
    assert rows == want
    if book == "sparse":
        assert scans() == 0
    else:
        assert scans() > 0


@pytest.mark.parametrize("skip", _INLINE_SKIPS)
@pytest.mark.parametrize("threads", ["1", "4"])
@pytest.mark.parametrize("book", ["inline_mid", "inline_chunk0"])
def test_inline_book_reads_equal_oracle(reader_books, monkeypatch, book, threads, skip):
    """``t="str"`` and ``inlineStr`` cells in several chunks, chunk 0
    included, read through ``_scan_chunk``: no shard walks the whole
    member."""
    want = _oracle(
        reader_books[book], threads=threads, skip_rows=skip, inline_strings="true"
    )
    walks = _whole_member_walks(monkeypatch)
    rows, _ = _read(
        reader_books[book], threads=threads, skip_rows=skip, inline_strings="true"
    )
    assert rows == want
    assert walks() == 0
    if skip == "0":
        assert ("lit 22002 & x", 2.5, None, True, None, "inl22002") in rows
        with pytest.raises(ValueError, match="Inline & dynamic String"):
            _read(reader_books[book], threads=threads)


def _whole_member_walks(monkeypatch):
    """Count ``XlsxWorkbook._iter_rows_expat`` calls (whole-member walks)."""
    n = [0]
    walk = P.XlsxWorkbook._iter_rows_expat

    def counting(self, *a):
        n[0] += 1
        return walk(self, *a)

    monkeypatch.setattr(P.XlsxWorkbook, "_iter_rows_expat", counting)
    return lambda: n[0]


def _materialized_intervals(monkeypatch):
    """Record the split-index intervals each read inflates, as
    ``(shard, interval)`` pairs."""
    seen = set()
    walk = SI.iter_intervals

    def spy(path, zf, entry, points, shard, *a, **k):
        for i, work, rows_in in walk(path, zf, entry, points, shard, *a, **k):
            if work is not None:
                seen.add((shard, i))
            yield i, work, rows_in

    monkeypatch.setattr(SI, "iter_intervals", spy)
    return seen


_FORMULA_ROW = (
    '<row r="{r}"><c r="A{r}" t="s"><v>3</v></c>'
    '<c r="B{r}"><f>1+1</f><v>2</v></c></row>'
)


def _chunk0_formula_book(path, **kw):
    """A sparse book with a formula in chunk 0 (the first data row), a
    row the regex scan cannot read."""
    return _sparse_workbook(
        path, plants={1: _FORMULA_ROW, 2: _FULL_ROW, 3: _FULL_ROW}, **kw
    )


@pytest.mark.parametrize("opt", ["coerce_to_string", "inline_strings"])
def test_skipped_irregular_row_sends_read_to_tier3(tmp_path, monkeypatch, opt):
    """An irregular row before ``skip_rows`` (here a formula) is a chunk-0
    row like any other: the read stays on ``_drive_chunks``, every
    partition seeks its own intervals of the indexed copy, and no shard
    walks the whole member."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    src = _chunk0_formula_book(str(tmp_path / "f.xlsx"))
    path = str(tmp_path / "f_idx.xlsx")
    monkeypatch.setattr(W, "SPLIT_INTERVAL", 512 << 10)  # ~12 intervals
    assert index_xlsx(src, out_path=path)["indexed"]
    opts = {"threads": "4", "skip_rows": "3", opt: "true"}
    want = _oracle(path, **opts)
    walks = _whole_member_walks(monkeypatch)
    seen = _materialized_intervals(monkeypatch)
    rows, _ = _read(path, **opts)
    assert rows == want
    assert walks() == 0
    # every shard inflates interval 0 and only its own others
    assert {s for s, _ in seen} == {0, 1, 2, 3}
    assert all(i == 0 or i % 4 == s for s, i in seen)


@pytest.mark.parametrize("threads", ["1", "4"])
def test_mixed_prefix_chunk0_drives_chunks_once(tmp_path, monkeypatch, threads):
    """Mixed prefixes in chunk 0 read through the fragment walk of the
    one chunk driver: the reader enters ``_drive_chunks`` once per
    partition (the schema probe's own ``iter_rows`` drives from the
    parser)."""
    import sys

    p = str(tmp_path / "mixed.xlsx")
    n_rows = _mixed_prefix_xlsx(p, 3000)
    calls = [0]
    drive = P.XlsxWorkbook._drive_chunks

    def counting(self, *a, **k):
        f = sys._getframe(1)
        while f.f_globals["__name__"] == P.__name__:
            f = f.f_back
        calls[0] += f.f_globals["__name__"] == DS.__name__
        return drive(self, *a, **k)

    monkeypatch.setattr(P.XlsxWorkbook, "_drive_chunks", counting)
    reader = DS.SheetReaderReader(
        {"path": p, "threads": threads, "has_header": "false"}, MIXED_SCHEMA
    )
    parts = reader.partitions()
    rows = [
        r for part in parts for b in reader.read(part)
        for r in zip(*[c.to_pylist() for c in b.columns])
    ]
    assert calls[0] == len(parts)
    assert sorted(rows) == [(float(i), float(2 * i)) for i in range(1, n_rows + 1)]


@pytest.mark.parametrize("skip", [0, 501, 12_001])
def test_sharded_tier3_seeks_split_index(tmp_path, monkeypatch, skip):
    """A sharded ``iter_rows`` of an indexed file whose chunk 0 holds a
    formula seeks its intervals and never streams the worksheet member;
    its rows equal the unindexed copy's, and every shard reads some."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    src = _chunk0_formula_book(str(tmp_path / "t3.xlsx"))
    idx = str(tmp_path / "t3_idx.xlsx")
    monkeypatch.setattr(W, "SPLIT_INTERVAL", 512 << 10)  # ~12 intervals
    assert index_xlsx(src, out_path=idx)["indexed"]

    def shard_rows(path, forbid_stream):
        out = []
        with P.XlsxWorkbook(path) as wb:
            sheet = wb.resolve_sheet(None, None)
            if forbid_stream:
                zopen = wb.zf.open

                def spy(name, *a, **k):
                    assert name != sheet.path, "worksheet streamed"
                    return zopen(name, *a, **k)

                wb.zf.open = spy
            for s in range(4):
                out.append(list(wb.iter_rows(
                    sheet, skip_rows=skip, shard=s, n_shards=4,
                )))
        return out

    want = shard_rows(src, False)
    got = shard_rows(idx, True)
    assert all(got), [len(r) for r in got]
    flat = lambda parts: sorted(map(repr, (r for p in parts for r in p)))  # noqa: E731
    assert flat(got) == flat(want)
    assert len(flat(got)) == SPARSE_ROWS + 1 - skip


def test_tier3_without_sheetdata_opener_reads_each_row_once(tmp_path):
    """Mixed prefixes in chunk 0 and no sheetData opener: at threads 4,
    shard 0 alone walks the whole member, so every row comes back once."""
    src = str(tmp_path / "mixed.xlsx")
    n = _mixed_prefix_xlsx(src, 40_000)  # past one 1 MB chunk
    p = _rewrite_sheet(
        src, str(tmp_path / "no_opener.xlsx"),
        lambda b: b.replace(b"<sheetData>", b"").replace(b"</sheetData>", b""),
    )
    rows = _collect_mixed(p, "4")
    assert sorted(rows) == [(float(i), float(2 * i)) for i in range(1, n + 1)]


def test_chunks_below_skip_rows_are_not_scanned(reader_books, monkeypatch):
    """A chunk that lies wholly below ``skip_rows`` is row-counted, never
    scanned, and one straddling it is scanned from its first kept row: no
    skipped row reaches the schema probes (``iter_rows``) or the reader's
    coerce and inline scan."""
    import sys

    path = reader_books["inline_mid"]
    scan = P._scan_chunk
    for threads in ("1", "4"):
        opts = {"threads": threads, "skip_rows": "45001", "inline_strings": "true"}
        want = _oracle(path, **opts)
        scanned = []

        def spy(work, colmap, date_styles, date1904, allow_inline, pfx):
            # Global ordinal of the first row handed to the scan.
            caller = sys._getframe(1).f_locals
            scanned.append(caller["ordinal"] + caller["cut"])
            return scan(work, colmap, date_styles, date1904, allow_inline, pfx)

        monkeypatch.setattr(P, "_scan_chunk", spy)
        rows, _ = _read(path, **opts)
        monkeypatch.setattr(P, "_scan_chunk", scan)
        assert rows == want
        assert scanned
        assert all(first >= 45_001 for first in scanned), scanned


def test_chunk0_formula_read_takes_filter_interval_skips(tmp_path, monkeypatch):
    """A filtered read of an indexed book with a formula in chunk 0
    inflates the same intervals under ``inline_strings`` as a typed read
    (the filter's interval skips apply to both), and returns the same
    rows: exactly the matching rows of an unfiltered read."""
    import zipfile

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from sheetreader_duckdb_spark.sources.xlsx import writer as W
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    src = _chunk0_formula_book(str(tmp_path / "e.xlsx"), ascending_e=True)
    path = str(tmp_path / "e_idx.xlsx")
    monkeypatch.setattr(W, "SPLIT_INTERVAL", 512 << 10)  # ~12 intervals
    assert index_xlsx(src, out_path=path)["indexed"]
    lo, hi = 10_000.0, 10_500.0  # E BETWEEN 10000 AND 10500
    seen = _materialized_intervals(monkeypatch)

    def read(**opts):
        seen.clear()
        ds = DS.SheetReaderDataSource(
            {"path": path, "threads": "4", "filter_pushdown": "true", **opts}
        )
        reader = ds.reader(ds.schema())
        assert reader.pushFilters([
            GreaterThanOrEqual(("E",), lo), LessThanOrEqual(("E",), hi),
        ]) == []
        rows = [
            r for part in reader.partitions() for b in reader.read(part)
            for r in zip(*[c.to_pylist() for c in b.columns])
        ]
        return sorted(rows, key=repr), set(seen)

    typed, typed_seen = read()
    inline, inline_seen = read(inline_strings="true")
    everything, _ = _read(path, threads="4")
    with zipfile.ZipFile(path) as zf:
        n_intervals = len(SI.decode_split_index(zf, "xl/worksheets/sheet1.xml"))
    assert inline_seen == typed_seen
    assert inline == typed
    assert typed == sorted(
        (r for r in everything if r[4] is not None and lo <= r[4] <= hi), key=repr
    )
    assert len(typed) > 400
    assert len({i for _, i in typed_seen}) < n_intervals, typed_seen


_BOOK_ROWS = {500: _FULL_ROW, 501: _FULL_ROW}  # the probe rows at skip 501
_MIXED_ROW = (
    '<x:row r="{r}"><x:c r="A{r}" t="s"><x:v>10</x:v></x:c>'
    '<x:c r="F{r}" t="s"><x:v>11</x:v></x:c></x:row>'
)


def _rewrite_sheet(src, dst, fn):
    """``src`` with its worksheet member's bytes passed through ``fn``."""
    import zipfile

    with zipfile.ZipFile(src) as zi, zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as zo:
        for info in zi.infolist():
            data = zi.read(info.filename)
            if info.filename == "xl/worksheets/sheet1.xml":
                data = fn(data)
            zo.writestr(info.filename, data)
    return dst


_CHUNK0_BOOK_ROWS = 12_000  # ~2.4 MB of sheet XML: 3 chunks at 1 MB


@pytest.fixture(scope="module")
def chunk0_books(tmp_path_factory):
    """Books whose chunk 0 holds a row the regex scan cannot read, in the
    skipped rows at skip 501 and past them; and one with no sheetData
    opener."""
    d = tmp_path_factory.mktemp("chunk0")

    def book(name, plants):
        return _sparse_workbook(
            str(d / name), plants={**_BOOK_ROWS, **plants},
            n_rows=_CHUNK0_BOOK_ROWS,
        )

    formula = book("formula.xlsx", {300: _FORMULA_ROW, 600: _FORMULA_ROW})
    mixed = book("mixed_src.xlsx", {300: _MIXED_ROW, 600: _MIXED_ROW})
    return {
        "formula": formula,
        # past the skip only: the reference walk parses skipped rows too
        "inline": book("inline.xlsx", {600: _INLINE_ROW}),
        "mixed": _rewrite_sheet(
            mixed, str(d / "mixed.xlsx"),
            lambda b: b.replace(b"<worksheet ", b'<worksheet xmlns:x="%s" ' % _NS.encode(), 1),
        ),
        "no_opener": _rewrite_sheet(
            formula, str(d / "no_opener.xlsx"),
            lambda b: b.replace(b"<sheetData>", b"").replace(b"</sheetData>", b""),
        ),
    }


def _outcome(fn):
    """``fn()``'s sorted rows, or the message of the ValueError it raises."""
    try:
        return sorted(fn(), key=repr)
    except ValueError as e:
        return str(e)


@pytest.fixture(scope="module")
def chunk0_reference(chunk0_books):
    """The whole-member walk's outcome per book and options, computed
    once: it does not depend on the thread count."""
    cache = {}

    def outcome(book, **opts):
        key = (book, tuple(sorted(opts.items())))
        if key not in cache:
            cache[key] = _outcome(lambda: _reference(chunk0_books[book], **opts))
        return cache[key]

    return outcome


@pytest.mark.parametrize("skip", ["0", "501"])
@pytest.mark.parametrize("threads", ["1", "4"])
@pytest.mark.parametrize("opt", ["typed", "coerce_to_string", "inline_strings"])
@pytest.mark.parametrize("book", ["formula", "inline", "mixed", "no_opener"])
def test_chunk0_irregular_reads_equal_whole_member_walk(
    chunk0_books, chunk0_reference, book, opt, threads, skip
):
    """``_oracle`` shares ``_scan_chunk`` with the reader, so this
    differential reads against the whole-member expat walk instead: every
    read of a chunk-0-irregular book returns its rows (or raises its
    error)."""
    opts = {"skip_rows": skip} if opt == "typed" else {"skip_rows": skip, opt: "true"}
    want = chunk0_reference(book, **opts)
    got = _outcome(lambda: _read(chunk0_books[book], threads=threads, **opts)[0])
    assert got == want
    if book == "inline" and opt != "inline_strings":
        assert "Inline & dynamic String" in got
    else:
        assert len(got) > _CHUNK0_BOOK_ROWS - 600


@pytest.fixture(scope="module")
def skipped_inline_books(tmp_path_factory):
    """An inline row at data row 300, below ``skip_rows=501``, and the
    same book with that row made plain; each also with a second-prefix
    row past the skip (chunk 0 is fragment-walked), and without its
    sheetData opener (the read walks the whole member)."""
    d = tmp_path_factory.mktemp("skipped_inline")
    books = {}
    for name, row in (("inline", _INLINE_ROW), ("plain", _FULL_ROW)):
        plants = {**_BOOK_ROWS, 300: row}
        path = _sparse_workbook(
            str(d / f"{name}.xlsx"), plants=plants, n_rows=_CHUNK0_BOOK_ROWS
        )
        books[name, "chunked"] = path
        books[name, "mixed"] = _rewrite_sheet(
            _sparse_workbook(
                str(d / f"{name}_mixed_src.xlsx"),
                plants={**plants, 600: _MIXED_ROW}, n_rows=_CHUNK0_BOOK_ROWS,
            ),
            str(d / f"{name}_mixed.xlsx"),
            lambda b: b.replace(
                b"<worksheet ", b'<worksheet xmlns:x="%s" ' % _NS.encode(), 1
            ),
        )
        books[name, "whole_member"] = _rewrite_sheet(
            path, str(d / f"{name}_no_opener.xlsx"),
            lambda b: b.replace(b"<sheetData>", b"").replace(b"</sheetData>", b""),
        )
    return books


@pytest.mark.parametrize("threads", ["1", "4"])
@pytest.mark.parametrize("opt", ["typed", "coerce_to_string", "inline_strings"])
@pytest.mark.parametrize("layout", ["chunked", "mixed", "whole_member"])
def test_row_below_skip_never_decides_the_read(
    skipped_inline_books, layout, opt, threads
):
    """A row before ``skip_rows`` never decides whether a read succeeds:
    the readers cut a chunk at its first kept row before scanning or
    fragment-walking it, and the whole-member walk does not raise for a
    skipped row. An inline row below the skip reads like a plain one."""
    opts = {"skip_rows": "501", "threads": threads}
    if opt != "typed":
        opts[opt] = "true"
    rows, _ = _read(skipped_inline_books["inline", layout], **opts)
    assert rows == _read(skipped_inline_books["plain", layout], **opts)[0]
    assert len(rows) == _CHUNK0_BOOK_ROWS - 500


def test_sharded_typed_read_keeps_lazy_heap(reader_books, monkeypatch):
    """A sharded typed read meeting an irregular row (a formula) and an
    irregular chunk (a row under a second prefix) decodes strings from
    the lazy heap, never the eager ``shared_strings`` property."""
    path = reader_books["irregular"]
    want = _oracle(path, threads="4")
    frags = [0]
    fragment_rows = P._fragment_rows

    def counting(*a, **k):
        frags[0] += 1
        return fragment_rows(*a, **k)

    def eager(self):
        raise AssertionError("eager shared-strings heap touched")

    monkeypatch.setattr(P, "_fragment_rows", counting)
    monkeypatch.setattr(P.XlsxWorkbook, "shared_strings", property(eager))
    rows, _ = _read(path, threads="4")
    assert rows == want
    assert frags[0] >= 2
    s = [t.replace("&amp;", "&") for t in _SPARSE_STRINGS]
    assert (s[9], 2.0, None, None, None, None) in rows
    assert (s[10], None, None, None, None, s[11]) in rows


@pytest.mark.parametrize("threads", ["1", "4"])
def test_coerce_formats_mixed_type_varchar_column(reader_books, threads):
    """A VARCHAR column holding numbers, booleans, dates and errors in
    chunks past chunk 0: coerce formats them like the reference
    (``%.6f``, TRUE/FALSE, ISO date, NULL), a typed read gives NULL."""
    path = reader_books["mixed_type"]
    rows, _ = _read(path, threads=threads, coerce_to_string="true")
    assert rows == _oracle(path, threads=threads, coerce_to_string="true")
    firsts = {r[0] for r in rows}
    assert {"3.250000", "TRUE", "2009-07-06"} <= firsts
    typed, _ = _read(path, threads=threads)
    assert typed == _oracle(path, threads=threads)
    assert not {"3.250000", "TRUE", "2009-07-06"} & {r[0] for r in typed}
    assert sum(r[0] is None for r in typed) == sum(r[0] is None for r in rows) + 3


@pytest.mark.parametrize("threads", ["1", "4"])
def test_prefixed_copy_takes_dense_path_past_chunk0(sparse_books, tmp_path, monkeypatch, threads):
    """An ``x:`` copy of a multi-chunk book: its own ``</x:row>`` closers
    are not foreign-row evidence, so every chunk stays on the dense
    template — no per-row cell scan."""
    p = _prefixed_copy(sparse_books["sparse"], str(tmp_path / "x.xlsx"))
    want = _oracle(p, threads=threads)
    plain = _oracle(sparse_books["sparse"], threads=threads)
    assert sorted(want, key=repr) == sorted(plain, key=repr)
    scans = _row_scans(monkeypatch, b"x:")
    rows, _ = _read(p, threads=threads)
    assert scans() == 0
    assert rows == want


@pytest.mark.parametrize(
    "opts",
    [
        {"columns": "c"},
        {"columns": "b,a"},
        {"coerce_to_string": "true", "types": "VARCHAR,VARCHAR,VARCHAR"},
    ],
    ids=["c", "b_a", "coerce"],
)
def test_stream_rows_equal_batch_rows(tmp_path, opts):
    """The streaming source reads each new file through the batch reader:
    a pruned or coerced stream gives the batch read's rows."""
    import datetime as dt

    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    d = tmp_path / "in"
    d.mkdir()
    for i in range(2):
        write_xlsx(str(d / f"f{i}.xlsx"), {"Sheet1": [["a", "b", "c"]] + [
            [f"s{i}{j}", float(j) + 0.5, dt.date(2020, 1, 1 + j)] for j in range(20)
        ]})
    o = {"path": str(d / "*.xlsx"), **opts}
    stream = DS.SheetReaderStreamReader(o, DS.SheetReaderDataSource(o).schema())
    rows, end = stream.read(stream.initialOffset())
    batch, _ = _read(o.pop("path"), **o)
    assert len(end["processed"]) == 2
    assert len(rows) == 40
    assert rows == batch
    if "types" in opts:
        assert rows[1] == ("s01", "1.500000", "2020-01-02")
