"""Null-count interval stats + IsNull/IsNotNull pruning (VERDICT r12
task 1 — the third leg of the parquet row-group pattern: min/max +
null_count, re-expressed for XLSX as per-interval VALUE counts split by
decode family).

The stats author records, per interval per column letter, how many cells
decode NON-NULL per type family — [numeric_plain, string, boolean,
date_styled] (``nc`` section, splitindex.py); a read with pushed
IsNull/IsNotNull filters skips intervals the counts prove empty of
matches BEFORE inflating a byte. Pinned here: authoring (family split,
duplicate-ref withhold, style-unknown withhold, error-semantics
withhold), >80%-skip pruning on a mostly-null witness with the
interval-walk spy, bit-equal results, composition with value predicates,
the forged-counts trust boundary, untrusted-section validation, stride
coarsening soundness, and the sink's write-time authoring.
"""

from __future__ import annotations

import json
import shutil
import zipfile

import pytest

from pyspark.sql.datasource import EqualTo, IsNotNull, IsNull
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import (
    _IntervalStatsCollector,
    _resolve_deferred_strings,
    index_xlsx,
)
from sheetreader_duckdb_spark.sources.xlsx.splitindex import (
    coarsen_count_groups,
    strip_count_entry,
)
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 320_000
DENSE = 900  # rows 0..DENSE-1 carry values in the sparse columns
SHEET = "xl/worksheets/sheet1.xml"


def _foreignize(src: str, dst: str) -> str:
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    return dst


@pytest.fixture(scope="module")
def nullstats_xlsx(tmp_path_factory):
    """Retrofit-indexed foreign file, the mostly-null shape of real
    spreadsheets: ``id`` string (dense — every row), ``sparse_num``
    DOUBLE and ``sparse_flag`` BOOLEAN non-null only in the first DENSE
    rows, ``filler`` numeric dense (keeps interval byte volume up so the
    file spans many intervals)."""
    d = tmp_path_factory.mktemp("ncstats")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["id", "sparse_num", "sparse_flag", "filler"])
    for i in range(N):
        sparse = i < DENSE
        w.write_row(
            [
                f"id{i:07d}" + "x" * 24,
                float(i) if sparse else None,
                (i % 2 == 0) if sparse else None,
                float(i) * 0.12345678901,
            ]
        )
    w.close()
    p = _foreignize(src, str(d / "foreign.xlsx"))
    out = index_xlsx(p)
    assert out["indexed"] and out["worksheet_points"] >= 4
    return p


SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("sparse_num", DoubleType()),
        StructField("sparse_flag", BooleanType()),
        StructField("filler", DoubleType()),
    ]
)


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


def _collect(path, filters, threads=4, schema=SCHEMA, **opts):
    reader = DS.SheetReaderReader(
        {"path": path, "threads": str(threads), **opts}, schema
    )
    rows = []
    for s in range(threads):
        part = DS._SheetPartition(
            (path,), shard=s, n_shards=threads, filters=tuple(filters)
        )
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def _feed(coll, xml: bytes) -> None:
    """Analyse ``xml`` as one whole interval, as the writer does."""
    coll.fold(coll.analyzer()(xml))


# ---------------------------------------------------------------- units


def test_count_entry_helpers():
    assert strip_count_entry((5, 0, 0, 0)) == [5]
    assert strip_count_entry((0, 3, 0, 0)) == [0, 3]
    assert strip_count_entry((0, 0, 0, 0)) == []
    assert coarsen_count_groups([[5], [0, 3]]) == [[5, 3]]
    assert coarsen_count_groups([[5], None, [1], [2], [9]]) == [
        None, [3], [9]
    ]
    assert coarsen_count_groups([[], []]) == [[]]


def test_collector_family_split_and_withholds():
    """White-box authoring: family routing by t attr + date style,
    duplicate-ref withhold, unknown-style withhold."""
    xml = (
        b"<sheetData>"
        b'<row r="1"><c r="A1"><v>1.5</v></c>'
        b'<c r="B1" t="s"><v>0</v></c>'
        b'<c r="C1" t="b"><v>1</v></c>'
        b'<c r="D1" s="1"><v>45000</v></c>'
        b'<c r="E1" t="e"><v>#DIV/0!</v></c></row>'
        b'<row r="2"><c r="A2"><v>2.5</v></c></row>'
        b"</sheetData>"
    )
    coll = _IntervalStatsCollector(b"", date_styles=frozenset({1}))
    _feed(coll, xml)
    cum, claims = coll.fine[0]
    st, sv, nc = (claims[k] for k in ("st", "sv", "nc"))
    assert cum == 2
    assert nc == {
        "A": (2, 0, 0, 0),
        "B": (0, 1, 0, 0),
        "C": (0, 0, 1, 0),
        "D": (0, 0, 0, 1),
        # E (t="e") decodes NULL → counted nowhere → no key
    }
    assert "E" not in nc

    # duplicate refs inflate a family past the row count → that column
    # withholds (None), others keep their claims
    dup = (
        b"<sheetData>"
        b'<row r="1"><c r="A1"><v>1</v></c><c r="A1"><v>2</v></c>'
        b'<c r="B1"><v>7</v></c></row>'
        b"</sheetData>"
    )
    coll2 = _IntervalStatsCollector(b"", date_styles=frozenset())
    _feed(coll2, dup)
    nc2 = coll2.fine[0][1]["nc"]
    assert nc2["A"] is None and nc2["B"] == (1, 0, 0, 0)

    # unknown style mapping (date_styles=None): a STYLED numeric cell's
    # family is undecidable → its column claims nothing; unstyled
    # numerics stay exact
    coll3 = _IntervalStatsCollector(b"", date_styles=None)
    _feed(
        coll3,
        b'<sheetData><row r="1"><c r="A1" s="7"><v>1</v></c>'
        b'<c r="B1"><v>2</v></c></row></sheetData>',
    )
    nc3 = coll3.fine[0][1]["nc"]
    assert nc3["A"] is None and nc3["B"] == (1, 0, 0, 0)


def test_collector_error_cells_withhold_counts_too():
    """ADVICE r12 error-parity rule extends to counts: an interval with
    t="str" cells claims NO counts (pruning must not skip the error the
    unfiltered read raises)."""
    coll = _IntervalStatsCollector(b"", date_styles=frozenset())
    _feed(
        coll,
        b'<sheetData><row r="1"><c r="A1" t="str"><v>x</v></c></row>'
        b"</sheetData>",
    )
    assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS)


# ------------------------------------------------------------- authoring


def test_nc_published_and_decodes(nullstats_xlsx):
    with zipfile.ZipFile(nullstats_xlsx) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        nc = SI.decode_interval_sections(zf, SHEET, pts).get("nc")
    assert nc is not None
    assert set(nc) >= {"A", "B", "C", "D"}
    assert all(len(v) == len(pts) for v in nc.values())
    # dense id column: string family == rows in every group
    for e in nc["A"]:
        assert e is not None and e[1] == e[4]
    # sparse_num: past the dense head, zero numerics
    tail = nc["B"][-1]
    assert tail is not None and tail[0] == 0
    # family totals never exceed group rows (decoder enforced)
    for v in nc.values():
        for e in v:
            assert e is None or sum(e[:4]) <= e[4]


# ---------------------------------------------------------------- pruning


def test_isnotnull_prunes_mostly_null_column(nullstats_xlsx, monkeypatch):
    """The VERDICT 'done' bar: a mostly-null column's IS NOT NULL read
    plans >80% skips, bit-equal results."""
    unfiltered = _collect(nullstats_xlsx, [])
    assert len(unfiltered) == N
    spy = _Spy(monkeypatch)
    got = sorted(_collect(nullstats_xlsx, [IsNotNull(("sparse_num",))]),
                 key=str)
    want = sorted((r for r in unfiltered if r[1] is not None), key=str)
    assert got == want and len(want) == DENSE
    total = spy.materialized + spy.skipped
    assert total > 10, total
    assert spy.skipped / total > 0.8, vars(spy)


def test_isnotnull_prunes_boolean_column(nullstats_xlsx, monkeypatch):
    spy = _Spy(monkeypatch)
    got = _collect(nullstats_xlsx, [IsNotNull(("sparse_flag",))])
    assert len(got) == DENSE
    assert spy.skipped / (spy.skipped + spy.materialized) > 0.8, vars(spy)


def test_isnull_prunes_dense_column(nullstats_xlsx, monkeypatch):
    """IS NULL on a fully-dense column proves every interval empty of
    matches (family count == group rows) — everything but interval 0
    skips and the result is exactly empty."""
    spy = _Spy(monkeypatch)
    got = _collect(nullstats_xlsx, [IsNull(("id",))])
    assert got == []
    # every shard materializes ONLY interval 0 (never skippable)
    assert spy.materialized == 4, vars(spy)


def test_isnull_on_sparse_column_returns_null_rows(nullstats_xlsx):
    got = _collect(nullstats_xlsx, [IsNull(("sparse_num",))])
    assert len(got) == N - DENSE
    assert all(r[1] is None for r in got)


def test_composes_with_value_predicates(nullstats_xlsx, monkeypatch):
    """Spark pushes IsNotNull alongside every comparison: the two
    filters' skip sets union (and results stay exact)."""
    spy = _Spy(monkeypatch)
    got = _collect(
        nullstats_xlsx,
        [IsNotNull(("sparse_num",)), EqualTo(("sparse_num",), 123.0)],
    )
    assert [r[1] for r in got] == [123.0]
    assert spy.skipped / (spy.skipped + spy.materialized) > 0.8, vars(spy)


def test_row_path_prunes_nulls_too(nullstats_xlsx, monkeypatch):
    want = sorted(_collect(nullstats_xlsx, [IsNotNull(("sparse_num",))]),
                  key=str)
    spy = _Spy(monkeypatch)
    got = sorted(
        _collect(
            nullstats_xlsx, [IsNotNull(("sparse_num",))],
            threads=3, inline_strings="true",
        ),
        key=str,
    )
    assert got == want
    assert spy.skipped > spy.materialized, vars(spy)


def test_mixed_style_column_isnull_never_overskips(tmp_path, monkeypatch):
    """The family-split soundness case: one column alternates date-styled
    and plain numeric cells. To a DOUBLE schema the styled half decodes
    NULL — IS NULL must return those rows (a merged numeric family would
    have claimed count==rows and skipped them all)."""
    import datetime as dt

    p = str(tmp_path / "mixed.xlsx")
    w = IncrementalXlsxWriter(p, "Sheet1", stats=True)
    w.write_row(["v", "pad"])
    n = 80_000
    for i in range(n):
        w.write_row(
            [
                dt.date(2020, 1, 1) + dt.timedelta(days=i % 1000)
                if i % 2
                else float(i),
                "p" * 40 + str(i),
            ]
        )
    w.close()
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        nc = SI.decode_interval_sections(zf, SHEET, pts).get("nc")
    assert nc is not None and "A" in nc
    e = nc["A"][1]
    assert e is not None and e[0] > 0 and e[3] > 0  # both families seen

    schema = StructType(
        [StructField("v", DoubleType()), StructField("pad", StringType())]
    )
    got = _collect(p, [IsNull(("v",))], schema=schema)
    assert len(got) == n // 2  # every date-styled row IS null as DOUBLE
    # and to a DATE schema the plain floats are the null half
    schema2 = StructType(
        [StructField("v", DateType()), StructField("pad", StringType())]
    )
    got2 = _collect(p, [IsNull(("v",))], schema=schema2)
    assert len(got2) == n - n // 2


# ------------------------------------------------------- trust boundary


def test_garbled_nc_drops_to_unpruned_scan(nullstats_xlsx, tmp_path):
    """Structurally invalid nc (wrong length, negatives, bools, floats,
    5-family entries, totals past group rows) must drop the section —
    results identical, never an error, and st/sv survive untouched."""
    p = str(tmp_path / "garbled.xlsx")
    shutil.copy(nullstats_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
        n_iv = len(payload["c"]) + 1
    base = sorted(_collect(nullstats_xlsx, [IsNotNull(("sparse_num",))]),
                  key=str)
    for bad_nc in (
        {"B": [[1]]},                       # wrong length
        {"B": [[-1]] * n_iv},               # negative
        {"B": [[True]] * n_iv},             # bool masquerading as int
        {"B": [[1.0]] * n_iv},              # float
        {"B": [[1, 1, 1, 1, 1]] * n_iv},    # too many families
        {"B": [[10 ** 9]] * n_iv},          # totals exceed group rows
        {"B": "not-a-list"},
        "not-a-dict",
    ):
        payload2 = dict(payload)
        payload2["nc"] = bad_nc
        with zipfile.ZipFile(p, "a") as zf:
            zf.comment = SI.MAGIC + json.dumps(payload2).encode()
        with zipfile.ZipFile(p) as zf:
            pts = SI.decode_split_index(zf, SHEET)
            secs = SI.decode_interval_sections(zf, SHEET, pts)
        assert secs.get("nc") is None, bad_nc
        # independent sections unharmed
        assert secs.get("st") is not None
        got = sorted(_collect(p, [IsNotNull(("sparse_num",))]), key=str)
        assert got == base, bad_nc


def test_forged_valid_nc_is_the_documented_trust_boundary(
    nullstats_xlsx, tmp_path
):
    """Plausible-but-lying counts silently lose rows BY DESIGN (the
    parquet row-group trust model, same boundary as st/sv): claiming the
    sparse column all-null everywhere makes IsNotNull return only
    interval 0's rows. Pinned so the boundary is explicit, not
    accidental."""
    p = str(tmp_path / "lying.xlsx")
    shutil.copy(nullstats_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
        n_iv = len(payload["c"]) + 1
    # lie about the DENSE filler column (sparse_num's witnesses all sit
    # inside never-prunable interval 0, where a lie cannot bite)
    payload["nc"] = {"D": [[]] * n_iv}  # "every row null" — a lie
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.MAGIC + json.dumps(payload).encode()
    got = _collect(p, [IsNotNull(("filler",))])
    assert 0 < len(got) < N  # interval 0 survives, the lie eats the rest


# ------------------------------------------------------ stride + sink


def test_nc_stride_roundtrip_group_sums():
    """Encode at q=2 → decode re-expands to per-interval GROUP totals
    with the group's row count attached."""
    import io

    pts = [(100, 10), (200, 25), (300, 40)]
    nc = {"A": [[10], [0, 30]]}  # 2 groups over 4 intervals (q=2)
    comment = SI.encode_split_index(
        SHEET, pts, 55, sections={"nc": nc}, stride=2
    )
    import hashlib

    # deflate-incompressible member body so the recorded offsets stay
    # inside compress_size (the decoder requires a DEFLATED member)
    body = b"".join(
        hashlib.sha256(bytes([i])).digest() for i in range(20)
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(SHEET, body)
        zf.comment = comment
    with zipfile.ZipFile(io.BytesIO(buf.getvalue())) as zf:
        # patch compress sizes realism: decode only needs monotone offsets
        pts2 = SI.decode_split_index(zf, SHEET)
        assert pts2 is not None
        out = SI.decode_interval_sections(zf, SHEET, pts2).get("nc")
    assert out is not None
    # group 0 = intervals 0,1 (rows 10+15=25); group 1 = intervals 2,3
    # (rows 15+15=30)
    assert out["A"][0] == (10, 0, 0, 0, 25) and out["A"][1] == out["A"][0]
    assert out["A"][2] == (0, 30, 0, 0, 30) and out["A"][3] == out["A"][2]


def test_sink_stats_authors_nc_and_prunes(tmp_path, monkeypatch):
    """Our own sink (stats=True) publishes nc at write time; a sparse
    column prunes without any retrofit."""
    p = str(tmp_path / "sink.xlsx")
    w = IncrementalXlsxWriter(p, "Sheet1", stats=True)
    w.write_row(["a", "b"])
    n = 400_000
    for i in range(n):
        w.write_row([float(i) if i < 500 else None, "zz" * 20 + str(i)])
    w.close()
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        nc = SI.decode_interval_sections(zf, SHEET, pts).get("nc")
    assert nc is not None and "A" in nc
    schema = StructType(
        [StructField("a", DoubleType()), StructField("b", StringType())]
    )
    spy = _Spy(monkeypatch)
    got = _collect(p, [IsNotNull(("a",))], schema=schema)
    assert len(got) == 500
    assert spy.skipped / (spy.skipped + spy.materialized) > 0.8, vars(spy)


def test_unparseable_values_withhold_whole_interval():
    """r13 review: the reader RAISES on garbage <v> payloads (float(v) /
    int(v)), so error parity demands the ENTIRE interval claim nothing —
    any surviving claim (even another column's) could prune the error
    away on a filtered read. Both the numeric and the sst-ref shape."""
    from sheetreader_duckdb_spark.sources.xlsx.indexer import (
        _IntervalStatsCollector,
    )

    for bad in (
        b'<c r="A1"><v>abc</v></c>',        # float('abc') raises
        b'<c r="A1" t="s"><v>1.5</v></c>',  # int('1.5') raises
    ):
        coll = _IntervalStatsCollector(b"", date_styles=frozenset())
        _feed(
            coll,
            b'<sheetData><row r="1">' + bad +
            b'<c r="B1"><v>7</v></c></row></sheetData>',
        )
        assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS), bad
    # NaN is NOT an error in the reader (float('nan') parses): the
    # column skips its bounds claim but counts stay — and other
    # columns' claims survive
    coll = _IntervalStatsCollector(b"", date_styles=frozenset())
    _feed(
        coll,
        b'<sheetData><row r="1"><c r="A1"><v>NaN</v></c>'
        b'<c r="B1"><v>7</v></c></row></sheetData>',
    )
    st, sv, nc = (coll.fine[0][1][k] for k in ("st", "sv", "nc"))
    assert "A" not in st and st["B"] == (7.0, 7.0)
    assert nc["A"] == (1, 0, 0, 0) and nc["B"] == (1, 0, 0, 0)


def test_exotic_string_refs_withhold_interval_not_crash():
    """r13 review pass 2: (a) a ref past int64 used to crash serial
    stats retrofits with an uncaught OverflowError — now the interval
    withholds like every other read-would-raise shape; (b) string cells
    with NO usable heap withhold too (the read raises IndexError on a
    missing sst); (c) an out-of-heap ref withholds the WHOLE interval,
    not just the column (the read raises IndexError)."""

    def resolved(xml, heap):
        coll = _IntervalStatsCollector(b"", date_styles=frozenset())
        _feed(coll, xml)
        _resolve_deferred_strings([coll], heap)
        return coll.fine[0][1]

    huge = b'<sheetData><row r="1">'\
           b'<c r="A1" t="s"><v>99999999999999999999</v></c>'\
           b'<c r="B1"><v>7</v></c></row></sheetData>'
    assert resolved(huge, ["x"]) == dict.fromkeys(SI.SECTION_KEYS)

    noheap = b'<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c>'\
             b'<c r="B1"><v>7</v></c></row></sheetData>'
    assert resolved(noheap, None) == dict.fromkeys(SI.SECTION_KEYS)

    oor = b'<sheetData><row r="1"><c r="A1" t="s"><v>5</v></c>'\
          b'<c r="B1"><v>7</v></c></row></sheetData>'
    assert resolved(oor, ["only"]) == dict.fromkeys(SI.SECTION_KEYS)

    # A negative ref WRAPS in the reader when it is in range, and raises
    # IndexError when it is not; which one depends on the heap length,
    # unknown while the interval is analysed. Every negative ref
    # withholds the interval, in range or not (ADVICE r14 medium: the
    # out-of-range one used to crash the serial analysis at sst[i]).
    for v in (b"-1", b"-999999"):
        neg = b'<sheetData><row r="1"><c r="A1" t="s"><v>' + v + \
              b'</v></c><c r="B1"><v>7</v></c></row></sheetData>'
        assert resolved(neg, ["w", "z"]) == dict.fromkeys(SI.SECTION_KEYS)

    # ADVICE r14 low: a lone-surrogate heap entry strictly BETWEEN the
    # min/max entries makes the unfiltered read fail at Arrow
    # conversion, so every referenced entry is encode-checked, not just
    # the two bound candidates.
    midsur = b'<sheetData><row r="1">'\
             b'<c r="A1" t="s"><v>0</v></c><c r="B1"><v>7</v></c></row>'\
             b'<row r="2"><c r="A2" t="s"><v>1</v></c></row>'\
             b'<row r="3"><c r="A3" t="s"><v>2</v></c></row></sheetData>'
    assert resolved(midsur, ["a", "m\ud800m", "z"]) == dict.fromkeys(
        SI.SECTION_KEYS
    )


def test_deferred_negative_ref_withholds_interval():
    """ADVICE r14 medium: the analyzer cannot range-check a negative ref
    (the heap length is unknown until the heap pass), so ANY negative
    ref withholds the whole interval — the conservative superset of the
    reader's IndexError on ``sst[-n]`` past the heap. Intervals without
    negative refs keep their claims."""
    neg = b'<sheetData><row r="1"><c r="A1" t="s"><v>-1</v></c>'\
          b'<c r="B1"><v>7</v></c></row></sheetData>'
    coll = _IntervalStatsCollector(b"", date_styles=frozenset())
    _feed(coll, neg)
    _resolve_deferred_strings([coll], iter(["w", "z"]))
    assert coll.fine[0][1] == dict.fromkeys(SI.SECTION_KEYS)

    ok_iv = b'<sheetData><row r="1"><c r="A1" t="s"><v>1</v></c>'\
            b'<c r="B1"><v>7</v></c></row></sheetData>'
    coll = _IntervalStatsCollector(b"", date_styles=frozenset())
    _feed(coll, ok_iv)
    _resolve_deferred_strings([coll], iter(["w", "z"]))
    st, sv, nc = (coll.fine[0][1][k] for k in ("st", "sv", "nc"))
    assert sv["A"] == ("z", "z") and st["B"] == (7.0, 7.0)
