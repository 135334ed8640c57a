"""ADVICE r12 closures on the interval-stats stack.

1. (low, datasource.py) Interval pruning must not change ERROR semantics
   for honestly-indexed files: the stats collector withholds every claim
   for intervals containing ``t="str"``/``t="inlineStr"`` cells, so a
   selective filtered read inflates those intervals and raises the same
   UNSUPPORTED_STRING_ERROR the unfiltered read raises.
2. (low, writer.py) ``_publish_index``'s 64 KB overflow shedding must not
   mutate the stats dicts the CALLER passed in (shallow-copy aliasing).
"""

from __future__ import annotations

import copy
import io
import zipfile

import pytest

from pyspark.sql.datasource import LessThan
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
from sheetreader_duckdb_spark.sources.xlsx.writer import (
    IncrementalXlsxWriter,
    _publish_index,
)

SHEET = "xl/worksheets/sheet1.xml"


def _collect(path, schema, filters, threads=3):
    reader = DS.SheetReaderReader({"path": path, "threads": str(threads)}, schema)
    rows = []
    for s in range(threads):
        part = DS._SheetPartition(
            (path,), shard=s, n_shards=threads, filters=tuple(filters)
        )
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def _splice_formula_string_cell(src: str, dst: str) -> None:
    """Rewrite the worksheet member replacing one late-row numeric cell
    with a bare ``<c t="str"><v>…</v></c>`` — the one inline-string shape
    that still MATCHES the stats collector's cell regex (no <f>/<is>
    children), so only the explicit withhold rule can catch it."""
    with zipfile.ZipFile(src) as zin:
        data = zin.read(SHEET)
        members = [(i, zin.read(i.filename)) for i in zin.infolist()]
    needle = b'<c r="A100001"'
    at = data.index(needle)
    end = data.index(b"</c>", at) + 4
    data = (
        data[:at]
        + b'<c r="A100001" t="str"><v>boom</v></c>'
        + data[end:]
    )
    with zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as zout:
        for info, raw in members:
            zout.writestr(
                info.filename, data if info.filename == SHEET else raw
            )


@pytest.fixture(scope="module")
def strcell_xlsx(tmp_path_factory):
    d = tmp_path_factory.mktemp("advice12")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["id", "name"])
    for i in range(120_000):
        w.write_row([float(i), f"r{i}"])
    w.close()
    p = str(d / "strcell.xlsx")
    _splice_formula_string_cell(src, p)
    out = index_xlsx(p)
    assert out["indexed"] and out["worksheet_points"] >= 2
    return p


SCHEMA = StructType(
    [StructField("id", DoubleType()), StructField("name", StringType())]
)


def test_stats_withheld_for_intervals_with_inline_string_cells(strcell_xlsx):
    """The interval carrying the t=\"str\" cell records None for EVERY
    column even though the cell regex can parse it (ADVICE r12)."""
    with zipfile.ZipFile(strcell_xlsx) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        st = SI.decode_interval_sections(zf, SHEET, pts).get("st")
    assert st is not None and "A" in st
    # Exactly the interval(s) containing row 100001 claim nothing; the
    # early, clean intervals still carry stats (pruning stays useful).
    assert st["A"][0] is not None
    nones = [i for i, rng in enumerate(st["A"]) if rng is None]
    assert nones, "the str-cell interval must withhold claims"
    for i in nones:
        lo_rows = pts[i - 1][1] if i else 0
        hi_rows = pts[i][1]
        assert lo_rows <= 100_001 <= hi_rows


def test_filtered_read_raises_like_unfiltered_despite_pruning(strcell_xlsx):
    """A filter that prunes almost everything must still surface the
    UNSUPPORTED_STRING_ERROR hiding in the withheld interval — identical
    error semantics with and without pruning (ADVICE r12)."""
    with pytest.raises(Exception, match="(?i)string"):
        _collect(strcell_xlsx, SCHEMA, [])
    with pytest.raises(Exception, match="(?i)string"):
        # selective: would prune every stats-carrying interval except the
        # first — the withheld one still inflates and raises
        _collect(strcell_xlsx, SCHEMA, [LessThan(("id",), 5.0)])


def test_publish_index_shedding_does_not_mutate_caller_dicts():
    """Overflow shedding deep-copies: the caller's stats dicts (top-level
    and extra-sheet) survive a shedding retry untouched (ADVICE r12)."""
    pts = [(100 * (i + 1), 10 * (i + 1)) for i in range(2000)]
    stats = {c: [float(i) for i in range(4002 * 2)] for c in ("A", "B")}
    extra = {
        "xl/worksheets/sheet2.xml": {
            "n": 999,
            "points": [(50, 5), (100, 10)],
            "sections": {"st": {"A": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]}},
        }
    }
    stats_before = copy.deepcopy(stats)
    extra_before = copy.deepcopy(extra)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x", b"")
        _publish_index(
            zf, SHEET, pts, 20_000, 20_000, None, 0, 0,
            sections={"st": stats}, extra_sheets=extra,
        )
        assert zf.comment.startswith(SI.MAGIC)  # shedding succeeded
    assert stats == stats_before
    assert extra == extra_before
