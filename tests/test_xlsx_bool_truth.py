"""One boolean truth rule (parser.bool_cell / BOOL_TRUE_TEXTS, and
parser._bool_payload for raw bytes) across every reader tier and the
``bt`` stats author.

A generated set of t="b" payloads — the truth-set spellings and their
false counterparts wrapped in Unicode whitespace, plus ZERO WIDTH SPACE,
which is not whitespace and must not be trimmed, plus entity-encoded
spellings (``&#160;true``, ``&#x31;``, ``&amp;true``) — decodes identically
through the whole-file expat tier, the regex chunk scanner, the expat
fragment parser, the columnar Arrow path and the indexer's interval
counts. A payload that is not UTF-8 raises in every reader tier, and the
author then withholds the whole interval (error parity).
"""

from __future__ import annotations

import zipfile

import pytest

from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import parser as P
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import _analyze_interval

_CORES = ("1", "0", "true", "TRUE", "false")
_SPACES = (" ", "\xa0", "\u2028", "\u3000")  # ASCII, NBSP, LS, ideographic
# Raw XML spellings with character references, decoded before the rule
# applies; an escaped ampersand is literal text and never true.
_ENTITY_CASES = (
    ("&#160;true", True),
    ("&#x31;", True),
    ("&#49;", True),
    ("true&#x3000;", True),
    ("&amp;true", False),
)


def _cases() -> list:
    """(payload, truth): each spelling bare and wrapped in whitespace on
    either or both sides, plus a ZWSP-prefixed form that stays false, plus
    the entity-encoded spellings."""
    out = []
    for core in _CORES:
        truth = core in ("1", "true", "TRUE")
        out.append((core, truth))
        for ws in _SPACES:
            out += [(ws + core, truth), (core + ws, truth),
                    (ws + core + ws, truth)]
        out.append(("\u200b" + core, False))  # ZWSP: no trim, never true
    return out + list(_ENTITY_CASES)


PAYLOADS, WANT = map(list, zip(*_cases()))


def _rows_xml(payloads) -> bytes:
    return "".join(
        f'<row r="{i}"><c r="A{i}" t="b"><v>{p}</v></c></row>'
        for i, p in enumerate(payloads, start=1)
    ).encode("utf-8")


def _workbook(path: str, rows: bytes) -> str:
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{rel}"><sheets>'
            '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            f'package/2006/relationships"><Relationship Id="rId1" '
            f'Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}">'.encode()
            + b"<sheetData>" + rows + b"</sheetData></worksheet>",
        )
    return path


def _values(rows) -> list:
    return [cells[0][2] for cells in rows]


def _read(path: str, schema: StructType, **opts) -> list:
    reader = DS.SheetReaderReader(
        {"path": path, "has_header": "false", **opts}, schema
    )
    out = []
    for batch in reader.read(DS._SheetPartition((path,))):
        out.extend(batch.column(0).to_pylist())
    return out


def test_truth_rule_agrees_across_tiers_and_author(tmp_path):
    rows = _rows_xml(PAYLOADS)
    path = _workbook(str(tmp_path / "bools.xlsx"), rows)
    with P.XlsxWorkbook(path) as wb:
        expat = _values(wb._iter_rows_expat(wb.resolve_sheet(None, None)))
    scan = _values(P._scan_chunk(rows, {}, frozenset()))
    fragment = _values(P._fragment_rows(rows, frozenset()))
    columnar = _read(path, StructType([StructField("f", BooleanType())]))
    author = []
    for p in PAYLOADS:
        _, claims, _ = _analyze_interval(
            _rows_xml([p]), b"", frozenset()
        )
        author.append({(1, 0): True, (0, 1): False}[claims["bt"]["A"]])
    assert expat == WANT
    assert scan == WANT
    assert fragment == WANT
    assert columnar == WANT
    assert author == WANT


BAD = b'<row r="1"><c r="A1" t="b"><v>\xff1</v></c><c r="B1"><v>5</v></c></row>'


def test_scan_chunk_rejects_non_utf8_boolean_payload():
    # Used to decode with errors="replace" and return False, while the
    # fragment parser and the columnar path raise on the same bytes.
    with pytest.raises(ValueError, match="malformed sheet XML"):
        P._scan_chunk(BAD, {}, frozenset())
    with pytest.raises(ValueError):
        P._fragment_rows(BAD, frozenset())


def test_every_read_tier_raises_on_non_utf8_boolean_payload(tmp_path):
    path = _workbook(str(tmp_path / "bad.xlsx"), BAD)
    schema = StructType(
        [StructField("f", BooleanType()), StructField("n", DoubleType())]
    )
    with pytest.raises(ValueError):
        _read(path, schema)
    with pytest.raises(ValueError):
        _read(path, schema, coerce_to_string="true")
    with pytest.raises(ValueError):
        _read(path, schema, inline_strings="true")


def test_author_withholds_interval_with_non_utf8_boolean_payload():
    # The read of this interval raises, so no section may keep a claim
    # (column B's numeric bounds included) that could prune it away.
    _, claims, _ = _analyze_interval(BAD, b"", frozenset())
    assert claims == dict.fromkeys(SI.SECTION_KEYS)
