"""Reader-side column pruning (`columns` option): pruned reads return only
the requested columns with identical values, work on typed and coerce
reads alike, and pruned columns are genuinely never decoded
(proved by a poisoned cell in a dropped column that would fail the Arrow
cast if it were).

Spark 4.1 does not push required columns into Python data sources (the
Project sits above the BatchScan), so pruning is an explicit reader option —
SURVEY §4.1's "cheap custom win" expressed as the ETL caller stating its
projection once.
"""

from __future__ import annotations

import zipfile

import pytest

from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

_WORKBOOK = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>"""

_RELS = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1"
 Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
 Target="worksheets/sheet1.xml"/></Relationships>"""

_SST = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
<si><t>name</t></si><si><t>bad</t></si><si><t>qty</t></si><si><t>alpha</t></si></sst>"""

# Row 1 = header (all strings). Column 'bad' is a VARCHAR column whose row-3
# cell references shared-string index 99 — the heap has 4 entries, so
# DECODING that cell (the heap take) fails on any path, while merely parsing
# it (cell scan keeps the integer index) succeeds. Schema inference only
# dereferences the two probe rows, so the file loads; a full read must crash
# at decode, a pruned read must never touch it.
_POISON_SHEET = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>1.5</v></c></row>
<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3" t="s"><v>99</v></c><c r="C3"><v>2.5</v></c></row>
</sheetData></worksheet>"""


@pytest.fixture()
def wide_xlsx(tmp_path):
    p = str(tmp_path / "wide.xlsx")
    rows = [["name", "qty", "price", "flag"]] + [
        [f"n{i}", float(i), i * 1.5, i % 2 == 0] for i in range(100)
    ]
    write_xlsx(p, {"Sheet1": rows})
    return p


@pytest.fixture()
def poison_xlsx(tmp_path):
    p = str(tmp_path / "poison.xlsx")
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _RELS)
        z.writestr("xl/sharedStrings.xml", _SST)
        z.writestr("xl/worksheets/sheet1.xml", _POISON_SHEET)
    return p


def _register(spark):
    from sheetreader_duckdb_spark import register

    register(spark)


def test_pruned_read_matches_full_read(spark, wide_xlsx):
    _register(spark)
    full = spark.read.format("sheetreader").load(wide_xlsx)
    pruned = (
        spark.read.format("sheetreader")
        .option("columns", "price,name")
        .load(wide_xlsx)
    )
    # Requested order is preserved, nothing else is exposed.
    assert pruned.columns == ["price", "name"]
    got = sorted(tuple(r) for r in pruned.collect())
    want = sorted(tuple(r) for r in full.select("price", "name").collect())
    assert got == want


def test_pruned_read_row_path(spark, wide_xlsx):
    """coerce_to_string decodes off-template chunks per cell; pruning must
    hold there."""
    _register(spark)
    full = (
        spark.read.format("sheetreader")
        .option("coerce_to_string", True)
        .load(wide_xlsx)
    )
    pruned = (
        spark.read.format("sheetreader")
        .option("coerce_to_string", True)
        .option("columns", "qty")
        .load(wide_xlsx)
    )
    assert pruned.columns == ["qty"]
    got = sorted((r["qty"],) for r in pruned.collect())
    want = sorted((r["qty"],) for r in full.select("qty").collect())
    assert got == want and len(got) == 100


def test_pruned_column_is_never_decoded(spark, poison_xlsx):
    """The dropped column contains a value that CANNOT be decoded as its
    type — the full read fails, the pruned read succeeds. This is the
    direct proof that pruning skips decode, not just output."""
    _register(spark)
    full = spark.read.format("sheetreader").load(poison_xlsx)
    with pytest.raises(Exception, match="(?i)index|bounds|out of range"):
        full.collect()
    pruned = (
        spark.read.format("sheetreader")
        .option("columns", "name,qty")
        .load(poison_xlsx)
    )
    got = sorted(tuple(r) for r in pruned.collect())
    assert got == [("alpha", 1.5), ("alpha", 2.5)]


def test_pruned_unknown_column_errors(spark, wide_xlsx):
    _register(spark)
    with pytest.raises(Exception, match="columns"):
        (
            spark.read.format("sheetreader")
            .option("columns", "nope")
            .load(wide_xlsx)
            .collect()
        )


def test_pruning_composes_with_filter_pushdown(spark, wide_xlsx):
    _register(spark)
    df = (
        spark.read.format("sheetreader")
        .option("columns", "name,qty")
        .option("filter_pushdown", True)
        .load(wide_xlsx)
        .filter("qty >= 98.0")
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("n98", 98.0), ("n99", 99.0)]


def test_native_column_pushdown_canary(spark, poison_xlsx):
    """Pin of the Spark 4.1 behavior that justifies the `columns` option
    (and read_xlsx's columns= plumbing): a projected SELECT over a Python
    data source still plans the scan with the FULL schema — proved here
    because the projection EXCLUDES the poisoned column yet the read still
    decodes it and fails. When a Spark upgrade makes this select succeed
    with no `columns` option, native required-column pushdown has landed:
    flip the query layer to rely on it and retire the manual plumbing
    (mirror of test_xlsx_pushdown's relation-reuse canary)."""
    _register(spark)
    df = spark.read.format("sheetreader").load(poison_xlsx).select("name", "qty")
    with pytest.raises(Exception, match="(?i)index|bounds|out of range"):
        df.collect()


def test_read_xlsx_helper_prunes(spark, poison_xlsx, wide_xlsx):
    """read_xlsx(columns=...) is the documented pattern: the projection
    reaches the reader (poisoned excluded column never decoded) and extra
    reader options pass through."""
    from sheetreader_duckdb_spark import read_xlsx

    got = sorted(
        tuple(r) for r in read_xlsx(spark, poison_xlsx, columns=["name", "qty"]).collect()
    )
    assert got == [("alpha", 1.5), ("alpha", 2.5)]
    skipped = read_xlsx(spark, wide_xlsx, skip_rows=2)
    assert skipped.count() == 99  # 101 rows - 2 skipped, none header-stripped
    # (the post-skip first row is mixed-type, so auto-detect keeps it as data)
