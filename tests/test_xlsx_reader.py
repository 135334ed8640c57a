"""Golden tests for the sheetreader data source (FIXTURES.md §A; semantics
from SURVEY.md §2.1 S1–S16)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

FIXDIR = "/tmp/sheetreader_fixtures"


@pytest.fixture(scope="session")
def fixdir():
    os.makedirs(FIXDIR, exist_ok=True)
    return FIXDIR


@pytest.fixture(scope="session")
def sr(spark):
    from sheetreader_duckdb_spark import register

    register(spark)
    return spark


def _read(spark, path, **options):
    r = spark.read.format("sheetreader")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


# -- S1/S7/S13: byte-for-byte replay of the reference's demo golden output
#    (docker-demo/README.md:44-58) over a hand-built copy of its workbook
#    (tests/fixtures/build_demo_fixture.py) --
DEMO_XLSX = os.path.join(os.path.dirname(__file__), "fixtures", "demo_test.xlsx")


def test_demo_replay(sr):
    df = _read(sr, DEMO_XLSX)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("Name", "string"),
        ("Age", "double"),
        ("City", "string"),
    ]
    rows = [tuple(r) for r in df.collect()]
    assert rows == [("Alice", 30.0, "New York"), ("Bob", 25.0, "London")]
    assert df.count() == 2


# -- S10: generic names when row 1 is not all-string --
def test_noheader_generic_names(sr, fixdir):
    path = f"{fixdir}/noheader.xlsx"
    rows = [["a", 1.5, True, dt.date(2020, 1, 1)], ["b", 2.5, False, dt.date(2021, 2, 3)]] * 50
    write_xlsx(path, {"Sheet1": rows})
    df = _read(sr, path)
    assert df.columns == ["String0", "Numeric1", "Boolean2", "Date3"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "double", "boolean", "date"]
    got = df.collect()
    assert len(got) == 100
    assert got[0][3] == dt.date(2020, 1, 1)


# -- S6: has_header forced on all-string data (no auto-detect possible) --
def test_header_forced(sr, fixdir):
    path = f"{fixdir}/header_forced.xlsx"
    write_xlsx(path, {"Sheet1": [["a", "b"]] + [["x", "y"]] * 50})
    df_forced = _read(sr, path, has_header=True)
    assert df_forced.columns == ["a", "b"]
    assert df_forced.count() == 50
    # without the flag no header is detected (row 2 is all-string too)
    df_plain = _read(sr, path)
    assert df_plain.columns == ["String0", "String1"]
    assert df_plain.count() == 51


def test_has_header_on_non_string_row_errors(sr, fixdir):
    path = f"{fixdir}/badheader.xlsx"
    write_xlsx(path, {"Sheet1": [[1.0, "x"], [2.0, "y"]]})
    with pytest.raises(Exception, match="has_header"):
        _read(sr, path, has_header=True).collect()


# -- S12: date truncation (int)(secs/86400), incl. datetime with time part --
def test_types_and_dates(sr, fixdir):
    path = f"{fixdir}/types_mixed.xlsx"
    rows = [["id", "name", "active", "joined"]]
    for i in range(100):
        rows.append([float(i), f"n{i}", i % 2 == 0, dt.datetime(2020, 1, 1, 13, 30) + dt.timedelta(days=i)])
    write_xlsx(path, {"Sheet1": rows})
    df = _read(sr, path)
    assert df.columns == ["id", "name", "active", "joined"]
    got = df.orderBy("id").collect()
    assert got[0]["joined"] == dt.date(2020, 1, 1)  # time-of-day truncated
    assert got[99]["joined"] == dt.date(2020, 1, 1) + dt.timedelta(days=99)


# -- S11: absent cells → NULL --
def test_sparse_nulls(sr, fixdir):
    path = f"{fixdir}/sparse.xlsx"
    rows = [[1.0, "x", 2.0], [3.0, "y", 4.0], [None, "z", None], [5.0, None, 6.0]]
    write_xlsx(path, {"Sheet1": rows})
    df = _read(sr, path)
    got = [tuple(r) for r in df.collect()]
    assert got == [(1.0, "x", 2.0), (3.0, "y", 4.0), (None, "z", None), (5.0, None, 6.0)]


# -- S11 / SURVEY §1.4.3: type-mismatch → silent NULL, not error --
def test_dirty_types_silent_null(sr, fixdir):
    path = f"{fixdir}/dirty_types.xlsx"
    rows = [[1.0, "a"], [2.0, "b"], ["oops", "c"], [4.0, 9.9]]
    write_xlsx(path, {"Sheet1": rows})
    df = _read(sr, path)
    got = [tuple(r) for r in df.collect()]
    assert got == [(1.0, "a"), (2.0, "b"), (None, "c"), (4.0, None)]


# -- S15: ragged row (wider than row 1) → error --
def test_ragged_row_error(sr, fixdir):
    path = f"{fixdir}/ragged.xlsx"
    rows = [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0, 7.0]]
    write_xlsx(path, {"Sheet1": rows})
    with pytest.raises(Exception, match="more columns than"):
        _read(sr, path).collect()


# -- S5: skip_rows before header detection --
def test_skip_rows(sr, fixdir):
    path = f"{fixdir}/skiprows.xlsx"
    junk = [["junk", 1.0], ["junk", 2.0], ["junk", 3.0]]
    data = [["k", "v"]] + [[f"k{i}", float(i)] for i in range(100)]
    write_xlsx(path, {"Sheet1": junk + data})
    df = _read(sr, path, skip_rows=3)
    assert df.columns == ["k", "v"]
    assert df.count() == 100


# -- S2/S3: sheet_index / sheet_name selection + error paths --
def test_multisheet(sr, fixdir):
    path = f"{fixdir}/multisheet.xlsx"
    write_xlsx(
        path,
        {
            "Alpha": [["k", "v"]] + [[float(i), f"v{i}"] for i in range(10)],
            "Beta": [["v", "k"]] + [[f"v{i}", float(i)] for i in range(10)],
            "Empty": [],
        },
    )
    df_a = _read(sr, path, sheet_index=1)
    assert df_a.columns == ["k", "v"]
    df_b = _read(sr, path, sheet_name="Beta")
    assert df_b.columns == ["v", "k"]
    assert df_b.count() == 10
    with pytest.raises(Exception, match="at the same time"):
        _read(sr, path, sheet_index=1, sheet_name="Beta").schema
    with pytest.raises(Exception, match="empty"):
        _read(sr, path, sheet_name="Empty").collect()
    with pytest.raises(Exception, match="not found"):
        _read(sr, path, sheet_name="Gamma").collect()


# -- S9: coerce_to_string fixed formats (cpp:200-216) --
def test_coerce_to_string(sr, fixdir):
    path = f"{fixdir}/coerce.xlsx"
    rows = [[1.5, True, dt.date(2021, 7, 4), "s"], [2.25, False, dt.date(1999, 12, 31), "t"]]
    write_xlsx(path, {"Sheet1": rows})
    df = _read(sr, path, types="VARCHAR,VARCHAR,VARCHAR,VARCHAR", coerce_to_string=True)
    got = [tuple(r) for r in df.collect()]
    assert got == [
        ("1.500000", "TRUE", "2021-07-04", "s"),
        ("2.250000", "FALSE", "1999-12-31", "t"),
    ]


# -- S8: user types, appended "Column N", force_types, compat errors --
def test_user_types(sr, fixdir):
    path = f"{fixdir}/usertypes.xlsx"
    write_xlsx(path, {"Sheet1": [["a", 1.0], ["b", 2.0], ["c", 3.0]]})
    df = _read(sr, path, types="VARCHAR,DOUBLE,DOUBLE")
    assert df.columns == ["String0", "Numeric1", "Column 2"]
    got = [tuple(r) for r in df.collect()]
    assert got == [("a", 1.0, None), ("b", 2.0, None), ("c", 3.0, None)]
    with pytest.raises(Exception, match="not compatible"):
        _read(sr, path, types="DOUBLE,DOUBLE").schema
    df_forced = _read(sr, path, types="DOUBLE,DOUBLE", force_types=True)
    got = [tuple(r) for r in df_forced.collect()]
    assert got == [(None, 1.0), (None, 2.0), (None, 3.0)]  # mismatches → NULL
    with pytest.raises(Exception, match="less than number of columns"):
        _read(sr, path, types="VARCHAR").schema


# -- two-row probe requirement (cpp:803-810) --
def test_single_row_errors(sr, fixdir):
    path = f"{fixdir}/onerow.xlsx"
    write_xlsx(path, {"Sheet1": [[1.0, "x"]]})
    with pytest.raises(Exception, match="two rows"):
        _read(sr, path).collect()


# -- beyond-reference: multi-file glob → one partition per file --
def test_multifile_glob(sr, fixdir):
    for i in range(3):
        write_xlsx(f"{fixdir}/glob_part{i}.xlsx", {"Sheet1": [["k", "v"]] + [[float(i * 10 + j), "x"] for j in range(5)]})
    df = _read(sr, f"{fixdir}/glob_part*.xlsx")
    assert df.count() == 15
    # Small files are packed into at most one partition per core; three
    # files on four cores keep one partition each.
    assert df.rdd.getNumPartitions() == 3


# -- round-trip: write lineitem columns to xlsx, read back, compare exactly --
def test_roundtrip_lineitem(sr, fixdir, sf_dir):
    import duckdb

    src = duckdb.sql(
        f"SELECT l_returnflag, l_quantity, l_extendedprice FROM '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    path = f"{fixdir}/lineitem_rt.xlsx"
    write_xlsx(path, {"Sheet1": [["l_returnflag", "l_quantity", "l_extendedprice"]] + [list(r) for r in src]})
    df = _read(sr, path)
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(src)  # doubles round-trip bit-exact via repr()


# -- S4/S14: sharded (partition-parallel) parse parity ----------------------
def test_sharded_parse_parity(sr, fixdir):
    """Explicit threads=N splits one file into N shard partitions; results
    must equal the serial read exactly, including skip_rows/header ordinal
    accounting and NULL cells spanning shard boundaries."""
    rows = [["junk"], ["name", "score", "when"]]
    for i in range(500):
        rows.append(
            [
                f"u{i}" if i % 7 != 3 else None,
                float(i) * 1.25 if i % 5 != 4 else None,
                dt.date(2020, 1, 1) + dt.timedelta(days=i % 90) if i % 3 != 2 else None,
            ]
        )
    path = f"{fixdir}/sharded.xlsx"
    write_xlsx(path, {"S": rows})

    serial = _read(sr, path, skip_rows=1, has_header=True, threads=1).collect()
    for n in (2, 3, 5):
        sharded = _read(sr, path, skip_rows=1, has_header=True, threads=n).collect()
        assert sorted(map(tuple, sharded), key=str) == sorted(map(tuple, serial), key=str)
    assert len(serial) == 500


def test_literal_path_with_glob_metacharacters(tmp_path):
    """r13: 'report[2024].xlsx' is a real filename. Glob semantics keep
    priority for the path option, but a pattern that matches NOTHING
    while naming an existing file falls back to the literal file —
    and a metachar DIRECTORY read escapes the directory part."""
    from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx
    from pyspark.sql.types import DoubleType, StructField, StructType

    d = tmp_path / "batch[7]"
    d.mkdir()
    p = str(d / "report[2024].xlsx")
    write_xlsx(p, {"S": [["a"]] + [[float(i)] for i in range(50)]})

    schema = StructType([StructField("a", DoubleType())])

    def read_all(path):
        reader = DS.SheetReaderReader({"path": path, "threads": "1"}, schema)
        rows = []
        for part in reader.partitions():
            for b in reader.read(part):
                rows.extend(b.column(0).to_pylist())
        return rows

    assert len(read_all(p)) == 50          # literal file, metachars in both parts
    assert len(read_all(str(d))) == 50     # metachar directory read
