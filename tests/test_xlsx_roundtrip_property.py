"""Property-based writer→reader round-trip (hypothesis): any table of
supported cell values written by our XLSX writer reads back exactly through
the data source — strings via the shared-strings heap, doubles via repr
round-trip, dates in both date systems, NULLs as absent cells."""

from __future__ import annotations

import datetime as dt

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from sheetreader_duckdb_spark.sources.xlsx import parser as P
from sheetreader_duckdb_spark.sources.xlsx.datasource import (
    SheetReaderReader,
    _Options,
)
from sheetreader_duckdb_spark.sources.xlsx.inference import infer_schema
from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

# Excel stores all numbers as doubles; exact round-trip holds for any finite
# double (repr shortest form). Strings: ANY text (surrogates excluded) —
# control characters and CR travel via SpreadsheetML _xHHHH_ escaping
# (ECMA-376 ST_Xstring), literal _xHHHH_ via _x005F_ escaping.
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),
    min_size=0,
    max_size=40,
)

_cell = {
    "VARCHAR": _text,
    "DOUBLE": st.floats(allow_nan=False, allow_infinity=False, width=64),
    "BOOLEAN": st.booleans(),
    "DATE": st.dates(min_value=dt.date(1905, 1, 1), max_value=dt.date(2200, 1, 1)),
}


def _read_all(path: str):
    """Drive the batch reader directly (no Spark session needed): schema
    inference + every partition's Arrow batches."""
    opts = {"path": path, "has_header": "true"}
    o = _Options.from_options(opts)
    with P.XlsxWorkbook(path) as wb:
        sheet = wb.resolve_sheet(None, None)
        schema = infer_schema(wb, sheet, has_header=True)
    sql_to_spark = {
        "VARCHAR": StringType(),
        "DOUBLE": DoubleType(),
        "BOOLEAN": BooleanType(),
        "DATE": DateType(),
    }
    struct = StructType(
        [StructField(n, sql_to_spark[t], True) for n, t in zip(schema.names, schema.types)]
    )
    reader = SheetReaderReader(opts, struct)
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(batch.to_pylist())
    return schema, rows


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    col_types=st.lists(
        st.sampled_from(list(_cell)), min_size=1, max_size=5
    ),
    n_rows=st.integers(min_value=2, max_value=30),
    date1904=st.booleans(),
    data=st.data(),
)
def test_roundtrip_property(tmp_path_factory, col_types, n_rows, date1904, data):
    header = [f"c{i}" for i in range(len(col_types))]
    rows = []
    for r in range(n_rows):
        row = []
        for i, t in enumerate(col_types):
            # First data row defines the schema — keep it fully non-null;
            # later rows may hold NULLs (absent cells).
            if r > 0 and data.draw(st.booleans(), label=f"null_{r}_{i}"):
                row.append(None)
            else:
                row.append(data.draw(_cell[t], label=f"v_{r}_{i}"))
        rows.append(row)
    path = str(tmp_path_factory.mktemp("prop") / "t.xlsx")
    write_xlsx(path, {"S": [header] + rows}, date1904=date1904)
    schema, got = _read_all(path)
    assert schema.names == header
    assert len(got) == n_rows
    for want_row, got_row in zip(rows, got):
        for name, want in zip(header, want_row):
            assert got_row[name] == want


def _read_all_opts(path: str, **extra):
    """_read_all with arbitrary reader options (threads, coerce, types)."""
    opts = {"path": path, "has_header": "true", **extra}
    o = _Options.from_options(opts)
    if "types" in extra:
        names_src, types = None, [t.strip() for t in extra["types"].split(",")]
    else:
        types = None
    with P.XlsxWorkbook(path) as wb:
        sheet = wb.resolve_sheet(None, None)
        schema = infer_schema(
            wb, sheet, has_header=True, user_types=types,
            coerce_to_string=bool(extra.get("coerce_to_string")),
        )
    sql_to_spark = {
        "VARCHAR": StringType(),
        "DOUBLE": DoubleType(),
        "BOOLEAN": BooleanType(),
        "DATE": DateType(),
    }
    struct = StructType(
        [StructField(n, sql_to_spark[t], True) for n, t in zip(schema.names, schema.types)]
    )
    reader = SheetReaderReader(opts, struct)
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(batch.to_pylist())
    return schema, rows


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    col_types=st.lists(
        st.sampled_from(list(_cell)), min_size=1, max_size=4
    ),
    n_rows=st.integers(min_value=2, max_value=40),
    date1904=st.booleans(),
    data=st.data(),
)
def test_sharded_and_coerce_roundtrip_property(
    tmp_path_factory, col_types, n_rows, date1904, data
):
    """r9 sharded row/columnar paths: a threads=3 read and a sharded
    coerce_to_string read return exactly the single-stream results on any
    writer-generated table (chunk accounting, lazy heap + memo, bulk
    Arrow decode, coercion formats)."""
    header = [f"c{i}" for i in range(len(col_types))]
    rows = []
    for r in range(n_rows):
        row = []
        for i, t in enumerate(col_types):
            if r > 0 and data.draw(st.booleans(), label=f"null_{r}_{i}"):
                row.append(None)
            else:
                row.append(data.draw(_cell[t], label=f"v_{r}_{i}"))
        rows.append(row)
    path = str(tmp_path_factory.mktemp("prop") / "t.xlsx")
    write_xlsx(path, {"S": [header] + rows}, date1904=date1904)
    _, single = _read_all(path)
    _, sharded = _read_all_opts(path, threads="3")
    assert sharded == single
    # coerce: every column VARCHAR, fixed-6 / TRUE-FALSE / ISO formats
    vtypes = ",".join(["VARCHAR"] * len(col_types))
    _, c1 = _read_all_opts(path, types=vtypes, coerce_to_string="true")
    _, c3 = _read_all_opts(
        path, types=vtypes, coerce_to_string="true", threads="3"
    )
    assert c1 == c3
    def coerced(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, dt.date):
            return v.isoformat()
        return v
    for want_row, got_row in zip(rows, c1):
        for name, want in zip(header, want_row):
            assert got_row[name] == coerced(want)


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    col_types=st.lists(st.sampled_from(list(_cell)), min_size=1, max_size=3),
    n_rows=st.integers(min_value=8, max_value=60),
    data=st.data(),
)
def test_split_index_roundtrip_property(tmp_path_factory, col_types, n_rows, data):
    """Split-index machinery under a TINY interval (hypothesis): every
    few hundred bytes a flush point lands at a row/entry boundary, so a
    small random table produces MANY intervals over hostile content
    (control chars, _xHHHH_ escapes, newlines, NULL cells). The sharded
    read must equal the unsharded one exactly — this exercises the
    writer's boundary/count bookkeeping, the reader's per-interval
    checks, and the interval heap's grouping at densities the 4 MB
    production interval never reaches in a unit test."""
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    header = [f"c{i}" for i in range(len(col_types))]
    rows = []
    for r in range(n_rows):
        row = []
        for i, t in enumerate(col_types):
            if r > 0 and data.draw(st.booleans(), label=f"null_{r}_{i}"):
                row.append(None)
            else:
                row.append(data.draw(_cell[t], label=f"v_{r}_{i}"))
        rows.append(row)
    path = str(tmp_path_factory.mktemp("split_prop") / "t.xlsx")
    # Inline patch (not the monkeypatch fixture: hypothesis runs many
    # examples per fixture setup); idempotent across examples.
    saved = W.SPLIT_INTERVAL
    W.SPLIT_INTERVAL = 256
    try:
        write_xlsx(path, {"S": [header] + rows}, date1904=False)
    finally:
        W.SPLIT_INTERVAL = saved

    import zipfile

    with zipfile.ZipFile(path) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        # tiny interval + ≥8 rows => the index MUST exist on every draw
        # (a None here means publication broke and the sweep would
        # silently degrade to two identical sequential reads; r10 review)
        assert pts is not None
        assert pts[-1][1] == n_rows + 1
    P._SST_LAZY_CACHE.clear()
    _, single = _read_all_opts(path, threads="1")
    P._SST_LAZY_CACHE.clear()
    _, sharded = _read_all_opts(path, threads="5")
    # Multiset equality: with many tiny intervals the shards genuinely
    # interleave, and partition order is not part of the reader contract.
    key = lambda d: repr(sorted(d.items()))  # noqa: E731
    assert sorted(sharded, key=key) == sorted(single, key=key)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    col_types=st.lists(st.sampled_from(list(_cell)), min_size=1, max_size=3),
    n_rows=st.integers(min_value=8, max_value=60),
    data=st.data(),
)
def test_retrofit_and_pruning_roundtrip_property(
    tmp_path_factory, col_types, n_rows, data
):
    """r11 retrofit + interval stats under a TINY interval (hypothesis):
    write a random hostile table, FOREIGNIZE it (plain recompression —
    single deflate streams, no comment), retrofit with stats, then pin
    (a) sharded == single == the pre-retrofit read, and (b) a random
    range filter on the first DOUBLE column returns exactly the
    Python-filtered rows through the pruned path."""
    import zipfile

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
    from sheetreader_duckdb_spark.sources.xlsx import writer as W
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    header = [f"c{i}" for i in range(len(col_types))]
    rows = []
    for r in range(n_rows):
        row = []
        for i, t in enumerate(col_types):
            if r > 0 and data.draw(st.booleans(), label=f"null_{r}_{i}"):
                row.append(None)
            else:
                row.append(data.draw(_cell[t], label=f"v_{r}_{i}"))
        rows.append(row)
    d = tmp_path_factory.mktemp("retro_prop")
    src = str(d / "s.xlsx")
    write_xlsx(src, {"S": [header] + rows}, date1904=False)
    path = str(d / "f.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        path, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))

    P._SST_LAZY_CACHE.clear()
    _, before = _read_all_opts(path, threads="1")

    saved = W.SPLIT_INTERVAL
    W.SPLIT_INTERVAL = 256
    try:
        out = index_xlsx(path)
    finally:
        W.SPLIT_INTERVAL = saved
    assert out["indexed"] and out["rows"] == n_rows + 1

    with zipfile.ZipFile(path) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        assert pts is not None and pts[-1][1] == n_rows + 1
        stats = SI.decode_interval_sections(zf, "xl/worksheets/sheet1.xml", pts).get("st")

    P._SST_LAZY_CACHE.clear()
    _, single = _read_all_opts(path, threads="1")
    P._SST_LAZY_CACHE.clear()
    _, sharded = _read_all_opts(path, threads="5")
    key = lambda dd: repr(sorted(dd.items(), key=str))  # noqa: E731
    assert sorted(single, key=key) == sorted(before, key=key)
    assert sorted(sharded, key=key) == sorted(before, key=key)

    # pruned range read on the first DOUBLE column (if any, and only when
    # stats were actually published for it)
    if "DOUBLE" not in col_types or stats is None:
        return
    ci = col_types.index("DOUBLE")
    letter = chr(ord("A") + ci)
    if letter not in stats:
        return
    lo = data.draw(_cell["DOUBLE"], label="flt_lo")
    hi = data.draw(_cell["DOUBLE"], label="flt_hi")
    if lo > hi:
        lo, hi = hi, lo
    from pyspark.sql.types import StructField as SF_, StructType as ST_

    sql_to_spark = {
        "VARCHAR": StringType(), "DOUBLE": DoubleType(),
        "BOOLEAN": BooleanType(), "DATE": DateType(),
    }
    schema = ST_([SF_(h, sql_to_spark[t]) for h, t in zip(header, col_types)])
    reader = SheetReaderReader({"path": path, "threads": "3"}, schema)
    got = []
    from sheetreader_duckdb_spark.sources.xlsx.datasource import _SheetPartition

    for s in range(3):
        part = _SheetPartition(
            (path,), shard=s, n_shards=3,
            filters=(
                GreaterThanOrEqual((header[ci],), lo),
                LessThanOrEqual((header[ci],), hi),
            ),
        )
        for batch in reader.read(part):
            got.extend(zip(*[c.to_pylist() for c in batch.columns]))
    name = header[ci]
    want = sorted(
        (r for r in before if r[name] is not None and lo <= r[name] <= hi),
        key=key,
    )
    got_dicts = sorted((dict(zip(header, g)) for g in got), key=key)
    assert [sorted(x.items(), key=str) for x in got_dicts] == [
        sorted(x.items(), key=str) for x in want
    ]
