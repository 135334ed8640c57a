"""Per-interval min/max statistics + interval pruning (VERDICT r11 task 2
— the parquet row-group-stats pattern for XLSX).

The retrofit indexer records per-interval numeric min/max per column in
the split index; a read with pushed filters skips intervals the stats
prove empty BEFORE inflating a byte. Pinned here: stats authoring honesty
(exact ranges, None on anything unparseable), pruning correctness on
numeric and date filters (results bit-equal to the unpruned scan, with
the interval-walk spy proving intervals were actually skipped), the
NULL/mismatch semantics, untrusted-stats validation, and the 64 KB
drop-largest-first publication discipline.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile

import pytest

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 120_000
BASE = dt.date(2020, 1, 1)
SHEET = "xl/worksheets/sheet1.xml"


def _foreignize(src: str, dst: str) -> str:
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    return dst


@pytest.fixture(scope="module")
def stats_xlsx(tmp_path_factory):
    """Retrofit-indexed foreign file: id ascending (prunable), name
    strings, a date column ascending one day per 1000 rows, and NULLs
    planted in id every 10_000th row."""
    d = tmp_path_factory.mktemp("ivstats")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["id", "name", "d"])
    for i in range(N):
        idv = None if i % 10_000 == 5_000 else float(i)
        w.write_row([idv, f"r{i}", BASE + dt.timedelta(days=i // 1000)])
    w.close()
    p = _foreignize(src, str(d / "foreign.xlsx"))
    out = index_xlsx(p)
    assert out["indexed"] and out["worksheet_points"] >= 2
    return p


SCHEMA = StructType(
    [
        StructField("id", DoubleType()),
        StructField("name", StringType()),
        StructField("d", DateType()),
    ]
)


class _Spy:
    """Wraps SI.iter_intervals; counts materialized vs skipped intervals."""

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


def _collect(path, filters, threads=4, schema=SCHEMA):
    reader = DS.SheetReaderReader({"path": path, "threads": str(threads)}, schema)
    rows = []
    for s in range(threads):
        part = DS._SheetPartition(
            (path,), shard=s, n_shards=threads, filters=tuple(filters)
        )
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def test_stats_present_and_exact(stats_xlsx):
    with zipfile.ZipFile(stats_xlsx) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        st = SI.decode_interval_sections(zf, SHEET, pts).get("st")
    assert st is not None and "A" in st and "C" in st
    assert "B" not in st  # string column: no numeric stats
    assert len(st["A"]) == len(pts)
    # id is ascending: interval ranges are disjoint and ordered, the
    # terminal interval tops out at exactly N-1
    prev_hi = -1.0
    for rng in st["A"]:
        assert rng is not None
        lo, hi = rng
        assert prev_hi < lo <= hi
        prev_hi = hi
    assert st["A"][-1][1] == float(N - 1)
    assert st["A"][0][0] == 0.0


def test_pruned_reads_bit_equal_and_actually_skip(stats_xlsx, monkeypatch):
    cases = [
        ([GreaterThan(("id",), float(N - 2000))], lambda r: r[0] is not None and r[0] > N - 2000),
        ([GreaterThanOrEqual(("id",), float(N - 2000))], lambda r: r[0] is not None and r[0] >= N - 2000),
        ([LessThan(("id",), 1000.0)], lambda r: r[0] is not None and r[0] < 1000),
        ([LessThanOrEqual(("id",), 999.0)], lambda r: r[0] is not None and r[0] <= 999),
        ([EqualTo(("id",), 77_777.0)], lambda r: r[0] == 77_777.0),
        ([In(("id",), (5.0, 99_999.0))], lambda r: r[0] in (5.0, 99_999.0)),
        ([EqualTo(("d",), BASE + dt.timedelta(days=100))],
         lambda r: r[2] == BASE + dt.timedelta(days=100)),
        ([GreaterThan(("d",), BASE + dt.timedelta(days=115))],
         lambda r: r[2] > BASE + dt.timedelta(days=115)),
        # conjunction: both filters must hold; either may prune
        ([GreaterThan(("id",), float(N - 2000)), LessThan(("id",), float(N - 1500))],
         lambda r: r[0] is not None and N - 2000 < r[0] < N - 1500),
    ]
    unfiltered = _collect(stats_xlsx, [])
    assert len(unfiltered) == N
    for filters, pred in cases:
        spy = _Spy(monkeypatch)
        got = sorted(_collect(stats_xlsx, filters), key=str)
        want = sorted((r for r in unfiltered if pred(r)), key=str)
        assert got == want, filters
        assert len(want) > 0, ("vacuous case", filters)
        # selective filters on an ascending column: most intervals skipped
        assert spy.skipped > spy.materialized, (filters, vars(spy))


def test_pruning_never_drops_null_or_edge_rows(stats_xlsx):
    # IsNull is not prunable — planted NULLs all come back
    got = _collect(stats_xlsx, [IsNull(("id",))])
    assert len(got) == N // 10_000
    # boundary equality at an interval edge: take an actual interval hi
    with zipfile.ZipFile(stats_xlsx) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        st = SI.decode_interval_sections(zf, SHEET, pts).get("st")
    edge = st["A"][0][1]
    got = _collect(stats_xlsx, [EqualTo(("id",), edge)])
    assert [r[0] for r in got] == [edge]


def test_unfiltered_and_unprunable_filters_do_not_engage_pruning(
    stats_xlsx, monkeypatch
):
    """Unfiltered reads never skip; a pushed filter with no stats support
    (StringContains — substrings admit no min/max reasoning) materializes
    every assigned interval. (String EqualTo/range DOES prune since r12 —
    pinned in test_xlsx_string_stats.py.)"""
    from pyspark.sql.datasource import StringContains

    spy = _Spy(monkeypatch)
    got = _collect(stats_xlsx, [], threads=2)
    assert len(got) == N
    assert spy.skipped + spy.materialized > 0  # sharded read used the index
    before = spy.materialized
    spy2 = _Spy(monkeypatch)
    got2 = _collect(stats_xlsx, [StringContains(("name",), "r5999")], threads=2)
    assert sorted(r[1] for r in got2) == sorted(
        f"r{i}" for i in range(N) if "r5999" in f"r{i}"
    )
    assert spy2.materialized == before


def test_garbage_stats_are_ignored_not_trusted(stats_xlsx, tmp_path):
    """Structurally invalid stats (wrong length, lo>hi, NaN) must drop to
    the unpruned scan — results identical, never an error."""
    import json
    import shutil

    p = str(tmp_path / "garbled.xlsx")
    shutil.copy(stats_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
    base = _collect(stats_xlsx, [LessThan(("id",), 1000.0)])
    for bad_st in (
        {"A": [0.0]},                      # wrong length
        {"A": [5.0, 1.0] * (len(payload["c"]) + 1)},   # lo > hi
        {"A": ["x", "y"] * (len(payload["c"]) + 1)},   # non-numeric
        "not-a-dict",
    ):
        payload2 = dict(payload)
        payload2["st"] = bad_st
        with zipfile.ZipFile(p, "a") as zf:
            zf.comment = SI.MAGIC + json.dumps(payload2).encode()
        with zipfile.ZipFile(p) as zf:
            pts = SI.decode_split_index(zf, SHEET)
            assert SI.decode_interval_sections(zf, SHEET, pts).get("st") is None
        assert _collect(p, [LessThan(("id",), 1000.0)]) == base


def test_lying_stats_cannot_hide_from_interval_zero_check(stats_xlsx, tmp_path):
    """Adversarially wrong stats DO lose rows by design (parquet trust
    model) — but the loud interval-0 count check still fires when the
    index as a whole is stale. Pin the trust boundary explicitly: wrong
    stats with a valid index silently prune (documented), wrong COUNTS
    fail loudly."""
    import json
    import shutil

    p = str(tmp_path / "lying_counts.xlsx")
    shutil.copy(stats_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
    payload["r"] = [r + 1 for r in payload["r"]]
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.MAGIC + json.dumps(payload).encode()
    with pytest.raises(ValueError, match="split-index row count mismatch"):
        _collect(p, [LessThan(("id",), 1000.0)])


def test_stats_overflow_coarsens_stride_before_dropping_columns(tmp_path):
    """A synthetic overflow: _publish_index keeps the index and DOUBLES
    the stats stride (one envelope per q intervals, r12) before it would
    amputate columns — the SF10 witness showed column-dropping silently
    killed all string pruning at 1038 points. Both columns must survive
    at q > 1, and the decoded stats must be the honest envelopes of the
    original per-interval claims."""
    import io
    import json

    from sheetreader_duckdb_spark.sources.xlsx.writer import _publish_index

    n_pts = 2000
    pts = [(100 * (i + 1), 10 * (i + 1)) for i in range(n_pts)]
    n_iv = n_pts + 1
    big = {c: [float(i) for i in range(2 * n_iv)] for c in ("A", "B")}
    sbig = {"D": [f"k{i:013d}" for i in range(2 * n_iv)]}
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x", b"")
        _publish_index(
            zf, SHEET, pts, 10 * n_pts, 10 * n_pts, None, 0, 0,
            sections={"st": big, "sv": sbig},
        )
        comment = zf.comment
    assert comment.startswith(SI.MAGIC)
    payload = json.loads(comment[len(SI.MAGIC):])
    assert payload["e"] == SHEET and len(payload["c"]) == n_pts
    assert payload.get("q", 1) > 1
    assert sorted(payload["st"]) == ["A", "B"]  # no column amputated
    assert sorted(payload["sv"]) == ["D"]
    q = payload["q"]
    assert len(payload["st"]["A"]) == 2 * ((n_iv + q - 1) // q)
    # published claims are the honest group envelopes of the originals
    # (the decode-side expansion is pinned end-to-end by the coarse-file
    # read tests in test_xlsx_string_stats.py)
    for j in range(len(payload["st"]["A"]) // 2):
        lo, hi = payload["st"]["A"][2 * j], payload["st"]["A"][2 * j + 1]
        group = [float(i) for i in range(2 * j * q, min(2 * (j * q + q), 2 * n_iv))]
        assert lo == min(group[k] for k in range(0, len(group), 2))
        assert hi == max(group[k] for k in range(1, len(group), 2))


def test_writer_files_without_stats_still_read(stats_xlsx, tmp_path):
    """Our own sink writes indexes WITHOUT stats (authoring lives in the
    indexer): filters on such files simply don't prune — same rows."""
    w = IncrementalXlsxWriter(str(tmp_path / "nosts.xlsx"), "Sheet1")
    w.write_row(["id", "name", "d"])
    for i in range(N // 2):
        w.write_row([float(i), f"r{i}", BASE])
    p = w.close()
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        assert pts is not None
        assert SI.decode_interval_sections(zf, SHEET, pts).get("st") is None
    got = _collect(p, [LessThan(("id",), 10.0)])
    assert sorted(r[0] for r in got) == [float(i) for i in range(10)]


def test_sink_index_stats_option(spark, tmp_path):
    """The sink's opt-in `index_stats` authors stats at write time —
    read-back with a pushed filter prunes without any retrofit pass;
    default writes stay statless."""
    from pyspark.sql import functions as F

    from sheetreader_duckdb_spark import register

    register(spark)
    out = str(tmp_path / "sink_stats")
    (
        spark.range(150_000)
        .select(
            F.col("id").cast("double").alias("id"),
            F.concat(F.lit("s"), F.col("id").cast("string"), F.lit("-" + "z" * 30)).alias("txt"),
        )
        .repartition(1)
        .write.format("sheetreader")
        .option("index_stats", "true")
        .mode("overwrite")
        .save(out)
    )
    import glob

    part = glob.glob(out + "/*.xlsx")[0]
    with zipfile.ZipFile(part) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        st = SI.decode_interval_sections(zf, SHEET, pts).get("st")
    assert st is not None and "A" in st
    schema = StructType(
        [StructField("id", DoubleType()), StructField("txt", StringType())]
    )
    got = _collect(part, [LessThan(("id",), 5.0)], schema=schema)
    assert sorted(r[0] for r in got) == [0.0, 1.0, 2.0, 3.0, 4.0]
    # read-back equality with and without the option
    from sheetreader_duckdb_spark import read_xlsx

    n = read_xlsx(spark, part, where="id >= 149000").count()
    assert n == 1000


def test_prune_aware_partition_planning(stats_xlsx):
    """A selective staged filter on a stats-indexed file caps the auto
    fan-out at the surviving interval count — a point lookup must not
    schedule a task per interval it will never inflate (r11)."""
    reader = DS.SheetReaderReader(
        {"path": stats_xlsx, "filter_pushdown": "true", "max_shards": "64"},
        SCHEMA,
    )
    # Force the auto branch past the n<=4 shortcut by checking the file
    # is big enough; then stage a highly selective filter.
    wide = reader.partitions()
    remaining = reader.pushFilters([EqualTo(("id",), 77_777.0)])
    assert remaining == []  # absorbed
    narrow = reader.partitions()
    if len(wide) > 4:  # fixture big enough for the probe branch
        assert len(narrow) < len(wide), (len(narrow), len(wide))
    # the narrow plan still returns exactly the matching rows
    rows = []
    for part in narrow:
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    assert [r[0] for r in rows] == [77_777.0]


def _padded_workbook(path: str) -> str:
    """A valid workbook past the 4-shard auto threshold: a small sheet
    plus a 6 MB stored member, so planning opens it and plans."""
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    write_xlsx(path, {"Sheet1": [["id"]] + [[float(i)] for i in range(50)]})
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("xl/media/pad.bin", bytes(6 << 20), zipfile.ZIP_STORED)
    return path


def test_planning_keeps_shards_for_corrupt_file_and_read_fails_loudly(
    tmp_path,
):
    p = str(tmp_path / "corrupt.xlsx")
    with open(p, "wb") as f:
        f.write(bytes(6 << 20))  # not a zip at all
    schema = StructType([StructField("id", DoubleType())])
    reader = DS.SheetReaderReader(
        {"path": p, "filter_pushdown": "true"}, schema
    )
    assert reader.pushFilters([EqualTo(("id",), 7.0)]) == []
    parts = reader.partitions()
    assert len(parts) > 1  # size-based plan, no silent single shard
    with pytest.raises(zipfile.BadZipFile):
        for _ in reader.read(parts[0]):
            pass


def test_planner_bug_is_not_swallowed(tmp_path, monkeypatch):
    p = _padded_workbook(str(tmp_path / "padded.xlsx"))
    schema = StructType([StructField("id", DoubleType())])
    reader = DS.SheetReaderReader(
        {"path": p, "filter_pushdown": "true"}, schema
    )
    assert reader.pushFilters([EqualTo(("id",), 7.0)]) == []
    assert len(reader.partitions()) > 4  # planning reaches the probe

    def boom(*a, **k):
        raise RuntimeError("planner bug")

    monkeypatch.setattr(DS, "_interval_skips", boom)
    assert reader.pushFilters([EqualTo(("id",), 7.0)]) == []
    with pytest.raises(RuntimeError, match="planner bug"):
        reader.partitions()


def test_row_count_served_from_index(stats_xlsx, monkeypatch):
    """row_count on an indexed file is O(1): the streaming counter must
    not run (the index terminal carries the same row-start count)."""
    import sheetreader_duckdb_spark.sources.xlsx.parser as P2

    def boom(self, sheet):
        raise AssertionError("count_rows streamed despite the index")

    monkeypatch.setattr(P2.XlsxWorkbook, "count_rows", boom)
    assert DS.row_count(stats_xlsx) == N  # header consumed by inference


def test_row_count_self_check_bug_is_not_swallowed(stats_xlsx, monkeypatch):
    """Only a stale or corrupt index (ValueError / OSError) falls back to
    the streaming count; any other error in the interval-0 self-check
    propagates."""

    def boom(*a, **k):
        raise RuntimeError("self-check bug")

    monkeypatch.setattr(SI, "iter_intervals", boom)
    with pytest.raises(RuntimeError, match="self-check bug"):
        DS.row_count(stats_xlsx)


def test_columns_pruning_composes_with_interval_pruning(spark, stats_xlsx):
    """`read_xlsx(columns=…, where=…)`: reader-side column pruning and
    stats-driven interval pruning on the SAME sharded read — including a
    column order that differs from the file's (the filter column maps by
    FILE position, not output slot)."""
    from sheetreader_duckdb_spark import read_xlsx, register

    register(spark)
    df = read_xlsx(
        spark, stats_xlsx, columns=["id", "d"], where="id >= 119000"
    )
    rows = sorted(r["id"] for r in df.collect())
    assert len(rows) == 1000 and rows[0] == 119_000.0 and rows[-1] == 119_999.0
    # reordered projection + filter on the (file-)third column
    df2 = read_xlsx(
        spark, stats_xlsx, columns=["d", "id"],
        where="d = DATE'2020-04-10'",
    )
    got = df2.collect()
    assert len(got) == 1000
    assert all(str(r["d"]) == "2020-04-10" for r in got)


def test_row_path_inline_strings_prunes_too(stats_xlsx, monkeypatch):
    """The inline-strings read prunes intervals like the default read
    (r11): a selective filter skips stats-proven-empty intervals there as
    well, results identical to the default read."""
    spy = _Spy(monkeypatch)
    want = sorted(_collect(stats_xlsx, [LessThan(("id",), 500.0)]), key=str)

    def collect_rowpath(filters, threads=3):
        reader = DS.SheetReaderReader(
            {
                "path": stats_xlsx, "threads": str(threads),
                "inline_strings": "true",
            },
            SCHEMA,
        )
        rows = []
        for s in range(threads):
            part = DS._SheetPartition(
                (stats_xlsx,), shard=s, n_shards=threads, filters=tuple(filters)
            )
            for batch in reader.read(part):
                rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
        return rows

    spy2 = _Spy(monkeypatch)
    got = sorted(collect_rowpath([LessThan(("id",), 500.0)]), key=str)
    assert got == want
    assert spy2.skipped > spy2.materialized, vars(spy2)
