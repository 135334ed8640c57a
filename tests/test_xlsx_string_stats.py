"""VARCHAR interval stats + string pruning (VERDICT r12 task 1 — the
parquet truncated-min/max pattern for XLSX string columns).

The stats author records truncated (lo, hi) bounds per interval over the
RESOLVED shared-string values (``sv`` section); a read with pushed string
filters (EqualTo / In / range / StartsWith) skips intervals the bounds
prove empty BEFORE inflating a byte. Pinned here: bound authoring honesty
(lo <= min, hi >= max, 16-byte truncation with the over-keep-only rule),
pruning correctness bit-equal to the unpruned scan with the interval-walk
spy, truncation over-keep on shared-prefix corpora, unicode boundaries,
mixed-type columns, coerce-mode exclusion, untrusted-sv validation, and
the sink's write-time authoring.
"""

from __future__ import annotations

import json
import shutil
import zipfile

import pytest

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
from sheetreader_duckdb_spark.sources.xlsx.splitindex import (
    increment_str,
    truncated_string_bounds,
    utf8_char_prefix,
)
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 120_000
SHEET = "xl/worksheets/sheet1.xml"


def _foreignize(src: str, dst: str) -> str:
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    return dst


@pytest.fixture(scope="module")
def strstats_xlsx(tmp_path_factory):
    """Retrofit-indexed foreign file with string columns of three shapes:
    ``key``  — zero-padded ascending (prunable, the id-column shape);
    ``longk``— 30-char strings whose FIRST 16 bytes discriminate
               (pruning must survive truncation);
    ``pfx``  — 'δ' multi-byte unicode + shared 20-char prefix + suffix
               (truncated bounds collapse to the prefix: over-keep only);
    plus a numeric ``num`` so numeric and string pruning coexist."""
    d = tmp_path_factory.mktemp("svstats")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["key", "longk", "pfx", "num"])
    for i in range(N):
        w.write_row(
            [
                f"k{i:07d}",
                f"{i:07d}-" + "z" * 22,
                "δsharedprefix0000" + f"{i % 7}",
                float(i),
            ]
        )
    w.close()
    p = _foreignize(src, str(d / "foreign.xlsx"))
    out = index_xlsx(p)
    assert out["indexed"] and out["worksheet_points"] >= 2
    return p


SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("longk", StringType()),
        StructField("pfx", StringType()),
        StructField("num", DoubleType()),
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


def test_bound_helpers():
    assert utf8_char_prefix("abcdef", 3) == "abc"
    assert utf8_char_prefix("ααα", 5) == "αα"  # 2-byte chars, boundary safe
    assert increment_str("abc") == "abd"
    assert increment_str("ab" + chr(0x10FFFF)) == "ac"
    assert increment_str(chr(0x10FFFF)) is None
    # exact when short
    assert truncated_string_bounds("a", "zz") == ("a", "zz")
    lo, hi = truncated_string_bounds("a" * 40, "b" * 40)
    assert len(lo.encode()) <= SI.STR_STAT_BYTES
    assert lo <= "a" * 40 and hi >= "b" * 40
    # multi-byte max at the truncation edge still yields a valid bound
    mx = "δ" * 20
    lo2, hi2 = truncated_string_bounds("a", mx)
    assert hi2 >= mx and lo2 == "a"
    assert truncated_string_bounds("a", chr(0x10FFFF) * 20) is None


def test_sv_present_ordered_and_truncated(strstats_xlsx):
    with zipfile.ZipFile(strstats_xlsx) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        secs = SI.decode_interval_sections(zf, SHEET, pts)
    sv, st = secs.get("sv"), secs.get("st")
    assert sv is not None and "A" in sv and "B" in sv and "C" in sv
    assert st is not None and "D" in st  # numeric claims coexist
    assert len(sv["A"]) == len(pts)
    # key ascending: interval bounds are ordered and disjoint past the
    # header interval (interval 0's bounds include the header string
    # "key", which sorts above every data key — honestly so: the header
    # is a file row, and interval 0 is never pruned anyway); every
    # stored bound obeys the 16-byte truncation
    prev_hi = ""
    for j, rng in enumerate(sv["A"]):
        assert rng is not None
        lo, hi = rng
        assert len(lo.encode("utf-8", "surrogatepass")) <= SI.STR_STAT_BYTES
        if j >= 2:
            assert prev_hi < lo <= hi
        if j >= 1:
            prev_hi = hi
    assert sv["A"][-1][1] == f"k{N - 1:07d}"  # short values: exact max
    # longk: 30-char values truncate; stored bounds stay within budget
    for j, rng in enumerate(sv["B"]):
        lo, hi = rng
        assert len(lo.encode("utf-8", "surrogatepass")) <= SI.STR_STAT_BYTES
        assert len(hi.encode("utf-8", "surrogatepass")) <= SI.STR_STAT_BYTES


def test_string_pruned_reads_bit_equal_and_actually_skip(
    strstats_xlsx, monkeypatch
):
    mk = f"k{N - 500:07d}"
    lk = f"{N - 500:07d}-" + "z" * 22
    cases = [
        ([EqualTo(("key",), mk)], lambda r: r[0] == mk),
        ([In(("key",), ("k0000005", mk))], lambda r: r[0] in ("k0000005", mk)),
        ([GreaterThan(("key",), f"k{N - 900:07d}")],
         lambda r: r[0] is not None and r[0] > f"k{N - 900:07d}"),
        ([GreaterThanOrEqual(("key",), f"k{N - 900:07d}")],
         lambda r: r[0] is not None and r[0] >= f"k{N - 900:07d}"),
        ([LessThan(("key",), "k0000800")],
         lambda r: r[0] is not None and r[0] < "k0000800"),
        ([LessThanOrEqual(("key",), "k0000799")],
         lambda r: r[0] is not None and r[0] <= "k0000799"),
        ([StringStartsWith(("key",), "k0000")],
         lambda r: r[0] is not None and r[0].startswith("k0000")),
        # truncation-surviving pruning on the long column
        ([EqualTo(("longk",), lk)], lambda r: r[1] == lk),
        # conjunction across a string and a numeric filter
        ([GreaterThan(("key",), f"k{N - 900:07d}"),
          LessThan(("num",), float(N - 700))],
         lambda r: r[0] > f"k{N - 900:07d}" and r[3] < N - 700),
    ]
    unfiltered = _collect(strstats_xlsx, [])
    assert len(unfiltered) == N
    for filters, pred in cases:
        spy = _Spy(monkeypatch)
        got = sorted(_collect(strstats_xlsx, filters), key=str)
        want = sorted((r for r in unfiltered if pred(r)), key=str)
        assert got == want, filters
        assert len(want) > 0, ("vacuous case", filters)
        assert spy.skipped > spy.materialized, (filters, vars(spy))


def test_shared_prefix_column_over_keeps_never_over_skips(strstats_xlsx):
    """pfx values share 20 chars: truncated bounds collapse to one
    16-byte prefix per interval, so NOTHING prunes — but results must
    stay exact (the over-keep-only rule)."""
    got = _collect(strstats_xlsx, [EqualTo(("pfx",), "δsharedprefix00003")])
    assert len(got) == sum(1 for i in range(N) if i % 7 == 3)
    assert all(r[2] == "δsharedprefix00003" for r in got)


def test_row_path_prunes_strings_too(strstats_xlsx, monkeypatch):
    want = sorted(
        _collect(strstats_xlsx, [LessThan(("key",), "k0000500")]), key=str
    )
    spy = _Spy(monkeypatch)
    got = sorted(
        _collect(
            strstats_xlsx,
            [LessThan(("key",), "k0000500")],
            threads=3,
            inline_strings="true",
        ),
        key=str,
    )
    assert got == want
    assert spy.skipped > spy.materialized, vars(spy)


def test_coerce_reads_never_prune(strstats_xlsx, monkeypatch):
    """coerce_to_string maps numerics into STRINGS the sv bounds don't
    cover — pruning is excluded wholesale there (r12): a string equality
    matching a COERCED numeric must return its rows."""
    schema = StructType([StructField(c, StringType()) for c in
                         ("key", "longk", "pfx", "num")])
    spy0 = _Spy(monkeypatch)
    base = _collect(strstats_xlsx, [], schema=schema, coerce_to_string="true")
    assert len(base) == N
    # snapshot BEFORE the second spy chains onto the first
    before_mat, before_skip = spy0.materialized, spy0.skipped
    spy = _Spy(monkeypatch)
    got = _collect(
        strstats_xlsx,
        [EqualTo(("num",), f"{N - 3}.000000")],
        schema=schema,
        coerce_to_string="true",
    )
    assert [r[3] for r in got] == [f"{N - 3}.000000"]
    # same materialized interval count as the unfiltered coerce read:
    # shard-unassigned skips remain, PRUNING skips must not appear
    assert spy.materialized == before_mat
    assert spy.skipped == before_skip


def test_garbage_sv_ignored_independently_of_st(strstats_xlsx, tmp_path):
    p = str(tmp_path / "garbled.xlsx")
    shutil.copy(strstats_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
    base = sorted(
        _collect(strstats_xlsx, [LessThan(("key",), "k0000800")]), key=str
    )
    n_pairs = len(payload["c"]) + 1
    for bad_sv in (
        {"A": ["x"]},                              # wrong length
        {"A": ["z", "a"] * n_pairs},               # lo > hi
        {"A": [1.0, 2.0] * n_pairs},               # non-string
        {"A": ["a", None] * n_pairs},              # half-null pair
        {"A": ["a", "b" * 40] * n_pairs},          # oversized bound
        "not-a-dict",
    ):
        payload2 = dict(payload)
        payload2["sv"] = bad_sv
        with zipfile.ZipFile(p, "a") as zf:
            zf.comment = SI.MAGIC + json.dumps(payload2).encode()
        with zipfile.ZipFile(p) as zf:
            pts = SI.decode_split_index(zf, SHEET)
            secs = SI.decode_interval_sections(zf, SHEET, pts)
        assert secs.get("sv") is None
        # numeric section survives sv garbage untouched
        assert secs.get("st") is not None
        got = sorted(_collect(p, [LessThan(("key",), "k0000800")]), key=str)
        assert got == base


def test_prune_aware_partition_planning_strings(strstats_xlsx):
    """A selective staged STRING filter caps the auto fan-out at the
    surviving interval count, like the numeric path (r11/r12)."""
    reader = DS.SheetReaderReader(
        {"path": strstats_xlsx, "filter_pushdown": "true", "max_shards": "64"},
        SCHEMA,
    )
    wide = reader.partitions()
    remaining = reader.pushFilters([EqualTo(("key",), f"k{N - 500:07d}")])
    assert remaining == []
    narrow = reader.partitions()
    if len(wide) > 4:
        assert len(narrow) < len(wide), (len(narrow), len(wide))
    rows = []
    for part in narrow:
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    assert [r[0] for r in rows] == [f"k{N - 500:07d}"]


def test_sink_authors_string_stats(spark, tmp_path):
    """The sink's opt-in index_stats authors sv at write time: read-back
    with a pushed string filter prunes with no retrofit pass."""
    import glob

    from pyspark.sql import functions as F

    from sheetreader_duckdb_spark import read_xlsx, register

    register(spark)
    out = str(tmp_path / "sink_sv")
    (
        spark.range(150_000)
        .select(
            F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("uid"),
            (F.col("id") * 2).cast("double").alias("v"),
        )
        .repartition(1)
        .write.format("sheetreader")
        .option("index_stats", "true")
        .mode("overwrite")
        .save(out)
    )
    part = glob.glob(out + "/*.xlsx")[0]
    with zipfile.ZipFile(part) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        sv = SI.decode_interval_sections(zf, SHEET, pts).get("sv")
    assert sv is not None and "A" in sv
    df = read_xlsx(spark, part, where="uid = 'u00149000'")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["v"] == 298_000.0


def test_stride_coarsened_stats_read_exact_and_still_prune(
    strstats_xlsx, tmp_path, monkeypatch
):
    """Stride-coarsened stats (`q` key, r12): rewrite the fixture's
    comment with honestly 4:1-coarsened arrays; filtered reads stay
    bit-equal AND still skip intervals (at coarser granularity), and a
    forged stride drops the sections instead of being trusted."""
    import json
    import shutil

    from sheetreader_duckdb_spark.sources.xlsx.splitindex import (
        coarsen_stat_pairs,
    )

    p = str(tmp_path / "strided.xlsx")
    shutil.copy(strstats_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
    q = 4
    payload2 = dict(payload)
    for key in ("st", "sv"):
        if key in payload2:
            arrs = payload2[key]
            for _ in range(2):  # 2 doublings = stride 4
                arrs = {k: coarsen_stat_pairs(v) for k, v in arrs.items()}
            payload2[key] = arrs
    payload2["q"] = q
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.MAGIC + json.dumps(payload2).encode()

    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        secs = SI.decode_interval_sections(zf, SHEET, pts)
    sv, st = secs.get("sv"), secs.get("st")
    assert sv is not None and len(sv["A"]) == len(pts)  # re-expanded
    assert st is not None and len(st["D"]) == len(pts)

    base = sorted(
        _collect(strstats_xlsx, [EqualTo(("key",), f"k{N - 500:07d}")]),
        key=str,
    )
    spy = _Spy(monkeypatch)
    got = sorted(
        _collect(p, [EqualTo(("key",), f"k{N - 500:07d}")]), key=str
    )
    assert got == base
    assert spy.skipped > 0, vars(spy)  # coarser, but still pruning

    # forged strides are structural garbage: sections drop, reads exact
    for bad_q in (0, -2, "4", True, 9999):
        payload3 = dict(payload2)
        payload3["q"] = bad_q
        with zipfile.ZipFile(p, "a") as zf:
            zf.comment = SI.MAGIC + json.dumps(payload3).encode()
        with zipfile.ZipFile(p) as zf:
            pts = SI.decode_split_index(zf, SHEET)
            secs = SI.decode_interval_sections(zf, SHEET, pts)
        assert secs.get("sv") is None and secs.get("st") is None, bad_q
        got = sorted(
            _collect(p, [EqualTo(("key",), f"k{N - 500:07d}")]), key=str
        )
        assert got == base, bad_q
