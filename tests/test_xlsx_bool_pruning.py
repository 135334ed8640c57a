"""Boolean value pruning via the ``bt`` section (r15 — VERDICT r13
task 2 / r14 task 5): per-interval (n_true, n_false) counts over t="b"
cells let ``EqualTo``/``In`` on BOOLEAN columns skip intervals provably
empty of the requested value(s). Pinned here: authoring exactness,
bit-equal pruned reads with the interval-walk spy proving skips,
untrusted-section validation (forged counts drop the section, results
unchanged), stride coarsening soundness, and the sink author path.
"""

from __future__ import annotations

import zipfile

import pytest

from pyspark.sql.datasource import EqualTo, In, IsNotNull
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import (
    describe_index,
    index_xlsx,
)
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 120_000
SHEET = "xl/worksheets/sheet1.xml"

SCHEMA = StructType(
    [
        StructField("id", DoubleType()),
        StructField("flag", BooleanType()),
        StructField("name", StringType()),
    ]
)


def _foreignize(src: str, dst: str) -> str:
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    return dst


def _flag(i: int):
    """Block layout: NULL every 10_000th row, first half False, second
    half True — EqualTo(True) can prove the first half's intervals empty
    and vice versa."""
    if i % 10_000 == 5_000:
        return None
    return i >= N // 2


# Unicode-whitespace payload decoys (r15 review, CONFIRMED silent row
# loss): the reader trims UNICODE whitespace (pc.utf8_trim_whitespace)
# before the {"1","true","TRUE"} truth test, so these decorated payloads
# decode to the SAME values `_flag` assigns — but an ASCII-only author
# (the old bytes.strip()) counted the decorated Trues as false, published
# n_true=0 claims, and an EqualTo(True) pruned read silently dropped the
# rows. Injecting them into the shared fixture makes EVERY bit-equality
# test in this module a witness against that divergence.
_WS_TRUE_PAYLOADS = {  # rows in the True half (truth stays True)
    60_000: "\xa0true",      # NBSP (the review's repro)
    90_000: " true",    # LINE SEPARATOR
    119_999: "　TRUE",   # IDEOGRAPHIC SPACE
}
_WS_FALSE_PAYLOADS = {  # rows in the False half (truth stays False)
    10_000: "​true",    # ZERO WIDTH SPACE is NOT whitespace: no trim,
                             # no match → False (pins the no-over-trim side)
}


def _inject_ws_payloads(src: str) -> None:
    import os

    with zipfile.ZipFile(src) as zin:
        names = zin.namelist()
        blobs = {n: zin.read(n) for n in names}
    body = blobs[SHEET].decode("utf-8")
    for i, payload in {**_WS_TRUE_PAYLOADS, **_WS_FALSE_PAYLOADS}.items():
        ref = f"B{i + 2}"  # header row 1
        bit = "1" if _flag(i) else "0"
        old = f'<c r="{ref}" t="b"><v>{bit}</v></c>'
        new = f'<c r="{ref}" t="b"><v>{payload}</v></c>'
        assert old in body, ref
        body = body.replace(old, new, 1)
    blobs[SHEET] = body.encode("utf-8")
    tmp = src + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zout:
        for n in names:
            zout.writestr(n, blobs[n])
    os.replace(tmp, src)


@pytest.fixture(scope="module")
def bool_xlsx(tmp_path_factory):
    d = tmp_path_factory.mktemp("bvstats")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["id", "flag", "name"])
    for i in range(N):
        w.write_row([float(i), _flag(i), f"row-{i}"])
    w.close()
    _inject_ws_payloads(src)
    p = _foreignize(src, str(d / "foreign.xlsx"))
    out = index_xlsx(p)
    assert out["indexed"] and out["worksheet_points"] >= 2
    return p


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


def _collect(path, filters, threads=4, schema=SCHEMA):
    reader = DS.SheetReaderReader(
        {"path": path, "threads": str(threads)}, schema
    )
    rows = []
    for s in range(threads):
        part = DS._SheetPartition(
            (path,), shard=s, n_shards=threads, filters=tuple(filters)
        )
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def test_bt_section_present_and_exact(bool_xlsx):
    with zipfile.ZipFile(bool_xlsx) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        bv = SI.decode_interval_sections(zf, SHEET, pts).get("bt")
    assert bv is not None and "B" in bv
    assert "A" not in bv and "C" not in bv  # non-boolean columns
    assert len(bv["B"]) == len(pts)
    # exact totals across intervals (stride may replicate group values,
    # so sum unique groups: stride q means consecutive q entries repeat)
    with zipfile.ZipFile(bool_xlsx) as zf:
        payload = SI._payload(zf)
    q = (SI._section_for(payload, SHEET) or {}).get("q", 1)
    groups = [bv["B"][j] for j in range(0, len(pts), q)]
    n_true = sum(g[0] for g in groups if g is not None)
    n_false = sum(g[1] for g in groups if g is not None)
    want_true = sum(1 for i in range(N) if _flag(i) is True)
    want_false = sum(1 for i in range(N) if _flag(i) is False)
    assert (n_true, n_false) == (want_true, want_false)


def test_bool_pruned_reads_bit_equal_and_actually_skip(
    bool_xlsx, monkeypatch
):
    unfiltered = _collect(bool_xlsx, [])
    assert len(unfiltered) == N
    # The layout puts the False half in interval 0 (unskippable by
    # design: it carries the header) plus the mixed boundary interval,
    # so only the FALSE-side filters can prove skips here; the True-side
    # filters must prune NOTHING (an over-prune would be unsound) while
    # still returning exact rows.
    cases = [
        ([EqualTo(("flag",), True)], lambda r: r[1] is True, False),
        ([EqualTo(("flag",), False)], lambda r: r[1] is False, True),
        ([In(("flag",), (True,))], lambda r: r[1] is True, False),
        ([In(("flag",), (False,))], lambda r: r[1] is False, True),
    ]
    for filters, pred, expect_skip in cases:
        want = sorted((r for r in unfiltered if pred(r)), key=str)
        assert len(want) > 0
        # Skip evidence vs an UNFILTERED baseline at the same shard
        # count (r15 review: `skipped > 0` alone was vacuously true at
        # threads=4 — shard non-assignment also yields work=None; and
        # threads=1 bypasses the interval walk entirely). Pruning is
        # proven by the filtered walk MATERIALIZING strictly fewer
        # intervals than the baseline.
        base = _Spy(monkeypatch)
        assert len(_collect(bool_xlsx, [])) == N
        base_mat, base_skip = base.materialized, base.skipped
        assert base_mat > 0, vars(base)
        # snapshot: spies chain (each wraps the previous wrapper), so
        # `base` keeps counting during the filtered walk below
        spy = _Spy(monkeypatch)
        assert sorted(_collect(bool_xlsx, filters), key=str) == want, filters
        if expect_skip:
            # all-True intervals are provably empty of False: they skip
            assert spy.materialized < base_mat, (filters, vars(spy))
            assert spy.skipped > base_skip, (filters, vars(spy))
        else:
            # nothing is provably empty of True: exact same walk
            assert spy.materialized == base_mat, (filters, vars(spy))


def test_in_both_values_prunes_nothing_but_stays_correct(bool_xlsx):
    got = sorted(
        _collect(bool_xlsx, [In(("flag",), (True, False))]), key=str
    )
    want = sorted(
        (r for r in _collect(bool_xlsx, []) if r[1] is not None), key=str
    )
    assert got == want


def test_isnotnull_on_bool_still_prunes_via_nc_not_bt(bool_xlsx):
    # IsNotNull consults nc (family counts), not bt — nulls are planted
    # in every block so nothing skips, and every non-null row returns.
    got = _collect(bool_xlsx, [IsNotNull(("flag",))])
    assert len(got) == N - N // 10_000


def test_forged_bt_counts_are_dropped_not_trusted(bool_xlsx, tmp_path):
    import json
    import shutil

    p = str(tmp_path / "forged.xlsx")
    shutil.copy(bool_xlsx, p)
    with zipfile.ZipFile(p, "a") as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
        sec = payload if payload.get("e") == SHEET else payload["m"][SHEET]
        # counts exceeding the group's rows: provably forged
        sec["bt"] = {"B": [[10**9, 10**9]] * len(sec["bt"]["B"])}
        zf.comment = SI.MAGIC + json.dumps(
            payload, separators=(",", ":")
        ).encode("ascii")
    with zipfile.ZipFile(p) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        assert SI.decode_interval_sections(zf, SHEET, pts).get("bt") is None
    got = sorted(_collect(p, [EqualTo(("flag",), True)]), key=str)
    want = sorted(
        (r for r in _collect(bool_xlsx, []) if r[1] is True), key=str
    )
    assert got == want


def test_bt_coarsening_sums_groups():
    from sheetreader_duckdb_spark.sources.xlsx.splitindex import (
        coarsen_count_groups,
    )

    arr = [[3, 4], [1], None, [0, 2], [5, 5]]
    out = coarsen_count_groups(arr)
    # [3,4]+[1,0] = [4,4]; None absorbs; odd last carried
    assert out == [[4, 4], None, [5, 5]]


def test_planner_unit_bool_matrix():
    """_plan_interval_skips over a hand-built bt table: the zero-count
    test per requested value, interval 0 never skippable, None claims
    nothing, non-bool / NULL literals claim nothing."""
    ivbv = {
        "B": [
            (0, 10),   # interval 0: all false — still never skipped
            (0, 10),   # all false
            (10, 0),   # all true
            (4, 6),    # mixed
            None,      # no claim
            (0, 0),    # no boolean cells at all
        ]
    }
    names = ["id", "flag", "name"]

    def plan(f):
        return DS._plan_interval_skips([f], SCHEMA, names, {"bt": ivbv}, False)

    assert plan(EqualTo(("flag",), True)) == frozenset({1, 5})
    assert plan(EqualTo(("flag",), False)) == frozenset({2, 5})
    assert plan(In(("flag",), (True,))) == frozenset({1, 5})
    assert plan(In(("flag",), (True, False))) == frozenset({5})
    assert plan(EqualTo(("flag",), None)) == frozenset()
    assert plan(EqualTo(("flag",), 1)) == frozenset()
    assert plan(In(("flag",), ())) == frozenset()
    assert plan(In(("flag",), (True, None))) == frozenset()


def test_sink_author_writes_bt(spark, tmp_path):
    """The distributed sink's own stats author (index_stats=True) emits
    the bt section too, and the read-back prunes on it."""
    import glob

    from pyspark.sql import functions as F

    from sheetreader_duckdb_spark import register

    register(spark)
    out = str(tmp_path / "sink_bt")
    (
        spark.range(150_000)
        .select(
            F.col("id").cast("double").alias("id"),
            # block layout: first half false, second half true
            (F.col("id") >= 75_000).alias("flag"),
            F.concat(
                F.lit("s"), F.col("id").cast("string"), F.lit("-" + "z" * 30)
            ).alias("txt"),
        )
        .repartition(1)
        .write.format("sheetreader")
        .option("index_stats", "true")
        .mode("overwrite")
        .save(out)
    )
    part = glob.glob(out + "/*.xlsx")[0]
    rec = describe_index(part)
    sheet_rec = rec["sheets"][SHEET]
    assert sheet_rec.get("bool_stat_cols") == ["B"], sheet_rec
    schema = StructType(
        [
            StructField("id", DoubleType()),
            StructField("flag", BooleanType()),
            StructField("txt", StringType()),
        ]
    )
    got = _collect(part, [EqualTo(("flag",), True)], schema=schema)
    assert len(got) == 75_000 and all(r[1] is True for r in got)


def test_unicode_whitespace_booleans_survive_pruning(bool_xlsx):
    """The r15 review's confirmed repro, pinned: b-cells whose payload is
    Unicode-whitespace-decorated 'true'/'TRUE' decode True (the reader
    trims UNICODE whitespace), so the bt author must count them true — an
    ASCII-only author published n_true=0 for their intervals and the
    EqualTo(True) pruned read silently dropped the rows."""
    trues = _collect(bool_xlsx, [EqualTo(("flag",), True)])
    ids = {r[0] for r in trues}
    for i in _WS_TRUE_PAYLOADS:
        assert float(i) in ids, f"row {i} ({_WS_TRUE_PAYLOADS[i]!r}) pruned away"
    falses = _collect(bool_xlsx, [EqualTo(("flag",), False)])
    fids = {r[0] for r in falses}
    for i in _WS_FALSE_PAYLOADS:
        # ZERO WIDTH SPACE is not Unicode whitespace: no trim, no truth
        assert float(i) in fids, f"row {i} must decode False"
    assert not ids & fids


def test_sequential_fallback_decodes_booleans_identically(
    bool_xlsx, tmp_path
):
    """A stripped comment forces the un-indexed path; boolean decode
    (including the Unicode-whitespace payloads) must match the indexed
    read bit for bit — parser.py's byte fast path used ASCII-only
    bytes.strip() until r15."""
    import shutil

    p = str(tmp_path / "stripped.xlsx")
    shutil.copy(bool_xlsx, p)
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = b""
    got = sorted(_collect(p, [], threads=1), key=str)
    want = sorted(_collect(bool_xlsx, [], threads=1), key=str)
    assert got == want
