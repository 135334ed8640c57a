"""Small workbooks share read partitions and sweep tasks.

Every Python task pays a fixed start-up cost, so a read or sweep over many
small workbooks plans at most one task per core of the cluster
(``tasks.pack_contiguous``), not one per file. These tests pin the packing
rule, the partition plans it gives, and that packed plans read exactly the
rows, in exactly the order, of one partition per file.
"""

from __future__ import annotations

import os
import random
import zipfile

import pytest

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx.tasks import pack_contiguous
from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

N_FILES = 8


def _book(path, i, rows=6):
    write_xlsx(path, {"Sheet1": [["k", "s", "ok"]] + [
        [float(i * 100 + j), f"f{i}r{j}", bool(j % 2)] for j in range(rows)
    ]})


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("packed")
    for i in range(N_FILES):
        _book(str(d / f"p{i:02d}.xlsx"), i)
    return str(d)


def _plan_and_rows(opts, width, filters=()):
    ds = DS.SheetReaderDataSource(opts)
    schema = ds.schema()
    reader = DS.SheetReaderReader(opts, schema, default_parallelism=width)
    if filters:
        assert reader.pushFilters(list(filters)) == []
    parts = reader.partitions()
    rows = [
        row
        for part in parts
        for batch in reader.read(part)
        for row in zip(*(c.to_pylist() for c in batch.columns))
    ]
    return parts, rows


# -- the rule -----------------------------------------------------------------
def test_pack_contiguous_rule():
    assert pack_contiguous(list(range(8)), [100] * 8, 4) == [
        [0, 1], [2, 3], [4, 5], [6, 7]
    ]
    assert pack_contiguous(list(range(8)), [100] * 8, None) == [[i] for i in range(8)]
    assert pack_contiguous(list("abc"), [5, 5, 5], 4) == [["a"], ["b"], ["c"]]
    assert pack_contiguous(list("abcd"), [9, 0, 0, 9], 1) == [list("abcd")]
    # An item larger than a span takes a group of its own.
    assert pack_contiguous(list("abcdef"), [1, 1, 1, 100, 1, 1], 3) == [
        list("abc"), ["d"], list("ef")
    ]
    rng = random.Random(7)
    for _ in range(300):
        n = rng.randint(1, 40)
        width = rng.randint(1, 12)
        sizes = [rng.choice([0, 1, rng.randint(1, 10_000)]) for _ in range(n)]
        groups = pack_contiguous(list(range(n)), sizes, width)
        assert [x for g in groups for x in g] == list(range(n))
        assert 1 <= len(groups) <= min(n, width)
        assert all(groups)


# -- partition plans ----------------------------------------------------------
def test_tiny_workbooks_pack_by_width(tiny_dir):
    paths = sorted(os.path.join(tiny_dir, f) for f in os.listdir(tiny_dir))
    packed, _ = _plan_and_rows({"path": tiny_dir, "has_header": "true"}, 4)
    assert [p.paths for p in packed] == [
        tuple(paths[i:i + 2]) for i in range(0, N_FILES, 2)
    ]
    assert all((p.shard, p.n_shards) == (0, 1) for p in packed)
    single, _ = _plan_and_rows({"path": tiny_dir, "has_header": "true"}, None)
    assert [p.paths for p in single] == [(p,) for p in paths]


def test_multishard_file_splits_the_runs(tmp_path):
    paths = []
    for i in range(13):
        p = str(tmp_path / f"m{i:02d}.xlsx")
        _book(p, i, rows=5000 if i == 6 else 6)
        paths.append(p)
    # Pad the middle workbook to 3 MB with a STORED non-worksheet member:
    # the auto shard count keys on the file size, so it plans 3 shards,
    # rounded down to one whole wave of 2 at width 2.
    with zipfile.ZipFile(paths[6], "a") as z:
        z.writestr(zipfile.ZipInfo("docProps/pad.bin"), b"\x00" * (3 << 20),
                   compress_type=zipfile.ZIP_STORED)
    opts = {"path": str(tmp_path), "has_header": "true"}
    packed, rows = _plan_and_rows(opts, 2)
    assert [(p.paths, p.shard, p.n_shards) for p in packed] == [
        (tuple(paths[0:3]), 0, 1), (tuple(paths[3:6]), 0, 1),
        ((paths[6],), 0, 2), ((paths[6],), 1, 2),
        (tuple(paths[7:10]), 0, 1), (tuple(paths[10:13]), 0, 1),
    ]
    single, want = _plan_and_rows(opts, None)
    assert len(single) == 15
    assert rows == want and len(rows) == 12 * 6 + 5000


def test_reader_without_width_caps_32_and_packs_nothing(
    tiny_dir, tmp_path, monkeypatch
):
    """Planning reads only the width captured at register(); an active
    session's width is never consulted (a reader built directly keeps
    one partition per small file and the fixed 32-shard cap)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.types import DoubleType, StructField, StructType

    class _Wide:
        class sparkContext:
            defaultParallelism = 1000

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: _Wide))
    assert DS._auto_shard_cap(None) == 32
    assert DS._auto_shard_cap(None, None) == 32
    ds = DS.SheetReaderDataSource({"path": tiny_dir})
    reader = DS.SheetReaderReader({"path": tiny_dir}, ds.schema())
    assert len(reader.partitions()) == N_FILES
    # An unreadable "file" keeps its size-based shard count at planning.
    big = tmp_path / "big.xlsx"
    big.write_bytes(b"\x00")
    monkeypatch.setattr(os.path, "getsize", lambda _p: 4096 << 20)
    one = DS.SheetReaderReader(
        {"path": str(big)}, StructType([StructField("x", DoubleType())])
    )
    assert len(one.partitions()) == 32


# -- packed plans read the same rows in the same order ------------------------
@pytest.mark.parametrize("extra", [
    {"has_header": "true"},
    {"has_header": "false", "skip_rows": "2"},
    {"skip_rows": "4"},
    {"has_header": "true", "columns": "s,k"},
], ids=["header", "skip_rows", "skip_past_data", "columns"])
def test_packed_rows_equal_unpacked(tiny_dir, extra):
    opts = {"path": tiny_dir, **extra}
    packed, rows = _plan_and_rows(opts, 4)
    single, want = _plan_and_rows(opts, None)
    assert len(packed) == 4 and len(single) == N_FILES
    assert rows == want and rows


def test_pushed_filters_reach_every_packed_file(tiny_dir):
    from pyspark.sql.datasource import GreaterThanOrEqual, StringEndsWith

    opts = {"path": tiny_dir, "has_header": "true", "filter_pushdown": "true"}
    # Keeps row 0 of every file: each file of each pack must be masked.
    flt = [StringEndsWith(("s",), "r0")]
    packed, rows = _plan_and_rows(opts, 4, flt)
    _, want = _plan_and_rows(opts, None, flt)
    assert len(packed) == 4 and all(p.filters == tuple(flt) for p in packed)
    assert rows == want
    assert rows == [(float(i * 100), f"f{i}r0", False) for i in range(N_FILES)]
    # Drops rows of the first file only.
    flt = [GreaterThanOrEqual(("k",), 2.0)]
    packed, rows = _plan_and_rows(opts, 4, flt)
    _, want = _plan_and_rows(opts, None, flt)
    assert rows == want and len(rows) == N_FILES * 6 - 2


def test_header_only_file_inside_a_pack(tmp_path):
    """A header-only workbook inside a pack reads through the declared-
    schema fallback (zero rows), and its neighbours are unaffected."""
    for i in range(6):
        p = str(tmp_path / f"h{i}.xlsx")
        if i == 2:
            write_xlsx(p, {"Sheet1": [["k", "s", "ok"]]})
        else:
            _book(p, i)
    opts = {"path": str(tmp_path), "has_header": "true"}
    packed, rows = _plan_and_rows(opts, 3)
    assert any(str(tmp_path / "h2.xlsx") in p.paths and len(p.paths) > 1 for p in packed)
    _, want = _plan_and_rows(opts, None)
    assert rows == want and len(rows) == 5 * 6


@pytest.mark.parametrize("width", [2, None], ids=["packed", "unpacked"])
def test_header_only_file_under_columns(tmp_path, width):
    """A ``columns=`` read falls back to the relation's FULL file layout
    for a member whose probe is insufficient: its header row is matched
    against every file column, not the pruned output names, so a
    header-only member reads as zero rows."""
    header = ["k", "s", "note", "ok"]
    for i in range(5):
        rows = [] if i == 2 else [
            [float(i * 100 + j), f"f{i}r{j}", f"n{j}", bool(j % 2)]
            for j in range(6)
        ]
        write_xlsx(str(tmp_path / f"c{i}.xlsx"), {"Sheet1": [header] + rows})
    opts = {"path": str(tmp_path)}
    _, full = _plan_and_rows(opts, width)
    _, rows = _plan_and_rows({**opts, "columns": "note,k"}, width)
    assert rows == [(r[2], r[0]) for r in full] and len(rows) == 4 * 6


# -- through Spark ------------------------------------------------------------
@pytest.fixture(scope="module")
def registered(spark):
    from sheetreader_duckdb_spark import register

    register(spark)
    return spark


def test_spark_glob_plans_at_most_one_partition_per_core(registered, tiny_dir):
    spark = registered
    width = spark.sparkContext.defaultParallelism
    df = spark.read.format("sheetreader").option("has_header", "true").load(
        os.path.join(tiny_dir, "p*.xlsx")
    )
    assert df.rdd.getNumPartitions() <= width
    _, want = _plan_and_rows({"path": tiny_dir, "has_header": "true"}, None)
    assert [tuple(r) for r in df.collect()] == want


def test_read_xlsx_where_on_packed_files(registered, tiny_dir):
    from pyspark.sql.datasource import GreaterThan

    from sheetreader_duckdb_spark import read_xlsx

    df = read_xlsx(registered, tiny_dir, where="k > 2", has_header="true")
    assert df.rdd.getNumPartitions() <= registered.sparkContext.defaultParallelism
    _, want = _plan_and_rows(
        {"path": tiny_dir, "has_header": "true", "filter_pushdown": "true"},
        None, [GreaterThan(("k",), 2.0)],
    )
    assert [tuple(r) for r in df.collect()] == want and len(want) == N_FILES * 6 - 3


def _tasks_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    tasks = sum(
        st.getStageInfo(sid).numTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
    )
    return out, tasks


def test_sweeps_pack_files_into_at_most_one_task_per_core(registered, tmp_path):
    from sheetreader_duckdb_spark import describe_index_dir, index_xlsx_dir

    sc = registered.sparkContext
    paths = []
    for i in range(N_FILES):
        p = str(tmp_path / f"w{i:02d}.xlsx")
        _book(p, i)
        paths.append(p)
    with open(str(tmp_path / "w03.xlsx"), "wb") as f:
        f.write(b"not a zip")  # reported in its slot, not fatal
    res, tasks = _tasks_in_group(
        sc, "packing-index-sweep", lambda: index_xlsx_dir(registered, str(tmp_path))
    )
    assert [r["path"] for r in res] == paths
    assert res[3]["reason"].startswith("error")
    assert 0 < tasks <= sc.defaultParallelism
    res, tasks = _tasks_in_group(
        sc, "packing-describe-sweep",
        lambda: describe_index_dir(registered, str(tmp_path)),
    )
    assert [r["path"] for r in res] == paths
    assert res[3]["reason"].startswith("error")
    assert 0 < tasks <= sc.defaultParallelism


# -- process caches stay out of pickles ---------------------------------------
def test_pickled_reader_carries_no_cached_heap(registered, tmp_path):
    """register() pickles the parser module by value; the driver's cached
    shared-string heap from the schema probe must not ride along."""
    from pyspark import cloudpickle

    from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

    path = str(tmp_path / "stringy.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["k", "s"])
    for i in range(30_000):
        w.write_row([float(i), f"unique string number {i:08d} of the heap"])
    w.close()
    with zipfile.ZipFile(path) as z:
        assert z.getinfo("xl/sharedStrings.xml").file_size >= 1 << 20

    ds = DS.SheetReaderDataSource({"path": path, "has_header": "true"})
    schema = ds.schema()
    reader = ds.reader(schema)
    assert len(cloudpickle.dumps(reader)) < 400_000
    # The read is unchanged where the pickle is loaded: in Spark's workers.
    # (Loading it here would rebind this process's by-value classes.)
    want = [r for part in reader.partitions() for b in reader.read(part)
            for r in zip(*(c.to_pylist() for c in b.columns))]
    got = registered.read.format("sheetreader").option("has_header", "true").load(path)
    assert [tuple(r) for r in got.collect()] == want and len(want) == 30_000
