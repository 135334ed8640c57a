"""Spark Python workers re-read a zip's directory only when it changed.

Every Python task and planning call starts with ``setup_spark_files``,
whose ``importlib.invalidate_caches()`` re-reads the central directory of
every zip on the worker's path on CPython releases where zipimport's
invalidation is eager. ``tasks.stat_checked_zip_invalidation`` makes a
worker skip that re-read while the archive is unchanged on disk. These
tests pin the wrapper against the stdlib (unchanged, rewritten and deleted
archives), that the driver and test processes keep the stdlib method, and
that Spark workers which ran a sheetreader task carry the stat-checked form.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx.tasks import stat_checked_zip_invalidation
from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

STDLIB = zipimport.zipimporter.invalidate_caches
EAGER = "_read_directory" in STDLIB.__code__.co_names

needs_eager = pytest.mark.skipif(
    not EAGER, reason="this CPython's zipimport invalidation is already lazy"
)


def _write_zip(path, modules: dict) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def worker_zip(tmp_path, monkeypatch):
    """A zip holding one module on ``sys.path``, a spy on zipimport's
    directory reads, and the worker gate forced open; the stdlib method
    and the gate are restored on teardown."""
    from pyspark.core.files import SparkFiles

    reads: list[str] = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, {"zc_one": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STDLIB)
    monkeypatch.setattr(zipimport, "_read_directory", spy)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.syspath_prepend(archive)
    import zc_one

    assert zc_one.VALUE == 1
    stat_checked_zip_invalidation()
    yield archive, reads
    for name in ("zc_one", "zc_two"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@needs_eager
def test_unchanged_archive_is_not_reread(worker_zip):
    archive, reads = worker_zip
    assert zipimport.zipimporter.invalidate_caches.stat_checked
    importlib.invalidate_caches()  # first call reads and records every key
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    # Idempotent: a second install keeps the installed wrapper.
    installed = zipimport.zipimporter.invalidate_caches
    stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed


@needs_eager
def test_rewritten_archive_is_reread(worker_zip):
    archive, reads = worker_zip
    importlib.invalidate_caches()
    _write_zip(archive, {"zc_one": "VALUE = 1\n", "zc_two": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zc_two

    assert zc_two.VALUE == 2


@needs_eager
def test_deleted_archive_matches_stdlib(worker_zip):
    archive, reads = worker_zip
    importlib.invalidate_caches()
    imp = sys.path_importer_cache[archive]
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # the stdlib path ran and failed
    ours = (imp._files, archive in zipimport._zip_directory_cache)
    STDLIB(imp)
    assert ours == (imp._files, archive in zipimport._zip_directory_cache)
    assert ours == ({}, False)
    # Restored: the failed read recorded nothing, so it is read again.
    _write_zip(archive, {"zc_one": "VALUE = 1\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1 and "zc_one.py" in imp._files


def _books(d, n=4):
    for i in range(n):
        write_xlsx(str(d / f"w{i}.xlsx"), {"Sheet1": [["k", "s"]] + [
            [float(i * 10 + j), f"w{i}r{j}"] for j in range(5)
        ]})


def _in_process_rows(opts):
    ds = DS.SheetReaderDataSource(opts)
    reader = ds.reader(ds.schema())
    return [
        row
        for part in reader.partitions()
        for batch in reader.read(part)
        for row in zip(*(c.to_pylist() for c in batch.columns))
    ]


def test_driver_keeps_the_stdlib_method(spark, tmp_path):
    from sheetreader_duckdb_spark import register

    register(spark)
    _books(tmp_path)
    assert _in_process_rows({"path": str(tmp_path)})
    assert zipimport.zipimporter.invalidate_caches is STDLIB


@needs_eager
def test_spark_workers_carry_the_stat_checked_form(spark, tmp_path):
    from sheetreader_duckdb_spark import register

    register(spark)
    _books(tmp_path)
    rows = [
        tuple(r)
        for r in spark.read.format("sheetreader").load(str(tmp_path)).collect()
    ]
    assert rows == _in_process_rows({"path": str(tmp_path)})

    # A DataFrame-side Python function, so it runs in the Python worker
    # pool the load's tasks ran in (an RDD ``mapPartitions`` gets a pool of
    # its own). Nested, so it pickles by value.
    def probe(batches):
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        inv = zipimport.zipimporter.invalidate_caches
        # Records the key of any importer made since the task started.
        importlib.invalidate_caches()
        real = zipimport._read_directory
        reads = []

        def spy(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [bool(getattr(inv, "stat_checked", False))],
            "reads": [len(reads)],
        })

    n = 4 * spark.sparkContext.defaultParallelism
    seen = spark.range(0, n, 1, n).mapInArrow(
        probe, "pid long, installed boolean, reads long"
    ).collect()
    installed = [(r.pid, r.reads) for r in seen if r.installed]
    assert installed, seen  # the probes reuse the load's workers
    assert all(reads == 0 for _, reads in installed), installed
