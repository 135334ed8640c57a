"""sheetreader_duckdb_spark — a PySpark-native analytics engine with the
capabilities of the polydbms/sheetreader-duckdb reference.

Two halves (SURVEY.md):

1. ``sources.xlsx`` — a Spark Python Data Source V2 (``spark.read.format
   ("sheetreader")``) replicating the reference extension's XLSX ingestion
   semantics (reference: /root/reference/src/sheetreader_extension.cpp).
2. ``plans`` / ``operators`` — the relational surface the reference gets from
   its host DuckDB, expressed Spark-first (DataFrame/SQL, Catalyst-optimized),
   plus large-scale training-data-pipeline operators (dedup, similarity
   search, text analysis, multimodal columns).
"""

from __future__ import annotations

__version__ = "0.1.0"


# addPyFile memo (r14): the driver's harness calls configure_session()
# once per declared query, re-issuing the addPyFile RPC ~50 times per
# correctness run for the same artifact. The memo key is
# (applicationId, content-digest zip path), so a code change on disk —
# which produces a NEW content-addressed path — still re-ships, and a
# new session (new app id) always ships. The walk+sha1 itself measures
# 2.6 ms and is deliberately NOT memoized: it is what keeps the
# freshness guarantee.
_SHIPPED: set = set()


def _ship_package(spark) -> None:
    """Make this package importable on executors' Python workers.

    The Python Data Source class is cloudpickled to worker processes, which
    unpickle it by module reference — on a real cluster (or any session whose
    workers don't share the driver's cwd) the package must travel with the
    job. This is the standard ``--py-files`` deployment, done programmatically.
    """
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members: list[tuple[str, str]] = []
    digest = hashlib.sha1()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                members.append((full, rel))
                digest.update(rel.encode())
                with open(full, "rb") as f:
                    digest.update(f.read())
    # Content-addressed zip name: a code change within one session produces a
    # new artifact, so addPyFile never serves workers a stale package.
    zip_path = os.path.join(
        tempfile.gettempdir(), f"sheetreader_duckdb_spark-{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in members:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    app_id = spark.sparkContext.applicationId
    key = (app_id, zip_path)
    if key not in _SHIPPED:
        spark.sparkContext.addPyFile(zip_path)
        # Drop other app ids' keys while adding (ADVICE r14): a long-lived
        # process that cycles sessions would otherwise accumulate stale
        # (appId, path) entries forever. Iterate a SNAPSHOT — iterating the
        # live set while a concurrent configure_session adds to it raises
        # "Set changed size during iteration" (r15 review). With the
        # snapshot, a concurrent race can at worst double-ship the same
        # artifact — harmless (addPyFile is idempotent for identical
        # content-addressed paths).
        _SHIPPED.intersection_update({k for k in set(_SHIPPED) if k[0] == app_id})
        _SHIPPED.add(key)


def register(spark):
    """Register the sheetreader data source on a SparkSession."""
    from sheetreader_duckdb_spark.sources.xlsx import datasource, inference, parser
    from sheetreader_duckdb_spark.sources.xlsx.datasource import SheetReaderDataSource

    # The reader implements pushFilters; Spark refuses to plan a pushdown-
    # capable Python source while this conf is off, so enable it wherever
    # the source is registered (configure_session sets it too).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    _ship_package(spark)
    # Streaming source planning runs in a driver-side Python runner that does
    # NOT see addPyFile paths — serialize the data source modules by value so
    # every unpickler is self-contained.
    try:
        from pyspark import cloudpickle

        for mod in (datasource, parser, inference):
            cloudpickle.register_pickle_by_value(mod)
    except ImportError:
        pass
    # Capture the cluster width BEFORE the class is pickled for the JVM:
    # the planning worker that later calls partitions() has no active
    # session, so the auto shard cap must travel with the class (ADVICE r9).
    SheetReaderDataSource._cluster_default_parallelism = (
        spark.sparkContext.defaultParallelism
    )
    spark.dataSource.register(SheetReaderDataSource)
    # SQL table-function form, 1:1 with the reference's invocation surface:
    # SELECT * FROM sheetreader('/path.xlsx', sheet_index => 2)
    from sheetreader_duckdb_spark.sources.xlsx.udtf import register_udtf

    register_udtf(spark)
    return spark


def index_xlsx(path, out_path=None, **kwargs):
    """Retrofit the splittable-read index onto any XLSX file (one
    sequential pass; foreign members preserved raw) — see
    ``sources.xlsx.indexer.index_xlsx`` for the full contract. Indexed
    files shard with seek-and-inflate reads: total decompression is 1×
    the file across the fleet instead of 1× per task."""
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx as _ix

    return _ix(path, out_path=out_path, **kwargs)


def index_xlsx_dir(spark, path_or_glob, **kwargs):
    """Distributed in-place retrofit of every workbook in a directory or
    glob — files packed into at most one Spark task per core; one report
    per file in input order, per-file failures reported, not fatal. See
    ``sources.xlsx.indexer.index_xlsx_dir``."""
    register(spark)
    from sheetreader_duckdb_spark.sources.xlsx.indexer import (
        index_xlsx_dir as _ixd,
    )

    return _ixd(spark, path_or_glob, **kwargs)


def describe_index(path):
    """Index-health report for one workbook (decode-only — which members
    shard, what prunes, claim coverage per stats section). See
    ``sources.xlsx.indexer.describe_index``."""
    from sheetreader_duckdb_spark.sources.xlsx.indexer import (
        describe_index as _di,
    )

    return _di(path)


def describe_index_dir(spark, path_or_glob):
    """Distributed index-health sweep — one report per workbook, in
    input order, from at most one Spark task per core; the audit story
    for a retrofitted corpus. See
    ``sources.xlsx.indexer.describe_index_dir``."""
    register(spark)
    from sheetreader_duckdb_spark.sources.xlsx.indexer import (
        describe_index_dir as _did,
    )

    return _did(spark, path_or_glob)


def read_xlsx(spark, path, columns=None, where=None, **options):
    """Read an XLSX through the sheetreader source, stating the projection
    (and optionally the filter) up front — the documented pattern for
    scans whose consumers know their shape.

    Spark 4.1 does not push required columns into Python data sources (the
    Project sits above the BatchScan, so a 2-column query over a 40-column
    sheet still decodes all 40; tests/test_xlsx_pruning.py carries the
    canary that flips when native pruning lands). ``columns`` wires the
    caller's projection into the reader's ``columns=`` option so pruned
    columns are never parsed or decoded.

    ``where`` (a SQL condition string or Column) enables filter pushdown
    SAFELY-BY-CONSTRUCTION: the raw ``filter_pushdown=true`` option is
    opt-in because Spark caches the planned scan per relation, so a
    filter absorbed from one query would leak into later unfiltered reuse
    of the same DataFrame (tests/test_xlsx_pushdown.py pins the hazard).
    Here the filter is part of the scan's DEFINITION — every call builds
    a fresh relation, the predicate is both offered to the source (rows
    prune before the Python→JVM boundary) and re-applied Spark-side
    (absorbed filters only drop rows the filter drops anyway, so the
    frame always means exactly scan ∧ where, under any reuse).

    Extra reader options pass through (``skip_rows=2``,
    ``sheet_name="Data"``, ...).
    """
    register(spark)
    r = spark.read.format("sheetreader")
    if columns:
        r = r.option("columns", ",".join(columns))
    if where is not None:
        r = r.option("filter_pushdown", "true")
    for k, v in options.items():
        r = r.option(k, v)
    df = r.load(path)
    if where is not None:
        df = df.filter(where)
    return df
