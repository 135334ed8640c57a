"""Canonical SparkSession construction.

Pinned settings that matter for DuckDB-oracle parity and for scale:

- ``spark.sql.session.timeZone=UTC`` — the reference's host (DuckDB) is
  timezone-naive; all date/time comparisons are pinned to UTC (SURVEY.md H17).
- AQE on — runtime re-planning (skew joins, coalescing) is our scale posture.
- Arrow enabled — pandas UDFs and the Python data source exchange Arrow
  batches (the Spark analog of the reference's 2048-row DataChunks,
  /root/reference/src/sheetreader_extension.cpp:256-258).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def static_builder_confs() -> dict:
    """Static (pre-JVM) confs every session builder of this engine should
    apply — settable only at SparkSession build time, so ``configure_session``
    cannot retrofit them onto an externally-built session.

    ``spark.sql.codegen.cache.maxEntries`` (default 100): the compiled
    generated-class cache. This engine's declared corpus is ~950 distinct
    whole-stage/expression codegen units per bench pass (n10 alone plans 131
    exchanges), so the default cache THRASHES end-to-end — every pass
    re-Janino-compiles ~everything it compiled the pass before (measured:
    ~950 recompiles/pass at ~7 ms mean = ~7 s of pure driver compile time
    per pass; raising the cap leaves 18–82/pass). 10000 entries of compiled
    classes cost tens of MB of driver metaspace — noise against the memory
    a driver needs anyway — and the value is workload-shaped (number of
    distinct operators run per process), not cluster-shaped, so one default
    serves local[32] and a production driver alike. Env-overridable for
    memory-constrained drivers (``SPARK_GRAFT_CODEGEN_CACHE``, an integer).
    """
    raw = os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000")
    try:
        entries = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CODEGEN_CACHE must be an integer, got {raw!r}"
        ) from None
    return {"spark.sql.codegen.cache.maxEntries": str(entries)}


# -- deferred cache release ---------------------------------------------------
#
# Operators that persist an intermediate (the global-ranking range shuffle,
# the dedup-pipeline shingle set) need the cache ALIVE until the caller
# materializes the returned DataFrame — so they cannot unpersist before
# returning, and checkpointing the result instead costs a full extra
# write+read of the output (measured 2× on the ranking and dedup bench
# queries). Deferred release keeps the fast lazy plan AND bounds cache
# growth across a corpus run: the operator registers its intermediate here,
# and the NEXT query's construction (the @query wrapper) releases everything
# registered before it — by which point the previous query's result has been
# collected. Worst case for an unusual caller (construct many, execute
# later): a released cache recomputes, never a wrong result.

# Two caveats for callers OUTSIDE a declared-corpus run (ADVICE r3):
#
# * STANDALONE LEAK: the registry drains only when another declared query is
#   constructed. A caller using with_global_rank / ntile / the dedup
#   pipeline directly keeps the last persisted intermediate alive until
#   session end — call ``release_deferred()`` yourself after materializing
#   the result (the operators' docstrings say the same).
# * CONCURRENCY: the registry is process-global. The lock below makes
#   register/release safe to CALL concurrently, but release semantics are
#   inherently corpus-run-shaped — a release triggered by thread A's query
#   construction will unpersist an intermediate thread B has constructed
#   but not yet collected. That recomputes B's lineage (slower, never
#   wrong). Concurrent query construction should use one session per
#   thread or leave the corpus-run pattern.

import threading

_DEFERRED_UNPERSIST: list = []
_DEFERRED_REFS: list = []
_DEFERRED_LOCK = threading.Lock()


def defer_unpersist(df):
    """Register a persisted DataFrame to be unpersisted at the next
    ``release_deferred()`` (called by every declared query's wrapper;
    standalone operator callers should call it themselves after
    materializing — see the module comment).

    ONLY for ``persist()``-ed frames, whose lineage survives the
    unpersist (worst case: recompute). A ``localCheckpoint()``-ed frame
    must go through ``defer_reference`` instead — its truncated lineage
    makes the cached blocks the ONLY copy of the data, so unpersisting
    it breaks every DataFrame derived from it (checkpoint block not
    found), it does not recompute."""
    with _DEFERRED_LOCK:
        _DEFERRED_UNPERSIST.append(df)
    return df


def defer_reference(df):
    """Register a ``localCheckpoint()``-ed DataFrame for deferred
    REFERENCE drop: ``release_deferred()`` forgets it (so the registry
    itself never pins the blocks) but does NOT unpersist — the
    ContextCleaner reclaims the checkpoint RDD once the caller's last
    derived frame is garbage-collected. Destroying the blocks eagerly
    would invalidate, not recompute, everything downstream of the
    checkpoint (ADVICE r7: the curated frame threw
    checkpoint-block-not-found after a documented release_deferred())."""
    with _DEFERRED_LOCK:
        _DEFERRED_REFS.append(df)
    return df


def release_deferred() -> int:
    """Unpersist every deferred cache (and drop checkpoint references);
    returns how many persisted frames were released."""
    with _DEFERRED_LOCK:
        drained = _DEFERRED_UNPERSIST[:]
        _DEFERRED_UNPERSIST.clear()
        _DEFERRED_REFS.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session gone / already released — nothing to free
            pass
    return n


def get_spark(app_name: str = "sheetreader-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in static_builder_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the parity-critical runtime confs to an externally-built session.

    The correctness driver constructs its own SparkSession; queries must
    behave identically there, so anything that changes *results* (not just
    performance) is set here defensively.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The testdata events table stores timestamp[ns]; Spark's parquet reader
    # rejects NANOS by default. Read as long; tables.T converts to timestamp.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Performance confs that are runtime-settable (results unaffected): AQE
    # re-planning (skew joins, partition coalescing) and Arrow exchange.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Let Catalyst push supported filters into the sheetreader source
    # (SheetReaderReader.pushFilters) — rows are pruned by Arrow compute
    # before crossing the Python→JVM boundary.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Ship the package to executor Python workers: pandas UDFs and stateful
    # streaming functions unpickle by module reference there.
    from sheetreader_duckdb_spark import _ship_package

    _ship_package(spark)
    return spark
