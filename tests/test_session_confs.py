"""The engine's static builder confs (session.static_builder_confs).

The codegen class-cache sizing is a REAL-BEHAVIOR conf: with Spark's
default 100-entry cache the declared corpus (~950 distinct codegen units
per bench pass) thrashes and re-Janino-compiles every pass (measured
~950 recompiles/pass at ~7 ms mean; 18-82/pass once sized). These tests
pin the plumbing: the conf set is what we document, the env override
works, and every builder of this package actually applies it.
"""

from __future__ import annotations

import os

import pytest

from sheetreader_duckdb_spark.session import static_builder_confs


def test_static_builder_confs_default():
    confs = static_builder_confs()
    assert confs["spark.sql.codegen.cache.maxEntries"] == "10000"


def test_static_builder_confs_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN_CACHE", "256")
    assert (
        static_builder_confs()["spark.sql.codegen.cache.maxEntries"] == "256"
    )


def test_static_builder_confs_rejects_non_int_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN_CACHE", "lots")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CODEGEN_CACHE"):
        static_builder_confs()


def test_get_spark_applies_codegen_cache(spark):
    # The session fixture builds through get_spark; the static conf must be
    # visible on the live session (static confs bind at JVM session build,
    # which is exactly why configure_session cannot retrofit them and every
    # builder must go through static_builder_confs).
    assert (
        spark.conf.get("spark.sql.codegen.cache.maxEntries")
        == os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000")
    )
