"""SQL table-function form of the XLSX source: ``sheetreader(path, ...)``.

The reference's ONE public interface is a SQL table function —
``SELECT * FROM sheetreader('data.xlsx', sheet_index=2)``
(/root/reference/src/sheetreader_extension.cpp:950-967 registers it;
docker-demo/demo_community.sql:13 invokes it). The
``spark.read.format("sheetreader")`` reader is our idiomatic (and fast,
Arrow-batched) surface; this module adds the 1:1 invocation-parity form as
a Spark 4 Python UDTF with named arguments::

    SELECT * FROM sheetreader('/data/file.xlsx', sheet_index => 2)

Semantics are identical by construction: ``analyze()`` computes the schema
through SheetReaderDataSource.schema() (the same two-row probe / header
detection / user-type merge the format reader binds with), and ``eval()``
drives the same partition readers, so every option, NULL rule, and error
message matches the format path. The UDTF row-yield hop makes this the
convenience surface, not the throughput surface — batch ETL should read
through the format (or ``read_xlsx``), which stays Arrow end-to-end.
"""

from __future__ import annotations

from sheetreader_duckdb_spark.sources.xlsx.tasks import stat_checked_zip_invalidation

_OPTION_ARGS = (
    "sheet_index",
    "sheet_name",
    "skip_rows",
    "has_header",
    "types",
    "force_types",
    "coerce_to_string",
    "threads",
    "columns",
    "inline_strings",
    "batch_size",
)


def _options_dict(path, **kwargs) -> dict:
    # The reference's table function errors on unknown named parameters —
    # a misspelled option must not silently read with defaults.
    unknown = sorted(set(kwargs) - set(_OPTION_ARGS))
    if unknown:
        raise ValueError(
            f"sheetreader: unknown named argument(s) {unknown}; "
            f"valid: {sorted(_OPTION_ARGS)}"
        )
    opts = {"path": str(path)}
    for k in _OPTION_ARGS:
        v = kwargs.get(k)
        if v is None:
            continue
        opts[k] = str(v).lower() if isinstance(v, bool) else str(v)
    return opts


class SheetReaderUDTF:
    """Python UDTF wrapping SheetReaderDataSource (schema AND data)."""

    @staticmethod
    def analyze(path, **kwargs):
        from pyspark.sql.udtf import AnalyzeResult

        from sheetreader_duckdb_spark.sources.xlsx.datasource import (
            SheetReaderDataSource,
        )

        if path.value is None:
            raise ValueError(
                "sheetreader(path, ...): path must be a literal string "
                "(the schema is inferred from the file at plan time, "
                "exactly like the reference's bind step)"
            )
        const = {k: (a.value if hasattr(a, "value") else a) for k, a in kwargs.items()}
        # Every option shapes the inferred schema (skip_rows/types/...), so a
        # non-foldable option would make analyze() and eval() disagree —
        # reject it here rather than return misaligned rows at runtime.
        non_literal = sorted(
            k for k, a in kwargs.items() if hasattr(a, "value") and a.value is None
        )
        if non_literal:
            raise ValueError(
                f"sheetreader: named argument(s) {non_literal} must be "
                "literal (they participate in plan-time schema inference)"
            )
        ds = SheetReaderDataSource(_options_dict(path.value, **const))
        return AnalyzeResult(schema=ds.schema())

    def eval(self, path, **kwargs):
        stat_checked_zip_invalidation()
        from sheetreader_duckdb_spark.sources.xlsx.datasource import (
            SheetReaderDataSource,
        )

        ds = SheetReaderDataSource(_options_dict(path, **kwargs))
        schema = ds.schema()
        reader = ds.reader(schema)
        for part in reader.partitions():
            for batch in reader.read(part):
                if hasattr(batch, "columns"):  # Arrow RecordBatch
                    yield from zip(*(c.to_pylist() for c in batch.columns))
                else:
                    yield tuple(batch)


def register_udtf(spark) -> None:
    """Register the SQL table function ``sheetreader`` on this session."""
    from pyspark.sql.functions import udtf

    spark.udtf.register("sheetreader", udtf(SheetReaderUDTF))
