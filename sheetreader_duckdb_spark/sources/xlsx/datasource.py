"""``sheetreader`` Spark Python Data Source (V2) — the Spark-native equivalent
of the reference's DuckDB table function (SURVEY.md §2.1 S1–S16; registration
/root/reference/src/sheetreader_extension.cpp:950-967).

Usage::

    spark.dataSource.register(SheetReaderDataSource)
    df = (spark.read.format("sheetreader")
          .option("sheet_name", "Alpha")      # or sheet_index (1-based)
          .option("skip_rows", 2)
          .option("has_header", True)
          .option("types", "VARCHAR,DOUBLE")  # ⊆ {VARCHAR, DOUBLE, BOOLEAN, DATE}
          .option("force_types", False)
          .option("coerce_to_string", False)
          .option("inline_strings", False)   # opt-in: accept t="str"/"inlineStr"
          .option("filter_pushdown", False)  # opt-in: absorb filters (see pushFilters)
          .option("columns", "a,b")          # reader-side column pruning
          .load("/data/*.xlsx"))

    # Distributed write (one workbook per non-empty partition):
    (df.write.format("sheetreader")
       .option("max_rows_per_file", 1000000)  # ≤ 1048575 (sheet row cap)
       .option("date1904", False)             # workbook date system
       .mode("overwrite")                     # clears *.xlsx in the dir
       .save("/out/dir"))

Architecture (deliberately NOT the reference's): schema() is a lazy two-row
probe of the first file; the full parse happens at task time. A large file
is split into shard partitions; consecutive small (single-shard) files are
packed into at most one partition per core of the cluster
(``tasks.pack_contiguous``), because every Python task pays a fixed
start-up cost that outweighs parsing a small workbook. Output is Arrow
RecordBatches (the Spark analog of the reference's 2048-row DataChunks),
consumed by Spark's vectorized columnar path. One
partition reader (``SheetReaderReader._read_columnar``) serves every
option; like the reference's per-cell ``SetCellString`` branch, an option
only decides how a cell decodes, never which reader runs.

Beyond-reference extension: multi-file globs are accepted (the reference
rejects >1 file at bind, :648-651); a partition reads whole files in input
order, or one shard of one file.
"""

from __future__ import annotations

import glob as _glob
import operator as _op
import os
from dataclasses import dataclass
from itertools import groupby

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from sheetreader_duckdb_spark.sources.xlsx import parser as P
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.inference import SheetSchema, infer_schema
from sheetreader_duckdb_spark.sources.xlsx.tasks import (
    pack_contiguous,
    stat_checked_zip_invalidation,
)

_SQL_TO_SPARK = {
    "VARCHAR": StringType(),
    "DOUBLE": DoubleType(),
    "BOOLEAN": BooleanType(),
    "DATE": DateType(),
}
_SPARK_TO_SQL = {
    "string": "VARCHAR",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
    "date": "DATE",
}

# 64k rows/batch: the dense fast path appends ~54k rows per 4 MB chunk,
# so at 8k the rolling raw_cols tail was re-sliced ~7× per chunk (an
# O(rows·batches-per-chunk) list copy) and every batch paid pa.array/cast
# fixed overhead 8× more often. 64k keeps batches a few MB (3-col sf1:
# ~5 MB of raw bytes) — still far under Arrow/Spark batch comfort.
DEFAULT_BATCH_SIZE = 65536


def _filter_mask_builder(filters, schema: StructType):
    """Compile pushed-down filters to a RecordBatch → mask function using
    vectorized Arrow compute (AND of all filters, SQL WHERE null semantics:
    null comparisons drop the row). Returns None when there is nothing to
    apply."""
    if not filters:
        return None
    import pyarrow.compute as pc
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    names = {f.name for f in schema.fields}

    def compile_one(f):
        """Return column-name + mask fn, or None if unsupported."""
        if isinstance(f, Not):
            inner = compile_one(f.child)
            if inner is None:
                return None
            col, fn = inner
            return col, lambda arr: pc.invert(fn(arr))
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1 or attr[0] not in names:
            return None
        col = attr[0]
        if isinstance(f, EqualTo):
            return col, lambda arr, v=f.value: pc.equal(arr, v)
        if isinstance(f, GreaterThan):
            return col, lambda arr, v=f.value: pc.greater(arr, v)
        if isinstance(f, GreaterThanOrEqual):
            return col, lambda arr, v=f.value: pc.greater_equal(arr, v)
        if isinstance(f, LessThan):
            return col, lambda arr, v=f.value: pc.less(arr, v)
        if isinstance(f, LessThanOrEqual):
            return col, lambda arr, v=f.value: pc.less_equal(arr, v)
        if isinstance(f, In):
            import pyarrow as pa

            vs = list(f.value)
            if any(v is None for v in vs):
                # SQL three-valued IN with a NULL literal can only be
                # true-or-null — leave it to Spark rather than emulate.
                return None

            def in_mask(arr, vs=vs):
                # pc.is_in yields VALID false for null inputs; SQL gives
                # NULL (so Not(In) must not resurrect null rows). Restore
                # null-propagation explicitly.
                m = pc.is_in(arr, value_set=pa.array(vs, type=arr.type))
                return pc.if_else(pc.is_valid(arr), m, pa.scalar(None, pa.bool_()))

            return col, in_mask
        if isinstance(f, IsNull):
            return col, lambda arr: pc.is_null(arr)
        if isinstance(f, IsNotNull):
            return col, lambda arr: pc.is_valid(arr)
        if isinstance(f, StringStartsWith):
            return col, lambda arr, v=f.value: pc.starts_with(arr, pattern=v)
        if isinstance(f, StringEndsWith):
            return col, lambda arr, v=f.value: pc.ends_with(arr, pattern=v)
        if isinstance(f, StringContains):
            return col, lambda arr, v=f.value: pc.match_substring(arr, pattern=v)
        return None

    compiled = []
    for f in filters:
        c = compile_one(f)
        if c is None:  # pushFilters only stored supported ones; be safe
            continue
        compiled.append(c)
    if not compiled:
        return None

    def apply(batch):
        mask = None
        for col, fn in compiled:
            m = fn(batch.column(batch.schema.get_field_index(col)))
            mask = m if mask is None else pc.and_kleene(mask, m)
        # SQL WHERE semantics: null mask entries drop the row.
        return batch.filter(pc.fill_null(mask, False))

    return apply


def supported_pushdown_filter(f, schema: StructType) -> bool:
    """True when the filter can be evaluated exactly by the Arrow mask."""
    return _filter_mask_builder([f], schema) is not None


def _sections_consulted(filters) -> set:
    """Keys of the stats sections planning decodes for ``filters``: the
    bound sections for any filter set, the count sections only when a
    filter can use them — ``nc`` for IsNull / IsNotNull, ``bt`` for
    EqualTo / In over boolean literals (r13 review: validating a section
    no filter reads is per-column work every task would pay for
    nothing)."""
    from pyspark.sql.datasource import EqualTo, In, IsNotNull, IsNull

    if not filters:
        return set()
    keys = {"st", "sv"}
    for f in filters:
        if isinstance(f, (IsNull, IsNotNull)):
            keys.add("nc")
        elif (isinstance(f, EqualTo) and isinstance(f.value, bool)) or (
            isinstance(f, In) and any(isinstance(v, bool) for v in f.value)
        ):
            keys.add("bt")
    return keys


def _interval_skips(wb, sheet_path, points, filters, schema, file_names):
    """Interval ordinals the split index's stats sections prove empty of
    rows matching ``filters`` (``_plan_interval_skips``), or None when no
    section those filters consult decodes — the one decode-and-plan step
    shared by shard planning and both read paths."""
    keys = _sections_consulted(filters)
    if not points or not keys:
        return None
    sections = SI.decode_interval_sections(wb.zf, sheet_path, points, keys=keys)
    if not sections:
        return None
    return _plan_interval_skips(
        filters, schema, file_names, sections, wb.date1904
    )


def _plan_interval_skips(filters, schema, file_names, sections, date1904):
    """Interval ordinals provably EMPTY of matching rows under the ANDed
    pushed filters, per the split index's per-interval min/max stats
    (r11 — the parquet row-group-pruning pattern for XLSX: a selective
    filter skips whole intervals before inflating a byte).

    ``sections`` is the decoded ``{key: {letter: [claim per interval]}}``
    map (splitindex.decode_interval_sections).

    Comparison/equality/In filters on DOUBLE and DATE columns prune
    against the numeric ``st`` section; the same shapes plus
    StringStartsWith on STRING columns prune against the truncated
    (lo, hi) bounds of the ``sv`` section (r12). String
    bounds are BOUNDS, not exact extrema (lo <= min, hi >= max by the
    over-keep-only truncation rule), and every predicate below is stated
    against bounds, so truncation can only cost pruning opportunities,
    never rows; comparisons are Python str = code-point order = the
    UTF-8/binary collation Spark and DuckDB sort by. Everything else
    claims nothing. NULL-safe by construction: those
    predicates never match NULL cells, so a disjoint numeric range proves
    row-emptiness even when the interval also holds NULLs or mismatched
    types (which decode to NULL). DATE filter values convert to WIDENED
    serial envelopes (±2 days absorbs the workbook date system and the
    1900 phantom-day quirk), so date pruning can only over-keep, never
    over-skip. Interval 0 is never skippable — every shard scans it for
    the cross-shard fallback decision and the loud staleness check.

    ``IsNull`` / ``IsNotNull`` (r13 — the predicate class Spark pushes
    around every comparison) prune against the value-count ``nc``
    section: per interval, the stride GROUP's non-null cell
    count for the column's type FAMILY (plain numeric feeds DOUBLE,
    date-styled numeric feeds DATE — split because decode NULLs across
    the style boundary — string feeds VARCHAR, boolean feeds BOOLEAN;
    any other cell shape decodes to NULL in every scan tier) plus the
    group's row count.
    ``IsNotNull`` skips when the family count is 0 (no interval in the
    group holds a decodable value); ``IsNull`` skips when it equals the
    group's rows (every raw row holds one — rows the read drops, like
    headers/skip_rows, only shrink the output, so "no null raw rows"
    implies "no null output rows"). Both tests are group-exact under
    the stride's summation. Count claims additionally assume ECMA-376
    cell-ref uniqueness (the author withholds intervals whose per-column
    totals exceed their row count, and the decoder rejects group totals
    exceeding group rows, but exactly-compensating duplicate+absent refs
    in one malformed interval are undetectable from counts alone — the
    same honest-writer trust boundary as the bounds sections).

    ``EqualTo`` / ``In`` over BOOLEAN literals (r15 — VERDICT r13
    task 2) prune against the boolean value-count ``bt`` section: per
    interval, the stride group's (n_true, n_false) over
    the column's ``t="b"`` cells, truth decided exactly as the reader
    decodes. The group skips when EVERY requested value's count is 0 —
    sound because non-boolean cells decode NULL for a BOOLEAN column and
    an equality/IN predicate never matches NULL. Counts share the nc
    section's duplicate-ref trust boundary; inflation can only prevent
    a skip.

    Error-semantics trust model (ADVICE r12): a pruned interval is never
    inflated, so a parse error lurking inside it (most notably the
    UNSUPPORTED_STRING_ERROR on ``t="str"``/``t="inlineStr"`` cells)
    would not fire on a filtered read even though the unfiltered read of
    the same file raises — the parquet row-group trust model, where
    skipping is decided by stats alone. Our own stats AUTHOR closes the
    gap at the source: ``_IntervalStatsCollector`` withholds every claim
    for intervals containing such cells, so honestly-indexed files error
    identically with and without pruning; only a hand-forged comment can
    create the divergence, and forged comments are already documented as
    silently-wrong-by-design (see the lying-stats trust boundary test)."""
    import datetime as dt

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        StringStartsWith,
    )

    from sheetreader_duckdb_spark.sources.xlsx.splitindex import increment_str
    from sheetreader_duckdb_spark.sources.xlsx.writer import (
        _col_letter,
        _date_serial,
    )

    out_type = {f.name: f.dataType.typeName() for f in schema.fields}
    n_iv = len(next(
        next(iter(cols.values())) for cols in sections.values() if cols
    ))
    ivnc, ivbv = sections.get("nc"), sections.get("bt")
    skips: set = set()

    def envelope(v, t):
        """Closed serial/value range that covers every cell decoding to
        ``v`` — raises TypeError on anything we refuse to reason about."""
        if t == "string":
            if not isinstance(v, str):
                raise TypeError(v)
            return (v, v)
        if t == "date":
            if isinstance(v, dt.datetime) or not isinstance(v, dt.date):
                raise TypeError(v)
            days = (v - dt.date(1970, 1, 1)).days
            s = _date_serial(days, date1904)
            return (s - 2.0, s + 3.0)
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError(v)
        return (float(v), float(v))

    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        name = attr[0]
        t = out_type.get(name)
        try:
            letters = _col_letter(file_names.index(name))
        except ValueError:
            continue
        if isinstance(f, (IsNull, IsNotNull)):
            fam = {"double": 0, "string": 1, "boolean": 2, "date": 3}.get(t)
            col = ivnc.get(letters) if (ivnc and fam is not None) else None
            if col is None:
                continue
            notnull = isinstance(f, IsNotNull)
            for i in range(1, n_iv):
                # (n_num, n_str, n_bool, n_date, rows_in_group) | None
                e = col[i]
                if e is None:
                    continue
                # IsNotNull: the group holds ZERO decodable values of
                # this family → every row decodes NULL → no matches.
                # IsNull: the family count equals the group's rows →
                # every raw row holds a value of THIS family (the
                # decoder enforced family sums <= rows, so the others
                # are zero) → no NULL rows to match.
                if (e[fam] == 0) if notnull else (e[fam] == e[4]):
                    skips.add(i)
            continue
        if t == "boolean":
            # EqualTo/In over boolean literals prune via the bt section
            # (r15): skip when every requested value's group count is 0.
            # NULL literals never match; non-bool literals on a BOOLEAN
            # column are not reasoned about (claim nothing).
            if not isinstance(f, (EqualTo, In)) or ivbv is None:
                continue
            col = ivbv.get(letters)
            if col is None:
                continue
            vals = list(f.value) if isinstance(f, In) else [f.value]
            if not vals or any(not isinstance(v, bool) for v in vals):
                continue
            want_true = True in vals
            want_false = False in vals
            for i in range(1, n_iv):
                e = col[i]  # (n_true, n_false) | None
                if e is None:
                    continue
                if (not want_true or e[0] == 0) and (
                    not want_false or e[1] == 0
                ):
                    skips.add(i)
            continue
        if t not in ("double", "date", "string"):
            continue
        src = sections.get("sv" if t == "string" else "st")
        col = src.get(letters) if src else None
        if col is None:
            continue
        try:
            if isinstance(f, (EqualTo, In)):
                vals = list(f.value) if isinstance(f, In) else [f.value]
                if not vals or any(v is None for v in vals):
                    continue
                envs = [envelope(v, t) for v in vals]
                lo = min(e[0] for e in envs)
                hi = max(e[1] for e in envs)

                def empty(mn, mx, lo=lo, hi=hi):
                    return hi < mn or lo > mx
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo, hi = envelope(f.value, t)
                if t == "date" or isinstance(f, GreaterThanOrEqual):
                    # dates: any matching serial is >= the widened lower
                    # edge; doubles GTE: matching values are >= v exactly
                    def empty(mn, mx, b=lo):
                        return mx < b
                else:

                    def empty(mn, mx, b=lo):
                        return mx <= b
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                lo, hi = envelope(f.value, t)
                if t == "date" or isinstance(f, LessThanOrEqual):
                    def empty(mn, mx, b=hi):
                        return mn > b
                else:

                    def empty(mn, mx, b=hi):
                        return mn >= b
            elif isinstance(f, StringStartsWith) and t == "string":
                p0 = f.value
                if not isinstance(p0, str) or not p0:
                    continue
                up = increment_str(p0)  # strict upper bound on p0-prefixed
                # strings; None (all-U+10FFFF prefix) keeps only the
                # lower-side test

                def empty(mn, mx, p=p0, up=up):
                    return mx < p or (up is not None and mn >= up)
            else:
                continue
        except (TypeError, ValueError):
            continue
        for i in range(1, n_iv):
            st = col[i]
            if st is not None and empty(st[0], st[1]):
                skips.add(i)
    return frozenset(skips)


def _parse_bool(v: str | None, default: bool = False) -> bool:
    if v is None:
        return default
    return str(v).strip().lower() in ("true", "1", "yes")


def _resolve_paths(path: str) -> list[str]:
    """The workbooks a ``path`` option names, sorted: a glob pattern's
    matches first; when it has no glob magic, or matches nothing while
    naming an existing path, the literal directory's ``*.xlsx`` (not
    recursive; the directory part escaped, so 'batch[7]/' works) or the
    literal file ('report[2024].xlsx' is a real name). A literal path is
    returned whether or not it exists; each caller raises its own error
    for an empty or missing result."""
    if _glob.has_magic(path):
        got = sorted(_glob.glob(path))
        if got or not os.path.exists(path):
            return got
    if os.path.isdir(path):
        # A directory reads every workbook in it: the inverse of the sink
        # (one .xlsx per partition under `save(dir)`).
        return sorted(_glob.glob(os.path.join(_glob.escape(path), "*.xlsx")))
    return [path]


@dataclass
class _Options:
    paths: list[str]
    sheet_name: str | None
    sheet_index: int | None
    skip_rows: int
    has_header: bool
    user_types: list[str] | None
    force_types: bool
    coerce_to_string: bool
    threads: int
    batch_size: int
    inline_strings: bool
    filter_pushdown: bool
    columns: tuple[str, ...] | None
    max_shards: int | None = None

    @classmethod
    def from_options(cls, options) -> "_Options":
        path = options.get("path")
        if not path:
            raise ValueError("sheetreader: 'path' is required")
        paths = _resolve_paths(path)
        if not paths:
            raise ValueError("No files found in path")  # reference :648-649
        for p in paths:
            if not os.path.exists(p):
                raise ValueError(f"sheetreader: file not found: {p}")
        sheet_name = options.get("sheet_name") or None
        sheet_index = options.get("sheet_index")
        if sheet_name and sheet_index is not None:
            # reference :683-685
            raise ValueError("Sheet index & sheet name cannot be set at the same time.")
        # threads: intra-file parse parallelism (reference S4, default
        # hardware/2 there). Spark-idiomatically this is the number of
        # SHARD PARTITIONS per large file — unset ⇒ auto (size-scaled).
        threads_opt = options.get("threads")
        threads = int(threads_opt) if threads_opt is not None else 0
        if threads_opt is not None and threads <= 0:
            raise ValueError("Number of threads must be greater than 0")  # reference :712-714
        types_opt = options.get("types")
        user_types = [t.strip() for t in types_opt.split(",")] if types_opt else None
        # Reader-side column pruning (SURVEY §4.1): parse only these columns.
        # Spark 4.1 does not push required columns into Python data sources
        # (the Project sits above the BatchScan), so the pruning contract is
        # an explicit option — the ETL caller states the projection once and
        # the source skips cell decode + Arrow build for everything else.
        cols_opt = options.get("columns")
        columns = (
            tuple(c.strip() for c in cols_opt.split(",") if c.strip())
            if cols_opt
            else None
        )
        if cols_opt is not None and not columns:
            raise ValueError("sheetreader: 'columns' must name at least one column")
        # Ceiling on AUTO shard count per file (explicit `threads` is never
        # capped). Unset ⇒ cluster-aware default at planning time (see
        # _auto_shard_cap): a 10 GB sheet on a 1000-core cluster wants more
        # than a local[32] box's 32 shards.
        ms_opt = options.get("max_shards")
        max_shards = int(ms_opt) if ms_opt is not None else None
        if ms_opt is not None and max_shards <= 0:
            raise ValueError("sheetreader: 'max_shards' must be positive")
        return cls(
            paths=paths,
            sheet_name=sheet_name,
            sheet_index=int(sheet_index) if sheet_index is not None else None,
            skip_rows=int(options.get("skip_rows", "0")),
            has_header=_parse_bool(options.get("has_header")),
            user_types=user_types,
            force_types=_parse_bool(options.get("force_types")),
            coerce_to_string=_parse_bool(options.get("coerce_to_string")),
            threads=threads,
            batch_size=int(options.get("batch_size", str(DEFAULT_BATCH_SIZE))),
            inline_strings=_parse_bool(options.get("inline_strings")),
            filter_pushdown=_parse_bool(options.get("filter_pushdown")),
            columns=columns,
            max_shards=max_shards,
        )


def _auto_shard_cap(
    max_shards: int | None, default_parallelism: int | None = None
) -> int:
    """Ceiling for the size-scaled AUTO shard count of one file.

    ``max_shards`` (reader option) wins when set. Otherwise
    ``max(32, defaultParallelism)``: 32 keeps every local[32] plan
    byte-stable with rounds 1-8, while a real cluster (1000 cores ⇒
    defaultParallelism ≥ 1000) lets one 10 GB sheet feed a whole stage
    instead of 32 tasks (VERDICT r8 task 5).

    ``default_parallelism`` is captured at ``register(spark)`` time as a
    class attribute on SheetReaderDataSource and rides the pickled class
    into the planning worker (ADVICE r9: partitions() executes in a
    separate driver-side Python worker with NO active session). It is the
    one width planning reads — the same value packs small files
    (``tasks.pack_contiguous``). A reader built without it caps at 32."""
    if max_shards is not None:
        return max_shards
    if default_parallelism is not None:
        return max(32, int(default_parallelism))
    return 32


def _infer_for_file(path: str, opts: _Options) -> SheetSchema:
    with P.XlsxWorkbook(path, allow_inline=opts.inline_strings) as wb:
        sheet = wb.resolve_sheet(opts.sheet_name, opts.sheet_index)
        return infer_schema(
            wb,
            sheet,
            skip_rows=opts.skip_rows,
            has_header=opts.has_header,
            user_types=opts.user_types,
            force_types=opts.force_types,
            coerce_to_string=opts.coerce_to_string,
        )


# The two-row probe's insufficiency errors (reference parity: ConvertCellTypes
# :560-599 default branch; probe :796-829). ONLY these fall back to the
# declared schema — validation errors (bad user types, non-string header under
# has_header, …) must still surface.
_PROBE_INSUFFICIENT = (
    "Unknown cell type in column",
    "Need minimum of two rows",
    "Sheet appears to be empty",
)


def _relation_schema(opts: _Options) -> SheetSchema:
    """The relation's file layout: the first file, in order, whose two-row
    probe can type it. Any member can carry it (all share one layout by the
    sink's contract); the files it skips are read under the declared-schema
    fallback (``_infer_or_declared``). A single-file read keeps the
    reference-parity error as-is."""
    first_err: ValueError | None = None
    for p in opts.paths:
        try:
            return _infer_for_file(p, opts)
        except ValueError as err:
            if len(opts.paths) == 1 or not any(
                s in str(err) for s in _PROBE_INSUFFICIENT
            ):
                raise
            first_err = first_err or err
    raise first_err  # every member failed its probe


def _infer_or_declared(path: str, opts: _Options, declared) -> SheetSchema:
    """Per-file inference with a declared-schema fallback — a documented
    extension BEYOND reference parity (like multi-file globs): the
    reference errors when the two-row probe can't type a file (an absent
    cell in the first two data rows, a header-only workbook from an empty
    sink partition, fewer than two rows). In a directory/multi-file read
    the relation already HAS a schema — from the first file or the user —
    and the sink's contract is one layout for every file, so a file whose
    own probe is insufficient is read with the declared (names, types) of
    every file column, which ``declared()`` returns only then; its header
    row is detected by exact string-equality with the declared names.
    Single-file reads without a user schema are unaffected: their
    planning-time probe is the same call that raises here."""
    try:
        return _infer_for_file(path, opts)
    except ValueError as err:
        if not any(s in str(err) for s in _PROBE_INSUFFICIENT):
            raise
        names, types = declared()
        with P.XlsxWorkbook(path, allow_inline=opts.inline_strings) as wb:
            sheet = wb.resolve_sheet(opts.sheet_name, opts.sheet_index)
            first = next(
                iter(
                    wb.iter_rows(
                        sheet, skip_rows=opts.skip_rows, chunk_bytes=256 << 10
                    )
                ),
                [],
            )
            decoded: list | None = []
            for col, ctype, val in first:
                if ctype == P.T_STRING_REF:
                    decoded.append((col, wb.shared_strings_lazy()[val]))
                elif ctype == P.T_STRING_LIT:
                    decoded.append((col, val))
                else:
                    decoded = None
                    break
            header = decoded is not None and [
                v for _, v in sorted(decoded)
            ] == list(names)
        return SheetSchema(
            names=list(names),
            types=list(types),
            skip_rows=opts.skip_rows + (1 if header else 0),
            n_detected_columns=len(names),
            header_detected=header,
        )


class SheetReaderDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sheetreader"

    def schema(self):
        stat_checked_zip_invalidation()
        opts = _Options.from_options(self.options)
        inferred = _relation_schema(opts)
        fields = {
            n: StructField(n, _SQL_TO_SPARK[t], nullable=True)
            for n, t in zip(inferred.names, inferred.types)
        }
        if opts.columns is not None:
            missing = [c for c in opts.columns if c not in fields]
            if missing:
                raise ValueError(
                    f"sheetreader: 'columns' not in the sheet: {missing} "
                    f"(available: {list(fields)})"
                )
            return StructType([fields[c] for c in opts.columns])
        return StructType(list(fields.values()))

    # Set by register(spark) BEFORE spark.dataSource.register pickles this
    # class, so the planning worker sees the real cluster width (ADVICE r9).
    _cluster_default_parallelism: int | None = None

    def reader(self, schema: StructType) -> "SheetReaderReader":
        stat_checked_zip_invalidation()
        return SheetReaderReader(
            self.options, schema,
            default_parallelism=type(self)._cluster_default_parallelism,
        )

    def simpleStreamReader(self, schema: StructType) -> "SheetReaderStreamReader":
        return SheetReaderStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "SheetReaderWriter":
        # Distributed XLSX sink: df.write.format("sheetreader").save(dir)
        # writes one workbook per non-empty partition (part-<pid>[-k].xlsx),
        # each readable by this source — the write-side mirror of the
        # partition-per-file scan (no reference analog: the reference only
        # reads, sheetreader_extension.cpp:233-350).
        path = self.options.get("path")
        if not path:
            raise ValueError("sheetreader write requires a directory path")
        supported = (StringType, DoubleType, BooleanType, DateType)
        for f in schema.fields:
            if not isinstance(f.dataType, supported) and not f.dataType.typeName() in (
                "integer", "long", "float",
            ):
                raise ValueError(
                    f"sheetreader write: column {f.name!r} has unsupported type "
                    f"{f.dataType.simpleString()} (XLSX cells are "
                    "string/double/boolean/date; cast first)"
                )
        max_rows = int(self.options.get("max_rows_per_file", "1000000"))
        if not 0 < max_rows <= 1_048_575:
            raise ValueError("max_rows_per_file must be in (0, 1048575]")
        if overwrite and os.path.isdir(path):
            for fn in os.listdir(path):
                if fn.endswith(".xlsx"):
                    os.remove(os.path.join(path, fn))
        os.makedirs(path, exist_ok=True)
        import uuid

        token = uuid.uuid4().hex[:12]  # job token: scopes the staging dir
        os.makedirs(os.path.join(path, f".staging-{token}"), exist_ok=True)
        return SheetReaderWriter(
            path,
            [f.name for f in schema.fields],
            self.options.get("sheet_name", "Sheet1"),
            max_rows,
            _parse_bool(self.options.get("date1904")),
            token,
            index_stats=_parse_bool(self.options.get("index_stats")),
        )


@dataclass
class _WriteCommit(WriterCommitMessage):
    # (staged tmp name, final part name) pairs published at commit time.
    renames: tuple = ()
    rows: int = 0


class SheetReaderWriter(DataSourceWriter):
    """Executor-side XLSX writer: each partition streams its rows into
    fixed-size workbooks through IncrementalXlsxWriter (shared strings,
    <dimension> row-count tag, both date systems — cell encoding shared
    with the fixture writer), so everything this sink writes the source
    reads back exactly. Memory per task is O(unique strings) + one row:
    rows spool to disk and stream into the zip at file close, never
    accumulating ``max_rows_per_file`` rows in a Python list.

    Commit protocol: tasks stage files (and their row spools) inside a
    job-scoped staging DIRECTORY ``.staging-<job>/`` (dot-prefixed —
    invisible to ``load(dir/*.xlsx)``), named ``<attempt>-part-*`` so
    concurrent speculative attempts never collide; the driver's
    ``commit(messages)`` publishes exactly the winning attempts' files via
    rename out of staging, then removes the whole staging directory;
    ``abort()`` removes the directory outright. Removing the DIRECTORY is
    what makes cleanup race-free: a straggler task that finishes after the
    job already failed tries to assemble its workbook inside a path that
    no longer exists and errors out in its own worker — it cannot leak a
    file into the table directory. A failed or aborted job therefore
    leaves no visible workbook and no staged bytes behind."""

    def __init__(
        self, path, names, sheet_name, max_rows, date1904, token,
        index_stats: bool = False,
    ):
        self.path = path
        self.names = list(names)
        self.sheet_name = sheet_name
        self.max_rows = max_rows
        self.date1904 = date1904
        self.token = token
        # Opt-in (`index_stats`): per-interval min/max stats in each
        # part's split index, enabling filter-driven interval pruning on
        # read-back without a retrofit pass. Off by default — the
        # collector's cell-regex + float-fold is a write-path tax.
        self.index_stats = index_stats

    def _staging_dir(self) -> str:
        return os.path.join(self.path, f".staging-{self.token}")

    def _tmp_name(self, attempt: int, final: str) -> str:
        return os.path.join(f".staging-{self.token}", f"{attempt}-{final}")

    def write(self, iterator) -> _WriteCommit:
        stat_checked_zip_invalidation()
        from pyspark import TaskContext

        from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        renames: list[tuple[str, str]] = []
        total = 0
        w: IncrementalXlsxWriter | None = None
        w_tmp = w_final = ""
        rows_in_file = 0
        n_cols = len(self.names)

        def open_file() -> None:
            nonlocal w, w_tmp, w_final, rows_in_file
            w_final = f"part-{pid:05d}-{len(renames):03d}.xlsx"
            w_tmp = self._tmp_name(attempt, w_final)
            # Staged workbook AND its spool live inside the staging dir —
            # created ONCE driver-side (writer()); tasks never recreate it,
            # so after commit/abort removes it a straggler's open fails in
            # its own worker instead of resurrecting the directory.
            w = IncrementalXlsxWriter(
                os.path.join(self.path, w_tmp),
                self.sheet_name,
                self.date1904,
                stats=self.index_stats,
            )
            w.write_row(list(self.names))
            rows_in_file = 0

        try:
            for row in iterator:
                if w is None:
                    open_file()
                w.write_row([row[i] for i in range(n_cols)])
                rows_in_file += 1
                total += 1
                if rows_in_file >= self.max_rows:
                    w.close()
                    renames.append((w_tmp, w_final))
                    w = None
            if w is not None:
                w.close()
                renames.append((w_tmp, w_final))
                w = None
        except BaseException:
            if w is not None:
                w.abandon()
            raise
        return _WriteCommit(renames=tuple(renames), rows=total)

    def _sweep_staged(self) -> None:
        # Remove the whole job staging directory: winning files were already
        # renamed out; everything left (losing attempts, hard-killed tasks'
        # spools) goes with the directory, and any straggler still writing
        # in it errors in its own worker instead of leaking into the table.
        import shutil

        shutil.rmtree(self._staging_dir(), ignore_errors=True)

    def commit(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for tmp, final in m.renames:
                os.replace(os.path.join(self.path, tmp), os.path.join(self.path, final))
        self._sweep_staged()

    def abort(self, messages) -> None:
        self._sweep_staged()


@dataclass
class _SheetPartition(InputPartition):
    # The files this task reads, in input order. More than one only for
    # packed whole files (n_shards == 1); a shard reads one file.
    paths: tuple
    shard: int = 0
    n_shards: int = 1
    # Filters pushed during THIS query's planning, embedded per partition so
    # execution state never outlives the plan that produced it (the reader
    # instance is shared across every query on the relation).
    filters: tuple = ()


class SheetReaderReader(DataSourceReader):
    def __init__(self, options, schema: StructType, default_parallelism=None):
        self.opts = _Options.from_options(options)
        self.schema = schema
        # Cluster width captured at register() time (ADVICE r9: this
        # reader plans inside a driver-side Python worker where NO active
        # SparkSession exists, so the value must be plumbed in). It caps
        # auto shards and packs small files; None plans one partition per
        # small file and caps shards at 32.
        self._default_parallelism = default_parallelism
        self._staged_filters: tuple = ()
        self.col_types = []
        for f in schema.fields:
            sql_t = _SPARK_TO_SQL.get(f.dataType.typeName())
            if sql_t is None:
                raise ValueError(
                    f"sheetreader supports only VARCHAR/DOUBLE/BOOLEAN/DATE columns, "
                    f"got {f.dataType.simpleString()} for column '{f.name}'"
                )
            self.col_types.append(sql_t)

    def pushFilters(self, filters):
        """Absorb the comparison/In/null/string filters we can evaluate
        exactly (SURVEY.md §7 PR4 — reader-side pruning): matching rows are
        selected by vectorized Arrow compute BEFORE batches cross the
        Python→JVM boundary, which is where a Python data source pays.
        Everything else is returned for Spark to evaluate.

        OPT-IN (``filter_pushdown=true``), off by default: Spark 4.1 caches
        the planned scan per relation and only re-plans (pushFilters →
        partitions) when the new query carries filters. Measured boundary
        (pinned end-to-end in tests/test_xlsx_pushdown.py
        test_relation_reuse_boundary_pins_the_optin_rationale):

        - fresh ``spark.read...load(...)`` chains: always safe (each builds
          its own relation — the normal ETL shape, and this repo's corpus);
        - distinct filter predicates on ONE loaded DataFrame: safe (every
          filtered query calls pushFilters and re-plans);
        - a FILTERLESS query on a DataFrame whose relation previously
          absorbed filters: REUSES the filtered scan — silently missing
          rows. This is the sole unsafe shape, it cannot be detected from
          inside the source (Spark gives no callback on a filterless
          re-use), and it is why the default stays off. The pinned test
          flips the moment a Spark upgrade re-plans that case — the signal
          that the default can flip to on.

        With the option off, every filter is returned untouched and no
        state exists. The accepted set is staged here and consumed by the
        next partitions() call, which embeds it into this plan's partition
        objects; read() takes filters from the partition, never the reader."""
        # A planned-but-unexecuted query can leave a staged set behind
        # (pushFilters ran, partitions() never did). Reset on every push so
        # stale filters from an abandoned plan can't leak into this one.
        self._staged_filters = ()
        if not self.opts.filter_pushdown:
            return filters
        accepted, remaining = [], []
        for f in filters:
            if supported_pushdown_filter(f, self.schema):
                accepted.append(f)
            else:
                remaining.append(f)
        self._staged_filters = tuple(accepted)
        return remaining

    def partitions(self):
        """Large files are split into chunk round-robin shards, one
        partition each — the Spark answer to the reference's interleaved
        parse threads (S4/S14): every shard streams the same decompressed
        bytes (zlib is C-speed and cheap) but cell-parses only its assigned
        </row>-aligned chunks, so the expensive scan divides across executor
        cores. Result-invariant: shard assignment is deterministic and the
        union of shards is exactly the file's rows.

        Each run of consecutive single-shard files is packed into at most
        one partition per core of the cluster (``tasks.pack_contiguous``
        over the captured width): a Python task's fixed start-up cost
        outweighs parsing a small workbook, so the task count follows the
        cluster, not the file count. Partitions keep input order, so rows
        come out in the same order as one partition per file. Without a
        captured width every small file keeps its own partition.
        """
        filters = self._staged_filters
        plan = [(p, *self._file_shards(p)) for p in self.opts.paths]
        parts = []
        for single, run in groupby(plan, key=lambda e: e[2] == 1):
            run = list(run)
            if single:
                parts.extend(
                    _SheetPartition(tuple(g), filters=filters)
                    for g in pack_contiguous(
                        [p for p, _, _ in run], [s for _, s, _ in run],
                        self._default_parallelism,
                    )
                )
                continue
            for p, _, n in run:
                parts.extend(
                    _SheetPartition((p,), shard=i, n_shards=n, filters=filters)
                    for i in range(n)
                )
        # Consume the staged set: it belongs to this plan only. A later
        # filterless query on the same (shared) reader must see none of it.
        self._staged_filters = ()
        return parts

    def _file_shards(self, p: str) -> tuple[int, int]:
        """(compressed bytes, shard count) of one file."""
        try:
            size = os.path.getsize(p)
        except OSError:
            size = 0
        if self.opts.threads > 0:
            return size, self.opts.threads  # explicit, like the reference's S4
        # Auto: ~1 shard per compressed MB, capped cluster-aware
        # (max(32, defaultParallelism), or the max_shards option)
        # so a single big file can feed every core of the executor
        # fleet, not just a local[32] box's 32 tasks.
        auto = n = max(1, min(
            _auto_shard_cap(self.opts.max_shards, self._default_parallelism),
            size >> 20,
        ))
        # Whole waves: past the captured width, a count that is not a
        # multiple of it leaves most cores idle in its last wave (5
        # shards on 4 cores run as 4 + 1). Rounding down keeps every
        # wave full; a max_shards option is the user's own count.
        w = self._default_parallelism
        if w and n > w and self.opts.max_shards is None:
            n -= n % w
        # String-heavy refinement: every shard pays an O(sst) fixed
        # cost (decompress + offset-index the shared-string heap),
        # while the row scan divides by n — so when the heap rivals
        # the sheet in bytes, more shards just multiply overhead.
        # Cap n at ~8 shards per sheet/sst byte ratio (zip central
        # directory read only — no decompression at planning).
        # Measured on the 800k-unique-string partsupp witness
        # (sheet 139 MB, sst 123 MB → cap 9): 6-10 shards 4.7 s,
        # 16 → 8.0 s, 24 → 9.2 s. Numeric/deduped sheets have
        # tiny heaps and keep the size-based count. Probed only
        # when the size-based count passes 4 (before the whole-wave
        # rounding, so a 5-7 MB file still gets the prune-aware cap):
        # a many-small-file directory read never pays per-file zip
        # metadata reads at planning.
        if auto <= 4:
            return size, n
        # One metadata open serves both planning probes (r11
        # review: the sst probe and the prune block used to open
        # the same zip twice per filtered file).
        try:
            with P.XlsxWorkbook(p) as wb:
                info = {i.filename: i.file_size for i in wb.zf.infolist()}
                # A split-indexed heap removes the per-shard sst
                # fixed cost entirely (each shard inflates only
                # the intervals its rows reference), so the cap
                # below would just throttle a cost that no longer
                # exists — keep the size-based fan-out.
                sst_indexed = SI.decode_sst_index(wb.zf) is not None
                sst_u = info.get("xl/sharedStrings.xml", 0)
                sheet_u = max(
                    (v for k, v in info.items() if k.startswith("xl/worksheets/")),
                    default=0,
                )
                if sst_u > 0 and sheet_u > 0 and not sst_indexed:
                    n = max(1, min(n, round(8 * sheet_u / sst_u)))
                # Prune-aware fan-out (r11): a selective filter
                # on a stats-indexed file should not schedule a
                # task per interval it will never inflate — at
                # fleet scale a point lookup must not fan out
                # 1000 no-op tasks. Planning-time only (read-time
                # skips are recomputed per partition and own
                # correctness); applied only without a `columns`
                # option, where output names map to file columns
                # by position. An unreadable file keeps the
                # size-based n.
                if (
                    self._staged_filters
                    and self.opts.columns is None
                    and not self.opts.coerce_to_string
                    and n > 1
                ):
                    sheet = wb.resolve_sheet(
                        self.opts.sheet_name, self.opts.sheet_index
                    )
                    pts = SI.decode_split_index(wb.zf, sheet.path)
                    skips = _interval_skips(
                        wb, sheet.path, pts, self._staged_filters,
                        self.schema,
                        [f.name for f in self.schema.fields],
                    )
                    if skips is not None:
                        n = max(1, min(n, len(pts) - len(skips)))
        except P._UNREADABLE_WORKBOOK:
            pass  # the read of this file fails with the real error
        return size, n

    def read(self, partition: _SheetPartition):
        # Task boundary on this (possibly reused) worker: let the pinned
        # lazy sst heap drop the previous task's interval cache (r12).
        # Bumped at CALL time, not first iteration (read() itself is not
        # a generator), so a caller that materializes the iterator early
        # doesn't bump mid-way through another task's drain. One-task-
        # at-a-time consumption is still assumed — that is how Spark
        # workers drive partitions; interleaving two live reads in one
        # process would only cost re-inflation, never correctness.
        stat_checked_zip_invalidation()
        P.bump_sst_epoch()
        return self._read_masked(partition)

    def _read_masked(self, partition: _SheetPartition):
        """Each file of the partition in order, read as its own task would
        be: per-file probe, skip rows, pushed filters and mask."""
        mask = _filter_mask_builder(partition.filters, self.schema)
        for k, path in enumerate(partition.paths):
            if k:
                P.bump_sst_epoch()  # a packed file starts like a new task
            for batch in self._read_unfiltered(path, partition):
                if mask is None:
                    yield batch
                    continue
                out = mask(batch)
                if out.num_rows:
                    yield out

    def _read_unfiltered(self, path: str, partition: _SheetPartition):
        opts = self.opts
        n_cols = len(self.col_types)
        # Per-file probe: header detection / skip accounting is per file; the
        # global schema (names/types) comes from the first file (or the
        # user), and is the fallback when this file's probe is insufficient.
        file_schema = _infer_or_declared(path, opts, self._file_layout)
        if opts.columns is None:
            if file_schema.n_detected_columns > n_cols:
                raise ValueError(
                    f"File {path} has more columns than the schema. "
                    f"Has: {file_schema.n_detected_columns} Expected: {n_cols}"
                )
            # Identity mapping: output column i IS file column i.
            keep = list(range(n_cols))
        else:
            # Pruned read: map each FILE column to its output slot (None →
            # dropped; its cells are never decoded and never reach Arrow).
            out_by_name = {f.name: i for i, f in enumerate(self.schema.fields)}
            keep = [out_by_name.get(n) for n in file_schema.names]
            present = {n for n in file_schema.names if n in out_by_name}
            missing = [c for c in out_by_name if c not in present]
            if missing:
                raise ValueError(
                    f"sheetreader: 'columns' not in {path}: {missing}"
                )
        yield from self._read_columnar(
            path, file_schema, partition.shard,
            partition.n_shards, keep, partition.filters,
        )

    def _file_layout(self) -> tuple[list[str], list[str]]:
        """(names, types) of every file column, in file order: the declared
        schema of a file whose own probe is insufficient. A ``columns=``
        read's output schema holds only the kept columns, so it re-derives
        the relation's layout the way ``schema()`` does."""
        if self.opts.columns is None:
            return [f.name for f in self.schema.fields], self.col_types
        full = _relation_schema(self.opts)
        return full.names, full.types

    def _read_columnar(
        self, path: str, file_schema, shard: int, n_shards: int,
        keep: list, filters: tuple,
    ):
        """The partition reader, for every option: regex-scan chunks into
        per-column raw byte lists; type with Arrow.

        The chunks come from ``XlsxWorkbook._drive_chunks``; this method
        supplies only the per-chunk ``step``. Cell semantics (SURVEY.md
        §1.4): absent / T_NONE / T_ERROR / type-mismatched cells → NULL.
        A chunk whose rows all match chunk 0's dense template is extracted
        by one findall under any option. Off it, typed reads scan raw cell
        bytes per row (irregular chunks and rows through the expat walker,
        ``parser._fragment_rows``); coerce and inline reads take
        ``parser._scan_chunk``. Chunk 0 is one more chunk: ``_drive_chunks``
        hands it over past the sheetData opener, and a shard that does not
        own it only builds the template and counts its rows. A member the
        driver cannot cut (no sheetData opener) is walked whole by shard 0
        (``_iter_rows_expat``). Row-shaped results become Arrow through
        ``_rows_to_batches``.

        ``keep`` maps file column index → output slot (None = pruned). A
        pruned column's cells are dropped at the raw-bytes stage: no shared-
        string take, no numeric/date cast, no Arrow array build — the parse
        cost of a 100-column sheet read for 3 columns is the regex row scan
        plus 3 columns of decode, not 100.
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        opts = self.opts
        col_types = self.col_types
        n_cols = len(col_types)
        n_file = len(keep)
        names = [f.name for f in self.schema.fields]
        exp_codes = [("VARCHAR", "DOUBLE", "BOOLEAN", "DATE").index(t) for t in col_types]
        rowwise = opts.coerce_to_string or opts.inline_strings

        with P.XlsxWorkbook(path, allow_inline=opts.inline_strings) as wb:
            sheet = wb.resolve_sheet(opts.sheet_name, opts.sheet_index)
            # LAZY heap: a shard decodes only the string entries its own
            # rows reference (offset index up front, per-batch selective
            # decode in finalize) — the eager full-heap materialization
            # made every shard pay O(heap) CPU + allocations, which under
            # 32 concurrent workers saturated memory bandwidth and made
            # auto-sharding SLOWER than one thread on string-heavy sheets
            # (the partsupp witness; BENCHNOTES round 8).
            heap = wb.shared_strings_lazy()
            date_styles = wb.date_styles
            is_date_style: dict[bytes, bool] = {b"": False}
            colmap: dict[bytes, int] = {}
            dense = None  # (compiled row regex, out slots) once chunk 0 seen

            def build(rows):
                return _rows_to_batches(
                    rows, keep, n_file, col_types, names, heap,
                    opts.coerce_to_string, opts.batch_size,
                )

            def finalize(raw_cols: list[list]):
                """Raw bytes-or-None columns → typed Arrow RecordBatch."""
                arrays = []
                for i, code in enumerate(exp_codes):
                    s = pa.array(raw_cols[i], type=pa.binary())
                    # b"" is a cell the dense row pattern found absent
                    # (the generic scan appends None): NULL either way.
                    absent = pc.equal(pc.binary_length(s), 0)
                    if pc.any(absent).as_py():
                        s = pc.if_else(absent, pa.scalar(None, pa.binary()), s)
                    s = s.cast(pa.string())
                    if code == 0:  # VARCHAR ← shared-string index
                        # Selective decode: unique refs in THIS batch →
                        # small local heap → vectorized index_in + take
                        # (null refs map to null positions → null takes,
                        # the same NULL semantics as the full-heap take).
                        idx = s.cast(pa.int32())
                        uniq = pc.unique(idx.drop_null())
                        # Bulk decode first: one findall per consecutive
                        # run + one Arrow cast, no per-entry Python
                        # (SharedStringHeap.decode_many_arrow); scalar
                        # per-entry decode for shapes it declines.
                        small = None
                        if hasattr(heap, "decode_many_arrow") and len(uniq):
                            small = heap.decode_many_arrow(uniq.to_numpy())
                        if small is None:
                            small = pa.array(
                                heap.decode_many(uniq.to_pylist())
                                if hasattr(heap, "decode_many")
                                else [heap[j] for j in uniq.to_pylist()],
                                type=pa.string(),
                            )
                        if idx.null_count == 0 and len(uniq) == len(idx):
                            # All refs distinct and non-null (the unique-
                            # comment shape, e.g. partsupp): uniq preserves
                            # first-occurrence order, so the decoded array
                            # IS the column — skip the index_in + take.
                            arrays.append(small)
                        else:
                            pos = pc.index_in(idx, value_set=uniq)
                            arrays.append(pc.take(small, pos))
                    elif code == 1:  # DOUBLE
                        arrays.append(s.cast(pa.float64()))
                    elif code == 2:  # BOOLEAN (b-cell payload: 1/0/true/false)
                        truth = pc.is_in(
                            pc.utf8_trim_whitespace(s),
                            value_set=pa.array(P.BOOL_TRUE_TEXTS),
                        )
                        if pc.any(pc.match_substring(s, "&")).as_py():
                            # Entity-encoded payloads take the scalar rule.
                            truth = pa.array(
                                [
                                    P._bool_payload(v) if v and b"&" in v else t
                                    for v, t in zip(raw_cols[i], truth.to_pylist())
                                ],
                                type=pa.bool_(),
                            )
                        # is_in maps null→false; if_else restores the nulls.
                        arrays.append(
                            pc.if_else(
                                pc.is_valid(s), truth,
                                pa.scalar(None, type=pa.bool_()),
                            )
                        )
                    else:  # DATE — replicate (int)(serial_to_epoch_secs/86400)
                        serial = s.cast(pa.float64())
                        if wb.date1904:
                            secs = pc.multiply(pc.subtract(serial, 24107.0), 86400.0)
                        else:
                            # 1900 leap quirk (parser.serial_to_epoch_secs):
                            # serials < 61 shift a day; phantom 60 → Feb 28.
                            eff = pc.if_else(
                                pc.less(serial, 61.0),
                                pc.add(pc.min_element_wise(serial, pa.scalar(59.0)), 1.0),
                                serial,
                            )
                            secs = pc.multiply(pc.subtract(eff, 25569.0), 86400.0)
                        days = pc.trunc(pc.divide(secs, 86400.0))
                        arrays.append(days.cast(pa.int32()).cast(pa.date32()))
                return pa.RecordBatch.from_arrays(arrays, names=names)

            skip_n = file_schema.skip_rows
            batch_rows = 0
            raw_cols: list[list] = [[] for _ in range(n_cols)]

            def flush():
                nonlocal batch_rows, raw_cols
                out = finalize(raw_cols)
                raw_cols = [[] for _ in range(n_cols)]
                batch_rows = 0
                return out

            def take_dense(dm):
                """Append dense-row matches (tuples already in column
                order) to the raw columns; yield every full batch."""
                nonlocal batch_rows, raw_cols
                slots = dense[1]
                if len(slots) == 1:
                    raw_cols[slots[0]].extend(dm)
                else:
                    # Column extract via itemgetter, NOT zip(*dm):
                    # unpacking a million-tuple argument list measured
                    # 3.5× slower than the per-column C-speed map
                    # (partsupp 1T profile, r10).
                    for j, out in enumerate(slots):
                        raw_cols[out].extend(map(_op.itemgetter(j), dm))
                batch_rows += len(dm)
                while batch_rows >= opts.batch_size:
                    take = opts.batch_size
                    head = [c[:take] for c in raw_cols]
                    raw_cols = [c[take:] for c in raw_cols]
                    batch_rows -= take
                    yield finalize(head)

            def scan(work: bytes, pfx: bytes, ordinal: int):
                """A coerce or inline read's owned chunk off the dense
                path: ``iter_rows``' chunk scan, its rows into the
                builder. A chunk wholly below ``skip_rows`` is counted,
                never scanned; one straddling it is scanned from its
                first kept row."""
                cut = max(0, skip_n - ordinal)
                if cut:
                    n = P._chunk_rows(work, pfx)
                    if cut >= n:
                        return n
                    work = work[P._row_offset(work, pfx, cut):]
                if batch_rows:
                    yield flush()
                rows = P._scan_chunk(
                    work, colmap, date_styles, wb.date1904,
                    opts.inline_strings, pfx,
                )
                yield from build(rows)
                return cut + len(rows)

            def step(work: bytes, pr, first: bool, assigned: bool, ordinal: int):
                """One row-aligned chunk into the raw columns: the chunk
                step of ``XlsxWorkbook._drive_chunks``. Yields finished
                Arrow batches, returns the chunk's row count."""
                nonlocal batch_rows, dense
                pfx = pr.pfx
                # Dense-row fast path (parser.build_dense_row_re): one
                # findall per chunk, tuples already in column order — no
                # per-row regex, no per-cell Python. Only when the chunk's
                # match count equals its row count, so any row deviating
                # from the template falls back to the generic scan below,
                # which produces identical cells.
                if (
                    dense and not first and ordinal >= skip_n
                    and not P.foreign_row_evidence(work, pfx)
                ):
                    # One memchr pass in the steady case: every dense
                    # match starts "<row " / "<row>", which cannot match
                    # "<rowBreaks", so matches ≤ true rows ≤ the raw
                    # "<row" prefix count — equality with the raw count
                    # proves no rowBreaks AND all rows matched. Only on
                    # mismatch pay the second pass to subtract rowBreaks.
                    # The foreign_row_evidence guard keeps rows under
                    # ANOTHER prefix from hiding behind that equality.
                    n_raw = work.count(pr.row_start)
                    dm = dense[0].findall(work)
                    n = (
                        n_raw
                        if len(dm) == n_raw
                        else n_raw - work.count(pr.rowb_start)
                    )
                    if len(dm) == n:
                        yield from take_dense(dm)
                        return n
                if rowwise and not first:
                    return (yield from scan(work, pfx, ordinal))
                row_matches = pr.row_re.findall(work)
                # Mixed-prefix chunks get the exact any-prefix count, which
                # routes them to the fragment walk instead of silently
                # dropping foreign rows.
                n = P._chunk_rows(work, pfx)
                if first:
                    # Template = chunk 0's last row that compiles (every
                    # shard sees chunk 0, so the compiled pattern is
                    # identical across shards).
                    dense = next(filter(None, (
                        P.build_dense_row_re(b, keep, exp_codes, date_styles, pfx)
                        for b in reversed(row_matches)
                    )), None)
                    if not assigned:
                        return n
                    # Dense-extract chunk 0 itself: findall from the first
                    # kept row's byte offset, only when the scan saw every
                    # row. A non-matching row drops to the paths below,
                    # which produce identical cells.
                    if dense and skip_n < n and len(row_matches) == n:
                        off = P._row_offset(work, pfx, skip_n) if skip_n else 0
                        dm = dense[0].findall(work, off)
                        if len(dm) == n - skip_n:
                            yield from take_dense(dm)
                            return n
                    if rowwise:
                        return (yield from scan(work, pfx, ordinal))
                if len(row_matches) != n:
                    # Irregular chunk owned by this shard, walked from its
                    # first kept row (past them all: an empty walk).
                    if batch_rows:
                        yield flush()
                    if ordinal < skip_n:
                        work = work[P._row_offset(work, pfx, skip_n - ordinal):]
                    yield from build(
                        P._fragment_rows(work, date_styles, wb.date1904)
                    )
                    return n
                for body in row_matches[max(0, skip_n - ordinal):]:
                    ms = pr.cell_re.findall(body)
                    if len(ms) != len(pr.cell_count_re.findall(body)):
                        # Irregular row: fragment-parse just this row.
                        if batch_rows:
                            yield flush()
                        yield from build(P._fragment_rows(
                            b"<" + pfx + b"row>" + body + b"</" + pfx + b"row>",
                            date_styles, wb.date1904,
                        ))
                        continue
                    row = [None] * n_cols
                    for letters, s_attr, t_attr, v in ms:
                        col = colmap.get(letters)
                        if col is None:
                            col = colmap[letters] = P.column_index(letters.decode())
                        if col >= n_file:
                            raise ValueError(
                                f"Row has more columns than the first row. "
                                f"Has: {col + 1} Expected: {n_file}"
                            )
                        out = keep[col]
                        if out is None:
                            continue  # pruned column: raw bytes dropped here
                        if not v:
                            continue  # absent / empty cell → NULL
                        code = exp_codes[out]
                        if not t_attr or t_attr == b"n":
                            dated = is_date_style.get(s_attr)
                            if dated is None:
                                dated = is_date_style[s_attr] = int(s_attr) in date_styles
                            if code == (3 if dated else 1):
                                row[out] = v
                        elif t_attr == b"s":
                            if code == 0:
                                row[out] = v
                        elif t_attr == b"b":
                            if code == 2:
                                row[out] = v
                        elif t_attr in (b"str", b"inlineStr"):
                            raise ValueError(P.UNSUPPORTED_STRING_ERROR)
                        # t="e" / unknown → NULL (stays None)
                    for i in range(n_cols):
                        raw_cols[i].append(row[i])
                    batch_rows += 1
                    if batch_rows >= opts.batch_size:
                        yield flush()
                return n

            # Interval pruning: intervals the split index's stats prove
            # empty of matches are never inflated. Never under coerce
            # (r12): coerced NUMERIC/BOOL/DATE cells become strings the sv
            # bounds (t="s" values only) do not cover. Typed and inline
            # reads stay sound: mismatched types decode to NULL, and
            # intervals holding inline strings carry no claims (ADVICE r12).
            skip_ivals: frozenset = frozenset()
            if filters and not opts.coerce_to_string:
                skip_ivals = _interval_skips(
                    wb, sheet.path, SI.decode_split_index(wb.zf, sheet.path),
                    filters, self.schema, file_schema.names,
                ) or frozenset()
            try:
                yield from wb._drive_chunks(
                    sheet, step, shard, n_shards, skip_ivals, skip_rows=skip_n
                )
            except P._FastPathUnsupported:
                # Raised before any row, alike on every shard: shard 0
                # alone walks the whole member.
                if shard == 0:
                    yield from build(wb._iter_rows_expat(sheet, skip_n))
                return
            if batch_rows:
                yield finalize(raw_cols)


class SheetReaderStreamReader(SimpleDataSourceStreamReader):
    """File-arrival streaming ingest of spreadsheets (SURVEY.md §7 PR6).

    Offset = the sorted list of files already processed; each microbatch
    reads every file newly matching the glob. Replay between two committed
    offsets re-parses the file-set difference — parsing is deterministic, so
    recovery is exact. Beyond-reference by construction (the reference is
    batch-only and single-file, src/sheetreader_extension.cpp:644-651).
    """

    def __init__(self, options, schema: StructType):
        self.raw_path = options.get("path") or ""
        self.options = dict(options)
        self.schema = schema

    def _current_files(self) -> list[str]:
        return [p for p in _resolve_paths(self.raw_path) if os.path.exists(p)]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict):
        stat_checked_zip_invalidation()
        seen = set(start.get("processed", []))
        new = [f for f in self._current_files() if f not in seen]
        end = {"processed": sorted(seen | set(new))}
        # A list, not a generator: pyspark's prefetch cache copy.copy()s the
        # returned value to allow re-reads (datasource_internal.getCache).
        return list(self._rows(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        stat_checked_zip_invalidation()
        new = sorted(set(end.get("processed", [])) - set(start.get("processed", [])))
        return list(self._rows(new))

    def _rows(self, paths: list[str]):
        """Each new file's rows, read by the batch reader."""
        opts = dict(self.options)
        for path in paths:
            opts["path"] = path
            reader = SheetReaderReader(opts, self.schema)
            for b in reader.read(_SheetPartition((path,))):
                yield from zip(*[c.to_pylist() for c in b.columns])


def row_count(
    path: str,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    has_header: bool = False,
    inline_strings: bool = False,
    trust_dimension: bool = False,
) -> int:
    """Data-row count without cell conversion — the ``COUNT(*)`` fast path
    the reference leaves on the table (it knows mDimension at bind,
    sheetreader_extension.cpp:783-786, yet replays the full parse;
    SURVEY.md §3.3).

    Default path: stream the decompressed sheet and regex-count ``<row>``
    tags (``XlsxWorkbook.count_rows``) — no cell parse, no shared-string
    resolution, and exactly equal to what a scan yields even on SPARSE
    sheets (omitted ``<row>`` elements) or files with a stale/over-wide
    ``<dimension>`` tag, both common in third-party writers.

    ``trust_dimension=True`` serves the count from the ``<dimension>`` tag
    alone (row span minus the effective skip; the only parsing is the
    two-row schema probe). PRECONDITION: the sheet must be dense — every
    row in the dimension span present as a ``<row>`` element — and the tag
    accurate. Files written by this package's ``write_xlsx`` satisfy this;
    for unknown writers the tag can over-count, silently disagreeing with
    the scan, so the streaming count is the default.
    """
    with P.XlsxWorkbook(path, allow_inline=inline_strings) as wb:
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        schema = infer_schema(
            wb, sheet, skip_rows=skip_rows, has_header=has_header
        )
        if trust_dimension:
            dim = wb.dimension(sheet)
            if dim is not None:
                return max(0, dim[0] - schema.skip_rows)
        # Split-indexed files serve the count from the index terminal —
        # near-O(1) instead of streaming the member (a 10 GB sheet's
        # count should not cost a full inflate). Unlike the opt-in
        # <dimension> shortcut, this stays DEFAULT-ON because it
        # self-validates (r11 review: an unvalidated comment could go
        # stale while remaining structurally decodable): interval 0 is
        # inflated and its parsed row count checked against the recorded
        # one — the same check every sharded read applies — and a
        # disagreement (count mismatch, inflate failure, unreadable local
        # header) falls back to the exact streaming count. Any other
        # error is a bug and propagates.
        pts = SI.decode_split_index(wb.zf, sheet.path)
        if pts is not None:
            try:
                for _i, work, rows_in in SI.iter_intervals(
                    wb.path, wb.zf, sheet.path, pts[:1], 0, 1
                ):
                    if P.count_any_row_starts(work) != rows_in:
                        raise ValueError("interval-0 count mismatch")
                return max(0, pts[-1][1] - schema.skip_rows)
            except (ValueError, OSError):
                pass  # stale/corrupt index: the streaming count is exact
        return max(0, wb.count_rows(sheet) - schema.skip_rows)


def _rows_to_batches(rows, keep, n_file, col_types, names, heap, coerce, batch_size):
    """Rows of ``(col, ctype, value)`` cells → Arrow batches of at most
    ``batch_size`` rows: the one row-shaped decode of the read path.
    Reference TypesCompatible + SetCell semantics (src/sheetreader_
    extension.cpp:139-250): type-mismatched / T_NONE / T_ERROR cells →
    NULL (SURVEY.md §1.4); under ``coerce`` a VARCHAR cell of any type
    is formatted by ``_coerce_to_string``. ``keep`` maps file column →
    output slot (None = pruned: skipped before any decode work)."""
    import pyarrow as pa

    n_cols = len(col_types)
    # Integer codes for the hot loop: expected 0=VARCHAR 1=DOUBLE
    # 2=BOOLEAN 3=DATE; cell ctypes are parser constants (T_* ints).
    exp_codes = [("VARCHAR", "DOUBLE", "BOOLEAN", "DATE").index(t) for t in col_types]
    types = [(pa.string(), pa.float64(), pa.bool_(), pa.date32())[e] for e in exp_codes]
    columns: list[list] = [[] for _ in range(n_cols)]
    n_buffered = 0

    def flush():
        return pa.RecordBatch.from_arrays(
            [pa.array(columns[i], type=types[i]) for i in range(n_cols)],
            names=names,
        )

    for cells in rows:
        row = [None] * n_cols
        for col, ctype, val in cells:
            if col >= n_file:
                # reference :415-422
                raise ValueError(
                    f"Row has more columns than the first row. "
                    f"Has: {col + 1} Expected: {n_file}"
                )
            out = keep[col]
            if out is None:
                continue  # pruned column: no decode, no buffer
            # The typed rule inlined — per-cell function calls are
            # measurable at millions of cells per partition.
            e = exp_codes[out]
            if e == 0:
                if coerce:
                    row[out] = _coerce_to_string(ctype, val, heap)
                elif ctype == P.T_STRING_REF:
                    row[out] = heap[val]
                elif ctype == P.T_STRING_LIT:
                    row[out] = val
                else:
                    row[out] = None
            elif e == 1:
                row[out] = val if ctype == P.T_NUMERIC else None
            elif e == 2:
                row[out] = val if ctype == P.T_BOOLEAN else None
            else:
                row[out] = int(val / 86400.0) if ctype == P.T_DATE else None
        for i in range(n_cols):
            columns[i].append(row[i])
        n_buffered += 1
        if n_buffered >= batch_size:
            yield flush()
            columns = [[] for _ in range(n_cols)]
            n_buffered = 0
    if n_buffered:
        yield flush()


def _coerce_to_string(ctype: int, val, shared: list[str]) -> str | None:
    """SetCellString (:182-221): numerics via std::to_string → fixed 6
    decimals; booleans TRUE/FALSE; dates YYYY-MM-DD."""
    import datetime as dt

    if ctype == P.T_STRING_REF:
        return shared[val]
    if ctype == P.T_STRING_LIT:
        return val
    if ctype == P.T_NUMERIC:
        return f"{float(val):.6f}"
    if ctype == P.T_BOOLEAN:
        return "TRUE" if val else "FALSE"
    if ctype == P.T_DATE:
        days = P.epoch_seconds_to_days(val)
        return (dt.date(1970, 1, 1) + dt.timedelta(days=days)).isoformat()
    return None
