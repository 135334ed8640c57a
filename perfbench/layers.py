"""Per-layer metrics of a traced run.

The XLSX layers are measured by calling the package's modules directly in
this process, without Spark, on the workload's own input; the Spark layers
come from the session's event log, joined to the traced operations by job
group. ``UNITS`` is the list of per-layer metrics, in ``BENCHMARK.json``
order.
"""

from __future__ import annotations

import os
import statistics
import time
import zipfile

UNITS = {
    "session.start_s": "s",
    "op.load_s": "s",
    "op.index_s": "s",
    "op.filtered_load_s": "s",
    "datasource.schema_s": "s",
    "datasource.partitions_s": "s",
    "datasource.partitions": "count",
    "datasource.read_s": "s",
    "datasource.read_max_s": "s",
    "datasource.read_skew": "ratio",
    "datasource.rows_out": "count",
    "datasource.batches_out": "count",
    "datasource.arrow_bytes_out": "bytes",
    "datasource.rows_kept_ratio": "ratio",
    "datasource.partitions_filtered": "count",
    "datasource.read_share": "ratio",
    "parser.open_s": "s",
    "parser.sst_s": "s",
    "parser.iter_rows_s": "s",
    "parser.cells": "count",
    "parser.inflate_floor_s": "s",
    "inference.infer_schema_s": "s",
    "indexer.index_s": "s",
    "indexer.bytes_ratio": "ratio",
    "indexer.worksheet_points": "count",
    "splitindex.decode_s": "s",
    "splitindex.intervals": "count",
    "writer.write_xlsx_s": "s",
    "writer.bytes_per_cell": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.deserialize_s": "s",
    "spark.gc_s": "s",
    "spark.result_bytes": "bytes",
    "spark.boundary_s": "s",
    "spark.gap_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "plans.construct_s": "s",
    "plans.py4j_calls": "count",
    "catalyst.plan_s": "s",
    "plans.exec_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "trace.overhead_s": "s",
}

# Per-layer metrics that are better when higher; every other one is better
# when lower.
HIGHER = {"datasource.read_share", "datasource.partitions_filtered",
          "indexer.worksheet_points", "splitindex.intervals"}

# Which timed operation, on which workload, each per-layer metric should
# move when that layer gets cheaper or costlier. Every operation's time is
# part of the end-to-end ``pass_s`` of its workload; ``op.<name>_s`` is its
# median alone. No timed operation writes through the sink, so the writer
# layer is measured by direct calls only.
_ALL = ("big_sheet", "many_files")
_PLANS = [(m, w) for m in ("load_s", "filtered_load_s") for w in _ALL]
_PARSE = [("load_s", "big_sheet")]
_BOUNDARY = [("load_s", w) for w in _ALL]
_PRUNE = [("filtered_load_s", "big_sheet")]
_INDEX = [("index_s", "big_sheet")]
TARGETS = {
    "session.start_s": [("setup_s", w) for w in _ALL],
    **{f"op.{o}_s": [(f"{o}_s", w) for w in _ALL] for o in ("load", "index", "filtered_load")},
    **{f"datasource.{k}": [("load_s", "many_files")]
       for k in ("schema_s", "partitions_s", "partitions")},
    **{f"datasource.{k}": _PARSE
       for k in ("read_s", "read_max_s", "read_skew", "rows_out", "batches_out", "arrow_bytes_out")},
    "datasource.read_share": _BOUNDARY,
    "datasource.rows_kept_ratio": _PRUNE,
    "datasource.partitions_filtered": _PRUNE,
    **{f"parser.{k}": _PARSE for k in ("open_s", "sst_s", "iter_rows_s", "cells", "inflate_floor_s")},
    "inference.infer_schema_s": [("load_s", "many_files")],
    "indexer.index_s": _INDEX,
    "indexer.bytes_ratio": _INDEX + _PRUNE,
    "indexer.worksheet_points": _INDEX + _PRUNE,
    "splitindex.decode_s": _PRUNE,
    "splitindex.intervals": _PRUNE,
    "writer.write_xlsx_s": [],
    "writer.bytes_per_cell": [],
    **{f"spark.{k}": _BOUNDARY for k in (
        "jobs", "tasks", "task_s", "task_cpu_s", "deserialize_s", "gc_s", "result_bytes",
        "boundary_s")},
    **{k: _PLANS for k in (
        "spark.gap_s", "spark.shuffle_bytes", "spark.spill_bytes", "plans.construct_s",
        "plans.py4j_calls", "catalyst.plan_s", "plans.exec_s")},
    **{k: [("setup_s", w) for w in _ALL] + _PLANS for k in ("codegen.compiles", "codegen.compile_s")},
    "trace.overhead_s": [],
}

WRITER_PROBE_ROWS = 20_000
PROBE_GROUP = "probe.load"


def _drain(reader, part) -> tuple:
    rows = batches = nbytes = 0
    for batch in reader.read(part):
        rows += batch.num_rows
        batches += 1
        nbytes += batch.nbytes
    return rows, batches, nbytes


def _datasource(tracer, wl, out: dict) -> None:
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from sheetreader_duckdb_spark.sources.xlsx.datasource import SheetReaderDataSource

    ds = SheetReaderDataSource({"path": wl.dir})
    t0 = time.perf_counter()
    with tracer.span("datasource.schema"):
        schema = ds.schema()
    t1 = time.perf_counter()
    reader = ds.reader(schema)
    with tracer.span("datasource.partitions"):
        parts = reader.partitions()
    t2 = time.perf_counter()
    reads, rows, batches, nbytes = [], 0, 0, 0
    for part in parts:
        s = time.perf_counter()
        with tracer.span("datasource.read"):
            r, b, nb = _drain(reader, part)
        reads.append(time.perf_counter() - s)
        rows, batches, nbytes = rows + r, batches + b, nbytes + nb
    out.update({
        "datasource.schema_s": t1 - t0,
        "datasource.partitions_s": t2 - t1,
        "datasource.partitions": len(parts),
        "datasource.read_s": sum(reads),
        "datasource.read_max_s": max(reads),
        "datasource.read_skew": max(reads) / statistics.mean(reads),
        "datasource.rows_out": rows,
        "datasource.batches_out": batches,
        "datasource.arrow_bytes_out": nbytes,
    })

    # The selective read of the workload's filtered operation: rows that
    # survive the pushed filter, and partitions that planning pruned.
    lo, hi = wl.window
    fpath = wl.indexed_dir
    plain = SheetReaderDataSource({"path": fpath})
    fschema = plain.schema()
    n_plain = len(plain.reader(fschema).partitions())
    fds = SheetReaderDataSource({"path": fpath, "filter_pushdown": "true"})
    freader = fds.reader(fschema)
    list(freader.pushFilters([GreaterThanOrEqual(("k",), lo), LessThanOrEqual(("k",), hi)]))
    with tracer.span("datasource.filtered_read"):
        fparts = freader.partitions()
        kept = sum(_drain(freader, p)[0] for p in fparts)
    out["datasource.rows_kept_ratio"] = kept / wl.rows.n
    out["datasource.partitions_filtered"] = n_plain - len(fparts)


def _parser(tracer, files: list, out: dict) -> None:
    from sheetreader_duckdb_spark.sources.xlsx.inference import infer_schema
    from sheetreader_duckdb_spark.sources.xlsx.parser import XlsxWorkbook

    acc = dict.fromkeys(("open", "sst", "inflate", "infer", "iter"), 0.0)
    cells = 0
    for path in files:
        t0 = time.perf_counter()
        with tracer.span("parser.open"):
            wb = XlsxWorkbook(path)
        t1 = time.perf_counter()
        try:
            sheet = wb.resolve_sheet(None, None)
            with tracer.span("parser.sst"):
                wb.shared_strings
            t2 = time.perf_counter()
            with tracer.span("parser.inflate_floor"):
                wb.zf.read(sheet.path)
            t3 = time.perf_counter()
            with tracer.span("inference.infer_schema"):
                sch = infer_schema(wb, sheet)
            t4 = time.perf_counter()
            with tracer.span("parser.iter_rows"):
                for row in wb.iter_rows(sheet, skip_rows=sch.skip_rows):
                    cells += len(row)
            t5 = time.perf_counter()
        finally:
            wb.close()
        for key, d in zip(acc, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
            acc[key] += d
    out.update({
        "parser.open_s": acc["open"], "parser.sst_s": acc["sst"],
        "parser.inflate_floor_s": acc["inflate"], "inference.infer_schema_s": acc["infer"],
        "parser.iter_rows_s": acc["iter"], "parser.cells": cells,
    })


def _indexer(tracer, src: str, work: str, out: dict) -> None:
    from sheetreader_duckdb_spark import index_xlsx
    from sheetreader_duckdb_spark.sources.xlsx.splitindex import decode_split_index

    dst = os.path.join(work, "probe-indexed.xlsx")
    t0 = time.perf_counter()
    with tracer.span("indexer.index"):
        res = index_xlsx(src, out_path=dst)
    t1 = time.perf_counter()
    path = dst if os.path.exists(dst) else src
    with zipfile.ZipFile(path) as zf:
        t2 = time.perf_counter()
        with tracer.span("splitindex.decode"):
            pts = decode_split_index(zf, "xl/worksheets/sheet1.xml")
        t3 = time.perf_counter()
    out.update({
        "indexer.index_s": t1 - t0,
        "indexer.bytes_ratio": os.path.getsize(path) / os.path.getsize(src),
        "indexer.worksheet_points": res["worksheet_points"],
        "splitindex.decode_s": t3 - t2,
        "splitindex.intervals": len(pts) - 1 if pts else 0,
    })


def _writer(tracer, rows, work: str, out: dict) -> None:
    import gen
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    body = rows.python_rows(WRITER_PROBE_ROWS)
    cells = sum(1 for r in body for v in r if v is not None) + len(gen.COLUMNS)
    path = os.path.join(work, "probe-written.xlsx")
    t0 = time.perf_counter()
    with tracer.span("writer.write_xlsx"):
        write_xlsx(path, {"Sheet1": [list(gen.COLUMNS)] + body})
    out["writer.write_xlsx_s"] = time.perf_counter() - t0
    out["writer.bytes_per_cell"] = os.path.getsize(path) / cells


def probe(wl, tracer, spark) -> dict:
    """Direct-call probes of every XLSX layer on the workload's input, plus
    one Spark load of the same input so the boundary cost can be taken
    against the reader's own work."""
    from tracing import UNTIMED_GROUP

    out: dict = {}
    spark.sparkContext.setJobGroup(PROBE_GROUP, PROBE_GROUP)
    t0 = time.perf_counter()
    spark.read.format("sheetreader").load(wl.dir).write.mode("overwrite").format("noop").save()
    out["probe_load_wall_s"] = time.perf_counter() - t0
    spark.sparkContext.setJobGroup(UNTIMED_GROUP, UNTIMED_GROUP)
    with tracer.span("probe.datasource"):
        _datasource(tracer, wl, out)
    with tracer.span("probe.parser"):
        _parser(tracer, wl.paths, out)
    with tracer.span("probe.indexer"):
        _indexer(tracer, wl.paths[0], wl.work, out)
    with tracer.span("probe.writer"):
        _writer(tracer, wl.rows, wl.work, out)
    return out


def spark_layers(jobs: list, tracer, exec_index: dict, start_s: float, compiles: int,
                 compile_s: float, py4j_calls: int, n_pass: int, probe: dict,
                 n_cores: int, overhead_s: float) -> dict:
    """Spark-side layers per traced pass, from event-log jobs joined to the
    traced operations by job group."""
    from tracing import union_length

    offset = tracer.clock_offset
    n_pass = max(1, n_pass)
    by_group: dict = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    keys = ("tasks", "task_s", "task_cpu_s", "deserialize_s", "gc_s", "result_bytes",
            "shuffle_bytes", "spill_bytes")
    tot = dict.fromkeys(keys, 0.0)
    n_jobs = 0
    gap = 0.0
    for run_id, exec_span in exec_index.items():
        group_jobs = by_group.get(run_id, [])
        n_jobs += len(group_jobs)
        for j in group_jobs:
            for k in keys:
                tot[k] += j[k]
            tracer.add("spark.job", j["start_ms"] / 1e3 - offset, j["end_ms"] / 1e3 - offset,
                       exec_span, run_id)
        op_span = next(sp for sp in tracer.spans if sp["run_id"] == run_id and sp["name"].startswith("op."))
        covered = union_length([(max(j["start_ms"] / 1e3 - offset, op_span["start"]),
                           min(j["end_ms"] / 1e3 - offset, op_span["end"])) for j in group_jobs
                          if j["end_ms"] / 1e3 - offset > op_span["start"]])
        gap += (op_span["end"] - op_span["start"]) - covered
    span_sum: dict = {}
    for sp in tracer.spans:
        if sp["run_id"] in exec_index:
            span_sum[sp["name"]] = span_sum.get(sp["name"], 0.0) + sp["end"] - sp["start"]
    probe_jobs = by_group.get(PROBE_GROUP, [])
    probe_task_s = sum(j["task_s"] for j in probe_jobs)
    out = {
        "session.start_s": start_s,
        "spark.jobs": n_jobs / n_pass,
        **{f"spark.{k}": tot[k] / n_pass for k in keys},
        "spark.boundary_s": probe_task_s - probe["datasource.read_s"],
        "spark.gap_s": gap / n_pass,
        "plans.construct_s": span_sum.get("plans.construct", 0.0) / n_pass,
        "plans.py4j_calls": py4j_calls / n_pass,
        "catalyst.plan_s": span_sum.get("catalyst.plan", 0.0) / n_pass,
        "plans.exec_s": span_sum.get("plans.exec", 0.0) / n_pass,
        "codegen.compiles": compiles,
        "codegen.compile_s": compile_s,
        "datasource.read_share": probe["datasource.read_s"] / (probe["probe_load_wall_s"] * n_cores),
        "trace.overhead_s": overhead_s,
    }
    return out
