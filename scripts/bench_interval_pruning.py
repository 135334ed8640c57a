#!/usr/bin/env python3
"""Witness for interval pruning at SF1 scale (VERDICT r11 task 2): a
6M-row, 4-column sheet with an ascending id column (the clustered-column
shape pruning exists for — parquet row-group economics), foreignized and
retrofit-indexed with stats, then read through ``read_xlsx(where=...)``
so the filter reaches the source. Reports the full-scan time, the pruned
selective-scan time, and row counts. Prints ONE JSON line."""

from __future__ import annotations

import json
import os
import sys
import time
import zipfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PASSES = int(os.environ.get("XLSX_BENCH_PASSES", "2"))
CACHE = "/tmp/sheetreader_xlsx_fixture_cache"
N = 6_000_000


def build() -> str:
    os.makedirs(CACHE, exist_ok=True)
    path = f"{CACHE}/sorted_id_sf1_pruning.xlsx"
    if os.path.exists(path):
        return path
    from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

    tmp = path + ".tmp"
    w = IncrementalXlsxWriter(tmp, "Sheet1")
    w.write_row(["id", "qty", "price", "flag"])
    for i in range(N):
        w.write_row([float(i), float(i % 50), i * 1.0001, "NAR"[i % 3]])
    w.close()
    # foreignize: plain recompression, no flush points, no comment
    fg = tmp + ".foreign"
    with zipfile.ZipFile(tmp) as zin, zipfile.ZipFile(
        fg, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    os.remove(tmp)
    os.replace(fg, path)
    return path


def main() -> None:
    from pyspark.sql import SparkSession

    from sheetreader_duckdb_spark import index_xlsx, read_xlsx, register
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI

    path = build()
    t0 = time.perf_counter()
    with zipfile.ZipFile(path) as zf:
        has = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml") is not None
    retrofit_sec = None
    if not has:
        res = index_xlsx(path)
        assert res["indexed"], res
        retrofit_sec = round(time.perf_counter() - t0, 2)
    with zipfile.ZipFile(path) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        secs = SI.decode_interval_sections(zf, "xl/worksheets/sheet1.xml", pts)
    assert "A" in secs.get("st", {}), "stats missing"

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("pruning-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)

    def timed(fn):
        fn().write.mode("overwrite").format("noop").save()  # warm
        best = float("inf")
        for _ in range(PASSES):
            t = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t)
        return round(best, 2)

    full = timed(lambda: spark.read.format("sheetreader").load(path))
    cutoff = float(N - N // 100)  # top 1% of the ascending column
    sel = lambda: read_xlsx(spark, path, where=f"id > {cutoff}")  # noqa: E731
    n_sel = sel().count()
    assert n_sel == N // 100 - 1, n_sel
    pruned = timed(sel)

    # Deterministic pruning evidence (timing at this scale is floored by
    # fixed Spark overhead; the interval counts are the mechanism):
    from pyspark.sql.datasource import GreaterThan
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from sheetreader_duckdb_spark.sources.xlsx.datasource import (
        _plan_interval_skips,
    )

    schema = StructType(
        [
            StructField("id", DoubleType()),
            StructField("qty", DoubleType()),
            StructField("price", DoubleType()),
            StructField("flag", StringType()),
        ]
    )
    skips = _plan_interval_skips(
        (GreaterThan(("id",), cutoff),), schema,
        ["id", "qty", "price", "flag"], secs, False,
    )
    inflated = len(pts) - len(skips)
    out = {
        "metric": "xlsx_interval_pruning",
        "rows": N,
        "file_mb": round(os.path.getsize(path) / 1e6, 1),
        "intervals": len(pts),
        "full_scan": full,
        "pruned_selective": pruned,
        "speedup": round(full / pruned, 2),
        "intervals_inflated": inflated,
        "inflated_pct": round(100.0 * inflated / len(pts), 1),
        "selective_rows": n_sel,
        "retrofit_pass_sec": retrofit_sec,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
