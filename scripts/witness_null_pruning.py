#!/usr/bin/env python3
"""Scale witness for nc (value-count) interval stats — IS NULL /
IS NOT NULL pruning at millions of rows (VERDICT r12 task 1's feature,
measured at the scale the unit fixtures can't reach).

The realistic sparse-spreadsheet shape: a 6M-row worksheet where

  * ``sparse``  — numeric, present only in the last 5% of rows (the
                  "column filled in only for recent entries" pattern;
                  clustered non-nulls are what makes null pruning pay);
  * ``dense``   — numeric, present in every row (control: ``IS NULL``
                  on it must prove EVERY interval empty);
  * ``status``  — 20 run-length-sorted strings (keeps the shared-
                  strings heap and the sv section in play alongside nc);
  * ``val``     — numeric, always present (the st control).

Measures: retrofit wall, published sections, planned skip fraction for
``IsNotNull(sparse)`` (bar: >80%, the r12 VERDICT's done-criterion
shape) and ``IsNull(dense)`` (bar: 100%), pruned-read row exactness
for both, and pruned vs unpruned wall for the IsNotNull read. One JSON
line; fixture cached under /tmp/sheetreader_xlsx_fixture_cache.

Stages: --stage build | measure | all (default all).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import zipfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

CACHE = "/tmp/sheetreader_xlsx_fixture_cache"
os.makedirs(CACHE, exist_ok=True)
RAW = f"{CACHE}/nullwit_raw.xlsx"
IDX = f"{CACHE}/nullwit_indexed.xlsx"
SHEET = "xl/worksheets/sheet1.xml"
N = 6_000_000
SPARSE_FROM = int(N * 0.95)  # non-null tail: rows [SPARSE_FROM, N)
RUNS = 20


def stage_build() -> dict:
    if os.path.exists(RAW):
        return {"built": "cached"}
    from sheetreader_duckdb_spark.sources.xlsx.writer import (
        IncrementalXlsxWriter,
    )

    t0 = time.perf_counter()
    tmp = RAW + ".tmp"
    w = IncrementalXlsxWriter(tmp, "Sheet1")
    w.write_row(["sparse", "dense", "status", "val"])
    per_run = N // RUNS
    for i in range(N):
        w.write_row(
            [
                float(i) if i >= SPARSE_FROM else None,
                float(i % 1000),
                f"s{i // per_run:02d}",
                float(i) * 0.25,
            ]
        )
    w.close()
    t1 = time.perf_counter()
    with zipfile.ZipFile(tmp) as zin, zipfile.ZipFile(
        RAW + ".f", "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zi = zipfile.ZipInfo(info.filename)
            zi.compress_type = zipfile.ZIP_DEFLATED  # bare ZipInfo = STORED
            with zin.open(info.filename) as src, zout.open(
                zi, "w", force_zip64=True
            ) as dst:
                while True:
                    c = src.read(1 << 20)
                    if not c:
                        break
                    dst.write(c)
    os.replace(RAW + ".f", RAW)
    os.remove(tmp)
    return {
        "built": True,
        "write_s": round(t1 - t0, 1),
        "foreignize_s": round(time.perf_counter() - t1, 1),
    }


def _read_rows(path, schema, filters, threads=8):
    import sheetreader_duckdb_spark.sources.xlsx.datasource as DS

    reader = DS.SheetReaderReader({"path": path, "threads": str(threads)}, schema)
    total = 0
    for s in range(threads):
        part = DS._SheetPartition(
            path, shard=s, n_shards=threads, filters=tuple(filters)
        )
        for batch in reader.read(part):
            total += batch.num_rows
    return total


def stage_measure() -> dict:
    from pyspark.sql.datasource import IsNotNull, IsNull
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    import sheetreader_duckdb_spark.sources.xlsx.datasource as DS
    import sheetreader_duckdb_spark.sources.xlsx.splitindex as SI
    from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

    res: dict = {}
    t0 = time.perf_counter()
    out = index_xlsx(RAW, out_path=IDX)
    res["retrofit"] = {
        "indexed": out["indexed"], "rows": out["rows"],
        "wall_s": round(time.perf_counter() - t0, 1),
    }
    assert out["indexed"], out

    with zipfile.ZipFile(IDX) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        secs = SI.decode_interval_sections(zf, SHEET, pts, keys=("st", "sv", "nc"))
        st, sv, nc = secs.get("st"), secs.get("sv"), secs.get("nc")
    assert nc is not None and {"A", "B", "D"} <= set(nc), sorted(nc or [])
    res["sections"] = {
        "intervals": len(pts), "st_cols": sorted(st or []),
        "sv_cols": sorted(sv or []), "nc_cols": sorted(nc or []),
    }

    schema = StructType([
        StructField("sparse", DoubleType()),
        StructField("dense", DoubleType()),
        StructField("status", StringType()),
        StructField("val", DoubleType()),
    ])
    names = ["sparse", "dense", "status", "val"]

    def plan(filters):
        return DS._plan_interval_skips(
            list(filters), schema, names, secs, False
        )

    notnull_skips = plan([IsNotNull(("sparse",))])
    res["isnotnull_sparse_plan"] = {
        "skipped": len(notnull_skips), "of": len(pts),
        "fraction": round(len(notnull_skips) / len(pts), 3),
    }
    # the r12 VERDICT done-bar shape: a mostly-null column's IS NOT NULL
    # read plans >80% skips
    assert len(notnull_skips) / len(pts) > 0.8, res["isnotnull_sparse_plan"]

    null_dense_skips = plan([IsNull(("dense",))])
    res["isnull_dense_plan"] = {
        "skipped": len(null_dense_skips), "of": len(pts),
    }
    # dense column: every interval except the never-skippable interval 0
    # is provably empty of NULL rows
    assert len(null_dense_skips) >= len(pts) - 1, res["isnull_dense_plan"]

    want_tail = N - SPARSE_FROM
    t0 = time.perf_counter()
    got = _read_rows(IDX, schema, [IsNotNull(("sparse",))])
    res["isnotnull_read"] = {
        "got": got, "want": want_tail,
        "read_s": round(time.perf_counter() - t0, 1),
    }
    assert got == want_tail, res["isnotnull_read"]

    t0 = time.perf_counter()
    got0 = _read_rows(IDX, schema, [IsNull(("dense",))])
    res["isnull_dense_read"] = {
        "got": got0, "read_s": round(time.perf_counter() - t0, 1),
    }
    assert got0 == 0, res["isnull_dense_read"]

    t0 = time.perf_counter()
    full = _read_rows(IDX, schema, [])
    res["full_read"] = {
        "rows": full, "read_s": round(time.perf_counter() - t0, 1),
    }
    assert full == N, res["full_read"]
    res["pruned_vs_full"] = round(
        res["isnotnull_read"]["read_s"] / max(res["full_read"]["read_s"], 1e-9),
        3,
    )
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", default="all",
                    choices=["build", "measure", "all"])
    args = ap.parse_args()
    out: dict = {"witness": "null_pruning", "n_rows": N}
    if args.stage in ("build", "all"):
        out["build"] = stage_build()
    if args.stage in ("measure", "all"):
        out.update(stage_measure())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
