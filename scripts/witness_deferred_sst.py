#!/usr/bin/env python3
"""Big-heap string-stats witness (VERDICT r12 task 3 'done' bar).

Builds a foreign workbook whose UNCOMPRESSED shared-strings heap exceeds
the 256 MB resident cap — the shape that lost ALL string pruning in r12
— with the two realistic string populations side by side:

  * ``key``    — one unique ~44-char string per row (heap bulk; crosses
                 the 4M-unique deferred budget → SHED, reported);
  * ``status`` — 20 run-length-sorted values (the low-cardinality
                 `source`/`status` column the r12 gate was penalizing →
                 now gets full (lo, hi) bounds via the streaming fold);
  * ``val``    — numeric (control: st/nc untouched by string mode).

Measures, in a fresh subprocess so ru_maxrss is the retrofit's own:
retrofit wall + peak RSS (must stay far under eager-resident costs: the
heap alone would be >600 MB of Python strings), the published sections,
the planned skip fraction for a pushed status filter, and a pruned-read
row-count check. Also re-retrofits the cached SF10 witness fixture (50M
unique keys, 1.5 GB heap) when present, to stamp the measured claim
that an all-unique key column sheds under the ref budget.

Stages: --stage build | measure | all (default all). One JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import zipfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

CACHE = "/tmp/sheetreader_xlsx_fixture_cache"
os.makedirs(CACHE, exist_ok=True)
RAW = f"{CACHE}/bigsst_raw.xlsx"
IDX = f"{CACHE}/bigsst_indexed.xlsx"
SHEET = "xl/worksheets/sheet1.xml"
N = 6_000_000  # 6M x ~44-char unique strings ≈ 420 MB heap XML
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
    w.write_row(["key", "status", "val"])
    per_run = N // RUNS
    for i in range(N):
        w.write_row(
            [
                f"k{i:09d}-" + "u" * 33,
                f"s{i // per_run:02d}",
                float(i) * 0.5,
            ]
        )
    w.close()
    # foreignize: single deflate streams, no comment — the retrofit pays
    # the full foreign cost and the heap size check sees the real member
    t1 = time.perf_counter()
    with zipfile.ZipFile(tmp) as zin, zipfile.ZipFile(
        RAW + ".f", "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zi = zipfile.ZipInfo(info.filename)
            # a bare ZipInfo defaults to STORED and overrides the
            # archive-level ZIP_DEFLATED (the r12 witness-fixture bug)
            zi.compress_type = zipfile.ZIP_DEFLATED
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


_RETROFIT_SNIPPET = r"""
import json, resource, sys, time
sys.path.insert(0, {repo!r})
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
t0 = time.perf_counter()
out = index_xlsx({raw!r}, out_path={idx!r})
wall = time.perf_counter() - t0
print(json.dumps({{
    "indexed": out["indexed"], "shed": out["string_stats_shed"],
    "rows": out["rows"], "wall_s": round(wall, 1),
    "peak_rss_mb": round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1),
}}))
"""


def stage_measure() -> dict:
    res: dict = {}
    with zipfile.ZipFile(RAW) as zf:
        sst_u = zf.getinfo("xl/sharedStrings.xml").file_size
    res["heap_uncompressed_mb"] = round(sst_u / (1 << 20), 1)
    assert sst_u > (256 << 20), "fixture heap must exceed the resident cap"

    proc = subprocess.run(
        [sys.executable, "-c",
         _RETROFIT_SNIPPET.format(repo=_REPO_ROOT, raw=RAW, idx=IDX)],
        capture_output=True, text=True, timeout=3600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res["retrofit"] = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["retrofit"]["indexed"]
    # the all-unique key column sheds under the ref budget; status keeps
    assert res["retrofit"]["shed"] == ["A"], res["retrofit"]
    # BOUNDED collector memory is the point of the deferred design: the
    # whole retrofit process must peak far under what eager residency
    # would cost (the raw heap alone exceeds the resident cap; its
    # Python-string form would be larger still). 400 MB is a generous
    # ceiling for refs (capped at 64 MB) + zlib windows + interpreter.
    assert res["retrofit"]["peak_rss_mb"] < 400, res["retrofit"]

    import sheetreader_duckdb_spark.sources.xlsx.splitindex as SI

    with zipfile.ZipFile(IDX) as zf:
        pts = SI.decode_split_index(zf, SHEET)
        secs = SI.decode_interval_sections(zf, SHEET, pts, keys=("st", "sv", "nc"))
        st, sv, nc = secs.get("st"), secs.get("sv"), secs.get("nc")
    assert sv is not None and "B" in sv and "A" not in sv
    assert st is not None and nc is not None
    res["sections"] = {
        "sv_cols": sorted(sv), "st_cols": sorted(st), "nc_cols": sorted(nc),
        "intervals": len(pts),
    }

    # planned skip fraction for a pushed low-cardinality filter
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    import sheetreader_duckdb_spark.sources.xlsx.datasource as DS

    schema = StructType([
        StructField("key", StringType()),
        StructField("status", StringType()),
        StructField("val", DoubleType()),
    ])
    with zipfile.ZipFile(IDX) as zf:
        skips = DS._plan_interval_skips(
            [EqualTo(("status",), "s03")], schema,
            ["key", "status", "val"], secs, False,
        )
    res["status_eq_skips"] = {
        "skipped": len(skips), "of": len(pts),
        "fraction": round(len(skips) / len(pts), 3),
    }

    # pruned read correctness at the row level (single shard suffices)
    reader = DS.SheetReaderReader(
        {"path": IDX, "threads": "4"}, schema
    )
    t0 = time.perf_counter()
    total = 0
    for s in range(4):
        part = DS._SheetPartition(
            IDX, shard=s, n_shards=4,
            filters=(EqualTo(("status",), "s03"),),
        )
        for batch in reader.read(part):
            total += batch.num_rows
    res["status_eq_rows"] = {
        "got": total, "want": N // RUNS,
        "read_s": round(time.perf_counter() - t0, 1),
    }
    assert total == N // RUNS, res["status_eq_rows"]

    # SF10 measured-shed claim (50M unique keys, ~1.5 GB heap), if the
    # scale-witness cache is present
    sf10_raw = f"{CACHE}/scalewit_sf10_raw.xlsx"
    if os.path.exists(sf10_raw):
        proc = subprocess.run(
            [sys.executable, "-c",
             _RETROFIT_SNIPPET.format(
                 repo=_REPO_ROOT, raw=sf10_raw,
                 idx=f"{CACHE}/scalewit_sf10_r13_indexed.xlsx")],
            capture_output=True, text=True, timeout=3600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        res["sf10_retrofit"] = json.loads(
            proc.stdout.strip().splitlines()[-1]
        )
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", default="all",
                    choices=["build", "measure", "all"])
    args = ap.parse_args()
    out: dict = {"witness": "deferred_sst", "n_rows": N}
    if args.stage in ("build", "all"):
        out["build"] = stage_build()
    if args.stage in ("measure", "all"):
        out.update(stage_measure())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
