#!/usr/bin/env python3
"""10x scale witness for the ingest stack (VERDICT r12 task 2).

The r11 retrofit/stats/pruning economics were measured at SF1 scale
(~108-137 MB files). This script builds the same shape at SF1 (5M rows)
and SF10 (50M rows, ~1 GB single sheet: id ascending DOUBLE, two value
DOUBLEs, a zero-padded ascending string key), then measures:

  * retrofit one-off cost (stats=True) at both scales;
  * indexed auto-shard read wall (full-column xxhash aggregate — forces
    a complete decode AND pins bit-equality between scales' row sets);
  * interval-pruned point lookups (numeric id and string key equality)
    plus the planned skip fraction straight from the decoded stats;
  * peak per-TASK memory: a SUBPROCESS reads shard 0 of 32 through the
    in-process reader and reports ru_maxrss — if a shard inflates only
    its own intervals, this is flat in file size.

Stages (each cached/idempotent, so interrupted runs resume):
  --stage build     build + foreignize + retrofit the fixtures
  --stage measure   run the measurements, print ONE JSON line
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
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
ROWS = {"sf1": 5_000_000, "sf10": 50_000_000}
SHEET = "xl/worksheets/sheet1.xml"


def _raw(tag: str) -> str:
    return f"{CACHE}/scalewit_{tag}_raw.xlsx"


def _idx(tag: str) -> str:
    return f"{CACHE}/scalewit_{tag}_indexed.xlsx"


def _build_raw(tag: str) -> str:
    """Foreign-shaped fixture: written through our writer, then
    recompressed member-by-member (single deflate streams, no comment)
    so the retrofit pays the full foreign-file cost."""
    path = _raw(tag)
    if os.path.exists(path):
        return path
    from sheetreader_duckdb_spark.sources.xlsx.writer import (
        IncrementalXlsxWriter,
    )

    n = ROWS[tag]
    tmp = path + ".tmp.xlsx"
    t0 = time.perf_counter()
    w = IncrementalXlsxWriter(tmp, "Sheet1")
    w.write_row(["id", "qty", "price", "key"])
    for i in range(n):
        w.write_row([float(i), float(i % 50), float(i) + 0.25, f"k{i:09d}"])
    w.close()
    print(f"[build] {tag} wrote {n} rows in {time.perf_counter()-t0:.0f}s",
          flush=True)
    t0 = time.perf_counter()
    tmp2 = path + ".tmp2.xlsx"
    with zipfile.ZipFile(tmp, "r") as zin, zipfile.ZipFile(
        tmp2, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            # stream the big members instead of read()-ing them whole.
            # The ZipInfo must carry DEFLATED explicitly: a passed-in
            # ZipInfo overrides the archive-level default with its own
            # compress_type (ZIP_STORED) — r12 review caught the first
            # witness fixture coming out stored, which made the retrofit
            # timing skip the whole inflate cost.
            zi = zipfile.ZipInfo(info.filename)
            zi.compress_type = zipfile.ZIP_DEFLATED
            with zin.open(info.filename) as f, zout.open(
                zi, "w", force_zip64=True
            ) as g:
                while True:
                    c = f.read(1 << 22)
                    if not c:
                        break
                    g.write(c)
    os.remove(tmp)
    os.replace(tmp2, path)
    print(f"[build] {tag} foreignized in {time.perf_counter()-t0:.0f}s",
          flush=True)
    return path


def _build_indexed(tag: str) -> tuple[str, float]:
    """Retrofit a copy; returns (path, retrofit_seconds or cached -1)."""
    import shutil

    from sheetreader_duckdb_spark import index_xlsx

    path = _idx(tag)
    meta = path + ".meta.json"
    if os.path.exists(path) and os.path.exists(meta):
        return path, json.load(open(meta))["retrofit_sec"]
    shutil.copy(_build_raw(tag), path)
    t0 = time.perf_counter()
    out = index_xlsx(path)
    dt = time.perf_counter() - t0
    assert out["indexed"], out
    json.dump({"retrofit_sec": dt, **{k: v for k, v in out.items()
                                      if isinstance(v, (int, str, bool))}},
              open(meta, "w"))
    print(f"[build] {tag} retrofit {dt:.1f}s points={out['worksheet_points']}",
          flush=True)
    return path, dt


def stage_build() -> None:
    for tag in ("sf1", "sf10"):
        _build_raw(tag)
        _build_indexed(tag)


_SHARD_RSS_SNIPPET = r"""
import resource, sys
sys.path.insert(0, {repo!r})
from pyspark.sql.types import StructType, StructField, DoubleType, StringType
from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
schema = StructType([
    StructField("id", DoubleType()), StructField("qty", DoubleType()),
    StructField("price", DoubleType()), StructField("key", StringType()),
])
reader = DS.SheetReaderReader({{"path": {path!r}}}, schema)
part = DS._SheetPartition(({path!r},), shard=0, n_shards={n_shards}, filters=())
rows = 0
for batch in reader.read(part):
    rows += batch.num_rows
print(rows, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
"""


def _shard_rss(path: str, n_shards: int = 32) -> tuple[int, int]:
    """(rows decoded by shard 0/n, peak RSS KiB) in a fresh process —
    one task's whole life, nothing shared."""
    out = subprocess.run(
        [sys.executable, "-c",
         _SHARD_RSS_SNIPPET.format(repo=_REPO_ROOT, path=path,
                                   n_shards=n_shards)],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    return int(out[0]), int(out[1])


def _skip_fraction(path: str, filters, schema) -> tuple[int, int]:
    """(planned skips, total intervals) for the pushed filters, straight
    from the decoded stats — the planner the read itself uses."""
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
    from sheetreader_duckdb_spark.sources.xlsx.datasource import (
        _plan_interval_skips,
    )
    from sheetreader_duckdb_spark.sources.xlsx.parser import XlsxWorkbook

    with XlsxWorkbook(path) as wb:
        pts = SI.decode_split_index(wb.zf, SHEET)
        secs = SI.decode_interval_sections(wb.zf, SHEET, pts, keys=("st", "sv"))
        skips = _plan_interval_skips(
            filters, schema, [f.name for f in schema.fields], secs,
            wb.date1904,
        )
        return len(skips), len(pts)


def stage_measure() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from sheetreader_duckdb_spark import read_xlsx, register

    schema = StructType([
        StructField("id", DoubleType()), StructField("qty", DoubleType()),
        StructField("price", DoubleType()), StructField("key", StringType()),
    ])
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("scale-witness")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)

    res: dict = {"metric": "scale_witness_sf10", "cpus": int(CPUS)}
    for tag in ("sf1", "sf10"):
        path, retrofit_sec = _build_indexed(tag)
        n = ROWS[tag]
        ent = {
            "rows": n,
            "file_mb": round(os.path.getsize(path) / 1e6, 1),
            "retrofit_sec": round(retrofit_sec, 1),
        }

        def read_hash():
            df = spark.read.format("sheetreader").load(path)
            return df.select(
                F.bit_xor(F.xxhash64("id", "qty", "price", "key")).alias("h"),
                F.count("*").alias("n"),
            ).collect()[0]

        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            row = read_hash()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        assert row.n == n, (row.n, n)
        ent["auto_read_sec"] = round(best, 2)
        ent["full_hash"] = row.h

        tgt = float(n - 3)
        t0 = time.perf_counter()
        got = read_xlsx(spark, path, where=f"id = {tgt}").collect()
        ent["point_lookup_sec"] = round(time.perf_counter() - t0, 2)
        assert len(got) == 1 and got[0]["id"] == tgt
        sk, tot = _skip_fraction(path, [EqualTo(("id",), tgt)], schema)
        ent["id_eq_skips"] = f"{sk}/{tot}"
        ent["id_eq_inflate_pct"] = round(100 * (tot - sk) / tot, 1)

        kq = f"k{n - 7:09d}"
        t0 = time.perf_counter()
        got = read_xlsx(spark, path, where=f"key = '{kq}'").collect()
        ent["str_lookup_sec"] = round(time.perf_counter() - t0, 2)
        assert len(got) == 1 and got[0]["key"] == kq
        sk, tot = _skip_fraction(path, [EqualTo(("key",), kq)], schema)
        ent["key_eq_skips"] = f"{sk}/{tot}"
        ent["key_eq_inflate_pct"] = round(100 * (tot - sk) / tot, 1)

        rows0, rss = _shard_rss(path)
        ent["shard0_rows"] = rows0
        ent["shard0_peak_rss_mb"] = round(rss / 1024, 1)
        # constant work per task: scale the shard count WITH the data
        # (that is what a cluster does — the 10x file gets 10x tasks);
        # per-task memory should be ~flat
        n_const = 32 * (n // ROWS["sf1"])
        rows_c, rss_c = _shard_rss(path, n_shards=n_const)
        ent["constwork_shards"] = n_const
        ent["constwork_rows"] = rows_c
        ent["constwork_peak_rss_mb"] = round(rss_c / 1024, 1)
        res[tag] = ent

    s1, s10 = res["sf1"], res["sf10"]
    res["read_scaling_x"] = round(s10["auto_read_sec"] / s1["auto_read_sec"], 2)
    res["rss_ratio_fixed_shards"] = round(
        s10["shard0_peak_rss_mb"] / s1["shard0_peak_rss_mb"], 2
    )
    res["rss_ratio_constwork"] = round(
        s10["constwork_peak_rss_mb"] / s1["constwork_peak_rss_mb"], 2
    )
    print(json.dumps(res))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", choices=["build", "measure"], required=True)
    a = ap.parse_args()
    if a.stage == "build":
        stage_build()
    else:
        stage_measure()
