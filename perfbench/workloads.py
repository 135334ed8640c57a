"""The benchmark's workloads.

Both workloads hold seeded rows of one schema and run the same three timed
operations, in the order of ``OPS``; they differ only in the layout of the
input. ``big_sheet`` is one large foreign workbook, so parsing is a large
part of a load; ``many_files`` is many small workbooks, so the fixed cost of
each file and task dominates. The operations:

    load           full read, every column aggregated
    index          split-index retrofit of the input into a second directory:
                   ``index_xlsx`` of the one workbook, or ``index_xlsx_dir``
                   over a fresh copy of many
    filtered_load  ``read_xlsx(where="k BETWEEN ...")`` of about 1% of the
                   rows from the indexed copy; only on ``big_sheet`` are the
                   files large enough to be indexed, so only there do the
                   interval statistics prune

An operation builds a DataFrame (or nothing, for a plain call), acts on it
under the timer, and then has its output checked outside the timer against
values computed from the generator's rows.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import gen

# Rows per workbook of the many-files layout. Rows whose position modulo
# this is 0 or 1 carry every cell, so every file starts with the two full
# rows the reader's schema probe needs.
FILE_ROWS = 2_500
# (workbooks, rows per workbook) of each workload's input.
# 120k rows make the workbook just over 5 MB, the size from which the
# reader plans more than four shards and so prunes shards by interval
# statistics at planning time.
LAYOUTS = {"big_sheet": (1, 120_000), "many_files": (8, FILE_ROWS)}
WHY = {
    "big_sheet": "one 120k-row foreign workbook: parsing (inflate, row scan, SST, "
                 "Arrow cast) is a large share of a load, and interval stats prune shards",
    "many_files": "8 workbooks of 2,500 rows: per-file schema probe, planning and "
                  "the per-task Python boundary dominate while parsing is small",
}
FILTER_SHARE = 0.01
OPS = ("load", "index", "filtered_load")


@dataclass
class Op:
    name: str
    build: Callable  # () -> DataFrame | None
    act: Callable  # (DataFrame | None) -> result
    check: Callable  # (result) -> None; raises CheckError
    prep: Callable = lambda: None  # untimed, before ``build``


class CheckError(Exception):
    """An operation returned a wrong result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckError(what)


def sum_exprs() -> list:
    """Aggregates matching ``gen.Rows.checksums``: every column is decoded."""
    from pyspark.sql import functions as F

    flag = [F.sum(F.when(F.col("flag") == f, 1).otherwise(0)).alias(f"flag_{f}") for f in gen.FLAGS]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("k").alias("k"), F.sum("qty").alias("qty"),
        F.sum("price").alias("price"), F.sum("disc").alias("disc"),
        *flag,
        F.sum(F.unix_date("ship")).alias("ship_days"),
        F.sum(F.col("ok").cast("int")).alias("ok_true"),
        F.count("note").alias("note_rows"),
        F.sum(F.length("note")).alias("note_chars"),
    ]


def check_sums(got: dict, want: dict, what: str) -> None:
    """Exact comparison of a full-read aggregate with the generator's."""
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    expect(not bad, f"{what}: checksum mismatch {bad}")


def check_filtered(res: list, want: dict) -> None:
    """Row count, key sum and key range of the filtered read (``k`` is
    unique and ascending, so these pin the row set)."""
    r = res[0]
    got = {"rows": r["n"], "k": r["k"], "k_min": r["k_min"], "k_max": r["k_max"]}
    expect(got == want, f"filtered load: {got} != {want}")


def check_index(res: list, files: int, rows_per_file: int) -> None:
    """One report per file; a workbook is indexed exactly when it is large
    enough to hold more than one split interval."""
    expect(len(res) == files, f"index: {len(res)} reports for {files} files")
    for r in res:
        expect(not str(r.get("reason", "")).startswith("error"), f"index: {r}")
        if r["indexed"]:
            expect(r["rows"] == rows_per_file + 1 and r["worksheet_points"] > 1, f"index: {r}")


def k_window(rows: "gen.Rows", share: float, seed: int) -> tuple:
    """Bounds of a ``k BETWEEN lo AND hi`` window over ``share`` of the rows."""
    import numpy as np

    width = max(1, int(rows.n * share))
    start = int(np.random.default_rng(seed + 1).integers(0, rows.n - width))
    k = rows.cols["k"]
    return float(k[start]), float(k[start + width - 1])


class Workload:
    """Seeded inputs in one layout and the timed operations over them."""

    def __init__(self, work: str, seed: int, layout: tuple):
        self.work = work
        self.seed = seed
        self.files, self.file_rows = layout

    def prepare(self) -> dict:
        """Generate the inputs (untimed); returns their sizes."""
        n = self.files * self.file_rows
        self.rows = gen.make_rows(self.seed, n, full_every=FILE_ROWS)
        self.sums = self.rows.checksums()
        self.window = k_window(self.rows, FILTER_SHARE, self.seed)
        k = self.rows.cols["k"]
        sel = k[(k >= self.window[0]) & (k <= self.window[1])]
        self.filtered = {"rows": int(sel.size), "k": float(sel.sum()),
                         "k_min": float(sel.min()), "k_max": float(sel.max())}

        self.dir = os.path.join(self.work, "input")
        os.makedirs(self.dir)
        self.paths, sizes = [], []
        for i in range(self.files):
            p = os.path.join(self.dir, f"part-{i:04d}.xlsx")
            sizes.append(gen.write_workbook(
                p, self.rows.slice(i * self.file_rows, (i + 1) * self.file_rows)))
            self.paths.append(p)
        self.indexed_dir = os.path.join(self.work, "indexed")
        return gen.merge_sizes(sizes)

    def ops(self, spark) -> list:
        from pyspark.sql import functions as F

        from sheetreader_duckdb_spark import index_xlsx, index_xlsx_dir, read_xlsx

        path, sums = self.dir, self.sums

        def fresh_copy():
            shutil.rmtree(self.indexed_dir, ignore_errors=True)
            if self.files == 1:
                os.makedirs(self.indexed_dir)
            else:
                shutil.copytree(self.dir, self.indexed_dir)

        def index(_):
            if self.files == 1:
                name = os.path.basename(self.paths[0])
                return [index_xlsx(self.paths[0], out_path=os.path.join(self.indexed_dir, name))]
            return index_xlsx_dir(spark, self.indexed_dir)

        where = f"k BETWEEN {self.window[0]!r} AND {self.window[1]!r}"
        return [
            Op("load", lambda: spark.read.format("sheetreader").load(path).agg(*sum_exprs()),
               lambda df: df.collect(),
               lambda res: check_sums(res[0].asDict(), sums, "load")),
            Op("index", lambda: None, index,
               lambda res: check_index(res, self.files, self.file_rows), prep=fresh_copy),
            Op("filtered_load",
               lambda: read_xlsx(spark, self.indexed_dir, where=where)
               .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k"),
                    F.min("k").alias("k_min"), F.max("k").alias("k_max")),
               lambda df: df.collect(), lambda res: check_filtered(res, self.filtered)),
        ]

