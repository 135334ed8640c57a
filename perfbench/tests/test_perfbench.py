"""Tests of the benchmark itself; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import zipfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def _sha(path: str) -> bytes:
    import hashlib

    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).digest()


def test_workbook_is_byte_identical_for_a_seed(tmp_path):
    paths = []
    for i, seed in enumerate((5, 5, 6)):
        p = str(tmp_path / f"w{i}.xlsx")
        gen.write_workbook(p, gen.make_rows(seed, 3_000, full_every=2_500))
        paths.append(p)
    assert _sha(paths[0]) == _sha(paths[1])
    assert _sha(paths[0]) != _sha(paths[2])


def test_workbook_has_the_foreign_shape(tmp_path):
    p = str(tmp_path / "w.xlsx")
    rows = gen.make_rows(1, 3_000, full_every=2_500)
    size = gen.write_workbook(p, rows)
    with zipfile.ZipFile(p) as zf:
        assert zf.comment == b""  # no split index
        sheet = zf.read("xl/worksheets/sheet1.xml")
        sst = zf.read("xl/sharedStrings.xml")
    assert b'<dimension ref="A1:H3001"/>' in sheet
    assert b't="s"' in sheet and b"inlineStr" not in sheet
    assert b"count=" in sst and f'uniqueCount="{size["unique_strings"]}"'.encode() in sst
    assert size["rows"] == 3_000 and size["bytes"] == os.path.getsize(p)
    # The first two data rows are full (8 cells each).
    for r in (2, 3):
        row = sheet.split(f'<row r="{r}">'.encode())[1].split(b"</row>")[0]
        assert row.count(b"<c ") == 8


def test_checksums_are_exact_sums():
    rows = gen.make_rows(3, 5_000, full_every=2_500)
    sums = rows.checksums()
    assert sums["rows"] == 5_000
    assert sums["flag_A"] + sums["flag_N"] + sums["flag_R"] == 5_000
    assert 0 < sums["note_rows"] < 5_000
    # Binary fractions: any summation order gives the same double.
    k = rows.cols["k"]
    assert float(k[::-1].sum()) == sums["k"] == float(sum(k.tolist()))


@pytest.fixture
def full_sums():
    return gen.make_rows(2, 4_000, full_every=2_500).checksums()


def test_load_check_rejects_each_corrupted_sum(full_sums):
    W.check_sums(dict(full_sums), full_sums, "load")
    for key, value in full_sums.items():
        bad = dict(full_sums, **{key: value + 1})
        with pytest.raises(W.CheckError):
            W.check_sums(dict(full_sums), bad, "load")


def test_filtered_check_rejects_each_corrupted_value():
    rows = gen.make_rows(4, 10_000, full_every=2_500)
    lo, hi = W.k_window(rows, W.FILTER_SHARE, 4)
    k = rows.cols["k"]
    sel = k[(k >= lo) & (k <= hi)]
    assert sel.size == 100
    want = {"rows": int(sel.size), "k": float(sel.sum()),
            "k_min": float(sel.min()), "k_max": float(sel.max())}
    got = [{"n": want["rows"], "k": want["k"], "k_min": want["k_min"], "k_max": want["k_max"]}]
    W.check_filtered(got, want)
    for key in want:
        with pytest.raises(W.CheckError):
            W.check_filtered(got, dict(want, **{key: want[key] + 1}))


def test_index_check_rejects_wrong_reports():
    ok = {"indexed": True, "rows": 1_001, "worksheet_points": 3}
    small = {"indexed": False, "reason": "member(s) below one split interval", "rows": 0,
             "worksheet_points": 0}
    W.check_index([ok, ok], files=2, rows_per_file=1_000)
    W.check_index([small], files=1, rows_per_file=1_000)
    for res, files, rows in (
        ([ok], 2, 1_000),  # a file without a report
        ([ok], 1, 999),  # wrong row count
        ([dict(ok, worksheet_points=1)], 1, 1_000),  # nothing to split at
        ([dict(small, reason="error: bad zip")], 1, 1_000),
    ):
        with pytest.raises(W.CheckError):
            W.check_index(res, files=files, rows_per_file=rows)


def test_declared_workloads_and_metrics_match_the_emitted_ones():
    assert [w["name"] for w in DECLARED["workloads"]] == list(W.LAYOUTS)
    assert {w["name"]: w["why"] for w in DECLARED["workloads"]} == W.WHY
    assert DECLARED["command"] == ["python3", "perfbench/run.py"]
    e2e = {m["name"]: (m["unit"], m["bound"]) for m in DECLARED["end_to_end"]}
    assert e2e == run.E2E
    per_layer = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    assert per_layer == layers.UNITS
    for m in DECLARED["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in layers.HIGHER else "lower")


def test_every_layer_names_the_operation_it_should_move():
    assert set(layers.TARGETS) == set(layers.UNITS)
    ops = {f"{o}_s" for o in W.OPS} | {"setup_s"}
    for targets in layers.TARGETS.values():
        for metric, workload in targets:
            assert metric in ops and workload in W.LAYOUTS
