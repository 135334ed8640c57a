"""Whole-comment corruption fuzz (hypothesis): ANY damage to the
split-index archive comment — raw byte corruption or structural JSON
mutation — must yield either the exact pristine-read rows or one of
the two documented loud ``ValueError``s, matched by their shared
"sheetreader: split-index" message prefix (the row-count mismatch and
the ADVICE-r10 stale-index inflate wrap); never any other exception. A changed row set is tolerated in
exactly one classified case: the real decoders prove the mutation
forged VALID-but-different metadata (a retype or byte-flip landing on
a stats bound as a plausible narrower claim) — the documented
honest-writer trust boundary, same as parquet row-group stats.

This is the end-to-end composition of the per-section forged-input
tests (test_xlsx_interval_stats / _string_stats / _null_stats /
_sst_index pin each validator individually): one fuzzer over the whole
untrusted surface, through the real sharded read path with and without
pushed filters, so a validator gap in ANY family — points, stride,
stats, sst — shows up as a wrong row set or a foreign exception.

Scope note: semantically VALID forged stats (plausible lo<=hi bounds,
counts that pass the family-total checks) are the documented
honest-writer trust boundary — the same as parquet row-group stats —
and are pinned by the dedicated trust-boundary tests. The mutation
strategies here therefore retype/delete/truncate structure anywhere,
but numeric ±delta perturbation is applied only to the count-validated
point/stride families (c/r/n, sc/sr/sn, q), whose every materialized
interval is re-validated by parsing.

Reference: /root/reference/src/sheetreader_extension.cpp has no index
sidecar at all — this whole surface is beyond-parity hardening.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import zipfile

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql.datasource import EqualTo, GreaterThan, IsNull
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 120_000
BASE = dt.date(2020, 1, 1)
THREADS = 3

SCHEMA = StructType(
    [
        StructField("id", DoubleType()),
        StructField("name", StringType()),
        StructField("d", DateType()),
    ]
)

# One read shape per example, drawn by index: () exercises the plain
# sharded path (split + sst index), the others drive stats decode and
# interval pruning across all three stat families (st / sv / nc).
FILTER_CASES = (
    (),
    (EqualTo(("id",), 77_777.0),),
    (GreaterThan(("id",), 110_000.0), EqualTo(("name",), "r115000")),
    (IsNull(("id",)),),
)


@pytest.fixture(scope="module")
def pristine(tmp_path_factory):
    """Indexed foreign file spanning several worksheet intervals and one
    sst interval, plus its per-filter baseline row sets (the pristine
    read is the ground truth — its correctness is pinned by the
    interval-stats suites)."""
    d = tmp_path_factory.mktemp("commentfuzz")
    src = str(d / "src.xlsx")
    w = IncrementalXlsxWriter(src, "Sheet1")
    w.write_row(["id", "name", "d"])
    for i in range(N):
        idv = None if i % 10_000 == 5_000 else float(i)
        w.write_row([idv, f"r{i}", BASE + dt.timedelta(days=i // 1000)])
    w.close()
    p = str(d / "foreign.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        p, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    out = index_xlsx(p)
    assert out["indexed"] and out["worksheet_points"] >= 2
    assert out["sst_points"] >= 1  # the sc/sr/sn family must be in play
    baselines = tuple(_read_rows(p, f) for f in FILTER_CASES)
    assert len(baselines[0]) == N
    with zipfile.ZipFile(p) as zf:
        comment = zf.comment
    assert comment.startswith(SI.MAGIC)
    return p, comment, baselines


def _read_rows(path, filters):
    reader = DS.SheetReaderReader(
        {"path": path, "threads": str(THREADS)}, SCHEMA
    )
    rows = []
    for s in range(THREADS):
        part = DS._SheetPartition(
            (path,), shard=s, n_shards=THREADS, filters=tuple(filters)
        )
        for b in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in b.columns]))
    return sorted(rows, key=str)


def _decoded_meta(path):
    """What the planner would actually see in ``path``'s comment:
    (points, stats sections, sst points) via the real decoders, or None
    when the worksheet index is unusable (the reader then runs
    unindexed)."""
    with zipfile.ZipFile(path) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        if pts is None:
            return None
        entry = "xl/worksheets/sheet1.xml"
        return (
            pts,
            SI.decode_interval_sections(zf, entry, pts),
            SI.decode_sst_index(zf),
        )


_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**40), 2**40),
    st.floats(allow_nan=True, allow_infinity=True),
    st.text(max_size=6),
    st.lists(st.integers(0, 3), max_size=2),
)

# The count-validated families: every materialized interval's row/entry
# count is re-checked by parsing, so numeric perturbation here must end
# in bit-equal rows, a validator drop, or the loud ValueError — never a
# silently wrong row set.
_POINT_KEYS = {"c", "r", "n", "sc", "sr", "sn", "q"}


def _paths(node, prefix=()):
    """All (path, is_point_family) addresses in the payload tree."""
    out = []
    if isinstance(node, dict):
        it = node.items()
    elif isinstance(node, list):
        it = enumerate(node)
    else:
        return out
    for k, v in it:
        p = prefix + (k,)
        in_points = any(x in _POINT_KEYS for x in p if isinstance(x, str))
        out.append((p, in_points))
        out.extend(_paths(v, p))
    return out


def _resolve(payload, path):
    node = payload
    for k in path[:-1]:
        node = node[k]
    return node, path[-1]


@st.composite
def _mutated_comment(draw, pristine_comment):
    """A corrupted comment: raw byte damage (weight ~1/3) or a
    structural JSON mutation of the decoded payload."""
    if draw(st.integers(0, 2)) == 0:
        b = bytearray(pristine_comment)
        op = draw(st.integers(0, 4))
        k = draw(st.integers(0, max(0, len(b) - 1)))
        if op == 0:  # truncate (possibly inside the magic)
            b = b[:k]
        elif op == 1:  # flip one byte
            b[k] ^= draw(st.integers(1, 255))
        elif op == 2:  # magic kept, random tail
            b = bytearray(SI.MAGIC) + bytearray(
                draw(st.binary(min_size=0, max_size=64))
            )
        elif op == 3:  # magic gone entirely
            b = bytearray(draw(st.binary(min_size=0, max_size=32)))
        else:  # random garbage appended after the valid JSON
            b = b + bytearray(draw(st.binary(min_size=1, max_size=16)))
        return bytes(b[:60_000])

    payload = json.loads(pristine_comment[len(SI.MAGIC):])
    for _ in range(draw(st.integers(1, 3))):
        paths = _paths(payload)
        if not paths:
            break
        path, in_points = paths[draw(st.integers(0, len(paths) - 1))]
        node, key = _resolve(payload, path)
        val = node[key]
        op = draw(st.integers(0, 5))
        if op == 0:
            del node[key]
        elif op == 1:
            node[key] = draw(_scalars)
        elif op == 2:
            node[key] = [val]
        elif op == 3 and isinstance(val, list) and val:
            del node[key][draw(st.integers(0, len(val) - 1)):]
        elif op == 4 and isinstance(val, list):
            node[key].append(draw(_scalars))
        elif op == 5 and isinstance(val, int) and in_points:
            node[key] = val + draw(
                st.integers(-5000, 5000).filter(lambda x: x != 0)
            )
        else:  # swap two top-level values
            ks = sorted(payload)
            a = ks[draw(st.integers(0, len(ks) - 1))]
            b2 = ks[draw(st.integers(0, len(ks) - 1))]
            payload[a], payload[b2] = payload[b2], payload[a]
    return SI.MAGIC + json.dumps(payload).encode()[:59_000]


@settings(
    max_examples=int(os.environ.get("COMMENT_FUZZ_EXAMPLES", "24")),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_any_comment_corruption_is_exact_or_loud(pristine, tmp_path, data):
    path, comment, baselines = pristine
    mutated = data.draw(_mutated_comment(comment))
    case = data.draw(st.integers(0, len(FILTER_CASES) - 1))
    victim = str(tmp_path / f"mut{abs(hash(mutated)) % 10**8}.xlsx")
    shutil.copyfile(path, victim)
    with zipfile.ZipFile(victim, "a") as zf:
        zf.comment = mutated
    try:
        got = _read_rows(victim, FILTER_CASES[case])
        if got != baselines[case]:
            # A changed row set is tolerable in exactly one case: the
            # mutation synthesized VALID-but-different metadata (e.g. a
            # retype/byte-flip landed on a stats bound and produced a
            # plausible narrower claim) — the documented honest-writer
            # trust boundary, same as parquet row-group stats. Classify
            # with the real decoders: pristine vs mutated (pts, stats
            # sections, sst). Identical-or-dead metadata with different
            # rows is a soundness bug and fails.
            assert _decoded_meta(victim) not in (
                _decoded_meta(path), None
            ), ("corrupted comment changed the row set without forging "
                "valid metadata", FILTER_CASES[case])
    except ValueError as e:
        # The documented loud paths, by message: the row-count mismatch
        # and the stale-index inflate failure (ADVICE r10 wraps the
        # zlib.error into this actionable form). Any other exception —
        # including foreign ValueErrors from deeper decode layers —
        # fails.
        assert str(e).startswith("sheetreader: split-index"), e
        return
    finally:
        os.unlink(victim)
