"""Splittable-XLSX index: the bgzip pattern applied to the worksheet entry.

An XLSX worksheet is one deflate stream inside a zip, so a sharded read
normally re-inflates the WHOLE stream per shard just to reach its own
chunks — O(shards × file) decompression, the one cost of the chunk
round-robin design that does not divide (BENCHNOTES r10: lineitem auto
saturates at ~32 shards because every task pays the full-zlib fixed cost;
at 1000 executors against a 10 GB sheet that waste is 1000×).

Our writer closes the gap the way bgzip/indexed-gzip do for gzip: it
emits ``Z_FULL_FLUSH`` sync points at ``</row>`` boundaries every ~4 MB
of uncompressed sheet XML. A full flush byte-aligns the stream AND resets
the deflate window, so a fresh ``zlib.decompressobj`` can start inflating
at any recorded point — each shard preads only its own intervals' raw
bytes and inflates exactly those. Total decompression returns to 1× the
file, spread across the shards, and sharding scales with I/O.

The index — (compressed offset, cumulative row count) per point — rides
the ZIP ARCHIVE COMMENT: a standard container field every zip tool
preserves and every consumer ignores, so the file stays a plain XLSX
(the flush points are ordinary deflate blocks; Excel, the reference
extension, and our own pre-index reader all read these files unchanged,
just sequentially). The reference core never shards inside one deflate
stream either — its interleaved threads split the DECOMPRESSED buffer
(sheetreader_extension.cpp:775) — so this is beyond-parity scaling, not
parity.

Readers must treat the comment as untrusted input: `decode_split_index`
validates structure/monotonicity and the consuming scan additionally
checks each interval's parsed row count against the recorded one,
failing loudly on any mismatch rather than returning silently wrong
rows (a corrupt-but-well-formed index cannot pass both).

Interval statistics (the parquet row-group pattern): a filtered read
skips whole intervals the comment proves empty of matches. Each kind of
claim is one row of the ordered ``SECTIONS`` table — its comment key, the
validator for one stride group's encoded entry, whether that validator
needs the group's row total, the stride-coarsening step, the
``describe_index`` label and the shedding rank — and every layer (stats
author, publisher, decoder, planner, ``describe_index``) loops over that
table instead of naming sections. A section maps column LETTERS to one
array per column:

* ``st`` — flat ``[lo0, hi0, lo1, hi1, ...]`` min/max over the raw numeric
  cell values (date serials raw), null pairs where nothing is claimed;
* ``sv`` — the same shape over RESOLVED shared-string values, truncated
  to ``STR_STAT_BYTES`` with the over-keep-only rule (lo <= min,
  hi >= max);
* ``nc`` — one ``None | [n_numeric_plain, n_string, n_boolean,
  n_date_styled]`` value-count entry per group (``_NC_FAMILIES``),
  trailing zeros stripped; the planner derives nulls from the group's
  row total;
* ``bt`` — one ``None | [n_true, n_false]`` entry per group over the
  ``t="b"`` cells, truth decided by ``parser.bool_cell``.

A letter may appear in several sections (mixed-type columns); the planner
consults whichever matches the schema type it filters. Under the 64 KB
ceiling the publisher first doubles the stride ``q`` (one entry per ``q``
consecutive intervals: envelopes for the bounds, sums for the counts —
claims only widen), then sheds columns largest-first.
"""

from __future__ import annotations

import json
import struct
import zipfile
from dataclasses import dataclass
from itertools import zip_longest
from typing import Callable, Collection

MAGIC = b"SRSX1:"

# Uncompressed bytes between flush points. 4 MB matches the reader's
# single-thread chunk size; at the 2048-point cap that indexes ≥8 GB of
# sheet XML before interval doubling kicks in (see writer).
SPLIT_INTERVAL = 4 << 20
MAX_POINTS = 2048


SST_ENTRY = "xl/sharedStrings.xml"

# VARCHAR interval stats (r12): truncated min/max string bounds per
# interval, the parquet row-group pattern for string columns. Bounds are
# UTF-8-prefix-truncated to this many bytes with the over-keep-only rule:
# the stored lo is a prefix of the true min (so lo <= min), the stored hi
# is either the exact max or the truncated prefix with its last code
# point incremented (so hi >= max). Python str comparison is code-point
# order == UTF-8 byte order == Spark/DuckDB binary collation, so the
# planner compares filter values against these bounds directly.
STR_STAT_BYTES = 16
# decode-side structural ceiling: an honest bound is <= 16 chars (one
# char per byte at minimum width; increment never lengthens) — reject
# anything materially beyond it as forged/garbage.
_STR_STAT_MAX_CHARS = STR_STAT_BYTES + 1


def utf8_char_prefix(s: str, limit: int = STR_STAT_BYTES) -> str:
    """Longest char-boundary prefix of ``s`` whose UTF-8 encoding fits in
    ``limit`` bytes — lexicographically <= ``s`` by construction."""
    n = 0
    out = []
    for ch in s:
        k = len(ch.encode("utf-8"))
        if n + k > limit:
            break
        out.append(ch)
        n += k
    return "".join(out)


def increment_str(p: str) -> "str | None":
    """Smallest convenient strict upper bound for ALL strings having char
    prefix ``p``: bump the last code point that can grow and drop the
    tail. None when every char is U+10FFFF (no bound claimable). The
    bumped char may land on a lone surrogate — irrelevant for ordering
    (code-point compare) and JSON-safe (escaped)."""
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            return p[:i] + chr(c + 1)
    return None


def truncated_string_bounds(mn: str, mx: str) -> "tuple[str, str] | None":
    """(lo, hi) bounds for a value set with true min ``mn`` / max ``mx``:
    lo <= mn and hi >= mx under code-point order, each stored in <=
    STR_STAT_BYTES UTF-8 bytes (pre-JSON-escaping). None when no honest
    upper bound fits (absurd U+10FFFF-prefixed max): claim nothing."""
    lo = mn if len(mn.encode("utf-8")) <= STR_STAT_BYTES else utf8_char_prefix(mn)
    if len(mx.encode("utf-8")) <= STR_STAT_BYTES:
        return lo, mx
    hi = increment_str(utf8_char_prefix(mx))
    if hi is None:
        return None
    return lo, hi


# Per-interval value-count stats (r13): the third leg of the parquet
# row-group pattern (min/max + null_count). Stored as VALUE counts per
# type family — [n_numeric_plain, n_string, n_boolean, n_date_styled]
# per interval — because XLSX nullness is type-directed (a mismatched
# cell decodes to NULL, so the null count of a column depends on the
# reader's schema type): the planner derives nulls = rows_in_interval -
# family_count for whichever family the filtered column's schema type
# decodes from. The numeric population SPLITS on date style because
# decode does (parser: a date-styled numeric cell is T_DATE, which a
# DOUBLE column NULLs, and vice versa — one merged family would make
# IsNull pruning unsound on mixed-style columns). Every OTHER cell
# shape (t="e", empty <v>, absent cell, unknown t) decodes to NULL in
# all scan tiers (parser.py: unknown t → T_NONE), so the four families
# are exactly the non-null-producing set.
_NC_FAMILIES = 4


def strip_count_entry(t) -> list:
    """Encode-side minimal form of one count entry: trailing zeros drop
    ([5,0,0] → [5]; all-zero → [] — a TRUE claim that every row in the
    group is NULL for this column, distinct from null = no claim)."""
    out = list(t)
    while out and out[-1] == 0:
        out.pop()
    return out


def coarsen_count_groups(arr: list) -> list:
    """One stride-doubling step over a per-group count array
    ``[entry0, entry1, ...]`` (entry = None | [n, s, b, d] trailing-
    zero-stripped): adjacent entries merge by ELEMENT-WISE SUM — the
    count analog of the min/max envelope, sound for both null-predicates
    because the planner's tests (family == 0 / family == group rows)
    stay exact under summation. None-absorbing; odd last carried."""
    out: list = []
    for j in range(0, len(arr), 2):
        a = arr[j]
        if j + 1 < len(arr):
            b = arr[j + 1]
            if a is None or b is None:
                out.append(None)
            else:
                out.append(strip_count_entry(
                    x + y for x, y in zip_longest(a, b, fillvalue=0)
                ))
        else:
            out.append(a)
    return out


def coarsen_stat_pairs(arr: list) -> list:
    """One stride-doubling step over a flat [lo0, hi0, lo1, hi1, ...]
    stats array: merge adjacent (lo, hi) pairs into their envelope —
    None-absorbing (a group containing an unknown claims nothing), last
    odd pair carried as-is (ceil semantics, composing with the decoder's
    ``i // q`` group mapping). Works for numeric and string bounds alike
    (min/max are the Python comparisons both prune with)."""
    out: list = []
    for j in range(0, len(arr), 4):
        lo0, hi0 = arr[j], arr[j + 1]
        if j + 2 < len(arr):
            lo1, hi1 = arr[j + 2], arr[j + 3]
            if lo0 is None or lo1 is None:
                out.extend((None, None))
            else:
                out.extend((min(lo0, lo1), max(hi0, hi1)))
        else:
            out.extend((lo0, hi0))
    return out


# Entry validators, one per section row: each takes one stride group's
# ``width`` encoded slots (plus the group's row total where the row asks
# for it) and returns the decoded claim, None for "no claim", or raises
# ValueError/TypeError on garbage — which drops that section only.
def _float_pair(e: list, rows) -> "tuple[float, float] | None":
    lo, hi = e
    if lo is None or hi is None:
        return None
    lo, hi = float(lo), float(hi)
    if not (lo <= hi):  # also rejects NaN
        raise ValueError("numeric bounds out of order")
    return lo, hi


def _str_pair(e: list, rows) -> "tuple[str, str] | None":
    # Bounds may hold lone surrogates (increment_str can land on one), so
    # the size check counts chars instead of UTF-8-encoding.
    lo, hi = e
    if lo is None and hi is None:
        return None
    if (not isinstance(lo, str) or not isinstance(hi, str)
            or max(len(lo), len(hi)) > _STR_STAT_MAX_CHARS or lo > hi):
        raise ValueError("bad string bounds")
    return lo, hi


def _counts(slots: int, with_rows: bool):
    def check(slot: list, rows: int) -> "tuple | None":
        (e,) = slot
        if e is None:
            return None
        if not isinstance(e, list) or len(e) > slots or any(
            not isinstance(x, int) or isinstance(x, bool) or x < 0 for x in e
        ):
            raise ValueError("bad count entry")
        t = tuple(e) + (0,) * (slots - len(e))
        if sum(t) > rows:
            raise ValueError("counts exceed the group's rows")  # forged
        return t + (rows,) if with_rows else t

    return check


@dataclass(frozen=True)
class Section:
    """One interval-statistics section of the comment (module doc)."""

    key: str          # comment key
    label: str        # describe_index name: ``<label>_stat_cols``
    rank: int         # shedding tie-break between equal-size columns
    width: int        # encoded slots per stride group
    check: Callable   # entry validator (above)
    group_rows: bool  # check needs the group's row total
    coarsen: Callable  # one stride-doubling step over a column's array


# Ordered: encode writes the keys in this order, so it is part of the
# byte format. ``rank`` reproduces the publisher's historical shedding
# order among equal-size columns (numeric, string, count, bool).
SECTIONS = (
    Section("st", "numeric", 3, 2, _float_pair, False, coarsen_stat_pairs),
    Section("sv", "string", 2, 2, _str_pair, False, coarsen_stat_pairs),
    Section("nc", "count", 1, 1, _counts(_NC_FAMILIES, True), True,
            coarsen_count_groups),
    Section("bt", "bool", 0, 1, _counts(2, False), True,
            coarsen_count_groups),
)
SECTION_KEYS = tuple(s.key for s in SECTIONS)
SECTION_BY_KEY = {s.key: s for s in SECTIONS}


def _put_sections(out: dict, sections: "dict | None", stride: int) -> None:
    present = False
    for spec in SECTIONS:
        cols = sections.get(spec.key) if sections else None
        if cols:
            out[spec.key] = cols
            present = True
    if present and stride > 1:
        out["q"] = stride


def _deltas(points: list) -> "tuple[list, list]":
    coffs, counts = [], []
    pc = pn = 0
    for c, n in points:
        coffs.append(c - pc)
        counts.append(n - pn)
        pc, pn = c, n
    return coffs, counts


def encode_split_index(
    entry: str,
    points: list[tuple[int, int]],
    total_rows: int,
    sst_points: "list[tuple[int, int]] | None" = None,
    sst_total: int = 0,
    sections: "dict[str, dict] | None" = None,
    stride: int = 1,
    extra_sheets: "dict[str, dict] | None" = None,
) -> bytes:
    """Comment bytes for one indexed worksheet entry (+ optionally the
    shared-strings heap). ``points`` are (compressed offset relative to
    the member's data start, cumulative rows written before the point);
    sequences are delta-encoded so a 2048-point index stays ~10-20 KB,
    well under the 64 KB comment ceiling. ``sst_points`` carry the same
    shape for ``xl/sharedStrings.xml`` with cumulative ENTRY counts —
    sharded readers then inflate only the heap intervals their own rows
    reference instead of the whole heap per task.

    ``sections`` maps a ``SECTIONS`` key to ``{column letter: encoded
    array}`` (module doc); keys are written in table order and empty
    sections are omitted. ``stride`` (the ``q`` key, written when > 1
    and any section is present) says how many consecutive intervals
    each encoded group covers.

    ``extra_sheets`` carries ADDITIONAL worksheet members of a
    multi-sheet workbook under the ``m`` key — ``{entry: {"n": total,
    "points": [...], "sections": {...} | None, "stride": q}}`` — so every
    big sheet is splittable, not just the one the default scan resolves;
    the primary sheet stays in the top-level keys for compatibility with
    indexes written before this field existed."""
    coffs, rows = _deltas(points)
    payload = {"e": entry, "n": total_rows, "c": coffs, "r": rows}
    if sst_points:
        sc, sr = _deltas(sst_points)
        payload["sc"] = sc
        payload["sr"] = sr
        payload["sn"] = sst_total
    _put_sections(payload, sections, stride)
    if extra_sheets:
        m = {}
        for entry2, sec in extra_sheets.items():
            c2, r2 = _deltas(sec["points"])
            s2 = {"n": sec["n"], "c": c2, "r": r2}
            _put_sections(s2, sec.get("sections"), sec.get("stride", 1))
            m[entry2] = s2
        payload["m"] = m
    out = MAGIC + json.dumps(payload, separators=(",", ":")).encode("ascii")
    if len(out) > 0xFFFF:
        raise ValueError("split index exceeds the zip comment limit")
    return out


def _decode_points(
    zf: zipfile.ZipFile, entry: str, payload: dict, ckey: str, nkey: str, tkey: str
) -> "list[tuple[int, int]] | None":
    """Shared delta-walk validation for one indexed member: strictly
    increasing compressed offsets inside the member, counts monotone
    non-decreasing and within the declared total, deflate members only.
    Returns absolute (coff, count_cum) points plus the implicit terminal
    (compress_size, total), or None on any inconsistency."""
    try:
        coffs, counts = payload.get(ckey), payload.get(nkey)
        if not coffs or not counts or len(coffs) != len(counts):
            return None
        total = int(payload[tkey])
        info = zf.getinfo(entry)
        if info.compress_type != zipfile.ZIP_DEFLATED or total < 0:
            return None
        points: list[tuple[int, int]] = []
        c = n = 0
        for dc, dn in zip(coffs, counts):
            c += int(dc)
            n += int(dn)
            if dc <= 0 or dn < 0 or c >= info.compress_size or n > total:
                return None
            points.append((c, n))
        points.append((info.compress_size, total))
        return points
    except (ValueError, KeyError, TypeError, zipfile.BadZipFile):
        return None


def _payload(zf: zipfile.ZipFile) -> "dict | None":
    if not zf.comment.startswith(MAGIC):
        return None
    try:
        payload = json.loads(zf.comment[len(MAGIC):])
        return payload if isinstance(payload, dict) else None
    except ValueError:
        return None


def _section_for(payload: dict, entry: str) -> "dict | None":
    """The index section describing ``entry``: the top-level keys when it
    is the primary sheet, else its ``m`` sub-dict (multi-sheet workbooks,
    r11). None when the comment says nothing about this member."""
    if payload.get("e") == entry:
        return payload
    m = payload.get("m")
    if isinstance(m, dict):
        sec = m.get(entry)
        if isinstance(sec, dict):
            return sec
    return None


def decode_split_index(
    zf: zipfile.ZipFile, entry: str, payload: "dict | None" = None
) -> "list[tuple[int, int]] | None":
    """Validated absolute (coff, rows_cum) points for ``entry``, plus the
    implicit terminal point (compress_size, total_rows) — or None when the
    archive carries no usable index for this entry (no comment, other
    entry, non-deflate member, or any structural inconsistency; the caller
    falls back to the sequential scan, results identical either way).
    Resolves additional-sheet sections (``m``) as well as the primary.
    ``payload`` short-circuits the comment re-parse when the caller
    already holds it."""
    if payload is None:
        payload = _payload(zf)
    if payload is None:
        return None
    sec = _section_for(payload, entry)
    if sec is None:
        return None
    return _decode_points(zf, entry, sec, "c", "r", "n")


def decode_sst_index(
    zf: zipfile.ZipFile, payload: "dict | None" = None
) -> "list[tuple[int, int]] | None":
    """Validated absolute (coff, entries_cum) points for the shared-strings
    heap, plus the implicit terminal (compress_size, total_entries) — or
    None when the comment carries no usable sst section (same untrusted-
    input discipline as the worksheet index; the heap reader additionally
    verifies each interval's local entry count and falls back to the full
    heap on any inconsistency)."""
    if payload is None:
        payload = _payload(zf)
    if payload is None:
        return None
    return _decode_points(zf, SST_ENTRY, payload, "sc", "sr", "sn")


def _section_stride(sec: dict, n_iv: int) -> "tuple[int, int] | None":
    """Validated (stride, coarse pair count) for a section's stats arrays
    — q=1 when absent; None on a forged/garbage stride."""
    q = sec.get("q", 1)
    if not isinstance(q, int) or isinstance(q, bool) or not (1 <= q <= 4096):
        return None
    return q, (n_iv + q - 1) // q


def decode_interval_sections(
    zf: zipfile.ZipFile, entry: str, points: list,
    keys: "Collection[str]" = SECTION_KEYS,
    payload: "dict | None" = None,
) -> "dict[str, dict[str, list]]":
    """Validated interval statistics for ``entry``: ``{key: {letter:
    [claim | None per interval]}}`` for each requested section in
    ``keys`` that is present and valid, aligned with the decoded
    ``points`` (terminal included → ``len(points)`` intervals). Claims
    are ``(lo, hi)`` for the bound sections, the group's family counts
    plus its row total for ``nc``, and ``(n_true, n_false)`` for ``bt``.

    The comment is untrusted: a wrong array length, a non-string key or
    any entry its row's validator rejects drops THAT section — garbage
    in one section never costs the others — and a garbage stride drops
    them all. Pruning is an optimization, the unpruned scan is the
    semantics. Claims on a pruned interval are never re-validated by
    parsing (the parquet row-group trust model); interval 0 is always
    materialized and count-checked, which catches whole-file staleness.
    A stride group's claim is replicated to each of its intervals, so
    claims only ever widen. ``payload`` skips the comment re-parse when
    the caller already holds it."""
    if payload is None:
        payload = _payload(zf)
    sec = _section_for(payload, entry) if payload is not None else None
    sq = _section_stride(sec, len(points)) if sec is not None else None
    if sq is None:
        return {}
    q, m = sq
    n_iv = len(points)
    rows_g: "list[int] | None" = None
    out: dict = {}
    for spec in SECTIONS:
        raw = sec.get(spec.key) if spec.key in keys else None
        if not isinstance(raw, dict) or not raw:
            continue
        if spec.group_rows and rows_g is None:
            # rows per stride group, from the validated points
            rows_g = [0] * m
            prev = 0
            for i, (_, cum) in enumerate(points):
                rows_g[i // q] += cum - prev
                prev = cum
        w = spec.width
        cols: dict = {}
        try:
            for k, arr in raw.items():
                if (not isinstance(k, str) or not isinstance(arr, list)
                        or len(arr) != w * m):
                    raise ValueError("bad column array")
                coarse = [
                    spec.check(arr[w * j:w * j + w],
                               rows_g[j] if spec.group_rows else None)
                    for j in range(m)
                ]
                cols[k] = [coarse[i // q] for i in range(n_iv)]
        except (TypeError, ValueError, OverflowError):
            continue
        out[spec.key] = cols
    return out


def iter_intervals(
    path: str, zf: zipfile.ZipFile, entry: str, points: list, shard: int,
    n_shards: int, skip: "frozenset[int] | set[int]" = frozenset(),
):
    """Seek-and-inflate interval walk shared by the columnar and row scan
    tiers: yields ``(i, work_or_None, count_in)`` per interval in order —
    ``work`` is the inflated uncompressed bytes for intervals this shard
    materializes (its own, plus interval 0 which EVERY shard scans so the
    template/fallback decision stays identical across shards), and None
    for skipped intervals (the caller bumps its ordinals by ``count_in``
    without touching a byte — the point of the index). ``skip`` holds
    interval ordinals PRUNED by stats (r11): treated exactly like
    unassigned intervals, except interval 0 is never skippable (every
    shard must scan it for the cross-shard fallback decision and the
    loud staleness check)."""
    import zlib

    doff = member_data_offset(path, zf.getinfo(entry))
    with open(path, "rb") as rf:
        for i in range(len(points)):
            lo = points[i - 1][0] if i else 0
            hi, cum = points[i]
            count_in = cum - (points[i - 1][1] if i else 0)
            if i and ((i % n_shards) != shard or i in skip):
                yield i, None, count_in
                continue
            rf.seek(doff + lo)
            try:
                work = zlib.decompressobj(-15).decompress(rf.read(hi - lo))
            except zlib.error as e:
                # A structurally valid but stale index (the archive was
                # recompressed by a tool that preserved the comment) lands
                # here — same loud, actionable message as the row-count
                # check, never a bare zlib.error (ADVICE r10).
                raise ValueError(
                    f"sheetreader: split-index interval {i} of {entry} "
                    f"failed to inflate ({e}) — the archive comment is "
                    "stale or corrupt; remove it or rewrite the file"
                ) from e
            yield i, work, count_in


def member_data_offset(path: str, info: zipfile.ZipInfo) -> int:
    """Absolute file offset of ``info``'s compressed data: local header
    is 30 fixed bytes + its OWN name/extra lengths (which may differ from
    the central directory's copy — read them from the file)."""
    with open(path, "rb") as f:
        f.seek(info.header_offset)
        hdr = f.read(30)
        if len(hdr) != 30 or hdr[:4] != b"PK\x03\x04":
            raise ValueError(f"bad local header for {info.filename}")
        name_len, extra_len = struct.unpack("<HH", hdr[26:30])
        return info.header_offset + 30 + name_len + extra_len
