"""Retrofit the split index onto FOREIGN xlsx files (VERDICT r11 task 1).

The splittable-read economics (splitindex module doc: sharded reads seek
straight to their own intervals and total decompression returns to 1× the
file) previously applied only to files OUR writer produced — but real
corpora are Excel/openpyxl output, which still paid O(shards × file)
decompression on a sharded read. ``index_xlsx(path)`` closes that gap with
one sequential pass:

* the target worksheet (the one the default scan resolves, or an explicit
  ``sheet_name``/``sheet_index``) and the shared-strings heap are
  RE-DEFLATED with ``Z_FULL_FLUSH`` points at row / entry boundaries every
  ~4 MB of uncompressed XML (the writer's own ``_write_indexed_member``,
  so point placement, thinning, and count discipline are shared code);
* every other member is copied RAW — the compressed bytes land in the new
  archive verbatim, so styles, drawings, pivot caches, macros, anything we
  do not parse survives bit-identical;
* the (offset, cumulative count) index is published on the zip archive
  comment exactly as the writer does, and the output replaces the input
  atomically (``os.replace`` through a sibling temp file) unless
  ``out_path`` says otherwise.

Counting convention: the reader validates every materialized interval's
parsed row count against the recorded one and fails loudly on mismatch, so
the retrofit counts rows EXACTLY as ``parser.count_row_starts`` does —
``<{pfx}row`` occurrences minus ``<{pfx}rowB`` (rowBreaks), prefix detected
from the worksheet opener like the scan tiers. Foreign row shapes
(``<row>``, ``<row r=.. spans=..>``, self-closing, prefixed) all count
correctly because the needle is the same byte pattern the reader counts.

The reference core never needs this: it splits the DECOMPRESSED buffer
in-process (/root/reference/src/sheetreader_extension.cpp:775), an option
distributed executors don't have. The retrofit gives any third-party file
the same property across a fleet.
"""

from __future__ import annotations

import os
import struct
import zipfile
from collections import Counter
from functools import partial
from operator import itemgetter

from .parser import (
    _SST_PFX_RE,
    XlsxWorkbook,
    _bool_payload,
    build_dense_row_re,
    count_row_starts,
    detect_row_prefix,
    prefix_res,
)
from .rowstream import MixedAwareRowCounter, foreign_row_evidence
from .splitindex import (
    SECTION_KEYS,
    SECTIONS,
    SST_ENTRY,
    member_data_offset,
    strip_count_entry,
    truncated_string_bounds,
)
from .writer import _publish_index, _write_indexed_member, spans_intervals


class _IntervalStatsCollector:
    """Per-interval min/max per column letter, collected from the
    retrofit pass's own bytes (VERDICT r11 task 2 — the parquet
    row-group-stats pattern for XLSX): analyses one interval's uncompressed
    XML at a time and sees its cells through the reader's own scans — the
    dense row pattern (``parser.build_dense_row_re``) when every row
    matches it, else the prefix-compiled cell regex — then folds raw
    ``<v>`` values of untyped / ``t="n"`` cells column by column (date
    serials stay raw — the reader converts filter dates to serial
    envelopes). STRING cells (``t="s"``) record each interval's UNIQUE
    ref indices per column; ``_resolve_deferred_strings`` then folds
    their truncated (lo, hi) bounds in ONE streamed pass over the heap
    (the retrofit's source heap, or the sink's own intern list), so
    memory is O(unique refs), never O(heap). The stored bounds use the
    over-keep-only truncation rule (splitindex.truncated_string_bounds).
    Value COUNTS per type family (r13, the ``nc`` section —
    [numeric_plain, string, boolean, date_styled], splitindex module
    comment) ride the same pass: they need no heap and no float parse,
    only the t/s attrs the regex already captured, and they feed
    IsNull/IsNotNull pruning. Honesty rules, all conservative toward NOT
    pruning:

    * an interval whose cell-regex match count disagrees with its raw
      ``<c`` count (irregular cells the regex can't see) records None for
      EVERY column in that interval;
    * so does an interval containing ``t="str"``/``t="inlineStr"`` cells
      the default reader refuses — pruning must not skip the error the
      unfiltered read raises (ADVICE r12);
    * a column whose values fail float parse — or contain NaN — records
      None for that interval; a string column whose max admits no honest
      truncated upper bound drops its string claim;
    * an interval whose read would raise on a string cell — a garbage,
      negative or out-of-heap ref, a lone-surrogate heap entry — and
      every string-bearing interval when the heap is missing or its
      stream cannot be decoded, claims nothing in any section;
    * fine-grained intervals are realigned to the FINAL (possibly
      2:1-thinned) point list by cumulative row count; any misalignment
      drops all stats;
    * an interval the writer had to stream past its 64 MB segment cap
      (``writer._SEGMENT_CAP``) disables collection outright (bounded
      memory beats stats);
    * count-specific: a column whose family totals exceed the interval's
      row count (duplicate cell refs — malformed OOXML that could let
      IsNull-pruning overclaim) withholds ITS counts for the interval,
      and with an unknown date-style mapping any STYLED numeric cell
      does the same (the cell's decode family is undecidable).
    """

    # Deferred-resolution budget (r13): stored sst ref indices per
    # column / per collector. 4M int64 refs ≈ 32 MB a column, 8M ≈ 64 MB
    # total — crossing a cap sheds that column's (then the largest
    # columns') STRING claims only; numeric/bool/count claims, the
    # error-parity checks and the index itself are untouched.
    _DEFER_COL_CAP = 4 << 20
    _DEFER_TOTAL_CAP = 8 << 20

    def __init__(
        self, pfx: bytes, date_styles: "frozenset[int] | None" = None,
    ):
        self._pfx = pfx
        self._defer_refs: list = []    # (fine_idx, col, np.int64 uniques)
        self._defer_counts: dict = {}  # col -> stored ref total
        self._defer_dead: set = set()  # cols shed by budget/garbage
        self._defer_dead_b: set = set()  # bytes twin for the cell loop
        # fine_idx -> largest string ref of that interval, shed columns
        # included: the resolver's range check once the heap length is
        # known, and the set of intervals a missing heap withholds
        self._ref_top: dict = {}
        self._defer_resolved = False
        # Style indices that decode numeric cells as DATE (parser
        # semantics: styled-in-set → T_DATE, else T_NUMERIC). The count
        # section splits the numeric family on this because the READER
        # does (a date-styled cell is NULL to a DOUBLE column and vice
        # versa). None = mapping unknown: a column seeing any STYLED
        # numeric cell then withholds its count claim for that interval
        # (sound both ways); unstyled numerics are always T_NUMERIC.
        self._date_styles = date_styles
        self._cum = 0
        # [(cum_rows_at_interval_end, {section key: claims | None})] with
        # claims per letter: st (mn, mx), sv (lo, hi), nc (n, s, b, d) |
        # None, bt (n_true, n_false) | None; None withholds the section
        self.fine: list = []
        self.dead = False

    def analyzer(self):
        """One interval's analysis as a picklable callable of its bytes,
        or None once collection died. The shed columns are a snapshot
        taken now (the parent drops late arrivals regardless, so
        staleness only costs cycles)."""
        if self.dead:
            return None
        return partial(
            _analyze_interval, pfx=self._pfx, date_styles=self._date_styles,
            dead_cols=frozenset(self._defer_dead_b),
        )

    def fold(self, r) -> None:
        """Fold one interval's analysis into collector state, in stream
        order (cum accumulation + deferred-ref bookkeeping live HERE, on
        the parent side, so pooled and serial runs build identical
        claims)."""
        if self.dead:
            return
        fi = len(self.fine)
        rows_in, claims, refs = r
        self._cum += rows_in
        if refs is not None:
            self._ref_top[fi], drefs = refs
            for col, arr in drefs.items():
                if col in self._defer_dead:
                    continue
                self._defer_refs.append((fi, col, arr))
                self._defer_counts[col] = (
                    self._defer_counts.get(col, 0) + int(arr.size)
                )
            self._enforce_defer_budget()
        self.fine.append((self._cum, claims))

    def _shed_defer_col(self, col: str) -> None:
        self._defer_dead.add(col)
        self._defer_dead_b.add(col.encode())
        self._defer_refs = [r for r in self._defer_refs if r[1] != col]
        self._defer_counts.pop(col, None)

    def _enforce_defer_budget(self) -> None:
        """Cap deferred-ref memory: a column past _DEFER_COL_CAP sheds
        itself; past _DEFER_TOTAL_CAP the largest columns shed until the
        rest fit. Shedding only loses string-bound claims for those
        columns — the documented graceful degradation (the r12 design
        lost ALL string stats on big heaps; this loses only the
        highest-cardinality columns, and only above ~4M uniques)."""
        for col, n in list(self._defer_counts.items()):
            if n > self._DEFER_COL_CAP:
                self._shed_defer_col(col)
        while sum(self._defer_counts.values()) > self._DEFER_TOTAL_CAP:
            self._shed_defer_col(
                max(self._defer_counts, key=self._defer_counts.get)
            )

    @property
    def defer_shed(self) -> list:
        """Columns whose string bounds were shed by the deferred budget
        (observability: index_xlsx reports them)."""
        return sorted(self._defer_dead)

    def aligned(self, points: "list | None", total_rows: int) -> dict:
        """``{section key: {letter: array}}`` aligned to the SURVIVING
        points, in the encode shapes (splitindex module doc). A section
        is absent when collection died, realignment failed, or it has
        nothing to claim."""
        if self.dead or points is None:
            return {}
        if self._ref_top and not self._defer_resolved:
            raise RuntimeError(
                "deferred string bounds not resolved — run "
                "_resolve_deferred_strings over the heap first"
            )
        bounds = [cum for _, cum in points] + [total_rows]
        out: dict = {}
        for spec in SECTIONS:
            key = spec.key
            # Bound sections (lo, hi pairs) merge by envelope and an
            # absent letter claims nothing; count sections merge by
            # element-wise SUM and an absent letter is a true zero (the
            # interval holds no cells of that column). A per-column None
            # (style-undecidable / duplicate guard) poisons that column
            # for the group.
            pairs = spec.width == 2
            letters_all = sorted(
                {k for _, c in self.fine if c[key] for k in c[key]}
            )
            if not letters_all:
                continue
            cols = {k: [] for k in letters_all}
            fi = 0
            ok = True
            for b in bounds:
                merged: "dict | None" = {}
                at = None
                took = False
                while fi < len(self.fine) and self.fine[fi][0] <= b:
                    at, claims = self.fine[fi]
                    st = claims[key]
                    fi += 1
                    took = True
                    if merged is None or st is None:
                        merged = None
                        continue
                    for k, t in st.items():
                        if k not in merged:
                            merged[k] = t
                            continue
                        got = merged[k]
                        if got is None or t is None:
                            merged[k] = None
                        elif pairs:
                            merged[k] = (min(got[0], t[0]), max(got[1], t[1]))
                        else:
                            merged[k] = tuple(x + y for x, y in zip(got, t))
                if took and at != b:
                    ok = False  # fine/survivor cum mismatch: claim nothing
                    break
                # not took: a ZERO-ROW interval (duplicate cumulative
                # bound — e.g. the final flush landed exactly on the last
                # row and only the trailer followed). Nothing to claim,
                # nothing wrong; the r11 review caught this dropping ALL
                # stats for such files. (For counts an all-zero claim on
                # a zero-row interval is vacuously true.)
                for k in letters_all:
                    if pairs:
                        got = (merged or {}).get(k)
                        cols[k].extend(got if got is not None else (None, None))
                    else:
                        got = merged.get(k, ()) if merged is not None else None
                        cols[k].append(
                            None if got is None else strip_count_entry(got)
                        )
            if ok:
                out[key] = cols
        return out


_TEMPLATE_TAIL = 64 << 10  # interval tail searched for a template row


def _dense_columns(data: bytes, pr, rows_in: int):
    """``(head, columns)``: an interval's non-empty ``<v>`` values per
    (letters, s, t) column from ONE findall of the reader's dense row
    pattern (``parser.build_dense_row_re``) over the rows from the first
    one that matches a template row — the widest, then last, tail row
    that compiles. ``head`` holds the bytes before that row (the
    worksheet opener, a header row), which the caller scans cell by
    cell. None if no tail row compiles or a later row deviates. A match
    of every row proves each holds only template cells, in order, with
    the template's exact s/t and a non-empty ``<v>`` or no cell: no
    unseen cells, no ``t="str"``/``inlineStr``, no repeated ref."""
    tail = pr.row_re.findall(data, max(0, len(data) - _TEMPLATE_TAIL))
    rows = [(pr.cell_re.findall(body), body) for body in reversed(tail)]
    for cells, body in sorted(rows, key=lambda r: -len(r[0])):  # stable
        keep = list(range(len(cells)))
        built = build_dense_row_re(body, keep, None, frozenset(), pr.pfx)
        if built is not None:
            break
    else:
        return None
    first = built[0].search(data)
    if first is None:
        return None
    head = data[:first.start()]
    dm = built[0].findall(data, len(head))
    if (
        len(dm) != rows_in - count_row_starts(head, pr.pfx)
        or foreign_row_evidence(data, pr.pfx)
    ):
        return None
    if len(cells) == 1:  # one group: findall returns bytes, not tuples
        return head, {cells[0][:3]: list(filter(None, dm))}
    return head, {c[:3]: list(filter(None, map(itemgetter(j), dm)))
                  for j, c in enumerate(cells)}


def _analyze_interval(
    data: bytes, pfx: bytes, date_styles,
    dead_cols: "frozenset | set" = frozenset(),
):
    """Pure per-interval analysis (the collector's interval step,
    extracted so a forked worker can run it on raw bytes): returns
    ``(rows_in, claims, refs)`` where ``claims`` maps every section key
    to its per-letter claims, or to None throughout for a withheld
    interval, and ``refs`` is None for an interval without string refs,
    else ``(largest ref, {letter: unique ref array})`` for the heap fold
    (columns in ``dead_cols`` ship no array). All honesty rules
    documented on _IntervalStatsCollector live here."""
    import numpy as np

    pr = prefix_res(pfx)
    rows_in = count_row_starts(data, pfx)
    withheld = (rows_in, dict.fromkeys(SECTION_KEYS), None)
    dense = _dense_columns(data, pr, rows_in)
    head, cols = (data, {}) if dense is None else dense
    # One streaming pass over the rows the dense scan left (no list of
    # every cell: a worker's peak memory is this interval's values, not
    # its cell tuples).
    seen = 0
    refused = False
    for m in pr.cell_re.finditer(head):
        letters, s_attr, t_attr, v = m.groups(b"")
        seen += 1
        refused = refused or t_attr in (b"str", b"inlineStr")
        if v:
            cols.setdefault((letters, s_attr, t_attr), []).append(v)
    if seen != sum(1 for _ in pr.cell_count_re.finditer(head)):
        # unseen cells: no claims
        return withheld
    if refused:
        # Cells the default reader REFUSES (formula/inline strings →
        # UNSUPPORTED_STRING_ERROR): claiming stats here would let a
        # pruned filtered read silently succeed where the unfiltered
        # read of the same file errors — withhold the whole interval
        # so it always inflates and raises identically (ADVICE r12).
        # (Most such cells already land in the count-mismatch branch
        # above — their <is>/<f> children defeat the cell regex — but
        # a bare `<c t="str"><v>…</v></c>` matches and needs this.)
        return withheld
    per: dict = {}
    per_s: dict = {}
    # Value counts per letter (r13, the `nc` section): how many cells
    # decode NON-NULL per type family — [numeric_plain, string,
    # boolean, date_styled] (splitindex module comment). Counted for
    # every family (counts need no heap), so null-pruning works even on
    # columns whose string BOUNDS are shed or unclaimable. Cells of any
    # other shape (t="e", empty <v>, unknown t) decode to NULL in every
    # scan tier and count nowhere, which is exactly the claim.
    ncounts: dict = {}
    # Boolean VALUE counts per letter (r15, the `bt` section):
    # [n_true, n_false] over the interval's t="b" cells, truth decided by
    # the reader's own rule (parser._bool_payload). A payload that is not
    # UTF-8 makes every read tier raise, so — error parity, as for an
    # unparseable number — the whole interval is withheld.
    bcounts: dict = {}
    for (letters, s_attr, t_attr), vals in cols.items():
        if not t_attr or t_attr == b"n":
            per.setdefault(letters, []).extend(vals)
            if not s_attr:
                fam = 0
            elif date_styles is None:
                # style mapping unknown: these cells' decode family is
                # undecidable — the column claims no counts here
                ncounts[letters] = None
                continue
            else:
                fam = 3 if int(s_attr) in date_styles else 0
        elif t_attr == b"s":
            # collected even for budget-shed columns, because the
            # parse-check below is an error-parity obligation, not a
            # claims step (r13 review pass 2: a garbage ref in a shed
            # column must still withhold the interval)
            per_s.setdefault(letters, []).extend(vals)
            fam = 1
        elif t_attr == b"b":
            fam = 2
            bc = bcounts.setdefault(letters, [0, 0])
            for payload, n in Counter(vals).items():
                try:
                    truth = _bool_payload(payload)
                except UnicodeDecodeError:
                    return withheld
                bc[0 if truth else 1] += n
        else:
            continue
        got = ncounts.setdefault(letters, [0, 0, 0, 0])
        if got is not None:
            got[fam] += len(vals)
    # Duplicate-ref guard: ECMA-376 requires unique cell refs per row,
    # but the count claims (unlike min/max, which duplicates cannot
    # widen) could be INFLATED by a malformed file repeating a ref —
    # letting IsNull-pruning skip an interval that still holds a null
    # row. A letter whose family total exceeds the interval's row
    # count is proof of duplication: withhold that column's counts
    # (bounds claims stay — duplication never changes min/max).
    for k, t in list(ncounts.items()):
        if t is not None and sum(t) > rows_in:
            ncounts[k] = None
    # Same duplicate-ref guard for the boolean value counts: inflated
    # counts can never cause an unsound SKIP (the test is count == 0),
    # but a provably-duplicated column claims nothing anyway.
    for k, t in list(bcounts.items()):
        if t is not None and sum(t) > rows_in:
            bcounts[k] = None
    stats: dict = {}
    for letters, vals in per.items():
        try:
            arr = np.array(vals).astype(np.float64)
        except ValueError:
            # An unparseable numeric <v> makes the READER raise
            # (parser float(v)); the t="str" error-parity rule applies
            # (r13 review): claiming ANYTHING for this interval — any
            # column, any section — would let a pruned filtered read
            # silently succeed where the unfiltered read errors.
            # Withhold the whole interval. (Before r13 this was a
            # per-column skip, which left OTHER columns' claims able
            # to prune the error away.)
            return withheld
        if np.isnan(arr).any():
            continue  # NaN parses fine in the reader: column-level skip
        stats[letters.decode()] = (float(arr.min()), float(arr.max()))
    # Pre-parse EVERY string ref for the same reason: the reader does
    # int(v) on each t="s" cell and raises on garbage — error parity
    # demands no claims at all for an interval the read would die in.
    # OverflowError covers refs past int64 (the reader's Arrow cast
    # raises on those too — r13 review pass 2: np.astype raised it
    # UNCAUGHT and crashed serial retrofits).
    top = -1
    drefs: dict = {}
    for letters, vals in per_s.items():
        try:
            arr = np.array(vals).astype(np.int64)
        except (ValueError, OverflowError):
            return withheld
        if arr.size:
            if int(arr.min()) < 0:
                # Negative ref: an IN-RANGE negative wraps in the reader,
                # an out-of-range one raises IndexError — which one
                # depends on the heap length, unknown until the heap
                # pass. Withhold the whole interval: the conservative
                # superset of both (ADVICE r13 medium). Checked before
                # the dead_cols skip: shedding drops claims, not the
                # error-parity obligation.
                return withheld
            top = max(top, int(arr.max()))
        if letters not in dead_cols:
            drefs[letters.decode()] = np.unique(arr)
    nc = {
        k.decode(): (tuple(v) if v is not None else None)
        for k, v in ncounts.items()
    }
    bv = {
        k.decode(): (tuple(v) if v is not None else None)
        for k, v in bcounts.items()
    }
    # sv starts empty: the heap fold (_resolve_deferred_strings) fills
    # it in, and aligned() refuses to run before that
    claims = {"st": stats, "sv": {}, "nc": nc, "bt": bv}
    return rows_in, claims, None if top < 0 else (top, drefs)


def _strip_zip64_extra(extra: bytes) -> bytes:
    """Drop the zip64 record (id 0x0001) from an extra-field blob: its
    sizes describe the SOURCE archive's encoding and zipfile regenerates
    one when the copied member actually needs it; every other record
    (UTF-8 names, NTFS timestamps, ...) passes through untouched."""
    out = b""
    i = 0
    while i + 4 <= len(extra):
        tid, ln = struct.unpack("<HH", extra[i : i + 4])
        if tid != 0x0001:
            out += extra[i : i + 4 + ln]
        i += 4 + ln
    return out


def _raw_copy(zout: zipfile.ZipFile, src_path: str, info: zipfile.ZipInfo) -> None:
    """Copy one member into ``zout`` verbatim at the compressed-byte level
    (no inflate/deflate round trip): local header from the member's real
    metadata, then the raw data span. The data-descriptor bit clears
    because we write true sizes up front; a zip64 local extra is
    regenerated by ``FileHeader`` only when the sizes require it."""
    import copy as _copy

    doff = member_data_offset(src_path, info)
    zi = _copy.copy(info)
    zi.flag_bits &= ~0x08
    zi.extra = _strip_zip64_extra(info.extra or b"")
    zi.header_offset = zout.fp.tell()
    zip64 = (
        zi.file_size > zipfile.ZIP64_LIMIT
        or zi.compress_size > zipfile.ZIP64_LIMIT
    )
    zout._writecheck(zi)
    zout._didModify = True
    zout.fp.write(zi.FileHeader(zip64=zip64))
    with open(src_path, "rb") as f:
        f.seek(doff)
        remaining = info.compress_size
        while remaining:
            chunk = f.read(min(remaining, 1 << 20))
            if not chunk:
                raise ValueError(
                    f"truncated member data for {info.filename} in {src_path}"
                )
            zout.fp.write(chunk)
            remaining -= len(chunk)
    zout.start_dir = zout.fp.tell()
    zout.filelist.append(zi)
    zout.NameToInfo[zi.filename] = zi


def _inflate_chunks(zf: zipfile.ZipFile, name: str, head: bytes = b""):
    """Uncompressed byte chunks of a member, optionally replaying an
    already-peeked head first."""
    if head:
        yield head
    with zf.open(name) as f:
        while True:
            c = f.read(1 << 20)
            if not c:
                return
            yield c


def _peek(zf: zipfile.ZipFile, name: str, n: int) -> bytes:
    with zf.open(name) as f:
        return f.read(n)


def _reencode_member(zout, zinfo, chunks, boundary, needle, neg, stats=None,
                     pool=None, pool_size=0):
    """Re-deflate one member with flush points, preserving its metadata
    (CRC/sizes are recomputed from the actual stream)."""
    import copy as _copy

    zi = _copy.copy(zinfo)
    zi.compress_type = zipfile.ZIP_DEFLATED
    zi.flag_bits &= ~0x08
    zi.extra = _strip_zip64_extra(zinfo.extra or b"")
    zi.CRC = 0
    zi.compress_size = 0
    zi.file_size = 0
    return _write_indexed_member(
        zout, zi, chunks, boundary, needle, neg, stats=stats, pool=pool,
        pool_size=pool_size,
    )


def _retrofit_width(workers: "int | None") -> int:
    """Processes (and staging threads) one retrofit may use: ``workers``
    when given, else the usable cores, at most 4."""
    if workers is not None:
        return max(1, workers)
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        cores = os.cpu_count() or 1
    return min(4, cores)


def _stage_members(src_path, jobs, base, stats, width,
                   tmps_out=None, pool=None, pool_size=0):
    """Re-deflate each splittable member into its own single-member temp
    archive, one staging thread per member up to ``width``. A staging
    thread inflates its member, counts and cuts it at flush points, and
    writes the deflated segments; with ``pool`` the segments (and their
    interval statistics) are computed in the pool's worker processes, so
    one big member keeps every worker busy, and several members overlap
    their inflates (zlib releases the GIL). Each thread opens its own
    ZipFile handle (zipfile reads are not safely concurrent on one
    object). Returns ``{filename: {"tmp": path, "r": result}}``.

    Byte-determinism: a staged member's bytes depend only on its own
    source stream and the shared deflate settings, and assembly replays
    archive order — so the final file is identical for ANY worker
    count, including 1 (pinned in tests/test_xlsx_indexer.py)."""

    def _one(i, kind, info, kpfx):
        tmpm = f"{base}.m{i}"
        if tmps_out is not None:
            tmps_out.append(tmpm)  # recorded BEFORE work: a worker that
            # dies mid-stage still gets its temp cleaned (list.append is
            # atomic under the GIL)
        with XlsxWorkbook(src_path) as wb2:
            with zipfile.ZipFile(tmpm, "w", zipfile.ZIP_DEFLATED) as ztmp:
                if kind == "sst":
                    r = _reencode_member(
                        ztmp, info,
                        _inflate_chunks(wb2.zf, info.filename),
                        b"</" + kpfx + b"si>", b"<" + kpfx + b"si", None,
                        pool=pool, pool_size=pool_size,
                    )
                else:
                    r = _index_one_sheet(
                        ztmp, wb2, src_path, info, kpfx, stats,
                        pool=pool, pool_size=pool_size,
                    )
        return info.filename, {"tmp": tmpm, "r": r}

    staged: dict = {}
    if width <= 1 or len(jobs) <= 1:
        for i, (kind, info, kpfx) in enumerate(jobs):
            k, v = _one(i, kind, info, kpfx)
            staged[k] = v
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(width, len(jobs))) as ex:
            futs = [ex.submit(_one, i, *j) for i, j in enumerate(jobs)]
            for f in futs:
                k, v = f.result()
                staged[k] = v
    return staged


def index_xlsx(
    path: str,
    out_path: "str | None" = None,
    sheet_name: "str | None" = None,
    sheet_index: "int | None" = None,
    replace_comment: bool = False,
    stats: bool = True,
    workers: "int | None" = None,
) -> dict:
    """One-pass retrofit: produce a split-indexed copy of ``path`` (any
    XLSX — Excel, openpyxl, anything) whose sharded reads seek instead of
    re-inflating the whole worksheet per task.

    * ``out_path=None`` replaces the input atomically (temp file +
      ``os.replace`` in the same directory); otherwise the indexed copy
      lands at ``out_path`` and the input is untouched.
    * ``sheet_name``/``sheet_index`` pick the worksheet to index (default:
      the sheet the default scan resolves, index 1) — the comment format
      carries one worksheet section (+ the shared-strings section, which
      benefits every sheet).
    * a foreign (non-index) archive comment is preserved by NOT indexing
      unless ``replace_comment=True``; our own stale index comment is
      always replaced.
    * ``workers``: processes that deflate (and, with ``stats``, analyse)
      the flush intervals, and threads that stage the members (None =
      auto: the usable cores, at most 4). One big worksheet spreads its
      intervals over every worker; output bytes are identical for every
      worker count. ``workers=1`` runs everything inline: no process, no
      thread.

    * ``stats``: author per-interval statistics. String bounds come from
      each interval's unique shared-string refs, folded in one streamed
      pass over the source heap after staging
      (``_resolve_deferred_strings``); the heap is never held.

    Returns ``{"indexed": bool, "reason": str | None, "rows": int,
    "worksheet_points": int, "sst_points": int, "path": str}``. A file
    whose worksheet defeats indexing (undetectable row prefix, encrypted
    members, too small to span one interval) is reported, not modified —
    the sequential read serves it exactly as before. "Too small" is
    decided from the central directory's member sizes before any member
    is inflated.
    """

    def _noop(reason: str) -> dict:
        return {
            "indexed": False, "reason": reason, "rows": 0,
            "worksheet_points": 0, "sst_points": 0, "path": path,
        }

    with XlsxWorkbook(path) as wb:
        comment = wb.zf.comment
        from .splitindex import MAGIC

        if comment and not comment.startswith(MAGIC) and not replace_comment:
            return _noop(
                "archive carries a foreign comment; pass "
                "replace_comment=True to overwrite it"
            )
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        infos = wb.zf.infolist()
        for info in infos:
            if info.flag_bits & 0x1:
                return _noop(f"encrypted member {info.filename}")
        names = {i.filename for i in infos}
        if sheet.path not in names:
            return _noop(f"worksheet member {sheet.path} missing")
        # Prefix detection from the worksheet head — same convention as
        # the scan tiers (deterministic: the opener precedes any row).
        ws_head = _peek(wb.zf, sheet.path, 4 << 20)
        pfx = detect_row_prefix(ws_head)
        if pfx is None:
            return _noop("no detectable worksheet/sheetData opener")
        sst_pfx = None
        if SST_ENTRY in names:
            m = _SST_PFX_RE.search(_peek(wb.zf, SST_ENTRY, 64 << 10))
            if m is not None:
                sst_pfx = (m.group(1) + b":") if m.group(1) else b""

        # Plan the splittable members, then STAGE each into its own temp
        # archive — in parallel when there is more than one (r12:
        # per-member-parallel retrofit; each worksheet and the sst are
        # independent re-deflate streams) — and ASSEMBLE the output by
        # raw-copying source order: staged members carry their flush
        # points (member-relative offsets survive relocation),
        # everything else copies verbatim.
        sheet_paths = {s.path for s in wb.sheets}
        jobs: list = []
        for info in infos:
            if info.filename == sheet.path:
                jobs.append(("primary", info, pfx))
            elif info.filename in sheet_paths:
                # Additional worksheets of a multi-sheet workbook (r11):
                # each gets its own flush points + section under the `m`
                # key, so a sheet_index/sheet_name read of ANY big sheet
                # shards with seeks.
                pfx2 = detect_row_prefix(_peek(wb.zf, info.filename, 4 << 20))
                if pfx2 is not None:
                    jobs.append(("extra", info, pfx2))
            elif info.filename == SST_ENTRY and sst_pfx is not None:
                jobs.append(("sst", info, sst_pfx))
        if not any(spans_intervals(info.file_size) for _k, info, _p in jobs):
            # no member reaches a flush point: staging would re-deflate
            # every member only to publish nothing
            return _noop(_TOO_SMALL)

        dest = out_path or path
        tmp = os.path.join(
            os.path.dirname(os.path.abspath(dest)) or ".",
            f".idx-tmp-{os.getpid()}-{os.path.basename(dest)}",
        )

        staged_tmps: list = []
        pool = None  # assigned in the try; torn down in finally

        def _rm_temps(keep_out: bool = False):
            # exact names, never glob — a destination basename containing
            # glob metacharacters ('report[2024].xlsx') must not leak
            # staging files (r12 review fix)
            for t in ([] if keep_out else [tmp]) + staged_tmps:
                try:
                    os.remove(t)
                except OSError:
                    pass

        try:
            # Segment pool: every flush interval of every member is
            # deflated — and, with stats, analysed — as one job in a
            # FORK pool (bytes in once, segment and claims out), so one
            # big worksheet fills every worker. Workers spawn eagerly
            # here — in the main thread, BEFORE the staging threads
            # exist (fork-with-live-threads is the classic deadlock). A
            # box without fork or under resource limits (OSError /
            # ValueError from pool setup) falls back to the inline
            # path, bytes identical; any other error is a bug and
            # raises.
            width = _retrofit_width(workers)
            pool_size = 0
            if width > 1:
                try:
                    import multiprocessing as _mp

                    pool = _mp.get_context("fork").Pool(processes=width)
                    pool_size = width
                except (OSError, ValueError):
                    pool = None
                    pool_size = 0
            staged = _stage_members(
                path, jobs, tmp, stats, width,
                tmps_out=staged_tmps, pool=pool, pool_size=pool_size,
            )
            pts = spts = None
            nrows = n_si = 0
            mixed = False
            coll_p = None
            extra_raw: list = []
            for kind, info, _kp in jobs:
                r = staged[info.filename]["r"]
                if kind == "primary":
                    pts, nrows, coll_p, mixed = r
                    if mixed:
                        # Rows under other prefixes exist: the
                        # detected-prefix counts would disagree with
                        # the reader's parse — never index on a lie.
                        pts, coll_p = None, None
                elif kind == "extra":
                    pts2, n2, coll2, mixed2 = r
                    if pts2 and not mixed2:
                        extra_raw.append((info.filename, pts2, n2, coll2))
                else:
                    spts, n_si = r
            if pts is None and spts is None and not extra_raw:
                raise _TooSmall
            # String bounds: every collector's recorded refs fold in ONE
            # streamed pass over the source heap. The retrofit's own
            # staged entry count (n_si) is the cross-check: a streamed
            # total disagreeing with it would mean misaligned indices.
            # With no heap, or no detectable heap prefix, there is
            # nothing to stream and string-bearing intervals claim
            # nothing.
            colls = [coll_p] + [c for _e, _p, _n, c in extra_raw]
            colls = [c for c in colls if c is not None]
            _resolve_deferred_strings(
                colls,
                None if sst_pfx is None else _iter_sst_entries(
                    wb.zf, sst_pfx
                ),
                expected_n=n_si if sst_pfx is not None else None,
            )
            shed_cols = sorted({col for c in colls for col in c.defer_shed})
            sections = (
                coll_p.aligned(pts, nrows) if coll_p is not None else None
            )
            extra: dict = {}
            for entry2, pts2, n2, coll2 in extra_raw:
                extra[entry2] = {
                    "n": n2, "points": pts2,
                    "sections": (
                        coll2.aligned(pts2, n2) if coll2 is not None else None
                    ),
                }
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zout:
                for info in infos:
                    sres = staged.get(info.filename)
                    if sres is not None:
                        with zipfile.ZipFile(sres["tmp"]) as ztmp:
                            zi = ztmp.getinfo(info.filename)
                        _raw_copy(zout, sres["tmp"], zi)
                    else:
                        _raw_copy(zout, path, info)
                # Counted during the staging write with the reader's own
                # needle convention over the same bytes — expected ==
                # counted by construction; _publish_index still owns size
                # limits (stats columns drop largest-first, then extra
                # sheets, if the comment would exceed the 64 KB ceiling).
                _publish_index(
                    zout, sheet.path, pts, nrows, nrows, spts, n_si, n_si,
                    sections=sections, extra_sheets=extra or None,
                )
                published = bool(zout.comment)
            if not published:
                raise _TooSmall
        except _TooSmall:
            _rm_temps()
            return _noop(
                "worksheet mixes row prefixes — counts would not validate"
                if mixed
                else _TOO_SMALL
            )
        except BaseException:
            _rm_temps()
            raise
        else:
            _rm_temps(keep_out=True)
        finally:
            if pool is not None:
                pool.terminate()
                pool.join()
        os.replace(tmp, dest)
        return {
            "indexed": True, "reason": None, "rows": nrows,
            "worksheet_points": len(pts or []), "sst_points": len(spts or []),
            "extra_sheets": len(extra), "path": dest,
            # observability (r13): columns whose string bounds were
            # shed by the ref budget
            "string_stats_shed": shed_cols,
        }


def _iter_sst_entries(zf, pfx: bytes):
    """Stream the shared-strings heap as decoded entry strings in heap
    order with bounded memory: inflate chunk-wise, cut the buffer at the
    last complete entry terminator, and decode each cut span as a
    one-span heap with the reader's own decoders
    (``parser._parse_sst_fast``, then ``parser._parse_sst_expat`` for
    spans the pattern cannot own: rich-text runs, attributes, comments).
    Raises ValueError when a span defeats both — the caller sheds string
    claims rather than risking index misalignment."""
    from xml.etree.ElementTree import ParseError

    from .parser import _parse_sst_expat, _parse_sst_fast

    end1 = b"</" + pfx + b"si>"
    end2 = b"<" + pfx + b"si/>"
    # a root carrying the heap's prefix, so the fast path resolves the
    # same needles (prefixed tags get a placeholder xmlns for expat)
    root = b"<" + pfx + b"sst" + (
        b' xmlns:' + pfx[:-1] + b'="urn:x"' if pfx else b""
    ) + b">"
    close = b"</" + pfx + b"sst>"

    def _decode_span(span: bytes) -> list:
        doc = root + span + close
        got = _parse_sst_fast(doc)
        if got is not None:
            return got
        try:
            return _parse_sst_expat(doc)
        except ParseError as e:
            raise ValueError(f"sst span defeats streaming decode: {e}") from e

    buf = b""
    opened = False
    for chunk in _inflate_chunks(zf, SST_ENTRY):
        buf += chunk
        if not opened:
            m = _SST_PFX_RE.search(buf[: 64 << 10])
            if m is None:
                if len(buf) > (64 << 10):
                    raise ValueError("no sst opener in the heap head")
                continue
            gt = buf.find(b">", m.start())
            if gt == -1:
                continue
            buf = buf[gt + 1:]
            opened = True
        cut = max(buf.rfind(end1), buf.rfind(end2))
        if cut == -1:
            continue
        cut += len(end1) if buf.startswith(end1, cut) else len(end2)
        span, buf = buf[:cut], buf[cut:]
        yield from _decode_span(span)
    # the leftover holds only </sst>/whitespace — no complete entry


def _resolve_deferred_strings(collectors, entries, expected_n=None):
    """One streamed pass over the heap ``entries`` (decoded strings in
    heap order, or None when there is no heap to read) that turns every
    collector's recorded refs into string bounds — the one string-bounds
    rule of the stats author, for the retrofit (the source heap) and the
    sink (its own intern list) alike. Multi-sheet retrofits share the
    pass; memory is O(unique refs), never O(heap).

    Per (interval, column) group the fold keeps the exact min and max
    referenced string and stores ``truncated_string_bounds`` of that
    pair, so the claims equal a resident-heap resolution. A group whose
    max admits no honest truncated bound claims nothing for that column.
    An interval whose read would raise — it references an unencodable
    entry (lone surrogate) or a ref past the heap — claims nothing in
    any section (error parity). If there is no heap, the stream decode
    is defeated, or ``expected_n`` (the retrofit's own staged entry
    count) disagrees with the streamed total — misaligned indices —
    EVERY interval holding string refs claims nothing in any section."""
    import numpy as np

    groups: list = []
    arrs: list = []
    for coll in collectors:
        for fi, col, arr in coll._defer_refs:
            groups.append((coll, fi, col))
            arrs.append(arr)
    n_groups = len(groups)
    lo: list = [None] * n_groups
    hi: list = [None] * n_groups
    err = [False] * n_groups  # the READ of that interval would fail
    total = 0
    ok = entries is not None
    if ok and any(coll._ref_top for coll in collectors):
        idx = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
        order = np.argsort(idx, kind="stable")
        idx = idx[order]
        gid = np.repeat(
            np.arange(n_groups, dtype=np.int64), [a.size for a in arrs]
        )[order]
        # one run of equal refs per referenced entry: run k is
        # idx[edges[k]:edges[k + 1]] (refs are >= 0, so the -1 pads
        # mark the first start and the end)
        edges = np.flatnonzero(np.diff(idx, prepend=-1, append=-1))
        k, runs = 0, edges.size - 1
        nxt = int(idx[0]) if idx.size else -1
        try:
            for s in entries:
                j = total
                total += 1
                if j != nxt:
                    continue  # unreferenced entry: keep counting only
                try:
                    s.encode("utf-8")
                except ValueError:  # UnicodeEncodeError: lone surrogate
                    # — a read materializing this entry fails at Arrow
                    # conversion, so referencing intervals are ERRORS,
                    # not mere no-claims (error parity, r13 review pass 2)
                    s = None
                for g in gid[edges[k]:edges[k + 1]].tolist():
                    if s is None:
                        err[g] = True
                    elif lo[g] is None:
                        lo[g] = hi[g] = s
                    elif s < lo[g]:
                        lo[g] = s
                    elif s > hi[g]:
                        hi[g] = s
                k += 1
                nxt = int(idx[edges[k]]) if k < runs else -1
        except ValueError:
            ok = False  # stream decode defeated
        if expected_n is not None and total != expected_n:
            ok = False  # two independent entry counts disagree
    withhold = {  # a ref past the heap: the reader raises IndexError
        (coll, fi)
        for coll in collectors
        for fi, top in coll._ref_top.items()
        if not ok or top >= total
    }
    withhold.update((coll, fi) for g, (coll, fi, _c) in enumerate(groups)
                    if err[g])
    for coll, fi in withhold:
        # error parity: NO section may keep a claim that could prune
        # the failing read (or the unknowable one) away
        coll.fine[fi] = (coll.fine[fi][0], dict.fromkeys(SECTION_KEYS))
    for g, (coll, fi, col) in enumerate(groups):
        if (coll, fi) in withhold or lo[g] is None:
            continue
        bounds = truncated_string_bounds(lo[g], hi[g])
        if bounds is not None:
            coll.fine[fi][1]["sv"][col] = bounds
    for coll in collectors:
        coll._defer_resolved = True


def _index_one_sheet(zout, wb, src_path, info, pfx, want_stats,
                     pool=None, pool_size=0):
    """Re-deflate one worksheet member with flush points and the full
    honesty kit: the reader's own row count (``count_rows``' engine,
    exact under any prefix, for mixed detection) + optional interval
    statistics. Returns (points, n_rows, collector, mixed) — the
    caller aligns the collector AFTER the string bounds are folded over
    the streamed heap, so the collector rides out of the staging worker
    instead of its aligned arrays."""
    anyctr = MixedAwareRowCounter(pfx, prefix_res(pfx).row_count_re)

    def _counted(chunks):
        for c in chunks:
            anyctr.feed(c)
            yield c

    coll = (
        _IntervalStatsCollector(pfx, date_styles=wb.date_styles)
        if want_stats
        else None
    )
    pts, n = _reencode_member(
        zout, info, _counted(_inflate_chunks(wb.zf, info.filename)),
        b"</" + pfx + b"row>", b"<" + pfx + b"row", b"<" + pfx + b"rowB",
        stats=coll, pool=pool, pool_size=pool_size,
    )
    # The mixed verdict only means anything when indexing actually ran:
    # with flush machinery unavailable (pts None) nothing is indexed, and
    # the report must say that, not "mixed" (r11 review).
    if pts is not None and anyctr.close() != n:
        return pts, n, None, True
    return pts, n, coll, False


class _TooSmall(Exception):
    """No member reached one split interval (control flow only)."""


_TOO_SMALL = "member(s) below one split interval — nothing to index"


def _resolve_corpus_paths(path_or_glob: str) -> list[str]:
    """Sorted .xlsx paths for a sweep, by the reader's own path rule
    (``datasource._resolve_paths``). Raises on an empty match (shared by
    index_xlsx_dir / describe_index_dir)."""
    from .datasource import _resolve_paths

    paths = [p for p in _resolve_paths(path_or_glob) if os.path.exists(p)]
    if not paths:
        raise ValueError(f"no .xlsx files match {path_or_glob!r}")
    return paths


def describe_index(path: str) -> dict:
    """Index-health report for one workbook — the ops counterpart of
    ``index_xlsx`` at fleet scale: which members are splittable, at what
    granularity, and which stats sections will actually prune. Decode
    only (zip central directory + archive comment — NO member is
    inflated), so sweeping a million-file corpus costs a metadata read
    per file.

    Returns ``{"indexed": bool, "comment_bytes": int, "sheets": {entry:
    {"rows", "intervals", "stride", "numeric_stat_cols",
    "string_stat_cols", "count_stat_cols", "bool_stat_cols",
    "claim_coverage": {section:
    fraction of (interval, column) slots carrying a usable claim}}},
    "sst": {"entries": int, "points": int} | None, "path": str}``.
    Sections that fail their untrusted-input validation report as
    absent — exactly what the planner will see. ``claim_coverage``
    surfaces authoring withholds (error-parity intervals, shed columns,
    style-unknown numerics): a column that "has stats" but covers 10%
    of intervals explains a read that barely prunes."""
    from . import splitindex as SI

    out: dict = {
        "indexed": False, "comment_bytes": 0, "sheets": {}, "sst": None,
        "path": path,
    }
    with zipfile.ZipFile(path) as zf:
        comment = zf.comment
        if not comment.startswith(SI.MAGIC):
            return out
        out["comment_bytes"] = len(comment)
        payload = SI._payload(zf)
        if payload is None:
            return out
        entries = []
        if isinstance(payload.get("e"), str):
            entries.append(payload["e"])
        m = payload.get("m")
        if isinstance(m, dict):
            entries.extend(k for k in m if isinstance(k, str))
        for entry in entries:
            pts = SI.decode_split_index(zf, entry, payload=payload)
            if pts is None:
                continue
            sec = SI._section_for(payload, entry) or {}
            sq = SI._section_stride(sec, len(pts))
            rec: dict = {
                "rows": pts[-1][1],
                "intervals": len(pts),
                # None = forged/garbage stride (all stats dropped) —
                # distinct from an honest unstrided index's 1
                "stride": sq[0] if sq else None,
            }
            coverage: dict = {}
            decoded = SI.decode_interval_sections(
                zf, entry, pts, payload=payload
            )
            for spec in SI.SECTIONS:
                got = decoded.get(spec.key)
                rec[f"{spec.label}_stat_cols"] = sorted(got) if got else []
                if got:
                    slots = sum(len(v) for v in got.values())
                    claims = sum(
                        1 for v in got.values() for e in v if e is not None
                    )
                    coverage[spec.label] = (
                        round(claims / slots, 3) if slots else 0.0
                    )
            rec["claim_coverage"] = coverage
            out["sheets"][entry] = rec
        spts = SI.decode_sst_index(zf, payload=payload)
        if spts is not None:
            out["sst"] = {"entries": spts[-1][1], "points": len(spts)}
        out["indexed"] = bool(out["sheets"]) or out["sst"] is not None
    return out


def _sweep(spark, paths: list[str], one) -> list[dict]:
    """``one(path)`` for every workbook on the cluster, reports in input
    order. The files are packed into at most ``defaultParallelism``
    contiguous, byte-balanced tasks (``tasks.pack_contiguous``): a
    Python task's fixed start-up cost outweighs the work on one small
    file, so the task count follows the cluster width, not the file
    count."""
    from .tasks import pack_contiguous, stat_checked_zip_invalidation

    sizes = []
    for p in paths:
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            sizes.append(0)  # ``one`` reports the file's real error
    sc = spark.sparkContext
    groups = pack_contiguous(paths, sizes, sc.defaultParallelism)

    def task(group):
        stat_checked_zip_invalidation()
        return [one(p) for p in group]

    return sc.parallelize(groups, len(groups)).flatMap(task).collect()


def describe_index_dir(spark, path_or_glob: str) -> list[dict]:
    """Distributed index-health sweep: one report per workbook (the
    ``describe_index`` shape, plus ``reason: "error: ..."`` rows for
    unreadable files), in input order, from at most one task per core
    (``_sweep``) — the audit story for a retrofitted corpus: which files
    still lack an index, which columns lost stats to shedding, where
    claim coverage collapsed."""
    paths = _resolve_corpus_paths(path_or_glob)

    def _one(p):
        from sheetreader_duckdb_spark.sources.xlsx.indexer import (
            describe_index,
        )

        try:
            return describe_index(p)
        except Exception as e:  # noqa: BLE001 — sweep survives bad files
            return {
                "indexed": False, "reason": f"error: {e}", "path": p,
                "comment_bytes": 0, "sheets": {}, "sst": None,
            }

    return _sweep(spark, paths, _one)


def index_xlsx_dir(
    spark,
    path_or_glob: str,
    sheet_name: "str | None" = None,
    sheet_index: "int | None" = None,
    replace_comment: bool = False,
    stats: bool = True,
    workers: int = 1,
) -> list[dict]:
    """Distributed retrofit of a whole corpus: every workbook runs
    ``index_xlsx`` IN PLACE (per-file output paths don't generalize to a
    sweep; each file's replace is atomic), packed into at most one task
    per core (``_sweep``). This is the conversion story at fleet scale —
    indexing a directory of foreign XLSX is embarrassingly parallel per
    file, and each file's work is one sequential inflate+deflate.

    ``path_or_glob``: a directory (its ``*.xlsx``, non-recursive) or a
    glob pattern. Paths must be visible to the executors (shared
    filesystem — the same constraint as reading them). Per-file failures
    are REPORTED, not fatal: the sweep returns one result dict per file,
    in input order (``index_xlsx``'s shape, plus ``reason: "error: ..."``
    rows for files that raised), so a single corrupt workbook can't kill
    a million-file sweep."""
    paths = _resolve_corpus_paths(path_or_glob)
    # workers defaults to 1 here (unlike index_xlsx's auto): the sweep
    # already keeps every core of the cluster busy, and per-member
    # threads inside every task would oversubscribe; raise it only for
    # sweeps of few, large, multi-sheet workbooks.
    kwargs = dict(
        sheet_name=sheet_name, sheet_index=sheet_index,
        replace_comment=replace_comment, stats=stats, workers=workers,
    )

    def _one(p):
        from sheetreader_duckdb_spark.sources.xlsx.indexer import index_xlsx

        try:
            return index_xlsx(p, **kwargs)
        except Exception as e:  # noqa: BLE001 — sweep survives one bad file
            return {
                "indexed": False, "reason": f"error: {e}", "rows": 0,
                "worksheet_points": 0, "sst_points": 0, "path": p,
            }

    return _sweep(spark, paths, _one)
