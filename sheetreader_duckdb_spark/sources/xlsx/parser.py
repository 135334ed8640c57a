"""Streaming XLSX (SpreadsheetML) parser — pure stdlib (zipfile + expat).

Replicates the *semantics* of the reference's vendored sheetreader-core parser
(SURVEY.md §1, §2.1; call sites /root/reference/src/sheetreader_extension.cpp:769,775)
with a Spark-first architecture: one pass, streaming, no driver-side
materialization; scale-out comes from one Spark partition per (file, sheet).

Cell model (reference CellType, sheetreader_extension.cpp:225-250):
- T_STRING_REF — ``t="s"`` cells, index into the sharedStrings heap
- T_NUMERIC   — plain ``<v>`` numeric cells (Excel numbers are always doubles)
- T_BOOLEAN   — ``t="b"``
- T_DATE      — numeric cells whose style carries a date number format
- T_NONE / T_ERROR → NULL; absent cells → NULL
- ``t="str"`` / ``t="inlineStr"`` (dynamic & inline strings) → unsupported,
  same error text as the reference (sheetreader_extension.cpp:572-575)

Dates: the reference core hands the extension seconds-since-unix-epoch as a
double and the extension truncates toward zero to days:
``date_t((int)(cell.data.real / 86400.0))`` (sheetreader_extension.cpp:170-175).
We replicate exactly: serial → secs (see ``serial_to_epoch_secs``, which also
honors the workbook's 1900/1904 date system and Excel's phantom 1900-02-29,
ECMA-376 §18.17.4.1) → int(secs/86400).
"""

from __future__ import annotations

import itertools
import os
import re
import zipfile
import zlib
from collections.abc import Iterator
from dataclasses import dataclass
from xml.etree.ElementTree import ParseError, iterparse

# Cell "types" mirroring the reference core's CellType enum.
T_NONE = 0
T_STRING_REF = 1
T_NUMERIC = 2
T_BOOLEAN = 3
T_DATE = 4
T_ERROR = 5
# Literal string carried in the cell itself (t="str" formula cache /
# t="inlineStr" <is><t> runs). The reference errors on these
# (src/sheetreader_extension.cpp:572-575) and so do we by default;
# opting in via the ``inline_strings`` data-source option accepts them —
# a beyond-reference extension for third-party writers that skip the
# sharedStrings heap.
T_STRING_LIT = 6

# What opening a corrupt or non-XLSX file raises (zip container, member
# inflate, workbook or heap XML, sheet lookup). Shard planning and the
# stats author's heap load catch exactly these; anything else — a bug —
# propagates.
_UNREADABLE_WORKBOOK = (
    zipfile.BadZipFile, zlib.error, ParseError, EOFError,
    NotImplementedError, OSError, KeyError, ValueError,
)

# Boolean truth rule, the one copy every scan tier, the vectorized reader
# (as an Arrow value set) and the ``bt`` stats author use: a t="b"
# payload is true when, stripped of UNICODE whitespace, it is one of
# these. str.strip() matches pc.utf8_trim_whitespace on every BMP code
# point (swept, r15 review); bytes.strip() is ASCII-only and decoded an
# NBSP-prefixed "true" as False.
BOOL_TRUE_TEXTS = ("1", "true", "TRUE")


def bool_cell(text: str) -> bool:
    return text.strip() in BOOL_TRUE_TEXTS


def _bool_payload(raw: bytes) -> bool:
    """``bool_cell`` for a raw t="b" ``<v>`` span, as the byte scanners
    and the ``bt`` author see it: strict UTF-8 (UnicodeDecodeError on
    malformed bytes) and entities decoded as expat decodes them, so
    ``&#160;true`` is true here exactly as in the expat walker."""
    return bool_cell(_unescape(raw) if b"&" in raw else raw.decode("utf-8"))


# Tag matching is namespace-insensitive: real-world writers vary the
# namespace (the reference's own demo file uses .../primary/spreadsheetml/...)
def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _rid_attr(el) -> str | None:
    for k, v in el.attrib.items():
        if _local(k) == "id":
            return v
    return None

UNSUPPORTED_STRING_ERROR = "Inline & dynamic String types not supported yet"

# SpreadsheetML ST_Xstring (ECMA-376 §22.9.2.19): _xHHHH_ encodes characters
# XML 1.0 cannot carry (C0 controls, CR); _x005F_xHHHH_ is a literal _xHHHH_.
# A single left-to-right pass decodes both (the replacement never creates a
# new match because re.sub resumes after the matched span).
_XSTRING_RE = re.compile(r"_x([0-9A-Fa-f]{4})_")


def _xstring(s: str) -> str:
    """ST_Xstring decode for cell text. Applied identically to shared
    strings AND to inline/``t="str"`` literal strings (all three parse
    paths), so identical logical text reads the same regardless of whether
    the writer used the sst heap or inline storage."""
    if "_x" in s:
        return _XSTRING_RE.sub(lambda m: chr(int(m.group(1), 16)), s)
    return s


def serial_to_epoch_secs(serial: float, date1904: bool = False) -> float:
    """Excel date serial → seconds since the unix epoch.

    1900 system: serial 1 = 1900-01-01, but Excel inherits Lotus 1-2-3's
    phantom 1900-02-29 (serial 60; ECMA-376 §18.17.4.1 documents the
    compatibility quirk): serials 1..59 are one day behind the naive
    ``serial - 25569`` mapping, and serial 60 itself — a date that never
    existed — clamps to 1900-02-28. Serials ≥ 61 follow the naive formula.
    1904 system (``<workbookPr date1904="1"/>``, used by classic Mac Excel):
    serial 0 = 1904-01-01, no leap quirk.
    """
    if date1904:
        return (serial - 24107.0) * 86400.0
    if serial >= 61.0:
        return (serial - 25569.0) * 86400.0
    return (min(serial, 59.0) - 25568.0) * 86400.0

# Built-in numFmtIds that render as dates/times (ECMA-376 §18.8.30).
_BUILTIN_DATE_FMTS = frozenset(
    list(range(14, 23)) + list(range(27, 37)) + list(range(45, 48)) + list(range(50, 59))
)
# A custom format is a date format if it contains y/m/d/h/s tokens outside
# quoted literals, bracketed sections, and escapes.
_FMT_STRIP = re.compile(r'"[^"]*"|\[[^\]]*\]|\\.')
_FMT_DATE_TOKEN = re.compile(r"[ymdhs]", re.IGNORECASE)


def _is_date_format(fmt: str) -> bool:
    return bool(_FMT_DATE_TOKEN.search(_FMT_STRIP.sub("", fmt)))


def column_index(cell_ref: str) -> int:
    """'BC12' → 0-based column 54."""
    col = 0
    for ch in cell_ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return col - 1


class _ProcessCache(dict):
    """A cache that belongs to one process: it pickles as an empty cache.
    ``register()`` pickles this module by value, so without this every
    pickled data source and reader would carry whatever the driver had
    cached (a whole raw ``sharedStrings.xml`` after a schema probe)."""

    def __reduce__(self):
        return (type(self), ())


_SST_CACHE = _ProcessCache()  # single entry: {"key": (path, size, mtime_ns), "strings": [...]}
_SST_LAZY_CACHE = _ProcessCache()  # single entry: {"key": ..., "heap": SharedStringHeap}

# Task-boundary signal for the worker-pinned lazy heap (r12): the
# datasource bumps this at every read() entry; IntervalStringHeap drops
# its sub-interval cache when it sees a new epoch, so reused workers
# never accumulate the previous task's intervals (class doc there).
_SST_EPOCH = [0]


def bump_sst_epoch() -> None:
    _SST_EPOCH[0] += 1

# Conventional single-run <si> shapes (Excel, openpyxl, our writer). Rich-
# text runs (<r>), attributes on <si>, or phonetic hints defeat the pattern
# — the match-count check below catches every such document and falls back
# to the expat walk, so the fast path can never change results (the dense
# row scanner's design applied to the string heap).
def _si_fast_re(pfx: bytes = b""):
    """The conventional single-run ``<si>`` pattern for one element prefix
    (exactly ONE capturing group — the entry text). ``pfx=b""`` is the
    module-constant unprefixed form; prefixed variants (``<x:si><x:t>``,
    r10) compile once and cache."""
    p = re.escape(pfx)
    return re.compile(
        b"<" + p + b"si/>|<" + p + b"si></" + p + b"si>"
        b"|<" + p + b"si><" + p + b"t/></" + p + b"si>"
        b"|<" + p + b"si><" + p + b"t></" + p + b"t></" + p + b"si>"
        # [^<]*, not a non-greedy .*: legal XML text cannot contain a raw
        # '<', so the classes match identically on every legal single-<t>
        # entry — but a schema-invalid multi-<t> entry (<si><t>a</t><t>b…)
        # now FAILS the match and falls back to expat ("ab") instead of
        # the non-greedy form silently decoding "a</t><t>b" (r9). Also
        # removes the backtracking.
        b"|<" + p + rb'si><' + p + rb't(?: xml:space="preserve")?>'
        rb"([^<]*)</" + p + rb"t></" + p + rb"si>",
    )


_SI_FAST_RE = _si_fast_re(b"")

_SST_PFX_RE = re.compile(rb"<(?:([A-Za-z_][\w.-]*):)?sst[ \t\r\n/>]")
_SI_MACHINERY_CACHE = _ProcessCache()


def _si_machinery(data: bytes):
    """(needle, si_re, end_tag) for this heap's element prefix — the sst
    opener decides (prefixed heaps previously defeated straight to expat;
    since r10 they ride the same fast per-entry machinery)."""
    m = _SST_PFX_RE.search(data, 0, 4096)
    pfx = (m.group(1) + b":") if (m and m.group(1)) else b""
    got = _SI_MACHINERY_CACHE.get(pfx)
    if got is None:
        got = _SI_MACHINERY_CACHE[pfx] = (
            b"<" + pfx + b"si", _si_fast_re(pfx), b"</" + pfx + b"sst"
        )
    return got


def _parse_sst_fast(data: bytes) -> list[str] | None:
    """Regex-scan the sharedStrings heap (one pass over the raw bytes,
    measured ~2.5x faster than the expat walk on an 800k-entry heap);
    returns None when the document shape defeats the pattern."""
    if b"<!--" in data or b"<![CDATA[" in data:
        # A commented-out <si> would BOTH count and match (a phantom
        # entry the count check cannot catch); CDATA text would decode
        # wrong. Legal but writer-exotic — expat owns these documents.
        return None
    needle, si_re, _ = _si_machinery(data)
    n_si = data.count(needle + b">") + data.count(needle + b"/>")
    if n_si == 0:
        # Either an actually-empty sst (cheap for expat) or a prefix the
        # opener scan didn't resolve (mixed prefixes) — returning []
        # here would silently drop every entry, so zero is always a
        # fast-path defeat.
        return None
    if data.count(needle) != n_si:
        # An <si start tag carrying XML whitespace or an attribute
        # ('<si >', '<si\n>', '<si ph="…">') is counted by NEITHER
        # n_si NOR the pattern, so the match-count check alone would
        # still pass while silently omitting the entry. Any <si…
        # occurrence that is not literal '<si>'/'<si/>' defeats the
        # fast path.
        return None
    matches = si_re.findall(data)
    if len(matches) != n_si:
        return None
    return list(map(_si_text, matches))


def _si_text(raw: bytes) -> str:
    """One conventional ``<si>`` entry's raw ``<t>`` text as its string:
    entity decode only when present (the superset html.unescape the
    dense row path uses — _unescape), then ST_Xstring."""
    return _xstring(_unescape(raw) if b"&" in raw else raw.decode("utf-8"))


class SharedStringHeap:
    """Lazy shared-strings heap for SHARDED reads: an offset index over
    the raw sst bytes (one memchr-speed pass), entries decoded on demand.

    Why: a chunk-round-robin shard references only ~1/n_shards of the
    heap, but materializing the FULL heap per shard is O(heap) CPU and
    allocations in EVERY worker — measured as the auto-sharding
    pathology on the 800k-unique-string partsupp witness (32 concurrent
    full parses saturate memory bandwidth: ~2.4 s each alone, ~10 s
    each under contention, auto-shard wall WORSE than single-thread).
    Decoding only referenced entries makes the per-shard heap cost
    O(entries it reads) + one cheap offset scan.

    Decode arithmetic is ``_parse_sst_fast``'s per-entry regex verbatim;
    any entry the pattern can't match (rich-text runs) falls back to ONE
    full expat parse shared by all subsequent lookups — results are
    always identical to the eager property."""

    def __init__(self, data: bytes):
        self._data = data
        self._full: list[str] | None = None
        self._si_re = _SI_FAST_RE  # replaced by the per-prefix form below
        # Per-entry decode memo: a low-cardinality sheet references the
        # same entry once per CELL, and the row/coerce paths look up per
        # cell — without the memo that is a regex decode per occurrence
        # (1.5M decodes for 100 unique strings). Bounded by the entries
        # actually referenced, never the whole heap.
        self._cache: dict[int, str] = {}
        if b"<!--" in data or b"<![CDATA[" in data:
            # A commented-out <si> would land in the offset index and
            # SHIFT every later entry to the wrong slice (each slice can
            # still match the per-entry regex, so the per-entry fallback
            # cannot catch the skew). Same guard as _parse_sst_fast:
            # expat owns comment/CDATA-bearing documents, eagerly.
            self._full = _parse_sst_expat(data)
            self._offs = list(range(len(self._full)))
            self._end = len(data)
            return
        needle, si_re, end_tag = _si_machinery(data)
        self._si_re = si_re
        end = data.rfind(end_tag)
        self._end = end if end != -1 else len(data)
        offs: list[int] = []
        nl = len(needle)
        pos = data.find(needle)
        while pos != -1:
            nxt = data[pos + nl : pos + nl + 1]
            if nxt == b">" or nxt == b"/":
                offs.append(pos)
            pos = data.find(needle, pos + nl)
        if not offs or len(offs) != data.count(needle):
            # Entries the offset scan can't see — '<si ' with
            # whitespace/attributes (would SHIFT every later entry to
            # the wrong slice) or a prefix the opener scan didn't
            # resolve (offs empty, lookups would IndexError; prefixed
            # heaps themselves ride the per-prefix machinery since r10).
            # Expat owns these documents, eagerly.
            self._full = _parse_sst_expat(data)
            self._offs = list(range(len(self._full)))
            return
        self._offs = offs

    def __len__(self) -> int:
        return len(self._offs)

    def _entry(self, i: int) -> str:
        offs = self._offs
        # Bounded pos-match on the shared buffer: no per-entry bytes
        # slice. The endpos bound matters for correctness, not just
        # speed — unbounded, the non-greedy text alternative could span
        # a failing entry into its neighbor's terminator.
        end = offs[i + 1] if i + 1 < len(offs) else self._end
        m = self._si_re.match(self._data, offs[i], end)
        if m is None:  # rich-text / unusual shape: one full parse, reused
            if self._full is None:
                self._full = _parse_sst_expat(self._data)
            return self._full[i]
        g = m.group(1)
        return "" if g is None else _si_text(g)

    def __getitem__(self, i: int) -> str:
        if self._full is not None:
            return self._full[i]
        s = self._cache.get(i)
        if s is None:  # decoded values are str, never None — miss only
            s = self._entry(i)
            self._cache[i] = s
        return s

    def decode_many(self, indices) -> list[str]:
        """Decode a batch of entry indices (order preserved)."""
        if self._full is not None:
            return [self._full[i] for i in indices]
        return [self[i] for i in indices]

    def decode_many_arrow(self, indices):
        """Decode entry indices straight to ONE pyarrow string array
        (order preserved) — the columnar finalize hot path (partsupp
        profile: each batch references an ascending run of unique
        entries). One ``findall`` per consecutive run + one Arrow cast:
        zero per-entry Python string/bytes objects, where ``decode_many``
        pays a match + decode + list append per entry (measured ~35% of
        the partsupp 1T scan, BENCHNOTES r9).

        Returns None when the shape defeats the bulk path — full-parse
        fallback active, XML entities or ST_Xstring escapes anywhere in
        a run's byte range, or an entry the pattern can't match — and
        the caller uses ``decode_many`` (identical strings; equivalence
        property-swept in tests/test_xlsx_dense.py)."""
        if self._full is not None:
            return None
        import numpy as np
        import pyarrow as pa

        idx = np.asarray(indices, dtype=np.int64)
        if idx.size == 0:
            return pa.array([], type=pa.string())
        data, offs = self._data, self._offs
        n_offs = len(offs)
        # Ascending consecutive runs; anything else degrades to 1-entry
        # runs, which stay correct (just less bulky).
        breaks = np.nonzero(np.diff(idx) != 1)[0] + 1
        starts = np.concatenate(([0], breaks))
        ends = np.concatenate((breaks, [idx.size]))
        chunks: list = []
        for s, e in zip(starts, ends):
            a, b = int(idx[s]), int(idx[e - 1])
            if a < 0:
                # Corrupt negative ref: the scalar paths inherit Python
                # list wrap-around — decline so the bulk path can never
                # DIFFER from a single-thread read of the same bytes.
                return None
            if b >= n_offs:
                raise IndexError(f"shared string index out of range: {b}")
            lo = offs[a]
            hi = offs[b + 1] if b + 1 < n_offs else self._end
            if data.find(b"&", lo, hi) != -1 or data.find(b"_x", lo, hi) != -1:
                return None  # escapes in range: per-entry scalar path
            ms = self._si_re.findall(data, lo, hi)
            # Every match starts at an entry's '<si' (nothing else in the
            # range contains that byte sequence), so count == run length
            # proves one match per entry — a rich-text entry in the run
            # fails its match and breaks the equality.
            if len(ms) != e - s:
                return None
            chunks.append(ms)
        flat = chunks[0] if len(chunks) == 1 else [g for c in chunks for g in c]
        return pa.array(flat, type=pa.binary()).cast(pa.string())


class IntervalStringHeap:
    """Split-indexed shared-strings heap (splitindex module doc): when our
    writer left entry-boundary flush points for ``xl/sharedStrings.xml``,
    a shard inflates ONLY the heap intervals its own rows reference —
    total sst decompression returns to ≤1× the member across the fleet
    instead of 1× PER TASK (the string-heavy partsupp witness pays ~1 s
    of inflate + offset-scan per shard without this, which is also why
    the auto shard count had to be capped on string-heavy sheets).

    Same list-like interface as ``SharedStringHeap`` (len / getitem /
    decode_many / decode_many_arrow); each touched interval lazily
    becomes its own ``SharedStringHeap`` over the inflated slice, so all
    per-entry machinery (memo, fast regex, expat fallback) is reused
    unchanged. Untrusted-index discipline: an interval whose LOCAL entry
    count disagrees with the recorded one — or any decode error — defeats
    the whole object to a plain full heap (correctness never depends on
    the index)."""

    # Per-heap sub-interval cache bound (r12 scale witness): this object
    # is pinned per WORKER PROCESS by _SST_LAZY_CACHE and workers are
    # reused across tasks and queries, so an unbounded `_subs` dict
    # accumulated every interval any task of any pass ever touched —
    # repeated full reads of the 50M-unique-string SF10 witness degraded
    # 42 s -> 140 s per pass as workers marched toward holding the whole
    # 2.2 GB heap each. Two mechanisms, each covering the other's gap
    # (r12 review): the datasource calls ``bump_sst_epoch()`` at every
    # read() entry and a stale epoch CLEARS the cache — cross-task
    # accumulation dies at the task boundary without capping one task's
    # legitimate working set; the 32-entry LRU is the safety net for a
    # single pathological task whose shuffled refs span a huge heap, and
    # for consumers that never bump the epoch. Footprint at the cap:
    # ~128 MB of inflated interval bytes PLUS each sub-heap's decoded
    # Python-string memo — plan for a few hundred MB per process worst
    # case, not 128 (size workers accordingly).
    _MAX_CACHED_SUBS = 32

    def __init__(self, path: str, data_offset: int, points: list, n_entries: int):
        self._path = path
        self._doff = data_offset
        self._points = points  # absolute (coff, entries_cum), incl terminal
        self._cums = [n for _, n in points]
        self._n = n_entries
        self._subs: dict = {}  # interval idx -> (SharedStringHeap, base); LRU
        self._epoch = _SST_EPOCH[0]
        self._full: "SharedStringHeap | None" = None  # defeat fallback

    def __len__(self) -> int:
        return self._n

    def _fallback(self) -> "SharedStringHeap":
        if self._full is None:
            with zipfile.ZipFile(self._path) as zf:
                self._full = SharedStringHeap(zf.read("xl/sharedStrings.xml"))
        return self._full

    def _sub(self, t: int):
        """(sub-heap, base entry index) for interval t — or None when the
        interval defeats (count mismatch / undecodable), flipping to the
        full-heap fallback."""
        if self._epoch != _SST_EPOCH[0]:
            # a new task started on this reused worker: everything the
            # PREVIOUS task touched is dead weight — drop it all
            self._subs.clear()
            self._epoch = _SST_EPOCH[0]
        got = self._subs.get(t)
        if got is not None:
            # refresh recency (dict preserves insertion order: pop and
            # reinsert makes the first key the least-recently-used)
            self._subs.pop(t)
            self._subs[t] = got
            return got
        lo = self._points[t - 1][0] if t else 0
        hi, cum = self._points[t]
        base = self._points[t - 1][1] if t else 0
        try:
            import zlib

            with open(self._path, "rb") as f:
                f.seek(self._doff + lo)
                raw = f.read(hi - lo)
            sub = SharedStringHeap(zlib.decompressobj(-15).decompress(raw))
            if len(sub) != cum - base:
                return None
        except Exception:
            return None
        got = (sub, base)
        self._subs[t] = got
        while len(self._subs) > self._MAX_CACHED_SUBS:
            # evict LRU; in-flight references (decode_many_arrow's groups
            # list) keep evicted sub-heaps alive until their batch ends
            self._subs.pop(next(iter(self._subs)))
        return got

    def __getitem__(self, i: int) -> str:
        # ANY miss — out-of-range (incl. the corrupt-cell negative ref,
        # which the sequential heap resolves list-style via its own expat
        # fallback), an interval that defeats, or a per-entry decode error
        # at lookup time — lands on the full-heap fallback, so lookups can
        # never answer differently from a single-thread read (r10 review:
        # a lazy decode error used to escape as an uncaught ParseError on
        # a truncated fragment).
        if self._full is not None:
            return self._full[i]
        if 0 <= i < self._n:
            from bisect import bisect_right

            got = self._sub(bisect_right(self._cums, i))
            if got is not None:
                sub, base = got
                try:
                    return sub[i - base]
                except Exception:
                    pass
        return self._fallback()[i]

    def decode_many(self, indices) -> list[str]:
        return [self[i] for i in indices]

    def decode_many_arrow(self, indices):
        """Bulk decode of a unique global-index array, order-preserving —
        groups by interval and delegates each group to that interval's
        own ``decode_many_arrow``. Returns an Arrow string array aligned
        with ``indices``, or None to signal the caller's scalar path
        (which resolves through ``__getitem__``'s full-heap fallback).
        Single-interval batches — the dominant shape, since a shard's
        refs are clustered — return the sub-heap's array DIRECTLY; multi-
        interval batches reassemble with concat + take, so no string ever
        round-trips through a Python object on this path (r10 review)."""
        if self._full is not None:
            return None  # defeated: caller's scalar path over the fallback
        import numpy as np
        import pyarrow as pa

        idx = np.asarray(indices)
        if len(idx) == 0 or (len(idx) and idx.min() < 0):
            return None  # corrupt refs: scalar path owns the semantics
        t_of = np.searchsorted(self._cums, idx, side="right")
        try:
            groups: list = []
            for t in np.unique(t_of):
                got = self._sub(int(t))
                if got is None:
                    return None
                sub, base = got
                sel = np.nonzero(t_of == t)[0]
                local = idx[sel] - base
                arr = sub.decode_many_arrow(local)
                if arr is None:
                    arr = pa.array(
                        sub.decode_many(local.tolist()), type=pa.string()
                    )
                groups.append((sel, arr))
        except Exception:
            return None  # any lazy decode error: scalar path + fallback
        if len(groups) == 1:
            return groups[0][1]  # sel covers 0..n-1 ascending: aligned
        values = pa.concat_arrays([a for _, a in groups])
        pos = np.concatenate([s for s, _ in groups])
        inv = np.empty(len(idx), dtype=np.int64)
        inv[pos] = np.arange(len(idx))
        return values.take(pa.array(inv))


def _parse_sst_expat(data: bytes) -> list[str]:
    """The original expat/iterparse heap walk — handles every legal
    sharedStrings shape (rich-text <r> runs concatenate)."""
    import io

    strings: list[str] = []
    parts: list[str] = []
    depth_si = False
    for event, el in iterparse(io.BytesIO(data), events=("start", "end")):
        if event == "start" and _local(el.tag) == "si":
            depth_si = True
            parts = []
        elif event == "end":
            if _local(el.tag) == "t" and depth_si:
                parts.append(el.text or "")
            elif _local(el.tag) == "si":
                strings.append(_xstring("".join(parts)))
                depth_si = False
                el.clear()
    return strings



@dataclass(frozen=True)
class SheetInfo:
    index: int  # 1-based position in workbook.xml (reference sheet_index semantics)
    name: str
    path: str  # member path inside the zip, e.g. xl/worksheets/sheet1.xml


class XlsxWorkbook:
    """Workbook metadata + shared strings + style-based date detection."""

    def __init__(self, path: str, allow_inline: bool = False):
        self.path = path
        self.zf = zipfile.ZipFile(path)
        self.date1904 = False  # set by _parse_workbook from <workbookPr>
        self.allow_inline = allow_inline  # accept t="str"/"inlineStr" cells
        self.sheets = self._parse_workbook()
        self._shared_strings: list[str] | None = None
        self._date_styles: frozenset[int] | None = None

    def close(self) -> None:
        self.zf.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- sheet selection (reference: src/sheetreader_extension.cpp:669-701) --
    def resolve_sheet(self, sheet_name: str | None, sheet_index: int | None) -> SheetInfo:
        if sheet_name:
            for s in self.sheets:
                if s.name == sheet_name:
                    return s
            raise ValueError(f"Sheet '{sheet_name}' not found in {self.path}")
        idx = sheet_index if sheet_index is not None else 1
        for s in self.sheets:
            if s.index == idx:
                return s
        raise ValueError(f"Sheet index {idx} out of range for {self.path}")

    def _parse_workbook(self) -> list[SheetInfo]:
        # relationship id → target path
        rels: dict[str, str] = {}
        with self.zf.open("xl/_rels/workbook.xml.rels") as f:
            for _, el in iterparse(f):
                if _local(el.tag) == "Relationship":
                    target = el.get("Target", "")
                    if target.startswith("/"):
                        target = target.lstrip("/")
                    elif not target.startswith("xl/"):
                        target = "xl/" + target
                    rels[el.get("Id", "")] = target
        sheets: list[SheetInfo] = []
        with self.zf.open("xl/workbook.xml") as f:
            pos = 0
            for _, el in iterparse(f):
                tag = _local(el.tag)
                if tag == "sheet":
                    pos += 1
                    rid = _rid_attr(el)
                    sheets.append(SheetInfo(index=pos, name=el.get("name", f"Sheet{pos}"), path=rels.get(rid, "")))
                elif tag == "workbookPr":
                    self.date1904 = str(el.get("date1904", "")).lower() in ("1", "true")
        return sheets

    # -- shared strings heap (reference core parseSharedStrings, call :769) --
    @property
    def shared_strings(self) -> list[str]:
        if self._shared_strings is None:
            if "xl/sharedStrings.xml" not in self.zf.namelist():
                self._shared_strings = []
                return self._shared_strings
            # Process-level cache keyed by the file identity: one read
            # opens several XlsxWorkbook instances (schema probe, scan,
            # fragment fallback), and a string-heavy sheet's sst parse is
            # SECONDS — profiled 6 parses x 3.3 s = 20 of 23.7 s on the
            # 800k-unique-string partsupp witness. Single entry, so the
            # cache holds at most one heap per worker process.
            try:
                st = os.stat(self.path)
                key = (os.path.abspath(self.path), st.st_size, st.st_mtime_ns)
            except OSError:
                key = None
            if key is not None and _SST_CACHE.get("key") == key:
                self._shared_strings = _SST_CACHE["strings"]
                return self._shared_strings
            data = self.zf.read("xl/sharedStrings.xml")
            strings = _parse_sst_fast(data)
            if strings is None:  # rich runs / unusual shapes: expat path
                strings = _parse_sst_expat(data)
            if key is not None:
                _SST_CACHE.clear()
                _SST_CACHE["key"] = key
                _SST_CACHE["strings"] = strings
            self._shared_strings = strings
        return self._shared_strings

    def _file_key(self):
        try:
            st = os.stat(self.path)
            return (os.path.abspath(self.path), st.st_size, st.st_mtime_ns)
        except OSError:
            return None

    def shared_strings_lazy(self) -> "SharedStringHeap | list[str]":
        """The heap as a lazy ``SharedStringHeap`` (offset index now,
        entry decode on demand) — the SHARDED-read form: a shard pays
        O(entries it references), not O(heap), per task. List-indexing
        compatible with the eager property; identical strings by
        construction (same per-entry decode, expat fallback)."""
        if self._shared_strings is not None:
            return self._shared_strings  # eager heap already paid for
        if "xl/sharedStrings.xml" not in self.zf.namelist():
            return []
        key = self._file_key()
        if key is not None and _SST_LAZY_CACHE.get("key") == key:
            return _SST_LAZY_CACHE["heap"]
        heap: "SharedStringHeap | IntervalStringHeap | None" = None
        try:
            from sheetreader_duckdb_spark.sources.xlsx.splitindex import (
                decode_sst_index,
                member_data_offset,
            )

            spts = decode_sst_index(self.zf)
            if spts:
                # Split-indexed heap: inflate only the intervals this
                # shard's rows reference (IntervalStringHeap doc) — the
                # whole-heap decompress + offset scan per worker
                # disappears. member_data_offset is inside this guard: a
                # corrupt local header must fall back to the plain heap,
                # not fail a read the no-index path would serve fine
                # (r10 review).
                heap = IntervalStringHeap(
                    self.path,
                    member_data_offset(
                        self.path, self.zf.getinfo("xl/sharedStrings.xml")
                    ),
                    spts,
                    spts[-1][1],
                )
        except Exception:
            heap = None
        if heap is None:
            heap = SharedStringHeap(self.zf.read("xl/sharedStrings.xml"))
        if key is not None:
            _SST_LAZY_CACHE.clear()
            _SST_LAZY_CACHE["key"] = key
            _SST_LAZY_CACHE["heap"] = heap
        return heap

    # -- style table: which style indexes (s= attr) are date-formatted --
    @property
    def date_styles(self) -> frozenset[int]:
        if self._date_styles is None:
            date_styles: set[int] = set()
            if "xl/styles.xml" in self.zf.namelist():
                custom_date_fmts: set[int] = set()
                in_cellxfs = False
                xf_pos = 0
                with self.zf.open("xl/styles.xml") as f:
                    for event, el in iterparse(f, events=("start", "end")):
                        if event == "start":
                            if _local(el.tag) == "cellXfs":
                                in_cellxfs = True
                            continue
                        if _local(el.tag) == "numFmt":
                            fmt_id = int(el.get("numFmtId", "-1"))
                            if _is_date_format(el.get("formatCode", "")):
                                custom_date_fmts.add(fmt_id)
                        elif _local(el.tag) == "xf" and in_cellxfs:
                            fmt_id = int(el.get("numFmtId", "0"))
                            if fmt_id in _BUILTIN_DATE_FMTS or fmt_id in custom_date_fmts:
                                date_styles.add(xf_pos)
                            xf_pos += 1
                        elif _local(el.tag) == "cellXfs":
                            in_cellxfs = False
            self._date_styles = frozenset(date_styles)
        return self._date_styles

    def dimension(self, sheet: SheetInfo) -> tuple[int, int] | None:
        """(n_rows, n_cols) from the sheet's ``<dimension ref="A1:C42"/>``
        header — a metadata read of the first bytes, no sheetData parse.

        The reference core knows this statistic at bind time (mDimension,
        sheetreader_extension.cpp:783-786) but re-parses anyway; SURVEY.md
        §3.3 flags the waste — we serve it, so row counts over XLSX don't
        cost a full parse. None when the tag is absent or degenerate
        (single-cell ``ref="A1"`` written by some minimal writers).
        """
        with self.zf.open(sheet.path) as f:
            head = f.read(4096)
        m = _DIMENSION_RE.search(head)
        if not m:
            return None
        c1, r1, c2, r2 = m.groups()
        n_rows = int(r2) - int(r1) + 1
        n_cols = column_index(c2.decode()) - column_index(c1.decode()) + 1
        if n_rows <= 0 or n_cols <= 0:
            return None
        return n_rows, n_cols

    def count_rows(self, sheet: SheetInfo) -> int:
        """Count ``<row>`` elements by streaming the decompressed bytes and
        regex-counting row-start tags — no cell parsing, no shared-string
        resolution. Exactly matches ``iter_rows``'s yield count (one row per
        ``<row>`` element, gaps are not synthesized), so it is safe on
        sparse sheets where the ``<dimension>`` span over-counts. The
        ``[ />]`` suffix class excludes ``<rowBreaks>``.

        The chunk-boundary carry discipline lives in ONE place
        (``rowstream.MixedAwareRowCounter`` — r12 consolidation): the
        r11 inline copy undercounted mixed-prefix sheets whose chunk
        ended mid foreign row tag (ADVICE r12), a hole the shared
        viable-suffix cut closes for any prefix length.
        """
        ctr: MixedAwareRowCounter | None = None
        with self.zf.open(sheet.path) as f:
            buf = b""
            while True:
                data = f.read(_COUNT_CHUNK)
                if not data:
                    break
                if ctr is None:
                    # Prefixed worksheets count their own row tag (r10);
                    # the opener is in the first chunk for any real file.
                    buf += data
                    pfx = detect_row_prefix(buf)
                    if pfx is None:
                        if len(buf) < _MAX_ROW_BYTES:
                            continue  # keep buffering until the opener shows
                        # No worksheet opener in 64 MB (malformed /
                        # truncated document): stop accumulating — and
                        # re-searching — the whole file and count with the
                        # unprefixed pattern, the pre-r10 behavior (the
                        # sibling scan loops defeat at the same bound).
                        pfx = b""
                    ctr = MixedAwareRowCounter(
                        pfx, prefix_res(pfx).row_count_re
                    )
                    ctr.feed(buf)
                    buf = b""
                else:
                    ctr.feed(data)
        if ctr is None:  # document smaller than one chunk, opener or not
            pfx = detect_row_prefix(buf) or b""
            ctr = MixedAwareRowCounter(pfx, prefix_res(pfx).row_count_re)
            ctr.feed(buf)
        return ctr.close()

    def iter_rows(
        self,
        sheet: SheetInfo,
        skip_rows: int = 0,
        chunk_bytes: int | None = None,
        shard: int = 0,
        n_shards: int = 1,
        skip_intervals: "frozenset[int]" = frozenset(),
    ) -> Iterator[list[tuple[int, int, object]]]:
        """Yield rows as lists of (col_idx, cell_type, raw_value), streaming.

        raw_value: shared-string index for T_STRING_REF, float for
        T_NUMERIC/T_DATE (T_DATE already converted to seconds-since-epoch,
        like the reference core), bool for T_BOOLEAN, None otherwise.
        Empty rows between data rows yield empty lists; absent cells are
        simply not present (NULL semantics, SURVEY.md §1.4).

        Two paths, one set of cell semantics (the Spark answer to the
        reference core's specialized C++ scanner, SURVEY.md §4.2):
        1. ``_scan_chunk`` over the ``</row>``-aligned chunks of
           ``_drive_chunks`` (chunk 0 starts past the sheetData opener):
           a regex scan for conventional attribute order (r, s, t),
           cells with only ``<v>`` children and any single element
           prefix (``<x:row>`` scans through per-prefix compiled
           patterns); a chunk the regex cannot read (formulas, reordered
           attributes, inline strings, rows under a second prefix) goes
           to the expat walker ``_walk_cells`` as a fragment;
        2. when the member has no sheetData opener or no row boundary
           within ``_MAX_ROW_BYTES``, ``_iter_rows_expat``: the same
           walker over the whole member, on shard 0 alone.

        ``shard``/``n_shards``: chunk round-robin sharding. This shard
        cell-parses only its assigned chunks and row-counts the others
        until ``skip_rows`` is passed, so the union of shards is exactly
        the file's rows and ``skip_rows`` stays globally consistent.
        ``skip_intervals`` holds split-index
        interval ordinals the caller's filter statistics prove empty;
        ``_drive_chunks`` treats them like unassigned intervals.

        Callers: the schema probe (``inference.infer_schema``), the
        declared-schema fallback (``datasource._infer_or_declared``) and
        the benchmark's layer probe. The partition reader drives
        ``_drive_chunks`` itself and calls ``_scan_chunk`` directly.
        """
        date_styles = self.date_styles
        colmap: dict[bytes, int] = {}

        def step(work, pr, first, assigned, ordinal):
            if not assigned:
                return _chunk_rows(work, pr.pfx)  # another shard's chunk 0
            cut = max(0, skip_rows - ordinal)
            if cut:
                n = _chunk_rows(work, pr.pfx)
                if cut >= n:
                    return n  # wholly skipped: counted, never scanned
                # From the first kept row on: a skipped row never decides
                # whether the read succeeds.
                work = work[_row_offset(work, pr.pfx, cut):]
            rows = _scan_chunk(
                work, colmap, date_styles, self.date1904, self.allow_inline,
                pr.pfx,
            )
            yield from rows
            return cut + len(rows)

        try:
            yield from self._drive_chunks(
                sheet, step, shard, n_shards, skip_intervals, chunk_bytes,
                skip_rows,
            )
        except _FastPathUnsupported:
            # Raised before any row, alike on every shard: shard 0 alone
            # walks the whole member.
            if shard == 0:
                yield from self._iter_rows_expat(sheet, skip_rows)

    def _drive_chunks(
        self,
        sheet: SheetInfo,
        step,
        shard: int = 0,
        n_shards: int = 1,
        skip_intervals: "frozenset[int]" = frozenset(),
        chunk_bytes: int | None = None,
        skip_rows: int = 0,
    ):
        """The chunk protocol of every read tier, written once: cut the
        worksheet into ``</row>``-aligned chunks, hand chunk 0 and this
        shard's chunks to ``step``, row-count the others while the count
        is below ``skip_rows``, and yield what ``step`` yields.

        ``step(work, pr, first, assigned, ordinal)`` is a generator over
        one chunk: ``pr`` is the document's ``_PrefixRes``, ``first`` marks
        chunk 0 (handed to EVERY shard, so a template built from it agrees
        across shards; a shard that does not own it only counts its
        rows), ``ordinal`` is the global row ordinal at the chunk start —
        exact below ``skip_rows``; past it, unowned chunks count 0, which
        skip arithmetic cannot tell apart — and its ``return`` value is
        the chunk's parsed row count.

        Chunk 0 (the streamed one or split-index interval 0) reaches
        ``step`` past the sheetData opener, without the XML prolog and
        worksheet opener, so it scans and fragment-walks like any chunk;
        ``<sheetData/>`` leaves it empty. Only this method raises
        ``_FastPathUnsupported``, alike on every shard and before the
        first row: the member has no sheetData opener, or no row boundary
        within ``_MAX_ROW_BYTES``.

        Acquisition: with a split index in the archive comment and either
        several shards or intervals to prune, each shard seeks and
        inflates only interval 0 and its own unpruned intervals
        (``splitindex.iter_intervals``); skipped intervals advance the
        ordinal by their recorded count. The index is untrusted: every
        materialized interval's parsed count must equal the recorded one.
        Otherwise the member streams sequentially in ``chunk_bytes``
        reads (``_chunk_bytes`` by default), cut at the detected prefix's
        last ``</row>``."""
        chunk_idx = 0
        ordinal = 0  # global row ordinal: exact below skip_rows (doc above)
        pr: _PrefixRes | None = None

        def run(work: bytes):
            nonlocal chunk_idx, ordinal
            first = chunk_idx == 0
            assigned = chunk_idx % n_shards == shard
            chunk_idx += 1
            if first:
                # Past the opener: the XML prolog and worksheet opener would
                # break a fragment walk. <sheetData/> holds no rows.
                m = _SHEETDATA_OPEN_RE.search(work)
                if m is None:
                    raise _FastPathUnsupported  # no sheetData opener
                end = m.end()
                work = b"" if work[end - 2 : end] == b"/>" else work[end:]
            if assigned or first:
                n = yield from step(work, pr, first, assigned, ordinal)
            else:
                n = _chunk_rows(work, pr.pfx) if ordinal < skip_rows else 0
            ordinal += n
            return n

        points = None
        if n_shards > 1 or skip_intervals:
            from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI

            points = SI.decode_split_index(self.zf, sheet.path)
        if points:
            for i, work, rows_in in SI.iter_intervals(
                self.path, self.zf, sheet.path, points, shard, n_shards,
                skip=skip_intervals,
            ):
                if work is None:
                    ordinal += rows_in
                    chunk_idx += 1
                    continue
                if i == 0:
                    pfx = detect_row_prefix(work)
                    if pfx is None:
                        raise _FastPathUnsupported
                    pr = prefix_res(pfx)
                n = yield from run(work)
                if n != rows_in:
                    raise ValueError(
                        "sheetreader: split-index row count mismatch"
                        f" in {sheet.path} interval {i} (parsed {n},"
                        f" index says {rows_in}) — the archive comment is"
                        " stale or corrupt; remove it or rewrite the file"
                    )
            return
        chunk_bytes = chunk_bytes or _chunk_bytes(n_shards)
        with self.zf.open(sheet.path) as f:
            buf = b""
            while True:
                data = f.read(chunk_bytes)
                if data:
                    buf += data
                    if pr is None:
                        # The element prefix, detected once from the
                        # worksheet opener: same bytes on every shard,
                        # same answer.
                        pfx = detect_row_prefix(buf)
                        if pfx is None:
                            if len(buf) < _MAX_ROW_BYTES:
                                continue
                            raise _FastPathUnsupported  # no opener
                        pr = prefix_res(pfx)
                    cut = buf.rfind(pr.row_end)
                    if cut == -1:
                        if len(buf) < _MAX_ROW_BYTES:
                            continue
                        if chunk_idx:
                            # Falling back now would re-parse from the
                            # start and duplicate rows already emitted.
                            raise ValueError(
                                "sheetreader: row exceeds 64MB without a </row> "
                                f"boundary mid-file in {sheet.path}"
                            )
                        raise _FastPathUnsupported  # no row boundary
                    end = cut + len(pr.row_end)
                    work, buf = buf[:end], buf[end:]
                else:
                    if pr is None:
                        raise _FastPathUnsupported  # no opener
                    work, buf = buf, b""
                yield from run(work)
                if not data:
                    return

    # -- the fallback: the expat walker streaming the whole member ---------
    def _iter_rows_expat(self, sheet: SheetInfo, skip_rows: int = 0) -> Iterator[list[tuple[int, int, object]]]:
        with self.zf.open(sheet.path) as f:
            yield from _walk_cells(
                f, self.date_styles, self.date1904, self.allow_inline,
                skip_rows,
            )


class _FastPathUnsupported(Exception):
    """The worksheet has no sheetData opener, or no row boundary within
    ``_MAX_ROW_BYTES`` of its start (``_drive_chunks``, before any row)."""


_DIMENSION_RE = re.compile(
    rb'<(?:[A-Za-z_][\w.-]*:)?dimension ref="([A-Z]+)(\d+):([A-Z]+)(\d+)"'
)
_ROW_RE = re.compile(rb"<row\b[^>]*?(?:/>|>(.*?)</row>)", re.S)
# Any XML whitespace is legal between the element name and its first
# attribute — accept it, so this count agrees with count_row_starts'
# bytes.count form on every legal writer (ADVICE r7: a `<row\n`-writing
# producer desynced the sharded readers' rows_seen, mis-applying
# skip_rows, because one path counted it and the other didn't).
_ROW_COUNT_RE = re.compile(rb"<row[ \t\r\n/>]")

# count_rows' stream chunk size — a module constant so boundary tests can
# shrink it and sweep real chunk-edge alignments (ADVICE r12 item 1).
_COUNT_CHUNK = 4 << 20
# Buffering bound of every chunked scan: past this many bytes without a
# worksheet opener or a row end, a scan stops accumulating and falls back
# (before its first row) or fails loudly (after it).
_MAX_ROW_BYTES = 64 << 20


def _chunk_bytes(n_shards: int) -> int:
    """Stream read size of a chunked scan: smaller when sharded, so the
    round-robin chunk assignment balances load across shards."""
    return (1 << 20) if n_shards > 1 else (4 << 20)

_CELL_COUNT_RE = re.compile(rb"<c[ />]")
# Conventional writer attribute order: r, then s, then t (Excel, openpyxl,
# our writer, the reference demo file). Anything else fails the per-row cell
# count sanity check and falls back to expat.
_CELL_RE = re.compile(
    rb'<c r="([A-Z]+)\d*"(?: s="(\d+)")?(?: t="([A-Za-z]+)")?\s*'
    rb"(?:/>|>(?:<v>([^<]*)</v>)?</c>)"
)

# ---- namespace-prefixed worksheets (VERDICT r9 task 2) --------------------
# Writer-exotic documents tag every element `<x:row>/<x:c>/<x:v>` (a bound
# spreadsheetml prefix instead of a default namespace). The reference core
# parses these with the same interleaved threads as any document
# (sheetreader_extension.cpp:775 — its scanner keys on local names); until
# r10 WE defeated them to a single whole-file expat parse on shard 0. The
# fast tier is now prefix-parameterized: the prefix is detected once per
# file from the <sheetData> opener (deterministic — every shard reads the
# same head bytes) and all four scan patterns + both memchr counts compile
# per prefix, cached. pfx=b"" returns the exact module-level patterns, so
# conventional documents run the very same compiled objects as before.

_SHEETDATA_PFX_RE = re.compile(
    rb"<(?:([A-Za-z_][\w.-]*):)?(?:sheetData|worksheet)[ \t\r\n/>]"
)


def detect_row_prefix(head: bytes) -> "bytes | None":
    """Element prefix of this worksheet's row tags: ``b""`` for the
    conventional unprefixed form, ``b"x:"`` for ``<x:worksheet>``
    documents, None when no worksheet/sheetData opener is visible yet
    (caller keeps buffering). Keyed on the worksheet/sheetData opener —
    rows always live inside it and every sane writer prefixes them
    alike (a mixed-prefix document fails the scan counts chunk-by-chunk
    and lands on the namespace-aware fragment parser, so detection only
    ever picks the FAST path, never correctness)."""
    m = _SHEETDATA_PFX_RE.search(head)
    if m is None:
        return None
    return (m.group(1) + b":") if m.group(1) else b""


class _PrefixRes:
    """Compiled scan machinery for one element prefix."""

    __slots__ = (
        "pfx", "row_end", "row_start", "rowb_start",
        "row_re", "row_count_re", "cell_re", "cell_count_re",
    )

    def __init__(self, pfx: bytes):
        p = re.escape(pfx)
        self.pfx = pfx
        self.row_end = b"</" + pfx + b"row>"
        self.row_start = b"<" + pfx + b"row"
        self.rowb_start = b"<" + pfx + b"rowB"
        if not pfx:
            # The unprefixed fast path keeps the EXACT module patterns —
            # zero behavior/perf drift for conventional documents.
            self.row_re = _ROW_RE
            self.row_count_re = _ROW_COUNT_RE
            self.cell_re = _CELL_RE
            self.cell_count_re = _CELL_COUNT_RE
            return
        self.row_re = re.compile(
            b"<" + p + rb"row\b[^>]*?(?:/>|>(.*?)</" + p + rb"row>)", re.S
        )
        self.row_count_re = re.compile(b"<" + p + rb"row[ \t\r\n/>]")
        self.cell_count_re = re.compile(b"<" + p + rb"c[ />]")
        self.cell_re = re.compile(
            b"<" + p + rb'c r="([A-Z]+)\d*"(?: s="(\d+)")?'
            rb'(?: t="([A-Za-z]+)")?\s*'
            rb"(?:/>|>(?:<" + p + rb"v>([^<]*)</" + p + rb"v>)?</" + p + rb"c>)"
        )


_PREFIX_CACHE = _ProcessCache()


def prefix_res(pfx: bytes) -> _PrefixRes:
    r = _PREFIX_CACHE.get(pfx)
    if r is None:
        r = _PREFIX_CACHE[pfx] = _PrefixRes(pfx)
    return r


# The mixed-prefix row counters live in rowstream (r12 counter
# consolidation); re-imported here because every scan tier and the
# indexer reference them through this module.
from .rowstream import (  # noqa: E402  (grouped with its siblings below)
    _ANY_ROW_RE,
    MixedAwareRowCounter,
    count_any_row_starts,
    foreign_row_evidence,
)

# The sheetData open/close tags under any prefix: the preamble before the
# opener and the trailing members after the close can't carry rows and are
# excluded from the fragment parse (an XML prolog or an unopened close tag
# inside the synthetic wrapper would be a parse error).
_SHEETDATA_OPEN_RE = re.compile(
    rb"<(?:[A-Za-z_][\w.-]*:)?sheetData(?=[ \t\r\n/>])[^>]*>"
)
_SHEETDATA_CLOSE_RE = re.compile(rb"</(?:[A-Za-z_][\w.-]*:)?sheetData[ \t\r\n]*>")


def count_row_starts(work: bytes, pfx: bytes = b"") -> int:
    """Row-start count via memchr-speed bytes.count — equivalent to
    ``len(_ROW_COUNT_RE.findall(work))`` without building a list of
    millions of match objects.

    Two passes, not three: ``<row`` catches every row-start form
    (``<row ``, ``<row>``, ``<row/>``) plus exactly one other legal
    worksheet element — ``<rowBreaks`` (manual page breaks; its children
    are ``<brk>``) — which the second count subtracts. ``<`` cannot
    occur unescaped in cell text or attribute values, so nothing else
    matches. Measured: each pass over a 737 MB sheet costs ~0.62 s, so
    dropping the third pass is ~4% of the single-thread sf1 load.
    ``pfx`` prepends the document's element prefix (prefixed worksheets,
    r10) — just longer needles for the same memchr-speed counts."""
    if pfx:
        return work.count(b"<" + pfx + b"row") - work.count(b"<" + pfx + b"rowB")
    return work.count(b"<row") - work.count(b"<rowB")


def _chunk_rows(work: bytes, pfx: bytes) -> int:
    """Row count of one ``</row>``-aligned chunk under the detected prefix,
    exact under ANY prefix when rows of another prefix hide in it — the
    count every shard agrees on, whether it owns the chunk or not."""
    if foreign_row_evidence(work, pfx):
        return count_any_row_starts(work)
    return count_row_starts(work, pfx)


def _row_offset(work: bytes, pfx: bytes, k: int) -> int:
    """Byte offset of row ``k`` (0-based) of a ``</row>``-aligned chunk,
    counting rows as ``_chunk_rows`` does; ``len(work)`` past the last
    row. Readers cut a chunk here at its first row past ``skip_rows``, so
    no skipped row is scanned or fragment-walked."""
    if foreign_row_evidence(work, pfx):
        starts = _ANY_ROW_RE.finditer(work)
    else:
        starts = prefix_res(pfx).row_count_re.finditer(work)
    m = next(itertools.islice(starts, k, None), None)
    return len(work) if m is None else m.start()


def build_dense_row_re(
    body: bytes,
    keep: list,
    exp_codes: "list[int] | None",
    date_styles: frozenset[int],
    pfx: bytes = b"",
):
    """Compile a whole-row pattern from a template row body, for the
    common case: cells in column order, each with the template's exact
    (s, t) attributes and a non-empty ``<v>``. The template itself must be
    fully dense (every column present); each of its cells is OPTIONAL in
    the pattern, so rows that omit cells still match, and an absent cell
    captures ``b""`` — NULL, like the generic scan's empty-cell rule.
    Returns ``(regex, out_slots)`` — ``out_slots[j]`` is the output column
    of the j-th capture group — or ``None`` when the template row can't
    promise the schema's cell semantics (absent cells, unexpected types,
    inline strings). ``exp_codes=None`` means no schema to agree with:
    the template's own cell types stand (the interval-stats author).

    Why: the generic scan pays three Python passes per chunk (row findall,
    per-row cell findall, per-cell type dispatch). This profile-driven
    single-thread hot path (BENCHNOTES round-7 breakdown: regex scanning
    was 16.7 s of a 28.9 s sf1 single-shard parse) replaces them with ONE
    findall per chunk whose tuples are already the row's kept values in
    column order — ``zip(*matches)`` then hands whole columns to the Arrow
    casts. Rows whose present cells deviate from the template (styles,
    types, order, ``<v></v>`` or self-closing cells, extra columns) make
    the chunk's match count disagree with its row count, and the caller
    falls back to the generic scan for that chunk — the fast path can
    never change results, only skip work.
    """
    if all(out is None for out in keep):
        return None  # nothing to capture
    pr = prefix_res(pfx)
    ms = pr.cell_re.findall(body)
    if not ms or len(ms) != len(pr.cell_count_re.findall(body)):
        return None
    if len(ms) != len(keep):
        return None
    # Cells map to file columns by their r= letters (the template could
    # order them arbitrarily); every file column must appear exactly once.
    fcols = [column_index(m[0].decode()) for m in ms]
    if sorted(fcols) != list(range(len(keep))):
        return None
    ep = re.escape(pfx)
    parts = [b"<" + ep + rb"row[^>]*>"]
    out_slots: list[int] = []
    for (letters, s_attr, t_attr, v), fcol in zip(ms, fcols):
        if not v:
            return None  # template must be fully dense
        if not t_attr or t_attr == b"n":
            implied = 3 if (s_attr and int(s_attr) in date_styles) else 1
        elif t_attr == b"s":
            implied = 0
        elif t_attr == b"b":
            implied = 2
        else:
            return None  # error / inline-string template: generic path
        out = keep[fcol]
        if out is not None and exp_codes is not None and exp_codes[out] != implied:
            return None  # schema disagrees (force_types): generic semantics
        cell = b"<" + ep + rb'c r="' + letters + rb'\d*"'
        if s_attr:
            cell += rb' s="' + s_attr + rb'"'
        if t_attr:
            cell += rb' t="' + t_attr + rb'"'
        if out is None:
            # pruned: matched, not captured
            cell += rb"><" + ep + rb"v>(?:[^<]+)</" + ep + rb"v></" + ep + rb"c>"
        else:
            cell += rb"><" + ep + rb"v>([^<]+)</" + ep + rb"v></" + ep + rb"c>"
            out_slots.append(out)
        parts.append(b"(?:" + cell + b")?")  # absent cell: empty capture
    parts.append(b"</" + ep + b"row>")
    return re.compile(b"".join(parts)), out_slots


def _unescape(raw: bytes) -> str:
    """Decode a raw ``<v>`` text span: XML predefined + numeric entities
    (html.unescape is a superset that matches what expat produces)."""
    import html

    return html.unescape(raw.decode("utf-8"))


def _scan_chunk(
    work: bytes,
    colmap: dict[bytes, int],
    date_styles: frozenset[int],
    date1904: bool = False,
    allow_inline: bool = False,
    pfx: bytes = b"",
) -> list[list[tuple[int, int, object]]]:
    """Parse one `</row>`-aligned chunk into rows of (col, ctype, value).

    Regex fast path with a per-chunk expat fragment fallback. ``pfx`` is
    the document's detected element prefix: prefixed worksheets scan
    through per-prefix compiled patterns."""
    pr = prefix_res(pfx)
    row_matches = pr.row_re.findall(work)
    # Rows under ANOTHER prefix make the exact any-prefix count disagree
    # with the matches (also when the detected prefix's scanner sees none),
    # routing the chunk to the fragment walk — never a silent drop.
    if len(row_matches) != _chunk_rows(work, pfx):
        return _fragment_rows(work, date_styles, date1904, allow_inline)
    rows: list[list[tuple[int, int, object]]] = []
    for body in row_matches:
        cell_matches = pr.cell_re.findall(body)
        if len(cell_matches) != len(pr.cell_count_re.findall(body)):
            return _fragment_rows(work, date_styles, date1904, allow_inline)
        cells: list[tuple[int, int, object]] = []
        for letters, s_attr, t_attr, v in cell_matches:
            col = colmap.get(letters)
            if col is None:
                col = colmap[letters] = column_index(letters.decode())
            if not t_attr or t_attr == b"n":
                if not v:
                    continue  # empty cell → absent → NULL
                if s_attr and int(s_attr) in date_styles:
                    cells.append((col, T_DATE, serial_to_epoch_secs(float(v), date1904)))
                else:
                    cells.append((col, T_NUMERIC, float(v)))
            elif t_attr == b"s":
                if v:
                    cells.append((col, T_STRING_REF, int(v)))
            elif t_attr == b"b":
                if v:
                    # A non-UTF-8 payload is malformed XML, which every
                    # other tier rejects too.
                    try:
                        truth = _bool_payload(v)
                    except UnicodeDecodeError as e:
                        raise ValueError(
                            f"sheetreader: malformed sheet XML fragment: {e}"
                        ) from e
                    cells.append((col, T_BOOLEAN, truth))
            elif t_attr == b"e":
                cells.append((col, T_ERROR, None))
            elif t_attr in (b"str", b"inlineStr"):
                if not allow_inline:
                    # reference: src/sheetreader_extension.cpp:572-575
                    raise ValueError(UNSUPPORTED_STRING_ERROR)
                # only t="str" (value in <v>) matches the cell regex;
                # inlineStr cells fail the count check → fragment path.
                if v:
                    cells.append((col, T_STRING_LIT, _xstring(_unescape(v))))
        rows.append(cells)
    return rows


# Prefixes appearing in a mid-file fragment whose xmlns declarations live
# on the (not included) root element: declared with placeholder URIs on the
# synthetic wrapper so expat can bind them — _local() strips the URI, so
# the placeholder never affects results. Element + attribute forms; a false
# positive (a ':'-bearing token inside cell text) only adds an unused
# declaration.
_ELEM_PFX_RE = re.compile(rb"</?([A-Za-z_][\w.-]*):")
_ATTR_PFX_RE = re.compile(rb"[ \t\r\n]([A-Za-z_][\w.-]*):[A-Za-z_][\w.-]*[ \t\r\n]*=")


def _fragment_ns_wrap(work: bytes) -> bytes:
    pfxs = set(_ELEM_PFX_RE.findall(work)) | set(_ATTR_PFX_RE.findall(work))
    pfxs.discard(b"xml")    # predefined, must not be re-bound
    pfxs.discard(b"xmlns")  # the declaration mechanism itself
    decls = b"".join(
        b' xmlns:' + p + b'="urn:x-sheetreader:' + p + b'"'
        for p in sorted(pfxs)
    )
    return b"<R" + decls + b">" + work + b"</R>"


def _walk_cells(
    source,
    date_styles: frozenset[int],
    date1904: bool = False,
    allow_inline: bool = False,
    skip_rows: int = 0,
) -> Iterator[list[tuple[int, int, object]]]:
    """The expat cell walker: yield the rows of a SpreadsheetML byte
    stream as lists of (col, ctype, value), with the cell semantics of the
    regex scanner. Tags are matched by local name, so any namespace
    prefix (or a mix of them) reads alike. The first ``skip_rows`` rows
    are walked but not yielded, and an inline cell among them does not
    raise. Callers: ``_fragment_rows`` (one chunk) and
    ``XlsxWorkbook._iter_rows_expat`` (a whole member)."""
    row_no = 0
    cells: list[tuple[int, int, object]] = []
    cur_type: int | None = None
    cur_col = -1
    v_text: str | None = None
    lit_parts: list[str] = []
    rph_depth = 0
    for event, el in iterparse(source, events=("start", "end")):
        tag = _local(el.tag)
        if event == "start":
            if tag == "c":
                ref = el.get("r")
                cur_col = column_index(ref) if ref else cur_col + 1
                t = el.get("t")
                s = el.get("s")
                if t is None or t == "n":
                    cur_type = T_DATE if (s is not None and int(s) in date_styles) else T_NUMERIC
                elif t == "s":
                    cur_type = T_STRING_REF
                elif t == "b":
                    cur_type = T_BOOLEAN
                elif t == "e":
                    cur_type = T_ERROR
                elif t in ("str", "inlineStr"):
                    if not allow_inline and row_no >= skip_rows:
                        # reference: src/sheetreader_extension.cpp:572-575
                        raise ValueError(UNSUPPORTED_STRING_ERROR)
                    cur_type = T_STRING_LIT
                    lit_parts = []
                    rph_depth = 0
                else:
                    cur_type = T_NONE
                v_text = None
            elif tag in ("rPh", "phoneticPr") and cur_type == T_STRING_LIT:
                rph_depth += 1  # phonetic (furigana) runs: not cell text
            elif tag == "row":
                cells = []
                cur_col = -1
            continue
        if tag == "v":
            v_text = el.text
        elif tag in ("rPh", "phoneticPr") and cur_type == T_STRING_LIT:
            rph_depth -= 1
        elif tag == "t" and cur_type == T_STRING_LIT:
            if rph_depth == 0:
                lit_parts.append(el.text or "")  # <is><t> runs (rich text)
        elif tag == "c":
            if cur_type == T_STRING_LIT:
                lit = v_text if v_text is not None else ("".join(lit_parts) if lit_parts else None)
                if lit is not None:
                    cells.append((cur_col, T_STRING_LIT, _xstring(lit)))
            elif v_text is None:
                pass  # empty cell → absent → NULL
            elif cur_type == T_STRING_REF:
                cells.append((cur_col, T_STRING_REF, int(v_text)))
            elif cur_type == T_NUMERIC:
                cells.append((cur_col, T_NUMERIC, float(v_text)))
            elif cur_type == T_DATE:
                # Excel serial → seconds since unix epoch (workbook date
                # system + 1900 leap quirk honored), exactly the shape the
                # reference core hands the extension.
                cells.append((cur_col, T_DATE, serial_to_epoch_secs(float(v_text), date1904)))
            elif cur_type == T_BOOLEAN:
                cells.append((cur_col, T_BOOLEAN, bool_cell(v_text)))
            elif cur_type == T_ERROR:
                cells.append((cur_col, T_ERROR, None))
            el.clear()
        elif tag == "row":
            if row_no >= skip_rows:
                yield cells
            row_no += 1
            el.clear()


def _fragment_rows(
    work: bytes,
    date_styles: frozenset[int],
    date1904: bool = False,
    allow_inline: bool = False,
) -> list[list[tuple[int, int, object]]]:
    """Walk a `</row>`-aligned XML fragment (irregular chunk fallback).

    The FINAL chunk of a worksheet carries the document trailer
    (``</sheetData></worksheet>`` + any post-sheetData members) — close
    tags that were never opened inside the fragment, which expat rejects
    as mismatched inside the synthetic wrapper. Strip from the sheetData
    close on (rows cannot live past it), HERE, so every fragment call
    site is safe — r11 review: a well-formed file whose trailing rows
    used a foreign prefix crashed instead of reading, because the mixed-
    evidence fix routed its final chunk to this parser with the trailer
    attached."""
    import io
    from xml.etree.ElementTree import ParseError

    mc = _SHEETDATA_CLOSE_RE.search(work)
    if mc is not None:
        work = work[: mc.start()]
    try:
        return list(_walk_cells(
            io.BytesIO(_fragment_ns_wrap(work)), date_styles, date1904,
            allow_inline,
        ))
    except ParseError as e:
        raise ValueError(f"sheetreader: malformed sheet XML fragment: {e}") from e


def epoch_seconds_to_days(secs: float) -> int:
    """Reference date decoding: ``(int)(secs / 86400.0)`` — truncation toward
    zero, including for pre-1970 dates (src/sheetreader_extension.cpp:172)."""
    return int(secs / 86400.0)
