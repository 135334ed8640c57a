"""Minimal XLSX writer — pure stdlib. Serves two roles:

1. Test-fixture generation (FIXTURES.md §A) — openpyxl is not available in
   this environment, and we need real ZIP + sheet XML + sharedStrings files
   in exactly the shape the reference consumes (its demo file
   /root/reference/docker-demo/test.xlsx has this layout).
2. A write-back sink for the Spark data source (beyond-reference extension —
   the reference is read-only).

Strings are written to the shared-strings heap (``t="s"``), never inline —
the reference rejects inline/dynamic strings
(/root/reference/src/sheetreader_extension.cpp:572-575), so fixtures written
here are reference-compatible. Dates are numeric serials styled with the
built-in date format (numFmtId=14); booleans ``t="b"``; numbers plain.

Doubles are serialized with ``repr()`` (shortest round-trip form) so read-back
is bit-exact.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import zipfile
import zlib
from collections import deque
from xml.sax.saxutils import escape

from .splitindex import MAX_POINTS, SPLIT_INTERVAL, encode_split_index

# SpreadsheetML ST_Xstring escaping (ECMA-376 §22.9.2.19): characters that
# cannot appear in XML 1.0 (C0 controls except tab/newline, plus CR, which
# XML parsers would normalize away) are written as _xHHHH_; a literal
# _xHHHH_ in the text gets its underscore escaped as _x005F_xHHHH_.
_XESC_LITERAL = re.compile(r"_x[0-9A-Fa-f]{4}_")
_XESC_INVALID = re.compile("[\x00-\x08\x0b-\x1f]")


def _xstring(s: str) -> str:
    if "_x" in s:
        s = _XESC_LITERAL.sub(lambda m: "_x005F" + m.group(0), s)
    return _XESC_INVALID.sub(lambda m: f"_x{ord(m.group(0)):04X}_", s)

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{sheet_overrides}
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

# Style index 1 (s="1") carries the built-in date format numFmtId=14.
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>
<cellXfs count="2">
<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
</cellXfs>
</styleSheet>"""

_XML_DECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_SHEET_TAIL = "</sheetData>\n</worksheet>"


def _write_package_parts(zf, sheet_names: list, date1904: bool) -> None:
    """Write the members every workbook of this writer shares, in order:
    content types, root rels, workbook, workbook rels, styles. Sheet
    ``i`` is ``xl/worksheets/sheet{i + 1}.xml`` with relationship
    ``rId{i + 1}``; styles and shared strings follow them."""
    n = len(sheet_names)
    overrides = "\n".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        f'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(n)
    )
    sheets = "".join(
        f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(sheet_names)
    )
    wb_pr = '<workbookPr date1904="1"/>' if date1904 else ""
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="{_REL_NS}/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(n)
    )
    zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(sheet_overrides=overrides))
    zf.writestr("_rels/.rels", _ROOT_RELS)
    zf.writestr(
        "xl/workbook.xml",
        f'{_XML_DECL}<workbook xmlns="{_MAIN_NS}" xmlns:r="{_REL_NS}">'
        f"{wb_pr}<sheets>{sheets}</sheets></workbook>",
    )
    zf.writestr(
        "xl/_rels/workbook.xml.rels",
        f'{_XML_DECL}<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f'{rels}<Relationship Id="rId{n + 1}" Type="{_REL_NS}/styles" Target="styles.xml"/>'
        f'<Relationship Id="rId{n + 2}" Type="{_REL_NS}/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>',
    )
    zf.writestr("xl/styles.xml", _STYLES)


def _sheet_head(n_rows: int, n_cols: int) -> str:
    """A worksheet's bytes up to its first row: the ``<dimension>`` span
    (none for an empty sheet) and the sheetData opener."""
    dim = (
        f'<dimension ref="A1:{_col_letter(n_cols - 1)}{n_rows}"/>'
        if n_rows and n_cols
        else ""
    )
    return f'{_XML_DECL}<worksheet xmlns="{_MAIN_NS}">\n{dim}<sheetData>'


def _sst_chunks(sst: list):
    """The shared-strings member as encoded chunks of whole entries (about
    256 KB each), so no ``</si>`` straddles two and every entry end can
    be a flush point of ``_write_indexed_member``."""
    yield (
        f'{_XML_DECL}<sst xmlns="{_MAIN_NS}" '
        f'count="{len(sst)}" uniqueCount="{len(sst)}">'
    ).encode("utf-8")
    batch: list[str] = []
    size = 0
    for s in sst:
        e = f'<si><t xml:space="preserve">{escape(_xstring(s))}</t></si>'
        batch.append(e)
        size += len(e)
        if size >= (256 << 10):
            yield "".join(batch).encode("utf-8")
            batch, size = [], 0
    if batch:
        yield "".join(batch).encode("utf-8")
    yield b"</sst>"


_EPOCH = dt.date(1970, 1, 1)


def _date_serial(days_since_epoch: float, date1904: bool) -> float:
    """Days-since-unix-epoch → Excel serial for the chosen date system,
    inverse of parser.serial_to_epoch_secs: 1904 system is a plain offset;
    1900 system serials < 61 sit one day below the naive mapping because of
    the phantom 1900-02-29 (ECMA-376 §18.17.4.1)."""
    if date1904:
        return days_since_epoch + 24107
    serial = days_since_epoch + 25569
    return serial if serial >= 61 else serial - 1


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _fmt_double(v: float) -> str:
    r = repr(float(v))
    return r


def _cell_xml(ref: str, v: object, intern, date1904: bool) -> str:
    """One ``<c>`` element (empty string for None — absent cell → NULL on
    read). ``intern`` maps a str to its shared-string index. bool is checked
    before int (bool subclasses int)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
    if isinstance(v, str):
        return f'<c r="{ref}" t="s"><v>{intern(v)}</v></c>'
    if isinstance(v, dt.datetime):
        days = (v - dt.datetime(1970, 1, 1)).total_seconds() / 86400.0
        serial = _date_serial(days, date1904)
        return f'<c r="{ref}" s="1"><v>{_fmt_double(serial)}</v></c>'
    if isinstance(v, dt.date):
        serial = int(_date_serial((v - _EPOCH).days, date1904))
        return f'<c r="{ref}" s="1"><v>{serial}</v></c>'
    if isinstance(v, int):
        return f'<c r="{ref}"><v>{v}</v></c>'
    if isinstance(v, float):
        return f'<c r="{ref}"><v>{_fmt_double(v)}</v></c>'
    raise TypeError(f"Unsupported cell value type: {type(v)}")


def _deflater():
    """The raw deflate stream zipfile itself opens for a ZIP_DEFLATED
    member at the default level."""
    return zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)


def _deflate_segment(data: bytes, last: bool) -> bytes:
    """One flush interval of a member as an independent deflate segment:
    a fresh raw deflater, ended by ``Z_FULL_FLUSH`` (``Z_FINISH`` for the
    member's last segment). The segments of a member, concatenated, are
    byte for byte the single stream that flushes at the same offsets:
    a full flush empties the bit buffer, clears the match hash and, with
    all input consumed, restarts the window, which is exactly a fresh
    deflater's state, and zlib's output does not depend on how its input
    is sliced."""
    c = _deflater()
    return c.compress(data) + c.flush(zlib.Z_FINISH if last else zlib.Z_FULL_FLUSH)


def _segment_job(data: bytes, last: bool, analyze=None):
    """All the work one interval needs besides writing: its deflate
    segment and, with ``analyze`` (a picklable callable of the bytes),
    its interval statistics. Inline and in a fork-pool worker alike."""
    return _deflate_segment(data, last), (
        analyze(data) if analyze is not None else None
    )


def _flush_point(zwf, comp: bytes) -> int:
    """Append one finished deflate segment to an open
    ``zf.open(name, "w")`` member and return the member-relative
    compressed offset after it: past a segment that ends in
    ``Z_FULL_FLUSH``, the seek point a reader can start a fresh inflater
    at (splitindex module doc). The segment is byte-identical to the
    stretch a single flushing stream would have written there
    (``_deflate_segment``), so indexed members are unchanged by how many
    processes deflated them.

    Reaches into CPython zipfile's ``_ZipWriteFile`` internals
    (``_fileobj``/``_compress_size`` here; ``_crc``/``_file_size`` and
    ``_compressor`` in ``_SegmentWriter``, stable across 3.8+). A one-time
    round-trip probe (``_flush_probe``) gates all of it: if the
    interpreter's zipfile no longer behaves as patched, indexing turns
    OFF globally and members stream through zipfile unindexed instead of
    being mis-sized (ADVICE r10)."""
    zwf._fileobj.write(comp)
    zwf._compress_size += len(comp)
    return zwf._compress_size


class _Spent:
    """A member's compressor once its segments are written: the last
    segment already ended the deflate stream, so closing the member must
    flush nothing more."""

    def flush(self, *_):
        return b""


# An open segment this large without a boundary (one huge row, rows under
# another prefix) stops buffering: the rest of it deflates as it streams,
# in the parent, and interval statistics are given up (indexer).
_SEGMENT_CAP = 64 << 20


class _SegmentWriter:
    """Write one zip member as independent deflate segments, one per
    flush interval, in stream order (the encoder of
    ``_write_indexed_member``).

    ``add`` folds each uncompressed piece into the member's CRC and size
    at once and buffers it; ``cut`` closes the open segment. Without a
    pool the segment is deflated (and, with ``stats``, analysed) right
    there; with one it goes to a worker as one job and is not kept, at
    most ``2 × pool_size`` jobs in flight. Finished segments are written
    head-first, so the member, its flush offsets and the collector's
    claims do not depend on which worker finished first.

    With neither a pool nor ``stats`` nothing needs a whole interval:
    every piece streams through one deflater that full-flushes at each
    cut, which writes the same bytes as the per-segment deflaters
    (``_deflate_segment``) without holding an interval in memory."""

    def __init__(self, zwf, stats=None, pool=None, pool_size: int = 0):
        self._zwf = zwf
        self._stats = stats
        self._pool = pool
        self._max_pending = 2 * pool_size
        self._pending: deque = deque()  # AsyncResults, stream order
        self._buf: list = []
        self._size = 0
        self._streaming = pool is None and stats is None
        # deflater of a streaming member, or of an open segment past
        # _SEGMENT_CAP
        self._stream = _deflater() if self._streaming else None
        self.ends: list = []  # compressed offset after each segment

    def add(self, piece: bytes) -> None:
        zwf = self._zwf
        zwf._crc = zlib.crc32(piece, zwf._crc)
        zwf._file_size += len(piece)
        if self._stream is not None:
            _flush_point(zwf, self._stream.compress(piece))
            return
        self._buf.append(piece)
        self._size += len(piece)
        if self._size > _SEGMENT_CAP:
            self._drain(0)  # everything before it is written first
            if self._stats is not None:
                self._stats.dead = True
            self._stream = _deflater()
            _flush_point(zwf, self._stream.compress(b"".join(self._buf)))
            self._buf, self._size = [], 0

    def cut(self, last: bool) -> int:
        """Close the open segment; returns its ordinal."""
        n = len(self.ends) + len(self._pending)
        if self._stream is not None:
            self.ends.append(_flush_point(self._zwf, self._stream.flush(
                zlib.Z_FINISH if last else zlib.Z_FULL_FLUSH
            )))
            if not self._streaming:
                self._stream = None
            return n
        data = b"".join(self._buf)
        self._buf, self._size = [], 0
        st = self._stats
        # A lone segment (the member never reached one interval) gets no
        # index, so its statistics would never be read.
        analyze = (
            st.analyzer() if st is not None and data and (n or not last)
            else None
        )
        if self._pool is None:
            self._land(*_segment_job(data, last, analyze))
        else:
            self._pending.append(
                self._pool.apply_async(_segment_job, (data, last, analyze))
            )
            self._drain(self._max_pending)
        return n

    def _drain(self, max_pending: int) -> None:
        """Write finished segments from the head: completed ones always,
        blocking only while more than ``max_pending`` are outstanding. A
        worker's exception re-raises here."""
        while self._pending:
            if len(self._pending) <= max_pending and not self._pending[0].ready():
                return
            self._land(*self._pending.popleft().get())

    def _land(self, comp: bytes, analysis) -> None:
        self.ends.append(_flush_point(self._zwf, comp))
        if analysis is not None:
            self._stats.fold(analysis)

    def finish(self) -> list:
        """Write every outstanding segment, retire the member's own
        compressor; returns the offset after each segment."""
        self._drain(0)
        self._zwf._compressor = _Spent()
        return self.ends


_FLUSH_OK: "bool | None" = None  # one-time _flush_probe verdict


def _segments_ok() -> bool:
    global _FLUSH_OK
    if _FLUSH_OK is None:
        _FLUSH_OK = _flush_probe()
    return _FLUSH_OK


def _flush_probe() -> bool:
    """Self-test the ``_ZipWriteFile`` surgery of ``_SegmentWriter`` on an
    in-memory zip before the first indexed member: write a member as two
    segments (streamed; pooled and analysed segments touch the same
    zipfile fields, only where their bytes are deflated differs), then
    verify (a) the central directory's ``compress_size``
    matches the bytes actually occupied in the archive, (b) the member
    round-trips byte-identical, CRC checked, through a fresh
    ``ZipFile.read``, and (c) a fresh raw inflater started at the
    recorded offset reproduces the second segment's bytes. Any future
    CPython change to these internals fails the probe and degrades every
    write to a plain unindexed deflate stream — never corrupt zip
    metadata (ADVICE r10)."""
    import io

    head, tail = b"<probe>" * 64, b"</probe>" * 64
    try:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            with zf.open("p", "w", force_zip64=True) as out:
                data_start = out._fileobj.tell()
                seg = _SegmentWriter(out)
                seg.add(head)
                seg.cut(last=False)
                seg.add(tail)
                seg.cut(last=True)
                coff, _ = seg.finish()
            if zf.getinfo("p").compress_size != zf.fp.tell() - data_start:
                return False
            csize = zf.getinfo("p").compress_size
        raw = buf.getvalue()
        buf.seek(0)
        with zipfile.ZipFile(buf) as zf:
            if zf.read("p") != head + tail:
                return False
        seg = raw[data_start + coff : data_start + csize]
        return zlib.decompressobj(-15).decompress(seg) == tail
    except Exception:
        return False


# One boundary algorithm, one home (r12 consolidation): the fixed-needle
# stream counter now lives in rowstream with the other stream counters;
# the old name stays importable for its call/test sites. ``.count`` is
# exact at every flush point (the property adds completed matches still
# in the carry), so the indexed-member loop below reads it unchanged.
from .rowstream import NeedleStreamCounter as _StraddleCounter  # noqa: E402


def spans_intervals(size: int) -> bool:
    """Whether a member of ``size`` uncompressed bytes can reach a flush
    point in ``_write_indexed_member``, i.e. be written as more than one
    segment (a smaller member is one lone segment with no index)."""
    return size >= SPLIT_INTERVAL


def _write_indexed_member(
    zf, name, chunks, boundary: bytes = b"</row>", needle: bytes = b"<row ",
    neg_needle: "bytes | None" = None, stats=None, pool=None,
    pool_size: int = 0,
) -> "tuple[list | None, int]":
    """Stream a zip member with split points: write ``chunks`` (any byte
    slicing) into the member, with a full-flush point at the first
    ``boundary`` past every ``SPLIT_INTERVAL`` uncompressed bytes.
    Returns (points, count) where points is the (member-relative
    compressed offset, cumulative ``needle`` count) list — or None when
    indexing is unavailable or the member never reached one interval.
    Worksheets index rows (``</row>`` / ``<row ``); the shared-strings
    heap indexes entries (``</si>`` / ``<si>``). ``neg_needle`` subtracts
    a prefix-colliding element (``<rowB``) so retrofit counts over
    foreign XML agree with ``parser.count_row_starts``. ``name`` may be a
    ZipInfo to preserve foreign member metadata (retrofit).

    Each interval between two flush points is deflated on its own
    (``_deflate_segment``), which is byte-identical to one stream that
    flushes there, so the member is the same whether its segments are
    deflated inline or, with ``pool`` (a fork ``multiprocessing`` pool of
    ``pool_size`` workers), in parallel. ``stats``, an interval
    statistics collector (indexer module), has every interval analysed
    in the same job as its deflate.

    Past ``MAX_POINTS`` the recorded points thin 2:1 and the interval
    doubles — any subset of valid flush points is a valid (coarser)
    index, and the comment stays bounded for arbitrarily large members."""
    interval = SPLIT_INTERVAL
    blen = len(boundary)
    ctr = _StraddleCounter(needle, neg_needle)
    with zf.open(name, "w", force_zip64=True) as out:
        if not _segments_ok():
            for ch in chunks:
                out.write(ch)
                ctr.feed(ch)
            return None, ctr.count
        seg = _SegmentWriter(out, stats, pool, pool_size)
        cuts: list = []  # (segment ordinal, cumulative count) per point
        since = 0  # uncompressed bytes since the last flush point
        for ch in chunks:
            while since + len(ch) >= interval:
                # Earliest in-chunk boundary past the interval mark. (A
                # boundary straddling two chunks is simply not seen; the
                # point lands at the next whole one — any aligned point
                # set is a valid index.)
                cut = ch.find(boundary, max(0, interval - since - blen))
                if cut == -1:
                    break
                cut += blen
                piece, ch = ch[:cut], ch[cut:]
                ctr.feed(piece)
                seg.add(piece)
                cuts.append((seg.cut(last=False), ctr.count))
                since = 0
                if len(cuts) >= MAX_POINTS:
                    cuts = cuts[1::2]
                    interval *= 2
            if ch:
                ctr.feed(ch)
                seg.add(ch)
                since += len(ch)
        seg.cut(last=True)
        ends = seg.finish()
    return [(ends[i], n) for i, n in cuts] or None, ctr.count


def _write_sheet_member(
    zf, name: str, chunks, stats=None
) -> "tuple[list | None, int]":
    return _write_indexed_member(
        zf, name, chunks, b"</row>", b"<row ", stats=stats
    )


def _publish_index(
    zf, name: str, pts, nrows: int, expected_rows: int,
    spts, n_si: int, expected_si: int, sections: "dict | None" = None,
    extra_sheets: "dict | None" = None,
) -> None:
    """Set the archive comment for whichever validated sections exist —
    shared by both writers and the retrofit indexer (r10 review: the two
    publication blocks had started to diverge). Never index on a lie: a
    byte-counted total that disagrees with the writer's own count drops
    that section (a row/entry-shaped literal slipped through escaping —
    the file itself is still fine, it just loses the optimization). An
    sst-only comment is valid (heap-dominated workbooks whose tiny sheet
    never reaches one interval still get interval heaps + the planner's
    cap lift); ``extra_sheets`` (``{entry: {"n", "points", "sections"}}``)
    carry additional worksheets of a multi-sheet workbook (r11).
    ``sections`` is the ``{key: {letter: array}}`` stats map
    (splitindex.SECTIONS). Size discipline against the 64 KB comment
    ceiling, most valuable sections last to go: the stats STRIDE doubles
    first — one entry per 2/4/…/16 intervals, every sheet and section in
    lockstep (r12: the SF10 witness showed column-dropping silently
    killed ALL string pruning at 1038 points; coarser claims keep every
    column pruning at reduced granularity) — then stats columns drop
    largest-first (across all sheets and sections), then whole
    extra-sheet sections largest-first, then the sst section, and the
    primary worksheet section is kept alone as the floor."""
    import json as _json

    from .splitindex import SECTION_BY_KEY

    if pts and nrows != expected_rows:
        pts = None
    if spts and n_si != expected_si:
        spts = None

    def own(secs) -> dict:
        # Copy each section's column map: shedding below deletes columns,
        # which must never edit the dicts the caller passed in (ADVICE r12).
        return {k: dict(cols) for k, cols in (secs or {}).items() if cols}

    extra = {
        k: {**v, "sections": own(v.get("sections"))}
        for k, v in (extra_sheets or {}).items()
    }
    if not pts and not spts and not extra:
        return
    # every sheet's stats map, keyed by sheet ("" = the primary)
    owned = {"": own(sections) if pts else {}}
    owned.update((en, sec["sections"]) for en, sec in extra.items())
    q = 1  # stats stride, lockstep across every section (format's `q`)
    while True:
        try:
            zf.comment = encode_split_index(
                name, pts or [], nrows if pts else 0,
                sst_points=spts, sst_total=expected_si if spts else 0,
                sections=owned[""], stride=q,
                extra_sheets={
                    en: {**sec, "stride": q} for en, sec in extra.items()
                } or None,
            )
            return
        except ValueError:
            if any(owned.values()) and q < 16:
                # halve resolution before amputating columns; each
                # section coarsens by its own sound merge
                q *= 2
                for secs in owned.values():
                    for key, cols in secs.items():
                        step = SECTION_BY_KEY[key].coarsen
                        secs[key] = {k: step(v) for k, v in cols.items()}
                continue
            if any(owned.values()):
                # largest column first; ties keep the historical order
                # (sheet name, then the section's rank, then the letter)
                _, en, _, col, key = max(
                    (len(_json.dumps(arr)), en, SECTION_BY_KEY[key].rank,
                     col, key)
                    for en, secs in owned.items()
                    for key, cols in secs.items()
                    for col, arr in cols.items()
                )
                secs = owned[en]
                del secs[key][col]
                if not secs[key]:
                    del secs[key]
                continue
            if extra:
                drop = max(extra, key=lambda e: len(extra[e]["points"]))
                del extra[drop], owned[drop]
                continue
            if spts:
                spts = None
                continue
            break
    if pts:
        zf.comment = encode_split_index(name, pts, nrows)


def write_xlsx(
    path: str, sheets: dict[str, list[list[object]]], date1904: bool = False
) -> str:
    """Write ``{sheet_name: rows}``; each row is a list of cell values.

    Cell encoding by Python type: str → shared string; bool → t="b";
    int/float → numeric; datetime.date → date serial with date style;
    None → omitted (absent cell → NULL on read, SURVEY.md §1.4).
    ``date1904=True`` writes a 1904-date-system workbook
    (``<workbookPr date1904="1"/>``, classic Mac Excel); either way date
    serials are encoded with the system's epoch and the 1900 system's
    phantom-leap-day adjustment, so read-back is exact for any date.
    Each sheet carries a ``<dimension>`` tag (row/col span) so readers can
    serve row counts from metadata.
    """
    sst: list[str] = []
    sst_index: dict[str, int] = {}

    def intern(s: str) -> int:
        i = sst_index.get(s)
        if i is None:
            i = len(sst)
            sst_index[s] = i
            sst.append(s)
        return i

    sheet_xmls: list[str] = []
    for rows in sheets.values():
        parts = [_sheet_head(len(rows), max((len(r) for r in rows), default=0))]
        for r_idx, row in enumerate(rows, start=1):
            parts.append(f'<row r="{r_idx}">')
            for c_idx, v in enumerate(row):
                cell = _cell_xml(f"{_col_letter(c_idx)}{r_idx}", v, intern, date1904)
                if cell:
                    parts.append(cell)
            parts.append("</row>\n")
        parts.append(_SHEET_TAIL)
        sheet_xmls.append("".join(parts))

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        _write_package_parts(zf, list(sheets), date1904)
        # The shared-strings heap writes with entry-boundary split points
        # like the incremental writer's (splitindex module doc).
        spts, n_si = _write_indexed_member(
            zf, "xl/sharedStrings.xml", _sst_chunks(sst), b"</si>", b"<si>"
        )
        # Every sheet writes with split points (r11: multi-sheet workbooks
        # previously carried an index only for sheet 1 — a reader of
        # sheet 2 lost the splittable property). Sheet 1 publishes as the
        # primary section; the rest ride the `m` section, shed first when
        # the comment would overflow.
        pts = None
        nrows = 0
        extra: dict = {}
        row_counts = [len(rows) for rows in sheets.values()]
        for i, xml in enumerate(sheet_xmls):
            name = f"xl/worksheets/sheet{i + 1}.xml"
            pts_i, nrows_i = _write_sheet_member(
                zf, name, iter([xml.encode("utf-8")])
            )
            if i == 0:
                pts, nrows = pts_i, nrows_i
            elif pts_i and nrows_i == row_counts[i]:
                extra[name] = {"n": nrows_i, "points": pts_i}
        _publish_index(
            zf, "xl/worksheets/sheet1.xml", pts, nrows, row_counts[0],
            spts, n_si, len(sst), extra_sheets=extra or None,
        )
    return path


class IncrementalXlsxWriter:
    """Single-sheet XLSX writer with bounded memory: the sink's hot path.

    ``write_xlsx`` holds every row (and the whole sheet XML) in memory —
    fine for fixtures, multiple GiB for a wide 1M-row sink partition. Here
    rows stream through: each ``write_row`` encodes its cells (the same
    ``_cell_xml`` encoder, so output is cell-identical to ``write_xlsx``)
    and appends to a disk spool file; ``close()`` assembles the workbook by
    streaming the spool into the zip entry in chunks. The ``<dimension>``
    tag needs the final row count before the sheet XML's first byte, which
    is exactly why the spool exists.

    Peak Python memory is O(unique strings) — the shared-strings heap is
    the one structure the format forces us to hold (every ``t="s"`` cell
    references an index into it; the reference rejects inline strings,
    sheetreader_extension.cpp:572-575, so spilling strings inline is not
    an option for reference-compatible output) — plus an O(row) encoding
    buffer. Numeric/date/bool-heavy data streams in O(1).
    """

    def __init__(
        self, path: str, sheet_name: str = "Sheet1", date1904: bool = False,
        stats: bool = False,
    ):
        import tempfile

        self.path = path
        self.sheet_name = sheet_name
        self.date1904 = date1904
        # Opt-in per-interval min/max statistics (r11): the close() pass
        # already streams every sheet byte, so the collector rides the
        # same write — but cell-regex + float-fold per interval is a
        # measurable write-path tax, so the sink exposes it as the
        # `index_stats` option rather than paying it on every export.
        self.stats = stats
        self._sst: list[str] = []
        self._sst_index: dict[str, int] = {}
        # The spool lives next to the output path. The distributed sink
        # points that path inside its job-scoped .staging-<job>/ directory,
        # so a hard-killed task's spool is removed with the directory.
        d = os.path.dirname(os.path.abspath(path)) or "."
        self._spool = tempfile.NamedTemporaryFile(
            mode="w+", encoding="utf-8", dir=d, prefix=".xlsxspool-", delete=False
        )
        self.n_rows = 0
        self._n_cols = 0
        self._closed = False

    def _intern(self, s: str) -> int:
        i = self._sst_index.get(s)
        if i is None:
            i = len(self._sst)
            self._sst_index[s] = i
            self._sst.append(s)
        return i

    def write_row(self, row: list | tuple) -> None:
        self.n_rows += 1
        r_idx = self.n_rows
        if len(row) > self._n_cols:
            self._n_cols = len(row)
        parts = [f'<row r="{r_idx}">']
        for c_idx, v in enumerate(row):
            cell = _cell_xml(
                f"{_col_letter(c_idx)}{r_idx}", v, self._intern, self.date1904
            )
            if cell:
                parts.append(cell)
        parts.append("</row>\n")
        self._spool.write("".join(parts))

    def abandon(self) -> None:
        """Drop the spool without producing a workbook (task failure path)."""
        if not self._closed:
            self._closed = True
            self._spool.close()
            try:
                os.remove(self._spool.name)
            except OSError:
                pass

    def close(self) -> str:
        if self._closed:
            return self.path
        self._closed = True
        self._spool.flush()

        try:
            with zipfile.ZipFile(self.path, "w", zipfile.ZIP_DEFLATED) as zf:
                _write_package_parts(zf, [self.sheet_name], self.date1904)
                head = _sheet_head(self.n_rows, self._n_cols).encode("utf-8")

                def _sheet_chunks():
                    yield head
                    # Re-read the spool binary (it was written utf-8 text);
                    # _write_sheet_member does the row-boundary alignment.
                    with open(self._spool.name, "rb") as sf:
                        while True:
                            c = sf.read(1 << 20)
                            if not c:
                                break
                            yield c
                    yield _SHEET_TAIL.encode("utf-8")

                coll = None
                if self.stats:
                    from .indexer import (
                        _IntervalStatsCollector,
                        _resolve_deferred_strings,
                    )

                    # The sink's one date style is cellXfs index 1
                    # (_STYLES), so the count families split exactly (r13).
                    coll = _IntervalStatsCollector(
                        b"", date_styles=frozenset({1})
                    )
                pts, nrows = _write_sheet_member(
                    zf, "xl/worksheets/sheet1.xml", _sheet_chunks(),
                    stats=coll,
                )
                if coll is not None:
                    # the sink's own intern list is the heap the string
                    # bounds fold over — already complete: every row hit
                    # the spool before close() runs
                    _resolve_deferred_strings(
                        [coll], self._sst, expected_n=len(self._sst)
                    )
                # Entry-boundary flush points in the heap too: sharded
                # readers then inflate only the heap intervals their rows
                # reference instead of the whole sst per task (splitindex
                # module doc; the string-heavy partsupp witness pays ~1 s
                # of inflate+offset-scan per shard without this).
                spts, n_si = _write_indexed_member(
                    zf, "xl/sharedStrings.xml", _sst_chunks(self._sst), b"</si>",
                    b"<si>",
                )
                _publish_index(
                    zf, "xl/worksheets/sheet1.xml",
                    pts, nrows, self.n_rows,
                    spts, n_si, len(self._sst),
                    sections=coll.aligned(pts, nrows) if coll else None,
                )
        finally:
            self._spool.close()
            try:
                os.remove(self._spool.name)
            except OSError:
                pass
        return self.path
