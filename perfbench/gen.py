"""Seeded inputs for the benchmark, built without the package under test.

Workbooks are written with the standard library's ``zipfile`` only, in the
shape third-party writers produce: every string is a shared-string
reference (``t="s"``), ``sharedStrings.xml`` carries ``count`` and
``uniqueCount``, the sheet carries ``<dimension>``, and the archive has no
comment, so no split index exists until ``index_xlsx`` adds one. A product
change therefore cannot change the inputs, and the same seed always gives
byte-identical files.

Every table shares one 8-column schema:

    k      ascending double key (multiples of 1/4, so sums are exact)
    qty    integer-valued double 1..50
    price  double, multiples of 1/4
    disc   double, multiples of 1/16 in [0, 10/16]
    flag   one of "A", "N", "R"
    ship   date (Excel serial with a date style)
    ok     boolean
    note   high-cardinality string, about one distinct value per three
           rows, with some absent cells (never in the first two data rows,
           which the reader's two-row schema probe needs full)

All numeric values are binary fractions small enough that any summation
order gives the same double, so a checksum compares exactly.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile

import numpy as np

COLUMNS = ("k", "qty", "price", "disc", "flag", "ship", "ok", "note")
FLAGS = ("A", "N", "R")
_LETTERS = "ABCDEFGH"
_EXCEL_EPOCH_OFFSET = 25569  # serial of 1970-01-01 in the 1900 date system
_SHIP_SERIAL0 = 34700  # 1995-01-01
_WORDS = (
    "amber", "basalt", "cobalt", "delta", "ember", "fjord", "garnet", "harbor",
    "indigo", "juniper", "kelp", "lagoon", "marble", "nectar", "onyx", "pepper",
)
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)


class Rows:
    """Column arrays of the shared schema, plus their exact checksums."""

    def __init__(self, cols: dict):
        self.cols = cols
        self.n = len(cols["k"])

    def slice(self, lo: int, hi: int) -> "Rows":
        return Rows({c: v[lo:hi] for c, v in self.cols.items()})

    def note_strings(self) -> list:
        ids, present = self.cols["note_id"], self.cols["note_present"]
        return [
            f"{_WORDS[i & 15]} {_WORDS[(i >> 4) & 15]} {i:07x}" if p else None
            for i, p in zip(ids.tolist(), present.tolist())
        ]

    def python_rows(self, limit: int) -> list:
        """The first ``limit`` rows as Python values, in ``COLUMNS`` order."""
        c = self.slice(0, limit).cols
        epoch = dt.date(1970, 1, 1)
        notes = self.slice(0, limit).note_strings()
        return [
            [k, q, p, d, FLAGS[f], epoch + dt.timedelta(days=s - _EXCEL_EPOCH_OFFSET), bool(o), nt]
            for k, q, p, d, f, s, o, nt in zip(
                c["k"].tolist(), c["qty"].tolist(), c["price"].tolist(), c["disc"].tolist(),
                c["flag"].tolist(), c["ship"].tolist(), c["ok"].tolist(), notes)
        ]

    def checksums(self) -> dict:
        """Expected aggregates of a correct full read, as plain numbers."""
        c = self.cols
        notes = [s for s in self.note_strings() if s is not None]
        return {
            "rows": int(self.n),
            "k": float(c["k"].sum()),
            "qty": float(c["qty"].sum()),
            "price": float(c["price"].sum()),
            "disc": float(c["disc"].sum()),
            "flag_A": int((c["flag"] == 0).sum()),
            "flag_N": int((c["flag"] == 1).sum()),
            "flag_R": int((c["flag"] == 2).sum()),
            "ship_days": int((c["ship"] - _EXCEL_EPOCH_OFFSET).sum()),
            "ok_true": int(c["ok"].sum()),
            "note_rows": len(notes),
            "note_chars": sum(len(s) for s in notes),
        }


def make_rows(seed: int, n_rows: int, full_every: int) -> Rows:
    """Rows of the shared schema. Rows whose position modulo ``full_every``
    is 0 or 1 carry every cell, so any slice of ``full_every`` rows starts
    with the two full rows the reader's schema probe needs."""
    rng = np.random.default_rng(seed)
    k = np.arange(n_rows, dtype=np.float64) + rng.integers(0, 4, n_rows) / 4.0
    present = rng.random(n_rows) >= 0.05
    present[np.arange(n_rows) % full_every < 2] = True
    return Rows({
        "k": k,
        "qty": rng.integers(1, 51, n_rows).astype(np.float64),
        "price": rng.integers(400, 4_000_000, n_rows) / 4.0,
        "disc": rng.integers(0, 11, n_rows) / 16.0,
        "flag": rng.integers(0, 3, n_rows),
        "ship": rng.integers(_SHIP_SERIAL0, _SHIP_SERIAL0 + 2500, n_rows),
        "ok": rng.random(n_rows) < 0.5,
        "note_id": rng.integers(0, max(1, n_rows // 3), n_rows),
        "note_present": present,
    })


def _num(v: float) -> str:
    return str(int(v)) if v == int(v) else repr(v)


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
    '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    "</Relationships>"
)
# cellXfs index 1 uses built-in number format 14 (m/d/yyyy): a date cell.
_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
    '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
    '<borders count="1"><border/></borders>'
    '<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>'
    '<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>'
    '<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/></cellXfs>'
    "</styleSheet>"
)


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _member(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    return info


def write_workbook(path: str, rows: Rows, chunk_rows: int = 20_000) -> dict:
    """Write ``rows`` (with a header row) as a foreign-shaped workbook.

    Returns the input-size record: bytes, rows, cells, unique strings and
    the uncompressed sheet/SST byte ratio."""
    sst: dict[str, int] = {}
    for name in COLUMNS:
        sst.setdefault(name, len(sst))
    flag_idx = [sst.setdefault(f, len(sst)) for f in FLAGS]
    notes = rows.note_strings()
    note_idx = [None if s is None else sst.setdefault(s, len(sst)) for s in notes]
    c = rows.cols
    n_rows = rows.n
    last_row = n_rows + 1
    n_notes = sum(1 for i in note_idx if i is not None)
    refs = len(COLUMNS) + n_rows + n_notes  # header, flag and note references
    cells = len(COLUMNS) + 7 * n_rows + n_notes
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as zf:
        zf.writestr(_member("[Content_Types].xml"), _CONTENT_TYPES)
        zf.writestr(_member("_rels/.rels"), _ROOT_RELS)
        zf.writestr(_member("xl/workbook.xml"), _WORKBOOK)
        zf.writestr(_member("xl/_rels/workbook.xml.rels"), _WORKBOOK_RELS)
        zf.writestr(_member("xl/styles.xml"), _STYLES)
        sheet_bytes = 0
        with zf.open(_member("xl/worksheets/sheet1.xml"), "w") as f:
            head = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f'<dimension ref="A1:H{last_row}"/><sheetData>'
                '<row r="1">'
                + "".join(
                    f'<c r="{_LETTERS[i]}1" t="s"><v>{i}</v></c>'
                    for i in range(len(COLUMNS))
                )
                + "</row>"
            ).encode()
            f.write(head)
            sheet_bytes += len(head)
            k, qty, price, disc = (c[n].tolist() for n in ("k", "qty", "price", "disc"))
            flag, ship, ok = c["flag"].tolist(), c["ship"].tolist(), c["ok"].tolist()
            for lo in range(0, n_rows, chunk_rows):
                out = []
                for i in range(lo, min(n_rows, lo + chunk_rows)):
                    r = i + 2
                    note = note_idx[i]
                    out.append(
                        f'<row r="{r}"><c r="A{r}"><v>{_num(k[i])}</v></c>'
                        f'<c r="B{r}"><v>{_num(qty[i])}</v></c>'
                        f'<c r="C{r}"><v>{_num(price[i])}</v></c>'
                        f'<c r="D{r}"><v>{_num(disc[i])}</v></c>'
                        f'<c r="E{r}" t="s"><v>{flag_idx[flag[i]]}</v></c>'
                        f'<c r="F{r}" s="1"><v>{ship[i]}</v></c>'
                        f'<c r="G{r}" t="b"><v>{1 if ok[i] else 0}</v></c>'
                        + ("" if note is None else f'<c r="H{r}" t="s"><v>{note}</v></c>')
                        + "</row>"
                    )
                data = "".join(out).encode()
                f.write(data)
                sheet_bytes += len(data)
            tail = b"</sheetData></worksheet>"
            f.write(tail)
            sheet_bytes += len(tail)
        sst_xml = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            f'count="{refs}" uniqueCount="{len(sst)}">'
            + "".join(f"<si><t>{_esc(s)}</t></si>" for s in sst)
            + "</sst>"
        ).encode()
        zf.writestr(_member("xl/sharedStrings.xml"), sst_xml)
    os.replace(tmp, path)
    return {
        "bytes": os.path.getsize(path),
        "rows": n_rows,
        "cells": cells,
        "unique_strings": len(sst),
        "sheet_sst_ratio": round(sheet_bytes / len(sst_xml), 3),
    }


def merge_sizes(records: list) -> dict:
    """One input-size record for a set of workbooks."""
    return {
        "files": len(records),
        "bytes": sum(r["bytes"] for r in records),
        "rows": sum(r["rows"] for r in records),
        "cells": sum(r["cells"] for r in records),
        "unique_strings": sum(r["unique_strings"] for r in records),
        "sheet_sst_ratio": round(
            sum(r["sheet_sst_ratio"] for r in records) / len(records), 3
        ),
    }
