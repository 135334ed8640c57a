"""Rebuild ``demo_test.xlsx``: the reference extension's demo workbook
(docker-demo/test.xlsx — golden output Alice 30 New York / Bob 25 London)
written member by member with ``zipfile``, not with this package's writer,
so it keeps a foreign writer's shape: every string cell is ``t="s"``, the
shared-strings heap holds 7 entries with ``count``/``uniqueCount``, and
there is no split-index archive comment.

    python tests/fixtures/build_demo_fixture.py
"""

import os
import zipfile

NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG = "http://schemas.openxmlformats.org/package/2006/relationships"
STRINGS = ["Name", "Age", "City", "Alice", "New York", "Bob", "London"]
# (A, B, C) per row: shared-string index, or a float for numeric cells
ROWS = [(0, 1, 2), (3, 30.0, 4), (5, 25.0, 6)]


def _cell(ref: str, v) -> str:
    if isinstance(v, float):
        return f'<c r="{ref}"><v>{v:g}</v></c>'
    return f'<c r="{ref}" t="s"><v>{v}</v></c>'


def members() -> dict:
    rows = "".join(
        f'<row r="{i}">'
        + "".join(_cell(f"{c}{i}", v) for c, v in zip("ABC", row))
        + "</row>"
        for i, row in enumerate(ROWS, start=1)
    )
    sst = "".join(f"<si><t>{s}</t></si>" for s in STRINGS)
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    return {
        "[Content_Types].xml": head
        + '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        "</Types>",
        "_rels/.rels": head
        + f'<Relationships xmlns="{PKG}">'
        f'<Relationship Id="rId1" Type="{REL}/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>",
        "xl/workbook.xml": head
        + f'<workbook xmlns="{NS}" xmlns:r="{REL}">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels": head
        + f'<Relationships xmlns="{PKG}">'
        f'<Relationship Id="rId1" Type="{REL}/worksheet" Target="worksheets/sheet1.xml"/>'
        f'<Relationship Id="rId2" Type="{REL}/styles" Target="styles.xml"/>'
        f'<Relationship Id="rId3" Type="{REL}/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>",
        "xl/worksheets/sheet1.xml": head
        + f'<worksheet xmlns="{NS}" xmlns:r="{REL}"><dimension ref="A1:C3"/>'
        f"<sheetData>{rows}</sheetData></worksheet>",
        "xl/sharedStrings.xml": head
        + f'<sst xmlns="{NS}" count="{len(STRINGS)}" uniqueCount="{len(STRINGS)}">'
        f"{sst}</sst>",
        "xl/styles.xml": head
        + f'<styleSheet xmlns="{NS}"><cellXfs count="1"><xf numFmtId="0"/></cellXfs>'
        "</styleSheet>",
    }


def build(path: str) -> str:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in members().items():
            # fixed timestamp: the committed bytes are reproducible
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)),
                        text.encode("utf-8"), zipfile.ZIP_DEFLATED)
    return path


if __name__ == "__main__":
    build(os.path.join(os.path.dirname(os.path.abspath(__file__)), "demo_test.xlsx"))
