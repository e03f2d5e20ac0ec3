"""Independent pure-Python readers and references for the output checks.

Nothing here imports the engine: CSV through ``csv``, XML through
``xml.etree``, xlsx through ``zipfile`` + ``xml.etree``.
"""

from __future__ import annotations

import csv
import glob
import os
import re
import zipfile
from xml.etree import ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def csv_rows(path: str) -> tuple[list[str], list[list[str]]]:
    """Header and rows of the part files of a Spark CSV output directory
    (each part repeats the header)."""
    header: list[str] = []
    rows: list[list[str]] = []
    for fp in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(fp, newline="", encoding="utf-8") as f:
            r = list(csv.reader(f))
        if r:
            header = r[0]
            rows.extend(r[1:])
    return header, rows


def xml_rows(path: str) -> list[dict[str, str]]:
    """Child elements of the root as {tag: text} dicts."""
    root = ET.parse(path).getroot()
    return [{c.tag: (c.text or "") for c in row} for row in root]


def _col(ref: str) -> int:
    i = 0
    for ch in re.match(r"[A-Z]+", ref).group(0):
        i = i * 26 + ord(ch) - 64
    return i - 1


def xlsx_sheets(path: str) -> dict[str, list[list[str]]]:
    """Every worksheet of an xlsx workbook as a list of string rows."""
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        rels = {
            r.get("Id"): r.get("Target")
            for r in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")).iter(f"{_PKG}Relationship")
        }
        out = {}
        for sheet in ET.fromstring(z.read("xl/workbook.xml")).iter(f"{_NS}sheet"):
            target = rels[sheet.get(f"{_REL}id")].lstrip("/")
            target = target if target.startswith("xl/") else f"xl/{target}"
            rows = []
            for row in ET.fromstring(z.read(target)).iter(f"{_NS}row"):
                cells: dict[int, str] = {}
                for c in row.iter(f"{_NS}c"):
                    kind = c.get("t")
                    if kind == "inlineStr":
                        v = "".join(t.text or "" for t in c.iter(f"{_NS}t"))
                    else:
                        node = c.find(f"{_NS}v")
                        v = node.text if node is not None and node.text else ""
                        if kind == "s":
                            v = shared[int(v)]
                    cells[_col(c.get("r"))] = v
                width = max(cells) + 1 if cells else 0
                rows.append([cells.get(i, "") for i in range(width)])
            out[sheet.get("name")] = rows
    return out

