"""S2: Excel sheet → rows (reference: ``excel/mod.rs:19-66`` +
``ExcelImportManifest``).

The reference loads the workbook on the driver (calamine) and renders
each sheet to CSV text, stringifying datetime cells as ``%Y-%m-%d``.
Workbooks are driver-sized artifacts by nature (a manifest input, not a
data lake table), so driver-side parsing is the right scale shape here
too; the resulting rows then flow through the exact same Spark CSV /
positional plan as a .csv step.

No xlsx library ships in this environment, so this is a minimal
from-scratch reader over the OOXML parts (stdlib zipfile + ElementTree):

- ``xl/workbook.xml``        sheet name → sheet index
- ``xl/_rels/workbook.xml.rels`` sheet index → worksheet part
- ``xl/sharedStrings.xml``   shared-string table
- ``xl/styles.xml``          cellXfs numFmtIds (date detection)
- ``xl/worksheets/sheetN.xml`` cells

Cell rendering mirrors the reference's ``Data`` match arms: numbers via
a float→shortest form, booleans as ``true``/``false``, dates as
``yyyy-MM-dd`` (Excel 1900 serial, including the 1900-02-29 leap-bug
offset: serial >= 60 is anchored at 1899-12-30), empty cells as "".
openpyxl, when present, is used instead for full fidelity.
"""

from __future__ import annotations

import datetime as _dt
import re
import io
import zipfile
from pathlib import Path
from xml.etree import ElementTree as ET

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

# built-in numFmtIds Excel treats as dates (ECMA-376 §18.8.30)
_BUILTIN_DATE_FMTS = set(range(14, 23)) | set(range(45, 48))
_DATE_TOKEN_RE = re.compile(r"[ymd]", re.IGNORECASE)


def _num_to_str(v: float) -> str:
    """calamine's Data::Int/Float Display: integral floats print bare."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _serial_to_date(serial: float) -> str | None:
    """Excel 1900-system serial → yyyy-MM-dd (None if out of range)."""
    d = int(serial)
    if d < 1:
        return None
    # 1900 leap-year bug: serials 1..59 anchor at 1899-12-31, >=60 skip
    # the phantom 1900-02-29 (anchor 1899-12-30)
    anchor = _dt.date(1899, 12, 30) if d >= 60 else _dt.date(1899, 12, 31)
    try:
        return (anchor + _dt.timedelta(days=d)).isoformat()
    except OverflowError:
        return None


def _col_index(ref: str) -> int:
    """'BC12' → 0-based column index 54."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


class XlsxWorkbook:
    """Minimal read-only xlsx accessor (driver-side, stdlib-only)."""

    def __init__(self, path: str | Path):
        # whole-file read through the storage layer: model workbooks are
        # driver-side dimension files, and this is what lets an
        # s3a://-hosted xlsx load with zero code above noticing
        from . import storage

        self._zf = zipfile.ZipFile(io.BytesIO(storage.read_bytes(path)))
        self._shared = self._load_shared_strings()
        self._date_xfs = self._load_date_styles()
        self._sheets = self._load_sheet_map()

    # --- workbook parts ---------------------------------------------------

    def _read_xml(self, name: str) -> ET.Element | None:
        try:
            with self._zf.open(name) as f:
                return ET.parse(f).getroot()
        except KeyError:
            return None

    def _load_shared_strings(self) -> list[str]:
        root = self._read_xml("xl/sharedStrings.xml")
        if root is None:
            return []
        out = []
        for si in root.findall("m:si", _NS):
            # concatenate all text runs (plain <t> or rich <r><t>)
            out.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))
        return out

    def _load_date_styles(self) -> set[int]:
        """Style indices (cell s= attr) whose numFmt is a date format."""
        root = self._read_xml("xl/styles.xml")
        if root is None:
            return set()
        custom_date_ids = set()
        for nf in root.iter(f"{{{_NS['m']}}}numFmt"):
            code = nf.get("formatCode", "")
            # strip quoted literals/colors before sniffing date tokens
            bare = re.sub(r'"[^"]*"|\[[^\]]*\]', "", code)
            if _DATE_TOKEN_RE.search(bare):
                custom_date_ids.add(int(nf.get("numFmtId", "-1")))
        date_xfs = set()
        cellxfs = root.find("m:cellXfs", _NS)
        if cellxfs is not None:
            for i, xf in enumerate(cellxfs.findall("m:xf", _NS)):
                fmt = int(xf.get("numFmtId", "0"))
                if fmt in _BUILTIN_DATE_FMTS or fmt in custom_date_ids:
                    date_xfs.add(i)
        return date_xfs

    def _load_sheet_map(self) -> dict[str, str]:
        wb = self._read_xml("xl/workbook.xml")
        rels = self._read_xml("xl/_rels/workbook.xml.rels")
        rel_targets = {}
        if rels is not None:
            for rel in rels:
                tgt = rel.get("Target", "")
                if not tgt.startswith("/"):
                    tgt = "xl/" + tgt
                else:
                    tgt = tgt.lstrip("/")
                rel_targets[rel.get("Id")] = tgt
        sheets = {}
        if wb is not None:
            for sh in wb.iter(f"{{{_NS['m']}}}sheet"):
                rid = sh.get(f"{_R_NS}id")
                sheets[sh.get("name")] = rel_targets.get(rid, "")
        return sheets

    # --- public -----------------------------------------------------------

    def sheet_rows(self, sheet_name: str) -> list[list[str]]:
        """Sheet → dense list-of-rows of rendered strings (the
        reference's get_sheet_as_csv, minus the CSV framing)."""
        part = self._sheets.get(sheet_name)
        if not part:
            raise ValueError(
                f"Sheet '{sheet_name}' not found in workbook "
                f"(has: {', '.join(self._sheets) or 'none'})"
            )
        root = self._read_xml(part)
        if root is None:
            raise ValueError(f"Worksheet part missing: {part}")
        rows: list[list[str]] = []
        width = 0
        for row in root.iter(f"{{{_NS['m']}}}row"):
            cells: dict[int, str] = {}
            for c in row.findall("m:c", _NS):
                ref = c.get("r", "")
                idx = _col_index(ref) if ref else len(cells)
                cells[idx] = self._render_cell(c)
            n = (max(cells) + 1) if cells else 0
            width = max(width, n)
            rows.append([cells.get(i, "") for i in range(n)])
        return [r + [""] * (width - len(r)) for r in rows]

    def _render_cell(self, c: ET.Element) -> str:
        t = c.get("t", "n")
        v = c.find("m:v", _NS)
        if t == "inlineStr":
            is_ = c.find("m:is", _NS)
            if is_ is not None:
                return "".join(x.text or "" for x in is_.iter(f"{{{_NS['m']}}}t"))
            return ""
        if v is None or v.text is None:
            return ""
        raw = v.text
        if t == "s":
            i = int(raw)
            return self._shared[i] if i < len(self._shared) else ""
        if t == "b":
            return "true" if raw in ("1", "true") else "false"
        if t == "str" or t == "e":
            return raw
        # numeric: date-styled numerics stringify as yyyy-MM-dd
        # (excel/mod.rs:38-50), falling back to the bare number
        s_attr = c.get("s")
        if s_attr is not None and int(s_attr) in self._date_xfs:
            d = _serial_to_date(float(raw))
            if d is not None:
                return d
        return _num_to_str(float(raw))


def read_sheet(path: str | Path, sheet_name: str) -> tuple[list[str], list[list[str]]]:
    """(headers, rows) for one sheet — the S2 entry point. Prefers
    openpyxl when importable (local paths only — scheme-qualified URIs
    always use the stdlib reader, which opens through the storage
    layer); falls back to the stdlib reader."""
    from . import storage

    if storage.is_uri(path):
        rows = XlsxWorkbook(path).sheet_rows(sheet_name)
        return (rows[0], rows[1:]) if rows else ([], [])
    try:
        import openpyxl  # noqa: F401

        wb = openpyxl.load_workbook(str(path), read_only=True, data_only=True)
        if sheet_name not in wb.sheetnames:
            raise ValueError(f"Sheet '{sheet_name}' not found in workbook")
        ws = wb[sheet_name]
        rows = []
        for r in ws.iter_rows(values_only=True):
            rows.append(
                [
                    ""
                    if x is None
                    else x.strftime("%Y-%m-%d")
                    if isinstance(x, (_dt.date, _dt.datetime))
                    else ("true" if x is True else "false" if x is False else _num_to_str(float(x)))
                    if isinstance(x, (int, float))
                    else str(x)
                    for x in r
                ]
            )
    except ImportError:
        rows = XlsxWorkbook(path).sheet_rows(sheet_name)
    if not rows:
        return [], []
    return rows[0], rows[1:]
