"""Excel scan (S17) — stdlib OOXML reader, no engine dependency.

Parity target: ``code/file_handling/file_io.py:421-446`` (``read_excel``
with sheet_name/usecols/converters). The reference uses Excel only for
small operator-maintained config workbooks, so this is a driver-side read
feeding ``createDataFrame`` — never a data-plane scan.

An .xlsx file is a zip of XML parts (the ECMA-376 SpreadsheetML package):
``xl/workbook.xml`` lists sheets and their relationship ids,
``xl/_rels/workbook.xml.rels`` maps those ids to worksheet parts,
``xl/sharedStrings.xml`` interns string cell values, and each worksheet
part holds ``<c r="A1" t="..."><v>...</v></c>`` cells. That is the whole
surface this reader needs — the stdlib ``zipfile`` + ``xml.etree`` parse
it directly, mirroring how ``sources/xlsx.py`` writes the same parts.
Supported cell types: numeric (default), shared string (``t="s"``), inline
string (``t="inlineStr"``), boolean (``t="b"``), formula-cached string
(``t="str"``). Dates-as-serials are left numeric, as the reference's
config workbooks store dates as text.
"""

from __future__ import annotations

import re
import zipfile
from typing import Any
from xml.etree import ElementTree as ET

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_NS_PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(letters: str) -> int:
    out = 0
    for ch in letters:
        out = out * 26 + (ord(ch) - ord("A") + 1)
    return out - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in z.namelist():
        return []
    root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    out = []
    for si in root.findall(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_targets(z: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_member)] in workbook order."""
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        r.get("Id"): r.get("Target") for r in rels.findall(f"{_NS_PKG}Relationship")
    }
    out = []
    for sh in wb.find(f"{_NS}sheets").findall(f"{_NS}sheet"):
        target = rid_to_target[sh.get(f"{_NS_REL}id")].lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target
        out.append((sh.get("name"), target))
    return out


def _cell_value(c: ET.Element, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_NS}is")
        return "".join(x.text or "" for x in is_el.iter(f"{_NS}t")) if is_el is not None else None
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return bool(int(v.text))
    if t == "str":
        return v.text
    num = float(v.text)
    return int(num) if num.is_integer() and "." not in v.text and "E" not in v.text.upper() else num


def read_excel_pandas(
    path: str,
    sheet_name: str | int = 0,
    usecols: list[str] | None = None,
    converters: dict[str, Any] | None = None,
) -> pd.DataFrame:
    """Read one sheet to pandas: first row is the header (the reference's
    ``pd.read_excel`` default), later rows are data; ragged rows null-fill."""
    with zipfile.ZipFile(path) as z:
        sheets = _sheet_targets(z)
        if isinstance(sheet_name, int):
            name, member = sheets[sheet_name]
        else:
            match = [s for s in sheets if s[0] == sheet_name]
            if not match:
                raise KeyError(
                    f"sheet {sheet_name!r} not in {[s[0] for s in sheets]}"
                )
            name, member = match[0]
        shared = _shared_strings(z)
        root = ET.fromstring(z.read(member))

        grid: dict[int, dict[int, object]] = {}
        max_col = -1
        for row in root.iter(f"{_NS}row"):
            cells: dict[int, object] = {}
            next_col = 0
            for c in row.iter(f"{_NS}c"):
                ref = c.get("r")
                if ref:
                    m = _CELL_REF.match(ref)
                    col = _col_index(m.group(1))
                else:  # cells without r= are consecutive
                    col = next_col
                next_col = col + 1
                val = _cell_value(c, shared)
                if val is not None:
                    cells[col] = val
                    max_col = max(max_col, col)
            if cells:
                grid[int(row.get("r", len(grid) + 1)) - 1] = cells

    if not grid:
        return pd.DataFrame()
    row_ids = sorted(grid)
    header_cells = grid[row_ids[0]]
    ncols = max_col + 1
    header = [str(header_cells.get(i, f"Unnamed: {i}")) for i in range(ncols)]
    records = [
        [grid[r].get(i) for i in range(ncols)] for r in row_ids[1:]
    ]
    pdf = pd.DataFrame(records, columns=header)
    if usecols is not None:
        pdf = pdf[[c for c in usecols if c in pdf.columns]]
    for col, fn in (converters or {}).items():
        if col in pdf.columns:
            pdf[col] = pdf[col].map(lambda v: fn(v) if v is not None else v)
    return pdf


def sheet_names(path: str) -> list[str]:
    """Workbook sheet names in order."""
    with zipfile.ZipFile(path) as z:
        return [n for n, _ in _sheet_targets(z)]


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str | int = 0,
    usecols: list[str] | None = None,
    converters: dict[str, Any] | None = None,
) -> DataFrame:
    """Read one sheet of a small config workbook into a Spark DataFrame."""
    pdf = read_excel_pandas(path, sheet_name, usecols, converters)
    return spark.createDataFrame(pdf.where(pd.notnull(pdf), None))
