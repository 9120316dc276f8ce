"""Stdlib-only Excel (.xlsx) and XML ingestion (reference S2/S4).

Parity target: the Excel/XML branches of ``DQ_DISCOVERY_AND_CHECKS``
(Data_Discovery_File.sql:325-341), which loaded both via pandas inside
the Snowflake procedure. This container ships neither openpyxl nor
lxml, so these readers use only the standard library — ``zipfile`` +
``xml.etree`` for xlsx (an xlsx file IS a zip of sheet XML), and
``xml.etree`` record inference for plain XML — then promote the rows
to a typed Spark DataFrame.

Scale note (same as the reference's stance): Excel/XML are inherently
small-file, driver-side formats — nothing at 100 TB arrives as either.
They exist so `read_any`/`discover_and_run_dq` accept every format the
reference accepted; the DQ sweep that follows runs distributed on the
resulting DataFrame regardless of origin format.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import rows_frame

_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(cell_ref: str) -> int | None:
    """'C7' -> 2; None when the cell has no r= attribute."""
    letters = "".join(ch for ch in cell_ref if ch.isalpha())
    if not letters:
        return None
    idx = 0
    for ch in letters.upper():
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _xlsx_cell_value(cell: ET.Element, shared: list[str]) -> Any:
    """One <c> element -> python value, honoring the cell-type attr:
    s=shared string, b=bool, str/e=literal, inlineStr, default numeric."""
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_SSML}is")
        if is_el is None:
            return None
        return "".join(t.text or "" for t in is_el.iter(f"{_SSML}t"))
    v_el = cell.find(f"{_SSML}v")
    if v_el is None or v_el.text is None:
        return None
    text = v_el.text
    if ctype == "s":
        return shared[int(text)]
    if ctype == "b":
        return text in ("1", "true", "TRUE")
    if ctype in ("str", "e"):
        return text
    # numeric cell: int when the literal is integral, else float
    if re.fullmatch(r"-?\d+", text):
        return int(text)
    return float(text)


_RELS_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _sheet_targets_in_tab_order(
    z: zipfile.ZipFile, names: set[str]
) -> list[str]:
    """Worksheet zip entries ordered by the workbook's TAB order.

    Tab order is defined by ``xl/workbook.xml`` ``<sheets>`` (each
    ``<sheet>`` carries an ``r:id``), resolved to part names via
    ``xl/_rels/workbook.xml.rels`` — sheet FILE numbering need not
    match tab order (sheet3.xml can be the first tab), so 'sheet 0'
    must mean what Excel/pandas would return. Falls back to numeric
    filename sort when the workbook/rels parts are missing or refer
    to entries not present in the archive.
    """
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target_by_rid = {}
        for rel in rels.iter(f"{_RELS_NS}Relationship"):
            target = rel.get("Target", "")
            if target.startswith("/"):
                target = target.lstrip("/")
            elif not target.startswith("xl/"):
                target = f"xl/{target}"
            target_by_rid[rel.get("Id")] = target
        ordered = []
        sheets_el = wb.find(f"{_SSML}sheets")
        for sh in (sheets_el if sheets_el is not None else []):
            target = target_by_rid.get(sh.get(_RID_ATTR))
            if target and target in names:
                ordered.append(target)
        if ordered:
            return ordered
    except (KeyError, ET.ParseError):
        pass
    # numeric sort: sheet2 before sheet10 (lexicographic would not)
    return sorted(
        (n for n in names if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
        key=lambda n: int(re.search(r"sheet(\d+)", n).group(1)),
    )


def read_xlsx_rows(path: str, sheet: int = 0) -> list[list[Any]]:
    """Parse one worksheet of an .xlsx into row lists (stdlib only).

    xlsx structure: a zip containing ``xl/sharedStrings.xml`` (the
    string pool — string cells store an index into it) and
    ``xl/worksheets/sheetN.xml`` (one <row> per row, one <c> per cell,
    with an A1-style ``r`` reference that makes sparse rows explicit).
    """
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            pool = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in pool:
                # concatenate <t> runs (rich-text strings split into runs)
                shared.append("".join(t.text or "" for t in si.iter(f"{_SSML}t")))
        sheets = _sheet_targets_in_tab_order(z, names)
        if not sheets:
            raise ValueError(f"no worksheets found in {path}")
        root = ET.fromstring(z.read(sheets[sheet]))

    rows: list[dict[int, Any]] = []
    width = 0
    for row_el in root.iter(f"{_SSML}row"):
        cells: dict[int, Any] = {}
        next_idx = 0
        for c in row_el.iter(f"{_SSML}c"):
            idx = _col_index(c.get("r", ""))
            if idx is None:
                idx = next_idx
            next_idx = idx + 1
            cells[idx] = _xlsx_cell_value(c, shared)
        if cells:
            width = max(width, max(cells) + 1)
        rows.append(cells)
    return [[r.get(i) for i in range(width)] for r in rows]


def read_xml_records(path: str) -> list[dict[str, Any]]:
    """Record inference over plain XML, mirroring ``pandas.read_xml``'s
    default: each child of the root element is one record; its
    attributes and child-element texts become columns (namespace
    prefixes stripped)."""
    root = ET.parse(path).getroot()
    records: list[dict[str, Any]] = []
    for rec in root:
        d: dict[str, Any] = {
            k.split("}")[-1]: v for k, v in rec.attrib.items()
        }
        for child in rec:
            tag = child.tag.split("}")[-1]
            d[tag] = child.text.strip() if child.text else None
        if d:
            records.append(d)
    if not records:
        raise ValueError(f"no record elements found under XML root in {path}")
    return records


_INT_RE = re.compile(r"-?\d+")
_FLOAT_RE = re.compile(r"-?\d*\.\d+([eE][-+]?\d+)?|-?\d+[eE][-+]?\d+")


def _coerce_string(v: Any) -> Any:
    """Best-effort typed parse of an XML text value (pandas.read_xml
    similarly infers numerics)."""
    if not isinstance(v, str):
        return v
    s = v.strip()
    if _INT_RE.fullmatch(s):
        return int(s)
    if _FLOAT_RE.fullmatch(s):
        return float(s)
    if s.lower() in ("true", "false"):
        return s.lower() == "true"
    return v


def _infer_field(name: str, values: list[Any]) -> T.StructField:
    present = [v for v in values if v is not None]
    types = {type(v) for v in present}
    if present and types <= {bool}:
        return T.StructField(name, T.BooleanType())
    if present and types <= {int}:
        return T.StructField(name, T.LongType())
    if present and types <= {int, float}:
        return T.StructField(name, T.DoubleType())
    return T.StructField(name, T.StringType())


def rows_to_df(
    spark: SparkSession, header: list[str], data: list[list[Any]]
) -> DataFrame:
    """Promote header+rows to a typed DataFrame: per-column type
    inference (bool < long < double < string), Nones preserved, string
    fallback stringifies mixed columns. The rows reach Spark as an
    Arrow table (``session.rows_frame``): a ``LocalRelation`` plan, so
    the DQ sweep's jobs over it fork no Python worker."""
    ncols = len(header)
    cols = [[row[i] if i < len(row) else None for row in data] for i in range(ncols)]
    fields = [_infer_field(h, c) for h, c in zip(header, cols)]
    schema = T.StructType(fields)

    def fix(v: Any, f: T.StructField) -> Any:
        if v is None:
            return None
        if isinstance(f.dataType, T.StringType):
            return v if isinstance(v, str) else str(v)
        if isinstance(f.dataType, T.DoubleType):
            return float(v)
        return v

    typed = [
        tuple(fix(row[i] if i < len(row) else None, fields[i]) for i in range(ncols))
        for row in data
    ]
    return rows_frame(spark, typed, schema)


def read_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """S2: .xlsx -> DataFrame, first row as header (the reference's
    ``pd.read_excel`` default, Data_Discovery_File.sql:325-327)."""
    rows = read_xlsx_rows(path)
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    header = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(rows[0])]
    return rows_to_df(spark, header, rows[1:])


def read_xls(spark: SparkSession, path: str) -> DataFrame:
    """S2 legacy branch: BIFF8 ``.xls`` -> DataFrame, first row as
    header — same promotion contract as :func:`read_xlsx` (the
    reference accepted both through one ``pd.read_excel`` call,
    Data_Discovery_File.sql:325-327)."""
    from .biff import read_xls_rows

    rows = read_xls_rows(path)
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    header = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(rows[0])]
    return rows_to_df(spark, header, rows[1:])


def read_xml(spark: SparkSession, path: str) -> DataFrame:
    """S4: record-oriented XML -> DataFrame
    (Data_Discovery_File.sql:337-341 used ``pd.read_xml``)."""
    records = [
        {k: _coerce_string(v) for k, v in rec.items()}
        for rec in read_xml_records(path)
    ]
    header: list[str] = []
    for rec in records:  # first-seen column order, union of all records
        for k in rec:
            if k not in header:
                header.append(k)
    data = [[rec.get(k) for k in header] for rec in records]
    return rows_to_df(spark, header, data)
