"""File ingestion: semicolon CSV with comma decimals, xlsx reader.

Reference behaviors covered (SURVEY.md §2.1 S3-S5):
- transactions_{date}.txt : CSV `sep=';'`, `decimal=','` (main.py:103)
- terminals_{date}.xlsx / passport_blacklist_{date}.xlsx (main.py:98,111)

The CSV path is fully distributed (`spark.read.csv`) under an
all-string schema declared from the header line, read on the driver
(`csv_header`), so no Spark job probes the file. Spark's CSV reader has
no comma-decimal option, so amounts are read as string and parsed with
functions.comma_decimal — still JVM-side codegen.

The xlsx path is driver-side (xlsx is not a distributed format — the
reference reads it with pandas too, and these are small daily dimension
files): pandas.read_excel when an Excel engine is installed, else a
vendored stdlib-only reader (zipfile + ElementTree) covering the
features these files use — shared strings, inline strings, numeric /
boolean / formula-cached cells, sheet lookup by name.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.core import comma_decimal


def csv_header(path: str, sep: str) -> list[str]:
    """The column names Spark's CSV reader takes from the header of the
    local file `path`, read on the driver: the first non-blank line
    (a UTF-8 BOM dropped), split on `sep` with `"` quotes and `\\`
    escapes inside them; an empty name becomes `_c<i>` and names that
    repeat (case-insensitively) get their index appended, as Spark
    makes a header safe. Declaring them as the schema saves the Spark
    job that the reader's own header probe would start."""
    import csv

    with open(path, encoding="utf-8-sig", newline="") as f:
        line = next((ln for ln in f if ln.strip()), "")
    names = next(csv.reader([line], delimiter=sep, doublequote=False, escapechar="\\"), [])
    lower = [n.lower() for n in names if n]
    dup = {n for n in lower if lower.count(n) > 1}
    return [f"_c{i}" if not n else f"{n}{i}" if n.lower() in dup else n
            for i, n in enumerate(names)]


def read_string_csv(
    spark: SparkSession, path: str, sep: str = ",", quarantine: bool = False
) -> DataFrame:
    """A headed CSV file as all-string columns, its schema declared
    from `csv_header`, so building the frame starts no Spark job.

    `quarantine=True` adds a `_corrupt_record` column capturing rows
    that fail to parse instead of silently null-filling them (Spark's
    default PERMISSIVE mode); the column only materializes when it is
    part of an explicit schema."""
    fields = [T.StructField(c, T.StringType()) for c in csv_header(path, sep)]
    reader = spark.read.option("header", "true").option("sep", sep)
    if quarantine:
        fields.append(T.StructField("_corrupt_record", T.StringType()))
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.schema(T.StructType(fields)).csv(path)


def read_semicolon_csv(
    spark: SparkSession,
    path: str,
    decimal_cols: Sequence[str] = (),
    renames: dict[str, str] | None = None,
    select: Sequence[str] | None = None,
    quarantine: bool = False,
) -> DataFrame:
    """Distributed read of the reference's `;`-separated, `,`-decimal
    CSV (main.py:103-107). `decimal_cols` are parsed via comma_decimal;
    `renames` applies the staging-contract projection
    (e.g. transaction_id -> trans_id).

    `quarantine=True` keeps a `_corrupt_record` column (read_string_csv)
    — audit-friendly at scale, where a bad upstream export should be
    quantified, not swallowed. Spark refuses scans whose pruned column
    set is ONLY the corrupt column (e.g. a bare corrupt-row count), so
    the quarantined frame is returned cached, per Spark's documented
    workaround; staging batches are bounded, and the consumer may
    unpersist after auditing."""
    df = read_string_csv(spark, path, ";", quarantine)
    if quarantine:
        df = df.cache()
    if select:
        df = df.select(*select, *(["_corrupt_record"] if quarantine else []))
    for c in decimal_cols:
        df = df.withColumn(c, comma_decimal(c))
    if renames:
        df = df.withColumnsRenamed(renames)
    return df


# --- stdlib xlsx parsing ---------------------------------------------------

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_XLSX_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_XLSX_PKG_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'BC12' -> 54 (letters-part only, 0-based)."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def read_xlsx_rows(path: str, sheet_name: str) -> tuple[list[str], list[list]]:
    """Stdlib-only xlsx reader (zipfile + ElementTree): returns
    (header, data_rows) from the named sheet, header taken from row 1.
    Supports shared strings, inline strings, plain/cached-formula
    values, booleans and numbers (int when exact). These are the
    features the reference's terminal/blacklist workbooks use; styles,
    dates-as-serials and merged cells are out of scope and surface as
    their raw cell values."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_map = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(f"{_XLSX_PKG_NS}Relationship")
        }
        target = None
        sheets = wb.find(f"{_XLSX_NS}sheets")
        names = []
        for sh in (sheets if sheets is not None else []):
            names.append(sh.get("name"))
            if sh.get("name") == sheet_name:
                target = rel_map.get(sh.get(f"{_XLSX_REL_NS}id"))
        if target is None:
            raise ValueError(f"sheet {sheet_name!r} not found; workbook has {names}")
        target = target.lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in ss.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))

        grid: list[dict[int, object]] = []
        # iterparse keeps memory bounded on large sheets
        for _, row in ET.iterparse(io.BytesIO(z.read(target))):
            if row.tag != f"{_XLSX_NS}row":
                continue
            cells: dict[int, object] = {}
            for j, c in enumerate(row.findall(f"{_XLSX_NS}c")):
                ref = c.get("r")
                idx = _col_index(ref) if ref else j
                t = c.get("t", "n")
                v_el = c.find(f"{_XLSX_NS}v")
                val: object = None
                if t == "s":
                    val = shared[int(v_el.text)] if v_el is not None else None
                elif t == "inlineStr":
                    is_el = c.find(f"{_XLSX_NS}is")
                    if is_el is not None:
                        val = "".join(tt.text or "" for tt in is_el.iter(f"{_XLSX_NS}t"))
                elif t == "b":
                    val = bool(int(v_el.text)) if v_el is not None else None
                elif t == "str":
                    val = v_el.text if v_el is not None else None
                else:  # numeric (or cached formula value)
                    if v_el is not None and v_el.text is not None:
                        txt = v_el.text
                        try:
                            val = int(txt)
                        except ValueError:
                            try:
                                val = float(txt)
                            except ValueError:
                                val = txt
                cells[idx] = val
            grid.append(cells)
            row.clear()

    if not grid:
        return [], []
    width = max((max(c) + 1 for c in grid if c), default=0)
    dense = [[cells.get(i) for i in range(width)] for cells in grid]
    header = [str(h) if h is not None else f"col{i}" for i, h in enumerate(dense[0])]
    return header, dense[1:]


#: Excel's day-serial epoch (the 1900 system, offset for the fictitious
#: 1900-02-29): serial 45292 == 2024-01-01.
_EXCEL_EPOCH_ORDINAL = 693594  # datetime.date(1899, 12, 30).toordinal()


def excel_serial_to_date(serial: float):
    """Excel 1900-system day serial -> datetime.date (time part of a
    fractional serial is dropped)."""
    import datetime as _dt

    return _dt.date.fromordinal(_EXCEL_EPOCH_ORDINAL + int(serial))


def read_excel_sheet(
    spark: SparkSession,
    path: str,
    sheet_name: str,
    select: Sequence[str] | None = None,
    renames: dict[str, str] | None = None,
    date_cols: Sequence[str] | None = None,
) -> DataFrame:
    """xlsx ingest (reference main.py:98,111): pandas.read_excel when an
    Excel engine is installed, else the vendored stdlib reader
    (read_xlsx_rows) — either way a driver-side parse followed by
    Arrow-backed createDataFrame.

    date_cols: columns (pre-rename names) the CALLER declares as Excel
    dates. xlsx stores dates as bare day serials whose date-ness lives
    in styles.xml, which the stdlib reader deliberately does not parse
    — an explicit declaration beats a styles heuristic for a fixed
    staging contract (the reference's blacklist `date` column is the
    use case). Numeric serials convert via the 1900 system; values that
    are already dates/strings pass through unchanged."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name, header=0, index_col=None)
    except ImportError:  # openpyxl/xlrd missing -> stdlib reader
        header, rows = read_xlsx_rows(path, sheet_name)
        pdf = pd.DataFrame(rows, columns=header)
        for col in date_cols or ():
            if col in pdf.columns:
                pdf[col] = pdf[col].map(
                    lambda v: excel_serial_to_date(v)
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                    else v
                )
        # uniform column types for Spark inference: mixed cells -> str
        for col in pdf.columns:
            vals = [v for v in pdf[col] if v is not None]
            if vals and not all(isinstance(v, (int, float, bool)) for v in vals):
                if col in (date_cols or ()):
                    continue  # already uniform dates
                pdf[col] = pdf[col].map(lambda v: None if v is None else str(v))
    if select:
        pdf = pdf[list(select)]
    df = spark.createDataFrame(pdf)
    if renames:
        df = df.withColumnsRenamed(renames)
    return df
