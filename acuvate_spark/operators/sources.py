"""Source adapters — SURVEY §2.1 (S1-S4): CSV, nested graph-document
JSON, and Excel-shaped inputs as Spark scans.

The reference's nested document format (SURVEY §1.1:
``{"Asset": {"Instrument": {"Indicator": [component...]}}}`` with
per-component ``connections[].segments[]``) is read with
``spark.read.json(multiLine=True)`` and flattened with ``explode`` —
schema-on-read, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """CSV scan (S1, the Master_data.csv shape). Explicit schema when
    known — inferSchema costs an extra full read at 100 TB."""
    tune(spark)
    reader = spark.read.option("header", True)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_graph_documents(spark: SparkSession, path: str) -> DataFrame:
    """Nested graph-document JSON scan (S3): one document per file,
    multiLine. Returns the raw nested frame."""
    tune(spark)
    return spark.read.option("multiLine", True).json(path)


def flatten_components(docs: DataFrame) -> DataFrame:
    """Flatten Asset.Instrument.Indicator[] into component rows
    (duck-typed extraction analogue of reference app.py:2254-2270):
    one row per component with its scalar fields plus the exploded
    connection targets."""
    comps = docs.select(
        F.explode(F.col("Asset.Instrument.Indicator")).alias("c")
    ).select(
        F.col("c.id").alias("component_id"),
        F.col("c.label").alias("label"),
        F.col("c.score").alias("score"),
        F.col("c.Document_ID").alias("document_id"),
        F.col("c.text_associated").alias("text_associated"),
        F.col("c.connections").alias("connections"),
    )
    return comps


def explode_connections(comps: DataFrame) -> DataFrame:
    """Component rows -> connection edge rows with segment counts."""
    return (
        comps.select(
            "component_id",
            "document_id",
            F.explode_outer("connections").alias("conn"),
        )
        .select(
            "component_id",
            "document_id",
            F.col("conn.asset_key").alias("to_component"),
            F.col("conn.flow_direction").alias("flow_direction"),
            F.coalesce(F.size("conn.segments"), F.lit(0)).alias("n_segments"),
        )
    )


def sheet_frame_to_rows(spark: SparkSession, pdf) -> DataFrame:
    """Normalize a pandas sheet frame (Excel or its CSV interchange)
    into a DataFrame: stripped string headers, Arrow-batched transfer.
    Split from the binary decode so the ingestion semantics are
    testable in environments without an Excel engine."""
    pdf = pdf.copy()
    pdf.columns = [str(c).strip() for c in pdf.columns]
    return spark.createDataFrame(pdf)


# --- S2: pure-stdlib .xlsx decode (r03 verdict item 3) ---------------------
# An .xlsx file is a zip of XML parts (ECMA-376 SpreadsheetML). The
# reference reads it with pandas.read_excel (app.py:6062-6063), whose
# engine (openpyxl) is absent from this container — so the binary
# decode is done here with zipfile + ElementTree only: sharedStrings,
# inline strings, numbers, booleans, and sparse rows (missing cells
# surface as NULL, as pandas would).

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RELS_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _col_index(ref: str) -> int:
    """Cell reference column letters -> 0-based index ('A1' -> 0,
    'BC12' -> 54)."""
    i = 0
    for ch in ref:
        if ch.isalpha():
            i = i * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return i - 1


def _shared_strings(z) -> list[str]:
    import xml.etree.ElementTree as ET

    try:
        data = z.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    # rich-text runs (<r><t>) concatenate, matching Excel's display text
    return [
        "".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
        for si in root.findall(f"{_XLSX_NS}si")
    ]


def _sheet_zip_path(z) -> str:
    """Resolve the first workbook sheet to its zip member via the
    workbook relationships (sheet order in workbook.xml is the user-
    visible order; the part name need not be sheet1.xml)."""
    import xml.etree.ElementTree as ET

    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    targets = {
        r.get("Id"): r.get("Target") for r in rels.findall(f"{_RELS_NS}Relationship")
    }
    sheets = wb.findall(f"{_XLSX_NS}sheets/{_XLSX_NS}sheet")
    if not sheets:
        raise ValueError("workbook has no sheets")
    target = targets[sheets[0].get(_RID_ATTR)]
    return target.lstrip("/") if target.startswith("/") else f"xl/{target}"


def _cell_value(c, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_XLSX_NS}is")
        if is_el is None:
            return None
        return "".join(x.text or "" for x in is_el.iter(f"{_XLSX_NS}t"))
    v = c.find(f"{_XLSX_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "str":  # cached formula result
        return v.text
    if t == "b":
        return bool(int(v.text))
    num = float(v.text)
    # ints stay ints unless Excel wrote a decimal point / exponent
    if num == int(num) and "." not in v.text and "e" not in v.text.lower():
        return int(num)
    return num


def read_xlsx(path: str) -> tuple[list[str], list[list]]:
    """Decode the first worksheet to (header, data_rows) with stdlib
    only, as the reference's ``pd.read_excel`` reads one sheet.
    Row 1 is the header; data rows are None-padded to the header
    width; cells beyond the header width are dropped (pandas
    behavior for ragged sheets)."""
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as z:
        shared = _shared_strings(z)
        root = ET.fromstring(z.read(_sheet_zip_path(z)))
        raw: list[dict[int, object]] = []
        for row in root.iter(f"{_XLSX_NS}row"):
            cells: dict[int, object] = {}
            next_col = 0
            for c in row.findall(f"{_XLSX_NS}c"):
                ref = c.get("r")
                ci = _col_index(ref) if ref else next_col
                next_col = ci + 1
                cells[ci] = _cell_value(c, shared)
            raw.append(cells)
    if not raw:
        return [], []
    width = (max(raw[0]) + 1) if raw[0] else 0
    header = [str(raw[0].get(i, f"col{i}")) for i in range(width)]
    data = [[r.get(i) for i in range(width)] for r in raw[1:]]
    return header, data


def read_excel_rows(spark: SparkSession, path: str) -> DataFrame:
    """Excel scan (S2, reference pd.read_excel app.py:6062-6063):
    stdlib decode of the first sheet -> pandas frame -> normalized
    Spark rows. No optional engine required. All-NULL columns are
    typed string so createDataFrame never hits an undeterminable-type
    error."""
    import pandas as pd

    header, data = read_xlsx(path)
    pdf = pd.DataFrame(data, columns=header)
    for col in pdf.columns:
        if pdf[col].isna().all():
            pdf[col] = pdf[col].astype("string")
    return sheet_frame_to_rows(spark, pdf)

