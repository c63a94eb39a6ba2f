"""Source adapter tests: CSV scan and the nested graph-document JSON
flatten (fixtures synthesized in the reference's shape — SURVEY §1.1)."""

from __future__ import annotations

import json

from acuvate_spark.operators import sources


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "master.csv"
    p.write_text(
        "Country,Level,SKU,quant,Yearmonth,Source,Update1\n"
        "Austria,,SKU-1,120,202304,VPD,\n"
        "NO,Total National sales,SKU-2,55,202305,IMD,\n"
    )
    df = sources.read_csv(
        spark,
        str(p),
        "Country string, Level string, SKU string, quant long, Yearmonth int, "
        "Source string, Update1 string",
    )
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["quant"] == 120 and rows[1]["Source"] == "IMD"


def _fixture_doc(doc_id: str) -> dict:
    return {
        "Asset": {
            "Instrument": {
                "Indicator": [
                    {
                        "id": f"{doc_id}-1",
                        "label": "PIT-1450",
                        "score": 0.91,
                        "Document_ID": doc_id,
                        "text_associated": "Instrument",
                        "connections": [
                            {
                                "asset_key": f"{doc_id}-2",
                                "flow_direction": "out",
                                "segments": [[[0, 0], [5, 0]], [[5, 0], [5, 5]]],
                            }
                        ],
                    },
                    {
                        "id": f"{doc_id}-2",
                        "label": "F-1158-A",
                        "score": 0.84,
                        "Document_ID": doc_id,
                        "text_associated": "Tag",
                        "connections": [],
                    },
                ]
            }
        }
    }


def test_nested_json_flatten(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    for i in range(3):
        (d / f"doc{i}.json").write_text(json.dumps(_fixture_doc(f"D{i}")))
    docs = sources.read_graph_documents(spark, str(d))
    comps = sources.flatten_components(docs)
    assert comps.count() == 6
    conns = sources.explode_connections(comps)
    edges = conns.where(conns.to_component.isNotNull()).collect()
    assert len(edges) == 3
    assert all(e["n_segments"] == 2 for e in edges)
    leaves = conns.where(conns.to_component.isNull()).count()
    assert leaves == 3  # explode_outer keeps connection-less components


def test_excel_interchange_via_csv(spark, tmp_path):
    """S2 minus the binary decode: the reference's Excel sheets arrive
    as pandas frames (app.py:6062 pd.read_excel); in this container
    the engine is absent, so the CSV interchange exercises the same
    header-normalization + Arrow transfer path."""
    import pandas as pd

    p = tmp_path / "sheet.csv"
    p.write_text(" Tag Number ,Description,Area\nP-1001,Pump,A1\nV-2002,Valve,B2\n")
    df = sources.sheet_frame_to_rows(spark, pd.read_csv(p))
    assert df.columns == ["Tag Number", "Description", "Area"]
    rows = df.collect()
    assert len(rows) == 2 and rows[0]["Tag Number"] == "P-1001"


def _minimal_xlsx(path) -> None:
    """Hand-zip a one-sheet xlsx (inline strings) — no writer lib."""
    import zipfile

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/package/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/'
            'package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
            'package.relationships+xml"/><Default Extension="xml" ContentType='
            '"application/xml"/><Override PartName="/xl/workbook.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>'
        ),
        "_rels/.rels": (
            f'<?xml version="1.0"?><Relationships xmlns="{rns}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r='
            '"http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0"?><Relationships xmlns="{rns}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t> Tag Number </t></is></c></row>'
            '<row r="2"><c r="A2" t="inlineStr"><is><t>P-1001</t></is></c></row>'
            "</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, data in parts.items():
            z.writestr(name, data)


def test_excel_binary_decode_stdlib(spark, tmp_path):
    """S2 binary decode with NO optional engine: the stdlib xlsx
    reader must round-trip a hand-zipped sheet, including header
    normalization (strip)."""
    p = tmp_path / "wb.xlsx"
    _minimal_xlsx(p)
    df = sources.read_excel_rows(spark, str(p))
    assert df.columns == ["Tag Number"]
    assert df.collect()[0]["Tag Number"] == "P-1001"


def test_excel_fixture_decode_all_cell_types():
    """The committed tags_import.xlsx fixture exercises shared
    strings, inline strings, numeric cells, and a missing cell."""
    from pathlib import Path

    fixture = (
        Path(sources.__file__).resolve().parent.parent
        / "resources"
        / "tags_import.xlsx"
    )
    header, data = sources.read_xlsx(str(fixture))
    assert header == ["RowId", "TagNo", "TagType", "Sequence"]
    assert len(data) == 8
    assert data[0][0] == 1000001 and isinstance(data[0][0], int)  # numeric
    assert data[0][1] is None  # missing cell -> NULL
    assert data[1][1] == "nan"  # inline string
    assert data[0][2] == "equipment tag"  # shared string
    assert data[7] == [1000008, "PIT-3106", "line tag", "14.0"]


def test_excel_fixture_is_reproducible(tmp_path):
    """tools/make_xlsx_fixture.py must regenerate the committed bytes
    exactly (the oracle inlines the fixture's rows, so silent drift
    between the binary and the generator would break parity)."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(sources.__file__).resolve().parent.parent.parent
    fixture = root / "acuvate_spark" / "resources" / "tags_import.xlsx"
    committed = fixture.read_bytes()
    subprocess.run(
        [sys.executable, str(root / "tools" / "make_xlsx_fixture.py")],
        check=True,
        capture_output=True,
    )
    assert fixture.read_bytes() == committed


def test_schema_evolution_merge_reads_old_and_new(spark, sf_dir, tmp_path):
    """A 100 TB warehouse accretes schema versions; readers must see
    the union schema with nulls for pre-evolution files (mergeSchema),
    and the default fast path (no merge) must still read the latest
    schema without error."""
    from acuvate_spark.tables import load_table
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    v1 = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    v1.write.parquet(path)
    v2 = (
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .withColumn("ingest_batch", F.lit(2))
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "ingest_batch" in merged.columns
    assert merged.count() == v1.count() * 2
    # pre-evolution rows surface as NULL, not as an error
    assert merged.where(F.col("ingest_batch").isNull()).count() == v1.count()

