"""S2: Excel sheet → rows. The workbook is built here with stdlib
zipfile (no xlsx library exists in this environment, in the engine or
the tests), covering shared strings, inline strings, booleans, numbers,
and date-styled serials — then an ExcelImportManifest runs end-to-end
through the same instance plan as the CSV path."""

import os
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.manifest import Manifest
from csv_to_jsonld_processor_spark.sources.excel import read_sheet
from csv_to_jsonld_processor_spark.vocabulary import compile_vocabulary

_CT = """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
 <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
 <Default Extension="xml" ContentType="application/xml"/>
 <Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets>
  <sheet name="Things" sheetId="1" r:id="rId1"/>
  <sheet name="Extra" sheetId="2" r:id="rId2"/>
 </sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
 <Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
</Relationships>"""

_SST = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
 <si><t>Thing ID</t></si><si><t>Thing Name</t></si><si><t>Since</t></si><si><t>Widget</t></si>
</sst>"""

# style 0: general; style 1: built-in date numFmt 14 (mm-dd-yy)
_STYLES = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <cellXfs count="2">
  <xf numFmtId="0"/><xf numFmtId="14"/>
 </cellXfs>
</styleSheet>"""

# row1 headers (shared strings); row2: T1, Widget, date serial 45292
# (2024-01-01), count 7; row3: T2, inline str, bool, float
_SHEET1 = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1">
   <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c>
  </row>
  <row r="2">
   <c r="A2" t="str"><v>T1</v></c><c r="B2" t="s"><v>3</v></c><c r="C2" s="1"><v>45292</v></c>
  </row>
  <row r="3">
   <c r="A3" t="str"><v>T2</v></c><c r="B3" t="inlineStr"><is><t>Gizmo</t></is></c><c r="C3" s="1"><v>45657</v></c>
  </row>
 </sheetData>
</worksheet>"""

_SHEET2 = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1"><c r="A1" t="b"><v>1</v></c><c r="B1"><v>2.5</v></c><c r="C1"><v>42</v></c></row>
 </sheetData>
</worksheet>"""

MODEL_CSV = """Class Name,Class Description,Property Name,Property Description,Type,Class Range,
Thing,A thing,Thing ID,id,@id,,
Thing,A thing,Thing Name,name,string,,
Thing,A thing,Since,since,date,,
"""


def _write_xlsx(path):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WB)
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/sharedStrings.xml", _SST)
        z.writestr("xl/styles.xml", _STYLES)
        z.writestr("xl/worksheets/sheet1.xml", _SHEET1)
        z.writestr("xl/worksheets/sheet2.xml", _SHEET2)


@pytest.fixture(scope="module")
def xlsx(tmp_path_factory):
    d = tmp_path_factory.mktemp("excel")
    p = d / "things.xlsx"
    _write_xlsx(p)
    return str(p)


def test_read_sheet_cell_kinds(xlsx):
    headers, rows = read_sheet(xlsx, "Things")
    assert headers == ["Thing ID", "Thing Name", "Since"]
    # date-styled serials render yyyy-MM-dd (excel/mod.rs:38-50)
    assert rows == [["T1", "Widget", "2024-01-01"], ["T2", "Gizmo", "2024-12-31"]]
    h2, r2 = read_sheet(xlsx, "Extra")
    assert h2 == ["true", "2.5", "42"]  # bools lowercase, ints bare


def test_read_sheet_missing_sheet(xlsx):
    with pytest.raises(ValueError, match="not found in workbook"):
        read_sheet(xlsx, "Nope")


def test_excel_manifest_end_to_end(tmp_path, xlsx):
    """ExcelImportManifest instance step: sheet rows flow through the
    same positional plan, coercions included."""
    import shutil

    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
    from csv_to_jsonld_processor_spark.session import get_spark

    d = tmp_path
    (d / "model").mkdir()
    (d / "instances").mkdir()
    (d / "model" / "Model.csv").write_text(MODEL_CSV)
    shutil.copy(xlsx, d / "instances" / "things.xlsx")

    m = Manifest.from_dict(
        {
            "@type": "ExcelImportManifest",
            "@id": "model/excel-test",
            "name": "excel",
            "model": {
                "baseIRI": "http://ex.com/terms/",
                "path": "model/",
                "sequence": [
                    {
                        "path": "Model.csv",
                        "@type": ["CSVImportStep", "BasicVocabularyStep"],
                        "overrides": [
                            {"column": "Class Name", "mapTo": "$Class.ID"},
                            {"column": "Property Name", "mapTo": "$Property.ID"},
                        ],
                    }
                ],
            },
            "instances": {
                "baseIRI": "http://ex.com/ids/",
                "path": "instances/",
                "sequence": [
                    {
                        "path": "things.xlsx",
                        "sheet": "Things",
                        "@type": ["CSVImportStep", "BasicInstanceStep"],
                        "instanceType": "Thing",
                    }
                ],
            },
        }
    )
    assert m.validate() == []
    spark = get_spark("excel-test")
    vocab = compile_vocabulary(m, str(d))
    triples = {tuple(r) for r in build_instance_outputs(spark, m, vocab, str(d))[0].collect()}
    assert ("T1", "@type", "Thing", "type") in triples
    assert ("T1", "Thing Name", "Widget", "string") in triples
    assert ("T1", "Since", "2024-01-01", "string") in triples
    assert ("T2", "Since", "2024-12-31", "string") in triples
