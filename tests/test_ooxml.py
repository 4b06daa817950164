"""OOXML bytes→spans ingestion kernels vs hand-computed loader semantics.

Real .docx/.pptx/.xlsx files are assembled at test time with stdlib
zipfile (the reference's own e2e fixture generates a .docx the same way —
/root/reference/tests/conftest.py:31-39) and pushed through
sources/ooxml.load_ooxml; expected spans/full-texts are written out BY
HAND from the reference loaders' documented semantics
(docx_loader.py:21-50, pptx_loader.py:18-60, xlsx_loader.py:20-37), not
computed by the code under test.
"""

from __future__ import annotations

import hashlib
import io
import zipfile

import pandas as pd
import pytest

from docproc_spark.sources.ooxml import (
    load_ooxml,
    parse_docx_bytes,
    parse_pptx_bytes,
    parse_xlsx_bytes,
)

W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
A = "http://schemas.openxmlformats.org/drawingml/2006/main"
P = "http://schemas.openxmlformats.org/presentationml/2006/main"
S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG_R = "http://schemas.openxmlformats.org/package/2006/relationships"


def _zip(parts: dict[str, str | bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, content in parts.items():
            z.writestr(name, content)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# builders (content under test is authored here, expectations by hand)
# ---------------------------------------------------------------------------
def make_docx() -> bytes:
    doc = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document xmlns:w="{W}"><w:body>
  <w:p><w:r><w:t>Hello world</w:t></w:r></w:p>
  <w:p><w:r><w:t xml:space="preserve">  </w:t></w:r></w:p>
  <w:p><w:r><w:t>before</w:t><w:tab/><w:t>after</w:t><w:br/><w:t>line2</w:t></w:r></w:p>
  <w:tbl>
    <w:tr><w:tc><w:p><w:r><w:t> h1 </w:t></w:r></w:p></w:tc>
          <w:tc><w:p><w:r><w:t>h2</w:t></w:r></w:p></w:tc></w:tr>
    <w:tr><w:tc><w:p><w:r><w:t>a</w:t></w:r></w:p><w:p><w:r><w:t>b</w:t></w:r></w:p></w:tc>
          <w:tc><w:p></w:p></w:tc></w:tr>
  </w:tbl>
  <w:p><w:r><w:t>after table</w:t></w:r></w:p>
</w:body></w:document>"""
    return _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "word/document.xml": doc,
        }
    )


# loader semantics: paragraphs FIRST (stripped, empties dropped, tab/br
# rendered), then tables (cell paragraphs joined \n, cells stripped,
# " | " join, rows \n-joined)
DOCX_EXPECT = [
    ("text", "Hello world", None, 0),
    ("text", "before\tafter\nline2", None, 0),
    ("text", "after table", None, 0),
    ("table", "h1 | h2\na\nb | ", None, 0),
]


def _sp(txt: str) -> str:
    return (
        f'<p:sp><p:txBody>{txt}</p:txBody></p:sp>'
    )


def _apara(t: str) -> str:
    return f"<a:p><a:r><a:t>{t}</a:t></a:r></a:p>"


def make_pptx() -> bytes:
    # sldIdLst lists rId2 (→ slideB.xml) FIRST: presentation order must
    # come from the rels resolution, not part names
    pres = f"""<p:presentation xmlns:p="{P}" xmlns:r="{R}">
      <p:sldIdLst><p:sldId id="256" r:id="rId2"/><p:sldId id="257" r:id="rId1"/></p:sldIdLst>
    </p:presentation>"""
    pres_rels = f"""<Relationships xmlns="{PKG_R}">
      <Relationship Id="rId1" Target="slides/slideA.xml"/>
      <Relationship Id="rId2" Target="slides/slideB.xml"/>
    </Relationships>"""
    slide_b = f"""<p:sld xmlns:p="{P}" xmlns:a="{A}" xmlns:r="{R}"><p:cSld><p:spTree>
      {_sp(_apara("Title B") + _apara("Sub B"))}
      <p:graphicFrame><a:graphic><a:graphicData><a:tbl>
        <a:tr><a:tc><a:txBody>{_apara(" c1 ")}</a:txBody></a:tc>
              <a:tc><a:txBody>{_apara("c2")}</a:txBody></a:tc></a:tr>
        <a:tr><a:tc><a:txBody>{_apara("")}</a:txBody></a:tc>
              <a:tc><a:txBody>{_apara("")}</a:txBody></a:tc></a:tr>
      </a:tbl></a:graphicData></a:graphic></p:graphicFrame>
      <p:pic><p:blipFill><a:blip r:embed="rId7"/></p:blipFill></p:pic>
    </p:spTree></p:cSld></p:sld>"""
    slide_b_rels = f"""<Relationships xmlns="{PKG_R}">
      <Relationship Id="rId7" Target="../media/image1.png"/>
    </Relationships>"""
    slide_a = f"""<p:sld xmlns:p="{P}" xmlns:a="{A}"><p:cSld><p:spTree>
      {_sp(_apara("  "))}
      {_sp(_apara("Only A"))}
    </p:spTree></p:cSld></p:sld>"""
    return _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "ppt/presentation.xml": pres,
            "ppt/_rels/presentation.xml.rels": pres_rels,
            "ppt/slides/slideA.xml": slide_a,
            "ppt/slides/slideB.xml": slide_b,
            "ppt/slides/_rels/slideB.xml.rels": slide_b_rels,
            "ppt/media/image1.png": b"\x89PNG fake",
        }
    )


# slide order: B (page 0) then A (page 1); table second row " | " is
# non-empty so it is KEPT (pptx_loader.py:45 `if row_text:` — " | " is
# truthy); whitespace-only shape dropped. The image span's media_ref is
# the sha256 of the embedded PART BYTES (content-addressed identity,
# vision_llm.py:292-294) — every deck names its first image
# ppt/media/image1.png, so part names cannot identify media corpus-wide.
LOGO_SHA = hashlib.sha256(b"\x89PNG fake").hexdigest()

PPTX_EXPECT = [
    ("text", "Title B\nSub B", None, 0),
    ("table", "c1 | c2\n | ", None, 0),
    ("image", None, LOGO_SHA, 0),
    ("text", "Only A", None, 1),
]


def make_xlsx() -> bytes:
    wb = f"""<workbook xmlns="{S}" xmlns:r="{R}"><sheets>
      <sheet name="Data" sheetId="1" r:id="rId1"/>
      <sheet name="Empty" sheetId="2" r:id="rId2"/>
    </sheets></workbook>"""
    wb_rels = f"""<Relationships xmlns="{PKG_R}">
      <Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
      <Relationship Id="rId2" Target="worksheets/sheet2.xml"/>
    </Relationships>"""
    shared = f"""<sst xmlns="{S}"><si><t>name</t></si>
      <si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"""
    # row 2 skips column B (gap → ""), row 3 entirely absent (openpyxl
    # yields an all-None row inside the used range), row 4: float, bool,
    # cached formula value
    sheet1 = f"""<worksheet xmlns="{S}"><sheetData>
      <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>val</t></is></c>
        <c r="C1" t="s"><v>1</v></c></row>
      <row r="2"><c r="A2"><v>42</v></c><c r="C2"><v>7</v></c></row>
      <row r="4"><c r="A4"><v>2.5</v></c><c r="B4" t="b"><v>1</v></c>
        <c r="C4" t="str"><v>=SUM</v></c></row>
    </sheetData></worksheet>"""
    sheet2 = f"""<worksheet xmlns="{S}"><sheetData/></worksheet>"""
    return _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": wb_rels,
            "xl/sharedStrings.xml": shared,
            "xl/worksheets/sheet1.xml": sheet1,
            "xl/worksheets/sheet2.xml": sheet2,
        }
    )


# openpyxl values_only semantics: rows padded to used range (3 cols),
# absent row 3 → ("", "", "") → " |  | ".strip() = "|  |" … kept (the
# loader's documented quirk); ints render bare, floats with the point,
# bool as True, formula cells show the cached string
XLSX_EXPECT = [
    ("table", "name | val | rich", None, 0),
    ("table", "42 |  | 7", None, 0),
    ("table", "|  |", None, 0),
    ("table", "2.5 | True | =SUM", None, 0),
]
XLSX_SHEETS = ["Data", "Empty"]


# ---------------------------------------------------------------------------
# pure-python parser tests
# ---------------------------------------------------------------------------
def test_parse_docx_bytes():
    assert parse_docx_bytes(make_docx()) == DOCX_EXPECT


def test_parse_pptx_bytes():
    assert parse_pptx_bytes(make_pptx()) == PPTX_EXPECT


def test_parse_xlsx_bytes():
    spans, names = parse_xlsx_bytes(make_xlsx())
    assert spans == XLSX_EXPECT
    assert names == XLSX_SHEETS


def _pptx_with_image(part_name: str, blob: bytes) -> bytes:
    """Minimal 1-slide deck embedding `blob` at ppt/media/<part_name>."""
    pres = f"""<p:presentation xmlns:p="{P}" xmlns:r="{R}">
      <p:sldIdLst><p:sldId id="256" r:id="rId1"/></p:sldIdLst>
    </p:presentation>"""
    pres_rels = f"""<Relationships xmlns="{PKG_R}">
      <Relationship Id="rId1" Target="slides/slide1.xml"/>
    </Relationships>"""
    slide = f"""<p:sld xmlns:p="{P}" xmlns:a="{A}" xmlns:r="{R}"><p:cSld><p:spTree>
      <p:pic><p:blipFill><a:blip r:embed="rId9"/></p:blipFill></p:pic>
    </p:spTree></p:cSld></p:sld>"""
    slide_rels = f"""<Relationships xmlns="{PKG_R}">
      <Relationship Id="rId9" Target="../media/{part_name}"/>
    </Relationships>"""
    return _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "ppt/presentation.xml": pres,
            "ppt/_rels/presentation.xml.rels": pres_rels,
            "ppt/slides/slide1.xml": slide,
            "ppt/slides/_rels/slide1.xml.rels": slide_rels,
            f"ppt/media/{part_name}": blob,
        }
    )


def _image_refs(data: bytes) -> list[str]:
    return [m for k, _t, m, _p in parse_pptx_bytes(data) if k == "image"]


def test_media_ref_is_content_hash_across_documents():
    """Cross-document media identity (SURVEY §1.3 / vision_llm.py:292-294):
    identical image bytes under DIFFERENT part names hash equal — the
    corpus-wide dedupe key a repeated logo collapses on — while different
    images under the SAME part name stay distinct."""
    logo = b"\x89PNG the-one-logo"
    same_a = _image_refs(_pptx_with_image("image1.png", logo))
    same_b = _image_refs(_pptx_with_image("image7.png", logo))
    assert same_a == same_b == [hashlib.sha256(logo).hexdigest()]

    other = _image_refs(_pptx_with_image("image1.png", b"\x89PNG different"))
    assert other != same_a
    assert other == [hashlib.sha256(b"\x89PNG different").hexdigest()]


def test_corrupt_image_member_does_not_quarantine_document():
    """A bad-CRC (truncated/bit-rotted) image member must not take the
    document's TEXT down with it: z.read raises BadZipFile, the span
    keeps the part-name ref, everything else parses."""
    blob = b"IMGPAYLOAD-UNIQUE"
    data = _pptx_with_image("image1.png", blob)
    corrupted = data.replace(b"IMGPAYLOAD-UNIQUE", b"IMGPAYLOAD-UNIQUX")
    with pytest.raises(Exception):
        with zipfile.ZipFile(io.BytesIO(corrupted)) as z:
            z.read("ppt/media/image1.png")  # prove the member is broken
    assert _image_refs(corrupted) == ["ppt/media/image1.png"]


def test_media_ref_missing_part_falls_back_to_part_name():
    """A dangling rels target (blob absent from the package) keeps the
    span with the resolved part name — document-locally identifying."""
    data = _pptx_with_image("image1.png", b"x")
    # rebuild the zip WITHOUT the media part
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        entries = {
            n: z.read(n) for n in z.namelist() if n != "ppt/media/image1.png"
        }
    assert _image_refs(_zip(entries)) == ["ppt/media/image1.png"]


# ---------------------------------------------------------------------------
# Spark kernel e2e
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def ooxml_df(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "p1", "x1", "bad1"],
            "fmt": ["docx", "pptx", "xlsx", "docx"],
            "content": [make_docx(), make_pptx(), make_xlsx(), b"not a zip"],
        }
    )
    src = spark.createDataFrame(pdf)
    return {r["doc_id"]: r.asDict(recursive=True) for r in load_ooxml(src).collect()}


def test_load_ooxml_spans(ooxml_df):
    def tuples(row):
        return [
            (s["kind"], s["text"], s["media_ref"], s["page"], s["offset"])
            for s in row["spans"]
        ]

    assert tuples(ooxml_df["d1"]) == [
        (k, t, m, p, i) for i, (k, t, m, p) in enumerate(DOCX_EXPECT)
    ]
    assert tuples(ooxml_df["p1"]) == [
        (k, t, m, p, i) for i, (k, t, m, p) in enumerate(PPTX_EXPECT)
    ]
    assert tuples(ooxml_df["x1"]) == [
        (k, t, m, p, i) for i, (k, t, m, p) in enumerate(XLSX_EXPECT)
    ]
    assert ooxml_df["x1"]["sheet_names"] == XLSX_SHEETS
    assert ooxml_df["d1"]["n_spans"] == len(DOCX_EXPECT)


def test_load_ooxml_quarantines_bad_file(ooxml_df):
    bad = ooxml_df["bad1"]
    assert bad["spans"] is None
    assert "BadZipFile" in bad["parse_error"]
    # good docs untouched by the bad neighbour
    assert ooxml_df["d1"]["parse_error"] is None


def test_bytes_to_fulltext_e2e(spark):
    """bytes → spans → the span-side get_full_text operators, checked
    against full texts hand-derived from the loader join rules."""
    from docproc_spark.operators.fulltext import (
        full_text_docx,
        full_text_pptx,
        full_text_xlsx,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "p1", "x1"],
            "fmt": ["docx", "pptx", "xlsx"],
            "content": [make_docx(), make_pptx(), make_xlsx()],
        }
    )
    table = load_ooxml(spark.createDataFrame(pdf))

    got_docx = {
        r["doc_id"]: r["full_text"]
        for r in full_text_docx(table.filter("doc_type = 'docx'")).collect()
    }
    # docx_loader.get_full_text: stripped paragraphs, then table ROWS
    # (flattened), all joined "\n\n". Known encoding limit shared with
    # the reference's OWN load() path (docx_loader.py:34-38): the span
    # stores rows "\n"-joined, so a multi-paragraph cell ("a\nb") is
    # indistinguishable from two rows and re-splits here.
    assert got_docx["d1"] == (
        "Hello world\n\nbefore\tafter\nline2\n\nafter table"
        "\n\nh1 | h2\n\na\n\nb | "
    )

    got_pptx = {
        r["doc_id"]: r["full_text"]
        for r in full_text_pptx(table.filter("doc_type = 'pptx'")).collect()
    }
    # per slide "\n" join of texts + table rows, slides "\n\n---\n\n"
    assert got_pptx["p1"] == (
        "Title B\nSub B\nc1 | c2\n | \n\n---\n\nOnly A"
    )

    got_xlsx = {
        r["doc_id"]: r["full_text"]
        for r in full_text_xlsx(table.filter("doc_type = 'xlsx'")).collect()
    }
    # loader output carries sheet_names, so the REAL title is used
    # (xlsx_loader.get_full_text: '=== {sheet.title} ==='); the empty
    # 'Empty' sheet contributes nothing (no spans on page 1)
    assert got_xlsx["x1"] == (
        "=== Data ===\nname | val | rich\n42 |  | 7\n|  |\n2.5 | True | =SUM"
    )
    # bare span tables (no sheet_names column) keep the Sheet{n+1} fallback
    got_fallback = {
        r["doc_id"]: r["full_text"]
        for r in full_text_xlsx(
            table.filter("doc_type = 'xlsx'").drop("sheet_names")
        ).collect()
    }
    assert got_fallback["x1"].startswith("=== Sheet1 ===\n")


def test_extract_runs_on_ooxml_output(spark):
    """The ingestion output feeds the flagship pipeline unchanged (the
    n_spans routing column is present and the schema lines up)."""
    from docproc_spark.pipeline import extract

    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "x1"],
            "fmt": ["docx", "xlsx"],
            "content": [make_docx(), make_xlsx()],
        }
    )
    table = load_ooxml(spark.createDataFrame(pdf)).drop(
        "sheet_names", "parse_error"
    )
    rows = {r["doc_id"]: r for r in extract(table).collect()}
    assert set(rows) == {"d1", "x1"}
    assert rows["d1"]["markdown"]  # non-empty assembled output
    assert all(s["offset"] == i for i, s in enumerate(rows["d1"]["spans"]))


def test_xlsx_unnumbered_rows_follow_previous():
    """<row> without r= follows the PREVIOUS row (OOXML optional r);
    a len-based fallback would misplace or collide it."""
    sheet = f"""<worksheet xmlns="{S}"><sheetData>
      <row r="5"><c r="A5" t="inlineStr"><is><t>five</t></is></c></row>
      <row><c t="inlineStr"><is><t>six</t></is></c></row>
    </sheetData></worksheet>"""
    wb = f"""<workbook xmlns="{S}" xmlns:r="{R}"><sheets>
      <sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    rels = f"""<Relationships xmlns="{PKG_R}">
      <Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>"""
    data = _zip({
        "[Content_Types].xml": "<Types/>",
        "xl/workbook.xml": wb,
        "xl/_rels/workbook.xml.rels": rels,
        "xl/worksheets/sheet1.xml": sheet,
    })
    spans, _ = parse_xlsx_bytes(data)
    assert [s[1] for s in spans] == ["five", "six"]


def test_ooxml_parsers_never_hang_or_crash_on_mutations():
    """Same robustness contract as the PDF parser: corrupted zip/XML
    either parses or raises cleanly (load_ooxml turns raises into
    parse_error quarantine rows)."""
    import random
    import time

    rng = random.Random(99)
    t0 = time.time()
    for make, parse in (
        (make_docx, parse_docx_bytes),
        (make_pptx, parse_pptx_bytes),
        (make_xlsx, parse_xlsx_bytes),
    ):
        base = bytearray(make())
        for _ in range(40):
            data = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                pos = rng.randrange(len(data))
                data[pos] = rng.randrange(256)
            try:
                parse(bytes(data))
            except Exception:
                pass
    assert time.time() - t0 < 30
