"""PDF bytes→spans kernel vs hand-computed expectations.

A real 2-page PDF (page 1 Flate-compressed, page 2 plain) is assembled at
test time with stdlib zlib — the counterpart of the reference's generated
e2e fixtures — and parsed by sources/pdf. Expected spans are derived BY
HAND from the documented semantics: blocks in (page, y-top, x) order,
blank blocks dropped, table/header/footer classification from
kernels/pdf_layout, images as media spans, page texts "\n\n"-joined in
full_text_pdf with empty pages included.
"""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd
import pytest

from docproc_spark.sources.pdf import load_pdf, parse_pdf_bytes


def _pdf(objects: list[bytes]) -> bytes:
    """Minimal classic PDF: header + numbered objects + trailer (no xref
    table needed — the parser scans objects)."""
    out = [b"%PDF-1.4\n"]
    for i, body in enumerate(objects, start=1):
        out.append(b"%d 0 obj" % i + body + b"endobj\n")
    out.append(b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    return b"".join(out)


def _stream_obj(content: bytes, compress: bool) -> bytes:
    data = zlib.compress(content) if compress else content
    filt = b"/Filter /FlateDecode " if compress else b""
    return (
        b"<< " + filt + b"/Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream\n"
    )


PAGE1_CONTENT = (
    # header zone (y=780 of 792 → top 12, band 8% = 63.4): header span
    b"BT 72 780 Td (Quarterly Report) Tj ET\n"
    b"q 1 0 0 1 50 500 cm /Im1 Do Q\n"
    # body block: two lines via Td line-move, TJ array + hex string
    b"BT 72 700 Td [(Hello ) (world)] TJ 0 -14 Td <486921> Tj ET\n"
    # table block: two " | " lines via T* with TL leading
    b"BT 72 600 Td 14 TL (a | b) Tj T* (c | d) Tj ET\n"
    # blank block must be dropped
    b"BT 72 500 Td () Tj ET\n"
    # footer zone (y=20 → top 772 > 792*0.92)
    b"BT 72 20 Td (page 1 of 2) Tj ET\n"
)

PAGE2_CONTENT = (
    # escapes + octal; Tm positioning; ' operator (next line + show)
    b"BT 1 0 0 1 100 700 Tm (It\\(s\\) \\110ere) Tj 14 TL (second) ' ET\n"
)


def make_pdf() -> bytes:
    return _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /XObject << /Im1 7 0 R >> >> >>\n",
            _stream_obj(PAGE1_CONTENT, compress=True),
            b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\n",
            _stream_obj(PAGE2_CONTENT, compress=False),
            b"<< /Subtype /Image /Width 4 /Height 4 /Length 3 >>\n"
            b"stream\nabc\nendstream\n",
        ]
    )


# media_ref is the sha256 of the image XObject's stream bytes (b"abc"
# above) — content-addressed identity, not the page-scoped resource name
IM1_SHA = hashlib.sha256(b"abc").hexdigest()

# reading order on page 1 (y-top asc): header 780→12, body 700→92,
# table 600→192, image at cm ty=500→292, footer 20→772; image spans come
# after the page's text spans (reference collects images separately)
PDF_EXPECT = [
    ("header", "Quarterly Report", None, 0),
    ("text", "Hello world\nHi!", None, 0),
    ("table", "a | b\nc | d", None, 0),
    ("footer", "page 1 of 2", None, 0),
    ("image", None, IM1_SHA, 0),
    ("text", "It(s) Here\nsecond", None, 1),
]


def test_parse_pdf_bytes():
    assert parse_pdf_bytes(make_pdf()) == PDF_EXPECT


def test_parse_pdf_rejects_garbage():
    with pytest.raises(ValueError, match="no PDF objects"):
        parse_pdf_bytes(b"not a pdf at all")


def test_load_pdf_spark_e2e(spark):
    from docproc_spark.operators.fulltext import full_text_pdf

    src = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": ["p1", "bad"], "content": [make_pdf(), b"garbage"]}
        )
    )
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in load_pdf(src).collect()}
    got = [
        (s["kind"], s["text"], s["media_ref"], s["page"], s["offset"])
        for s in rows["p1"]["spans"]
    ]
    assert got == [(k, t, m, p, i) for i, (k, t, m, p) in enumerate(PDF_EXPECT)]
    assert rows["p1"]["n_spans"] == len(PDF_EXPECT)
    assert rows["bad"]["spans"] is None and "ValueError" in rows["bad"]["parse_error"]

    # full-text parity: pdf_loader.get_full_text joins page texts "\n\n";
    # fitz page.get_text() renders EVERY textual region — tables and
    # footers included — so all TEXTUAL_KINDS must survive the raw path
    ft = {r["doc_id"]: r["full_text"]
          for r in full_text_pdf(load_pdf(src).filter("parse_error IS NULL")).collect()}
    assert "Hello world\nHi!" in ft["p1"] and "It(s) Here\nsecond" in ft["p1"]
    for kind, text, _m, _p in PDF_EXPECT:
        if kind in ("table", "footer"):
            assert text in ft["p1"], f"{kind} span missing from raw full text"


def test_extract_runs_on_pdf_output(spark):
    from docproc_spark.pipeline import extract

    src = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["p1"], "content": [make_pdf()]})
    )
    table = load_pdf(src).drop("sheet_names", "parse_error")
    rows = {r["doc_id"]: r for r in extract(table).collect()}
    assert rows["p1"]["n_pages"] == 2
    assert "Hello world" in rows["p1"]["markdown"]


def test_nested_parens_in_literal_string():
    """PDF literals may contain BALANCED unescaped parens — `(see (note))`
    is ONE string (spec 7.3.4.2); the paren-depth tokenizer must not
    split it (a regex alternation silently dropped 'see (' here)."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
            _stream_obj(b"BT 72 400 Td (see (note)) Tj ET", compress=False),
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "see (note)", None, 0)]


def test_pageless_pdf_yields_empty_not_quarantine():
    pdf = _pdf([b"<< /Type /Catalog >>\n"])
    assert parse_pdf_bytes(pdf) == []


def test_mixed_page_heights_classify_per_page():
    """Header/footer bands use each page's OWN MediaBox height: y=820 is
    body on an A3-ish (1191pt) page 2 even though it is off-page for the
    letter-sized page 1."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>\n",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>\n",
            _stream_obj(b"BT 72 780 Td (top letter) Tj ET", compress=False),
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 842 1191] "
            b"/Contents 6 0 R >>\n",
            _stream_obj(b"BT 72 820 Td (body a3) Tj ET"
                        b" BT 72 1180 Td (top a3) Tj ET", compress=False),
        ]
    )
    got = parse_pdf_bytes(pdf)
    assert ("header", "top letter", None, 0) in got
    assert ("text", "body a3", None, 1) in got   # 1191-820=371 → body band
    assert ("header", "top a3", None, 1) in got  # 1191-1180=11 → header


def test_parser_never_hangs_or_crashes_on_mutations():
    """Robustness contract: arbitrary corruption of a valid PDF must
    either parse (possibly to fewer spans) or raise — never hang, never
    corrupt the process. Deterministic mutation fuzz (fixed seed) over
    BOTH fixture families: the classic file and the PDF 1.5 one
    (ObjStm header ints, CMap hex, Tf switching are all byte-fragile)."""
    import random
    import time

    bases = [
        bytearray(make_pdf()),
        bytearray(make_cmap_pdf()),
        bytearray(make_filters_pdf()),  # LZW/A85/predictor/Differences
    ]
    rng = random.Random(1234)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for i in range(150):
        base = bases[i % len(bases)]
        data = bytearray(base)
        for _ in range(rng.randint(1, 12)):
            op = rng.randint(0, 2)
            pos = rng.randrange(len(data))
            if op == 0:
                data[pos] = rng.randrange(256)
            elif op == 1:
                del data[pos : pos + rng.randint(1, 40)]
            else:
                data[pos:pos] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 20)))
        try:
            parse_pdf_bytes(bytes(data))
            outcomes["ok"] += 1
        except Exception:
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 150
    assert time.time() - t0 < 30, "mutation fuzz too slow — parser may scale badly on garbage"


# ---------------------------------------------------------------------------
# PDF 1.5+ reality: object streams + ToUnicode CMaps
# ---------------------------------------------------------------------------
def _objstm_obj(members: list[tuple[int, bytes]], compress: bool = True) -> bytes:
    """An /ObjStm object body holding `members` (ISO 32000 §7.5.7):
    header of `objnum offset` int pairs, then the concatenated member
    bodies; offsets relative to /First."""
    offs, chunks, pos = [], [], 0
    for num, body in members:
        offs.append(f"{num} {pos}")
        chunks.append(body)
        pos += len(body)
    head = (" ".join(offs) + "\n").encode("ascii")
    stream = head + b"".join(chunks)
    data = zlib.compress(stream) if compress else stream
    filt = b"/Filter /FlateDecode " if compress else b""
    return (
        b"<< /Type /ObjStm /N %d /First %d " % (len(members), len(head))
        + filt
        + b"/Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream\n"
    )


def test_object_stream_body_parses():
    """PDF 1.5+ files keep the catalog / pages tree / page dicts inside a
    compressed /ObjStm (no `N 0 obj` wrappers, /XRef cross-reference) —
    the modern-writer default. Such a file must parse to spans, not
    quarantine or yield an empty document."""
    members = [
        (10, b"<< /Type /Catalog /Pages 11 0 R >>"),
        (11, b"<< /Type /Pages /Kids [12 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
        (12, b"<< /Type /Page /Parent 11 0 R /Contents 2 0 R >>"),
    ]
    pdf = _pdf(
        [
            _objstm_obj(members),
            _stream_obj(b"BT 72 400 Td (compressed body) Tj ET", compress=True),
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "compressed body", None, 0)]


def test_object_stream_members_do_not_override_top_level():
    """Incremental updates append replacement objects uncompressed at the
    tail; the direct scan finds those, and an ObjStm member with the same
    number must NOT shadow them."""
    members = [(12, b"<< /Type /Page /Parent 11 0 R /Contents 2 0 R >>")]
    pdf = _pdf(
        [
            _objstm_obj(members),
            _stream_obj(b"BT 72 400 Td (old) Tj ET", compress=False),
            # top-level redefinition of object 12's content target
        ]
    )
    # direct object 2 (the stream) wins for number 2; member 12 fills in
    from docproc_spark.sources.pdf import _objects

    objs = _objects(pdf)
    assert 12 in objs and b"/Type /Page" in objs[12]
    assert b"stream" in objs[2]


_CMAP = b"""/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
3 beginbfchar
<0001> <0048>
<0002> <00E9>
<0003> <6F22>
endbfchar
1 beginbfrange
<0010> <0012> <0061>
endbfrange
endcmap
end
"""


def make_cmap_pdf() -> bytes:
    """A composite-font page: 2-byte codes shown via <hex> Tj, decoded
    through the font's /ToUnicode CMap (bfchar + incrementing bfrange)."""
    return _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>\n",
            _stream_obj(
                b"BT /F1 12 Tf 72 700 Td <000100020003> Tj "
                b"0 -14 Td <001000110012> Tj ET",
                compress=False,
            ),
            b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>\n",
            _stream_obj(_CMAP, compress=True),
        ]
    )


def test_tounicode_cmap_decodes_cid_text():
    assert parse_pdf_bytes(make_cmap_pdf()) == [
        ("text", "Hé漢\nabc", None, 0)
    ]


def test_cmap_scope_is_per_font():
    """Latin-1 decoding must return the moment a CMap-less font is
    selected (Tf switches the decoder, not the document)."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >>\n",
            _stream_obj(
                b"BT /F1 12 Tf 72 700 Td <00010002> Tj "
                b"/F2 12 Tf ( plain) Tj ET",
                compress=False,
            ),
            b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>\n",
            _stream_obj(_CMAP, compress=False),
            b"<< /Type /Font /Subtype /TrueType >>\n",
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "Hé plain", None, 0)]


def test_unmapped_cid_yields_replacement_char():
    pdf = make_cmap_pdf().replace(b"<000100020003>", b"<0001BEEF>")
    spans = parse_pdf_bytes(pdf)
    assert spans[0][1].startswith("H�")


def test_cyclic_pages_tree_terminates():
    """A /Pages node whose /Kids points back at itself (corrupt or
    malicious) must terminate quickly — visited-set guard, no
    RecursionError burn."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
            _stream_obj(b"BT 72 400 Td (survives cycle) Tj ET", compress=False),
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "survives cycle", None, 0)]


def test_indirect_resources_dict():
    """/Resources given as an indirect reference (common in real files)
    still resolves fonts and image XObjects."""
    img_sha = hashlib.sha256(b"imgbytes").hexdigest()
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources 5 0 R >>\n",
            _stream_obj(
                b"q 1 0 0 1 50 500 cm /Im9 Do Q\n"
                b"BT 72 400 Td (with indirect res) Tj ET",
                compress=False,
            ),
            b"<< /XObject << /Im9 6 0 R >> >>\n",
            b"<< /Subtype /Image /Width 2 /Height 2 /Length 8 >>\n"
            b"stream\nimgbytes\nendstream\n",
        ]
    )
    assert parse_pdf_bytes(pdf) == [
        ("text", "with indirect res", None, 0),
        ("image", None, img_sha, 0),
    ]


def test_bfrange_non_bmp_and_surrogate_clamp():
    """The incrementing bfrange form must decode the destination as full
    UTF-16BE (a surrogate PAIR is one code point: <D83DDE00> IS U+1F600)
    and clamp steps that land in the bare-surrogate range D800-DFFF —
    a lone surrogate in a Python string crashes Arrow serialization
    OUTSIDE the per-document quarantine, killing the whole task."""
    from docproc_spark.sources.pdf import _parse_tounicode

    emoji = (
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange <0001> <0003> <D83DDE00> endbfrange"
    )
    _, m = _parse_tounicode(emoji)
    assert [m[1], m[2], m[3]] == ["\U0001F600", "\U0001F601", "\U0001F602"]

    crossing = (
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange <0001> <0005> <D7FD> endbfrange"
    )
    _, m = _parse_tounicode(crossing)
    assert m[1] == "퟽" and m[2] == "퟾" and m[3] == "퟿"
    assert m[4] == "�" and m[5] == "�"  # would be D800/D801
    for v in m.values():
        v.encode("utf-8")  # every mapped value must be Arrow-safe


def test_objstm_appended_update_overrides_base_object():
    """Collision rule: LATEST file position wins — an appended-update
    ObjStm (Acrobat 'save' writes replacements into a new object stream
    at the tail) must override the base file's top-level copy, while a
    replacement appended AFTER an ObjStm overrides the member (the
    existing member-vs-top-level test covers that direction)."""
    # base: page 3 shows (old); tail ObjStm redefines 3 to show obj 6
    objstm = _objstm_obj(
        [(3, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")]
    )
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
            _stream_obj(b"BT 72 400 Td (old body) Tj ET", compress=False),
            objstm,
            _stream_obj(b"BT 72 400 Td (updated body) Tj ET", compress=False),
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "updated body", None, 0)]


def test_indirect_font_dict_and_nested_entries():
    """/Font given as an indirect reference (Ghostscript/TeX output), and
    an inline font dict whose first entry is a NESTED dict: the balanced
    extractor must not truncate at the nested >> and lose later fonts."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources 7 0 R >>\n",
            _stream_obj(b"BT /F1 12 Tf 72 700 Td <00010002> Tj ET",
                        compress=False),
            b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>\n",
            _stream_obj(_CMAP, compress=False),
            # indirect /Resources whose /Font dict has a nested inline
            # entry BEFORE the one that matters
            b"<< /Font << /F0 << /Subtype /TrueType >> /F1 5 0 R >> >>\n",
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "Hé", None, 0)]


def test_hyphenated_font_name_resets_decoder():
    """`/TT1-Bold` is ONE name token (§7.3.5): the old tokenizer split it
    into /TT1 + Bold, so Tf never fired and the PREVIOUS font's CMap
    decoded the next string as 2-byte garbage."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>\n",
            _stream_obj(
                b"BT /F1 12 Tf 72 700 Td <00010002> Tj "
                b"/TT1-Bold 12 Tf ( plain) Tj ET",
                compress=False,
            ),
            b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>\n",
            _stream_obj(_CMAP, compress=False),
        ]
    )
    assert parse_pdf_bytes(pdf) == [("text", "Hé plain", None, 0)]


class TestInlineImages:
    """BI…ID…EI inline images: same spans, same sha256-of-decoded-payload
    identity as XObject images (docstring 'inline images' subset)."""

    def _one_page(self, content: bytes) -> bytes:
        return _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
                _stream_obj(content, compress=False),
            ]
        )

    def test_raw_inline_image_span_and_position(self, *_):
        content = (
            b"BT 72 700 Td (Before the image, long enough text) Tj ET\n"
            b"q 1 0 0 1 50 500 cm BI /W 2 /H 2 /BPC 8 ID \xde\xad\xbe\xef EI Q\n"
            b"BT 72 300 Td (After the image comes more text) Tj ET\n"
        )
        spans = parse_pdf_bytes(self._one_page(content))
        imgs = [s for s in spans if s[0] == "image"]
        assert imgs == [
            ("image", None, hashlib.sha256(b"\xde\xad\xbe\xef").hexdigest(), 0)
        ]
        texts = [s[1] for s in spans if s[0] == "text"]
        assert any("Before the image" in t for t in texts)
        assert any("After the image" in t for t in texts)

    def test_flate_inline_decodes_to_xobject_identity(self, *_):
        # the SAME payload as an inline Flate image and as make_pdf()'s
        # /Im1 XObject must yield the SAME media_ref (cross-form identity)
        payload = zlib.compress(b"abc")
        content = (
            b"q 1 0 0 1 10 600 cm BI /F /Fl ID " + payload + b" EI Q\n"
        )
        spans = parse_pdf_bytes(self._one_page(content))
        assert spans == [("image", None, IM1_SHA, 0)]

    def test_length_key_spans_embedded_ei_bytes(self, *_):
        payload = b"xx EI yy"  # whitespace-EI-whitespace INSIDE the data
        content = (
            b"BI /W 1 /H 1 /L %d ID " % len(payload) + payload + b" EI\n"
            b"BT 72 700 Td (trailing text survives intact here) Tj ET\n"
        )
        spans = parse_pdf_bytes(self._one_page(content))
        assert ("image", None, hashlib.sha256(payload).hexdigest(), 0) in spans
        assert any(
            s[0] == "text" and "trailing text survives" in s[1] for s in spans
        )

    def test_unterminated_bi_loses_no_text(self, *_):
        content = (
            b"BT 72 700 Td (kept paragraph before the bad image) Tj ET\n"
            b"BI /W 1 /H 1 ID \x01\x02"  # EOF: no EI ever
        )
        spans = parse_pdf_bytes(self._one_page(content))
        assert [s for s in spans if s[0] == "image"] == []
        assert any(
            s[0] in ("text", "header") and "kept paragraph" in (s[1] or "")
            for s in spans
        )

    def test_multiple_inline_images_keep_cm_order(self, *_):
        content = (
            b"q 1 0 0 1 0 600 cm BI ID AA EI Q\n"
            b"q 1 0 0 1 0 200 cm BI ID BB EI Q\n"
        )
        spans = parse_pdf_bytes(self._one_page(content))
        assert [s[2] for s in spans] == [
            hashlib.sha256(b"AA").hexdigest(),
            hashlib.sha256(b"BB").hexdigest(),
        ]


class TestFormXObjects:
    """/Subtype /Form XObjects splice their streams at the Do site — the
    running-header/watermark text real PDFs put in forms must extract."""

    def _pdf_with_form(self) -> bytes:
        # obj5 = form with its own /Resources (image Fm_img = obj6);
        # page invokes /Stamp Do, form invokes its local /Fm_img Do
        form_content = (
            b"BT 72 780 Td (CONFIDENTIAL watermark header) Tj ET\n"
            b"q 1 0 0 1 10 400 cm /Fm_img Do Q\n"
        )
        form = (
            b"<< /Subtype /Form /Length %d "
            b"/Resources << /XObject << /Fm_img 6 0 R >> >> >>\nstream\n"
            % len(form_content) + form_content + b"\nendstream\n"
        )
        page_content = (
            b"/Stamp Do\n"
            b"BT 72 700 Td (Body paragraph under the stamped header) Tj ET\n"
        )
        return _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/Resources << /XObject << /Stamp 5 0 R >> >> >>\n",
                _stream_obj(page_content, compress=False),
                form,
                b"<< /Subtype /Image /Width 2 /Height 2 /Length 4 >>\n"
                b"stream\nFORM\nendstream\n",
            ]
        )

    def test_form_text_and_local_image_extract(self, *_):
        spans = parse_pdf_bytes(self._pdf_with_form())
        texts = [s[1] for s in spans if s[0] in ("text", "header")]
        assert any("CONFIDENTIAL watermark" in t for t in texts)
        assert any("Body paragraph" in t for t in texts)
        imgs = [s[2] for s in spans if s[0] == "image"]
        assert imgs == [hashlib.sha256(b"FORM").hexdigest()]

    def test_cyclic_forms_terminate(self, *_):
        # form A invokes B, B invokes A — visited-set must terminate
        fa = b"BT 72 700 Td (from A with enough text) Tj ET /FB Do\n"
        fb = b"/FA Do\nBT 72 600 Td (from B with enough text) Tj ET\n"
        pdf = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/Resources << /XObject << /FA 5 0 R /FB 6 0 R >> >> >>\n",
                _stream_obj(b"/FA Do\n", compress=False),
                b"<< /Subtype /Form /Length %d /Resources << /XObject "
                b"<< /FB 6 0 R >> >> >>\nstream\n" % len(fa)
                + fa + b"\nendstream\n",
                b"<< /Subtype /Form /Length %d /Resources << /XObject "
                b"<< /FA 5 0 R >> >> >>\nstream\n" % len(fb)
                + fb + b"\nendstream\n",
            ]
        )
        spans = parse_pdf_bytes(pdf)  # must not hang / recurse forever
        texts = " ".join(s[1] or "" for s in spans)
        assert "from A" in texts and "from B" in texts


# -------------------------------------------------------------- filters


from docproc_spark.sources.pdf import _decode_stream  # noqa: E402


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Spec-faithful LZWDecode encoder (test-local): clear, 9→12-bit
    growth with EarlyChange, EOD. Width switches as entry 2^w - early is
    ADDED (next_code reaches 2^w + 1 - early) — the boundary the
    pdfminer/pdf.js decoder convention implies; the decoder must
    round-trip it."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        if next_code >= (1 << width) + 1 - early and width < 12:
            width += 1
        if next_code > 4095:  # table full: clear, like real writers
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _png_rows(data: bytes, rowlen: int, tag: int) -> bytes:
    """Apply one PNG row filter (tag per row) so _unpredict must undo it."""
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), rowlen):
        row = bytearray(data[r : r + rowlen].ljust(rowlen, b"\0"))
        enc = bytearray(row)
        for j in range(rowlen):
            a = row[j - 1] if j >= 1 else 0
            b = prev[j]
            c = prev[j - 1] if j >= 1 else 0
            if tag == 1:
                enc[j] = (row[j] - a) & 0xFF
            elif tag == 2:
                enc[j] = (row[j] - b) & 0xFF
            elif tag == 3:
                enc[j] = (row[j] - ((a + b) >> 1)) & 0xFF
            elif tag == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc[j] = (row[j] - pr) & 0xFF
        out.append(tag)
        out += enc
        prev = row
    return bytes(out)


class TestStreamFilters:
    def test_ascii_hex_then_flate_chain(self):
        plain = b"BT 72 700 Td (chained) Tj ET"
        raw = zlib.compress(plain).hex().upper().encode() + b">"
        body = b"<< /Filter [/ASCIIHexDecode /FlateDecode] >>"
        assert _decode_stream(body, raw) == plain

    def test_ascii85_with_terminator_and_z_shorthand(self):
        import base64

        plain = b"\0\0\0\0text after a zero group \0\0\0\0!"
        enc = base64.a85encode(plain)
        # PDF writers use the z shorthand for zero groups + ~> EOD
        enc = enc.replace(b"!!!!!", b"z") + b"~>"
        assert _decode_stream(b"<< /Filter /ASCII85Decode >>", enc) == plain

    def test_run_length_decode(self):
        # 3 literal bytes "abc", then "x" repeated 5 (257-252), then EOD
        raw = b"\x02abc" + b"\xfcx" + b"\x80"
        body = b"<< /Filter /RunLengthDecode >>"
        assert _decode_stream(body, raw) == b"abcxxxxx"

    def test_lzw_round_trip_crosses_width_boundaries(self):
        import random

        rnd = random.Random(7)
        data = bytes(rnd.randrange(256) for _ in range(6000))
        enc = _lzw_encode(data)
        assert _decode_stream(b"<< /Filter /LZWDecode >>", enc) == data

    def test_lzw_early_change_zero(self):
        import random

        rnd = random.Random(11)
        data = bytes(rnd.randrange(64) for _ in range(4000))
        enc = _lzw_encode(data, early=0)
        body = b"<< /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >> >>"
        assert _decode_stream(body, enc) == data

    def test_flate_png_predictors_round_trip(self):
        cols = 16
        payload = bytes((i * 37 + 11) % 256 for i in range(cols * 9))
        for tag in (0, 1, 2, 3, 4):
            filtered = _png_rows(payload, cols, tag)
            body = (
                b"<< /Filter /FlateDecode /DecodeParms "
                b"<< /Predictor 12 /Columns 16 >> >>"
            )
            got = _decode_stream(body, zlib.compress(filtered))
            assert got == payload, f"PNG tag {tag}"

    def test_tiff_predictor_2(self):
        payload = b"\x10\x20\x30\x40" * 4
        rowlen = 4
        diff = bytearray(payload)
        for r in range(0, len(diff), rowlen):
            for i in range(r + rowlen - 1, r, -1):
                diff[i] = (diff[i] - diff[i - 1]) & 0xFF
        body = (
            b"<< /Filter /FlateDecode /DecodeParms "
            b"<< /Predictor 2 /Columns 4 >> >>"
        )
        assert _decode_stream(body, zlib.compress(bytes(diff))) == payload

    def test_terminal_dct_stops_chain_after_flate(self):
        jpeg = b"\xff\xd8\xff\xe0fakejpegbytes\xff\xd9"
        body = b"<< /Filter [/FlateDecode /DCTDecode] >>"
        assert _decode_stream(body, zlib.compress(jpeg)) == jpeg

    def test_unknown_filter_stops_chain_tolerantly(self):
        raw = b"opaque-crypt-bytes"
        assert _decode_stream(b"<< /Filter /Crypt >>", raw) == raw

    def test_corrupt_known_filter_returns_none(self):
        assert _decode_stream(b"<< /Filter /FlateDecode >>", b"not zlib") is None

    def test_decodeparms_array_aligns_with_filter_array(self):
        cols = 8
        payload = bytes(range(cols * 4))
        filtered = _png_rows(payload, cols, 2)
        raw = zlib.compress(filtered).hex().encode() + b">"
        body = (
            b"<< /Filter [/ASCIIHexDecode /FlateDecode] /DecodeParms "
            b"[null << /Predictor 12 /Columns 8 >>] >>"
        )
        assert _decode_stream(body, raw) == payload

    def test_lzw_content_stream_e2e(self):
        content = b"BT 72 700 Td (lzw page text) Tj ET\n"
        enc = _lzw_encode(content)
        pdf = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
                b"<< /Filter /LZWDecode /Length %d >>\nstream\n" % len(enc)
                + enc
                + b"\nendstream\n",
            ]
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["lzw page text"]

    def test_ascii85_flate_chain_content_stream_e2e(self):
        import base64

        content = b"BT 72 700 Td (a85 chained text) Tj ET\n"
        enc = base64.a85encode(zlib.compress(content)) + b"~>"
        pdf = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
                b"<< /Filter [/ASCII85Decode /FlateDecode] /Length %d >>"
                b"\nstream\n" % len(enc)
                + enc
                + b"\nendstream\n",
            ]
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["a85 chained text"]

    def test_inline_image_ascii_hex_identity(self):
        blob = b"inlinepixels123"
        hexpay = blob.hex().encode() + b">"
        content = (
            b"BT 72 700 Td (before) Tj ET\n"
            b"q 1 0 0 1 50 500 cm BI /W 2 /H 2 /F /AHx ID "
            + hexpay
            + b" EI Q\n"
        )
        pdf = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
                _stream_obj(content, compress=False),
            ]
        )
        spans = parse_pdf_bytes(pdf)
        imgs = [s for s in spans if s[0] == "image"]
        assert len(imgs) == 1
        assert imgs[0][2] == hashlib.sha256(blob).hexdigest()


class TestTjKerningAndEncryption:
    def _one_page(self, content: bytes) -> bytes:
        return _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
                _stream_obj(content, compress=False),
            ]
        )

    def test_tj_kerning_gap_becomes_word_space(self):
        # justified text: spaces encoded as pen movement, not glyphs
        pdf = self._one_page(
            b"BT 72 700 Td [(Hello) -250 (world) -320 (again)] TJ ET\n"
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["Hello world again"]

    def test_tj_small_kern_is_not_a_space(self):
        # glyph-pair kerning (AV, To, …) is tens of units, not hundreds
        pdf = self._one_page(b"BT 72 700 Td [(A) -80 (V) 40 (a)] TJ ET\n")
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["AVa"]

    def test_tj_kern_never_doubles_an_explicit_space(self):
        pdf = self._one_page(b"BT 72 700 Td [(one ) -250 (two)] TJ ET\n")
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["one two"]

    def test_leading_and_trailing_kerns_add_no_space(self):
        pdf = self._one_page(b"BT 72 700 Td [-300 (solo) -300] TJ ET\n")
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["solo"]

    def test_encrypted_pdf_quarantines_with_clear_error(self):
        body = make_pdf().replace(
            b"trailer\n<< /Root 1 0 R >>",
            b"trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>",
        )
        with pytest.raises(ValueError, match="encrypted"):
            parse_pdf_bytes(body)


class TestFontEncodings:
    """Simple-font /Encoding decoding: WinAnsi/MacRoman base encodings
    and /Differences glyph-name remaps (TeX and office writers emit
    these constantly; Latin-1 decodes their bytes to the wrong chars)."""

    def _pdf_with_font(self, font_obj: bytes, content: bytes) -> bytes:
        return _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/Resources << /Font << /F1 5 0 R >> >> >>\n",
                _stream_obj(content, compress=False),
                font_obj,
            ]
        )

    def test_winansi_smart_quotes_decode(self):
        # cp1252 0x93/0x94 are curly quotes; Latin-1 calls them controls
        pdf = self._pdf_with_font(
            b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial "
            b"/Encoding /WinAnsiEncoding >>\n",
            b"BT /F1 12 Tf 72 700 Td (\x93quoted\x94 \x96 dash) Tj ET\n",
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["“quoted” – dash"]

    def test_differences_remap_glyph_names(self):
        pdf = self._pdf_with_font(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding << /BaseEncoding /WinAnsiEncoding "
            b"/Differences [ 65 /eacute /Euro 200 /uni0142 ] >> >>\n",
            b"BT /F1 12 Tf 72 700 Td (AB plain \xc8) Tj ET\n",
        )
        spans = parse_pdf_bytes(pdf)
        # A(65)→é, B(66)→€, 0xC8(200)→ł; the rest stays WinAnsi
        assert [s[1] for s in spans] == ["é€ plain ł"]

    def test_differences_without_base_defaults_latin1(self):
        pdf = self._pdf_with_font(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding << /Differences [ 88 /germandbls ] >> >>\n",
            b"BT /F1 12 Tf 72 700 Td (X normal \xe9) Tj ET\n",
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["ß normal é"]

    def test_macroman_base_encoding(self):
        # mac_roman 0xA5 is a bullet (Latin-1: yen sign)
        pdf = self._pdf_with_font(
            b"<< /Type /Font /Subtype /TrueType /BaseFont /Times "
            b"/Encoding /MacRomanEncoding >>\n",
            b"BT /F1 12 Tf 72 700 Td (\xa5 item) Tj ET\n",
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["• item"]

    def test_indirect_encoding_dict(self):
        pdf = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/Resources << /Font << /F1 5 0 R >> >> >>\n",
                _stream_obj(
                    b"BT /F1 12 Tf 72 700 Td (Q) Tj ET\n", compress=False
                ),
                b"<< /Type /Font /Subtype /Type1 /Encoding 6 0 R >>\n",
                b"<< /Differences [ 81 /questiondown ] >>\n",
            ]
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["¿"]

    def test_unknown_glyph_name_becomes_replacement(self):
        pdf = self._pdf_with_font(
            b"<< /Type /Font /Subtype /Type1 "
            b"/Encoding << /Differences [ 65 /g12345weird ] >> >>\n",
            b"BT /F1 12 Tf 72 700 Td (A ok) Tj ET\n",
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["� ok"]

    def test_tounicode_wins_over_encoding(self):
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n"
            b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfchar <41> <0077> endbfchar\nend\n"
        )
        pdf = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/Resources << /Font << /F1 5 0 R >> >> >>\n",
                _stream_obj(
                    b"BT /F1 12 Tf 72 700 Td (A) Tj ET\n", compress=False
                ),
                b"<< /Type /Font /Encoding /WinAnsiEncoding "
                b"/ToUnicode 6 0 R >>\n",
                _stream_obj(cmap, compress=False),
            ]
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["w"]

    def test_identity_h_name_keeps_latin1_fallback(self):
        pdf = self._pdf_with_font(
            b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H >>\n",
            b"BT /F1 12 Tf 72 700 Td (plain bytes) Tj ET\n",
        )
        spans = parse_pdf_bytes(pdf)
        assert [s[1] for s in spans] == ["plain bytes"]


def make_filters_pdf() -> bytes:
    """Filter-heavy fixture for the mutation fuzz: LZW content stream,
    ASCII85+Flate chained stream, Flate+PNG-predictor stream feeding an
    ObjStm-free page, an AHx inline image, and a /Differences font —
    every new decode path is byte-fragile and must never hang."""
    import base64

    lzw = _lzw_encode(b"BT /F1 12 Tf 72 700 Td [(fuzz) -250 (me)] TJ ET\n"
                      b"q 1 0 0 1 50 500 cm BI /W 1 /H 1 /F /AHx ID "
                      b"61626364> EI Q\n")
    a85 = base64.a85encode(zlib.compress(b"BT 72 600 Td (page two) Tj ET\n")) + b"~>"
    return _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 7 0 R >> >> >>\n",
            b"<< /Filter /LZWDecode /Length %d >>\nstream\n" % len(lzw)
            + lzw + b"\nendstream\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\n",
            b"<< /Filter [/ASCII85Decode /FlateDecode] /Length %d >>"
            b"\nstream\n" % len(a85) + a85 + b"\nendstream\n",
            b"<< /Type /Font /Subtype /Type1 /Encoding << /BaseEncoding "
            b"/WinAnsiEncoding /Differences [ 102 /eacute ] >> >>\n",
        ]
    )


def test_filters_fixture_parses_before_fuzzing():
    spans = parse_pdf_bytes(make_filters_pdf())
    texts = [s[1] for s in spans if s[0] != "image"]
    # the Differences font maps code 102 ('f') → é, and the TJ kern is a space
    assert texts == ["éuzz me", "page two"]


def test_lzw_iso_spec_example_vector():
    """ISO 32000 §7.4.4.2 worked example — an INDEPENDENT reference so a
    matched encoder/decoder off-by-one (the width-switch boundary) cannot
    hide behind round-trip tests. Input bytes are the spec's decimal
    45 45 45 45 45 65 45 45 45 66; encoded stream 80 0B 60 50 22 0C 0C
    85 01."""
    enc = bytes.fromhex("800B6050220C0C8501")
    want = bytes(bytearray([45, 45, 45, 45, 45, 65, 45, 45, 45, 66]))
    assert _decode_stream(b"<< /Filter /LZWDecode >>", enc) == want


def test_encrypt_mention_in_content_is_not_encryption():
    """A document ABOUT PDF internals mentioning '/Encrypt 5 0 R' in a
    content-stream string must parse — only the trailer / XRef-stream
    dict names real encryption."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
            _stream_obj(
                b"BT 72 700 Td (see /Encrypt 5 0 R in the trailer) Tj ET\n",
                compress=False,
            ),
        ]
    )
    spans = parse_pdf_bytes(pdf)
    assert [s[1] for s in spans] == ["see /Encrypt 5 0 R in the trailer"]


def test_encrypt_in_xref_stream_dict_quarantines():
    """Modern encrypted PDFs carry /Encrypt in the /XRef stream dict —
    no 'trailer' keyword exists in such files."""
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [] /Count 0 >>\n",
            b"<< /Type /XRef /Encrypt 9 0 R /Length 1 >>\n"
            b"stream\nx\nendstream\n",
        ]
    ).replace(b"trailer\n<< /Root 1 0 R >>\n", b"")
    with pytest.raises(ValueError, match="encrypted"):
        parse_pdf_bytes(pdf)


def test_filter_bytes_inside_payload_do_not_trigger_decode():
    """A filterless stream whose PAYLOAD contains '/Filter /FlateDecode'
    bytes must not be spuriously inflated (and quarantined to b'' when
    inflation fails) — filters parse from the dict part only."""
    content = b"BT 72 700 Td (mentions /Filter /FlateDecode inline) Tj ET\n"
    pdf = _pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>\n",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\n",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
            _stream_obj(content, compress=False),
        ]
    )
    spans = parse_pdf_bytes(pdf)
    assert [s[1] for s in spans] == ["mentions /Filter /FlateDecode inline"]


# --------------------------------------------------------------- encryption

import re as _re

from docproc_spark.kernels import pdfcrypt as _pc
from docproc_spark.sources.pdf import _STREAM_RE as _SRE

_OBJ = _re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", _re.S)


def _encrypt_fixture(
    data: bytes, *, r: int, v: int, length_bits: int = 128,
    cfm: bytes | None = None, stmf_identity: bool = False,
) -> bytes:
    """Encrypt a plaintext fixture with the standard security handler
    (owner password "owner", EMPTY user password): every stream payload
    is RC4'd or AES-CBC'd under its per-object key, an /Encrypt object
    is appended, and the trailer gains /Encrypt + /ID. The forward
    direction runs through the SAME pdfcrypt primitives the reader
    uses — test_pdfcrypt pins those to public vectors so this cannot be
    self-consistently wrong."""
    id0 = hashlib.md5(data).digest()
    next_num = max(int(m.group(1)) for m in _OBJ.finditer(data)) + 1
    p = -44
    if r <= 4:
        o = _pc.compute_o_entry(b"owner", b"", r, length_bits)
        key = _pc._r234_file_key(b"", o, p, id0, r, length_bits, True)
        u = _pc.compute_u_entry(key, id0, r)
        aes = cfm == b"AESV2"
        extra = b""
        if v == 4:
            stmf = b"Identity" if stmf_identity else b"StdCF"
            extra = (b" /CF << /StdCF << /CFM /" + (cfm or b"V2")
                     + b" /Length 16 >> >> /StmF /" + stmf + b" /StrF /StdCF")
        enc_obj = (
            b"<< /Filter /Standard /V %d /R %d /Length %d /P %d /O <"
            % (v, r, length_bits, p)
            + o.hex().encode() + b"> /U <" + u.hex().encode() + b">"
            + extra + b" >>\n"
        )
    else:
        key = hashlib.sha256(b"fixture-file-key").digest()
        vs, ks = b"vsalt678", b"ksalt678"
        if r == 6:
            u = _pc._hash_2b(b"", vs, b"") + vs + ks
            inter = _pc._hash_2b(b"", ks, b"")
        else:
            u = hashlib.sha256(vs).digest() + vs + ks
            inter = hashlib.sha256(ks).digest()
        ue = _pc.aes_cbc_encrypt_nopad(inter, b"\x00" * 16, key)
        aes = True
        enc_obj = (
            b"<< /Filter /Standard /V 5 /R %d /Length 256 /P -4 /O <" % r
            + (b"\x11" * 48).hex().encode() + b"> /U <" + u.hex().encode()
            + b"> /OE <" + (b"\x22" * 32).hex().encode() + b"> /UE <"
            + ue.hex().encode()
            + b"> /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF >>\n"
        )
    pieces, last = [], 0
    if not stmf_identity:
        for m in _OBJ.finditer(data):
            num, body = int(m.group(1)), m.group(2)
            sm = _SRE.search(body)
            if not sm:
                continue
            okey = key if v >= 5 else _pc.object_key(key, num, 0, aes=aes)
            if aes:
                iv = hashlib.md5(b"iv%d" % num).digest()
                ct = _pc.aes_cbc_encrypt(okey, iv, sm.group(1))
            else:
                ct = _pc.rc4(okey, sm.group(1))
            # the regex scanner must still delimit objects/streams: with
            # these fixed keys no ciphertext collides with the markers
            for tok in (b"endobj", b"endstream", b" 0 obj"):
                assert tok not in ct, "fixture ciphertext hit a marker"
            pieces.append(data[last : m.start(2) + sm.start(1)])
            pieces.append(ct)
            last = m.start(2) + sm.end(1)
    pieces.append(data[last:])
    out = b"".join(pieces)
    out += b"%d 0 obj" % next_num + enc_obj + b"endobj\n"
    h = id0.hex().encode()
    return out.replace(
        b"trailer\n<< /Root 1 0 R >>",
        b"trailer\n<< /Root 1 0 R /Encrypt %d 0 R /ID [<" % next_num
        + h + b"> <" + h + b">] >>",
    )


class TestEncryptedPdfs:
    """Owner-password-only encryption (empty user password) must parse
    to spans IDENTICAL to the plaintext twin — the reference via fitz
    opens such files transparently (pdf_loader.py:17)."""

    @pytest.mark.parametrize(
        "r,v,bits,cfm",
        [
            (2, 1, 40, None),
            (3, 2, 128, None),
            (4, 4, 128, b"V2"),
            (4, 4, 128, b"AESV2"),
            (5, 5, 256, None),
            (6, 5, 256, None),
        ],
        ids=["r2-rc4-40", "r3-rc4-128", "r4-rc4", "r4-aes128",
             "r5-aes256", "r6-aes256"],
    )
    def test_empty_user_password_spans_equal_plaintext(self, r, v, bits, cfm):
        plain = make_pdf()
        enc = _encrypt_fixture(plain, r=r, v=v, length_bits=bits, cfm=cfm)
        assert enc != plain
        assert parse_pdf_bytes(enc) == parse_pdf_bytes(plain)

    def test_stmf_identity_streams_stay_plaintext(self):
        plain = make_pdf()
        enc = _encrypt_fixture(
            plain, r=4, v=4, cfm=b"V2", stmf_identity=True
        )
        assert parse_pdf_bytes(enc) == parse_pdf_bytes(plain)

    def test_user_password_protected_quarantines(self):
        plain = make_pdf()
        id0 = hashlib.md5(plain).digest()
        o = _pc.compute_o_entry(b"owner", b"secret", 3, 128)
        key = _pc._r234_file_key(b"secret", o, -44, id0, 3, 128, True)
        u = _pc.compute_u_entry(key, id0, 3)
        h = id0.hex().encode()
        bad = plain + (
            b"9 0 obj<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 /O <"
            + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> >>endobj\n"
        )
        bad = bad.replace(
            b"trailer\n<< /Root 1 0 R >>",
            b"trailer\n<< /Root 1 0 R /Encrypt 9 0 R /ID [<"
            + h + b"> <" + h + b">] >>",
        )
        with pytest.raises(ValueError, match="user password required"):
            parse_pdf_bytes(bad)

    def test_non_standard_handler_quarantines(self):
        plain = make_pdf()
        ns = plain + b"9 0 obj<< /Filter /MyDRM /V 1 >>endobj\n"
        ns = ns.replace(
            b"trailer\n<< /Root 1 0 R >>",
            b"trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>",
        )
        with pytest.raises(ValueError, match="non-standard security handler"):
            parse_pdf_bytes(ns)

    def test_encrypted_objstm_decrypts_before_expansion(self):
        """The catalog/pages/page dicts live inside an ENCRYPTED object
        stream — decryption must run before ObjStm expansion or the
        document scans empty."""
        parts = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        ]
        members = b"".join(parts)
        offs = [0, len(parts[0]), len(parts[0]) + len(parts[1])]
        head = b"1 %d 2 %d 3 %d " % tuple(offs)
        payload = head + members
        objstm = (
            b"<< /Type /ObjStm /N 3 /First %d /Length %d >>\nstream\n"
            % (len(head), len(payload))
            + payload + b"\nendstream\n"
        )
        content = b"BT 72 700 Td (inside objstm) Tj ET\n"
        plain = (
            b"%PDF-1.5\n"
            + b"5 0 obj" + objstm + b"endobj\n"
            + b"4 0 obj" + _stream_obj(content, compress=False) + b"endobj\n"
            + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
        )
        assert [s[1] for s in parse_pdf_bytes(plain)] == ["inside objstm"]
        enc = _encrypt_fixture(plain, r=4, v=4, cfm=b"AESV2")
        assert [s[1] for s in parse_pdf_bytes(enc)] == ["inside objstm"]

    def test_corrupt_crypt_payload_quarantines_empty_not_crash(self):
        plain = _pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>\n",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] >>\n",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
                _stream_obj(b"BT 72 700 Td (gone) Tj ET\n", compress=False),
            ]
        )
        enc = _encrypt_fixture(plain, r=4, v=4, cfm=b"AESV2")
        # truncate the content stream's ciphertext to a non-block size
        m = [mm for mm in _OBJ.finditer(enc) if int(mm.group(1)) == 4][0]
        sm = _SRE.search(m.group(2))
        s0 = m.start(2) + sm.start(1)
        corrupt = enc[: s0] + enc[s0 + 7 :]
        assert parse_pdf_bytes(corrupt) == []  # empty doc, no exception
