"""Raw HTML file ingestion (sources/html.py).

The reference has no HTML loader (factory.py:12-18 registers only
pdf/docx/pptx/xlsx) — this surface exists because the engine's north rule
makes HTML boilerplate stripping a first-class extraction stage. The
invariant under test: a directory of real .html files ingests through
``load_files`` into the shared document table with charset-correct
``raw_html``, and extraction over that table is IDENTICAL to extraction
over an in-memory table carrying the same markup (one strip
implementation, one oracle).
"""

import pytest

from docproc_spark.sources.html import decode_html_bytes, sniff_charset

ARTICLE = """<!doctype html>
<html><head><title>T</title></head><body>
<nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/c">Contact</a></nav>
<article>
<h1>Charset handling in legacy pipelines</h1>
<p>Documents arriving from the open web declare their encodings in
inconsistent and frequently wrong ways, so the ingestion layer sniffs.</p>
<p>The prescan window covers the first two kilobytes of the payload and
the byte-order mark always wins over any conflicting declaration.</p>
</article>
<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer>
</body></html>"""


class TestCharsetSniff:
    def test_utf8_bom_wins_over_meta(self):
        data = b"\xef\xbb\xbf<meta charset='utf-16'><p>hi</p>"
        assert sniff_charset(data)[0] == "utf-8-sig"
        assert decode_html_bytes(data).startswith("<meta")

    def test_utf16_le_bom(self):
        body = "<p>héllo</p>"
        data = b"\xff\xfe" + body.encode("utf-16-le")
        assert sniff_charset(data)[0] == "utf-16-le"
        assert decode_html_bytes(data) == body

    def test_utf16_be_bom(self):
        body = "<p>héllo</p>"
        data = b"\xfe\xff" + body.encode("utf-16-be")
        assert decode_html_bytes(data) == body

    def test_meta_charset_latin1_maps_to_cp1252(self):
        # 0x92 is a cp1252 right single quote but UNDEFINED in iso-8859-1;
        # browsers treat the latin-1 label as cp1252 (WHATWG label table)
        data = b'<meta charset="iso-8859-1"><p>it\x92s</p>'
        codec, _ = sniff_charset(data)
        assert codec == "cp1252"
        assert "it’s" in decode_html_bytes(data)

    def test_meta_http_equiv_content_type_form(self):
        data = (b'<meta http-equiv="Content-Type" '
                b'content="text/html; charset=koi8-r"><p>\xf0\xd2\xc9\xd7\xc5\xd4</p>')
        assert sniff_charset(data)[0] == "koi8-r"
        assert "Привет" in decode_html_bytes(data)

    def test_meta_utf16_label_is_treated_as_utf8(self):
        # WHATWG prescan rule: a meta-declared UTF-16 label is impossible
        # (the prescan already read the bytes as ASCII-compatible)
        data = '<meta charset="UTF-16"><p>héllo</p>'.encode("utf-8")
        assert sniff_charset(data)[0] == "utf-8"
        assert "héllo" in decode_html_bytes(data)

    def test_meta_utf16_utf32_alias_labels_hit_the_lie_rule_too(self):
        # codecs aliases resolve to the utf-16/utf-32 codecs; the lie rule
        # must fire on the RESOLVED name, not the literal spelling —
        # otherwise ASCII-compatible bytes get decoded as wide-char mush.
        # Every label here is verified to resolve via codecs.lookup (the
        # first round of this test used "unicode"/"ucs-2", which DON'T
        # resolve in CPython and exercised only the fall-through).
        for label in (
            "utf16", "UTF_16", "u16", "utf-16le", "unicodelittleunmarked",
            "utf-32", "utf32", "u32", "utf-32be",
        ):
            import codecs as _c

            assert _c.lookup(label).name.startswith(("utf-16", "utf-32"))
            data = f'<meta charset="{label}"><p>héllo</p>'.encode("utf-8")
            assert sniff_charset(data)[0] == "utf-8", label
            assert "héllo" in decode_html_bytes(data), label

    def test_unknown_label_falls_through_to_utf8(self):
        data = '<meta charset="no-such-codec"><p>héllo</p>'.encode("utf-8")
        assert sniff_charset(data)[0] == "utf-8"
        assert "héllo" in decode_html_bytes(data)

    def test_binary_transform_label_is_not_a_charset(self):
        # codecs.lookup("hex") succeeds but is not a text encoding; a
        # page declaring it must fall through, not quarantine
        data = '<meta charset="hex"><p>héllo</p>'.encode("utf-8")
        assert sniff_charset(data)[0] == "utf-8"
        assert "héllo" in decode_html_bytes(data)

    def test_unlabeled_utf8_is_strict_utf8(self):
        assert sniff_charset("<p>漢字</p>".encode("utf-8")) == ("utf-8", "strict")

    def test_unlabeled_legacy_bytes_fall_back_to_cp1252(self):
        data = b"<p>caf\xe9</p>"  # not valid utf-8
        assert sniff_charset(data)[0] == "cp1252"
        assert "café" in decode_html_bytes(data)

    def test_decode_never_raises_on_garbage(self):
        import random

        rng = random.Random(99)
        for _ in range(200):
            blob = bytes(rng.randrange(256) for _ in range(rng.randrange(64)))
            assert isinstance(decode_html_bytes(blob), str)


@pytest.mark.usefixtures("spark")
class TestLoadHtmlFiles:
    def test_load_files_ingests_html_with_charset(self, spark, tmp_path):
        from docproc_spark.facade import DocprocSpark

        d = tmp_path / "in"
        d.mkdir()
        (d / "a.html").write_bytes(ARTICLE.encode("utf-8"))
        (d / "b.HTM").write_bytes(  # case-class glob must catch .HTM too
            b'<meta charset="iso-8859-1"><article><p>'
            b"The caf\xe9 on the corner re-opened after the renovation "
            b"finished last month.</p></article>"
        )

        eng = DocprocSpark(spark=spark)
        rows = {r["doc_id"]: r for r in eng.load_files(str(d)).collect()}
        assert set(rows) == {"a.html", "b.HTM"}
        for r in rows.values():
            assert r["doc_type"] == "html"
            assert r["parse_error"] is None
            assert r["spans"] is None
            assert r["n_spans"] == 0
        assert "byte-order mark always wins" in rows["a.html"]["raw_html"]
        assert "café" in rows["b.HTM"]["raw_html"]

    def test_extraction_parity_with_in_memory_raw_html(self, spark, tmp_path):
        """extract(load_files(dir)) == extract(manual raw_html table):
        ingestion adds bytes→str only; the strip semantics live in ONE
        kernel either way."""
        from docproc_spark.facade import DocprocSpark
        from docproc_spark.schema import DOCUMENTS_SCHEMA

        d = tmp_path / "in"
        d.mkdir()
        (d / "page.html").write_bytes(ARTICLE.encode("utf-8"))

        eng = DocprocSpark(spark=spark)
        table = eng.load_files(str(d)).drop("sheet_names", "parse_error")
        via_files = eng.extract_table(table).collect()

        manual = spark.createDataFrame(
            [("page.html", "html", ARTICLE, None)], schema=DOCUMENTS_SCHEMA
        )
        via_memory = eng.extract_table(manual).collect()

        assert len(via_files) == len(via_memory) == 1
        assert via_files[0]["markdown"] == via_memory[0]["markdown"]
        assert [tuple(s) for s in via_files[0]["spans"]] == [
            tuple(s) for s in via_memory[0]["spans"]
        ]
        md = via_files[0]["markdown"]
        assert "Charset handling in legacy pipelines" in md
        assert "Home" not in md  # nav chrome stripped
        assert "Privacy" not in md  # footer chrome stripped

    def test_mixed_directory_unions_all_formats(self, spark, tmp_path):
        from docproc_spark.facade import DocprocSpark
        from tests.test_ooxml import make_docx
        from tests.test_pdf_source import make_pdf

        d = tmp_path / "in"
        d.mkdir()
        (d / "a.pdf").write_bytes(make_pdf())
        (d / "b.docx").write_bytes(make_docx())
        (d / "c.html").write_bytes(ARTICLE.encode("utf-8"))

        eng = DocprocSpark(spark=spark)
        table = eng.load_files(str(d)).drop("sheet_names", "parse_error")
        res = {r["doc_id"]: r for r in eng.extract_table(table).collect()}
        assert set(res) == {"a.pdf", "b.docx", "c.html"}
        assert "Charset handling" in res["c.html"]["markdown"]
        assert "Hello world" in res["b.docx"]["markdown"]

    def test_html_image_spans_flow_through_extract(self, spark, tmp_path):
        """Interleaved HTML media end-to-end: a data-URI figure embedded
        in TWO different pages gets ONE content-hash identity
        (sha256-of-decoded-bytes, the same contract as raw-bytes
        PPTX/PDF ingestion), flows through extract() as an image span,
        and the Spark result equals the single-process oracle
        span-for-span."""
        import base64
        import hashlib

        from docproc_spark.facade import DocprocSpark
        from docproc_spark.oracle import extract_doc

        blob = b"\x89PNG shared logo bytes"
        want = hashlib.sha256(blob).hexdigest()
        b64 = base64.b64encode(blob).decode()
        page = (
            "<body><article><h1>Figure heavy article</h1>"
            "<p>The paragraph before the figure is long enough to be "
            "kept by the density rules of the stripper.</p>"
            f"<img src='data:image/png;base64,{b64}'>"
            "<p>The paragraph after the figure is also long enough to "
            "be kept by the density rules.</p></article></body>"
        )
        d = tmp_path / "in"
        d.mkdir()
        (d / "p1.html").write_bytes(page.encode("utf-8"))
        (d / "p2.html").write_bytes(
            page.replace("Figure heavy", "Second figure").encode("utf-8")
        )

        eng = DocprocSpark(spark=spark)
        table = eng.load_files(str(d)).drop("sheet_names", "parse_error")
        res = {r["doc_id"]: r for r in eng.extract_table(table).collect()}
        assert set(res) == {"p1.html", "p2.html"}
        for doc_id, r in res.items():
            # output spans carry captioned media as kind='figure'
            img = [s for s in r["spans"] if s["kind"] == "figure"]
            assert [s["media_ref"] for s in img] == [want], doc_id
            kinds = [s["kind"] for s in r["spans"]]
            assert kinds.index("figure") > kinds.index("header")
            assert "Page 1, image 1" in r["markdown"]
            oracle = extract_doc(
                {"doc_id": doc_id, "raw_html": page if doc_id == "p1.html"
                 else page.replace("Figure heavy", "Second figure"),
                 "spans": None}
            )
            assert r["markdown"] == oracle["markdown"]
            assert [tuple(s) for s in r["spans"]] == [
                tuple((s["kind"], s["text"], s["media_ref"], s["page"],
                       s["offset"])) for s in oracle["spans"]
            ]


def test_extract_resolves_media_identity_against_page_url(spark):
    """A table carrying a `url` column (WARC ingestion does) anchors
    relative <img> srcs: the same site-relative path on two sites must
    yield two media identities, and the absolute/relative spellings of
    ONE image must unify."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from docproc_spark.pipeline import extract
    from docproc_spark.schema import SPAN_STRUCT

    SPANS_T = T.ArrayType(SPAN_STRUCT)
    body = (
        "<body><p>Long enough main article prose to survive stripping.</p>"
        "<img src='/logo.png'></body>"
    )
    abs_body = body.replace("'/logo.png'", "'https://a.com/logo.png'")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a", "b", "a_abs"],
                "url": [
                    "https://a.com/post.html",
                    "https://b.com/post.html",
                    "https://a.com/other.html",
                ],
                "raw_html": [body, body, abs_body],
            }
        )
    ).withColumn("spans", F.lit(None).cast(SPANS_T))
    rows = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract(df).collect()
    }
    refs = {
        d: [s["media_ref"] for s in r["spans"] if s["kind"] == "figure"]
        for d, r in rows.items()
    }
    assert refs["a"] == ["https://a.com/logo.png"]
    assert refs["b"] == ["https://b.com/logo.png"]  # different site ≠ same image
    assert refs["a_abs"] == refs["a"]  # spelling variants unify
