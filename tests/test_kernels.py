"""Kernel unit tests — no SparkSession needed.

Ports the reference's own sanitize/dedupe/boilerplate assertions
(/root/reference/tests/test_sanitize.py) and adds scalar↔vectorized
equivalence checks.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docproc_spark.kernels.assembly import assemble_document
from docproc_spark.kernels.html import html_main_blocks
from docproc_spark.kernels.sanitize import (
    boilerplate_kind,
    boilerplate_kind_series,
    sanitize_series,
    sanitize_text,
)


class TestSanitize:
    def test_whitespace_collapse(self):
        assert sanitize_text("a  \t b") == "a b"

    def test_none_and_empty(self):
        assert sanitize_text(None) == ""
        assert sanitize_text("") == ""
        assert sanitize_text("x") == ""  # below min length

    def test_newline_cap(self):
        assert sanitize_text("a\n\n\n\n\nb") == "a\n\nb"

    def test_newline_padding(self):
        assert sanitize_text("a   \n   b") == "a\nb"

    def test_control_chars(self):
        assert sanitize_text("a\x00b\x07c") == "abc"
        assert sanitize_text("a\tb") == "a b"  # tab collapses to space
        assert sanitize_text("a\nb") == "a\nb"  # newline survives

    def test_zero_width(self):
        assert sanitize_text("a​b‌c﻿d­e") == "abcde"

    def test_nfc(self):
        assert sanitize_text("café x") == "café x"

    @given(st.text(max_size=200))
    @settings(max_examples=300, deadline=None)
    def test_vectorized_matches_scalar(self, s):
        got = sanitize_series(pd.Series([s], dtype=object)).iloc[0]
        assert got == sanitize_text(s)


class TestBoilerplate:
    @pytest.mark.parametrize(
        "text,kind",
        [
            ("Thank you!", "thank_you"),
            ("THANKS", "thank_you"),
            ("gracias", "thank_you"),
            ("Questions?", "thank_you"),  # pattern-list order invariant
            ("q & a", "thank_you"),
            # NB: the reference's pattern ^append(i|x)(ces)?$ does not match
            # "appendix" itself — it falls through to the title rule.
            ("Appendix", "title"),
            ("Appendices", "appendix"),
            ("References", "appendix"),
            ("Agenda", "agenda"),
            ("Learning outcomes", "objectives"),
            ("", "blank"),
            ("   \n  ", "blank"),
            ("Short title", "title"),
            ("This is substantive content that carries real information.", "none"),
        ],
    )
    def test_kinds(self, text, kind):
        assert boilerplate_kind(text) == kind

    def test_multiline_substantive_kept(self):
        text = "Agenda\nitem one is long enough\nitem two is long enough\nmore"
        assert boilerplate_kind(text) == "agenda"  # first-line match

    @given(st.text(max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_vectorized_matches_scalar(self, s):
        sanitized = sanitize_text(s)
        got = boilerplate_kind_series(pd.Series([sanitized], dtype=object)).iloc[0]
        assert got == boilerplate_kind(s)


class TestAssembly:
    def _t(self, text, page=0, offset=0, kind="text", ref=None):
        return {"kind": kind, "text": text, "media_ref": ref, "page": page, "offset": offset}

    def test_single_text(self):
        md, spans = assemble_document([self._t("Hello world")])
        assert md == "[Page 1]\nHello world"
        assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans] == [
            ("text", "Hello world", None, 0)
        ]

    def test_page_join_and_skip_empty(self):
        spans = [
            self._t("First page content here", 0, 0),
            self._t("   ", 1, 0),
            self._t("Third page content here", 2, 0),
        ]
        md, out = assemble_document(spans)
        assert md == "[Page 1]\nFirst page content here\n\n[Page 3]\nThird page content here"
        assert [s["offset"] for s in out] == [0, 1]

    def test_first_wins_dedupe(self):
        a, b, c = "Alpha content here.", "Beta content here.", "Gamma content here."
        spans = [self._t(t, 0, i) for i, t in enumerate([a, b, a, c, b])]
        md, out = assemble_document(spans)
        assert [s["text"] for s in out] == [a, b, c]

    def test_boilerplate_drop(self):
        spans = [
            self._t("Real substantive content block.", 0, 0),
            self._t("Thank you!", 0, 1),
            self._t("Questions?", 0, 2),
        ]
        md, out = assemble_document(spans)
        assert [s["text"] for s in out] == ["Real substantive content block."]

    def test_interleaved_media_and_logo_dedupe(self):
        logo = "f" * 64
        uniq = "a" * 64
        spans = [
            self._t("Page one text content.", 0, 0),
            self._t(None, 0, 1, kind="image", ref=logo),
            self._t("Page two text content.", 1, 0),
            self._t(None, 1, 1, kind="image", ref=logo),
            self._t(None, 1, 2, kind="image", ref=uniq),
        ]
        md, out = assemble_document(spans)
        cap_logo = f"Figure {logo[:12]}: Page 1, image 1."
        cap_uniq = f"Figure {uniq[:12]}: Page 2, image 2."
        assert md == (
            f"[Page 1]\nPage one text content.\n[Figures: {cap_logo}]"
            f"\n\n[Page 2]\nPage two text content.\n[Figures: {cap_logo} ; {cap_uniq}]"
        )
        figs = [(s["text"], s["media_ref"]) for s in out if s["kind"] == "figure"]
        assert figs == [(cap_logo, logo), (cap_logo, logo), (cap_uniq, uniq)]

    def test_rasterized_fallback(self):
        r = "b" * 64
        spans = [
            self._t(None, 0, 0, kind="raster", ref=r),
            self._t("Real text on page two.", 1, 0),
        ]
        md, out = assemble_document(spans)
        assert "[Figures: Figure bbbbbbbbbbbb: Page 1 of 2.]" in md

    def test_raw_fallback_when_all_dropped(self):
        spans = [self._t("x", 0, 0), self._t("  ", 0, 1)]
        md, out = assemble_document(spans)
        assert md == "x\n\n  "
        assert out == []


class TestHtml:
    def test_boilerplate_stripped(self):
        html = (
            "<html><body><nav><a href='/'>home</a><a href='/a'>about</a></nav>"
            "<div><h1>Article Title</h1>"
            "<p>This is the main article content, long enough to keep around.</p>"
            "<p>tiny</p>"
            "<p>Visit <a href='/x'>this link here with many words inside the anchor</a> ok</p>"
            "</div><footer><p>Copyright notice in the footer, long enough too.</p></footer>"
            "</body></html>"
        )
        blocks = html_main_blocks(html)
        kinds = [k for k, _, _ in blocks]
        texts = [t for _, t, _ in blocks if t]
        assert ("header", "Article Title", None) in blocks
        assert any("main article content" in t for t in texts)
        assert not any("Copyright" in t for t in texts)  # footer ignored
        assert not any("home" in t for t in texts)  # nav ignored
        assert not any(t == "tiny" for t in texts)  # below min length
        assert not any("this link here" in t for t in texts)  # link-dense

    def test_empty_and_garbage(self):
        assert html_main_blocks("") == []
        assert html_main_blocks(None) == []
        assert isinstance(html_main_blocks("<p>" * 10), list)


def test_html_unclosed_ignore_tag_recovers_on_ancestor_close():
    """A malformed page with an unclosed <nav> must not swallow the whole
    article: the ancestor's close (</body>) implicitly closes the open
    ignore subtree (HTML5 tree-building semantics). Before the fix,
    _ignore_depth stayed positive forever and extraction returned []."""
    from docproc_spark.kernels.html import html_main_blocks

    body = ("This is the real article content with enough characters to "
            "clear the minimum block length threshold for keeping text.")
    raw = (
        "<html><body>"
        "<nav><ul><li>menu one</li><li>menu two</li>"   # <nav> never closed
        f"<p>{body}</p>"                                  # still inside nav
        "</body>"                                          # implicit nav close
        f"<p>{body} After.</p>"
        "</html>"
    )
    blocks = html_main_blocks(raw)
    assert any(t and body in t for _, t, _ in blocks), blocks
    # the nav menu itself stays dropped
    assert not any(t and "menu one" in t for _, t, _ in blocks)


class TestJvmSanitizeParity:
    def test_jvm_ascii_chain_matches_python_kernel(self, spark):
        """sanitize_hybrid_col's JVM ASCII path (translate + collapse
        regexes + set-btrim) must equal the Python kernel byte-for-byte
        on adversarial ASCII: every control char, CR/LF mixes, edge
        whitespace runs, and the length<2 blanking."""
        from pyspark.sql import functions as F

        from docproc_spark.pipeline import sanitize_hybrid_col

        cases = [
            "",
            "x",
            "ab",
            "a  \t b",
            "a\n\n\n\n\nb",
            " leading and trailing \n",
            "\r\nline one\r\nline two\r\n",
            "\rcarriage only\r",
            "a \r",
            "mix \x0b\x0c\x00\x07 ctl",
            "\t\t\ttabs\t\t\t",
            "sp    sp",
            "a \n b \n\n c",
            "\n\n\n",
            " \r\n \t ",
            "a" + "\x7f" + "b",
            "end with space ",
            " start with space",
            "interior\rreturn",
            "interior\r\nreturn",
            "a\n \n \nb",
        ] + [f"c{chr(c)}d" for c in range(0x00, 0x20)] + [
            f"{chr(c)}edge{chr(c)}" for c in range(0x00, 0x20)
        ]
        df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, text string")
        got = {
            r["i"]: r["z"]
            for r in df.select("i", sanitize_hybrid_col(F.col("text")).alias("z")).collect()
        }
        for i, s in enumerate(cases):
            assert got[i] == sanitize_text(s), (i, repr(s), repr(got[i]), repr(sanitize_text(s)))


def test_html_unclosed_anchor_releases_link_state():
    """An <a> implicitly closed by its block's endtag must release
    _link_depth — previously all later text counted as link chars and
    whole articles were dropped by link density."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><p><a href='/x'>Read more</p>"
        "<p>Long article paragraph well over twenty five characters long.</p>"
        "</body>"
    )
    texts = [t for _, t, _ in html_main_blocks(html) if t]
    assert any("Long article paragraph" in t for t in texts)


def test_html_implicitly_closed_heading_clears_heading_state():
    """A heading closed by an ancestor's endtag must clear _heading: the
    next block is body text, not kind='header'."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><div><h2>Title</h2></div>"
        "<div><h3>Other title</div>"
        "<p>Trailing article text of more than twenty five characters.</p></body>"
    )
    blocks = html_main_blocks(html)
    trailing = [k for k, t, _ in blocks if t and "Trailing article" in t]
    assert trailing == ["text"]
    assert ("header", "Other title", None) in blocks  # the implicit flush kept it


def test_html_stray_inline_endtag_does_not_unwind_ignore():
    """A stray inline endtag (</a>) whose match lies below an open ignored
    subtree must NOT pop the ignore tag on its way down — that leaked nav
    chrome into the content. Structural closes (</div>) still terminate an
    unclosed nav (browser recovery)."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><a href='/'>x<nav>"
        "<p>Navigation tagline chrome longer than twenty five characters.</p>"
        "</a>"
        "<p>More menu chrome also much longer than twenty five characters.</p>"
        "</nav>"
        "<p>Real article content, definitely longer than twenty five chars.</p>"
        "</body>"
    )
    texts = [t for _, t, _ in html_main_blocks(html) if t]
    assert not any("chrome" in t for t in texts), texts
    assert any("Real article content" in t for t in texts)


def test_html_images_interleave_in_order():
    """Content-region <img> tags become kind='image' blocks at their
    document position: after the text of the block they sit inside,
    between blocks otherwise. Chrome images (inside nav/footer), beacon
    pixels (width/height ≤ 2), and srcless imgs are dropped."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><nav><img src='/logo.png'></nav>"
        "<p>First paragraph has an inline <img src='/fig1.png'> figure "
        "and keeps talking long enough to stay.</p>"
        "<img src='/between.png'>"
        "<img src='/tracker.gif' width='1' height='1'>"
        "<img src='' alt='srcless'>"
        "<p>Second paragraph is also long enough to clear the bar.</p>"
        "</body>"
    )
    blocks = html_main_blocks(html)
    assert ("image", None, "/logo.png") not in blocks  # nav chrome dropped
    refs = [r for k, _, r in blocks if k == "image"]
    assert refs == ["/fig1.png", "/between.png"]
    order = [(k, r) for k, t, r in blocks]
    # fig1 follows its paragraph's text; between sits between the blocks
    assert order.index(("image", "/fig1.png")) == order.index(("text", None)) + 1
    assert order[-1] == ("text", None)


def test_html_tables_collect_into_table_blocks():
    """A data <table> becomes ONE kind='table' block (pipe cells, newline
    rows — the ooxml span convention); link-farm tables drop by the same
    link-density rule as text; an unclosed table at EOF still emits."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><p>Intro paragraph long enough to be kept by the rules.</p>"
        "<table><tr><th>City</th><th>Population</th></tr>"
        "<tr><td>Springfield</td><td>167 882</td></tr></table>"
        "<table><tr><td><a href='/a'>Home page link</a></td>"
        "<td><a href='/b'>Archive of many previous editions</a></td></tr></table>"
        "</body>"
    )
    blocks = html_main_blocks(html)
    tables = [t for k, t, _ in blocks if k == "table"]
    assert tables == ["City | Population\nSpringfield | 167 882"]
    assert not any(t and "Home page" in t for _, t, _ in blocks)

    # unclosed at EOF + nested table flattens into the enclosing one
    ragged = (
        "<body><table><tr><td>alpha cell</td><td>"
        "<table><tr><td>inner beta cell text</td></tr></table>"
        "</td><td>gamma cell closes the outer row</td>"
    )
    blocks = html_main_blocks(ragged)
    assert [k for k, _, _ in blocks] == ["table"]
    text = blocks[0][1]
    assert "alpha cell" in text and "inner beta cell text" in text
    assert "gamma cell closes the outer row" in text


def test_html_table_images_emit_after_the_table():
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><table><tr><td>Product picture with caption text here</td>"
        "<td><img src='/prod.png'></td></tr>"
        "<tr><td>Another row to clear the block minimum chars</td>"
        "<td>ok</td></tr></table></body>"
    )
    blocks = html_main_blocks(html)
    assert [k for k, _, _ in blocks] == ["table", "image"]
    assert blocks[1][2] == "/prod.png"


def test_html_data_uri_image_gets_content_hash_identity():
    """data: URI images hash their DECODED bytes — two spellings of the
    same payload (base64 vs percent-encoded) share one media_ref, the
    same sha256 a raw-bytes PPTX/PDF ingestion of those bytes would get;
    a malformed payload still yields a deterministic ref."""
    import base64
    import hashlib

    from docproc_spark.kernels.html import html_main_blocks

    blob = b"\x89PNG fake bytes"
    b64 = base64.b64encode(blob).decode()
    pct = "".join(f"%{b:02x}" for b in blob)
    html = (
        f"<body><img src='data:image/png;base64,{b64}'>"
        f"<img src='data:image/png,{pct}'>"
        "<img src='data:image/png;base64,@@not-base64@@'></body>"
    )
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    want = hashlib.sha256(blob).hexdigest()
    assert refs[0] == want and refs[1] == want
    assert len(refs[2]) == 64 and refs[2] != want


def test_sanitize_series_nonstring_matches_scalar():
    """The vectorized path must agree with the scalar twin on non-string
    payloads: sanitize_text(123) == '' so the series path must not coerce
    123 -> '123'."""
    import pandas as pd

    from docproc_spark.kernels.sanitize import sanitize_series, sanitize_text

    vals = [123, True, None, "kept text long enough", 4.5, b"bytes"]
    got = sanitize_series(pd.Series(vals, dtype=object)).tolist()
    want = [sanitize_text(v) for v in vals]
    assert got == want


def test_sanitize_series_all_null_batch():
    """The pipeline's pandas UDF sees ASCII rows masked to null: an
    all-null batch comes back as "" per row, same length and index."""
    s = pd.Series([None] * 5, dtype=object, index=range(10, 15))
    got = sanitize_series(s)
    assert got.tolist() == [""] * 5
    assert got.index.equals(s.index)


def test_sanitize_series_mixed_null_batch_matches_scalar():
    vals = [None, "Cafe\u0301  au\tlait\n\n\n\nok", None, "\u200bx", None,
            "zero\u200dwidth  text ", float("nan")]
    s = pd.Series(vals, dtype=object)
    got = sanitize_series(s)
    assert got.tolist() == [sanitize_text(v) for v in vals]
    assert got.tolist()[1] == "Caf\u00e9 au lait\n\nok"
    assert got.index.equals(s.index)


def test_html_table_caption_becomes_a_row():
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><table><caption>Quarterly population figures</caption>"
        "<tr><th>City</th><th>Pop</th></tr>"
        "<tr><td>Springfield</td><td>167882</td></tr></table></body>"
    )
    (block,) = html_main_blocks(html)
    assert block == (
        "table",
        "Quarterly population figures\nCity | Pop\nSpringfield | 167882",
        None,
    )


def test_html_pre_blocks_become_code_spans():
    from docproc_spark.kernels.html import html_main_blocks

    h = (
        "<body><p>Intro paragraph long enough to pass the density rule.</p>"
        "<pre>def f(x):\n    return x  # c\n<p>inert</p>tail</pre>"
        "<p>Inline <code>a.b()</code> stays prose in a long sentence.</p>"
        "<pre>x=1</pre></body>"
    )
    blocks = html_main_blocks(h)
    kinds = [k for k, _, _ in blocks]
    assert kinds == ["text", "code", "text", "code"]
    code = blocks[1][1]
    # ONE block; line structure verbatim; inner <p> was no boundary
    assert code == "def f(x):\n    return x  # c\ninerttail"
    assert blocks[3][1] == "x=1"  # below MIN_BLOCK_CHARS but code keeps
    assert "a.b()" in blocks[2][1]  # inline <code> flowed into the <p>


def test_html_pre_in_chrome_or_table_is_not_code():
    from docproc_spark.kernels.html import html_main_blocks

    h = (
        "<body><nav><pre>menu()</pre></nav>"
        "<footer><pre>console.log('t')</pre></footer>"
        "<table><tr><td>cell one holds <pre>snippet()</pre> code</td>"
        "<td>second cell text</td></tr></table></body>"
    )
    blocks = html_main_blocks(h)
    assert [k for k, _, _ in blocks] == ["table"]  # chrome pre dropped
    assert "snippet()" in blocks[0][1]  # table pre stayed cell text


def test_html_unclosed_pre_recovers():
    from docproc_spark.kernels.html import html_main_blocks

    # implicit close by ancestor </div>; a second pre unclosed at EOF
    h = (
        "<body><div><pre>first block code()</pre2typo>\nmore</div>"
        "<p>After the div a normal paragraph long enough to keep.</p>"
        "<pre>eof code"
    )
    blocks = html_main_blocks(h)
    assert [k for k, _, _ in blocks] == ["code", "text", "code"]
    assert blocks[0][1].startswith("first block code()")
    assert blocks[2][1] == "eof code"


def test_html_linkfarm_pre_drops_by_density():
    from docproc_spark.kernels.html import html_main_blocks

    h = ('<body><pre><a href="/x">only links in here</a></pre>'
         "<pre>kept() # no links</pre></body>")
    blocks = html_main_blocks(h)
    assert [(k, t) for k, t, _ in blocks] == [("code", "kept() # no links")]


def test_html_img_alt_becomes_image_span_text():
    """An img's alt attribute (whitespace-collapsed) is the image span's
    text — the publisher's caption for LAION-style pair mining; alt-less
    imgs keep text=None."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><p>Opening paragraph long enough to pass the keep bar.</p>"
        "<img src='/a.png' alt='  Quarterly   revenue\tchart '>"
        "<img src='/b.png'>"
        "<p>Paragraph with an inline <img src='/c.png' alt='inline alt'> "
        "image and enough following text to stay.</p></body>"
    )
    blocks = html_main_blocks(html)
    imgs = {r: t for k, t, r in blocks if k == "image"}
    assert imgs["/a.png"] == "Quarterly revenue chart"
    assert imgs["/b.png"] is None
    assert imgs["/c.png"] == "inline alt"


def test_html_figcaption_keeps_at_caption_floor():
    """A <figcaption> block is kept as kind='text' at MIN_CAPTION_CHARS
    (3) even though MIN_BLOCK_CHARS (25) would drop it; equally short
    non-caption blocks still drop, and a figcaption inside chrome drops
    with its subtree."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><nav><figure><img src='/logo.png'>"
        "<figcaption>Nav chrome caption</figcaption></figure></nav>"
        "<p>Opening paragraph long enough to pass the keep bar.</p>"
        "<figure><img src='/fig.png'>"
        "<figcaption>Fig 1: results</figcaption></figure>"
        "<p>short one</p>"
        "</body>"
    )
    blocks = html_main_blocks(html)
    kinds_texts = [(k, t) for k, t, _ in blocks]
    assert ("text", "Fig 1: results") in kinds_texts          # kept at floor
    assert ("text", "short one") not in kinds_texts           # still drops
    assert all("Nav chrome" not in (t or "") for _, t, _ in blocks)
    refs = [r for k, _, r in blocks if k == "image"]
    assert refs == ["/fig.png"]  # nav figure dropped with its subtree
    # order: the caption follows its figure's image span
    assert blocks.index(("text", "Fig 1: results", None)) \
        == blocks.index(("image", None, "/fig.png")) + 1


def test_html_figcaption_link_density_still_applies():
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<p>Opening paragraph long enough to pass the keep bar.</p>"
        "<figure><img src='/f.png'>"
        "<figcaption><a href='/x'>pure link caption</a></figcaption></figure>"
    )
    texts = [t for k, t, _ in html_main_blocks(html) if k == "text"]
    assert "pure link caption" not in texts


def test_lazy_loaded_img_resolves_data_src_over_placeholder():
    """lazysizes/WordPress pattern: src is a 1px data: placeholder, the
    real URL sits in data-src — identity must be the real URL, not the
    shared placeholder hash."""
    from docproc_spark.kernels.html import html_main_blocks

    px = "data:image/gif;base64,R0lGODlhAQABAAAAACw="
    html = (
        f"<body><p>Enough prose to keep this content block alive here.</p>"
        f"<img src='{px}' data-src='/photos/a.jpg'>"
        f"<img src='{px}' data-src='/photos/b.jpg'>"
        "<img data-lazy-src='/photos/c.jpg'>"
        "<img data-original='/photos/d.jpg'></body>"
    )
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == ["/photos/a.jpg", "/photos/b.jpg", "/photos/c.jpg", "/photos/d.jpg"]


def test_srcless_img_resolves_largest_srcset_candidate():
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><img srcset='/i/a-480.jpg 480w, /i/a-1600.jpg 1600w, "
        "/i/a-800.jpg 800w'>"
        "<img srcset='/i/b-lo.jpg 1x, /i/b-hi.jpg 2x'>"
        "<img data-srcset='/i/c-9.jpg 900w, /i/c-3.jpg 300w'></body>"
    )
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == ["/i/a-1600.jpg", "/i/b-hi.jpg", "/i/c-9.jpg"]


def test_lazy_attr_wins_even_over_placeholder_url_src():
    """WordPress Lazy Load parks a SHARED placeholder URL in src (not a
    data: pixel) and the real image in data-lazy-src; the loader swaps
    src at runtime, so the lazy attribute is the identity — otherwise
    every image on the site collapses onto 1x1.trans.gif."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><img src='/wp-content/plugins/lazy-load/images/1x1.trans.gif'"
        " data-lazy-src='/photos/real-a.jpg'>"
        "<img src='/wp-content/plugins/lazy-load/images/1x1.trans.gif'"
        " data-lazy-src='/photos/real-b.jpg'></body>"
    )
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == ["/photos/real-a.jpg", "/photos/real-b.jpg"]


def test_real_src_wins_over_srcset():
    """Without lazy attrs, a genuine (non-data:) src is the canonical
    identity even when srcset variants exist — variant URLs differ per
    viewport, the src fallback is the stable one."""
    from docproc_spark.kernels.html import html_main_blocks

    html = "<body><img src='/i/hero.jpg' srcset='/i/hero-2x.jpg 2x'></body>"
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == ["/i/hero.jpg"]


def test_srcset_comma_urls_survive():
    """Cloudinary/imgix URLs embed commas in transform segments; the
    srcset parser must not shred them (a bare split(',') yields
    'c_fill/sample.jpg' as the identity)."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><img srcset='https://res.cloudinary.com/demo/image/upload/"
        "w_300,c_fill/sample.jpg 300w, https://res.cloudinary.com/demo/"
        "image/upload/w_600,c_fill/sample.jpg 600w'></body>"
    )
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == [
        "https://res.cloudinary.com/demo/image/upload/w_600,c_fill/sample.jpg"
    ]


def test_inline_data_img_without_lazy_attrs_still_hashes_payload():
    import base64
    import hashlib

    from docproc_spark.kernels.html import html_main_blocks

    blob = b"\x89PNG standalone"
    b64 = base64.b64encode(blob).decode()
    html = f"<body><img src='data:image/png;base64,{b64}'></body>"
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == [hashlib.sha256(blob).hexdigest()]


def test_base_url_resolves_relative_img_identity():
    """'/logo.png' on two sites is two images; the page URL (plus any
    <base href>) anchors relative srcs so media identity is corpus-safe."""
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<body><img src='/logo.png'>"
        "<img src='imgs/fig.jpg'>"
        "<img src='https://cdn.ex.com/abs.png'>"
        "<img src='data:image/gif;base64,R0lGODlhAQABAAAAACw='></body>"
    )
    refs = [
        r
        for k, _, r in html_main_blocks(
            html, base_url="https://site-a.com/posts/article.html"
        )
        if k == "image"
    ]
    assert refs[0] == "https://site-a.com/logo.png"
    assert refs[1] == "https://site-a.com/posts/imgs/fig.jpg"
    assert refs[2] == "https://cdn.ex.com/abs.png"  # absolute: untouched
    assert len(refs[3]) == 64  # data: URI still hashes its payload

    # no base_url → verbatim refs (existing behavior unchanged)
    refs_raw = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs_raw[0] == "/logo.png"


def test_base_href_tag_refines_document_base():
    from docproc_spark.kernels.html import html_main_blocks

    html = (
        "<html><head><base href='https://cdn.ex.com/assets/'></head>"
        "<body><img src='pic.png'>"
        "<base href='https://ignored.example/'><img src='two.png'></body></html>"
    )
    refs = [
        r
        for k, _, r in html_main_blocks(html, base_url="https://site-a.com/p/")
        if k == "image"
    ]
    # first <base> wins (HTML spec); the second is ignored
    assert refs == [
        "https://cdn.ex.com/assets/pic.png",
        "https://cdn.ex.com/assets/two.png",
    ]


def test_base_href_applies_without_page_url_and_to_lazy_imgs():
    from docproc_spark.kernels.html import html_main_blocks

    px = "data:image/gif;base64,R0lGODlhAQABAAAAACw="
    html = (
        "<head><base href='https://ex.org/a/'></head>"
        f"<body><img src='{px}' data-src='lazy.jpg'></body>"
    )
    refs = [r for k, _, r in html_main_blocks(html) if k == "image"]
    assert refs == ["https://ex.org/a/lazy.jpg"]
