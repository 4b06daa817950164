"""PDF layout kernel: reading order + region detection."""

from __future__ import annotations

from docproc_spark.kernels.pdf_layout import blocks_to_spans

BLOCKS = [
    # page 0, out of order on purpose
    {"page": 0, "x0": 300.0, "y0": 100.0, "x1": 500.0, "y1": 120.0, "text": "right column"},
    {"page": 0, "x0": 50.0, "y0": 100.0, "x1": 250.0, "y1": 120.0, "text": "left column"},
    {"page": 0, "x0": 50.0, "y0": 20.0, "x1": 500.0, "y1": 35.0, "text": "Running Header"},
    {"page": 0, "x0": 50.0, "y0": 760.0, "x1": 500.0, "y1": 780.0, "text": "Page 1 of 9"},
    {"page": 0, "x0": 50.0, "y0": 400.0, "x1": 500.0, "y1": 450.0,
     "text": "a | b | c\nd | e | f"},
    {"page": 0, "x0": 50.0, "y0": 200.0, "x1": 500.0, "y1": 210.0, "text": "   "},
    # page 1
    {"page": 1, "x0": 50.0, "y0": 120.0, "x1": 500.0, "y1": 140.0, "text": "second page body"},
]

PAGE_H = 800.0


def test_reading_order_and_regions():
    spans = blocks_to_spans(BLOCKS, page_height=PAGE_H)
    assert [s["text"] for s in spans] == [
        "Running Header",
        "left column",
        "right column",
        "a | b | c\nd | e | f",
        "Page 1 of 9",
        "second page body",
    ]
    assert [s["kind"] for s in spans] == [
        "header", "text", "text", "table", "footer", "text",
    ]
    assert [s["offset"] for s in spans] == list(range(6))


def test_feeds_extraction_pipeline(spark):
    """Layout output composes with the flagship pipeline."""
    from docproc_spark.pipeline import extract
    from docproc_spark.schema import DOCUMENTS_SCHEMA

    doc = {"doc_id": "d1", "doc_type": "pdf", "raw_html": None,
           "spans": blocks_to_spans(BLOCKS, page_height=PAGE_H)}
    res = extract(spark.createDataFrame([doc], schema=DOCUMENTS_SCHEMA)).collect()[0]
    assert "[Page 1]" in res["markdown"] and "[Page 2]" in res["markdown"]
    assert "left column" in res["markdown"]
    assert "Page 1 of 9" in res["markdown"]  # footer kept (not boilerplate-dropped)


def test_whitespace_blocks_strip_like_str_strip():
    """Blank means blank under Python str.strip(), not F.trim: '\\t\\t' is
    dropped and '\\tfoo' emitted as 'foo', so later offsets shift."""
    blocks = [
        {"page": 0, "x0": 0.0, "y0": 10.0, "x1": 100.0, "y1": 20.0, "text": "\t\t"},
        {"page": 0, "x0": 0.0, "y0": 30.0, "x1": 100.0, "y1": 40.0, "text": "\tfoo"},
        {"page": 0, "x0": 0.0, "y0": 50.0, "x1": 100.0, "y1": 60.0, "text": "\u00a0"},
        {"page": 0, "x0": 0.0, "y0": 70.0, "x1": 100.0, "y1": 80.0, "text": "bar "},
    ]
    got = [
        (s["kind"], s["text"], s["page"], s["offset"])
        for s in blocks_to_spans(blocks, page_height=800.0)
    ]
    # y-center 35 < 0.08*800: the surviving first block is a header
    assert got == [("header", "foo", 0, 0), ("text", "bar", 0, 1)]


def test_coordinate_ties_keep_input_order():
    """Blocks with equal (page, y0, x0) keep their input order: the sort is
    stable, so stacked or overlapping boxes read as the loader gave them."""
    rows = [
        {"page": 0, "x0": 0.0, "y0": 10.0, "x1": 5.0, "y1": 12.0, "text": "first in input"},
        {"page": 0, "x0": 0.0, "y0": 10.0, "x1": 5.0, "y1": 12.0, "text": "second in input"},
    ]
    for blocks in (rows, rows[::-1]):
        got = [s["text"] for s in blocks_to_spans(blocks)]
        assert got == [b["text"] for b in blocks]
