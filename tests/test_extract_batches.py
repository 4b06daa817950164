"""The extract map's batch kernel: pipeline._extract_batches equals the
oracle on every shape an input batch can take.

_extract_batches flattens a batch's span lists to field arrays, appends
the HTML-derived spans, sorts and gates the whole batch at once and
encodes the output as columns; the oracle (kernels.assembly.
extract_document) runs the scalar functions on one document's decoded
spans. These tests hold the first to the second. No SparkSession needed.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docproc_spark.kernels.assembly import extract_document
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import _extract_batches

SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("page", pa.int32()), ("offset", pa.int32())]
)
# the canonical input contract has no page field
SPAN4_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32())]
)
OUT_T = pa.schema([("doc_id", pa.string()), ("markdown", pa.string()),
                   ("n_pages", pa.int32()), ("spans", pa.list_(SPAN_T))])
SETTINGS = [(DROP_KINDS_DEFAULT, True), (frozenset({"title", "agenda", "blank"}), True),
            (frozenset({"none"}), False)]

HTML = ("<html><body><article><h1>Title here</h1><p>" + "word " * 40
        + "</p></article></body></html>")

_maybe = st.none() | st.sampled_from(
    ["", " ", "x", "Agenda", "Thank you!", "Short title", "a\u200bb", "Café au lait",
     "A substantive paragraph that survives.", "two\nlines", "tab\there"]
) | st.text(max_size=6)
_span = st.none() | st.fixed_dictionaries(
    {"kind": st.none() | st.sampled_from(["text", "image", "raster", "", "header"]),
     "text": _maybe, "media_ref": st.none() | st.sampled_from(["", "r1", "r2"]),
     "page": st.none() | st.integers(0, 3), "offset": st.none() | st.integers(-1, 9)}
)
_lists = st.lists(st.none() | st.lists(_span, max_size=5), max_size=8)


def _array(rows, span_t):
    if span_t is SPAN4_T:
        rows = [
            None if r is None
            else [None if s is None else {k: v for k, v in s.items() if k != "page"}
                  for s in r]
            for r in rows
        ]
    return pa.array(rows, pa.list_(span_t))


def _batch(spans=None, raw_html=None, url=None):
    cols = {}
    n = len(spans if spans is not None else raw_html)
    cols["doc_id"] = pa.array([f"d{i}" for i in range(n)])
    for name, col in (("spans", spans), ("raw_html", raw_html), ("url", url)):
        if col is not None:
            cols[name] = col if isinstance(col, pa.Array) else pa.array(col, pa.string())
    return pa.RecordBatch.from_pydict(cols)


def _assert_oracle(batches, drop_kinds=DROP_KINDS_DEFAULT, dedupe=True):
    """_extract_batches' rows equal extract_document on each input row's
    to_pylist() values."""
    got = [
        row
        for b in _extract_batches(iter(batches), OUT_T, drop_kinds, dedupe)
        for row in b.to_pylist()
    ]
    want = []
    for b in batches:
        for row in b.to_pylist():
            md, n_pages, spans = extract_document(
                row.get("spans"), row.get("raw_html"), row.get("url"),
                drop_kinds=drop_kinds, drop_exact_duplicates=dedupe,
            )
            want.append({"doc_id": row["doc_id"], "markdown": md, "n_pages": n_pages,
                         "spans": spans})
    assert got == want


@pytest.mark.parametrize("span_t", [SPAN_T, SPAN4_T], ids=["5_fields", "4_fields"])
@given(rows=_lists, setting=st.sampled_from(SETTINGS), data=st.data())
@settings(max_examples=300, deadline=None)
def test_random_batches_equal_the_oracle(span_t, rows, setting, data):
    arr = _array(rows, span_t)
    _assert_oracle([_batch(arr)], *setting)
    # a slice keeps the parent's offsets and child values
    lo = data.draw(st.integers(0, len(arr)))
    hi = data.draw(st.integers(lo, len(arr)))
    _assert_oracle([_batch(arr).slice(lo, hi - lo)], *setting)


def _span(text, page=0, offset=0, kind="text"):
    return {"kind": kind, "text": text, "media_ref": None, "page": page, "offset": offset}


def test_null_list_over_a_non_empty_range():
    """Arrow lets a null list span child elements: list_flatten skips
    them, list_parent_indices would count them."""
    values = pa.array(
        [_span("First kept paragraph."), _span("Hidden under a null list."),
         _span("Also hidden text."), _span("Third row paragraph.")],
        SPAN_T,
    )
    spans = pa.ListArray.from_arrays(
        pa.array([0, 1, 3, 4], pa.int32()), values, mask=pa.array([False, True, False])
    )
    assert spans.null_count == 1 and len(pc.list_flatten(spans)) == 2
    batch = _batch(spans)
    _assert_oracle([batch])
    got = next(_extract_batches(iter([batch]), OUT_T, DROP_KINDS_DEFAULT, True))
    assert got.column("markdown").to_pylist() == [
        "[Page 1]\nFirst kept paragraph.", "", "[Page 1]\nThird row paragraph."]
    # and sliced so that the null list is the first row
    _assert_oracle([batch.slice(1)])


def test_edge_shapes_equal_the_oracle():
    a = _span("A paragraph that is kept.", offset=1)
    rows = [None, [], [None], [a, None, a], None, [None, None], []]
    arr = pa.array(rows, pa.list_(SPAN_T))
    _assert_oracle([_batch(arr)])
    for lo in range(len(rows)):
        _assert_oracle([_batch(arr).slice(lo, 3)])
    # an all-null column
    _assert_oracle([_batch(pa.array([None, None], pa.list_(SPAN_T)))])


def test_null_struct_elements_read_as_all_null_spans():
    """A null element hides its child values: it reads as an all-null
    span, so it is dropped like any text-less span and opens page 0."""
    values = pa.StructArray.from_arrays(
        [pa.array(["text", "text", "image"]),
         pa.array(["Visible paragraph on page 2.", "Masked by a null struct.", None]),
         pa.array([None, None, "masked-ref"]),
         pa.array([2, 1, 1], pa.int32()), pa.array([0, 0, 1], pa.int32())],
        fields=list(SPAN_T), mask=pa.array([False, True, True]),
    )
    spans = pa.ListArray.from_arrays(pa.array([0, 3], pa.int32()), values)
    _assert_oracle([_batch(spans)])
    got = next(_extract_batches(iter([_batch(spans)]), OUT_T, DROP_KINDS_DEFAULT, True))
    assert got.column("markdown").to_pylist() == ["[Page 3]\nVisible paragraph on page 2."]


def test_spans_out_of_page_and_offset_order():
    rows = [
        [_span("Second page text here.", page=1, offset=0),
         _span("First page, second span.", page=0, offset=5),
         _span("First page, first span.", page=0, offset=2),
         _span("Null page reads as page 0.", page=None, offset=3),
         _span("Null offset reads as 0.", page=1, offset=None)],
        [_span("Already in order one.", offset=0), _span("Already in order two.", offset=1)],
        [_span("Later row, earlier page.", page=0, offset=9),
         _span("Later row, page three.", page=3, offset=0),
         _span("Later row, page one.", page=1, offset=4)],
    ]
    for setting in SETTINGS:
        _assert_oracle([_batch(pa.array(rows, pa.list_(SPAN_T)))], *setting)


def test_input_and_html_spans_that_tie_keep_input_first():
    """An HTML block and an input span on the same (page, offset): the
    input span comes first, as extract_document appends HTML spans."""
    rows = [
        [_span("Input span at offset zero.", offset=0),
         _span("Input span at offset one.", offset=1)],
        None,
        [_span("Input on page 2.", page=1, offset=0)],
        [],
    ]
    html = [HTML, HTML, None, HTML]
    url = ["http://example.com/a/", None, None, "http://example.com/b/"]
    batch = _batch(pa.array(rows, pa.list_(SPAN_T)), html, url)
    _assert_oracle([batch])
    got = next(_extract_batches(iter([batch]), OUT_T, DROP_KINDS_DEFAULT, True))
    first = got.column("markdown")[0].as_py()
    assert first.index("Input span at offset zero.") < first.index("Title here") < first.index(
        "Input span at offset one.")
    _assert_oracle([batch.slice(1, 2)])


def test_batch_without_a_spans_column():
    _assert_oracle([_batch(raw_html=[HTML, None, "", HTML])])
    _assert_oracle([_batch(raw_html=[None, None])])


def test_extract_batches_reads_sliced_batches_like_the_oracle():
    from docproc_spark import corpus, oracle

    docs = [corpus.gen_doc(i, seed=5, mega_spans=50) for i in range(40)]
    table = pa.Table.from_pylist(
        [{"doc_id": d["doc_id"], "spans": d["spans"], "raw_html": d["raw_html"]}
         for d in docs],
        schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T)),
                          ("raw_html", pa.string())]),
    )
    batches = [b.slice(3, 11) for b in table.to_batches()] + table.slice(14).to_batches()
    got = [
        row
        for b in _extract_batches(iter(batches), OUT_T, DROP_KINDS_DEFAULT, True)
        for row in b.to_pylist()
    ]
    want = [oracle.extract_doc(d) for d in docs[3:14] + docs[14:]]
    assert [r["doc_id"] for r in got] == [w["doc_id"] for w in want]
    for r, w in zip(got, want):
        assert (r["markdown"], r["n_pages"], r["spans"]) == (
            w["markdown"], w["n_pages"], w["spans"])
