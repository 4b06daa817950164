"""The extract map's Arrow decode: pipeline._pylist equals to_pylist().

_extract_batches hands the assembly kernel the span lists that _pylist
builds field by field; these tests pin it to pyarrow's own conversion on
every shape an input batch can take. No SparkSession needed.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import _extract_batches, _pylist

SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("page", pa.int32()), ("offset", pa.int32())]
)
# the canonical input contract has no page field
SPAN4_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32())]
)

_maybe = st.none() | st.text(max_size=6)
_span = st.none() | st.fixed_dictionaries(
    {"kind": st.none() | st.sampled_from(["text", "image", "raster", ""]),
     "text": _maybe, "media_ref": _maybe,
     "page": st.none() | st.integers(0, 3), "offset": st.none() | st.integers(-1, 9)}
)
_lists = st.lists(st.none() | st.lists(_span, max_size=4), max_size=8)


def _array(rows, span_t):
    if span_t is SPAN4_T:
        rows = [
            None if r is None
            else [None if s is None else {k: v for k, v in s.items() if k != "page"}
                  for s in r]
            for r in rows
        ]
    return pa.array(rows, pa.list_(span_t))


@pytest.mark.parametrize("span_t", [SPAN_T, SPAN4_T], ids=["5_fields", "4_fields"])
@given(rows=_lists, data=st.data())
@settings(max_examples=300, deadline=None)
def test_pylist_equals_to_pylist(span_t, rows, data):
    arr = _array(rows, span_t)
    assert _pylist(arr) == arr.to_pylist()
    # a slice keeps the parent's offsets and child values
    lo = data.draw(st.integers(0, len(arr)))
    hi = data.draw(st.integers(lo, len(arr)))
    part = arr.slice(lo, hi - lo)
    assert _pylist(part) == part.to_pylist()


def test_pylist_edge_shapes():
    a = {"kind": "text", "text": "t", "media_ref": None, "page": 0, "offset": 1}
    rows = [None, [], [None], [a, None, a], None, [None, None], []]
    arr = pa.array(rows, pa.list_(SPAN_T))
    assert _pylist(arr) == rows == arr.to_pylist()
    for lo in range(len(rows)):
        part = arr.slice(lo, 3)
        assert _pylist(part) == part.to_pylist() == rows[lo:lo + 3]
    # a batch taken from the middle of a table, as a scan may hand it over
    batch = pa.RecordBatch.from_arrays([arr], ["spans"]).slice(2, 3)
    assert _pylist(batch.column("spans")) == rows[2:5]
    # an all-null column, and non-list columns go through to_pylist
    assert _pylist(pa.array([None, None], pa.list_(SPAN_T))) == [None, None]
    assert _pylist(pa.array(["x", None])) == ["x", None]


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
    out_t = pa.schema([("doc_id", pa.string()), ("markdown", pa.string()),
                       ("n_pages", pa.int32()), ("spans", pa.list_(SPAN_T))])
    got = [
        row
        for b in _extract_batches(iter(batches), out_t, DROP_KINDS_DEFAULT, True)
        for row in b.to_pylist()
    ]
    want = [oracle.extract_doc(d) for d in docs[3:14] + docs[14:]]
    assert [r["doc_id"] for r in got] == [w["doc_id"] for w in want]
    for r, w in zip(got, want):
        assert (r["markdown"], r["n_pages"], r["spans"]) == (
            w["markdown"], w["n_pages"], w["spans"])
