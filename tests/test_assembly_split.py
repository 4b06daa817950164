"""The assembly kernel's split into a page phase and a document merge.

``assemble_document`` is ``page_partial`` over each page run of the
document's unzipped fields (``page_partials``), then ``merge_pages`` over
the partials; the salted plan runs the two phases in different tasks and
hands the merge its partials in no fixed order. These tests hold the
merge to the whole-document result on adversarial span lists, with the
partials shuffled, and hold that result, and the Arrow map's gated batch
kernel, to outputs recorded from the kernel before it was split.
"""

from __future__ import annotations

import hashlib
import json
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow as pa

from docproc_spark.kernels.assembly import (
    OutSpans,
    assemble_document,
    merge_pages,
    page_partials,
    unzip_spans,
)
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import _extract_batches

KINDS = ["text", "table", "header", "code", "", None, "bogus", "image", "figure",
         "raster"]
TEXTS = [
    None, "", " ", "\n", "x", "\xa0\xa0", "Thank you!", " Questions?", "Agenda",
    "References", "Short title", "e\u200b\u0301",
    "Caf\u200be\u0301 au lait and some more words",
    "A substantive paragraph that survives every filter.",
    "Another line\n\n\n\nwith   padding \t and tabs",
    "Repeated body text that is long enough to keep.",
]
REFS = [None, "", "a" * 16, "b" * 16, "c" * 16]
PAGES = [None, 0, 1, 2, 4]
OFFSETS = [None, 0, 1, 2, 3]


def _random_spans(rng: random.Random) -> list:
    spans = []
    for _ in range(rng.randrange(0, 14)):
        if rng.random() < 0.05:
            spans.append(None)
            continue
        spans.append({
            "kind": rng.choice(KINDS),
            "text": rng.choice(TEXTS),
            "media_ref": rng.choice(REFS),
            "page": rng.choice(PAGES),
            "offset": rng.choice(OFFSETS),
        })
    return spans


def _digest(outputs) -> str:
    h = hashlib.md5()
    for out in outputs:
        h.update(json.dumps(out, sort_keys=True).encode())
    return h.hexdigest()


def _merged(spans: list, drop_kinds: frozenset, dedupe: bool, rng) -> tuple:
    """merge_pages over the page partials of ``spans``, shuffled by ``rng``."""
    partials = page_partials(unzip_spans(spans), drop_kinds=drop_kinds)
    rng.shuffle(partials)
    out = OutSpans()
    return merge_pages(partials, out, drop_exact_duplicates=dedupe), out.rows()


SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("page", pa.int32()), ("offset", pa.int32())]
)
OUT_T = pa.schema([("doc_id", pa.string()), ("markdown", pa.string()),
                   ("n_pages", pa.int32()), ("spans", pa.list_(SPAN_T))])


def _batch_kernel(docs: list, drop_kinds: frozenset, dedupe: bool) -> list:
    """(markdown, spans) per document from pipeline._extract_batches, the
    gated kernel of the Arrow map, in batches of 50 documents."""
    table = pa.table({"doc_id": [str(i) for i in range(len(docs))],
                      "spans": pa.array(docs, pa.list_(SPAN_T))})
    return [
        (row["markdown"], row["spans"])
        for batch in _extract_batches(iter(table.to_batches(50)), OUT_T, drop_kinds, dedupe)
        for row in batch.to_pylist()
    ]


# md5 of assemble_document's outputs on 400 random span lists
# (_random_spans(random.Random(seed)) for seed in range(400)) per
# (drop_kinds, drop_exact_duplicates), recorded from the kernel before it
# was split into page_partial and merge_pages.
RECORDED = {
    (DROP_KINDS_DEFAULT, True): "0cb84009b0c9e600e3bb9092ae1ec631",
    (DROP_KINDS_DEFAULT, False): "a4906c9cf6f61c4bbd49574e9e37766a",
    (frozenset(), True): "764dfa268a5e82957f9191aa85166da8",
    (frozenset(), False): "907656ef8d9e90fc6c4b729f97e57665",
}
SETTINGS = list(RECORDED)


@pytest.mark.parametrize(
    "setting", SETTINGS, ids=["default-dedupe", "default-keep", "none-dedupe", "none-keep"]
)
def test_split_kernel_matches_recorded_outputs(setting):
    drop_kinds, dedupe = setting
    docs = [_random_spans(random.Random(seed)) for seed in range(400)]
    whole = (
        assemble_document(spans, drop_kinds=drop_kinds, drop_exact_duplicates=dedupe)
        for spans in docs
    )
    assert _digest(whole) == RECORDED[setting]
    rng = random.Random(0)
    merged = (_merged(spans, drop_kinds, dedupe, rng) for spans in docs)
    assert _digest(merged) == RECORDED[setting]
    assert _digest(_batch_kernel(docs, drop_kinds, dedupe)) == RECORDED[setting]


SPAN = st.one_of(
    st.none(),
    st.fixed_dictionaries({
        "kind": st.sampled_from(KINDS),
        "text": st.sampled_from(TEXTS),
        "media_ref": st.sampled_from(REFS),
        "page": st.sampled_from(PAGES),
        "offset": st.sampled_from(OFFSETS),
    }),
)


@given(st.lists(SPAN, max_size=24), st.sampled_from(SETTINGS), st.randoms())
@settings(max_examples=2000, deadline=None)
def test_merge_of_shuffled_partials_equals_assemble_document(spans, setting, rng):
    """groupBy hands the merge its page partials in no fixed order."""
    drop_kinds, dedupe = setting
    assert _merged(spans, drop_kinds, dedupe, rng) == assemble_document(
        spans, drop_kinds=drop_kinds, drop_exact_duplicates=dedupe
    )
