"""The assembly kernel's split into a page phase and a document merge.

``assemble_document`` is ``page_partial`` over each page's spans, then
``merge_pages`` over the partials; the salted plan runs the two phases in
different tasks and hands the merge its partials in no fixed order. These
tests hold the merge to the whole-document result on adversarial span
lists, with the partials shuffled, and hold that result to outputs
recorded from the kernel before it was split.
"""

from __future__ import annotations

import hashlib
import json
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docproc_spark.kernels.assembly import (
    assemble_document,
    merge_pages,
    page_partial,
    page_spans,
)
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT

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
    partials = [
        page_partial(page, on_page, drop_kinds=drop_kinds, drop_exact_duplicates=dedupe)
        for page, on_page in page_spans(spans)
    ]
    rng.shuffle(partials)
    return merge_pages(partials)


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
