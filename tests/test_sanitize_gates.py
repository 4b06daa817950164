"""The batch gates (kernels.sanitize.unchanged_gates) only prove what the
scalar functions would do.

For every text a gate marks, ``sanitize_text(t) == t``, and the gate's
kept/dropped verdict is ``sanitized_boilerplate_kind(t) in drop_kinds``.
The alphabet holds every character the gates must tell apart: each
Python whitespace character, C0 and C1 controls, the zero-width
characters, the boilerplate words in mixed case, and the two non-ASCII
characters that Python's re.I folds to ASCII letters (the long s and the
Kelvin sign).
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docproc_spark.kernels.sanitize import (
    DROP_KINDS_DEFAULT,
    GATE_DROP,
    GATE_KEEP,
    GATE_NONE,
    sanitize_text,
    sanitized_boilerplate_kind,
    unchanged_gates,
)

DROP_SETTINGS = [
    DROP_KINDS_DEFAULT,
    frozenset({"title", "agenda", "blank"}),
    frozenset({"none"}),
    frozenset(),
    # each boilerplate kind is in some setting that keeps titles
    frozenset({"appendix", "agenda", "objectives"}),
]

PY_WHITESPACE = [c for c in map(chr, range(0x3001)) if c.isspace()]
CONTROLS = [chr(c) for c in [*range(0x20), *range(0x7f, 0xa0)]]
ZERO_WIDTH = ["\u200b", "\u200c", "\u200d", "\ufeff", "\u00ad"]
FOLDED = ["\u017f", "\u212a"]  # long s → "s", Kelvin sign → "k" under re.I
WORDS = ["thank", "thanks", "you", "gracias", "merci", "question", "questions", "q",
         "&", "a", "any", "append", "appendix", "appendices", "reference",
         "references", "agenda", "objective", "objectives", "learning", "outcomes",
         "?", "!", "thank you", "thank you!", "q & a", "q&a", "any questions",
         "questions?", "learning outcomes", "learning\toutcomes"]
assert "\x0b" in PY_WHITESPACE and "\x1c" in PY_WHITESPACE and "\x85" in PY_WHITESPACE


def _mixed_case(word: str) -> st.SearchStrategy:
    return st.lists(st.booleans(), min_size=len(word), max_size=len(word)).map(
        lambda up: "".join(c.upper() if u else c for c, u in zip(word, up))
    )


_piece = st.one_of(
    st.sampled_from(PY_WHITESPACE + CONTROLS + ZERO_WIDTH + FOLDED),
    st.sampled_from(WORDS).flatmap(_mixed_case),
    st.sampled_from(["a", "b", "Z", "0", ".", "\u00e9", "e\u0301", "x" * 18, "\n\n"]),
    st.text(max_size=3),
)
# a boilerplate phrase alone, which the patterns match, or any mix
_phrase = st.tuples(
    st.sampled_from(WORDS).flatmap(_mixed_case),
    st.sampled_from(["", "!", "?", " ?", "\n", "\nA second line"]),
).map("".join)
TEXTS = st.one_of(_phrase, st.lists(_piece, max_size=8).map("".join))


def _check(texts: list, drop_kinds: frozenset) -> int:
    verdicts = unchanged_gates(pa.array(texts, pa.string()), drop_kinds)
    assert len(verdicts) == len(texts)
    marked = 0
    for t, v in zip(texts, verdicts.tolist()):
        if v == GATE_NONE:
            continue
        marked += 1
        assert sanitize_text(t) == t, repr(t)
        assert (v == GATE_DROP) == (sanitized_boilerplate_kind(t) in drop_kinds), repr(t)
    return marked


@pytest.mark.parametrize("drop_kinds", DROP_SETTINGS, ids=["default", "title", "none", "empty", "sections"])
@given(texts=st.lists(TEXTS, max_size=40))
@settings(max_examples=400, deadline=None)
def test_gated_texts_match_the_scalar_functions(drop_kinds, texts):
    _check(texts, drop_kinds)


@pytest.mark.parametrize("drop_kinds", DROP_SETTINGS, ids=["default", "title", "none", "empty", "sections"])
def test_every_boilerplate_phrase_in_every_case(drop_kinds):
    texts = [
        case(word) + end
        for word in WORDS
        for case in (str.lower, str.upper, str.title, str.swapcase)
        for end in ("", "!", "?", " ?", "\nA second line")
    ]
    _check(texts, drop_kinds)


def test_gates_mark_the_plain_cases_and_leave_the_rest():
    texts = [
        "Plain paragraph text that is long enough to be kept.",
        "Short title",
        "two\nlines",
        "Agenda",                 # a boilerplate word: the scalar path decides
        "THANK you",
        "Q & A",
        "Learning outcomes",
        "Café",                   # not ASCII
        " padded",                # edge whitespace
        "padded\x1f",             # a C0 separator is Python whitespace
        "a  b",                   # a run of spaces
        "x",                      # shorter than 2
        "",
        None,
    ]
    got = unchanged_gates(pa.array(texts, pa.string()), DROP_KINDS_DEFAULT).tolist()
    assert got[:3] == [GATE_KEEP] * 3
    assert got[3:] == [GATE_NONE] * 11
    dropped = unchanged_gates(pa.array(texts[:3]), frozenset({"title"})).tolist()
    assert dropped == [GATE_KEEP, GATE_DROP, GATE_KEEP]
    assert _check(texts, frozenset({"none"})) == 3
    assert len(unchanged_gates(pa.array([], pa.string()), DROP_KINDS_DEFAULT)) == 0
