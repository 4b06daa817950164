"""Adversarial oracle-parity edges (found by review, locked by test):
whitespace semantics (Python str.strip vs F.trim/Java \\s), null kinds,
(page, offset) collisions, duplicate spans — each compared against the
single-process oracle through BOTH physical plans.
"""

from __future__ import annotations

import pandas as pd
import pytest

from docproc_spark import oracle
from docproc_spark.pipeline import extract_map
from docproc_spark.pipeline_salted import extract_salted
from docproc_spark.schema import DOCUMENTS_SCHEMA


def _doc(doc_id, spans, raw_html=None):
    return {
        "doc_id": doc_id,
        "doc_type": "pdf",
        "raw_html": raw_html,
        "spans": [
            {"kind": k, "text": t, "media_ref": r, "page": p, "offset": o}
            for (k, t, r, p, o) in spans
        ],
    }


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


EDGE_DOCS = [
    # whitespace-only raw text must NOT block the raster fallback
    # (oracle: '\n'.strip() == '' → page qualifies; F.trim would disagree)
    _doc("ws_raster", [
        ("text", "\n", None, 0, 0),
        ("raster", None, "r" * 16, 0, 1),
        ("text", "\t \t", None, 1, 0),
        ("raster", None, "s" * 16, 1, 1),
    ]),
    # NBSP inside/around boilerplate: Python \s matches \xa0, Java \s
    # (ASCII) does not — (?iU) + pystrip must classify like the oracle
    _doc("nbsp_boiler", [
        ("text", "Thank you!", None, 0, 0),
        ("text", " Questions?", None, 0, 1),
        ("text", "Real content sentence that survives the filters.", None, 0, 2),
    ]),
    # null kind defaults to 'text' (oracle assembly.py:75)
    _doc("null_kind", [
        (None, "hello null-kind world", None, 0, 0),
        ("text", "second span here", None, 0, 1),
    ]),
    # exact duplicate spans at the SAME (page, offset): first-wins must
    # keep exactly one in every plan
    _doc("dup_same_pos", [
        ("text", "duplicated content line", None, 0, 5),
        ("text", "duplicated content line", None, 0, 5),
        ("text", "another surviving line", None, 0, 9),
    ]),
    # unicode-whitespace-only text (NBSP) → sanitize keeps it ('\xa0' is
    # not stripped by the collapse rules but IS stripped by strip())
    _doc("nbsp_only", [
        ("text", "  ", None, 0, 0),
        ("text", "substantive text for page one", None, 0, 1),
    ]),
]

# user spans colliding with HTML-derived spans at (page 0, offsets 0..k):
# the oracle's stable sort puts user spans first at equal (page, offset)
HTML_COLLIDE = _doc(
    "html_collide",
    [("text", "zebra zebra user span content", None, 0, 0),
     ("text", "yak yak second user span", None, 0, 1)],
    raw_html=(
        "<html><body><div id='main'>"
        "<p>apple apple html paragraph one content here</p>"
        "<p>banana banana html paragraph two content here</p>"
        "</div></body></html>"
    ),
)
EDGE_DOCS.append(HTML_COLLIDE)


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(EDGE_DOCS, columns=["doc_id", "doc_type", "raw_html", "spans"]),
        schema=DOCUMENTS_SCHEMA,
    )


@pytest.mark.parametrize("plan", ["array", "salted"])
def test_edge_docs_match_oracle(spark, edge_df, plan):
    fn = extract_map if plan == "array" else extract_salted
    got = {r["doc_id"]: r.asDict(recursive=True) for r in fn(edge_df).collect()}
    for doc in EDGE_DOCS:
        want = oracle.extract_doc(doc)
        d = doc["doc_id"]
        assert got[d]["markdown"] == want["markdown"], (
            f"{plan}:{d}\nspark={got[d]['markdown']!r}\noracle={want['markdown']!r}"
        )
        assert _tuples(got[d]["spans"]) == _tuples(want["spans"]), f"{plan}:{d}"
        assert got[d]["n_pages"] == want["n_pages"], f"{plan}:{d}"


def test_edge_semantics_are_nontrivial():
    """The edge docs actually exercise the fixed behaviors (guards against
    the fixtures silently degenerating)."""
    ws = oracle.extract_doc(EDGE_DOCS[0])
    assert "[Figures:" in ws["markdown"]          # raster fallback fired
    nb = oracle.extract_doc(EDGE_DOCS[1])
    assert "Thank" not in nb["markdown"]          # NBSP boilerplate dropped
    assert "Real content" in nb["markdown"]
    nk = oracle.extract_doc(EDGE_DOCS[2])
    assert "hello null-kind world" in nk["markdown"]
    dp = oracle.extract_doc(EDGE_DOCS[3])
    assert dp["markdown"].count("duplicated content line") == 1
    hc = oracle.extract_doc(HTML_COLLIDE)
    # stable order: user span before the colliding html span
    assert hc["markdown"].index("zebra") < hc["markdown"].index("apple")


def test_fulltext_keeps_empty_docs_and_python_strips(spark):
    from docproc_spark.operators.fulltext import full_text_docx, full_text_pdf

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                _doc("empty", []),
                _doc("tabbed", [("text", "\tfoo\t", None, 0, 0),
                                ("text", "\t\t", None, 0, 1)]),
            ],
            columns=["doc_id", "doc_type", "raw_html", "spans"],
        ),
        schema=DOCUMENTS_SCHEMA,
    )
    pdf = {r["doc_id"]: r["full_text"] for r in full_text_pdf(docs).collect()}
    assert pdf["empty"] == ""            # reference returns '', not no row
    docx = {r["doc_id"]: r["full_text"] for r in full_text_docx(docs).collect()}
    assert docx["tabbed"] == "foo"       # str.strip(): tabs stripped, blank dropped


def test_fulltext_tie_break_is_input_position(spark):
    """Two spans colliding on (page, offset) must keep document (input)
    order in the raw full-text paths — without the pos field in the sort
    struct, array_sort would order them by payload content (the same
    collision the flagship pipeline resolves via posexplode)."""
    import pandas as pd

    from docproc_spark.operators.fulltext import full_text_pdf
    from docproc_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        pd.DataFrame(
            [_doc("tie", [("text", "zebra", None, 0, 0),
                          ("text", "apple", None, 0, 0)])],
            columns=["doc_id", "doc_type", "raw_html", "spans"],
        ),
        schema=DOCUMENTS_SCHEMA,
    )
    ft = full_text_pdf(docs).collect()[0]["full_text"]
    assert ft == "zebra\n\napple"
