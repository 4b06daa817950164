"""Routing of derived inputs: a load_files table is staged once per extract
call and routed on each document's real span count, not on the size of
its markup. Every output equals the single-process oracle."""

from __future__ import annotations

import gc
import time

import pytest

from docproc_spark import oracle, pipeline
from docproc_spark.facade import DocprocSpark
from docproc_spark.pipeline import _staged, extract
from docproc_spark.plans.explain import executed_plan
from docproc_spark.sources.html import decode_html_bytes
from docproc_spark.sources.ooxml import parse_one
from docproc_spark.sources.pdf import parse_pdf_bytes
from tests.test_ooxml import make_docx, make_pptx
from tests.test_pdf_source import make_pdf

# Over 800,000 characters of script around two blocks: len(raw_html)/8
# would exceed the 100,000 mega-document threshold, the real count does not
_SCRIPT_PAGE = (
    "<html><head><title>Big page</title><script>var x = ["
    + "0," * 410_000
    + "];</script></head><body><article><h1>Script page</h1>"
    "<p>The body of the script page is one sentence long enough to keep.</p>"
    "</article></body></html>"
)
# 31 real blocks: over a small threshold
_LONG_PAGE = (
    "<html><body><article><h1>Long page</h1>"
    + "".join(
        f"<p>Paragraph {i} of the long page is a sentence long enough to keep.</p>"
        for i in range(30)
    )
    + "</article></body></html>"
)
_SMALL_PAGE = (
    "<html><body><article><h1>Small page</h1>"
    "<p>A paragraph of a small page about some topic or other.</p>"
    "</article></body></html>"
)
_FILES = {
    "a.pdf": make_pdf(),
    "b.docx": make_docx(),
    "c.pptx": make_pptx(),
    "script.html": _SCRIPT_PAGE.encode(),
    "long.html": _LONG_PAGE.encode(),
    "small.html": _SMALL_PAGE.encode(),
}


def _oracle_row(name: str, data: bytes) -> dict:
    """The loader's row for one file, parsed in this process."""
    fmt = name.rsplit(".", 1)[1]
    if fmt == "html":
        return {"doc_id": name, "raw_html": decode_html_bytes(data), "spans": None}
    raw = parse_pdf_bytes(data) if fmt == "pdf" else parse_one(fmt, data)[0]
    spans = [
        {"kind": k, "text": t, "media_ref": m, "page": p, "offset": i}
        for i, (k, t, m, p) in enumerate(raw)
    ]
    return {"doc_id": name, "raw_html": None, "spans": spans}


def _summary(markdown, n_pages, spans) -> tuple:
    return markdown, n_pages, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mixed")
    for name, data in _FILES.items():
        (d / name).write_bytes(data)
    docs = DocprocSpark(spark=spark).load_files(str(d)).filter("parse_error IS NULL")
    want = {}
    for name, data in _FILES.items():
        w = oracle.extract_doc(_oracle_row(name, data))
        want[name] = _summary(w["markdown"], w["n_pages"], w["spans"])
    return docs, want


def _got(res) -> dict:
    return {r["doc_id"]: _summary(r["markdown"], r["n_pages"], r["spans"]) for r in res.collect()}


def test_staged_rows_count_real_spans(loaded):
    docs, _ = loaded
    assert len(_SCRIPT_PAGE) / 8 > 100_000
    n = {r["doc_id"]: r["n_spans"] for r in _staged(docs).collect()}
    assert n["script.html"] == 2 and n["long.html"] == 31 and n["small.html"] == 2
    assert n["a.pdf"] > 0 and n["b.docx"] > 0 and n["c.pptx"] > 0


def test_script_heavy_page_takes_the_map_path(loaded):
    """No document holds 100,000 spans, so the mixed directory, the
    script-heavy page included, is one Arrow map over the staged rows."""
    docs, want = loaded
    res = extract(docs)
    plan = executed_plan(res)
    assert "Union" not in plan and plan.count("MapInArrow") == 1, plan
    assert _got(res) == want


def test_page_over_a_small_threshold_takes_the_salted_path(loaded, monkeypatch):
    """With a threshold of 10 only the long page crosses: the plan carries
    the salted branch, and both branches together equal the oracle."""
    docs, want = loaded
    monkeypatch.setattr(pipeline, "MEGA_DOC_SPANS", 10)
    res = extract(docs)
    assert "Union" in executed_plan(res)
    assert _got(res) == want


def test_mixed_directory_through_extract_table_equals_the_oracle(spark, loaded):
    docs, want = loaded
    assert _got(DocprocSpark(spark=spark).extract_table(docs)) == want


def test_staged_rows_are_released(spark, loaded):
    """The staged checkpoint lives while its result is in use and is
    released once the result is dropped and the JVM collects it."""
    sc = spark.sparkContext

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    docs, want = loaded
    before = persisted()
    res = extract(docs)
    assert _got(res) == want
    made = persisted() - before
    assert made, "the staged rows are materialized while the result is in use"

    del res
    left = made
    deadline = time.monotonic() + 60
    while left and time.monotonic() < deadline:
        gc.collect()  # py4j then releases the JVM objects of the dead frame
        sc._jvm.System.gc()  # the ContextCleaner unpersists unreachable RDDs
        time.sleep(0.5)
        left = made & persisted()
    assert not left, f"RDDs still persisted: {sorted(left)}"
