"""Salted (two-phase) mega-doc path: oracle parity + routing.

The salted plan runs the assembly kernel in two phases, page partials then
a per-document merge; these tests assert span-sequence + markdown equality
against the single-process oracle for EVERY fixture class (not just mega
docs — the two-phase path must be a drop-in), plus the automatic routing
and a large mega-doc straggler check.
"""

from __future__ import annotations

import pandas as pd
import pytest

from docproc_spark import corpus, oracle, pipeline
from docproc_spark.pipeline import extract, extract_map
from docproc_spark.pipeline_salted import extract_salted
from docproc_spark.schema import DOCUMENTS_SCHEMA

N_DOCS = 180
MEGA_SPANS = 600


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


@pytest.fixture(scope="module")
def results(spark):
    docs = corpus.corpus_df(spark, N_DOCS, seed=42, mega_spans=MEGA_SPANS, partitions=8)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract_salted(docs).collect()
    }
    want = oracle.extract_corpus(
        corpus.gen_doc(i, seed=42, mega_spans=MEGA_SPANS) for i in range(N_DOCS)
    )
    return got, want


def test_salted_all_docs_present(results):
    got, want = results
    assert set(got) == set(want)


def test_salted_span_sequence_equality(results):
    got, want = results
    bad = [d for d in want if _tuples(got[d]["spans"]) != _tuples(want[d]["spans"])]
    assert not bad, (
        f"{len(bad)} docs mismatch, first: {bad[0]}\n"
        f"spark={_tuples(got[bad[0]]['spans'])[:8]}\n"
        f"oracle={_tuples(want[bad[0]]['spans'])[:8]}"
    )


def test_salted_markdown_and_pages(results):
    got, want = results
    bad = [
        d
        for d in want
        if got[d]["markdown"] != want[d]["markdown"]
        or got[d]["n_pages"] != want[d]["n_pages"]
    ]
    assert not bad, (
        f"first: {bad[:1]}\nspark={got[bad[0]]['markdown'][:300]!r}\n"
        f"oracle={want[bad[0]]['markdown'][:300]!r}"
    )


def test_routing_splits_by_span_count(spark, monkeypatch):
    """extract() routes >threshold docs through the salted branch and the
    union reproduces every doc exactly once with oracle parity."""
    docs = [corpus.gen_doc(i, seed=5, mega_spans=3000) for i in range(40)]
    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "doc_type", "raw_html", "spans"]),
        schema=DOCUMENTS_SCHEMA,
    )
    monkeypatch.setattr(pipeline, "MEGA_DOC_SPANS", 1000)
    got = {r["doc_id"]: r.asDict(recursive=True) for r in extract(df).collect()}
    assert len(got) == 40  # no doc lost or duplicated by the split
    for d in docs:
        want = oracle.extract_doc(d)
        assert _tuples(got[d["doc_id"]]["spans"]) == _tuples(want["spans"]), d["doc_id"]
        assert got[d["doc_id"]]["markdown"] == want["markdown"], d["doc_id"]


def test_salted_dedupe_toggle(spark):
    docs = [corpus.gen_doc(i, seed=11) for i in range(60)
            if corpus.doc_class_for_index(i) == "dup_spans"]
    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "doc_type", "raw_html", "spans"]),
        schema=DOCUMENTS_SCHEMA,
    )
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract_salted(df, drop_exact_duplicates=False).collect()
    }
    for d in docs:
        want = oracle.extract_doc(d, drop_exact_duplicates=False)
        assert _tuples(got[d["doc_id"]]["spans"]) == _tuples(want["spans"])


def test_mega_doc_routes_salted_with_hash_parity(spark, tmp_path):
    """A >threshold doc goes through the salted branch of the DEFAULT
    extract() and matches the oracle hash-for-hash (markdown md5 +
    span-sequence md5 — collecting 120k spans through py4j is the slow part,
    so compare hashes computed engine-side)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    idx = next(i for i in range(200) if corpus.doc_class_for_index(i) == "mega_doc")
    doc = corpus.gen_doc(idx, seed=42, mega_spans=120_000)
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("page", pa.int32()), ("offset", pa.int32())]
    )
    schema = pa.schema(
        [("doc_id", pa.string()), ("doc_type", pa.string()),
         ("raw_html", pa.string()), ("spans", pa.list_(span_t))]
    )
    src = str(tmp_path / "mega.parquet")
    pq.write_table(pa.Table.from_pylist([doc], schema=schema), src)

    res = extract(spark.read.parquet(src))  # default threshold: 100k → salted
    span_strs = F.transform(
        F.col("spans"),
        lambda s: F.concat_ws(
            "\x1f", s["kind"], s["text"],
            F.coalesce(s["media_ref"], F.lit("")), s["offset"].cast("string"),
        ),
    )
    row = res.select(
        "n_pages",
        F.size("spans").alias("n_spans"),
        F.md5("markdown").alias("mdh"),
        F.md5(F.array_join(span_strs, "\x1e")).alias("sph"),
    ).collect()[0]

    want = oracle.extract_doc(doc)
    mdh = hashlib.md5(want["markdown"].encode()).hexdigest()
    parts = [
        f"{s['kind']}\x1f{s['text']}\x1f{s['media_ref'] or ''}\x1f{s['offset']}"
        for s in want["spans"]
    ]
    sph = hashlib.md5("\x1e".join(parts).encode()).hexdigest()
    assert row["n_spans"] == len(want["spans"])
    assert row["n_pages"] == want["n_pages"]
    assert row["mdh"] == mdh and row["sph"] == sph


def test_salted_equals_array_path_fresh_seed(spark):
    """The two physical plans are interchangeable: identical output on a
    corpus seed no other test uses (cross-validation without the oracle)."""
    docs = corpus.corpus_df(spark, 90, seed=99, mega_spans=300, partitions=4)
    a = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract_map(docs).collect()
    }
    b = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract_salted(docs).collect()
    }
    assert set(a) == set(b)
    for d in a:
        assert a[d]["markdown"] == b[d]["markdown"], d
        assert a[d]["n_pages"] == b[d]["n_pages"], d
        assert _tuples(a[d]["spans"]) == _tuples(b[d]["spans"]), d


@pytest.mark.parametrize(
    "drop_kinds", [frozenset(), frozenset({"title", "agenda"})], ids=["none", "title_agenda"]
)
def test_drop_kinds_parity_both_plans(spark, drop_kinds):
    """A non-default drop_kinds (frozenset() is what drop_boilerplate: false
    gives) reaches the kernel's boilerplate drop through both physical
    plans, and both match the assembly kernel run with the same set."""
    from docproc_spark.kernels.assembly import assemble_document

    n, seed = 72, 17
    docs = corpus.corpus_df(spark, n, seed=seed, mega_spans=300, partitions=4)
    want, differs = {}, 0
    for i in range(n):
        d = corpus.gen_doc(i, seed=seed, mega_spans=300)
        spans = list(d["spans"] or [])
        if d.get("raw_html"):
            spans += oracle.html_to_spans(d["raw_html"])
        md, out = assemble_document(spans, drop_kinds=drop_kinds)
        n_pages = max(s["page"] for s in out) + 1 if out else 0
        want[d["doc_id"]] = (md, n_pages, _tuples(out))
        differs += md != assemble_document(spans)[0]
    assert differs, "the sample must exercise drop_kinds"
    for res in (
        extract_map(docs, drop_kinds=drop_kinds),
        extract_salted(docs, drop_kinds=drop_kinds),
    ):
        got = {
            r["doc_id"]: (r["markdown"], r["n_pages"], _tuples(r["spans"]))
            for r in res.collect()
        }
        assert got == want


def _page(word: str, big: bool) -> str:
    # 31 main-content blocks when big, 2 otherwise: a threshold between the
    # two routes the big page, and only it, to the salted path
    paras = "".join(
        f"<p>Paragraph {i:02d} of the long page says {word} in a sentence long "
        "enough to keep.</p>"
        for i in range(30 if big else 1)
    )
    return (
        f"<html><head><title>Page</title></head><body><article>"
        f"<h1>Page {word}</h1>{paras}</article></body></html>"
    )


def test_rewritten_routed_file_is_read_again(spark, tmp_path, monkeypatch):
    """A salted-routed page rewritten under the same path between two
    extract calls: the second call extracts the new bytes, as it does for
    a small page in the same directory."""
    from docproc_spark.facade import DocprocSpark
    from docproc_spark.plans.explain import executed_plan

    d = tmp_path / "in"
    d.mkdir()
    eng = DocprocSpark(spark=spark)
    monkeypatch.setattr(pipeline, "MEGA_DOC_SPANS", 10)
    for word in ("ALPHA", "BRAVO"):  # same length: the file sizes do not change
        (d / "big.html").write_text(_page(word, big=True))
        (d / "small.html").write_text(_page(word, big=False))
        docs = eng.load_files(str(d)).filter("parse_error IS NULL")
        res = extract(docs)
        assert "Union" in executed_plan(res), "the big page takes the salted branch"
        md = {r["doc_id"]: r["markdown"] for r in res.collect()}
        assert set(md) == {"big.html", "small.html"}
        assert word in md["small.html"], md["small.html"]
        assert md["big.html"].count(word) == 31, md["big.html"]


def test_extract_salted_releases_its_rows(spark):
    """extract_salted persists nothing: no RDD is registered as persistent
    while its result is built, collected or held, so no rows of a call
    wait for the ContextCleaner after its result is dropped."""
    import threading

    sc = spark.sparkContext

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    docs = corpus.corpus_df(spark, 12, seed=61, mega_spans=200, partitions=2)
    before = persisted()
    res = extract_salted(docs)
    assert not persisted() - before, "nothing is persisted while the plan is built"

    seen, done = set(), threading.Event()

    def watch() -> None:
        while not done.is_set():
            seen.update(persisted() - before)
            done.wait(0.05)

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        rows = res.collect()
    finally:
        done.set()
        watcher.join()
    assert len(rows) == 12
    assert not seen, f"persisted during collect(): {sorted(seen)}"
    assert not persisted() - before, "nothing is persisted after collect()"


def _span(text, offset, page=0, kind="text", ref=None):
    return {"kind": kind, "text": text, "media_ref": ref, "page": page, "offset": offset}


BODY = "Body paragraph here that is long."


@pytest.mark.parametrize(
    "spans",
    [
        # sanitizes to the decomposed "é": the second sanitize inside
        # boilerplate_kind composes it to one character and drops it as blank
        [_span("e\u200b\u0301", 0), _span(BODY, 1)],
        # the same, then kept: composed text over 20 chars is substantive,
        # and the span keeps its once-sanitized (decomposed) text
        [_span("Caf\u200be\u0301 au lait and some more words", 0), _span(BODY, 1)],
        # a null array element reads as an all-null span
        [None, _span(BODY, 1), None],
        # no spans: posexplode_outer's placeholder row (null pos) must
        # give an empty document, not a span
        [],
        None,
        # a null element alone reads as one all-null span on page 0
        [None],
        # total_pages (the raster caption's "of 3") comes from a page whose
        # spans are all dropped boilerplate, so it has no output
        [_span(BODY, 0), _span(None, 0, page=1, kind="raster", ref="r" * 16),
         _span("Thank you!", 0, page=2), _span("Questions?", 1, page=2)],
        # a ref first seen as image 3 of page 0, and as image 1 of page 1
        # (listed first): its caption keeps the first sighting's context
        [_span(None, 0, page=1, kind="image", ref="a" * 16),
         _span(BODY, 0), _span(None, 1, kind="image"),
         _span(None, 2, kind="figure", ref="b" * 16),
         _span(None, 3, kind="image", ref="a" * 16)],
    ],
    ids=["not_nfc_blank", "not_nfc_kept", "null_element", "empty", "null_spans",
         "only_null_element", "raster_then_boilerplate", "ref_first_seen_earlier"],
)
def test_salted_map_and_oracle_agree_on_edge_spans(spark, spans):
    """The salted path, the Arrow map and the oracle give one result on
    spans whose sanitized text is not NFC, on null or empty span lists and
    elements, and on captions whose context comes from another page."""
    doc = {"doc_id": "edge", "doc_type": "pdf", "raw_html": None, "spans": spans}
    df = spark.createDataFrame([doc], schema=DOCUMENTS_SCHEMA)
    want = oracle.extract_doc(doc)
    if any(s and s["text"] == BODY for s in spans or ()):
        assert BODY in want["markdown"]
    for res in (extract_map(df), extract_salted(df)):
        (got,) = res.collect()
        assert got["markdown"] == want["markdown"]
        assert got["n_pages"] == want["n_pages"]
        assert _tuples(got["spans"]) == _tuples(want["spans"])


def test_routed_rows_that_share_a_doc_id_stay_separate(spark, monkeypatch):
    """Two input rows with one doc_id are two documents on the one-map
    path, so the salted path must not merge their pages and dedupe: it
    groups by a per-input-row key, and carries doc_id through."""
    rows = [
        {"doc_id": "same", "doc_type": "pdf", "raw_html": None,
         "spans": [_span(BODY, 0), _span("Only in the first row, page one.", 0, page=1)]},
        {"doc_id": "same", "doc_type": "pdf", "raw_html": None,
         "spans": [_span(BODY, 0), _span("Only in the second row.", 1)]},
        {"doc_id": "other", "doc_type": "pdf", "raw_html": None,
         "spans": [_span("A third document with its own text.", 0)]},
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)

    def result(frame):
        return sorted(
            (r["doc_id"], r["markdown"], r["n_pages"], _tuples(r["spans"]))
            for r in frame.collect()
        )

    one_map = result(extract_map(df))
    assert len(one_map) == 3
    monkeypatch.setattr(pipeline, "MEGA_DOC_SPANS", 1)
    assert result(extract(df)) == one_map
    assert result(extract_salted(df)) == one_map
