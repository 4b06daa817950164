"""Span-sequence equality: Spark pipeline vs single-process oracle.

The driver-checked invariant (BASELINE.json): per document, the ordered
sequence of (kind, text, media_ref, order) must be identical between the
distributed pipeline and the reference-semantics oracle, across every
fixture class in the deterministic corpus.
"""

from __future__ import annotations

import pytest

from docproc_spark import corpus, oracle
from docproc_spark.pipeline import extract

N_DOCS = 180  # ≥2× the class-weight cycle → every fixture class ≥2 instances
MEGA_SPANS = 600  # scaled-down mega_doc for test speed


@pytest.fixture(scope="module")
def results(spark):
    docs = corpus.corpus_df(spark, N_DOCS, seed=42, mega_spans=MEGA_SPANS, partitions=8)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract(docs).collect()
    }
    want = oracle.extract_corpus(
        corpus.gen_doc(i, seed=42, mega_spans=MEGA_SPANS) for i in range(N_DOCS)
    )
    return got, want


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_all_docs_present(results):
    got, want = results
    assert set(got) == set(want)


def test_span_sequence_equality(results):
    got, want = results
    mismatches = []
    for doc_id, w in want.items():
        g = got[doc_id]
        if _tuples(g["spans"]) != _tuples(w["spans"]):
            mismatches.append(doc_id)
    assert not mismatches, (
        f"{len(mismatches)} docs mismatch, first: {mismatches[0]}\n"
        f"spark={_tuples(got[mismatches[0]]['spans'])[:8]}\n"
        f"oracle={_tuples(want[mismatches[0]]['spans'])[:8]}"
    )


def test_markdown_equality(results):
    got, want = results
    bad = [d for d in want if got[d]["markdown"] != want[d]["markdown"]]
    assert not bad, (
        f"{len(bad)} docs markdown mismatch, first: {bad[0]}\n"
        f"spark={got[bad[0]]['markdown'][:400]!r}\n"
        f"oracle={want[bad[0]]['markdown'][:400]!r}"
    )


def test_n_pages_equality(results):
    got, want = results
    bad = [d for d in want if got[d]["n_pages"] != want[d]["n_pages"]]
    assert not bad, f"first mismatch {bad[:3]}"


def test_every_fixture_class_covered():
    classes = {corpus.doc_class_for_index(i) for i in range(N_DOCS)}
    assert classes == set(corpus.DOC_CLASSES)


def test_drop_exact_duplicates_toggle(spark):
    """Config toggle parity: with drop_exact_duplicates=False both engine
    and oracle keep every surviving duplicate span."""
    docs = [corpus.gen_doc(i, seed=11) for i in range(60)
            if corpus.doc_class_for_index(i) == "dup_spans"]
    assert docs
    import pandas as pd

    from docproc_spark.schema import DOCUMENTS_SCHEMA

    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "doc_type", "raw_html", "spans"]),
        schema=DOCUMENTS_SCHEMA,
    )
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in extract(df, drop_exact_duplicates=False).collect()}
    for d in docs:
        want = oracle.extract_doc(d, drop_exact_duplicates=False)
        assert _tuples(got[d["doc_id"]]["spans"]) == _tuples(want["spans"])
        # and the duplicates really are kept: more spans than the deduped run
        deduped = oracle.extract_doc(d)
        assert len(want["spans"]) > len(deduped["spans"])


def test_extract_handles_empty_and_null_span_inputs(spark):
    import pandas as pd

    from docproc_spark.schema import DOCUMENTS_SCHEMA

    empty = spark.createDataFrame([], schema=DOCUMENTS_SCHEMA)
    assert extract(empty).count() == 0
    nullish = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": "n1", "doc_type": "pdf", "raw_html": None, "spans": None},
                {"doc_id": "n2", "doc_type": "pdf", "raw_html": None, "spans": []},
            ],
            columns=["doc_id", "doc_type", "raw_html", "spans"],
        ),
        schema=DOCUMENTS_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in extract(nullish).collect()}
    assert set(rows) == {"n1", "n2"}
    for r in rows.values():
        assert r["markdown"] == "" and r["n_pages"] == 0 and r["spans"] == []


def test_empty_string_kind_treated_as_text(spark):
    """Dirty external tables may carry kind='' — the oracle's `or "text"`
    normalization catches it, and the engine must agree (a bare coalesce
    left '' in neither the textual nor media kind sets)."""
    import pandas as pd

    from docproc_spark.schema import DOCUMENTS_SCHEMA

    doc = {
        "doc_id": "ek1",
        "doc_type": "pdf",
        "raw_html": None,
        "spans": [
            {"kind": "", "text": "Hello world", "media_ref": None,
             "page": 0, "offset": 0},
        ],
    }
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=DOCUMENTS_SCHEMA)
    got = extract(df).collect()[0]
    want = oracle.extract_doc(doc)
    assert got["markdown"] == want["markdown"] == "[Page 1]\nHello world"
    assert _tuples(got["spans"]) == _tuples(want["spans"])


def test_extract_on_canonical_span_only_shape(spark, tmp_path):
    """The engine's input contract is just (doc_id, spans); extract must
    run without raw_html, produce identical results, and — with the
    ingest-time n_spans column — push BOTH routing-branch filters into the
    parquet scan (null n_spans routes normal, never dropped)."""
    import re

    from docproc_spark.corpus import corpus_df

    full = corpus_df(spark, 40, seed=13, mega_spans=300, partitions=4)
    # html-free docs only, so span-only output can equal the full run's
    no_html = full.filter("raw_html IS NULL OR length(raw_html) = 0")
    path = str(tmp_path / "span_only")
    no_html.select("doc_id", "spans", "n_spans").write.parquet(path)
    span_only = spark.read.parquet(path)
    # a threshold under the corpus maximum keeps the two-branch plan this
    # test is about; at the default threshold the probe would elide the
    # salted branch — that path is covered by
    # test_probe_elides_dead_salted_branch.
    res = extract(span_only, mega_doc_threshold=5)
    # both branches scan in the one executed plan
    plan = res._jdf.queryExecution().executedPlan().toString()
    pushed = set(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert any("GreaterThan(n_spans" in p for p in pushed), pushed
    assert any("Or(LessThanOrEqual(n_spans" in p for p in pushed), pushed
    want = {
        r["doc_id"]: (r["markdown"], r["n_pages"])
        for r in extract(no_html).collect()
    }
    got = {r["doc_id"]: (r["markdown"], r["n_pages"]) for r in res.collect()}
    assert got == want


def test_probe_elides_dead_salted_branch(spark, tmp_path):
    """With an ingest-time n_spans column whose max is under the routing
    threshold, the default eager probe builds the single-branch plan (no
    Union, one scan); with a doc over the threshold the union survives.
    Results are identical either way."""
    from docproc_spark.corpus import corpus_df

    path = str(tmp_path / "probe_corpus")
    corpus_df(spark, 40, seed=13, mega_spans=300, partitions=4).write.parquet(path)
    docs = spark.read.parquet(path)

    elided = extract(docs)
    plan = elided._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan[:2000]

    # threshold below the corpus max estimate (10) → probe must KEEP the union
    routed = extract(docs, mega_doc_threshold=5)
    routed_plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in routed_plan

    want = {
        r["doc_id"]: (r["markdown"], r["n_pages"]) for r in routed.collect()
    }
    got = {r["doc_id"]: (r["markdown"], r["n_pages"]) for r in elided.collect()}
    assert got == want


def _span_doc(doc_id: str, n: int) -> dict:
    spans = [
        {"kind": "text", "text": f"Sentence {i} of {doc_id} long enough to keep.",
         "media_ref": None, "page": i // 8, "offset": i % 8}
        for i in range(n)
    ]
    return {"doc_id": doc_id, "doc_type": "pdf", "raw_html": None, "spans": spans}


def test_derived_input_is_parsed_once_and_routed_on_real_spans(spark):
    """A mapInPandas-derived input is staged once per extract call: the
    parse runs once per row, the plan is the single Arrow map when no document
    crosses the threshold, and the salted union when one document's real
    span count does, though the table's n_spans column says 0."""
    import pandas as pd

    from docproc_spark.plans.explain import executed_plan

    sizes = {"small": 3, "large": 30}
    docs = [_span_doc(d, n) for d, n in sizes.items()]
    parsed = spark.sparkContext.accumulator(0)
    by_id = {d["doc_id"]: d for d in docs}

    def parse(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                parsed.add(1)
                rows.append({**by_id[doc_id], "n_spans": 0})
            yield pd.DataFrame(rows, columns=["doc_id", "raw_html", "spans", "n_spans"])

    src = spark.createDataFrame(pd.DataFrame({"doc_id": list(sizes)}))
    derived = src.mapInPandas(
        parse, "doc_id string, raw_html string, "
        "spans array<struct<kind:string,text:string,media_ref:string,page:int,offset:int>>, "
        "n_spans int",
    )

    want = {}
    for d in docs:
        w = oracle.extract_doc(d)
        want[d["doc_id"]] = (w["markdown"], w["n_pages"], _tuples(w["spans"]))

    def run(**opts) -> tuple[int, str]:
        """(parse calls, executed plan) of one extract call, construction
        included: the routing probe's job parses while extract() builds
        the plan."""
        before = parsed.value
        res = extract(derived, **opts)
        plan = executed_plan(res)
        got = {r["doc_id"]: (r["markdown"], r["n_pages"], _tuples(r["spans"]))
               for r in res.collect()}
        assert got == want
        return parsed.value - before, plan

    calls, plan = run()
    assert "Union" not in plan and plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, "the parse sits behind the staged rows"
    assert calls == 2

    calls, plan = run(mega_doc_threshold=10)
    assert "Union" in plan and "FlatMapGroupsInArrow" in plan, "the salted branch is planned"
    assert calls == 2
