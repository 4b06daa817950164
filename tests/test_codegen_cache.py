"""get_spark sizes Spark's generated-class cache to the engine's plans
(spark.sql.codegen.cache.maxEntries): a repeated file-ingest chain reuses
the classes its first run compiled instead of compiling them again.

With Spark's default of 100 entries, a chain whose plans generate more
distinct sources than that evicts its own classes before it reuses them,
so every run recompiles about as much as the first."""

from __future__ import annotations

from docproc_spark import oracle
from docproc_spark.facade import DocprocSpark
from docproc_spark.kernels.assembly import assemble_document
from docproc_spark.operators.dedupe import first_wins_dedupe, minhash_neardup_pairs
from tests.test_ooxml import make_docx
from tests.test_pdf_source import make_pdf

# Over 800,000 characters, most of them a script block that parses to no
# span: a large page that keeps the run short. extract routes the loaded
# table on its real span count, so the page takes the one-map plan.
_BIG_PAGE = (
    "<html><head><title>Big page</title><script>var x = ["
    + "0," * 410_000
    + "];</script></head><body><article><h1>Big page</h1>"
    "<p>The body of the big page is one sentence long enough to keep.</p>"
    "</article></body></html>"
)
_PAGE = (
    "<html><body><article><h1>Small page</h1>"
    "<p>A paragraph of a small page about some topic or other.</p>"
    "</article></body></html>"
)


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (one per generated-source miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _chain(spark, path: str):
    eng = DocprocSpark(spark=spark)
    docs = eng.load_files(path).filter("parse_error IS NULL")
    table = eng.extract_table(docs).localCheckpoint(eager=True)
    kept = sorted(r["doc_id"] for r in first_wins_dedupe(table, text_col="markdown").collect())
    pairs = sorted(
        (r["a"], r["b"]) for r in minhash_neardup_pairs(table, text_col="markdown").collect()
    )
    md = {r["doc_id"]: r["markdown"] for r in table.collect()}
    table.unpersist()
    return kept, pairs, md


def test_repeated_file_ingest_reuses_generated_code(spark, tmp_path):
    assert len(_BIG_PAGE) / 8 > 100_000
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.pdf").write_bytes(make_pdf())
    (d / "b.docx").write_bytes(make_docx())
    (d / "b_copy.docx").write_bytes(make_docx())
    (d / "c.html").write_text(_PAGE)
    (d / "big.html").write_text(_BIG_PAGE)

    counts, results = [], []
    for _ in range(3):
        before = _compiles(spark)
        results.append(_chain(spark, str(d)))
        counts.append(_compiles(spark) - before)

    kept, pairs, md = results[0]
    assert results[1] == results[0] and results[2] == results[0]
    assert len(md) == 5
    assert md["big.html"] == assemble_document(oracle.html_to_spans(_BIG_PAGE))[0]
    assert len(kept) == 4 and ("b.docx", "b_copy.docx") in pairs
    first, _, third = counts
    assert third <= max(first // 5, 10), counts
