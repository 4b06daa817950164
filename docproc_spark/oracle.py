"""Single-process reference-semantics oracle.

The invariant source of truth: a straight Python implementation of the
deterministic extraction path (the reference's own tests run with vision and
LLM refine disabled — /root/reference/tests/conftest.py:22-23 — so this
covers exactly the semantics the reference asserts on). The Spark pipeline
must produce, per document, a span sequence equal to this oracle's on
(kind, text, media_ref, order).
"""

from __future__ import annotations

from typing import Iterable

from docproc_spark.kernels.assembly import extract_document, html_spans

# HTML doc → input text spans on page 0 (the kernel the engine calls too)
html_to_spans = html_spans


def extract_doc(doc: dict, *, drop_exact_duplicates: bool = True) -> dict:
    """Oracle extraction for one document row (dict with doc_id/raw_html/spans)."""
    markdown, n_pages, out_spans = extract_document(
        doc.get("spans"),
        doc.get("raw_html"),
        doc.get("url"),
        drop_exact_duplicates=drop_exact_duplicates,
    )
    return {
        "doc_id": doc["doc_id"],
        "markdown": markdown,
        "n_pages": n_pages,
        "spans": out_spans,
    }


def extract_corpus(docs: Iterable[dict]) -> dict[str, dict]:
    """Oracle over a corpus → {doc_id: result}."""
    return {d["doc_id"]: extract_doc(d) for d in docs}


# ---------------------------------------------------------------------------
# Staged expected output for the driver's DuckDB flagship comparison
# ---------------------------------------------------------------------------
# Bump when the summary encoding (not the corpus) changes.
FLAGSHIP_ORACLE_VERSION = 1

# Field/record separators for the span-sequence hash. Sanitize strips all
# control chars except \n\t\r, and captions are clean ASCII, so neither
# byte can occur inside a surviving span text.
_FS = "\x1f"
_RS = "\x1e"


def flagship_summary(doc: dict) -> dict:
    """Hash-level summary of one document's oracle extraction.

    md_hash = md5(markdown utf-8); span_hash = md5 of the ordered span
    sequence encoded kind␟text␟ref␟offset joined by ␞ — the exact encoding
    the Spark query reproduces with concat_ws/array_join/md5, so the
    driver's value-hash compare verifies full span-sequence equality.
    """
    import hashlib

    res = extract_doc(doc)
    md_hash = hashlib.md5(res["markdown"].encode("utf-8")).hexdigest()
    parts = [
        f"{s['kind']}{_FS}{s['text']}{_FS}{s['media_ref'] or ''}{_FS}{s['offset']}"
        for s in res["spans"]
    ]
    span_hash = hashlib.md5(_RS.join(parts).encode("utf-8")).hexdigest()
    return {
        "doc_id": res["doc_id"],
        "n_pages": res["n_pages"],
        "n_spans": len(res["spans"]),
        "md_hash": md_hash,
        "span_hash": span_hash,
    }


def stage_flagship_expected(
    path: str, n_docs: int, seed: int = 42, mega_spans: int = 2000
) -> str:
    """Write the oracle's expected flagship summary as parquet (no Spark).

    Gives the DuckDB side of the driver's correctness gate a table to read
    (read_parquet(path)) so extract_flagship is verified on rows + schema +
    value hash, not rows-only. Idempotent; cache keyed by corpus + oracle
    version AND the corpus parameters (n_docs/seed/mega_spans) so a stale
    file can't poison the comparison — versions alone let a second call
    with different parameters at the same path silently return the old
    table.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from docproc_spark.corpus import CORPUS_VERSION, gen_doc

    marker = (
        path
        + f".c{CORPUS_VERSION}o{FLAGSHIP_ORACLE_VERSION}"
        + f"n{n_docs}s{seed}m{mega_spans}"
    )
    if os.path.exists(path) and os.path.exists(marker):
        return path
    # remove EVERY marker for this path, not just the one being written:
    # a lingering old-parameter marker would make a later call with those
    # parameters cache-hit against the new file's different contents
    import glob as _glob

    for stale in [path] + _glob.glob(path + ".c*o*"):
        if os.path.exists(stale):
            os.remove(stale)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = [
        flagship_summary(gen_doc(i, seed=seed, mega_spans=mega_spans))
        for i in range(n_docs)
    ]
    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("n_pages", pa.int64()),
            ("n_spans", pa.int64()),
            ("md_hash", pa.string()),
            ("span_hash", pa.string()),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    open(marker, "w").close()
    return path
