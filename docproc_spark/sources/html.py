"""Raw .html/.htm bytes → document-table ingestion kernel.

The reference has NO HTML loader (its EXT_TO_LOADER registry covers only
pdf/docx/pptx/xlsx — /root/reference/docproc/doc/loaders/factory.py:12-18),
but this engine's north rule makes HTML main-content extraction a
first-class pipeline stage (kernels/html.py, the Readability/Boilerpipe
density kernel consumed by ``pipeline.extract`` through the ``raw_html``
column). This module closes the ingestion side: a directory of real HTML
files becomes rows of the same document table the other loaders emit, with
the decoded markup in ``raw_html`` — boilerplate stripping stays in the
extraction pipeline (one strip implementation, one invariant), exactly as
it does for synthetic ``html_boiler`` documents.

Charset handling is the deterministic subset of the WHATWG encoding sniff
browsers run (https://html.spec.whatwg.org/multipage/parsing.html
#determining-the-character-encoding), in precedence order:

  1. byte-order mark: UTF-8 / UTF-16LE / UTF-16BE (BOM beats everything,
     including a contradicting meta tag — per spec);
  2. a ``<meta charset=...>`` / ``<meta http-equiv=content-type
     content="...charset=..">`` label inside the first 2048 bytes
     (the spec's prescan window is 1024; 2048 is a superset, harmless
     because the label must still parse), decoded with errors="replace"
     (a browser never hard-fails on stray bytes); the latin-1/ASCII label
     family maps to windows-1252 as the WHATWG label table prescribes;
  3. strict UTF-8 attempt (the modern-web default; strict so that real
     legacy bytes fall through instead of silently mojibake'ing);
  4. windows-1252 with errors="replace" (the spec's default fallback for
     unlabeled legacy content; its 5 unmapped bytes become U+FFFD).

An unknown/unsupported meta label is ignored (fall through to 3/4) rather
than quarantining — matching browser behavior, and keeping quarantine for
genuinely undecodable infrastructure failures.

Spark-first shape: one ``mapInPandas`` pass over the distributed
``binaryFile`` scan — Arrow-batched, a single Python crossing, no shuffle;
decode is O(bytes) per document and fans out linearly with executors.
"""

from __future__ import annotations

import codecs
import re
from typing import Iterable, Iterator

from pyspark.sql import DataFrame

from docproc_spark.sources.ooxml import OOXML_OUT_SCHEMA

# WHATWG label table (subset): these labels all decode as windows-1252.
_CP1252_LABELS = {
    "iso-8859-1", "iso8859-1", "iso_8859-1", "latin1", "latin-1",
    "l1", "ascii", "us-ascii", "cp819", "ibm819", "csisolatin1",
    "windows-1252", "cp1252", "x-cp1252", "ansi_x3.4-1968",
}

_META_CHARSET_RE = re.compile(
    r"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:+-]+)", re.IGNORECASE
)


def sniff_charset(data: bytes) -> tuple[str, str]:
    """(codec, errors) chosen by the BOM/meta/utf-8/cp1252 cascade.

    Returns a codec name Python's ``codecs`` knows; never raises.
    """
    if data.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig", "replace"
    # UTF-16 BOMs: check LE before the bare FF/FE prefixes can confuse
    if data.startswith(b"\xff\xfe"):
        return "utf-16-le", "replace"
    if data.startswith(b"\xfe\xff"):
        return "utf-16-be", "replace"
    head = data[:2048].decode("latin-1", "replace")
    m = _META_CHARSET_RE.search(head)
    if m:
        label = m.group(1).strip().lower()
        if label in _CP1252_LABELS or label == "x-user-defined":
            return "cp1252", "replace"
        try:
            info = codecs.lookup(label)
            # WHATWG: a meta-declared UTF-16/UTF-32 family label is a lie
            # (the prescan just parsed these bytes as ASCII-compatible) →
            # treat as UTF-8. Resolve through codecs so python aliases
            # ("utf16", "u16", "unicodelittleunmarked") hit the rule too,
            # not just literal spellings. (WHATWG itself has no utf-32
            # labels — an unknown label would fall through to the UTF-8
            # attempt anyway — but python DOES resolve "utf-32"/"u32", and
            # decoding ASCII-compatible bytes with them is total mush.)
            if info.name.startswith(("utf-16", "utf-32")):
                return "utf-8", "replace"
            # binary transforms (hex, base64, zlib) pass lookup() but
            # blow up in str-producing decode — not charsets, skip them
            if getattr(info, "_is_text_encoding", True):
                return label, "replace"
        except LookupError:
            pass  # unknown label: fall through, like a browser would
    try:
        data.decode("utf-8")
        return "utf-8", "strict"
    except UnicodeDecodeError:
        return "cp1252", "replace"


def decode_html_bytes(data: bytes) -> str:
    codec, errors = sniff_charset(data)
    text = data.decode(codec, errors)
    # a decoded BOM character from utf-16 BOMs (utf-16-le/be keep it as
    # U+FEFF content) is markup noise — strip it like utf-8-sig does
    return text.lstrip("﻿")


def load_html(
    docs: DataFrame,
    *,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """(doc_id, content:binary) → document table (OOXML_OUT_SCHEMA, the
    shared loader contract): ``raw_html`` carries the decoded markup,
    ``spans`` stays null (the extraction pipeline derives HTML spans
    through the density kernel), ``n_spans`` is 0 — no pre-parsed spans.
    pipeline.extract stages this derived table and routes each page on
    its real HTML-derived span count (pipeline._staged); a parquet copy
    of it is routed on n_spans plus a len(raw_html)/8 estimate for
    HTML-borne content, from the footers or by the routing probe.
    """
    import pandas as pd

    id_c, b_c = doc_id_col, content_col

    def gen(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for did, blob in zip(pdf[id_c], pdf[b_c]):
                row = {
                    "doc_id": did,
                    "doc_type": "html",
                    "raw_html": None,
                    "spans": None,
                    "n_spans": None,
                    "sheet_names": None,
                    "parse_error": None,
                }
                try:
                    row["raw_html"] = decode_html_bytes(bytes(blob))
                    row["n_spans"] = 0
                except Exception as e:  # noqa: BLE001 — per-doc quarantine
                    row["parse_error"] = f"{type(e).__name__}: {e}"
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in OOXML_OUT_SCHEMA])

    return docs.mapInPandas(gen, schema=OOXML_OUT_SCHEMA)
