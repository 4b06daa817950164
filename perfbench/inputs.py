"""Seeded benchmark inputs and their oracle expectations.

Everything here is a pure function of the seed and the size parameters and
runs without Spark, so it is staged before any timer starts:

* span corpora — ``corpus.gen_doc`` rows written as several parquet files
  (a multi-file table, so the scan splits across tasks), with the expected
  per-document ``oracle.flagship_summary`` hashes;
* a directory of generated PDF, DOCX, PPTX, XLSX and HTML files with a set
  share of exact and near duplicates and one page that the pipeline routes
  to its salted mega-document path, with the expected extraction of each
  file computed by the single-process parsers and ``oracle.extract_doc``.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import shutil
import zipfile
import zlib
from xml.sax.saxutils import escape

MEGA_THRESHOLD = 100_000  # pipeline.extract's default mega_doc_threshold

_FS = "\x1f"
_RS = "\x1e"

_WORDS = (
    "spark arrow batch column vector shuffle partition broadcast join filter "
    "window sort merge scan parquet schema span page figure table text media "
    "document extract sanitize dedupe caption markdown river stone cloud "
    "garden lantern harbor meadow orbit signal quarry timber valley"
).split()
# non-ASCII vocabulary: the sanitize kernel's NFC path only runs on these
_WORDS_INTL = "café naïve über straße résumé 東京 数据 Ωmega ĳssel".split()


def summary_hashes(markdown: str, spans: list) -> tuple[str, str]:
    """(md5 of markdown, md5 of the span sequence) in the encoding of
    ``oracle.flagship_summary``; ``spans`` holds dicts or Rows with
    kind/text/media_ref/offset."""
    md = hashlib.md5((markdown or "").encode("utf-8")).hexdigest()
    parts = [
        f"{s['kind']}{_FS}{s['text']}{_FS}{s['media_ref'] or ''}{_FS}{s['offset']}"
        for s in spans
    ]
    return md, hashlib.md5(_RS.join(parts).encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# span corpora
# ---------------------------------------------------------------------------
def stage_span_corpus(
    out_dir: str, n_docs: int, seed: int, n_files: int
) -> dict:
    """Write ``n_docs`` corpus documents as ``n_files`` parquet files under
    ``out_dir``. Returns {"expected": {doc_id: (n_pages, n_spans, md_hash,
    span_hash)} from the oracle, "routed": [doc ids whose routing estimate
    exceeds ``MEGA_THRESHOLD``]}. Cached on disk, keyed by every generation
    parameter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docproc_spark.corpus import CORPUS_VERSION, gen_doc
    from docproc_spark.oracle import FLAGSHIP_ORACLE_VERSION, flagship_summary

    key = f"v{CORPUS_VERSION}o{FLAGSHIP_ORACLE_VERSION}n{n_docs}s{seed}f{n_files}"
    expected_path = out_dir.rstrip("/") + f".expected.{key}.json"
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            meta = json.load(f)
        meta["expected"] = {k: tuple(v) for k, v in meta["expected"].items()}
        return meta
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    docs = [gen_doc(i, seed=seed) for i in range(n_docs)]
    expected = {}
    for d in docs:
        s = flagship_summary(d)
        expected[s["doc_id"]] = (s["n_pages"], s["n_spans"], s["md_hash"], s["span_hash"])
        d["n_spans"] = len(d["spans"] or [])
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("page", pa.int32()), ("offset", pa.int32())]
    )
    schema = pa.schema(
        [("doc_id", pa.string()), ("doc_type", pa.string()), ("raw_html", pa.string()),
         ("spans", pa.list_(span_t)), ("n_spans", pa.int64())]
    )
    for i in range(n_files):
        chunk = docs[i * n_docs // n_files:(i + 1) * n_docs // n_files]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=schema),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
        )
    meta = {"expected": expected,
            "routed": [d["doc_id"] for d in docs if routing_estimate(d) > MEGA_THRESHOLD]}
    with open(expected_path, "w") as f:
        json.dump(meta, f)
    return meta


def sample_texts(n_docs: int, seed: int, limit: int = 400) -> tuple[list[str], list[str]]:
    """(non-ASCII span texts, raw HTML documents) of a corpus — the inputs
    the single-process kernel timings run on."""
    from docproc_spark.corpus import gen_doc

    texts, htmls = [], []
    for i in range(n_docs):
        d = gen_doc(i, seed=seed)
        if d["raw_html"] and len(htmls) < limit:
            htmls.append(d["raw_html"])
        for s in d["spans"] or []:
            t = s.get("text")
            if t and not t.isascii():
                texts.append(t)
    return texts, htmls


# ---------------------------------------------------------------------------
# binary files
# ---------------------------------------------------------------------------
_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_R = "http://schemas.openxmlformats.org/package/2006/relationships"


def _zip(parts: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in parts.items():
            z.writestr(name, content)
    return buf.getvalue()


def _sentence(rng: random.Random, intl: bool = False) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(6, 14))]
    if intl:
        words[rng.randrange(len(words))] = rng.choice(_WORDS_INTL)
    return " ".join(words).capitalize() + "."


def _pdf(pages: list[list[str]]) -> bytes:
    """Classic PDF: catalog, page tree, one page object and one
    Flate-compressed content stream per page; one text line per block."""
    n = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>\n",
        f"<< /Type /Pages /Kids [{kids}] /Count {n} /MediaBox [0 0 612 792] >>\n".encode(),
    ]
    for i, lines in enumerate(pages):
        content = "".join(
            f"BT 72 {700 - 40 * j} Td ({line}) Tj ET\n" for j, line in enumerate(lines)
        ).encode("latin-1")
        data = zlib.compress(content)
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * i} 0 R >>\n".encode()
        )
        objs.append(
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(data)
            + data + b"\nendstream\n"
        )
    out = [b"%PDF-1.4\n"]
    for i, body in enumerate(objs, start=1):
        out.append(b"%d 0 obj" % i + body + b"endobj\n")
    out.append(b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    return b"".join(out)


def _docx(paras: list[str], table: list[list[str]]) -> bytes:
    body = "".join(f"<w:p><w:r><w:t>{escape(p)}</w:t></w:r></w:p>" for p in paras)
    rows = "".join(
        "<w:tr>" + "".join(
            f"<w:tc><w:p><w:r><w:t>{escape(c)}</w:t></w:r></w:p></w:tc>" for c in row
        ) + "</w:tr>"
        for row in table
    )
    doc = (
        f'<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="{_W}"><w:body>'
        f"{body}<w:tbl>{rows}</w:tbl></w:body></w:document>"
    )
    return _zip({"[Content_Types].xml": "<Types/>", "word/document.xml": doc})


def _pptx(slides: list[list[str]]) -> bytes:
    ids = "".join(
        f'<p:sldId id="{256 + i}" r:id="rId{i + 1}"/>' for i in range(len(slides))
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Target="slides/slide{i + 1}.xml"/>'
        for i in range(len(slides))
    )
    parts = {
        "[Content_Types].xml": "<Types/>",
        "ppt/presentation.xml": (
            f'<p:presentation xmlns:p="{_P}" xmlns:r="{_R}"><p:sldIdLst>{ids}'
            "</p:sldIdLst></p:presentation>"
        ),
        "ppt/_rels/presentation.xml.rels": (
            f'<Relationships xmlns="{_PKG_R}">{rels}</Relationships>'
        ),
    }
    for i, texts in enumerate(slides):
        shapes = "".join(
            f"<p:sp><p:txBody><a:p><a:r><a:t>{escape(t)}</a:t></a:r></a:p>"
            "</p:txBody></p:sp>"
            for t in texts
        )
        parts[f"ppt/slides/slide{i + 1}.xml"] = (
            f'<p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>{shapes}'
            "</p:spTree></p:cSld></p:sld>"
        )
    return _zip(parts)


def _xlsx(rows: list[list[str]]) -> bytes:
    """One sheet of inline-string cells; one table span per row."""
    def col(j: int) -> str:
        return chr(65 + j)

    body = "".join(
        f'<row r="{i + 1}">' + "".join(
            f'<c r="{col(j)}{i + 1}" t="inlineStr"><is><t>{escape(v)}</t></is></c>'
            for j, v in enumerate(row)
        ) + "</row>"
        for i, row in enumerate(rows)
    )
    return _zip({
        "[Content_Types].xml": "<Types/>",
        "xl/workbook.xml": (
            f'<workbook xmlns="{_S}" xmlns:r="{_R}"><sheets>'
            '<sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{_PKG_R}">'
            '<Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{_S}"><sheetData>{body}</sheetData></worksheet>'
        ),
    })


def _html(title: str, paras: list[str]) -> bytes:
    nav = "".join(f'<li><a href="/p{i}">link {i}</a></li>' for i in range(8))
    main = "".join(f"<p>{escape(p)}</p>" for p in paras)
    return (
        f"<!doctype html><html><head><meta charset='utf-8'><title>{escape(title)}"
        f"</title></head><body><nav><ul>{nav}</ul></nav><article>"
        f"<h1>{escape(title)}</h1>{main}</article>"
        "<footer>Copyright footer text, all rights reserved.</footer></body></html>"
    ).encode("utf-8")


def _render(fmt: str, content: list[str], rng: random.Random) -> bytes:
    """One file of ``fmt`` carrying the paragraphs in ``content``."""
    if fmt == "pdf":
        per = 4
        return _pdf([content[i:i + per] for i in range(0, len(content), per)])
    if fmt == "docx":
        table = [[rng.choice(_WORDS) for _ in range(3)] for _ in range(3)]
        return _docx(content, table)
    if fmt == "pptx":
        return _pptx([content[i:i + 3] for i in range(0, len(content), 3)])
    if fmt == "xlsx":
        return _xlsx([[p, str(rng.randint(0, 10**6))] for p in content])
    return _html(content[0], content[1:])


_FORMATS = ("pdf", "docx", "pptx", "xlsx", "html")


def _content(rng: random.Random, fmt: str) -> list[str]:
    # PDF literal strings stay ASCII (the generator writes latin-1 bytes)
    intl = fmt != "pdf"
    return [_sentence(rng, intl and rng.random() < 0.3) for _ in range(rng.randint(8, 16))]


BIG_PAGE = "b0000.html"


def _big_page(rng: random.Random) -> bytes:
    """A ~0.9 MB web page: a large inline script and a long navigation list
    around a normal article. ``pipeline.extract`` estimates HTML-borne
    spans as len(raw_html)/8, so this page routes to the salted two-phase
    path (``pipeline_salted``) although it holds only a few hundred blocks."""
    script = "<script>var rows = [" + ",".join(str(i) for i in range(120_000)) + "];</script>"
    nav = "".join(f'<li><a href="/p{i}">link {i}</a></li>' for i in range(3000))
    main = "".join(f"<p>{escape(_sentence(rng))}</p>" for _ in range(400))
    return (
        f"<!doctype html><html><head><title>Big page</title>{script}</head><body>"
        f"<nav><ul>{nav}</ul></nav><article><h1>Big page</h1>{main}</article>"
        "</body></html>"
    ).encode("utf-8")


def make_file_dir(
    out_dir: str, n_files: int, seed: int, dup_share: float, near_share: float,
    big_page: bool,
) -> dict:
    """Generate the file directory and its expectations.

    Originals are named ``d<i>.<ext>``; exact copies ``x<i>.<ext>`` and
    near copies (one sentence replaced) ``y<i>.<ext>``, so an original
    sorts before its copies and stays the first-wins keeper. With
    ``big_page`` one more page (``BIG_PAGE``) is large enough to route to
    the salted path. Returns {"expected": {doc_id: (n_pages, n_spans, md, sh)},
    "exact_dups": [(keeper, dup)], "routed": [doc ids whose routing estimate
    exceeds ``MEGA_THRESHOLD``]}.
    Cached on disk, keyed by every parameter."""
    from docproc_spark.corpus import CORPUS_VERSION
    from docproc_spark.oracle import FLAGSHIP_ORACLE_VERSION

    key = (
        f"v{CORPUS_VERSION}o{FLAGSHIP_ORACLE_VERSION}n{n_files}s{seed}"
        f"d{dup_share}e{near_share}b{int(big_page)}"
    )
    meta_path = os.path.join(os.path.dirname(out_dir.rstrip("/")), f"files.{key}.json")
    if os.path.exists(meta_path) and os.path.isdir(out_dir):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["expected"] = {k: tuple(v) for k, v in meta["expected"].items()}
        return meta
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = random.Random(seed * 7919 + 17)
    files: dict[str, bytes] = {}
    originals = []
    for i in range(n_files):
        fmt = _FORMATS[i % len(_FORMATS)]
        content = _content(rng, fmt)
        name = f"d{i:04d}.{fmt}"
        files[name] = _render(fmt, content, random.Random(rng.random()))
        originals.append((name, fmt, content))
    exact = []
    picks = rng.sample(range(n_files), int(n_files * (dup_share + near_share)))
    n_exact = int(n_files * dup_share)
    for j, i in enumerate(picks):
        name, fmt, content = originals[i]
        if j < n_exact:
            dup = f"x{i:04d}.{fmt}"
            files[dup] = files[name]
            exact.append((name, dup))
        else:
            edited = list(content)
            edited[rng.randrange(1, len(edited))] = _sentence(rng)
            dup = f"y{i:04d}.{fmt}"
            files[dup] = _render(fmt, edited, random.Random(rng.random()))
    if big_page:
        files[BIG_PAGE] = _big_page(rng)
    for name, data in files.items():
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
    parsed = {name: parse_file(name, data) for name, data in files.items()}
    meta = {
        "expected": {name: expected_of(doc) for name, doc in parsed.items()},
        "exact_dups": exact,
        "routed": sorted(name for name, doc in parsed.items()
                         if routing_estimate(doc) > MEGA_THRESHOLD),
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def parse_file(name: str, data: bytes) -> dict:
    """The loader's row for one file, built by the single-process parsers
    (same span numbering as ``sources.pdf.load_pdf`` / ``load_ooxml``)."""
    from docproc_spark.sources.html import decode_html_bytes
    from docproc_spark.sources.ooxml import parse_one
    from docproc_spark.sources.pdf import parse_pdf_bytes

    fmt = name.rsplit(".", 1)[1].lower()
    if fmt in ("html", "htm"):
        return {"doc_id": name, "raw_html": decode_html_bytes(data), "spans": None}
    raw = parse_pdf_bytes(data) if fmt == "pdf" else parse_one(fmt, data)[0]
    spans = [
        {"kind": k, "text": t, "media_ref": m, "page": p, "offset": i}
        for i, (k, t, m, p) in enumerate(raw)
    ]
    return {"doc_id": name, "raw_html": None, "spans": spans}


def routing_estimate(doc: dict) -> int:
    """``pipeline.extract``'s mega-document routing estimate for one row:
    its span count plus len(raw_html)/8."""
    return len(doc.get("spans") or ()) + len(doc.get("raw_html") or "") // 8


def expected_of(doc: dict) -> tuple:
    from docproc_spark.oracle import extract_doc

    res = extract_doc(doc)
    md, sh = summary_hashes(res["markdown"], res["spans"])
    return (res["n_pages"], len(res["spans"]), md, sh)
