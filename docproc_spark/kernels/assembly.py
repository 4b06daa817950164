"""Per-document interleaved assembly — the single-process reference kernel.

This is the semantic heart of the engine and the source of truth the Spark
pipeline is tested against (span-sequence equality). It reproduces the
reference extractor's deterministic text path:

  - per-span sanitize            (sanitizer.py:25-71 semantics)
  - boilerplate drop             (dedupe.py:46-78, drop kinds thank_you/questions/blank)
  - first-wins exact dedupe      (dedupe.py:86-129: order-preserving, sha256 of sanitized)
  - media content-hash dedupe    (vision_llm.py:292-294,390-409: caption once per unique
                                  media_ref, context fixed at FIRST sighting, repeats
                                  still listed on every page where they occur)
  - rasterized-page fallback     (vision_llm.py:490-523: pages with no text and no
                                  images get a full-page caption)
  - page assembly                (vision_llm.py:525-539: page text + "\n[Figures: a ; b]",
                                  "[Page N]\n" prefix, empty pages skipped, "\n\n" join)
  - raw-text fallback            (vision_llm.py:540-541 → pdf_loader.py:56-61: if nothing
                                  assembled, join raw span texts with "\n\n")

assemble_document is two phases. page_partial does each page's own work
(sanitize, boilerplate drop, content hash, media ordinals, the raster-page
test, the page's raw text); merge_pages does the document-wide work over
the page partials, in any order (first-wins dedupe across pages,
first-sighting captions, raster captions, page assembly, the raw-text
fallback). The Arrow map of whole documents and the oracle call
assemble_document, which runs both phases in one call; the salted plan for
mega-documents (pipeline_salted) runs page_partial per (doc, page) group
and merge_pages per document, in different tasks.

extract_document is the whole per-document extraction the engine runs (the
Spark pipeline maps it over Arrow batches of whole documents) and the oracle
calls: HTML-derived spans appended to the input spans, assemble_document,
and the page count.

Input spans are mappings or attribute objects (Spark Rows) with fields
(kind, text, media_ref, page, offset); a None span reads as all-null fields,
the way the salted path reads a null array element.
Kinds: textual = {text, table, equation, header, footer, handwriting,
unclassified}; media = {image, figure}; raster = {raster} (an empty page that
exists only as a page bitmap).
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Optional, Sequence

from docproc_spark.kernels.captions import caption_stub
from docproc_spark.kernels.html import html_main_blocks
from docproc_spark.kernels.sanitize import (
    DROP_KINDS_DEFAULT,
    content_hash,
    sanitize_text,
    sanitized_boilerplate_kind,
)

TEXTUAL_KINDS = frozenset(
    {"text", "table", "equation", "header", "footer", "handwriting",
     "unclassified", "code"}  # code: HTML <pre> blocks (kernels/html.py)
)
MEDIA_KINDS = frozenset({"image", "figure"})
RASTER_KIND = "raster"

FIRST_SIGHT_CTX = "Page {page}, image {idx}."      # vision_llm.py:398 (1-based)
RASTER_CTX = "Page {page} of {total}."             # vision_llm.py:509 (1-based)
FIGURES_OPEN = "\n[Figures: "
FIGURES_JOIN = " ; "
FIGURES_CLOSE = "]"
PAGE_MARKER = "[Page {n}]\n"
PAGE_JOIN = "\n\n"


def _span_get(s, field: str):
    # exact dict first: Arrow-decoded spans are dicts, and the Mapping ABC
    # check costs several times more than the read itself
    if type(s) is dict or isinstance(s, Mapping):
        return s.get(field)
    if s is None:
        return None
    return getattr(s, field)


def page_spans(spans: Sequence) -> list[tuple[int, list[dict]]]:
    """Normalized spans grouped by page: (page, spans) in page order, each
    page's spans in (offset, input) order.

    A null or empty kind reads as "text", a null page or offset as 0. The
    sort is stable, so spans that tie on (page, offset) keep their input
    order."""
    norm = []
    for s in spans:
        norm.append(
            {
                "kind": _span_get(s, "kind") or "text",
                "text": _span_get(s, "text"),
                "media_ref": _span_get(s, "media_ref"),
                "page": int(_span_get(s, "page") or 0),
                "offset": int(_span_get(s, "offset") or 0),
            }
        )
    norm.sort(key=lambda d: (d["page"], d["offset"]))
    # group once — per-page list comprehensions over the full span list
    # would be O(pages × spans), hopeless on a 10^6-span mega-doc
    by_page: dict[int, list[dict]] = {}
    for d in norm:
        by_page.setdefault(d["page"], []).append(d)
    return list(by_page.items())


def page_partial(
    page: int,
    spans: Sequence[dict],
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
) -> dict:
    """The work of one page that needs no other page.

    ``spans`` are the page's normalized spans (page_spans) in (offset,
    input) order. The partial holds:

      page     the page number
      texts    the textual spans that survive sanitize and the boilerplate
               drop with non-empty text, in order: {kind, text (sanitized),
               hash (content_hash, None when exact duplicates are kept)}
      media    {idx, ref} per media span with a ref; idx is its 0-based
               ordinal among ALL media spans of the page, ref-less ones
               included (the first-sighting context counts them)
      rasters  the refs of the page's raster spans when the page qualifies
               for the full-page caption: no textual span with non-blank
               raw text and no media span
      raw      the page's non-null raw texts joined by "\n\n", None when
               it has none or when the page has texts, media or rasters:
               then the document assembles some output, and the raw-text
               fallback is never read
    """
    texts = []
    media = []
    n_media = 0
    has_raw_text = False
    for d in spans:
        kind = d["kind"]
        if kind in TEXTUAL_KINDS:
            raw = d["text"]
            has_raw_text = has_raw_text or bool(raw and str(raw).strip())
            sanitized = sanitize_text(raw)
            if not sanitized or sanitized_boilerplate_kind(sanitized) in drop_kinds:
                continue
            h = content_hash(sanitized) if drop_exact_duplicates else None
            texts.append({"kind": kind, "text": sanitized, "hash": h})
        elif kind in MEDIA_KINDS:
            if d["media_ref"]:
                media.append({"idx": n_media, "ref": d["media_ref"]})
            n_media += 1
    rasters = []
    if not has_raw_text and not n_media:
        rasters = [d["media_ref"] for d in spans if d["kind"] == RASTER_KIND and d["media_ref"]]
    raw = None
    if not (texts or media or rasters):
        raws = [str(d["text"]) for d in spans if d["text"] is not None]
        raw = PAGE_JOIN.join(raws) if raws else None
    return {"page": page, "texts": texts, "media": media, "rasters": rasters, "raw": raw}


def merge_pages(partials: Sequence[dict]) -> tuple[str, list[dict]]:
    """The document-wide work over page_partial's partials, given in any
    order. Returns (markdown, output span sequence) like assemble_document.

    In page order: first-wins exact dedupe across pages, one caption per
    media ref with the context of its first sighting, full-page captions
    for the refs of raster pages that no media span captioned ("Page N of
    total", total = the last page with any span + 1), then page assembly
    and the raw-text fallback."""
    pages = sorted(partials, key=lambda p: p["page"])
    total_pages = pages[-1]["page"] + 1 if pages else 0

    captions: dict[str, str] = {}
    for p in pages:
        for m in p["media"]:
            if m["ref"] not in captions:
                ctx = FIRST_SIGHT_CTX.format(page=p["page"] + 1, idx=m["idx"] + 1)
                captions[m["ref"]] = caption_stub(m["ref"], ctx)
    for p in pages:
        for ref in p["rasters"]:
            if ref not in captions:
                ctx = RASTER_CTX.format(page=p["page"] + 1, total=total_pages)
                captions[ref] = caption_stub(ref, ctx)

    seen_hashes: set[str] = set()
    out_spans: list[dict] = []
    page_parts: list[str] = []
    for p in pages:
        kept = []
        for t in p["texts"]:
            h = t["hash"]
            if h is not None:
                if h in seen_hashes:
                    continue
                seen_hashes.add(h)
            kept.append(t)
        # a raster page has no media span, so at most one list is non-empty
        refs = [m["ref"] for m in p["media"]] + p["rasters"]
        part = PAGE_JOIN.join(t["text"] for t in kept).strip()
        if refs:
            part += FIGURES_OPEN + FIGURES_JOIN.join(captions[r] for r in refs) + FIGURES_CLOSE
        if not part:
            continue
        page_parts.append(PAGE_MARKER.format(n=p["page"] + 1) + part)
        for t in kept:
            out_spans.append(
                {"kind": t["kind"], "text": t["text"], "media_ref": None,
                 "page": p["page"], "offset": len(out_spans)}
            )
        for ref in refs:
            out_spans.append(
                {"kind": "figure", "text": captions[ref], "media_ref": ref,
                 "page": p["page"], "offset": len(out_spans)}
            )

    markdown = PAGE_JOIN.join(page_parts)
    if not markdown:
        # raw fallback (get_full_text semantics): join raw texts, unsanitized
        markdown = PAGE_JOIN.join(p["raw"] for p in pages if p["raw"] is not None)
        out_spans = []
    return markdown, out_spans


def assemble_document(
    spans: Sequence,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
) -> tuple[str, list[dict]]:
    """Assemble one document. Returns (markdown, output span sequence).

    Output spans carry renumbered 0-based offsets in document order:
    surviving text spans first within each page (offset order), then one
    figure span per media occurrence (caption text, original media_ref).
    """
    return merge_pages(
        [
            page_partial(
                page, on_page,
                drop_kinds=drop_kinds, drop_exact_duplicates=drop_exact_duplicates,
            )
            for page, on_page in page_spans(spans)
        ]
    )


def html_spans(raw_html, url=None) -> list[dict]:
    """HTML doc → input spans on page 0, one per main-content block.

    ``url`` anchors relative image srcs; anything but a non-empty str
    (None, bytes, NaN) means no base, never a TypeError that the HTML
    kernel's blanket except would turn into zero spans."""
    if not raw_html:
        return []
    base = url if isinstance(url, str) and url else None
    return [
        {"kind": kind, "text": text, "media_ref": ref, "page": 0, "offset": i}
        for i, (kind, text, ref) in enumerate(html_main_blocks(raw_html, base_url=base))
    ]


def extract_document(
    spans: Optional[Sequence],
    raw_html: Optional[str] = None,
    url: Optional[str] = None,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
) -> tuple[str, int, list[dict]]:
    """Extract one document → (markdown, n_pages, output spans).

    The HTML-derived spans follow the input spans, so on a (page, offset)
    tie the stable sort in assemble_document keeps input spans first.
    n_pages is page_count of the output spans."""
    merged = [*(spans or ()), *html_spans(raw_html, url)]
    markdown, out_spans = assemble_document(
        merged, drop_kinds=drop_kinds, drop_exact_duplicates=drop_exact_duplicates
    )
    return markdown, page_count(out_spans), out_spans


def page_count(out_spans: Sequence[dict]) -> int:
    """A document's n_pages: its last assembled page + 1, 0 when nothing
    assembled."""
    return max(s["page"] for s in out_spans) + 1 if out_spans else 0
