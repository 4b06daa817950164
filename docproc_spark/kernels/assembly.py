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
    pages = sorted(by_page)
    total_pages = (max(pages) + 1) if pages else 0

    # --- text path: sanitize → boilerplate drop → first-wins dedupe -------
    seen_hashes: set[str] = set()
    kept_text: dict[int, list[dict]] = {p: [] for p in pages}
    for d in norm:
        if d["kind"] not in TEXTUAL_KINDS:
            continue
        sanitized = sanitize_text(d["text"])
        bp = sanitized_boilerplate_kind(sanitized)
        if bp in drop_kinds:
            continue
        if drop_exact_duplicates and sanitized:
            h = content_hash(sanitized)
            if h in seen_hashes:
                continue
            seen_hashes.add(h)
        kept_text[d["page"]].append({**d, "text": sanitized})

    # --- media path: content-hash dedupe, first-sighting context ----------
    # img_idx = 0-based position among media spans within the page.
    ref_ctx: dict[str, str] = {}
    page_figs: dict[int, list[tuple[int, str]]] = {p: [] for p in pages}
    for p in pages:
        media_on_page = [d for d in by_page[p] if d["kind"] in MEDIA_KINDS]
        for i, d in enumerate(media_on_page):
            ref = d["media_ref"]
            if not ref:
                continue
            if ref not in ref_ctx:
                ref_ctx[ref] = FIRST_SIGHT_CTX.format(page=p + 1, idx=i + 1)
            page_figs[p].append((i, ref))

    captions = {ref: caption_stub(ref, ctx) for ref, ctx in ref_ctx.items()}

    # --- rasterized-page fallback ------------------------------------------
    # A page qualifies if it has no textual span with non-blank RAW text and
    # no media spans; its raster spans each get a full-page caption.
    for p in pages:
        has_raw_text = any(
            d["kind"] in TEXTUAL_KINDS and d["text"] and str(d["text"]).strip()
            for d in by_page[p]
        )
        has_media = any(d["kind"] in MEDIA_KINDS for d in by_page[p])
        if has_raw_text or has_media:
            continue
        rasters = [d for d in by_page[p] if d["kind"] == RASTER_KIND]
        for i, d in enumerate(rasters):
            ref = d["media_ref"] or ""
            if not ref:
                continue
            ctx = RASTER_CTX.format(page=p + 1, total=total_pages)
            if ref not in captions:
                captions[ref] = caption_stub(ref, ctx)
            page_figs[p].append((i, ref))

    # --- page assembly -------------------------------------------------------
    out_spans: list[dict] = []
    page_parts: list[str] = []
    offset = 0
    for p in pages:
        texts = [d["text"] for d in kept_text[p] if d["text"]]
        page_text = PAGE_JOIN.join(texts)
        figs = [captions[ref] for _, ref in sorted(page_figs[p], key=lambda x: x[0])]
        part = page_text.strip()
        if figs:
            part += FIGURES_OPEN + FIGURES_JOIN.join(figs) + FIGURES_CLOSE
        if part:
            page_parts.append(PAGE_MARKER.format(n=p + 1) + part)
            for d in kept_text[p]:
                if not d["text"]:
                    continue
                out_spans.append(
                    {
                        "kind": d["kind"],
                        "text": d["text"],
                        "media_ref": None,
                        "page": p,
                        "offset": offset,
                    }
                )
                offset += 1
            for _, ref in sorted(page_figs[p], key=lambda x: x[0]):
                out_spans.append(
                    {
                        "kind": "figure",
                        "text": captions[ref],
                        "media_ref": ref,
                        "page": p,
                        "offset": offset,
                    }
                )
                offset += 1

    markdown = PAGE_JOIN.join(page_parts)
    if not markdown:
        # raw fallback (get_full_text semantics): join raw texts, unsanitized
        raws = [str(d["text"]) for d in norm if d["text"] is not None]
        markdown = PAGE_JOIN.join(raws)
        out_spans = []
    return markdown, out_spans


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
    n_pages is the last assembled page + 1 (0 when nothing assembled)."""
    merged = [*(spans or ()), *html_spans(raw_html, url)]
    markdown, out_spans = assemble_document(
        merged, drop_kinds=drop_kinds, drop_exact_duplicates=drop_exact_duplicates
    )
    n_pages = max(s["page"] for s in out_spans) + 1 if out_spans else 0
    return markdown, n_pages, out_spans
