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

The kernel runs on a document's spans as parallel field sequences
(kinds, texts, refs, pages), ordered by (page, offset) with ties in input
order, so a page is a run of equal pages. It is two phases. page_partial
does one run's own work (sanitize, boilerplate drop, media ordinals, the
raster-page test, the page's raw text); merge_pages does the
document-wide work over the page partials, in any order (first-wins
dedupe across pages, first-sighting captions, raster captions, page
assembly, the raw-text fallback) and appends the output spans to an
OutSpans. The dedupe key is the sanitized text itself: two texts have
equal sha256s (the reference's key) exactly when they are equal, barring
a collision.

The Arrow map of whole documents (pipeline._extract_batches) flattens a
whole batch's span fields, sorts them once and runs both phases per
document over slices of the batch's lists, with a verdict per span from
kernels.sanitize.unchanged_gates: where a batch gate proves that
sanitize leaves a text unchanged and how it classifies, page_partial
skips the scalar calls. The salted plan for mega-documents
(pipeline_salted) runs page_partial per (input row, page) group and
merge_pages per input row, in different tasks.

extract_document and assemble_document are the scalar adapter the oracle
calls: they unzip one document's spans (unzip_spans) and run the same two
phases with no verdicts, so every span takes the scalar functions and the
oracle keeps checking the gated engine against them.
extract_document appends the HTML-derived spans to the input spans, and
returns the page count too.

The adapter's input spans are mappings or attribute objects (Spark Rows)
with fields (kind, text, media_ref, page, offset); a None span reads as
all-null fields, the way the Arrow paths read a null element.
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
    GATE_DROP,
    GATE_NONE,
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

# (kinds, texts, refs, pages): parallel span field sequences, ordered by
# (page, offset) within a document
Fields = tuple[Sequence, Sequence, Sequence, Sequence]


class OutSpans:
    """Output spans as parallel field lists (kind, text, media_ref, page),
    appended document after document; a span's offset is its position
    within its document."""

    __slots__ = ("kind", "text", "media_ref", "page")

    def __init__(self):
        self.kind: list = []
        self.text: list = []
        self.media_ref: list = []
        self.page: list = []

    def __len__(self) -> int:
        return len(self.kind)

    def rows(self) -> list[dict]:
        """The spans as dicts, for a single document's OutSpans."""
        return [
            {"kind": k, "text": t, "media_ref": r, "page": p, "offset": i}
            for i, (k, t, r, p) in enumerate(
                zip(self.kind, self.text, self.media_ref, self.page)
            )
        ]


def page_partial(
    page: int,
    fields: Fields,
    lo: int,
    hi: int,
    verdicts: Optional[Sequence[int]] = None,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
) -> dict:
    """The work of one page that needs no other page.

    The page's spans are [lo, hi) of ``fields``, in (offset, input) order.
    A null or empty kind reads as "text". ``verdicts`` (one per span of
    ``fields``, kernels.sanitize.unchanged_gates) lets a textual span
    skip sanitize and the classifier where a batch gate decided them;
    without it every span takes the scalar functions. The partial holds:

      page        the page number
      kinds,      the textual spans that survive sanitize and the
      texts       boilerplate drop with non-empty text, in order: their
                  kinds and sanitized texts
      media_idx,  per media span with a ref: its 0-based ordinal among ALL
      media_refs  media spans of the page, ref-less ones included (the
                  first-sighting context counts them), and its ref
      rasters     the refs of the page's raster spans when the page
                  qualifies for the full-page caption: no textual span
                  with non-blank raw text and no media span
      raw         the page's non-null raw texts joined by "\n\n", None
                  when it has none or when the page has texts, media or
                  rasters: then the document assembles some output, and
                  the raw-text fallback is never read
    """
    kinds, texts, refs, _ = fields
    text_kinds: list = []
    kept: list = []
    media_idx: list = []
    media_refs: list = []
    n_media = 0
    has_raw_text = False
    for i in range(lo, hi):
        kind = kinds[i] or "text"
        if kind in TEXTUAL_KINDS:
            text = texts[i]
            if verdicts is None or verdicts[i] == GATE_NONE:
                has_raw_text = has_raw_text or bool(text and str(text).strip())
                text = sanitize_text(text)
                if not text or sanitized_boilerplate_kind(text) in drop_kinds:
                    continue
            else:
                # a gate proved sanitize_text(text) == text, a non-blank text
                has_raw_text = True
                if verdicts[i] == GATE_DROP:
                    continue
            text_kinds.append(kind)
            kept.append(text)
        elif kind in MEDIA_KINDS:
            if refs[i]:
                media_idx.append(n_media)
                media_refs.append(refs[i])
            n_media += 1
    rasters = []
    if not has_raw_text and not n_media:
        rasters = [refs[i] for i in range(lo, hi) if kinds[i] == RASTER_KIND and refs[i]]
    raw = None
    if not (kept or media_refs or rasters):
        raws = [str(texts[i]) for i in range(lo, hi) if texts[i] is not None]
        raw = PAGE_JOIN.join(raws) if raws else None
    return {
        "page": page, "kinds": text_kinds, "texts": kept, "media_idx": media_idx,
        "media_refs": media_refs, "rasters": rasters, "raw": raw,
    }


def page_partials(
    fields: Fields,
    lo: int = 0,
    hi: Optional[int] = None,
    verdicts: Optional[Sequence[int]] = None,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
) -> list[dict]:
    """page_partial over each page run of the document [lo, hi) of
    ``fields`` (all of it by default)."""
    pages = fields[3]
    hi = len(pages) if hi is None else hi
    partials = []
    while lo < hi:
        page, end = pages[lo], lo + 1
        while end < hi and pages[end] == page:
            end += 1
        partials.append(page_partial(page, fields, lo, end, verdicts, drop_kinds=drop_kinds))
        lo = end
    return partials


def merge_pages(
    partials: Sequence[dict], out: OutSpans, *, drop_exact_duplicates: bool = True
) -> str:
    """The document-wide work over page_partial's partials, given in any
    order. Appends the document's output spans to ``out`` and returns its
    markdown.

    In page order: first-wins exact dedupe across pages, one caption per
    media ref with the context of its first sighting, full-page captions
    for the refs of raster pages that no media span captioned ("Page N of
    total", total = the last page with any span + 1), then page assembly
    and the raw-text fallback. Output spans carry, per page, the
    surviving text spans (offset order), then one figure span per media
    occurrence (caption text, original media_ref)."""
    pages = sorted(partials, key=lambda p: p["page"])
    total_pages = pages[-1]["page"] + 1 if pages else 0

    captions: dict[str, str] = {}
    for p in pages:
        for idx, ref in zip(p["media_idx"], p["media_refs"]):
            if ref not in captions:
                ctx = FIRST_SIGHT_CTX.format(page=p["page"] + 1, idx=idx + 1)
                captions[ref] = caption_stub(ref, ctx)
    for p in pages:
        for ref in p["rasters"]:
            if ref not in captions:
                ctx = RASTER_CTX.format(page=p["page"] + 1, total=total_pages)
                captions[ref] = caption_stub(ref, ctx)

    seen: set[str] = set()
    page_parts: list[str] = []
    for p in pages:
        kinds, texts = p["kinds"], p["texts"]
        if drop_exact_duplicates and texts:
            first = []
            for i, t in enumerate(texts):
                if t not in seen:
                    seen.add(t)
                    first.append(i)
            if len(first) < len(texts):
                kinds, texts = [kinds[i] for i in first], [texts[i] for i in first]
        # a raster page has no media span, so at most one list is non-empty
        refs = p["media_refs"] + p["rasters"]
        part = PAGE_JOIN.join(texts).strip()
        figures = [captions[r] for r in refs]
        if figures:
            part += FIGURES_OPEN + FIGURES_JOIN.join(figures) + FIGURES_CLOSE
        if not part:
            continue
        page_parts.append(PAGE_MARKER.format(n=p["page"] + 1) + part)
        out.kind += kinds
        out.kind += ["figure"] * len(refs)
        out.text += texts
        out.text += figures
        out.media_ref += [None] * len(texts)
        out.media_ref += refs
        out.page += [p["page"]] * (len(texts) + len(refs))

    markdown = PAGE_JOIN.join(page_parts)
    if not markdown:
        # raw fallback (get_full_text semantics): join raw texts,
        # unsanitized. No page added a span: a page's spans come with its
        # non-empty part.
        markdown = PAGE_JOIN.join(p["raw"] for p in pages if p["raw"] is not None)
    return markdown


def _span_get(s, field: str):
    # exact dict first: the oracle's spans are dicts, and the Mapping ABC
    # check costs several times more than the read itself
    if type(s) is dict or isinstance(s, Mapping):
        return s.get(field)
    if s is None:
        return None
    return getattr(s, field)


def unzip_spans(spans: Sequence) -> Fields:
    """One document's spans (mappings or Rows) as Fields: ordered by
    (page, offset) with a null page or offset read as 0, spans that tie
    keeping their input order."""
    cols = [
        [_span_get(s, "kind") for s in spans],
        [_span_get(s, "text") for s in spans],
        [_span_get(s, "media_ref") for s in spans],
        [int(_span_get(s, "page") or 0) for s in spans],
    ]
    offsets = [int(_span_get(s, "offset") or 0) for s in spans]
    pages = cols[3]
    order = sorted(range(len(offsets)), key=lambda i: (pages[i], offsets[i]))
    return tuple([col[i] for i in order] for col in cols)


def assemble_document(
    spans: Sequence,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
) -> tuple[str, list[dict]]:
    """Assemble one document with the scalar functions (no gates).
    Returns (markdown, output spans as dicts with renumbered 0-based
    offsets in document order; see merge_pages)."""
    out = OutSpans()
    markdown = merge_pages(
        page_partials(unzip_spans(spans), drop_kinds=drop_kinds),
        out,
        drop_exact_duplicates=drop_exact_duplicates,
    )
    return markdown, out.rows()


def html_blocks(raw_html, url=None) -> list[tuple[str, str | None, str | None]]:
    """HTML doc → its main-content blocks (kind, text, media_ref), the
    input spans of page 0 at offsets 0, 1, ...

    ``url`` anchors relative image srcs; anything but a non-empty str
    (None, bytes, NaN) means no base, never a TypeError that the HTML
    kernel's blanket except would turn into zero spans."""
    if not raw_html:
        return []
    base = url if isinstance(url, str) and url else None
    return html_main_blocks(raw_html, base_url=base)


def html_spans(raw_html, url=None) -> list[dict]:
    """HTML doc → input spans on page 0, one per main-content block."""
    return [
        {"kind": kind, "text": text, "media_ref": ref, "page": 0, "offset": i}
        for i, (kind, text, ref) in enumerate(html_blocks(raw_html, url))
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
    tie the stable sort in unzip_spans keeps input spans first.
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
