"""PDF layout kernels: text-block reading order + region detection.

The reference consumes PyMuPDF's block tuples (x0, y0, x1, y1, text, …) and
keeps PyMuPDF's block order (doc/loaders/pdf_loader.py:22-36); for synthetic
fixtures the order is defined as sort by (y0, x0) — top-to-bottom then
left-to-right (SURVEY §2.1 S4). Region types beyond TEXT come from vision in
the reference; here deterministic layout heuristics stand in:

  table   ≥2 lines each containing the " | " cell separator
  header  block's vertical center in the top HEADER_BAND of the page
  footer  block's vertical center in the bottom HEADER_BAND of the page
  text    everything else

Blocks with blank text (by Python str.strip()) are dropped
(pdf_loader.py:27). The kernel is plain Python over a document's
blocks: sources.pdf calls blocks_to_spans inside its mapInPandas parse,
so the cluster path and the tests run the same function.
"""

from __future__ import annotations

HEADER_BAND = 0.08  # fraction of page height treated as header/footer zone


def classify_block(text: str, y_center: float, page_height: float) -> str:
    lines = [l for l in (text or "").split("\n") if l.strip()]
    if sum(1 for l in lines if " | " in l) >= 2:
        return "table"
    if page_height > 0:
        if y_center < HEADER_BAND * page_height:
            return "header"
        if y_center > (1 - HEADER_BAND) * page_height:
            return "footer"
    return "text"


def blocks_to_spans(
    blocks: list[dict],
    page_height: float = 0.0,
    page_heights: dict[int, float] | None = None,
) -> list[dict]:
    """Pure kernel: PyMuPDF-style block dicts → ordered span dicts.

    Each block: {page, x0, y0, x1, y1, text}. Output spans carry 0-based
    offsets in (page, y0, x0) reading order; blank blocks dropped.
    ``page_heights`` overrides the scalar per page — mixed-size documents
    (letter + A3) classify header/footer against each page's OWN height.
    """
    kept = [b for b in blocks if b.get("text") and str(b["text"]).strip()]
    kept.sort(key=lambda b: (int(b.get("page", 0)), float(b["y0"]), float(b["x0"])))
    out = []
    for i, b in enumerate(kept):
        yc = (float(b["y0"]) + float(b["y1"])) / 2
        page = int(b.get("page", 0))
        h = (page_heights or {}).get(page, page_height)
        out.append(
            {
                "kind": classify_block(str(b["text"]), yc, h),
                "text": str(b["text"]).strip(),
                "media_ref": None,
                "page": page,
                "offset": i,
            }
        )
    return out
