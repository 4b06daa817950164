"""Deterministic caption stub for media spans.

The reference captions images with a vision LLM / Azure OCR
(/root/reference/docproc/extractors/vision_llm.py:85-126), but its own test
configuration disables vision (tests/conftest.py:22-23) so the correctness
path is deterministic. We keep the *structure* — content-hash dedupe, one
caption computed per unique image, context string fixed at the FIRST
sighting (vision_llm.py:390-409) — and stand in a pure function of
(media_ref, first-sighting context) for the model call. A real provider can
be plugged in behind the same signature later.
"""

from __future__ import annotations

import pandas as pd

CAPTION_TEMPLATE = "Figure {short}: {ctx}"


def caption_stub(media_ref: str, ctx: str) -> str:
    """Deterministic caption for one unique image.

    ``media_ref`` is the sha256 hex of the media bytes; ``ctx`` is the
    reference's first-sighting context string "Page {p}, image {i}.".
    """
    return CAPTION_TEMPLATE.format(short=media_ref[:12], ctx=ctx)


def caption_series(media_ref: pd.Series, ctx: pd.Series) -> pd.Series:
    """``caption_stub`` per element of one batch; a missing or non-string
    ref or context gives a null caption."""
    return pd.Series(
        [
            caption_stub(r, c) if isinstance(r, str) and isinstance(c, str) else None
            for r, c in zip(media_ref, ctx)
        ],
        index=media_ref.index,
        dtype=object,
    )


# ---------------------------------------------------------------------------
# Vision-output post-processing (reference vision_llm.py:107-123, 167-183)
# ---------------------------------------------------------------------------
def _strip_md_fences(raw: str) -> str:
    """Reference-exact fence parse (vision_llm.py:107-118): only replies
    STARTING with ``` are treated as fenced, and then only lines strictly
    INSIDE ``` blocks survive. A start/end-anchored regex diverged on
    replies with trailing prose after the closing fence ('```json\\n{..}\\n
    ```\\nNote: done.' kept the stray fence and the prose; the reference
    keeps just the block body)."""
    raw = raw.strip()
    if not raw.startswith("```"):
        return raw
    kept, in_block = [], False
    for line in raw.split("\n"):
        if line.startswith("```"):
            in_block = not in_block
            continue
        if in_block:
            kept.append(line)
    return "\n".join(kept)


def strip_md_fences_series(s: pd.Series) -> pd.Series:
    """Strip markdown ``` fences wrapping a model's JSON reply —
    per-element exact mirror of the reference parser (strings are short
    model replies; correctness over vectorization here)."""
    return s.fillna("").map(_strip_md_fences)


def flatten_extraction(d: dict) -> str:
    """Extraction dict → readable text, reference-exact field order and
    separators (vision_llm.py:167-183)."""
    parts = []
    if d.get("text"):
        parts.append(str(d["text"]))
    if d.get("equations"):
        eqs = d["equations"] if isinstance(d["equations"], list) else [d["equations"]]
        parts.append("Equations: " + " ; ".join(str(e) for e in eqs if e))
    if d.get("tables"):
        parts.append(str(d["tables"]))
    if d.get("figures_descriptions"):
        figs = (
            d["figures_descriptions"]
            if isinstance(d["figures_descriptions"], list)
            else [d["figures_descriptions"]]
        )
        parts.append("Figures: " + " ; ".join(str(f) for f in figs if f))
    if d.get("data_points") and isinstance(d["data_points"], dict):
        parts.append("Data: " + str(d["data_points"]))
    return "\n".join(parts) if parts else ""
