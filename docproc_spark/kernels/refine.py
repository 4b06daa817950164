"""Deterministic (mechanical) refinement — the invariant-safe subset of the
reference's LLM refine stage (/root/reference/docproc/refiners/llm_refine.py).

The reference refines via a chat model; its own tests disable it
(tests/conftest.py:22-23). We reproduce the MECHANICAL rules verbatim:

  - page-marker chunking for context limits (llm_refine.py:132-153,
    CHUNK_CHARS=80_000): split on the [Page N] regex, greedy-pack chunks,
    break only at page boundaries
  - page-marker removal (REFINE_SYSTEM rule 6)
  - unicode→LaTeX symbol normalization (REFINE_SYSTEM rule 2 table:
    α β ω θ ∑ ∫ √)

The LLM rewriting itself stays an optional, non-invariant stage behind the
provider interface.
"""

from __future__ import annotations

import re

CHUNK_CHARS = 80_000

_PAGE_MARKER_SPLIT = re.compile(r"(\[Page \d+\])")
_PAGE_MARKER = re.compile(r"\[Page \d+\]\n?")

# symbol → LaTeX (llm_refine.py:53-61)
SYMBOL_TABLE = (
    ("α", r"\alpha"),
    ("β", r"\beta"),
    ("ω", r"\omega"),
    ("θ", r"\theta"),
    ("∑", r"\sum"),
    ("∫", r"\int"),
    ("√", r"\sqrt{}"),
)


def chunk_by_pages(text: str, chunk_chars: int = CHUNK_CHARS) -> list[str]:
    """Greedy-pack page-delimited chunks ≤ chunk_chars (reference exact)."""
    parts = _PAGE_MARKER_SPLIT.split(text)
    chunks: list[str] = []
    current: list[str] = []
    current_len = 0
    for p in parts:
        if _PAGE_MARKER_SPLIT.match(p):
            if current and current_len + len(p) > chunk_chars and current_len > 0:
                chunks.append("".join(current))
                current = [p]
                current_len = len(p)
            else:
                current.append(p)
                current_len += len(p)
        else:
            current.append(p)
            current_len += len(p)
    if current:
        chunks.append("".join(current))
    return chunks if chunks else [text]


def strip_page_markers(text: str) -> str:
    return _PAGE_MARKER.sub("", text)


def normalize_symbols(text: str) -> str:
    for sym, latex in SYMBOL_TABLE:
        text = text.replace(sym, latex)
    return text


def refine_mechanical(text: str) -> str:
    """Marker strip + symbol normalization (scalar, oracle path)."""
    if text is None:
        return ""
    return normalize_symbols(strip_page_markers(text))


# ---------------------------------------------------------------------------
# Full refine orchestration (reference llm_refine.py:156-201)
# ---------------------------------------------------------------------------
# Short stand-ins for the reference's prompt constants (llm_refine.py:33-127);
# only the fenced CONTENT structure is semantically load-bearing — the stub
# provider parses it back out, a real provider forwards the whole prompt.
REFINE_SYSTEM = "Refine extracted document content into clean markdown."
REFINE_USER_TEMPLATE = (
    "Refine the following extracted content into clean markdown.\n\n"
    "CONTENT:\n```\n{content}\n```"
)


def refine_with_provider(raw_text, provider, chunk_chars: int = CHUNK_CHARS) -> str:
    """Chunk → per-chunk chat → strip → "\\n\\n" rejoin, with the reference's
    fallbacks: blank input unchanged, blank chunks skipped, empty responses
    dropped, zero refined parts → raw text, ANY provider failure → raw text
    (llm_refine.py:156-201 exactly; only the model behind provider.chat is
    pluggable)."""
    if not raw_text or not str(raw_text).strip():
        return raw_text if raw_text is not None else ""
    raw_text = str(raw_text)
    try:
        chunks = chunk_by_pages(raw_text, chunk_chars)
        refined_parts: list[str] = []
        for chunk in chunks:
            if not chunk.strip():
                continue
            user = REFINE_USER_TEMPLATE.format(content=chunk.strip())
            out = (provider.chat(REFINE_SYSTEM, user) or "").strip()
            if out:
                refined_parts.append(out)
        if refined_parts:
            return "\n\n".join(refined_parts)
        return raw_text
    except Exception:
        return raw_text
