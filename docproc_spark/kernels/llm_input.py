"""LLM-input sanitization (reference: docproc/sanitize/llm_input.py:38-70).

Strip prompt-injection phrasing, collapse whitespace, truncate to a
character budget at the last space — semantics reproduced exactly; the
pandas-UDF path applies the scalar per element.
"""

from __future__ import annotations

import re

import pandas as pd

INJECTION_PATTERNS = [
    r"ignore\s+(all\s+)?(previous|above|prior)\s+instructions",
    r"disregard\s+(all\s+)?(previous|above)\s+(instructions|prompts)",
    r"forget\s+(everything|all)\s+(you\s+)?(know|have\s+been\s+told)",
    r"you\s+are\s+now\s+(a|in)\s+",
    r"system\s*:\s*",
    r"assistant\s*:\s*",
    r"user\s*:\s*",
    r"\[system\]",
    r"\[assistant\]",
    r"<\|(system|assistant|user)\|>",
    r"jailbreak",
    r"do\s+not\s+follow\s+(any\s+)?(previous|above)",
    r"new\s+instructions\s*:",
    r"override\s*:",
    r"pretend\s+you\s+are",
    r"act\s+as\s+if\s+you",
]

_COMPILED = [re.compile(p, re.IGNORECASE) for p in INJECTION_PATTERNS]
_CHARS_PER_TOKEN = 4
_WS = re.compile(r"\s+")


def sanitize_for_llm(text: object, max_tokens: int = 2000) -> str:
    """Scalar reference-semantics implementation."""
    if not text or not isinstance(text, str):
        return ""
    out = text.strip()
    for pat in _COMPILED:
        out = pat.sub(" ", out)
    out = _WS.sub(" ", out).strip()
    max_chars = max(1, max_tokens * _CHARS_PER_TOKEN)
    if len(out) > max_chars:
        head = out[:max_chars]
        out = head.rsplit(" ", 1)[0] if " " in head else head
    return out.strip()


def sanitize_for_llm_series(s: pd.Series, max_tokens: int = 2000) -> pd.Series:
    """``sanitize_for_llm`` over one Arrow batch; nulls map to ""."""
    return s.map(
        lambda v: sanitize_for_llm(v, max_tokens), na_action="ignore"
    ).fillna("")
