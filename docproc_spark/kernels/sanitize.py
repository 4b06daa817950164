"""Sanitization + boilerplate kernels (reference semantics).

Semantics reproduced from the reference extractor (behavior only):
  - sanitize:     /root/reference/docproc/sanitize/sanitizer.py:25-71
  - boilerplate:  /root/reference/docproc/sanitize/dedupe.py:34-78

Order of sanitize steps (each step's output feeds the next):
  1. Unicode NFC normalization
  2. strip control chars (Unicode category Cc) except \\n \\t \\r
  3. strip zero-width chars {U+200B, U+200C, U+200D, U+FEFF, U+00AD}
  4. collapse runs of spaces/tabs to one space
  5. strip spaces around newlines
  6. cap consecutive newlines at 2
  7. strip(); drop to "" if fewer than 2 chars remain

The Cc category is exactly C0 (U+0000-U+001F) + DEL (U+007F) + C1
(U+0080-U+009F), so step 2 is a fixed character class; its ASCII part is
what the JVM-side ASCII twin (pipeline.sanitize_ascii_col) deletes with
one F.translate.
"""

from __future__ import annotations

import hashlib
import re
import unicodedata

import pandas as pd

# Cc minus {\t=09, \n=0A, \r=0D}
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")
_ZERO_WIDTH_RE = re.compile("[\\u200b\\u200c\\u200d\\ufeff\\u00ad]")
_WS_RE = re.compile(r"[ \t]+")
_NL_PAD_RE = re.compile(r" *\n *")
_NL_RUN_RE = re.compile(r"\n{3,}")

MIN_CONTENT_LENGTH = 2


def sanitize_text(text: object) -> str:
    """Scalar reference-semantics sanitize (oracle path)."""
    if text is None or not isinstance(text, str):
        return ""
    s = unicodedata.normalize("NFC", text)
    s = _CTRL_RE.sub("", s)
    s = _ZERO_WIDTH_RE.sub("", s)
    s = _WS_RE.sub(" ", s)
    s = _NL_PAD_RE.sub("\n", s)
    s = _NL_RUN_RE.sub("\n\n", s)
    s = s.strip()
    if len(s) < MIN_CONTENT_LENGTH:
        return ""
    return s


def sanitize_series(s: pd.Series) -> pd.Series:
    """``sanitize_text`` over one Arrow batch (the pandas-UDF path).

    Nulls map to "" without a call: ``sanitize_hybrid_col`` masks every
    ASCII row to null, so a pipeline batch is ~98% null. On object dtype
    a pandas ``.str`` chain is a per-element Python loop too, so one map
    of the scalar is no slower than a vectorized restatement of it.
    pyarrow's ``utf8_normalize(form="NFC")`` is not an option: it does
    not compose (0x61+0x300 stays decomposed in pyarrow 16)."""
    return s.map(sanitize_text, na_action="ignore").fillna("")


# ---------------------------------------------------------------------------
# Boilerplate classification
# ---------------------------------------------------------------------------
# Pattern list order is part of the invariant: "questions?" matches the second
# THANK_YOU pattern before the QUESTIONS pattern ever runs, so it classifies
# as thank_you (reference dedupe.py:34-43 keeps the same order).
BOILERPLATE_PATTERNS: list[tuple[str, re.Pattern]] = [
    ("thank_you", re.compile(r"^(?:thank\s*you|thanks|gracias|merci)\s*\!?\s*$", re.I)),
    ("thank_you", re.compile(r"^(?:questions\s*\?|q\s*&\s*a|any\s*questions)\s*$", re.I)),
    ("questions", re.compile(r"^questions\s*\??\s*$", re.I)),
    ("questions", re.compile(r"^q\s*&\s*a\s*$", re.I)),
    ("appendix", re.compile(r"^append(?:i|x)(?:ces)?\s*$", re.I)),
    ("appendix", re.compile(r"^references?\s*$", re.I)),
    ("agenda", re.compile(r"^agenda\s*$", re.I)),
    ("objectives", re.compile(r"^(?:objectives?|learning\s+outcomes)\s*$", re.I)),
]

DROP_KINDS_DEFAULT = frozenset({"thank_you", "questions", "blank"})

TITLE_MAX_LEN = 20  # shorter than this and single-line → title


def boilerplate_kind(text: object) -> str:
    """Scalar boilerplate classifier → kind string ('none' if substantive)."""
    cleaned = sanitize_text(text)
    if not cleaned:
        return "blank"
    lines = cleaned.split("\n")
    first_line = lines[0].strip()
    if not first_line:
        return "blank"
    for kind, pat in BOILERPLATE_PATTERNS:
        if pat.search(first_line) or (len(lines) <= 2 and pat.search(cleaned)):
            return kind
    if len(cleaned) < TITLE_MAX_LEN and len(lines) <= 1:
        return "title"
    return "none"


def content_hash(sanitized: str) -> str:
    """sha256 hex of sanitized content (dedupe key; dedupe.py:81-83)."""
    return hashlib.sha256(sanitized.encode("utf-8")).hexdigest()
