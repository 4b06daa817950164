"""Sanitization + boilerplate kernels (reference semantics, vectorized).

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
(U+0080-U+009F), so step 2 is a fixed character class — fully regex
expressible and therefore vectorizable with pandas .str ops.
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


def _nfc_series(s: pd.Series) -> pd.Series:
    """NFC-normalize a string series.

    pyarrow.compute.utf8_normalize(form="NFC") does not actually compose
    (verified: 0x61+0x300 stays decomposed in pyarrow 16), so we use
    unicodedata — but only on the non-ASCII minority (ASCII is NFC-invariant),
    keeping the common path fully vectorized.
    """
    # non-str objects map to "" like the scalar twin's isinstance guard —
    # astype(str) alone coerced 123/True to "123"/"True", so the two
    # must-agree paths diverged on any non-string payload
    out = s.map(lambda x: x if isinstance(x, str) else "")
    non_ascii = out.str.contains(r"[^\x00-\x7f]", regex=True)
    if non_ascii.any():
        out = out.copy()
        out[non_ascii] = out[non_ascii].map(lambda x: unicodedata.normalize("NFC", x))
    return out


def sanitize_series(s: pd.Series) -> pd.Series:
    """Vectorized sanitize over a pandas string series (pandas-UDF path).

    Nulls map to "" without entering the chain: ``sanitize_hybrid_col``
    masks every ASCII row to null, so a pipeline batch is ~98% null."""
    live = s.notna()
    if not live.all():
        out = pd.Series("", index=s.index, dtype=object)
        if live.any():
            out[live] = sanitize_series(s[live]).to_numpy()
        return out
    out = _nfc_series(s)
    out = out.str.replace(_CTRL_RE, "", regex=True)
    out = out.str.replace(_ZERO_WIDTH_RE, "", regex=True)
    out = out.str.replace(_WS_RE, " ", regex=True)
    out = out.str.replace(_NL_PAD_RE, "\n", regex=True)
    out = out.str.replace(_NL_RUN_RE, "\n\n", regex=True)
    out = out.str.strip()
    out = out.where(out.str.len() >= MIN_CONTENT_LENGTH, "")
    return out


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


def boilerplate_kind_series(sanitized: pd.Series) -> pd.Series:
    """Vectorized classifier over ALREADY-SANITIZED text."""
    s = sanitized.fillna("")
    out = pd.Series("none", index=s.index, dtype=object)
    n_lines = s.str.count("\n") + 1
    first_line = s.str.split("\n").str[0].str.strip()

    blank = (s == "") | (first_line == "")
    out[blank] = "blank"

    undecided = ~blank
    for kind, pat in BOILERPLATE_PATTERNS:
        if not undecided.any():
            break
        hit = undecided & (
            first_line.str.contains(pat, regex=True)
            | ((n_lines <= 2) & s.str.contains(pat, regex=True))
        )
        out[hit] = kind
        undecided &= ~hit

    title = undecided & (s.str.len() < TITLE_MAX_LEN) & (n_lines <= 1)
    out[title] = "title"
    return out


def content_hash(sanitized: str) -> str:
    """sha256 hex of sanitized content (dedupe key; dedupe.py:81-83)."""
    return hashlib.sha256(sanitized.encode("utf-8")).hexdigest()
