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
(U+0080-U+009F), so step 2 is a fixed character class.

The gate. On almost every span the five passes of steps 2-6 change
nothing, so ``sanitize_text`` first searches its NFC text once with
_CHANGEABLE_RE, which matches exactly where one of the passes could act:
a Cc character other than \\t \\n \\r (step 2), a zero-width character
or the soft hyphen (step 3), a tab or two spaces (step 4: a run of spaces
and tabs that is a lone space is already collapsed), a space next to a
newline (step 5), or three newlines (step 6). With no match each pass
returns its input unchanged, and so hands the next pass the same string,
so skipping all five is exact; only step 7 remains. A string that
matches runs the five passes in order as before (_five_passes).

Fixed points. The reference classifies boilerplate on its sanitized text
and sanitizes it again inside the classifier, so ``boilerplate_kind`` runs
on ``sanitize_text``'s output. Steps 2-7 are idempotent on their own
output: what steps 2-3 delete cannot reappear, and steps 4-7 leave no run,
padding or edge for a second pass to change. Only step 1 can move a
sanitized string, when deleting a control or zero-width character joined
a base letter to a combining mark that NFC composes ("e\u200b\u0301"
sanitizes to the decomposed "e\u0301", which a second pass composes to
one character and then drops as shorter than 2). So a sanitized string
that is already NFC (every ASCII string is) is its own sanitize, and
``sanitized_boilerplate_kind`` classifies it without the second pass.

The batch gates. The extract map decides, for a whole Arrow text array in
a few ``pyarrow.compute`` passes, which spans the scalar functions would
return unchanged and how they would classify them (unchanged_gates). A
gate only proves "unchanged"; every span it does not mark goes through
``sanitize_text`` and ``sanitized_boilerplate_kind``. The gates mark only
ASCII text, where the scalar semantics is simple to restate exactly:

  - sanitize leaves it unchanged: ASCII text is NFC (step 1); with no
    match of _CHANGEABLE_RE (_GATE_CHANGEABLE, its ASCII part) steps 2-6
    do nothing (the gate above); with no Python whitespace at either edge
    (_GATE_CHANGEABLE's edge arms: str.strip's ASCII set) step 7 strips
    nothing; and a length of at least 2 is kept.
  - no boilerplate word: every BOILERPLATE_PATTERNS pattern needs one of
    _GATE_WORDS, case-insensitively, to match. On ASCII text re.I folds
    only ASCII letters (the non-ASCII folds, the long s to "s" and the
    Kelvin sign to "k", need a non-ASCII character), so a text without
    any of the words matches no pattern. Its first line is not blank (no
    edge whitespace), so _classify returns "title" when it is shorter
    than TITLE_MAX_LEN and has no newline, else "none".

RE2 (pyarrow.compute) reads ``^`` and ``$`` as the ends of the text and
the escapes below as the same characters as Python's re.
tests/test_sanitize_gates.py holds the gates to the scalar functions.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# Cc minus {\t=09, \n=0A, \r=0D}
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")
_ZERO_WIDTH_RE = re.compile("[\\u200b\\u200c\\u200d\\ufeff\\u00ad]")
_WS_RE = re.compile(r"[ \t]+")
_NL_PAD_RE = re.compile(r" *\n *")
_NL_RUN_RE = re.compile(r"\n{3,}")
# anything one of the five passes above can change (the module docstring's
# gate): _CTRL_RE's class plus \t, _ZERO_WIDTH_RE's class, then the
# two-character triggers of _WS_RE and _NL_PAD_RE and _NL_RUN_RE's three
_CHANGEABLE_RE = re.compile(
    "[\\x00-\\x09\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f\\u200b\\u200c\\u200d\\ufeff\\u00ad]"
    "| [ \\n]|\\n(?: |\\n\\n)"
)
# the batch gate's restatement of _CHANGEABLE_RE on ASCII text (RE2): its
# class without the non-ASCII characters, its multi-character triggers,
# and Python whitespace at either edge (what step 7's strip() removes)
_PY_WS_ASCII = "\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f "
_GATE_CHANGEABLE = (
    "[\\x00-\\x09\\x0b\\x0c\\x0e-\\x1f\\x7f]| [ \\n]|\\n(?: |\\n\\n)"
    f"|^[{_PY_WS_ASCII}]|[{_PY_WS_ASCII}]$"
)

MIN_CONTENT_LENGTH = 2


def _five_passes(s: str) -> str:
    """Steps 2-6 on NFC text: control and zero-width deletion, then the
    three whitespace collapses."""
    s = _CTRL_RE.sub("", s)
    s = _ZERO_WIDTH_RE.sub("", s)
    s = _WS_RE.sub(" ", s)
    s = _NL_PAD_RE.sub("\n", s)
    return _NL_RUN_RE.sub("\n\n", s)


def sanitize_text(text: object) -> str:
    """Scalar reference-semantics sanitize (oracle path)."""
    if text is None or not isinstance(text, str):
        return ""
    s = unicodedata.normalize("NFC", text)
    if _CHANGEABLE_RE.search(s) is not None:
        s = _five_passes(s)
    s = s.strip()
    if len(s) < MIN_CONTENT_LENGTH:
        return ""
    return s


def sanitize_series(s: pd.Series) -> pd.Series:
    """``sanitize_text`` over one pandas batch; nulls map to "" without a
    call. On object dtype a pandas ``.str`` chain is a per-element Python
    loop too, so one map of the scalar is no slower than a vectorized
    restatement of it. pyarrow's ``utf8_normalize(form="NFC")`` is not an
    option: it does not compose (0x61+0x300 stays decomposed in pyarrow 16)."""
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

# p1|…|pn matches exactly where one of the patterns does, so one search
# with it tells a substantive span (the common case) without the loop
_ANY_BOILERPLATE = re.compile(
    "|".join(f"(?:{pat.pattern})" for _, pat in BOILERPLATE_PATTERNS), re.I
)

# a word that every BOILERPLATE_PATTERNS pattern needs in order to match
# (case-insensitive; the batch gate's restatement of the patterns)
_GATE_WORDS = "thank|gracias|merci|question|&|append|reference|agenda|objective|learning"

DROP_KINDS_DEFAULT = frozenset({"thank_you", "questions", "blank"})

TITLE_MAX_LEN = 20  # shorter than this and single-line → title


def boilerplate_kind(text: object) -> str:
    """Scalar boilerplate classifier → kind string ('none' if substantive)."""
    return _classify(sanitize_text(text))


def sanitized_boilerplate_kind(sanitized: str) -> str:
    """``boilerplate_kind(sanitized)`` for a ``sanitize_text`` output,
    without the second sanitize where it is a no-op: on NFC input (see
    the module docstring's fixed-point argument)."""
    if sanitized.isascii() or unicodedata.is_normalized("NFC", sanitized):
        return _classify(sanitized)
    return boilerplate_kind(sanitized)


def _classify(cleaned: str) -> str:
    """The classifier proper, on already-sanitized text."""
    if not cleaned:
        return "blank"
    lines = cleaned.split("\n")
    first_line = lines[0].strip()
    if not first_line:
        return "blank"
    if _ANY_BOILERPLATE.search(first_line) or (
        len(lines) <= 2 and _ANY_BOILERPLATE.search(cleaned)
    ):
        for kind, pat in BOILERPLATE_PATTERNS:
            if pat.search(first_line) or (len(lines) <= 2 and pat.search(cleaned)):
                return kind
    if len(cleaned) < TITLE_MAX_LEN and len(lines) <= 1:
        return "title"
    return "none"


# unchanged_gates' verdicts: the scalar path decides (GATE_NONE), or
# sanitize_text leaves the text unchanged and its class is kept (GATE_KEEP)
# or in drop_kinds (GATE_DROP)
GATE_NONE, GATE_KEEP, GATE_DROP = 0, 1, 2


def unchanged_gates(text: pa.Array, drop_kinds: frozenset) -> np.ndarray:
    """One verdict per element of a string array (the module docstring's
    batch gates): GATE_KEEP or GATE_DROP where ``sanitize_text(t) == t``
    and ``sanitized_boilerplate_kind(t) in drop_kinds`` is proved false or
    true, GATE_NONE where the scalar functions must decide (nulls
    included)."""
    unchanged = pc.and_kleene(
        pc.and_kleene(
            pc.string_is_ascii(text),
            pc.greater_equal(pc.binary_length(text), MIN_CONTENT_LENGTH),
        ),
        pc.invert(pc.match_substring_regex(text, _GATE_CHANGEABLE)),
    )
    plain = pc.and_kleene(
        unchanged, pc.invert(pc.match_substring_regex(text, _GATE_WORDS, ignore_case=True))
    )
    title = pc.and_kleene(
        pc.less(pc.binary_length(text), TITLE_MAX_LEN),
        pc.invert(pc.match_substring(text, "\n")),
    )
    plain = pc.fill_null(plain, False).to_numpy(zero_copy_only=False)
    title = pc.fill_null(title, False).to_numpy(zero_copy_only=False)
    dropped = np.where(title, "title" in drop_kinds, "none" in drop_kinds)
    return np.where(plain, np.where(dropped, GATE_DROP, GATE_KEEP), GATE_NONE).astype(np.int8)
