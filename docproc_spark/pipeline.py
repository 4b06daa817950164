"""The Spark extraction pipeline (flagship).

DataFrame-first reimplementation of the reference's deterministic extraction
path (see docproc_spark.oracle for the single-process truth). Everything
stays JVM-side in whole-stage codegen except two kernels that genuinely need
Python: unicode-NFC sanitize (vectorized pandas UDF over Arrow batches) and
the HTML main-content parser (pandas UDF, one call per HTML doc). No per-row
Python UDFs anywhere.

Scale design — a true SINGLE-PASS plan (what a 1000-executor cluster runs):

    scan → explode → project(sanitize UDF, boilerplate, hash — all narrow)
         → ONE shuffle: groupBy(doc_id).collect_list(span struct)
         → one projection of higher-order array functions doing dedupe,
           media captioning, raster fallback, page assembly, markdown,
           and the raw-text fallback — all inside the row
         ∪ the zero-span docs (a column-pruned scan filter, no join)

  Why not windows + joins: a DataFrame fan-out (N consumers of one
  intermediate) gets NO common-subexpression reuse — Catalyst pushes
  distinct projections into each branch's copy of the subtree, so the scan
  and the pandas UDF execute once PER BRANCH (measured: 9 scans, 20 UDF
  evals, 14 exchanges for the window/join formulation). The single-pass
  form has exactly one exchange, one scan, one UDF eval — shuffle volume is
  the raw+sanitized text bytes, once (the dedupe hash, boilerplate class
  and flags are pure functions of those and are recomputed post-shuffle;
  raw text must ride along because the in-row raw-text fallback needs it).

  Skew: per-doc work below the shuffle is O(n log n) in spans-per-doc
  (array_sort-based dedupe; the only quadratic piece is per-page media
  indexing, bounded by media-per-page). Map-side partial collect keeps the
  shuffle write balanced; a 10^5-span mega-doc is a single ~10 MB row,
  fine; beyond that, route through operators.salting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docproc_spark.kernels.assembly import MEDIA_KINDS, RASTER_KIND, TEXTUAL_KINDS
from docproc_spark.kernels.sanitize import (
    BOILERPLATE_PATTERNS,
    DROP_KINDS_DEFAULT,
    TITLE_MAX_LEN,
    sanitize_series,
)
from docproc_spark.partition import INTROSPECTION_ERRORS, fast_path_disabled
from docproc_spark.schema import SPAN_STRUCT

_OUT_SPANS_T = (
    "array<struct<kind:string,text:string,media_ref:string,page:int,offset:int>>"
)


# ---------------------------------------------------------------------------
# Python kernels as pandas UDFs
# ---------------------------------------------------------------------------
@F.pandas_udf(T.StringType())
def sanitize_udf(s: pd.Series) -> pd.Series:
    return sanitize_series(s)


@F.pandas_udf(T.ArrayType(SPAN_STRUCT))
def html_spans_udf(raw_html: pd.Series, url: pd.Series) -> pd.Series:
    from docproc_spark.kernels.html import html_main_blocks

    def blocks(h, u):
        if not h:
            return []
        base = u if isinstance(u, str) and u else None
        return [
            {"kind": k, "text": t, "media_ref": ref, "page": 0, "offset": i}
            for i, (k, t, ref) in enumerate(html_main_blocks(h, base_url=base))
        ]

    return pd.Series(
        [blocks(h, u) for h, u in zip(raw_html, url)], dtype=object
    )


# ---------------------------------------------------------------------------
# Native sanitize for ASCII rows (JVM-side; python only for non-ASCII)
# ---------------------------------------------------------------------------
# Control characters the sanitize chain deletes (NOT \t \n \r — \t feeds
# the space-collapse, \n survives, \r is edge-trimmed only). Expressed as
# a literal char set for F.translate: a linear no-regex pass, measured
# ~2x cheaper than the regexp_replace char-class it replaces on the bench
# corpus (the sanitize map stage is the flagship's dominant cost).
_CTRL_STRIP = "".join(
    chr(c)
    for c in [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0x7F]
)


def sanitize_ascii_col(text: Column) -> Column:
    """The sanitize chain for ASCII input, where NFC and zero-width
    stripping are no-ops — exact twin of the Python kernel
    (kernels/sanitize.py), hypothesis-tested against it.

    Cheap primitives carry the endpoints: F.translate (linear scan, no
    regex) deletes control chars, and F.btrim with the explicit set
    " \\n\\r" replaces the two anchored ^\\s+/\\s+$ regexes — after the
    collapse passes the only whitespace that can touch an edge IS
    {space, \\n, \\r} (\\t collapsed to space, \\x0b/\\x0c deleted), so
    the set-trim strips exactly what Java \\s+ did, without the
    whole-string backtracking scan \\s+$ costs.

    (r6 note: probe-gating each collapse regex on literal contains() of
    its trigger substring was tried and MEASURED SLOWER — the nested
    conditional chain defeats codegen subexpression elimination and the
    shared subtree re-evaluates per branch, 2.3 s → 6.8 s on the sf0.1
    map stage. The straight chain stays.)"""
    s = F.coalesce(text, F.lit(""))
    s = F.translate(s, _CTRL_STRIP, "")
    s = F.regexp_replace(s, r"[ \t]+", " ")
    s = F.regexp_replace(s, r" *\n *", "\n")
    s = F.regexp_replace(s, r"\n{3,}", "\n\n")
    s = F.btrim(s, F.lit(" \n\r"))
    return F.when(F.length(s) < 2, F.lit("")).otherwise(s)


def sanitize_hybrid_col(text: Column) -> Column:
    """Route: ASCII rows through whole-stage-codegen regexes; the non-ASCII
    minority through the vectorized pandas kernel (NFC needs ICU). This
    keeps Python worker traffic ~proportional to the non-ASCII fraction —
    the lever that makes the map stage scale past ~cores/2 threads in
    local mode (JVM task threads and Python workers both want a core).

    NB: Catalyst extracts python UDFs out of CASE branches and evaluates
    them for EVERY row — so the UDF input is pre-masked to null for ASCII
    rows, making the Arrow crossing carry ~no bytes for the common case.

    ASCII detection is octet_length != char_length (a char > U+007F is
    exactly a multi-byte UTF-8 sequence) — two counter reads instead of
    the `[^\\x00-\\x7f]` regex scan the map stage used to pay per span."""
    non_ascii = F.octet_length(text) != F.length(text)
    masked = F.when(non_ascii, text)
    return F.when(text.isNull(), F.lit("")).otherwise(
        F.when(non_ascii, sanitize_udf(masked)).otherwise(sanitize_ascii_col(text))
    )


# ---------------------------------------------------------------------------
# Python-whitespace helpers (JVM-side)
# ---------------------------------------------------------------------------
# Python str.strip()/str.isspace() whitespace = Unicode White_Space plus the
# C0 separators U+001C..U+001F. Java \s is ASCII-only by default and F.trim
# strips ONLY U+0020 — both silently diverge from the oracle's str.strip()
# on NBSP/ideographic-space/etc. (?U) turns Java \s into White_Space; the
# explicit \x1c-\x1f closes the remaining gap.
_PY_WS = r"\s\x1c-\x1f"


def pystrip_col(c: Column) -> Column:
    """Python str.strip() equivalent."""
    return F.regexp_replace(
        F.regexp_replace(c, f"(?U)^[{_PY_WS}]+", ""), f"(?U)[{_PY_WS}]+$", ""
    )


def has_nonblank_col(c: Column) -> Column:
    """`bool(text.strip())` equivalent, null-safe (null → false)."""
    return F.coalesce(c.rlike(f"(?U)[^{_PY_WS}]"), F.lit(False))


# ---------------------------------------------------------------------------
# Native boilerplate classifier (JVM-side; mirrors kernels.sanitize patterns)
# ---------------------------------------------------------------------------
def boilerplate_kind_col(sanitized: Column) -> Column:
    """CASE chain over the invariant pattern list — whole-stage codegen.

    (?iU): the oracle matches with Python \\s (Unicode-aware); sanitized
    text cannot contain Cc chars, so UNICODE_CHARACTER_CLASS makes Java \\s
    exactly equal on this input. first_line is python-stripped (leading
    NBSP etc. must not defeat the ^-anchored patterns).

    Gated on ONE combined-alternation probe: rlike(p1|…|pn) ≡ rlike(p1) |
    … | rlike(pn), so `when(probe, <per-pattern chain>)` is semantically
    identical to the bare chain while the common case (a substantive span)
    pays 2 regex scans instead of 2×n — the bare chain was ~half of
    extract's post-shuffle wall (measured 4.4 s of a ~9 s sf0.1 run).

    first_line / n_lines use literal string ops (substring_index; a
    replace-based newline count) instead of regexp_extract + regex
    split — same values including NULL propagation, no regex engine.
    (r6 note: adding a `sanitized != first_line` guard before the
    whole-text rlike is a pure logic identity but measured SLOWER — for
    1-line spans the "saved" full-text scan is the same bytes as the
    first-line scan, while the extra first_line references re-evaluate
    the pystrip regexes outside CSE. Left as the plain disjunction.)"""
    first_line = pystrip_col(F.substring_index(sanitized, "\n", 1))
    n_lines = (
        F.length(sanitized) - F.length(F.replace(sanitized, F.lit("\n"))) + 1
    )
    combined = "(?iU)(?:" + "|".join(p.pattern for _, p in BOILERPLATE_PATTERNS) + ")"
    probe = first_line.rlike(combined) | ((n_lines <= 2) & sanitized.rlike(combined))
    chain = None
    for kind, pat in BOILERPLATE_PATTERNS:
        jre = "(?iU)" + pat.pattern
        cond = first_line.rlike(jre) | ((n_lines <= 2) & sanitized.rlike(jre))
        chain = F.when(cond, F.lit(kind)) if chain is None else chain.when(cond, F.lit(kind))
    tail = F.when(
        (F.length(sanitized) < TITLE_MAX_LEN) & (n_lines <= 1), F.lit("title")
    ).otherwise(F.lit("none"))
    return (
        F.when((sanitized == "") | (first_line == ""), F.lit("blank"))
        .when(probe, F.coalesce(chain, tail))
        .otherwise(tail)
    )


# ---------------------------------------------------------------------------
# Stage A: derive + explode + narrow per-span enrichment
# ---------------------------------------------------------------------------
def with_derived_spans(docs: DataFrame) -> DataFrame:
    """Merge HTML-derived spans into the span array and append a sentinel.

    The sentinel (null-text unclassified span) guarantees every doc_id
    yields at least one exploded row, so the whole corpus flows through the
    single-pass plan — no separate "empty doc" branch, which would re-scan
    the source and re-run the HTML UDF just to find zero-span docs. The
    sentinel is inert downstream: it never survives sanitize, never counts
    as raw text, media, or raster, and the raw-text fallback filters its
    null text.
    """
    # canonical span-only tables (the engine's input contract is just
    # (doc_id, spans)) have no raw_html column — skip the HTML merge
    has_html_col = "raw_html" in docs.columns
    if has_html_col:
        has_html = F.col("raw_html").isNotNull() & (F.length("raw_html") > 0)
    empty = F.array().cast(_OUT_SPANS_T)
    sentinel = F.array(
        F.struct(
            F.lit("unclassified").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("page"),
            F.lit(-1).cast("int").alias("offset"),
        )
    )
    # the page URL (WARC tables carry one) anchors relative image srcs;
    # tables without it keep verbatim-ref identity
    url_col = (
        F.col("url")
        if has_html_col and "url" in docs.columns
        else F.lit(None).cast("string")
    )
    html_part = (
        F.when(has_html, html_spans_udf(F.col("raw_html"), url_col)).otherwise(
            empty
        )
        if has_html_col
        else empty
    )
    return docs.withColumn(
        "spans",
        F.concat(F.coalesce(F.col("spans"), empty), html_part, sentinel),
    )


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span. ``pos`` = position in the span array — the oracle
    sorts with a STABLE sort, so input order is the tie-break for spans
    with colliding (page, offset) (user spans vs HTML-derived spans at the
    same offsets); pos reproduces that exactly. Null OR EMPTY kind
    defaults to 'text' — the oracle normalizes with `or "text"`
    (assembly.py:75), which catches '' too; a bare coalesce would leave
    an empty-string kind in neither the textual nor the media set and
    silently diverge on dirty external span tables. Null page/offset → 0.
    Both physical paths (flagship and salted) share this function."""
    return docs.select("doc_id", F.posexplode("spans").alias("pos", "s")).select(
        "doc_id",
        F.coalesce(F.nullif(F.col("s.kind"), F.lit("")), F.lit("text")).alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.coalesce(F.col("s.page"), F.lit(0)).alias("page"),
        F.coalesce(F.col("s.offset"), F.lit(0)).alias("offset"),
        F.col("pos").cast("int").alias("pos"),
    )


def enrich_spans(rows: DataFrame) -> DataFrame:
    """Narrow (no-shuffle) per-span enrichment.

    The map side produces the sanitized text (the Python kernel) PLUS the
    cheap derived fields — boilerplate class (~10 bytes) and the four
    classification booleans — because here they run inside whole-stage
    codegen on flat rows, while recomputing them post-shuffle costs an
    INTERPRETED evaluation per span inside the array program's HOF
    lambdas (measured: moving bp map-side cut the post-shuffle stage
    materially at sf0.1; the extra shuffle bytes are ~15/span). The
    dedupe hash (64 hex bytes/span!) and the drop_kinds-dependent
    `survives` stay post-shuffle in _srt_col: the hash would dominate
    shuffle bytes, and survives is a two-comparison expression.

    DRIFT GUARD: pipeline_salted._flat_rows carries column-form twins of
    these flag definitions — change them TOGETHER; the executable guard
    is test_salted_equals_array_path_fresh_seed.
    """
    is_textual = F.col("kind").isin(*TEXTUAL_KINDS)
    is_media = F.col("kind").isin(*MEDIA_KINDS)
    is_raster = (
        (F.col("kind") == RASTER_KIND)
        & F.col("media_ref").isNotNull()
        & (F.col("media_ref") != "")
    )
    # _san staged as a real column: it feeds BOTH the struct field and the
    # boilerplate classifier, and a multi-use non-cheap alias (it embeds
    # the pandas UDF) blocks CollapseProject from inlining — the UDF runs
    # once, bp consumes the attribute (the hash_embed lesson)
    staged = rows.withColumn(
        "_san",
        F.when(is_textual, sanitize_hybrid_col(F.col("text"))).otherwise(
            F.lit(None)
        ),
    )
    return staged.select(
        "doc_id",
        F.struct(
            F.col("page"),
            F.col("offset"),
            F.col("pos"),
            F.col("kind"),
            F.col("text"),
            F.col("_san").alias("sanitized"),
            F.col("media_ref"),
            is_textual.alias("is_textual"),
            is_media.alias("is_media"),
            is_raster.alias("is_raster"),
            boilerplate_kind_col(F.col("_san")).alias("bp"),
            # bool(text.strip()) — F.trim strips ASCII space ONLY and would
            # let whitespace-only raw text block the raster fallback
            (is_textual & has_nonblank_col(F.col("text"))).alias("raw_nonblank"),
        ).alias("s"),
    )


# ---------------------------------------------------------------------------
# Stage B: the per-document array program
# ---------------------------------------------------------------------------
def _caption(ref: Column, ctx: Column) -> Column:
    return F.concat(F.lit("Figure "), F.substring(ref, 1, 12), F.lit(": "), ctx)


def _first_per_key(sorted_arr: Column, key) -> Column:
    """Elements of a sorted array that are the first with their key.

    ``sorted_arr`` must already be sorted with equal keys adjacent. Uses the
    shift-and-zip trick (prepend a null, compare neighbours): O(n)."""
    shifted = F.concat(F.array(F.lit(None)), sorted_arr)
    return F.zip_with(
        sorted_arr,
        shifted,
        lambda x, prev: F.when(prev.isNull() | (key(prev) != key(x)), x),
    )


def _srt_col(spans: Column, drop_kinds: frozenset) -> Column:
    """Spans in document order (page, offset), deriving only what the map
    side could not: ``survives`` depends on the caller's drop_kinds and
    the dedupe hash is 64 hex bytes/span that should not ride the
    exchange. Everything else (classification booleans, the boilerplate
    class) arrives precomputed from enrich_spans, where it ran inside
    whole-stage codegen on flat rows — recomputing it here would pay an
    INTERPRETED evaluation per span (HOF lambda bodies get no codegen and
    no subexpression elimination). Classification semantics notes (the
    definitions live in enrich_spans): any media-KIND span counts for
    per-page enumeration even with a null/empty ref — the oracle
    (kernels/assembly.py:108-114,128) and reference
    (vision_llm.py:395-399,494-496) enumerate raw_images themselves —
    while ref-less RASTERS are inert (assembly.py:133-134 skips ''/null
    refs before captioning).

    DRIFT GUARD: pipeline_salted._flat_rows carries the column-form twins
    of the survives/hash definitions — change them TOGETHER; the
    executable guard is test_salted_equals_array_path_fresh_seed."""

    def finalize(y):
        survives = F.coalesce(
            y["is_textual"] & ~y["bp"].isin(*drop_kinds) & (y["sanitized"] != ""),
            F.lit(False),
        )
        return F.struct(
            y["page"].alias("page"),
            y["offset"].alias("offset"),
            # pos third: array_sort compares fields in order, so ties on
            # (page, offset) resolve by input position — the oracle's
            # stable sort — never by kind/text content
            y["pos"].alias("pos"),
            y["kind"].alias("kind"),
            y["text"].alias("text"),
            y["sanitized"].alias("sanitized"),
            F.when(survives, F.sha2(y["sanitized"], 256)).alias("hash"),
            y["media_ref"].alias("media_ref"),
            y["is_textual"].alias("is_textual"),
            y["is_media"].alias("is_media"),
            y["is_raster"].alias("is_raster"),
            survives.alias("survives"),
            y["raw_nonblank"].alias("raw_nonblank"),
        )

    return F.array_sort(F.transform(spans, finalize))


def _texts_col(srt: Column, drop_exact_duplicates: bool = True) -> Column:
    """First-wins exact dedupe over surviving textual spans: sort survivors
    by (hash, page, offset), keep first per hash, resort to document order.
    With drop_exact_duplicates=False (config toggle, mirrors the oracle
    kernel's parameter) every surviving span is kept.

    Fast path: when every survivor hash is distinct (the common document),
    first-wins dedupe is the identity, so the by-hash sort + adjacent
    dedupe + resort are skipped behind one O(n) array_distinct probe —
    CASE branches evaluate lazily, so only the taken branch runs. The two
    branches produce identical arrays whenever the probe passes (nothing
    to remove → both are the survivors in document order)."""
    survivors = F.filter(srt, lambda x: x["survives"])
    plain = F.array_sort(
        F.transform(
            survivors,
            lambda x: F.struct(
                x["page"].alias("page"),
                x["offset"].alias("offset"),
                x["pos"].alias("pos"),
                x["kind"].alias("kind"),
                x["sanitized"].alias("text"),
            ),
        )
    )
    if not drop_exact_duplicates:
        return plain
    hashes = F.transform(survivors, lambda x: x["hash"])
    no_dups = F.size(F.array_distinct(hashes)) == F.size(hashes)
    by_hash = F.array_sort(
        F.transform(
            survivors,
            lambda x: F.struct(
                x["hash"].alias("hash"),
                x["page"].alias("page"),
                x["offset"].alias("offset"),
                x["pos"].alias("pos"),
                x["kind"].alias("kind"),
                x["sanitized"].alias("sanitized"),
            ),
        )
    )
    kept = F.filter(
        _first_per_key(by_hash, lambda e: e["hash"]), lambda x: x.isNotNull()
    )
    deduped = F.array_sort(
        F.transform(
            kept,
            lambda x: F.struct(
                x["page"].alias("page"),
                x["offset"].alias("offset"),
                x["pos"].alias("pos"),
                x["kind"].alias("kind"),
                x["sanitized"].alias("text"),
            ),
        )
    )
    return F.when(no_dups, plain).otherwise(deduped)


def _media_idx_col(media_all: Column, mmap: Column) -> Column:
    """Media occurrences with 1-based per-page image index, document order.

    ``media_all`` = every media-KIND span (page, offset)-sorted, including
    ref-less ones — they consume an index exactly like the oracle's
    enumerate() over raw_images (assembly.py:109-114) — and ``mmap`` its
    page→(start,len) slice map (a materialized column; see
    _nonempty_pages_col for why). img_idx = global_pos − page_start + 1 is
    an O(1) lookup per element, O(n) total — replaces the O(m²)
    slice-and-filter prefix scan. Ref-less/empty-ref entries are dropped
    AFTER indexing (oracle: `if not ref: continue`)."""
    media_idx = F.transform(
        media_all,
        lambda m, i: F.struct(
            m["page"].alias("page"),
            m["offset"].alias("offset"),
            m["pos"].alias("pos"),
            m["media_ref"].alias("ref"),
            (i + F.lit(2) - F.element_at(mmap, m["page"])["start"]).cast("int").alias(
                "img_idx"
            ),
        ),
    )
    return F.filter(media_idx, lambda x: x["ref"].isNotNull() & (x["ref"] != ""))


def _page_flags(srt: Column, smap: Column) -> Column:
    """map<page, struct(raw, med)>: the raster-gate flags, one slice scan
    per page. The slices partition ``srt``, so building every page's flags
    is O(n) total — per-element F.exists over the WHOLE array (the naive
    form) is O(n²) on a big document and was a straggler hazard below the
    salted-routing threshold. Both args must be materialized columns."""
    entries = F.transform(
        F.map_entries(smap),
        lambda e: F.struct(
            e["key"],
            F.struct(
                F.exists(
                    F.slice(srt, e["value"]["start"], e["value"]["len"]),
                    lambda y: y["raw_nonblank"],
                ).alias("raw"),
                F.exists(
                    F.slice(srt, e["value"]["start"], e["value"]["len"]),
                    lambda y: y["is_media"],
                ).alias("med"),
            ),
        ),
    )
    return F.map_from_entries(entries)


def _rasters_col(srt: Column, pflags: Column) -> Column:
    """Raster spans on pages with no non-blank raw text and no media
    (reference vision_llm.py:490-523) — O(1) flag lookups per span."""
    return F.filter(
        srt,
        lambda x: x["is_raster"]
        & ~F.element_at(pflags, x["page"])["raw"]
        & ~F.element_at(pflags, x["page"])["med"],
    )


def _captions_col(media_idx: Column, rasters: Column, total_pages: Column) -> Column:
    """map<ref, caption>: one caption per unique ref, first-sighting context
    (vision_llm.py:390-409); raster refs only if not already captioned.
    ``total_pages`` must be a materialized column — inline it would be an
    O(n) array_max re-evaluated once per raster ref inside the lambda."""
    by_ref = F.array_sort(
        F.transform(
            media_idx,
            lambda x: F.struct(
                x["ref"].alias("ref"),
                x["page"].alias("page"),
                x["offset"].alias("offset"),
                x["pos"].alias("pos"),
                x["img_idx"].alias("img_idx"),
            ),
        )
    )
    firsts = F.filter(
        _first_per_key(by_ref, lambda e: e["ref"]), lambda x: x.isNotNull()
    )
    media_captions = F.map_from_entries(
        F.transform(
            firsts,
            lambda f: F.struct(
                f["ref"],
                _caption(
                    f["ref"],
                    F.format_string("Page %d, image %d.", f["page"] + 1, f["img_idx"]),
                ),
            ),
        )
    )
    raster_firsts = F.filter(
        _first_per_key(
            F.array_sort(
                F.transform(
                    rasters,
                    lambda x: F.struct(
                        x["media_ref"].alias("ref"),
                        x["page"].alias("page"),
                        x["offset"].alias("offset"),
                        x["pos"].alias("pos"),
                    ),
                )
            ),
            lambda e: e["ref"],
        ),
        lambda x: x.isNotNull(),
    )
    raster_captions = F.map_from_entries(
        F.transform(
            F.filter(
                raster_firsts,
                lambda f: ~F.map_contains_key(media_captions, f["ref"]),
            ),
            lambda f: F.struct(
                f["ref"],
                _caption(
                    f["ref"],
                    F.format_string("Page %d of %d.", f["page"] + 1, total_pages),
                ),
            ),
        )
    )
    return F.map_concat(media_captions, raster_captions)


def _figs_col(media_idx: Column, rasters: Column, captions: Column) -> Column:
    """Captioned figure occurrences (page, offset, pos, ref) in document
    order; media and raster pages are mutually exclusive by the raster
    predicate."""
    figs = F.concat(
        F.transform(
            media_idx,
            lambda m: F.struct(
                m["page"].alias("page"),
                m["offset"].alias("offset"),
                m["pos"].alias("pos"),
                m["ref"].alias("ref"),
            ),
        ),
        F.transform(
            rasters,
            lambda r: F.struct(
                r["page"].alias("page"),
                r["offset"].alias("offset"),
                r["pos"].alias("pos"),
                r["media_ref"].alias("ref"),
            ),
        ),
    )
    return F.array_sort(
        F.filter(figs, lambda f: F.map_contains_key(captions, f["ref"]))
    )


def _page_slices(arr: Column) -> Column:
    """map<page, struct(start, len)> over an array SORTED by (page, …).

    Boundary-scan (O(n)) instead of per-page filters (O(pages × n)) — the
    difference between ~linear and quadratic work on mega-documents.
    Slice positions are 1-based for F.slice.
    """
    n = F.size(arr)
    starts = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.when(
                (i <= n)
                & (
                    (i == 1)
                    | (F.element_at(arr, i - 1)["page"] != F.element_at(arr, i)["page"])
                ),
                F.struct(F.element_at(arr, i)["page"].alias("page"), i.alias("start")),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    shifted = F.concat(F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                       F.array(F.lit(None)))
    entries = F.zip_with(
        starts,
        shifted,
        lambda s, nxt: F.struct(
            s["page"],
            F.struct(
                s["start"].alias("start"),
                (F.coalesce(nxt["start"], n + 1) - s["start"]).alias("len"),
            ),
        ),
    )
    # an empty input makes zip_with pad a null entry → drop null keys
    return F.map_from_entries(F.filter(entries, lambda e: e["page"].isNotNull()))


def _slice_for(arr: Column, slices: Column, p: Column, empty_type: str) -> Column:
    e = F.element_at(slices, p)
    return F.when(e.isNotNull(), F.slice(arr, e["start"], e["len"])).otherwise(
        F.array().cast(empty_type)
    )


_TEXTS_T = "array<struct<page:int,offset:int,pos:int,kind:string,text:string>>"
_FIGS_T = "array<struct<page:int,offset:int,pos:int,ref:string>>"


def _page_part(
    texts: Column, figs: Column, captions: Column, tmap: Column, fmap: Column, p: Column
) -> Column:
    page_text = F.array_join(
        F.transform(_slice_for(texts, tmap, p, _TEXTS_T), lambda t: t["text"]),
        "\n\n",
    )
    part = F.regexp_replace(F.regexp_replace(page_text, r"^\s+", ""), r"\s+$", "")
    fig_list = F.transform(
        _slice_for(figs, fmap, p, _FIGS_T),
        lambda f: F.element_at(captions, f["ref"]),
    )
    return F.when(
        F.size(fig_list) > 0,
        F.concat(
            part, F.lit("\n[Figures: "), F.array_join(fig_list, " ; "), F.lit("]")
        ),
    ).otherwise(part)


def _nonempty_pages_col(
    texts: Column, figs: Column, captions: Column, tmap: Column, fmap: Column
) -> Column:
    """struct(page, part) for every non-empty page, in page order.

    ``tmap``/``fmap`` MUST be materialized columns (withColumn), not inline
    expressions: a higher-order function re-evaluates embedded subtrees per
    element, which would rebuild the O(n) slice map once per page —
    O(pages·n) again, exactly what the maps exist to avoid. As column
    references they are computed once per row and read O(1) in the lambda.
    """
    pages = F.array_sort(
        F.array_distinct(
            F.concat(
                F.transform(texts, lambda t: t["page"]),
                F.transform(figs, lambda f: f["page"]),
            )
        )
    )
    page_parts = F.transform(
        pages,
        lambda p: F.struct(
            p.alias("page"),
            _page_part(texts, figs, captions, tmap, fmap, p).alias("part"),
        ),
    )
    return F.filter(page_parts, lambda s: s["part"] != "")


def _markdown_col(nonempty: Column) -> Column:
    return F.array_join(
        F.transform(
            nonempty,
            lambda s: F.concat(
                F.lit("[Page "),
                (s["page"] + 1).cast("string"),
                F.lit("]\n"),
                s["part"],
            ),
        ),
        "\n\n",
    )


def _out_spans_col(
    nonempty: Column,
    texts: Column,
    figs: Column,
    captions: Column,
    tmap: Column,
    fmap: Column,
) -> Column:
    raw_spans = F.flatten(
        F.transform(
            nonempty,
            lambda s: F.concat(
                F.transform(
                    _slice_for(texts, tmap, s["page"], _TEXTS_T),
                    lambda t: F.struct(
                        t["kind"].alias("kind"),
                        t["text"].alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        t["page"].alias("page"),
                    ),
                ),
                F.transform(
                    _slice_for(figs, fmap, s["page"], _FIGS_T),
                    lambda f: F.struct(
                        F.lit("figure").alias("kind"),
                        F.element_at(captions, f["ref"]).alias("text"),
                        f["ref"].alias("media_ref"),
                        f["page"].alias("page"),
                    ),
                ),
            ),
        )
    )
    return F.transform(
        raw_spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["page"].alias("page"),
            i.cast("int").alias("offset"),
        ),
    )



# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------
_SCAN_LIKE_NODES = ("Relation", "Project", "Filter", "LocalRelation")


def _is_scan_like(docs: DataFrame) -> bool:
    """True when the plan is only scan/project/filter nodes — i.e. the
    eager routing probe re-reads cheap columns from storage, nothing
    else. A derived plan (mapInPandas parse, join, union, aggregate)
    would EXECUTE twice if probed — e.g. facade.load_files' bytes→spans
    parse — so those keep the static two-branch routing instead."""
    try:
        plan = docs._jdf.queryExecution().optimizedPlan().toString()
    except INTROSPECTION_ERRORS as exc:
        fast_path_disabled("extract routing probe", exc)
        return False
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _SCAN_LIKE_NODES:
            return False
    return True


def extract(
    docs: DataFrame,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
    mega_doc_threshold: int | None = 100_000,
    probe_routing: bool = True,
) -> DataFrame:
    """Full pipeline: documents(doc_id, doc_type, raw_html, spans) → result.

    Output: doc_id, markdown, n_pages, spans (renumbered 0-based offsets).

    Documents with more than ``mega_doc_threshold`` input spans are routed
    through the salted two-phase path (pipeline_salted.extract_salted) —
    beyond ~10^5 spans the single collected row becomes a straggler task
    (measured: 100k spans ≈ 17 s in one task). The routing predicate
    prefers an ingest-time ``n_spans`` column when present (corpus writers
    materialize it). On the canonical span-only input shape
    (doc_id, spans) the predicate is then a BARE int comparison that
    reaches the parquet scan as a pushed filter — the salted branch skips
    every row group whose n_spans max is under the threshold (verified:
    ``PushedFilters: [GreaterThan(n_spans,…)]``) — where F.size(spans)
    can never push down. Tables carrying raw_html add an OR'd
    len(raw_html)/8 conservative estimate of HTML-derived spans (a
    main-content block costs ≥ ~8 chars of source; the HTML UDF runs
    after routing), which disables parquet pushdown for that branch —
    over-routing a medium doc to the salted path is correct, just a
    different physical plan. Fallback without the column is F.size on the
    source array. Pass None to disable routing.

    ``probe_routing`` (default True): when the input carries the
    ingest-time ``n_spans`` column, run ONE eager driver-side
    ``max(routing estimate)`` job at plan-construction time; if no row can
    cross the threshold, the salted union branch is not built at all —
    the common no-mega-doc table gets the single-branch plan (the empty
    salted branch still costs an extra scan + empty shuffle stages per
    run, measured ~0.7 s at sf0.1). This is a planning-time statistics
    probe, the same decision an Iceberg catalog would answer from
    manifest min/max without any scan; on bare parquet it reads only the
    routing columns. The probe is skipped (static two-branch plan kept)
    for streaming inputs, for tables without ``n_spans`` (the estimate
    would need the full spans array — not a cheap probe), and for
    non-scan-like plans (mapInPandas parses, joins, unions — probing
    would execute the upstream computation twice; `_is_scan_like`).
    ``probe_routing=False`` disables it outright.
    """
    if mega_doc_threshold is not None:
        from docproc_spark.pipeline_salted import extract_salted

        # Both branch predicates are written out explicitly (not one
        # expression and its ~negation): `n_spans > T` is null for
        # null-n_spans rows, and a naive negation would silently drop them
        # from BOTH branches. The explicit pair keeps every leaf a bare
        # pushable comparison and the branches a disjoint cover.
        if "n_spans" in docs.columns:
            base = F.coalesce(F.col("n_spans"), F.lit(0)).cast("long")
            mega = F.col("n_spans") > mega_doc_threshold
            not_mega = (F.col("n_spans") <= mega_doc_threshold) | F.col(
                "n_spans"
            ).isNull()
        else:
            base = F.when(F.col("spans").isNull(), F.lit(0)).otherwise(
                F.size("spans")
            ).cast("long")
            mega = base > mega_doc_threshold
            not_mega = ~mega
        if "raw_html" in docs.columns:
            # route on the COMBINED estimate (a doc can cross the threshold
            # with each source below it); this branch is non-pushable
            # anyway once raw_html participates, so the sum costs nothing —
            # the bare pushable pair above is kept for span-only tables
            html_est = (
                F.coalesce(F.length("raw_html"), F.lit(0)) / F.lit(8)
            ).cast("long")
            combined_mega = (base + html_est) > mega_doc_threshold
            mega = mega | combined_mega
            not_mega = not_mega & ~combined_mega
        if (
            probe_routing
            and "n_spans" in docs.columns
            and not docs.isStreaming
            and _is_scan_like(docs)
        ):
            # Upper bound of the routing estimate over the whole input:
            # `base` is coalesce(n_spans,0) >= every n_spans arm, and the
            # combined arm is exactly base+html_est, so max(probe) <= T
            # proves filter(mega) is empty and the union branch is dead.
            probe = base
            if "raw_html" in docs.columns:
                probe = base + html_est
            mx = docs.agg(F.max(probe).alias("mx")).first()["mx"]
            if mx is None or mx <= mega_doc_threshold:
                mega_doc_threshold = None
        if mega_doc_threshold is None:
            return extract(
                docs,
                drop_kinds=drop_kinds,
                drop_exact_duplicates=drop_exact_duplicates,
                mega_doc_threshold=None,
            )
        normal = extract(
            docs.filter(not_mega),
            drop_kinds=drop_kinds,
            drop_exact_duplicates=drop_exact_duplicates,
            mega_doc_threshold=None,
        )
        salted = extract_salted(
            docs.filter(mega),
            drop_kinds=drop_kinds,
            drop_exact_duplicates=drop_exact_duplicates,
        )
        return normal.unionByName(salted)

    derived = with_derived_spans(docs)
    rows = enrich_spans(explode_spans(derived))

    collected = rows.groupBy("doc_id").agg(F.collect_list("s").alias("spans"))

    # staged withColumns keep each analyzer pass small; the optimizer
    # collapses them back into one projection over the single shuffle.
    staged = (
        collected.withColumn("srt", _srt_col(F.col("spans"), drop_kinds))
        .withColumn("texts", _texts_col(F.col("srt"), drop_exact_duplicates))
        .withColumn("media_all", F.filter(F.col("srt"), lambda x: x["is_media"]))
        .withColumn("mmap", _page_slices(F.col("media_all")))
        .withColumn("media_idx", _media_idx_col(F.col("media_all"), F.col("mmap")))
        # raster machinery only for docs that HAVE raster spans (rare):
        # one O(n) exists probe gates two O(n)-but-interpreter-heavy array
        # passes (page slice map + per-page flags) — measured ~15% of
        # extract wall when computed unconditionally
        .withColumn(
            "has_raster", F.exists(F.col("srt"), lambda x: x["is_raster"])
        )
        .withColumn(
            "smap",
            F.when(F.col("has_raster"), _page_slices(F.col("srt"))).otherwise(
                F.map_from_entries(
                    F.array().cast("array<struct<page:int,v:struct<start:int,len:int>>>")
                )
            ),
        )
        .withColumn(
            "pflags",
            F.when(
                F.col("has_raster"), _page_flags(F.col("srt"), F.col("smap"))
            ).otherwise(
                F.map_from_entries(
                    F.array().cast(
                        "array<struct<page:int,v:struct<raw:boolean,med:boolean>>>"
                    )
                )
            ),
        )
        .withColumn(
            "total_pages",
            F.when(
                F.col("has_raster"),
                F.coalesce(
                    F.array_max(F.transform(F.col("srt"), lambda x: x["page"])) + 1,
                    F.lit(0),
                ),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "rasters",
            F.when(
                F.col("has_raster"), _rasters_col(F.col("srt"), F.col("pflags"))
            ).otherwise(
                F.array().cast(
                    "array<struct<page:int,offset:int,pos:int,kind:string,"
                    "text:string,sanitized:string,hash:string,media_ref:string,"
                    "is_textual:boolean,is_media:boolean,is_raster:boolean,"
                    "survives:boolean,raw_nonblank:boolean>>"
                )
            ),
        )
        .withColumn(
            "captions",
            _captions_col(F.col("media_idx"), F.col("rasters"), F.col("total_pages")),
        )
        .withColumn(
            "figs", _figs_col(F.col("media_idx"), F.col("rasters"), F.col("captions"))
        )
        # page→(start,len) slice maps, materialized ONCE per row (see
        # _nonempty_pages_col docstring for why these must be columns)
        .withColumn("tmap", _page_slices(F.col("texts")))
        .withColumn("fmap", _page_slices(F.col("figs")))
        .withColumn(
            "nonempty",
            _nonempty_pages_col(
                F.col("texts"), F.col("figs"), F.col("captions"),
                F.col("tmap"), F.col("fmap"),
            ),
        )
        .withColumn("md", _markdown_col(F.col("nonempty")))
        .withColumn(
            "outs",
            _out_spans_col(
                F.col("nonempty"), F.col("texts"), F.col("figs"), F.col("captions"),
                F.col("tmap"), F.col("fmap"),
            ),
        )
    )
    raw_all = F.array_join(
        F.transform(
            F.filter(F.col("srt"), lambda x: x["text"].isNotNull()),
            lambda x: x["text"],
        ),
        "\n\n",
    )
    return staged.select(
        "doc_id",
        F.when(F.col("md") == "", raw_all).otherwise(F.col("md")).alias("markdown"),
        F.when(F.size("nonempty") > 0, F.element_at("nonempty", -1)["page"] + 1)
        .otherwise(F.lit(0))
        .cast("int")
        .alias("n_pages"),
        F.when(F.col("md") == "", F.array().cast(_OUT_SPANS_T))
        .otherwise(F.col("outs"))
        .alias("spans"),
    )
