"""The Spark extraction pipeline (flagship).

DataFrame-first engine for the reference's deterministic extraction path
(docproc_spark.oracle is the single-process truth). The input already
holds one row per document with its span array, so extract() is one
narrow Arrow map over whole documents:

    scan → select(doc_id, spans[, raw_html[, url]])
         → mapInArrow: kernels.assembly.extract_document on every row
           (HTML-derived spans, sanitize, boilerplate drop, first-wins
           dedupe, media captions, raster fallback, page assembly and
           the raw-text fallback), one output row per input row

No exchange, no join, no union, one scan. Python is entered once per
Arrow batch of whole documents, not once per span or per expression, and
it runs the very function the oracle calls. Per batch that is decode,
kernel, encode (_extract_batches): the span lists are decoded one struct
field at a time (_pylist), equal to pyarrow's per-struct to_pylist() and
under half its cost, and the kernel sanitizes each textual span once.

  Skew: a document is one row and one Python call. A document with more
  than ``mega_doc_threshold`` spans would be a straggler task, so extract()
  routes it to pipeline_salted, a relational two-phase plan that spreads
  one document's spans across tasks. A parquet scan whose footers prove
  that no document crosses the threshold gets the single map with no job
  (_footer_bound). A derived input (a load_files parse) is staged once
  first (_staged), so it is parsed once and routed on its real span
  count. The rest of this module serves that path, the staging
  and the operators: the derived-span, explode and enrichment Columns
  (built once per SparkContext, _program), the JVM-side sanitize and
  boilerplate classifier, the kernel's sanitize for non-ASCII spans
  (sanitize_twice_udf) and the Python-whitespace helpers.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from typing import Any
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docproc_spark.kernels.assembly import (
    MEDIA_KINDS,
    RASTER_KIND,
    TEXTUAL_KINDS,
    extract_document,
    html_spans,
)
from docproc_spark.kernels.sanitize import (
    BOILERPLATE_PATTERNS,
    DROP_KINDS_DEFAULT,
    TITLE_MAX_LEN,
    sanitize_text,
)
from docproc_spark.partition import INTROSPECTION_ERRORS, fast_path_disabled
from docproc_spark.schema import OUT_SPAN_STRUCT, SPAN_STRUCT

_OUT_SPANS_T = T.ArrayType(OUT_SPAN_STRUCT).simpleString()


# ---------------------------------------------------------------------------
# Python kernels as pandas UDFs
# ---------------------------------------------------------------------------
class ContextPandasUDF:
    """A module-level pandas UDF whose JVM function belongs to the active
    SparkContext: ``F.pandas_udf(func, return_type)`` made once per context
    (_program) and called like it.

    PySpark caches a UDF's JVM function for the life of the process, and
    that function carries the Python accumulator of the SparkContext it was
    first called under. A plain module-level ``@F.pandas_udf`` therefore
    keeps a stopped context's accumulator after ``stop()`` + ``get_spark()``
    in one JVM, and every task's accumulator update targets the closed
    server of the stopped context."""

    def __init__(self, func: Callable, return_type: T.DataType):
        self.func, self.return_type = func, return_type
        self._key = ("pandas_udf", func.__module__, func.__qualname__)

    def udf(self):
        """The pandas UDF of the active SparkContext."""
        return _program(self._key, lambda: F.pandas_udf(self.func, self.return_type))

    def __call__(self, *cols) -> Column:
        return self.udf()(*cols)


def context_pandas_udf(return_type: T.DataType) -> Callable[[Callable], ContextPandasUDF]:
    """Decorator form of ContextPandasUDF, used like ``@F.pandas_udf``."""
    return lambda func: ContextPandasUDF(func, return_type)


@context_pandas_udf(
    T.StructType(
        [T.StructField("sanitized", T.StringType()),
         T.StructField("resanitized", T.StringType())]
    )
)
def sanitize_twice_udf(s: pd.Series) -> pd.DataFrame:
    """sanitize_text of each element of one Arrow batch, and sanitize_text
    of that: the text ``boilerplate_kind(sanitized)`` classifies. A null
    element stays null, so a batch masked down to its non-ASCII rows
    (enrich_spans) costs Python calls for those rows only."""
    once = s.map(sanitize_text, na_action="ignore")
    return pd.DataFrame(
        {"sanitized": once, "resanitized": once.map(sanitize_text, na_action="ignore")}
    )


@context_pandas_udf(T.ArrayType(SPAN_STRUCT))
def html_spans_udf(raw_html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series([html_spans(h, u) for h, u in zip(raw_html, url)], dtype=object)


# ---------------------------------------------------------------------------
# Native sanitize for ASCII rows (JVM-side; Python only for non-ASCII)
# ---------------------------------------------------------------------------
# Control characters the sanitize chain deletes (NOT \t \n \r — \t feeds
# the space-collapse, \n survives, \r is edge-trimmed only). Expressed as
# a literal char set for F.translate: a linear no-regex pass, measured
# ~2x cheaper than the regexp_replace char-class it replaces on the bench
# corpus (the sanitize map stage dominated the span-exploding plan).
_CTRL_STRIP = "".join(
    chr(c)
    for c in [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0x7F]
)


def sanitize_ascii_col(text: Column) -> Column:
    """The sanitize chain for ASCII input, where NFC and zero-width
    stripping are no-ops — the one JVM-side twin of the Python kernel
    (kernels/sanitize.py), kept for speed and hypothesis-tested against it.

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
    pays 2 regex scans instead of 2×n — the bare chain was ~half of the
    post-shuffle wall of an earlier span-exploding extract plan (measured
    4.4 s of a ~9 s sf0.1 run).

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
# The Column program, built once per SparkContext
# ---------------------------------------------------------------------------
_PROGRAM: dict = {}
_PROGRAM_CONTEXT: SparkContext | None = None
_PROGRAM_LOCK = threading.RLock()


def _program(key: tuple | str, build: Callable[[], Any]) -> Any:
    """``build()``'s Columns or UDFs, built once per ``key`` and active
    SparkContext.

    Building a Column costs ~16 py4j round trips per Column-function call
    (name lookups and PySpark's call-site bookkeeping), thousands for the
    salted path's derive/explode/enrich program, while a Column is an
    immutable, unresolved expression that any DataFrame can take.
    The entries belong to the SparkContext they were built under and are
    all dropped when it changes, so a new context never plans with JVM
    objects made for a stopped one. Under Spark Connect there is no
    active context (None) and Columns are plain Python trees, so the
    memo holds for the process. Concurrent callers build each entry
    once: the lock is held during ``build``. It is re-entrant, because a
    build calls _program itself when its Columns take a ContextPandasUDF."""
    global _PROGRAM_CONTEXT
    with _PROGRAM_LOCK:
        sc = SparkContext._active_spark_context
        if sc is not _PROGRAM_CONTEXT:
            _PROGRAM.clear()
            _PROGRAM_CONTEXT = sc
        got = _PROGRAM.get(key)
        if got is None:
            got = _PROGRAM[key] = build()
        return got


# ---------------------------------------------------------------------------
# Per-span Columns of the salted path (pipeline_salted) and of _staged
# ---------------------------------------------------------------------------
def derived_spans(docs: DataFrame, *, sentinel: bool = False) -> Column:
    """The input spans followed by the HTML-derived spans of ``raw_html``
    (kernels.assembly.html_spans), in extract_document's merge order, then
    the sentinel when asked for; an empty array where a document has
    neither. Canonical span-only tables (the engine's input contract is
    just (doc_id, spans)) have no raw_html column and keep their spans; the
    page URL (WARC tables carry one) anchors relative image srcs, tables
    without it keep verbatim-ref identity."""
    has_html_col = "raw_html" in docs.columns
    has_url_col = has_html_col and "url" in docs.columns
    return _program(
        ("derived_spans", has_html_col, has_url_col, sentinel),
        lambda: _derived_spans_col(has_html_col, has_url_col, sentinel),
    )


def with_derived_spans(docs: DataFrame) -> DataFrame:
    """derived_spans with a sentinel appended, as the ``spans`` column.

    The sentinel (null-text unclassified span) guarantees every doc_id
    yields at least one exploded row, so the whole input flows through the
    salted plan to its doc-level merge — no separate "empty doc" branch,
    which would re-scan the source and re-run the HTML UDF just to find
    zero-span docs. The sentinel is inert downstream: it never survives
    sanitize, never counts as raw text, media, or raster, and the raw-text
    fallback filters its null text.
    """
    return docs.withColumn("spans", derived_spans(docs, sentinel=True))


def _derived_spans_col(has_html_col: bool, has_url_col: bool, sentinel: bool) -> Column:
    empty = F.array().cast(_OUT_SPANS_T)
    parts = [F.coalesce(F.col("spans"), empty)]
    if has_html_col:
        has_html = F.col("raw_html").isNotNull() & (F.length("raw_html") > 0)
        url_col = F.col("url") if has_url_col else F.lit(None).cast("string")
        parts.append(
            F.when(has_html, html_spans_udf(F.col("raw_html"), url_col)).otherwise(empty)
        )
    if sentinel:
        parts.append(
            F.array(
                F.struct(
                    F.lit("unclassified").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).cast("int").alias("page"),
                    F.lit(-1).cast("int").alias("offset"),
                )
            )
        )
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span. ``pos`` = position in the span array — the oracle
    sorts with a STABLE sort, so input order is the tie-break for spans
    with colliding (page, offset) (user spans vs HTML-derived spans at the
    same offsets); pos reproduces that exactly. Null OR EMPTY kind
    defaults to 'text' — the oracle normalizes with `or "text"`
    (assembly.py:75), which catches '' too; a bare coalesce would leave
    an empty-string kind in neither the textual nor the media set and
    silently diverge on dirty external span tables. Null page/offset → 0."""
    exploded, flat = _program("explode", _explode_cols)
    return docs.select(*exploded).select(*flat)


def _explode_cols() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    return (
        (F.col("doc_id"), F.posexplode("spans").alias("pos", "s")),
        (
            F.col("doc_id"),
            F.coalesce(F.nullif(F.col("s.kind"), F.lit("")), F.lit("text")).alias(
                "kind"
            ),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.coalesce(F.col("s.page"), F.lit(0)).alias("page"),
            F.coalesce(F.col("s.offset"), F.lit(0)).alias("offset"),
            F.col("pos").cast("int").alias("pos"),
        ),
    )


def enrich_spans(rows: DataFrame) -> DataFrame:
    """Narrow (no-shuffle) per-span enrichment of exploded rows: the
    sanitized text, the boilerplate class and the classification booleans,
    as one struct ``s`` that pipeline_salted flattens.

    Sanitize and boilerplate class are the kernels' (``sanitize_text`` and
    ``boilerplate_kind`` of its result, which sanitizes again). An ASCII
    span is sanitized by the JVM twin inside whole-stage codegen
    (sanitize_ascii_col), and the result is its own sanitize. A non-ASCII
    span is sanitized by the kernel in sanitize_twice_udf: NFC needs
    unicodedata, and its sanitized text may not be its own sanitize
    (kernels/sanitize.py, fixed points), so the UDF returns the second
    pass too. The JVM twin boilerplate_kind_col then classifies the
    second pass where there is one and the sanitized text elsewhere. This
    keeps Python worker traffic ~proportional to the non-ASCII fraction,
    which lets the stage scale past ~cores/2 threads in local mode (JVM
    task threads and Python workers both want a core).

    Catalyst extracts a Python UDF out of a CASE branch and evaluates it
    for EVERY row, so the UDF's input is masked to null outside the
    non-ASCII textual rows, and the Arrow crossing carries ~no bytes for
    the common case. ASCII detection is octet_length != char_length (a
    char > U+007F is exactly a multi-byte UTF-8 sequence): two counter
    reads, no regex scan.

    Classification follows the oracle: any media-KIND span counts for
    per-page image enumeration even with a null/empty ref
    (kernels/assembly.py enumerates every media span), while ref-less
    RASTERS are inert (assembly skips ''/null refs before captioning)."""
    nx, san, s = _program("enrich", _enrich_cols)
    # _nx (the UDF's struct) and _san staged as real columns: each feeds
    # more than one expression above it, and a multi-use non-cheap alias
    # blocks CollapseProject from inlining — the UDF and the JVM sanitize
    # chain run once per row, and the consumers read attributes (the
    # hash_embed lesson)
    return rows.withColumn("_nx", nx).withColumn("_san", san).select("doc_id", s)


def _enrich_cols() -> tuple[Column, Column, Column]:
    """enrich_spans's ``_nx`` and ``_san`` columns and ``s`` struct."""
    is_textual = F.col("kind").isin(*TEXTUAL_KINDS)
    is_media = F.col("kind").isin(*MEDIA_KINDS)
    is_raster = (
        (F.col("kind") == RASTER_KIND)
        & F.col("media_ref").isNotNull()
        & (F.col("media_ref") != "")
    )
    text = F.col("text")
    in_python = is_textual & (F.octet_length(text) != F.length(text))
    nx = sanitize_twice_udf(F.when(in_python, text))
    # the UDF's fields are non-null exactly on the in_python rows
    san = F.when(
        is_textual, F.coalesce(F.col("_nx.sanitized"), sanitize_ascii_col(text))
    )
    return nx, san, F.struct(
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
        # the coalesce is the classifier's input, not a fallback around
        # it: in a coalesce branch its repeated subexpressions are not
        # shared by codegen (measured: 20-30% more JVM CPU per salted call)
        boilerplate_kind_col(F.coalesce(F.col("_nx.resanitized"), F.col("_san"))).alias(
            "bp"
        ),
        # bool(text.strip()) — F.trim strips ASCII space ONLY and would
        # let whitespace-only raw text block the raster fallback
        (is_textual & has_nonblank_col(F.col("text"))).alias("raw_nonblank"),
    ).alias("s")


# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------
_SCAN_LIKE_NODES = ("Relation", "Project", "Filter", "LocalRelation")

# Most parquet files whose footers extract() reads on the driver to bound
# the routing estimate; above it the probe job runs instead. A footer read
# is ~15 us of CPU on a local disk, but each file name is one py4j round
# trip and a network-backed mount can make a read cost milliseconds, so
# the cap keeps the footer walk well under the probe job it replaces.
_FOOTER_FILES_MAX = 256

# Encodings that store every BYTE_ARRAY value's full bytes in the column
# chunk (values, dictionary pages, and the level/index encodings). A
# DELTA_BYTE_ARRAY chunk stores shared prefixes once, so its size does not
# bound its longest value.
_WHOLE_VALUE_ENCODINGS = frozenset(
    {"PLAIN", "PLAIN_DICTIONARY", "RLE_DICTIONARY", "DELTA_LENGTH_BYTE_ARRAY",
     "RLE", "BIT_PACKED"}
)


def _scan_plan(docs: DataFrame) -> Any:
    """The optimized plan (a JVM LogicalPlan) when it is only
    scan/project/filter nodes, else None.

    On a scan-like plan the routing probe only reads the routing columns
    from storage, and a single parquet leaf may let _footer_bound answer
    it with no job at all. A derived plan (mapInPandas parse, join, union,
    aggregate) would EXECUTE once for the probe and again for the result,
    e.g. facade.load_files' bytes→spans parse, so extract stages it first
    (_staged) and probes the staged rows; a plan that cannot be inspected
    is treated as derived. The plan is walked once, as text, and
    _footer_bound reads the same JVM plan."""
    try:
        plan = docs._jdf.queryExecution().optimizedPlan()
        text = plan.toString()
    except INTROSPECTION_ERRORS as exc:
        fast_path_disabled("extract routing probe", exc)
        return None
    for line in text.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _SCAN_LIKE_NODES:
            return None
    return plan


def _footer_bound(docs: DataFrame, plan: Any) -> int | None:
    """An upper bound of the routing estimate ``coalesce(n_spans, 0) +
    len(raw_html) / 8`` over every row of ``docs``, read from parquet
    footers without a Spark job, or None when the footers cannot give one.

    ``plan`` is _scan_plan's plan. The bound needs a parquet relation
    whose own data columns ``n_spans`` (and ``raw_html``, when present)
    reach the output unchanged: not an alias, a computed column or a
    partition column. Per row group it is the ``n_spans`` max statistic
    (at least 0) plus ``raw_html``'s uncompressed chunk size over 8: that
    size bounds the bytes, and so the characters, of any single value
    when every encoding of the chunk stores each value's full bytes
    (_WHOLE_VALUE_ENCODINGS). A Filter above the scan only removes rows
    and ``inputFiles()`` is a superset of the files read, so the bound
    holds for the filtered rows too. A missing footer, statistic or
    column, a non-``file:`` path or more than _FOOTER_FILES_MAX files
    gives None."""
    import pyarrow.parquet as pq

    try:
        leaf = plan.collectLeaves().head()
        if not leaf.toString().rstrip().endswith(" parquet"):
            return None
        names = ["n_spans"] + (["raw_html"] if "raw_html" in docs.columns else [])
        out, own = plan.output(), leaf.outputSet()
        if not all(own.contains(out.apply(docs.columns.index(n))) for n in names):
            return None
        partition_cols = {c.lower() for c in leaf.relation().partitionSchema().fieldNames()}
        if partition_cols & set(names):
            return None
        files = docs._jdf.inputFiles()
        if len(files) > _FOOTER_FILES_MAX:
            return None
        uris = [urlparse(f) for f in files]
    except INTROSPECTION_ERRORS as exc:
        fast_path_disabled("extract footer routing bound", exc)
        return None
    bound = 0
    for uri in uris:
        if uri.scheme != "file":
            return None
        try:
            meta = pq.read_metadata(unquote(uri.path))
        except (OSError, pa.ArrowInvalid):
            return None
        where = {meta.schema.column(j).path: j for j in range(meta.num_columns)}
        if any(n not in where for n in names):
            return None
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            if group.num_rows == 0:
                continue
            stats = group.column(where["n_spans"]).statistics
            if stats is None or not stats.has_min_max or not isinstance(stats.max, int):
                return None
            rows_bound = max(0, stats.max)
            if "raw_html" in names:
                html = group.column(where["raw_html"])
                if not set(html.encodings) <= _WHOLE_VALUE_ENCODINGS:
                    return None
                rows_bound += html.total_uncompressed_size // 8
            bound = max(bound, rows_bound)
    return bound


def _staged(docs: DataFrame) -> DataFrame:
    """(doc_id, spans, n_spans) of a derived input, as a lazy
    localCheckpoint: ``spans`` is derived_spans (the HTML-derived spans
    merged in, so no raw_html is left to parse) and ``n_spans`` its exact
    size.

    The routing probe's job computes these rows, and both branches of the
    routed plan then read them, so the upstream derivation (a mapInPandas
    parse, a join) runs once per call, and a page is routed on the blocks
    it really holds. The HTML spans are made by the masked html_spans_udf:
    only raw_html and url cross into Python, never the input spans. A
    fresh checkpoint per call reads a rewritten input again, and the
    ContextCleaner releases its blocks once the result is dropped."""
    spans = derived_spans(docs)
    return (
        docs.select("doc_id", spans.alias("spans"))
        .withColumn("n_spans", F.size("spans"))
        .localCheckpoint(eager=False)
    )


def extract(
    docs: DataFrame,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
    mega_doc_threshold: int | None = 100_000,
    probe_routing: bool = True,
) -> DataFrame:
    """Full pipeline: documents(doc_id, doc_type, raw_html, spans) → result.

    Output: doc_id, markdown, n_pages, spans (renumbered 0-based offsets),
    one row per input row. A document is extracted by one
    kernels.assembly.extract_document call inside a mapInArrow over
    whole-document rows: no shuffle, and nothing to build per call beyond
    the DataFrame calls themselves.

    Documents with more than ``mega_doc_threshold`` input spans are routed
    through the salted two-phase path (pipeline_salted.extract_salted) —
    beyond ~10^5 spans one document's call becomes a straggler task. The
    routing predicate prefers an ingest-time ``n_spans`` column when
    present (corpus writers materialize it). On the canonical span-only
    input shape (doc_id, spans) the predicate is then a BARE int
    comparison that reaches the parquet scan as a pushed filter — the
    salted branch skips every row group whose n_spans max is under the
    threshold (verified: ``PushedFilters: [GreaterThan(n_spans,…)]``) —
    where F.size(spans) can never push down. Scan-like tables carrying
    raw_html add an OR'd len(raw_html)/8 conservative estimate of
    HTML-derived spans (a main-content block costs ≥ ~8 chars of source;
    their HTML is parsed after routing), which disables parquet pushdown
    for that branch — over-routing a medium doc to the salted path is
    correct, just a different physical plan. A staged derived input
    (below) routes on its exact span count instead. Fallback without the
    column is F.size on the source array. Pass None to disable routing.

    ``probe_routing`` (default True): when the input carries the
    ingest-time ``n_spans`` column, prove at plan-construction time that
    no row can cross the threshold, and then do not build the salted
    union branch at all: the common no-mega-doc table gets the
    single-branch plan (the empty salted branch still costs an extra scan
    + empty shuffle stages per run, measured ~0.7 s at sf0.1). On a
    scan-like plan (_scan_plan) over one parquet relation whose own
    ``n_spans``/``raw_html`` columns reach the output, the proof comes
    from the files' footers (_footer_bound: per row group, the ``n_spans``
    max statistic plus ``raw_html``'s chunk size over 8), the decision a
    catalog answers from manifest min/max, and no Spark job runs. When
    the footers cannot prove it (any other scan-like input, a computed or
    partition ``n_spans``, a missing statistic, a bound over the
    threshold), ONE eager driver-side ``max(routing estimate)`` job
    decides, reading only the routing columns. A derived plan
    (facade.load_files' mapInPandas parses, joins, unions) is first
    staged (_staged): its rows, with the HTML-derived spans merged in and
    their exact count as ``n_spans``, become one lazy localCheckpoint that
    the probe's job computes and both branches read. The derivation then
    runs once per call, and an HTML page is routed on the blocks it holds,
    not on len(raw_html)/8. The probe is skipped (static two-branch plan
    kept) for streaming inputs and for tables without ``n_spans`` (the
    estimate would need the full spans array — not a cheap probe).
    ``probe_routing=False`` disables it outright. The probe job runs with
    the job description ``docproc extract: routing probe``; the caller's
    description is restored afterwards.
    """
    if mega_doc_threshold is not None:
        from docproc_spark.pipeline_salted import extract_salted

        def one_map(frame: DataFrame) -> DataFrame:
            return extract(
                frame,
                drop_kinds=drop_kinds,
                drop_exact_duplicates=drop_exact_duplicates,
                mega_doc_threshold=None,
            )

        probe = probe_routing and "n_spans" in docs.columns and not docs.isStreaming
        if probe:
            plan = _scan_plan(docs)
            if plan is None:
                docs = _staged(docs)
            else:
                bound = _footer_bound(docs, plan)
                if bound is not None and bound <= mega_doc_threshold:
                    return one_map(docs)
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
        if probe:
            # Upper bound of the routing estimate over the whole input:
            # `base` is coalesce(n_spans,0) >= every n_spans arm, and the
            # combined arm is exactly base+html_est, so max(estimate) <= T
            # proves filter(mega) is empty and the union branch is dead.
            estimate = base
            if "raw_html" in docs.columns:
                estimate = base + html_est
            sc = docs.sparkSession.sparkContext
            caller_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription("docproc extract: routing probe")
            try:
                mx = docs.agg(F.max(estimate).alias("mx")).first()["mx"]
            finally:
                sc.setJobDescription(caller_desc)
            if mx is None or mx <= mega_doc_threshold:
                mega_doc_threshold = None
        if mega_doc_threshold is None:
            return one_map(docs)
        normal = one_map(docs.filter(not_mega))
        salted = extract_salted(
            docs.filter(mega),
            drop_kinds=drop_kinds,
            drop_exact_duplicates=drop_exact_duplicates,
        )
        return normal.unionByName(salted)

    cols = ["doc_id", "spans"]
    if "raw_html" in docs.columns:
        # the page URL (WARC tables carry one) anchors relative image srcs
        cols += ["raw_html"] + (["url"] if "url" in docs.columns else [])
    out_schema = T.StructType(
        [
            docs.schema["doc_id"],
            T.StructField("markdown", T.StringType()),
            T.StructField("n_pages", T.IntegerType()),
            T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT)),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    drop_kinds, drop_exact_duplicates = frozenset(drop_kinds), bool(drop_exact_duplicates)

    def extract_documents(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _extract_batches(batches, arrow_schema, drop_kinds, drop_exact_duplicates)

    return docs.select(*cols).mapInArrow(extract_documents, out_schema)


def _extract_batches(
    batches: Iterator[pa.RecordBatch],
    schema: pa.Schema,
    drop_kinds: frozenset,
    drop_exact_duplicates: bool,
) -> Iterator[pa.RecordBatch]:
    """extract_document on every row of every batch, in row order; doc_id
    passes through as the input's Arrow column.

    Three steps per batch: decode the input columns to Python values
    (_pylist: the span lists field by field), run the kernel per row, and
    encode its results as Arrow arrays. The kernel is most of the cost.
    Decoding the spans with ``to_pylist()`` cost over a third of the
    kernel's time again; _pylist returns the same lists for about a
    third of that."""
    for batch in batches:
        names = batch.schema.names

        def values(name: str) -> list:
            if name in names:
                return _pylist(batch.column(name))
            return [None] * batch.num_rows

        done = [
            extract_document(
                spans,
                raw_html,
                url,
                drop_kinds=drop_kinds,
                drop_exact_duplicates=drop_exact_duplicates,
            )
            for spans, raw_html, url in zip(
                values("spans"), values("raw_html"), values("url")
            )
        ]
        markdown, n_pages, out_spans = zip(*done) if done else ((), (), ())
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array(markdown, schema.field("markdown").type),
                pa.array(n_pages, schema.field("n_pages").type),
                pa.array(out_spans, schema.field("spans").type),
            ],
            schema=schema,
        )


def _pylist(column: pa.Array) -> list:
    """``column.to_pylist()``, built field by field for a list of structs.

    pyarrow converts each struct element through its per-scalar path, one
    dict at a time. Here each struct field converts in one call, the
    fields are zipped into row dicts, and the rows are cut per list by the
    offsets. The result equals ``to_pylist()``, including on a sliced
    array, null and empty lists, null struct elements and null fields.
    Any other column is converted by ``to_pylist()`` itself."""
    t = column.type
    if not (
        pa.types.is_list(t)
        and pa.types.is_struct(t.value_type)
        and t.value_type.num_fields
    ):
        return column.to_pylist()
    offsets = column.offsets.to_pylist()
    lo = offsets[0]
    # .values ignores the list's slice; the offsets index into it directly
    structs = column.values.slice(lo, offsets[-1] - lo)
    fields = [f.name for f in t.value_type]
    rows: list = [
        dict(zip(fields, row))
        for row in zip(*(structs.field(i).to_pylist() for i in range(len(fields))))
    ]
    if structs.null_count:
        rows = [r if ok else None for r, ok in zip(rows, structs.is_valid().to_pylist())]
    lists: list = [rows[a - lo : b - lo] for a, b in zip(offsets, offsets[1:])]
    if column.null_count:
        lists = [v if ok else None for v, ok in zip(lists, column.is_valid().to_pylist())]
    return lists
