"""The Spark extraction pipeline (flagship).

DataFrame-first engine for the reference's deterministic extraction path
(docproc_spark.oracle is the single-process truth). The input already
holds one row per document with its span array, so extract() is one
narrow Arrow map over whole documents:

    scan → select(doc_id, spans[, raw_html[, url]])
         → mapInArrow: the kernels.assembly kernel on every row
           (HTML-derived spans, sanitize, boilerplate drop, first-wins
           dedupe, media captions, raster fallback, page assembly and
           the raw-text fallback), one output row per input row

No exchange, no join, no union, one scan. Python is entered once per
Arrow batch of whole documents, not once per span or per expression, and
it runs the kernel functions the oracle calls (page_partial,
merge_pages). Per batch (_extract_batches) the kernel runs on the span
field arrays, with no per-span dict: the batch's spans are flattened
once, the HTML-derived spans appended, the whole batch ordered by one
stable sort, the sanitize/classifier gates decided for the whole text
array in pyarrow.compute (kernels.sanitize.unchanged_gates), each
document's page runs walked over plain lists, and the output encoded as
columns. The oracle runs the same phases through a scalar adapter with
no gates, so it checks the gated engine against the scalar functions.

  Skew: a document is one row and one Python call. A document with more
  than ``mega_doc_threshold`` spans would be a straggler task, so extract()
  routes it to pipeline_salted, which runs the same kernel in two phases
  (page partials per (doc, page), then a merge per document) so that one
  document's spans spread across tasks. A parquet scan whose footers
  prove that no document crosses the threshold gets the single map with
  no job (_footer_bound). A derived input (a load_files parse) is staged
  once first (_staged), so it is parsed once and routed on its real span
  count. The rest of this module serves that routing, the staging and
  the operators: the derived span array (derived_spans, with the masked
  html_spans_udf), the per-SparkContext memo of Columns and pandas UDFs
  (_program) and the Python-whitespace Column helpers.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator, Sequence
from typing import Any
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docproc_spark.kernels.assembly import (
    OutSpans,
    html_blocks,
    html_spans,
    merge_pages,
    page_partials,
)
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT, unchanged_gates
from docproc_spark.materialize import stage
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


@context_pandas_udf(T.ArrayType(SPAN_STRUCT))
def html_spans_udf(raw_html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series([html_spans(h, u) for h, u in zip(raw_html, url)], dtype=object)


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
# Columns and pandas UDFs, built once per SparkContext
# ---------------------------------------------------------------------------
_PROGRAM: dict = {}
_PROGRAM_CONTEXT: SparkContext | None = None
_PROGRAM_LOCK = threading.RLock()


def _program(key: tuple | str, build: Callable[[], Any]) -> Any:
    """``build()``'s Columns or UDFs, built once per ``key`` and active
    SparkContext.

    Building a Column costs ~16 py4j round trips per Column-function call
    (name lookups and PySpark's call-site bookkeeping), while a Column is
    an immutable, unresolved expression that any DataFrame can take.
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
# The span array of the salted path (pipeline_salted) and of _staged
# ---------------------------------------------------------------------------
def derived_spans(docs: DataFrame) -> Column:
    """The input spans followed by the HTML-derived spans of ``raw_html``
    (kernels.assembly.html_spans), in extract_document's merge order; an
    empty array where a document has neither. Canonical span-only tables
    (the engine's input contract is just (doc_id, spans)) have no raw_html
    column and keep their spans; the page URL (WARC tables carry one)
    anchors relative image srcs, tables without it keep verbatim-ref
    identity."""
    has_html_col = "raw_html" in docs.columns
    has_url_col = has_html_col and "url" in docs.columns
    return _program(
        ("derived_spans", has_html_col, has_url_col),
        lambda: _derived_spans_col(has_html_col, has_url_col),
    )


def _derived_spans_col(has_html_col: bool, has_url_col: bool) -> Column:
    empty = F.array().cast(_OUT_SPANS_T)
    parts = [F.coalesce(F.col("spans"), empty)]
    if has_html_col:
        has_html = F.col("raw_html").isNotNull() & (F.length("raw_html") > 0)
        url_col = F.col("url") if has_url_col else F.lit(None).cast("string")
        parts.append(
            F.when(has_html, html_spans_udf(F.col("raw_html"), url_col)).otherwise(empty)
        )
    return F.concat(*parts) if len(parts) > 1 else parts[0]


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
    """(doc_id, spans, n_spans) of a derived input, staged lazily:
    ``spans`` is derived_spans (the HTML-derived spans
    merged in, so no raw_html is left to parse) and ``n_spans`` its exact
    size.

    The routing probe's job computes these rows, and both branches of the
    routed plan then read them, so the upstream derivation (a mapInPandas
    parse, a join) runs once per call, and a page is routed on the blocks
    it really holds. The HTML spans are made by the masked html_spans_udf:
    only raw_html and url cross into Python, never the input spans. A
    fresh stage per call reads a rewritten input again, and the blocks go
    with the result."""
    spans = derived_spans(docs)
    return stage(
        docs.select("doc_id", spans.alias("spans")).withColumn(
            "n_spans", F.size("spans")
        ),
        eager=False,
    )


def extract(
    docs: DataFrame,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
    mega_doc_threshold: int | None = 100_000,
) -> DataFrame:
    """Full pipeline: documents(doc_id, doc_type, raw_html, spans) → result.

    Output: doc_id, markdown, n_pages, spans (renumbered 0-based offsets),
    one row per input row. The documents are extracted inside a
    mapInArrow over whole-document rows, the assembly kernel running on
    each Arrow batch's span field arrays (_extract_batches): no shuffle,
    and nothing to build per call beyond the DataFrame calls themselves.

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

    When the input carries the ingest-time ``n_spans`` column, routing
    first tries to prove at plan-construction time that no row can cross
    the threshold, and then does not build the salted union branch at
    all: the common no-mega-doc table gets the
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
    their exact count as ``n_spans``, are staged lazily once, and the
    probe's job computes them for both branches to read. The derivation then
    runs once per call, and an HTML page is routed on the blocks it holds,
    not on len(raw_html)/8. The probe is skipped (static two-branch plan
    kept) for streaming inputs and for tables without ``n_spans`` (the
    estimate would need the full spans array — not a cheap probe). The
    probe job runs with
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

        probe = "n_spans" in docs.columns and not docs.isStreaming
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
    out_schema = extract_schema(docs.schema["doc_id"])
    arrow_schema = to_arrow_schema(out_schema)
    drop_kinds, drop_exact_duplicates = frozenset(drop_kinds), bool(drop_exact_duplicates)

    def extract_documents(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _extract_batches(batches, arrow_schema, drop_kinds, drop_exact_duplicates)

    return docs.select(*cols).mapInArrow(extract_documents, out_schema)


def extract_schema(doc_id: T.StructField) -> T.StructType:
    """The schema of extract's result, with the input's ``doc_id`` field."""
    return T.StructType(
        [
            doc_id,
            T.StructField("markdown", T.StringType()),
            T.StructField("n_pages", T.IntegerType()),
            T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT)),
        ]
    )


def _extract_batches(
    batches: Iterator[pa.RecordBatch],
    schema: pa.Schema,
    drop_kinds: frozenset,
    drop_exact_duplicates: bool,
) -> Iterator[pa.RecordBatch]:
    """The assembly kernel on every row of every batch, in row order;
    doc_id passes through as the input's Arrow column.

    Per batch, on the span field arrays, not on per-span Python objects:
    flatten the ``spans`` list column to its five field arrays and a row
    index (_span_columns), append each row's HTML-derived spans with that
    row's index (_with_html), order the batch by (row, page, offset) and
    decide the batch gates on its text array (_sorted_spans), run
    page_partials and merge_pages per document over slices of the
    batch's field lists, and encode the output spans as columns
    (_out_spans_array). A document's spans are a contiguous run of the
    sorted batch, and its pages are runs within it."""
    spans_t = schema.field("spans").type
    for batch in batches:
        names = batch.schema.names
        n = batch.num_rows
        rows, cols = _span_columns(batch.column("spans") if "spans" in names else None)
        if "raw_html" in names:
            url = batch.column("url") if "url" in names else pa.nulls(n, pa.string())
            rows, cols = _with_html(rows, cols, batch.column("raw_html"), url)
        rows, fields, verdicts = _sorted_spans(rows, cols, drop_kinds)
        starts = np.searchsorted(rows, np.arange(n + 1)).tolist()
        out = OutSpans()
        ends = [0]
        markdown, n_pages = [], []
        for lo, hi in zip(starts, starts[1:]):
            partials = page_partials(fields, lo, hi, verdicts, drop_kinds=drop_kinds)
            markdown.append(
                merge_pages(partials, out, drop_exact_duplicates=drop_exact_duplicates)
            )
            n_pages.append(out.page[-1] + 1 if len(out) > ends[-1] else 0)
            ends.append(len(out))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array(markdown, schema.field("markdown").type),
                pa.array(n_pages, schema.field("n_pages").type),
                _out_spans_array(out, ends, spans_t),
            ],
            schema=schema,
        )


_SPAN_FIELDS = ("kind", "text", "media_ref", "page", "offset")
_SPAN_TYPES = (pa.string(), pa.string(), pa.string(), pa.int32(), pa.int32())


def _list_fields(column: pa.Array) -> tuple[np.ndarray, dict[str, pa.Array]]:
    """(length of each list, {field name: field array of the flattened
    elements}) of a list<struct> array.

    A null list counts 0 elements, since list_flatten skips the child
    range a null list may span, and StructArray.flatten() applies the
    struct's validity, so a null element reads as all-null fields.
    Both handle a sliced array."""
    lengths = pc.fill_null(pc.list_value_length(column), 0).to_numpy()
    structs = pc.list_flatten(column)
    return lengths, dict(zip((f.name for f in structs.type), structs.flatten()))


def _span_columns(spans: pa.Array | None) -> tuple[np.ndarray, list[pa.Array]]:
    """(row index, [kind, text, media_ref, page, offset]) of every element
    of a spans column; a field the struct lacks (the canonical input has
    no page) reads as nulls, and no column as no spans."""
    if spans is None:
        return np.zeros(0, np.int64), [pa.nulls(0, t) for t in _SPAN_TYPES]
    lengths, by_name = _list_fields(spans)
    rows = np.repeat(np.arange(len(spans)), lengths)
    return rows, [
        by_name[name] if name in by_name else pa.nulls(len(rows), t)
        for name, t in zip(_SPAN_FIELDS, _SPAN_TYPES)
    ]


def _with_html(
    rows: np.ndarray, cols: list[pa.Array], raw_html: pa.Array, url: pa.Array
) -> tuple[np.ndarray, list[pa.Array]]:
    """``rows``/``cols`` followed by every row's HTML-derived spans
    (kernels.assembly.html_blocks), on page 0 at offsets 0, 1, ... with
    that row's index: after all input spans, so the stable sort keeps a
    row's input spans first on a (page, offset) tie, as extract_document
    merges them."""
    html_rows, offsets, blocks = [], [], []
    for row, (h, u) in enumerate(zip(raw_html.to_pylist(), url.to_pylist())):
        got = html_blocks(h, u)
        html_rows += [row] * len(got)
        offsets += range(len(got))
        blocks += got
    if not blocks:
        return rows, cols
    kinds, texts, refs = zip(*blocks)
    extra = [kinds, texts, refs, [0] * len(blocks), offsets]
    return np.concatenate([rows, np.asarray(html_rows, np.int64)]), [
        pa.concat_arrays([c, pa.array(e, c.type)]) for c, e in zip(cols, extra)
    ]


def _sorted_spans(
    rows: np.ndarray, cols: list[pa.Array], drop_kinds: frozenset
) -> tuple[np.ndarray, tuple[list, list, list, list], list]:
    """(row index, (kinds, texts, refs, pages), gate verdicts) of spans
    given as a row index and their five field arrays, ordered by (row,
    page, offset) with a null page or offset read as 0; spans that tie
    keep their given order (np.lexsort is stable). A batch that arrives
    in order is not permuted. The verdicts are
    kernels.sanitize.unchanged_gates over the text array."""
    page = pc.fill_null(cols[3], 0).to_numpy().astype(np.int64)
    offset = pc.fill_null(cols[4], 0).to_numpy().astype(np.int64)
    ordered = (rows[1:] > rows[:-1]) | (rows[1:] == rows[:-1]) & (
        (page[1:] > page[:-1]) | (page[1:] == page[:-1]) & (offset[1:] >= offset[:-1])
    )
    if not ordered.all():
        order = np.lexsort((offset, page, rows))
        rows, page = rows[order], page[order]
        cols = [c.take(order) for c in cols[:3]]
    verdicts = unchanged_gates(cols[1], drop_kinds).tolist()
    # to_numpy's object conversion gives to_pylist()'s values (str or
    # None) at a tenth of its cost or less
    kinds, texts, refs = (c.to_numpy(zero_copy_only=False).tolist() for c in cols[:3])
    return rows, (kinds, texts, refs, page.tolist()), verdicts


def _list_array(offsets: Sequence[int], columns: dict, list_type: pa.DataType) -> pa.Array:
    """A list<struct> array of ``list_type`` from list offsets and one
    sequence per struct field (by name)."""
    struct_t = list_type.value_type
    values = pa.StructArray.from_arrays(
        [pa.array(columns[f.name], f.type) for f in struct_t], fields=list(struct_t)
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=list_type)


def _out_spans_array(out: OutSpans, ends: Sequence[int], spans_t: pa.DataType) -> pa.Array:
    """The spans column of the documents whose output spans are
    ``out``'s [ends[i], ends[i + 1]); a span's offset is its position in
    its document."""
    bounds = np.asarray(ends, np.int64)
    offset = np.arange(len(out)) - np.repeat(bounds[:-1], np.diff(bounds))
    columns = {
        "kind": out.kind, "text": out.text, "media_ref": out.media_ref,
        "page": out.page, "offset": offset,
    }
    return _list_array(ends, columns, spans_t)
