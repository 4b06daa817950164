"""Salted (two-phase) extraction path for mega-documents.

The flagship plan (pipeline.extract) extracts each document in one Python
call on one row — perfect until a single document carries ~10^5+ spans,
where that call becomes a straggler task and a memory hazard. This module
is the skew escape hatch: the SAME kernel (kernels.assembly), split in
two phases so that no task runs a whole mega-document's span work:

    derived_spans(docs) → posexplode_outer (one row per span, pos = its
      position in the array; the stable sort's tie-break)
    → groupBy(doc_id, page).applyInArrow: page_partial per page —
      sanitize, boilerplate class, content hash, media ordinals, the
      raster-page test and the page's raw text. Groups are bounded by
      spans-per-page (~40 in the corpus), and the exchange spreads one
      document's pages across tasks.
    → groupBy(doc_id).applyInArrow: merge_pages over the document's page
      partials (one row per page, not per span) — cross-page first-wins
      dedupe, first-sighting captions, raster captions, page assembly and
      the raw-text fallback.

This is the intermediate-reduce phase of FP-Hadoop applied to the heavy
keys only: pipeline.extract routes a document here when its span count
exceeds mega_doc_threshold. No join, window, union or checkpoint; the only
per-row Python UDF is derived_spans' masked html_spans_udf. Both paths
equal the oracle (tests/test_salted_pipeline.py runs class-by-class
parity plus a 120k-span document).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docproc_spark.kernels.assembly import (
    merge_pages,
    page_count,
    page_partial,
    page_spans,
)
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import _pylist, derived_spans, extract_schema

_SPAN_FIELDS = ("kind", "text", "media_ref", "page", "offset")

_PARTIAL_FIELDS = [
    T.StructField("page", T.IntegerType()),
    T.StructField(
        "texts",
        T.ArrayType(
            T.StructType(
                [T.StructField(n, T.StringType()) for n in ("kind", "text", "hash")]
            )
        ),
    ),
    T.StructField(
        "media",
        T.ArrayType(
            T.StructType(
                [T.StructField("idx", T.IntegerType()), T.StructField("ref", T.StringType())]
            )
        ),
    ),
    T.StructField("rasters", T.ArrayType(T.StringType())),
    T.StructField("raw", T.StringType()),
]


def extract_salted(
    docs: DataFrame,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
) -> DataFrame:
    """Mega-doc-safe extraction; output schema and semantics identical to
    pipeline.extract (span-sequence + markdown oracle parity)."""
    drop_kinds, drop_exact_duplicates = frozenset(drop_kinds), bool(drop_exact_duplicates)
    doc_id_field = docs.schema["doc_id"]
    partial_schema = T.StructType([doc_id_field, *_PARTIAL_FIELDS])
    partial_arrow = to_arrow_schema(partial_schema)
    out_schema = extract_schema(doc_id_field)
    out_arrow = to_arrow_schema(out_schema)

    def page_phase(key: tuple, table: pa.Table) -> pa.Table:
        """One page of one document → its page_partial row. The spans are
        put back in input order (pos) before page_spans' stable sort by
        offset, so they tie-break as the whole document's sort does.
        posexplode_outer gives an empty span array one row with a null
        pos; that group yields a partial with a null page, which keeps
        the document and which the merge skips. A null element has a pos
        and reads as an all-null span on page 0."""
        pos = table.column("pos").to_pylist()
        cols = [table.column(n).to_pylist() for n in _SPAN_FIELDS]
        spans = [dict(zip(_SPAN_FIELDS, row)) for row in zip(*cols)]
        order = sorted((p, i) for i, p in enumerate(pos) if p is not None)
        # the group's one page; none when it holds only the placeholder
        on_page = page_spans([spans[i] for _, i in order])
        page, normalized = on_page[0] if on_page else (None, [])
        partial = page_partial(
            page, normalized,
            drop_kinds=drop_kinds, drop_exact_duplicates=drop_exact_duplicates,
        )
        return pa.Table.from_pylist([{"doc_id": key[0].as_py(), **partial}], partial_arrow)

    def merge_phase(key: tuple, table: pa.Table) -> pa.Table:
        """Every page partial of one document → its output row."""
        names = [f.name for f in _PARTIAL_FIELDS]
        cols = [_pylist(table.column(n).combine_chunks()) for n in names]
        partials = [dict(zip(names, row)) for row in zip(*cols)]
        markdown, out_spans = merge_pages([p for p in partials if p["page"] is not None])
        return pa.Table.from_arrays(
            [
                pa.array([key[0].as_py()], out_arrow.field("doc_id").type),
                pa.array([markdown], pa.string()),
                pa.array([page_count(out_spans)], pa.int32()),
                pa.array([out_spans], out_arrow.field("spans").type),
            ],
            schema=out_arrow,
        )

    exploded = docs.select(
        "doc_id", F.posexplode_outer(derived_spans(docs)).alias("pos", "s")
    ).select(
        "doc_id",
        "pos",
        *(F.col("s")[n].alias(n) for n in _SPAN_FIELDS if n != "page"),
        F.coalesce(F.col("s.page"), F.lit(0)).alias("page"),
    )
    partials = exploded.groupBy("doc_id", "page").applyInArrow(page_phase, partial_schema)
    return partials.groupBy("doc_id").applyInArrow(merge_phase, out_schema)
