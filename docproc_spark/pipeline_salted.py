"""Salted (two-phase) extraction path for mega-documents.

The flagship plan (pipeline.extract) extracts each document in one Python
call on one row — perfect until a single document carries ~10^5+ spans,
where that call becomes a straggler task and a memory hazard. This module
is the skew escape hatch: the SAME kernel (kernels.assembly), split in
two phases so that no task runs a whole mega-document's span work:

    derived_spans(docs), keyed by a per-input-row id taken before the
      explode (monotonically_increasing_id), so input rows that share a
      doc_id stay separate documents as on the one-map path
    → posexplode_outer (one row per span, pos = its position in the
      array; the stable sort's tie-break)
    → groupBy(row, page).applyInArrow: page_partial per page over the
      group's Arrow field arrays, sorted and gated as the map sorts and
      gates a batch (pipeline._sorted_spans) — sanitize, boilerplate
      class, media ordinals, the raster-page test and the page's raw
      text. Groups are bounded by spans-per-page (~40 in the corpus), and
      the exchange spreads one document's pages across tasks.
    → groupBy(row).applyInArrow: merge_pages over the document's page
      partials (one row per page, not per span) — cross-page first-wins
      dedupe, first-sighting captions, raster captions, page assembly and
      the raw-text fallback.

This is the intermediate-reduce phase of FP-Hadoop applied to the heavy
keys only: pipeline.extract routes a document here when its span count
exceeds pipeline.MEGA_DOC_SPANS. No join, window, union or checkpoint; the only
per-row Python UDF is derived_spans' masked html_spans_udf. Both paths
equal the oracle (tests/test_salted_pipeline.py runs class-by-class
parity plus a 120k-span document).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docproc_spark.kernels.assembly import OutSpans, merge_pages, page_partial
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import (
    _SPAN_FIELDS,
    _list_array,
    _list_fields,
    _out_spans_array,
    _sorted_spans,
    derived_spans,
    extract_schema,
)

# the per-input-row key of both groupBys
_ROW = "_extract_row"

_PARTIAL_FIELDS = [
    T.StructField("page", T.IntegerType()),
    T.StructField(
        "texts",
        T.ArrayType(
            T.StructType([T.StructField(n, T.StringType()) for n in ("kind", "text")])
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
    pipeline.extract (span-sequence + markdown oracle parity), one output
    row per input row."""
    drop_kinds, drop_exact_duplicates = frozenset(drop_kinds), bool(drop_exact_duplicates)
    doc_id_field = docs.schema["doc_id"]
    partial_schema = T.StructType(
        [T.StructField(_ROW, T.LongType()), doc_id_field, *_PARTIAL_FIELDS]
    )
    partial_arrow = to_arrow_schema(partial_schema)
    out_schema = extract_schema(doc_id_field)
    out_arrow = to_arrow_schema(out_schema)

    def page_phase(key: tuple, table: pa.Table) -> pa.Table:
        """One page of one document → its page_partial row. The spans are
        put back in input order (pos) before _sorted_spans' stable sort
        by offset, so they tie-break as the whole document's sort does.
        posexplode_outer gives an empty span array one row with a null
        pos; that group yields a partial with a null page, which keeps
        the document and which the merge skips. A null element has a pos
        and reads as an all-null span on page 0."""
        doc_id = table.column("doc_id").slice(0, 1).combine_chunks()
        table = table.filter(pc.is_valid(table.column("pos"))).sort_by("pos")
        n = table.num_rows
        cols = [table.column(name).combine_chunks() for name in _SPAN_FIELDS]
        _, fields, verdicts = _sorted_spans(np.zeros(n, np.int64), cols, drop_kinds)
        # the group's one page; none when it holds only the placeholder
        page = fields[3][0] if n else None
        p = page_partial(page, fields, 0, n, verdicts, drop_kinds=drop_kinds)
        texts = {"kind": p["kinds"], "text": p["texts"]}
        media = {"idx": p["media_idx"], "ref": p["media_refs"]}
        return pa.Table.from_arrays(
            [
                pa.array([key[0].as_py()], pa.int64()),
                doc_id,
                pa.array([page], pa.int32()),
                _list_array([0, len(p["texts"])], texts, partial_arrow.field("texts").type),
                _list_array([0, len(p["media_refs"])], media, partial_arrow.field("media").type),
                pa.array([p["rasters"]], partial_arrow.field("rasters").type),
                pa.array([p["raw"]], pa.string()),
            ],
            schema=partial_arrow,
        )

    def merge_phase(key: tuple, table: pa.Table) -> pa.Table:
        """Every page partial of one document → its output row."""
        pages = table.column("page").to_pylist()
        rasters = table.column("rasters").to_pylist()
        raws = table.column("raw").to_pylist()
        t_ends, t_kinds, t_texts = _lists(table.column("texts"), ("kind", "text"))
        m_ends, m_idx, m_refs = _lists(table.column("media"), ("idx", "ref"))
        partials = [
            {
                "page": pages[i],
                "kinds": t_kinds[t_ends[i]:t_ends[i + 1]],
                "texts": t_texts[t_ends[i]:t_ends[i + 1]],
                "media_idx": m_idx[m_ends[i]:m_ends[i + 1]],
                "media_refs": m_refs[m_ends[i]:m_ends[i + 1]],
                "rasters": rasters[i],
                "raw": raws[i],
            }
            for i in range(table.num_rows)
            if pages[i] is not None
        ]
        out = OutSpans()
        markdown = merge_pages(partials, out, drop_exact_duplicates=drop_exact_duplicates)
        return pa.Table.from_arrays(
            [
                table.column("doc_id").slice(0, 1).combine_chunks(),
                pa.array([markdown], pa.string()),
                pa.array([out.page[-1] + 1 if len(out) else 0], pa.int32()),
                _out_spans_array(out, [0, len(out)], out_arrow.field("spans").type),
            ],
            schema=out_arrow,
        )

    keyed = docs.withColumn(_ROW, F.monotonically_increasing_id())
    exploded = keyed.select(
        "doc_id", _ROW, F.posexplode_outer(derived_spans(keyed)).alias("pos", "s")
    ).select(
        "doc_id",
        _ROW,
        "pos",
        *(F.col("s")[n].alias(n) for n in _SPAN_FIELDS if n != "page"),
        F.coalesce(F.col("s.page"), F.lit(0)).alias("page"),
    )
    partials = exploded.groupBy(_ROW, "page").applyInArrow(page_phase, partial_schema)
    return partials.groupBy(_ROW).applyInArrow(merge_phase, out_schema)


def _lists(column: pa.ChunkedArray, names: tuple[str, ...]) -> list:
    """[end offsets, then one Python list per named struct field] of a
    list<struct> column whose lists are never null."""
    lengths, by_name = _list_fields(column.combine_chunks())
    ends = np.concatenate([[0], np.cumsum(lengths)]).tolist()
    return [ends, *(by_name[n].to_pylist() for n in names)]
