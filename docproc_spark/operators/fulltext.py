"""Per-format get_full_text variants over the span table.

The reference exposes, besides the page-assembled markdown path, a raw
``get_full_text`` per format with distinct join semantics (all reproduced
exactly; file:line cites from /root/reference):

  pdf   "\\n\\n".join(raw page texts), empty pages INCLUDED, no stripping
        (doc/loaders/pdf_loader.py:56-61); fitz page.get_text() renders
        EVERY textual region — tables and footers included — so the span
        mirror takes all TEXTUAL_KINDS, not a hand-picked subset
  docx  stripped non-empty paragraphs, then ALL table rows (flattened,
        one row per part), joined "\\n\\n" — paragraphs before tables
        regardless of interleaving (docx_loader.py:58-69)
  pptx  per slide: stripped non-empty texts and table rows INTERLEAVED in
        shape order, joined "\\n"; empty slides skipped; slides joined
        "\\n\\n---\\n\\n" (pptx_loader.py:66-81)
  xlsx  per sheet: rows trimmed, empties dropped, "=== {title} ===\\n"
        header, rows joined "\\n", sheets joined "\\n\\n"
        (xlsx_loader.py:44-61); span corpus has no sheet titles, so the
        title is defined as "Sheet{page+1}" (engine + oracle agree)

In the span model a table span's text holds its rows joined "\\n" (each row
already " | "-joined), page == slide == sheet. All implementations are
native higher-order array functions over one groupBy(doc_id): a
single-shuffle plan.

Scale note: per-page work uses page→(start,len) boundary-scan slice maps
(_page_slices) — O(n) per document instead of re-filtering the full span
array once per page (O(pages·n), which is quadratic on mega-documents). The slice maps are materialized as
withColumn columns because a higher-order function re-evaluates embedded
subtrees once PER ELEMENT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docproc_spark.kernels.assembly import TEXTUAL_KINDS
from docproc_spark.pipeline import pystrip_col

_SS_T = "array<struct<page:int,offset:int,pos:int,kind:string,text:string>>"
_ITEMS_T = "array<struct<page:int,item:string>>"


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


def _collected(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    # posexplode_outer: a document with empty/null spans must still yield
    # a row (the reference's get_full_text returns "" for it, not
    # nothing); the null placeholder span is inert downstream (null text
    # filters). ``pos`` — the input position — sits RIGHT AFTER
    # (page, offset) in the sort struct: array_sort over structs compares
    # every field in order, so without it two spans colliding on
    # (page, offset) would be ordered by payload content instead of
    # document order (the oracle's stable-sort tie-break).
    rows = docs.select(
        "doc_id",
        *carry,
        F.posexplode_outer("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        *carry,
        F.struct(
            F.coalesce(F.col("s.page"), F.lit(0)).alias("page"),
            F.coalesce(F.col("s.offset"), F.lit(0)).alias("offset"),
            F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
        ).alias("s"),
    )
    # carry columns are doc-level (constant per doc_id) — first() just
    # rides them through the same single shuffle
    return rows.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("s")).alias("ss"),
        *[F.first(c).alias(c) for c in carry],
    )


def _is_text(x) -> Column:
    return x["kind"].isin(*TEXTUAL_KINDS)


def full_text_pdf(docs: DataFrame) -> DataFrame:
    """Raw page texts joined "\\n\\n"; pages = distinct pages present
    (pages with no text spans contribute an empty part — empties kept)."""
    c = (
        _collected(docs)
        .withColumn(
            "txt",
            F.filter(F.col("ss"), lambda x: _is_text(x) & x["text"].isNotNull()),
        )
        .withColumn("tmap", _page_slices(F.col("txt")))
    )
    pages = F.array_sort(
        F.array_distinct(F.transform(F.col("ss"), lambda x: x["page"]))
    )
    full = F.array_join(
        F.transform(
            pages,
            lambda p: F.array_join(
                F.transform(
                    _slice_for(F.col("txt"), F.col("tmap"), p, _SS_T),
                    lambda x: x["text"],
                ),
                "\n\n",
            ),
        ),
        "\n\n",
    )
    return c.select("doc_id", full.alias("full_text"))


def full_text_docx(docs: DataFrame) -> DataFrame:
    """Stripped non-empty paragraphs, then all table rows, joined "\\n\\n"."""
    c = _collected(docs)
    paras = F.filter(
        F.transform(
            F.filter(F.col("ss"), lambda x: (x["kind"] == "text") & x["text"].isNotNull()),
            # pystrip, not F.trim: the reference strips ALL whitespace
            # (docx_loader.py:63-65 str.strip()), F.trim only U+0020
            lambda x: pystrip_col(x["text"]),
        ),
        lambda t: t != "",
    )
    rows = F.flatten(
        F.transform(
            F.filter(F.col("ss"), lambda x: (x["kind"] == "table") & x["text"].isNotNull()),
            lambda x: F.split(x["text"], "\n"),
        )
    )
    full = F.array_join(F.concat(paras, rows), "\n\n")
    return c.select("doc_id", full.alias("full_text"))


def _page_items(c: DataFrame, per_span) -> DataFrame:
    """Flatten spans into (page, item) string items (document order kept:
    ``ss`` is (page, offset)-sorted and flatten preserves order), plus the
    materialized page→(start,len) slice map."""
    items = F.flatten(
        F.transform(
            F.filter(F.col("ss"), lambda x: x["text"].isNotNull()),
            lambda x: F.transform(
                per_span(x),
                lambda s: F.struct(x["page"].alias("page"), s.alias("item")),
            ),
        )
    )
    return c.withColumn("items", items).withColumn(
        "pmap", _page_slices(F.col("items"))
    )


def _per_page_join(sep: str) -> Column:
    """Join each page's items with ``sep`` — O(1) slice lookups per page."""
    return F.transform(
        F.array_sort(F.map_keys(F.col("pmap"))),
        lambda p: F.struct(
            p.alias("page"),
            F.array_join(
                F.transform(
                    _slice_for(F.col("items"), F.col("pmap"), p, _ITEMS_T),
                    lambda s: s["item"],
                ),
                sep,
            ).alias("part"),
        ),
    )


def full_text_pptx(docs: DataFrame) -> DataFrame:
    """Per slide: texts + table rows interleaved in offset order joined
    "\\n"; empty slides skipped; slides joined "\\n\\n---\\n\\n"."""

    def per_span(x):
        return (
            F.when(
                (x["kind"] == "text") & (pystrip_col(x["text"]) != ""),
                F.array(pystrip_col(x["text"])),
            )
            .when(x["kind"] == "table", F.split(x["text"], "\n"))
            .otherwise(F.array().cast("array<string>"))
        )

    c = _page_items(_collected(docs), per_span)
    slide_texts = F.filter(
        F.transform(_per_page_join("\n"), lambda s: s["part"]), lambda t: t != ""
    )
    return c.select(
        "doc_id", F.array_join(slide_texts, "\n\n---\n\n").alias("full_text")
    )


def full_text_xlsx(docs: DataFrame) -> DataFrame:
    """Per sheet: trimmed non-empty rows with a === {title} === header.

    The reference titles sheets by NAME (xlsx_loader.get_full_text:
    ``=== {sheet.title} ===``); when the input carries the loader's
    ``sheet_names`` column (sources/ooxml.load_ooxml materializes it),
    page i uses sheet_names[i], falling back to ``Sheet{n+1}`` for bare
    span tables that never had titles."""
    has_names = "sheet_names" in docs.columns

    def per_span(x):
        return F.when(
            x["kind"] == "table",
            F.filter(
                F.transform(F.split(x["text"], "\n"), lambda r: pystrip_col(r)),
                lambda r: r != "",
            ),
        ).otherwise(F.array().cast("array<string>"))

    c = _page_items(
        _collected(docs, carry=("sheet_names",) if has_names else ()), per_span
    )

    def title(page: Column) -> Column:
        fallback = F.concat(F.lit("Sheet"), (page + 1).cast("string"))
        if not has_names:
            return fallback
        # try_element_at, not element_at: ANSI mode throws on an
        # out-of-range index (more pages than recorded names on dirty
        # inputs); null array/index falls back too
        return F.coalesce(
            F.try_element_at(F.col("sheet_names"), page + 1), fallback
        )

    parts = F.filter(
        F.transform(
            _per_page_join("\n"),
            lambda s: F.when(
                s["part"] != "",
                F.concat(
                    F.lit("=== "), title(s["page"]), F.lit(" ===\n"), s["part"]
                ),
            ).otherwise(F.lit("")),
        ),
        lambda t: t != "",
    )
    return c.select("doc_id", F.array_join(parts, "\n\n").alias("full_text"))
