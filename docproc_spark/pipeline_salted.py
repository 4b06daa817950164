"""Salted (two-phase) extraction path for mega-documents.

The flagship plan (pipeline.extract) extracts each document in one Python
call on one row — perfect until a single document carries ~10^5+ spans,
where that call becomes a straggler task and a memory hazard.
This module is the skew escape hatch the north rule demands: the SAME
semantics (oracle: kernels/assembly.assemble_document) computed relationally,
so no stage ever materializes a whole mega-document in one task:

  phase 1 (span-parallel, keyed by (doc_id, hash) / (doc_id, ref) /
           (doc_id, page) — all bounded groups even for a 10^6-span doc):
    - agg-form first-wins dedupe: keeper = min(page, offset) per
      (doc_id, hash); a window over doc_id alone would re-create the
      straggler, the agg form gets map-side partial aggregation
    - media caption table: first sighting = min(page, offset, img_idx) per
      (doc_id, media_ref); per-page image ordinals via a window over
      (doc_id, page) — bounded by spans-per-page
    - raster fallback gate: per-(doc_id, page) any(raw text)/any(media)
  phase 2 (page-parallel): per-(doc_id, page) partial assembly — page text
    join, [Figures: …] suffix, page-local output-span arrays, raw-fallback
    partials. Groups are bounded by spans-per-page (~40 in the corpus).
  phase 3 (doc-level merge): one row per doc built from PAGE PARTIALS
    (ceil(n/page_size) elements, not n spans) — ordered concat + offset
    renumbering via flatten.

pipeline.extract routes documents through this path automatically when
their span count exceeds mega_doc_threshold; both paths are oracle-equal
(tests/test_salted_pipeline.py runs class-by-class parity plus the
mega-doc fixture).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import (
    _OUT_SPANS_T,
    enrich_spans,
    explode_spans,
    with_derived_spans,
)

_PAGE_SPANS_T = "array<struct<kind:string,text:string,media_ref:string>>"


def _caption(ref: Column, ctx: Column) -> Column:
    return F.concat(F.lit("Figure "), F.substring(ref, 1, 12), F.lit(": "), ctx)


def survives_and_hash(
    is_textual: Column, bp: Column, sanitized: Column, drop_kinds: frozenset
) -> tuple[Column, Column]:
    """(survives, hash) of one enriched span: a textual span survives when
    its boilerplate class is not dropped and its sanitized text is
    non-empty; only survivors get the sha256 dedupe hash."""
    survives = F.coalesce(
        is_textual & ~bp.isin(*drop_kinds) & (sanitized != ""), F.lit(False)
    )
    return survives, F.when(survives, F.sha2(sanitized, 256))


def _flat_rows(docs: DataFrame, drop_kinds: frozenset) -> DataFrame:
    """Exploded spans as flat columns: pipeline.enrich_spans's struct,
    flattened, plus survives/hash from survives_and_hash.

    Two deliberate physical choices for the mega-doc regime:
      1. repartition(doc_id, page) BETWEEN explode and enrichment — a
         10^6-span doc arrives as ONE source row, so the explode lives in a
         single scan task; only an exchange can spread its spans. The
         exchange carries raw span bytes; the expensive work (sanitize
         kernel, boilerplate regexes, sha2) runs after it, page-parallel.
      2. a lazy localCheckpoint per call — three downstream subtrees
         (dedupe, captions, page partials) consume these rows, and a
         DataFrame fan-out gets NO common-subexpression reuse in Catalyst
         (each branch would re-run the scan, the parse upstream of it and
         the regex enrichment). The checkpoint is made afresh by every
         call, so a later call reads its input again (a persist() keyed
         on the plan served a rewritten file's old rows), and its blocks
         are released by the ContextCleaner once the result is dropped.
    """
    raw = explode_spans(with_derived_spans(docs)).repartition(
        F.col("doc_id"), F.col("page")
    )
    flat = enrich_spans(raw).select("doc_id", "s.*")
    survives, hash_ = survives_and_hash(
        F.col("is_textual"), F.col("bp"), F.col("sanitized"), drop_kinds
    )
    out = flat.select("*", survives.alias("survives"), hash_.alias("hash"))
    return out.localCheckpoint(eager=False)


def _kept_texts(rows: DataFrame, drop_exact_duplicates: bool) -> DataFrame:
    """Surviving texts after agg-form first-wins dedupe.

    Keeper per (doc_id, hash) = min(page, offset) — an aggregation, not a
    doc-partitioned window, so a doc of 10^6 identical spans still gets
    map-side combine instead of one hot window partition."""
    survivors = rows.filter(F.col("survives")).select(
        "doc_id", "page", "offset", "pos", "kind", "sanitized", "hash"
    )
    if not drop_exact_duplicates:
        return survivors
    # pos in the keeper key: equality on (page, offset) alone would keep
    # EVERY row tying the minimum — duplicate spans at one (page, offset)
    # must still collapse to exactly one keeper (input order, like the
    # oracle's stable first-wins)
    keepers = survivors.groupBy("doc_id", "hash").agg(
        F.min(F.struct("page", "offset", "pos")).alias("_keep")
    )
    return (
        survivors.join(keepers, ["doc_id", "hash"])
        .filter(F.struct("page", "offset", "pos") == F.col("_keep"))
        .drop("_keep")
    )


def _caption_table(rows: DataFrame) -> DataFrame:
    """(doc_id, ref, caption): one caption per unique media_ref, context
    fixed at the first sighting (oracle assembly.py:103-139).

    img_idx = ordinal among ALL media-kind spans on the page (ref-less ones
    included) — a window over (doc_id, page), bounded by spans-per-page."""
    media_all = rows.filter(F.col("is_media"))
    w = Window.partitionBy("doc_id", "page").orderBy("offset", "pos")
    media_idx = media_all.withColumn("img_idx", F.row_number().over(w)).filter(
        F.col("media_ref").isNotNull() & (F.col("media_ref") != "")
    )
    media_first = media_idx.groupBy("doc_id", F.col("media_ref").alias("ref")).agg(
        F.min(F.struct("page", "offset", "pos", "img_idx")).alias("f")
    )
    media_caps = media_first.select(
        "doc_id",
        "ref",
        _caption(
            F.col("ref"),
            F.format_string(
                "Page %d, image %d.", F.col("f.page") + 1, F.col("f.img_idx")
            ),
        ).alias("caption"),
    )

    # raster fallback: pages with no non-blank raw text and no media
    pg = rows.groupBy("doc_id", "page").agg(
        F.max(F.col("raw_nonblank").cast("int")).alias("_raw"),
        F.max(F.col("is_media").cast("int")).alias("_med"),
    )
    total_pages = rows.groupBy("doc_id").agg(
        (F.max("page") + 1).alias("total_pages")
    )
    rasters = (
        rows.filter(F.col("is_raster"))
        .join(pg, ["doc_id", "page"])
        .filter((F.col("_raw") == 0) & (F.col("_med") == 0))
    )
    raster_first = rasters.groupBy("doc_id", F.col("media_ref").alias("ref")).agg(
        F.min(F.struct("page", "offset", "pos")).alias("f")
    )
    raster_caps = (
        raster_first.join(
            media_caps.select("doc_id", "ref"), ["doc_id", "ref"], "left_anti"
        )
        .join(total_pages, "doc_id")
        .select(
            "doc_id",
            "ref",
            _caption(
                F.col("ref"),
                F.format_string(
                    "Page %d of %d.", F.col("f.page") + 1, F.col("total_pages")
                ),
            ).alias("caption"),
        )
    )
    figs_media = media_idx.select(
        "doc_id", "page", "offset", "pos", F.col("media_ref").alias("ref")
    )
    figs_raster = rasters.select(
        "doc_id", "page", "offset", "pos", F.col("media_ref").alias("ref")
    )
    captions = media_caps.unionByName(raster_caps)
    figs = figs_media.unionByName(figs_raster).join(captions, ["doc_id", "ref"])
    return figs  # (doc_id, page, offset, ref, caption) — captioned occurrences


def _page_partials(
    rows: DataFrame, kept: DataFrame, figs: DataFrame
) -> DataFrame:
    """Per-(doc_id, page) partial assembly — bounded groups.

    part      page text ("\\n\\n" join of kept texts) trimmed, plus the
              "\\n[Figures: a ; b]" suffix (oracle assembly.py:141-153)
    spans     the page's output spans in order: kept texts then figures
    raw_part  "\\n\\n" join of ALL non-null raw texts (fallback material)
    n_raw     count of non-null raw texts (a page joins the raw fallback
              iff n_raw > 0 — an all-empty page must not inject separators)
    """
    texts = kept.select(
        "doc_id",
        "page",
        "offset",
        "pos",
        F.lit(0).alias("tag"),
        "kind",
        F.col("sanitized").alias("text"),
        F.lit(None).cast("string").alias("ref"),
    )
    fig_rows = figs.select(
        "doc_id",
        "page",
        "offset",
        "pos",
        F.lit(1).alias("tag"),
        F.lit("figure").alias("kind"),
        F.col("caption").alias("text"),
        "ref",
    )
    both = texts.unionByName(fig_rows)
    pagea = both.groupBy("doc_id", "page").agg(
        F.array_sort(
            # pos breaks (tag, offset) ties by input order — the oracle's
            # stable sort — never by text content
            F.collect_list(F.struct("tag", "offset", "pos", "kind", "text", "ref"))
        ).alias("items")
    )
    items = F.col("items")
    page_text = F.array_join(
        F.transform(
            F.filter(items, lambda x: x["tag"] == 0), lambda x: x["text"]
        ),
        "\n\n",
    )
    trimmed = F.regexp_replace(F.regexp_replace(page_text, r"^\s+", ""), r"\s+$", "")
    fig_list = F.transform(
        F.filter(items, lambda x: x["tag"] == 1), lambda x: x["text"]
    )
    part = F.when(
        F.size(fig_list) > 0,
        F.concat(
            trimmed, F.lit("\n[Figures: "), F.array_join(fig_list, " ; "), F.lit("]")
        ),
    ).otherwise(trimmed)
    page_spans = F.transform(
        items,
        lambda x: F.struct(
            x["kind"].alias("kind"), x["text"].alias("text"), x["ref"].alias("media_ref")
        ),
    ).cast(_PAGE_SPANS_T)
    parts = pagea.select(
        "doc_id", "page", part.alias("part"), page_spans.alias("page_spans")
    )

    # aggregate over ALL rows (null-text ones too) so every (doc_id, page)
    # — hence every document, via the sentinel span — survives to the merge
    raws = rows.groupBy("doc_id", "page").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("offset", "pos", "text"))),
                    lambda x: x["text"].isNotNull(),
                ),
                lambda x: x["text"],
            ),
            "\n\n",
        ).alias("raw_part"),
        F.count("text").alias("n_raw"),
    )
    # full outer on (doc_id, page): a page can have raw text but no kept
    # content, or figures but no raw text
    return parts.join(raws, ["doc_id", "page"], "full_outer").select(
        "doc_id",
        "page",
        F.coalesce("part", F.lit("")).alias("part"),
        F.coalesce("page_spans", F.array().cast(_PAGE_SPANS_T)).alias("page_spans"),
        F.coalesce("raw_part", F.lit("")).alias("raw_part"),
        F.coalesce("n_raw", F.lit(0)).alias("n_raw"),
    )


def extract_salted(
    docs: DataFrame,
    *,
    drop_kinds: frozenset = DROP_KINDS_DEFAULT,
    drop_exact_duplicates: bool = True,
) -> DataFrame:
    """Mega-doc-safe extraction; output schema and semantics identical to
    pipeline.extract (span-sequence + markdown oracle parity)."""
    rows = _flat_rows(docs, drop_kinds)
    kept = _kept_texts(rows, drop_exact_duplicates)
    figs = _caption_table(rows)
    partials = _page_partials(rows, kept, figs)

    # phase 3: doc-level merge of PAGE partials (ceil(n/page_size) elements)
    merged = partials.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("page", "part", "page_spans", "raw_part", "n_raw")
            )
        ).alias("pp")
    )
    pp = F.col("pp")
    nonempty = F.filter(pp, lambda x: x["part"] != "")
    md = F.array_join(
        F.transform(
            nonempty,
            lambda x: F.concat(
                F.lit("[Page "), (x["page"] + 1).cast("string"), F.lit("]\n"), x["part"]
            ),
        ),
        "\n\n",
    )
    raw_all = F.array_join(
        F.transform(F.filter(pp, lambda x: x["n_raw"] > 0), lambda x: x["raw_part"]),
        "\n\n",
    )
    flat = F.flatten(
        F.transform(
            nonempty,
            lambda x: F.transform(
                x["page_spans"],
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    x["page"].alias("page"),
                ),
            ),
        )
    )
    outs = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["page"].alias("page"),
            i.cast("int").alias("offset"),
        ),
    )
    staged = (
        merged.withColumn("nonempty", nonempty)
        .withColumn("md", md)
        .withColumn("raw_all", raw_all)
    )
    ne = F.col("nonempty")
    return staged.select(
        "doc_id",
        F.when(F.col("md") == "", F.col("raw_all"))
        .otherwise(F.col("md"))
        .alias("markdown"),
        F.when(F.size(ne) > 0, F.element_at(ne, -1)["page"] + 1)
        .otherwise(F.lit(0))
        .cast("int")
        .alias("n_pages"),
        F.when(F.col("md") == "", F.array().cast(_OUT_SPANS_T))
        .otherwise(outs)
        .alias("spans"),
    )
