"""Deterministic synthetic corpus of interleaved text+media span documents.

Implements the fixture classes from FIXTURES.md §2. Every document is a pure
function of (seed, index) so generation is reproducible under any Spark
partitioning — the cluster path generates docs with mapInPandas over
spark.range(n), each task generating only its own index range (no driver-side
materialization, scales linearly with executors).

No external data; media are identified by sha256 hex of deterministic fake
bytes (the captioner is a pure function of media_ref + context, so blobs are
not needed for the invariant path).
"""

from __future__ import annotations

import hashlib
import random
from typing import Iterator

import pandas as pd

WORDS = (
    "spark arrow batch column vector shuffle partition broadcast join filter "
    "window agg sort merge hash scan parquet iceberg schema span page figure "
    "table text media document extract sanitize dedupe caption markdown"
).split()

GREEK = "α β γ δ ∑ ∏ √ ≤ ≥ ≈ ∞ π"  # unicode_math fixture material

DOC_CLASSES = (
    "hello_docx",
    "multi_page_pdf",
    "empty_pages_pdf",
    "tables_docx",
    "slides_pptx",
    "sheets_xlsx",
    "dup_spans",
    "dirty_text",
    "interleaved_media",
    "repeated_logo",
    "rasterized_doc",
    "html_boiler",
    "unicode_math",
    "mega_doc",
    "nullref_media",
    "cjk_rtl_doc",
)

# relative frequency per class (mega_doc rare — it is the skew fixture)
CLASS_WEIGHTS = (4, 10, 4, 8, 8, 6, 6, 6, 10, 4, 3, 10, 4, 1, 3, 3)
_CUM = [sum(CLASS_WEIGHTS[: i + 1]) for i in range(len(CLASS_WEIGHTS))]
_TOTAL_W = _CUM[-1]

# Bump when gen_doc semantics change — keys every on-disk corpus cache so a
# stale staged parquet can never silently poison oracle comparisons.
# v4: ingest-time n_spans column (extract routes mega docs on it via a
# pushed-down int filter instead of F.size over the span array).
# v5: html_boiler embeds interleaved <img> media (content figure kept,
# beacon pixel dropped) so the flagship exercises HTML media spans.
# v6: html_boiler adds a kept data table + a dropped link-farm table so
# the flagship exercises HTML table extraction.
# v7: html_boiler adds a kept multi-line <pre> code block (+ inline
# <code> staying prose) and a footer <pre> that must drop with its
# subtree, so the flagship exercises kind='code' extraction.
# v8: the caption signal — html_boiler's kept figure carries an alt
# attribute (image-span text) and gains a <figure><img><figcaption>
# block (caption kept at the MIN_CAPTION_CHARS floor); one
# interleaved_media span per doc carries publisher alt text so the
# staged span corpus exercises mine_caption_pairs' alt-first path.
CORPUS_VERSION = 8

# Documents in the deterministic corpus staged for a scale-factor table
# dir, keyed by the dir's name (bench.py and __spark_entry__ default to
# 2000).
CORPUS_SIZE = {"sf0.001": 200, "sf0.01": 2000, "sf0.1": 20000}

# Shared logo ref: the corpus-wide hot key for the media-dedupe skew path.
LOGO_REF = hashlib.sha256(b"docproc_spark:logo").hexdigest()


def _media_ref(tag: str) -> str:
    return hashlib.sha256(f"docproc_spark:{tag}".encode()).hexdigest()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    return _words(rng, rng.randint(6, 18)).capitalize() + "."


def _span(kind: str, text, media_ref, page: int, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref,
            "page": page, "offset": offset}


def doc_class_for_index(idx: int) -> str:
    r = idx % _TOTAL_W
    for i, c in enumerate(_CUM):
        if r < c:
            return DOC_CLASSES[i]
    return DOC_CLASSES[-1]


def gen_doc(idx: int, seed: int = 42, mega_spans: int = 2000) -> dict:
    """Generate one deterministic document row."""
    cls = doc_class_for_index(idx)
    rng = random.Random((seed << 24) ^ idx)
    doc_id = f"doc_{idx:08d}"
    spans: list[dict] = []
    raw_html = None
    off = 0

    def add(kind, text=None, ref=None, page=0):
        nonlocal off
        spans.append(_span(kind, text, ref, page, off))
        off += 1

    if cls == "hello_docx":
        add("text", "Hello world")

    elif cls == "multi_page_pdf":
        for p in range(3):
            for _ in range(rng.randint(2, 4)):
                add("text", _sentence(rng), page=p)

    elif cls == "empty_pages_pdf":
        for p in range(5):
            if p in (1, 3):
                # whitespace-only block: sanitizes to blank → page skipped
                add("text", "   \n\t  ", page=p)
            else:
                add("text", _sentence(rng), page=p)
                add("text", _sentence(rng), page=p)

    elif cls == "tables_docx":
        for _ in range(rng.randint(2, 3)):
            add("text", _sentence(rng))
        rows = [" | ".join(_words(rng, 2) for _ in range(3)) for _ in range(3)]
        add("table", "\n".join(rows))

    elif cls == "slides_pptx":
        titles = [_sentence(rng) + "\n" + _sentence(rng) for _ in range(3)]
        for p, t in enumerate(titles):
            add("text", t, page=p)
        rows = [" | ".join(_words(rng, 2) for _ in range(2)) for _ in range(2)]
        add("table", "\n".join(rows), page=1)
        add("text", "Thank you!", page=3)           # boilerplate slide → dropped
        add("text", "Questions?", page=3)           # thank_you by pattern order

    elif cls == "sheets_xlsx":
        for sheet in range(2):
            rows = [
                " | ".join(("" if rng.random() < 0.2 else _words(rng, 1)) for _ in range(4))
                for _ in range(rng.randint(2, 4))
            ]
            add("table", "\n".join(rows), page=sheet)

    elif cls == "dup_spans":
        a, b, c = _sentence(rng), _sentence(rng), _sentence(rng)
        for i, t in enumerate([a, b, a, c, b]):
            add("text", t)

    elif cls == "dirty_text":
        add("text", "​zero‌ width‍ here﻿­ ok")
        add("text", "ctrl\x00chars\x07 gone\x1f now")
        add("text", "  lots\t\tof   space \n\n\n\n\n many newlines  ")
        add("text", "x")                            # < 2 chars → blank → dropped
        add("text", "café nfc")               # NFC: e + U+0301 → é

    elif cls == "interleaved_media":
        for p in range(3):
            add("text", _sentence(rng), page=p)
            # page 0's first image carries publisher alt text (the image
            # span's OWN text — assembly ignores it; caption mining
            # prefers it): v8's alt-first caption-pair coverage. 9 tokens
            # so it passes the caption_pairs spare's [8,16] gate.
            alt = f"{_words(rng, 8).title()} chart" if p == 0 else None
            add("image", alt, _media_ref(f"img:{idx}:{p}:a"), page=p)
            add("text", _sentence(rng), page=p)
            if rng.random() < 0.5:
                add("image", None, _media_ref(f"img:{idx}:{p}:b"), page=p)

    elif cls == "repeated_logo":
        for p in range(10):
            add("text", _sentence(rng), page=p)
            add("image", None, LOGO_REF, page=p)    # same ref on every page
            if p % 3 == 0:
                add("image", None, _media_ref(f"uniq:{idx}:{p}"), page=p)

    elif cls == "rasterized_doc":
        for p in range(3):
            if p == 1:
                add("text", _sentence(rng), page=p)
            else:
                add("raster", None, _media_ref(f"raster:{idx}:{p}"), page=p)

    elif cls == "html_boiler":
        main_paras = [_sentence(rng) + " " + _sentence(rng) for _ in range(3)]
        nav = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(WORDS, 4))
        raw_html = (
            "<html><head><title>t</title></head><body>"
            f"<nav><ul>{nav}</ul></nav>"
            f"<header><p>Site chrome banner text that is long enough to pass.</p></header>"
            f"<div id='main'><h1>{_words(rng, 3).title()}</h1>"
            + f"<p>{main_paras[0]}</p>"
            # interleaved media: a content figure between paragraphs (kept,
            # URL identity), a beacon pixel (dropped), and the nav's logo
            # img would be dropped with its subtree — the html class
            # exercises the full text+media interleaving path
            # v8: the kept figure carries alt text (image-span text)
            + f"<img src='/figs/{_words(rng, 1)}-{idx % 7}.png'"
            + f" alt='{_words(rng, 3)} illustration'>"
            + "".join(f"<p>{t}</p>" for t in main_paras[1:])
            # v8: a semantic figure — img + short figcaption kept at the
            # caption floor (14 chars; MIN_BLOCK_CHARS would drop it)
            + f"<figure><img src='/figs/diag-{idx % 5}.png'>"
            + f"<figcaption>Fig {idx % 5}: {_words(rng, 1)}</figcaption></figure>"
            # v6: a kept data table (one table span via the pipe/newline
            # convention) and a dropped link-farm table (link density)
            + "<table><tr><th>metric</th><th>value</th></tr>"
            + "".join(
                f"<tr><td>{_words(rng, 2)}</td><td>{rng.randint(1, 999)}</td></tr>"
                for _ in range(2)
            )
            + "</table>"
            + "<table><tr>"
            + "".join(
                f'<td><a href="/{w}">more {w} links here</a></td>'
                for w in rng.sample(WORDS, 3)
            )
            + "</tr></table>"
            + "<img src='/px.gif' width='1' height='1'>"
            # v7: a multi-line code block (kept as ONE kind='code' span —
            # the <p> inside is inert in pre mode) and an inline <code>
            # that stays prose inside its paragraph
            + f"<pre>def {_words(rng, 1)}(doc):\n"
            + f"    return doc.{_words(rng, 1)}  # {_words(rng, 2)}\n"
            + "</pre>"
            + f"<p>Call <code>{_words(rng, 1)}.{_words(rng, 1)}()</code> "
            + f"as shown above. {_sentence(rng)}</p>"
            + f"<p>Read more at <a href='/x'>{_words(rng, 12)}</a> linkfarm</p>"
            + "</div>"
            f"<footer><p>Copyright {_words(rng, 6)}</p>"
            "<pre>console.log('footer tracker')</pre></footer>"
            "</body></html>"
        )
        spans = []

    elif cls == "unicode_math":
        add("text", f"Energy {GREEK.split()[0]}E = mc2 with {rng.choice(GREEK.split())} factor")
        add("equation", f"∑ x_i ≥ √({_words(rng, 1)})")
        add("text", _sentence(rng))

    elif cls == "nullref_media":
        # ref-less / empty-ref media: counted in the per-page image index,
        # never captioned; a ref-less media span still blocks the raster
        # fallback (oracle assembly.py:108-114,128; reference
        # vision_llm.py:395-399,494-496)
        add("text", _sentence(rng), page=0)
        add("image", None, None, page=0)                      # counts as img 1
        add("image", None, "", page=0)                        # counts as img 2
        add("image", None, _media_ref(f"nr:{idx}:0"), page=0)  # img_idx == 3
        # page 1: ONLY a ref-less media span → raster fallback stays blocked
        add("image", None, None, page=1)
        add("raster", None, _media_ref(f"nrr:{idx}:1"), page=1)
        # page 2: empty-ref raster is inert; the real one gets a caption
        add("raster", None, "", page=2)
        add("raster", None, _media_ref(f"nrr:{idx}:2"), page=2)

    elif cls == "cjk_rtl_doc":
        # heavy non-ASCII through the pandas sanitize path: CJK (no spaces),
        # RTL Arabic/Hebrew, emoji + ZWJ sequences, decomposed combining
        # marks (NFC must compose), fullwidth forms, mixed-direction lines
        add("text", "機械学習のパイプラインでは、データの品質が結果を決める。")
        add("text", "النص العربي يتدفق من اليمين إلى اليسار ويختبر الاتجاه")
        add("text", "שלום עולם — bidi mix with English inside", page=1)
        add("text", "emoji: 👩‍👩‍👧‍👦 family, 🇺🇳 flag, café́ decomposed", page=1)
        add("text", "Ｆｕｌｌｗｉｄｔｈ　ｆｏｒｍｓ and ｶﾀｶﾅ halfwidth", page=2)
        add("text", "à́ stacked combining marks", page=2)

    elif cls == "mega_doc":
        n = mega_spans
        per_page = 40
        for i in range(n):
            p = i // per_page
            if i % 97 == 0:
                add("image", None, LOGO_REF, page=p)
            else:
                add("text", _sentence(rng), page=p)

    return {"doc_id": doc_id, "doc_type": cls, "raw_html": raw_html, "spans": spans}


def gen_pandas(start: int, end: int, seed: int = 42, mega_spans: int = 2000) -> pd.DataFrame:
    rows = [gen_doc(i, seed=seed, mega_spans=mega_spans) for i in range(start, end)]
    return pd.DataFrame(rows, columns=["doc_id", "doc_type", "raw_html", "spans"])


def stage_parquet(path: str, n_docs: int, seed: int = 42, mega_spans: int = 2000) -> str:
    """Write the corpus to one parquet file WITHOUT Spark (pure pyarrow).

    Used to give the DuckDB oracle a span table to read: the driver's
    pre-registered views only cover the flat tables, so span-level oracle
    SQL reads this staged file via read_parquet(path). Idempotent.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # marker encodes the GENERATION PARAMS, not just the code version: a
    # version-only marker let a later call with different n_docs/seed/
    # mega_spans silently return the stale file — and the DuckDB oracle
    # would then compare Spark results over one corpus against SQL over
    # another
    marker = path + f".v{CORPUS_VERSION}.n{n_docs}.s{seed}.m{mega_spans}"
    if os.path.exists(path) and os.path.exists(marker):
        return path
    import glob as _glob

    for stale in [path] + _glob.glob(path + ".v*"):
        if os.path.exists(stale):
            os.remove(stale)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    span_t = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("page", pa.int32()),
            ("offset", pa.int32()),
        ]
    )
    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("doc_type", pa.string()),
            ("raw_html", pa.string()),
            ("spans", pa.list_(span_t)),
            ("n_spans", pa.int64()),
        ]
    )
    rows = [gen_doc(i, seed=seed, mega_spans=mega_spans) for i in range(n_docs)]
    for r in rows:
        r["n_spans"] = len(r["spans"] or [])
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    open(marker, "w").close()
    return path


def corpus_df(spark, n_docs: int, seed: int = 42, mega_spans: int = 2000,
              partitions: int | None = None):
    """Distributed deterministic corpus: each task generates its index range."""
    from docproc_spark.schema import DOCUMENTS_SCHEMA

    parts = partitions or spark.sparkContext.defaultParallelism

    def gen_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for i in pdf["id"]:
                i = int(i)
                lo, hi = i * n_docs // parts, (i + 1) * n_docs // parts
                # emit in chunks to keep Arrow batches bounded
                step = 512
                for s in range(lo, hi, step):
                    out = gen_pandas(s, min(s + step, hi), seed=seed, mega_spans=mega_spans)
                    if len(out):
                        yield out

    from pyspark.sql import functions as F

    return (
        # range(parts, numPartitions=parts) places EXACTLY one range index
        # per partition with no exchange. The previous bounds-table +
        # round-robin repartition form scattered 32 one-row partitions
        # through RoundRobinPartitioning's per-partition start offsets —
        # a balls-in-bins collision that routinely left one task holding
        # 4-6 index ranges (measured: 0.99 s vs 0.45 s per 20k-doc pass
        # at local[32]) while others idled.
        spark.range(0, parts, 1, parts)
        .mapInPandas(gen_batches, schema=DOCUMENTS_SCHEMA)
        # ingest-time span count: parquet row-group stats on a plain int
        # let extract's mega-doc routing push its filter into the scan
        .withColumn(
            "n_spans",
            F.when(F.col("spans").isNull(), F.lit(0))
            .otherwise(F.size("spans"))
            .cast("long"),
        )
    )
