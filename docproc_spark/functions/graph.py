"""Web link-graph operators: link extraction, domain authority, PageRank.

Web-curation pipelines at CommonCrawl scale use the hyperlink graph as a
quality signal — a page linked from many distinct registered domains is
far likelier to be worth keeping than an orphan (CCNet and the Common
Crawl web-graph releases both publish exactly these host/domain-level
in-degree and centrality rankings). This module derives that signal from
the corpus itself, Spark-first:

  - ``extract_links``: ``<a href>`` edges straight out of raw HTML with
    JVM ``regexp_extract_all`` — one scan, one generate (explode), zero
    shuffle, no Python. Relative references resolve against the page's
    canonical scheme/host; ``javascript:``/``mailto:``/fragment-only and
    path-relative references drop (documented below).
  - ``domain_authority``: per-destination-domain in-link counts with the
    external-only distinct-source-domain count as the authority proxy.
    ONE aggregation shuffle keyed on the destination domain.
  - ``pagerank``: fixed-iteration PageRank in pure BIGINT arithmetic
    ("rank bits", parts of 2^scale_bits) so results are bit-identical
    regardless of summation order — integer sums are associative where
    float sums are not, which makes the operator oracle-able and its
    output stable across partitionings/cluster sizes. One join + one
    aggregation shuffle per iteration; lineage cut per round by an eager
    stage, the previous round released (materialize; the dup_components
    discipline).

Link-resolution rules (mirrored bit-for-bit by the SQL oracles):
  - ``http(s)://...`` (any case) → kept as-is;
  - ``//host/...`` protocol-relative → page scheme + ``:`` + href;
  - ``/path`` root-relative → page ``scheme://host`` + href;
  - anything else (path-relative, ``#frag``, ``mailto:``,
    ``javascript:``, empty) → dropped. Path-relative resolution needs
    RFC 3986 dot-segment handling that buys little on real crawls (the
    overwhelming majority of content links are absolute or root-relative)
    and is documented out of scope.
  - both endpoints are canonicalized with functions/web.canonicalize_url;
    repeated hrefs in one page stay repeated (PageRank counts them via
    out-degree; callers can ``distinct()``).

Anchor text is the first ``<a ...>...</a>`` text run without nested
markup (``[^<]*``) — nested-tag anchors yield ''.

100-TB shape: extraction is embarrassingly parallel (map-side only).
``pagerank`` shuffles edges by ``src`` once up front (joined with
out-degree, checkpointed), then each iteration is a shuffle join
rank⋈edges + a ``dst``-keyed partial-aggregated sum; at 10^12 edges both
sides pre-partition on the same key so AQE coalesces, and the per-round
checkpoint bounds plan growth at any iteration count.

Reference: the reference engine (rithulkamesh/docproc) has no link-graph
stage; this is part of the beyond-reference training-data layer the
build plan calls for (SURVEY.md §2 additions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docproc_spark.functions.web import canonicalize_url, registered_domain
from docproc_spark.materialize import release, stage

# href + first text run; character classes only (no lazy quantifiers, no
# boundary assertions) so Java regex and DuckDB's RE2 agree byte-for-byte.
HREF_PATTERN = '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)'

# 2^40 "rank bits" ≈ 1.0 of total rank mass: coarse enough that every
# intermediate (85 * sum ≤ 85·2^40 ≈ 9.4e13) sits far inside BIGINT,
# fine enough that rank ratios survive integer truncation.
DEFAULT_SCALE_BITS = 40


def resolve_href(scheme: Column, host: Column, href: Column) -> Column:
    """Resolve ``href`` against the page's canonical ``scheme``/``host``
    per the module rules; unresolvable references → NULL."""
    h = F.trim(href)
    low = F.lower(h)
    return (
        F.when(low.startswith("http://") | low.startswith("https://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(scheme, F.lit("://"), host, h))
        .otherwise(F.lit(None).cast("string"))
    )


def extract_links(
    docs: DataFrame,
    html_col: str = "raw_html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """``<a href>`` edge list from raw HTML: one row per resolvable link,
    in page order. ``pos`` is the 1-based position among ALL matched
    anchors — dropped (unresolvable) links leave gaps, so ``pos`` is a
    stable page-order key even as resolution rules evolve. Pure map-side
    — scan + explode + projection, zero shuffle, no Python."""
    html = F.coalesce(F.col(html_col), F.lit(""))
    src = canonicalize_url(F.col(url_col))
    scheme = F.substring_index(src, "://", 1)
    host = F.substring_index(F.substring_index(src, "://", -1), "/", 1)

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        src.alias("src_url"),
        scheme.alias("_scheme"),
        host.alias("_host"),
        F.arrays_zip(
            F.regexp_extract_all(html, F.lit(HREF_PATTERN), F.lit(1)).alias("href"),
            F.regexp_extract_all(html, F.lit(HREF_PATTERN), F.lit(2)).alias("anchor"),
        ).alias("_links"),
    )
    exploded = staged.select(
        "doc_id",
        "src_url",
        "_scheme",
        "_host",
        F.posexplode("_links").alias("_pos0", "_link"),
    )
    resolved = resolve_href(
        F.col("_scheme"), F.col("_host"), F.col("_link.href")
    )
    dst = canonicalize_url(resolved)
    return (
        exploded.select(
            "doc_id",
            (F.col("_pos0") + F.lit(1)).alias("pos"),
            "src_url",
            dst.alias("dst_url"),
            F.trim(F.col("_link.anchor")).alias("anchor"),
        )
        .filter(F.col("dst_url").isNotNull())
        .withColumn("src_domain", registered_domain(F.col("src_url")))
        .withColumn("dst_domain", registered_domain(F.col("dst_url")))
        .withColumn(
            "is_internal", F.col("src_domain") == F.col("dst_domain")
        )
    )


def domain_authority(edges: DataFrame) -> DataFrame:
    """Per-destination-domain link counts: total in-links, external
    in-links, and the authority proxy — distinct EXTERNAL source domains
    (internal navigation self-votes don't count, the standard web-graph
    convention). ONE shuffle keyed on ``dst_domain``; the distinct count
    is Spark's two-phase partial-distinct aggregate, still one exchange
    on the group key."""
    ext = F.col("src_domain") != F.col("dst_domain")
    return edges.groupBy("dst_domain").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.count(F.when(ext, F.lit(1))).alias("n_external_inlinks"),
        F.count_distinct(
            F.when(ext, F.col("src_domain"))
        ).alias("n_source_domains"),
    )


def anchor_texts(edges: DataFrame, k: int = 3) -> DataFrame:
    """Per-destination anchor-text aggregation: how the web DESCRIBES a
    page — a relevance/quality signal search and curation pipelines both
    use (anchor corpora stand in for queries). Per ``dst_url``: total
    references, distinct referring pages, and the top-``k`` distinct
    non-empty anchors in bytewise order, joined with ``' | '``
    (deterministic — collect_set order is not, the sort is). ONE
    aggregation shuffle keyed on ``dst_url``."""
    anchors = F.array_join(
        F.slice(
            F.array_remove(F.array_sort(F.collect_set("anchor")), ""),
            1,
            k,
        ),
        " | ",
    )
    return edges.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.count_distinct("src_url").alias("n_source_pages"),
        anchors.alias("anchors_topk"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    scale_bits: int = DEFAULT_SCALE_BITS,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list, in BIGINT "rank bits".

    Total rank mass is ``2^scale_bits``; every node starts at
    ``mass div N``. Each iteration::

        rank'(v) = ((100 - d) * (mass div N)) div 100
                 + (d * sum over in-edges (u,v) of rank(u) div outdeg(u)) div 100

    with ``d = damping_pct`` and ``div`` = truncating integer division
    (positive operands, so floor == truncate in both Spark and DuckDB).
    All-integer arithmetic makes the result independent of partition
    count and summation order — bit-exact on any cluster size, and
    exactly reproducible by an unrolled SQL CTE chain (the oracle).
    Dangling-node mass is dropped, not redistributed (documented
    simplification; ranks are relative signals, not probabilities).

    Output: ``node`` (every distinct endpoint), ``rank_bits`` BIGINT, and
    ``rank`` = one IEEE division ``rank_bits / 2^scale_bits`` (bit-exact:
    a single division of two exactly-representable integers).

    Scale shape: edges join their out-degree ONCE up front and the result
    is staged (materialized, lineage cut); per iteration there is one
    rank⋈edges shuffle join on ``src`` and one ``dst``-keyed sum with
    map-side partial aggregation. Each round's ranks are staged, which
    keeps the plan O(1) in ``iters``, and the previous round's released;
    the node and edge tables are released before returning.
    """
    mass = 1 << scale_bits
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    nodes = stage(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(None).cast("long").alias("rank_bits"),
            F.lit(None).cast("double").alias("rank"),
        )
    share = mass // n
    base = ((100 - damping_pct) * share) // 100

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ew = stage(e.join(outdeg, "src"))

    ranks = nodes.select("node", F.lit(share).cast("long").alias("rank_bits"))
    for i in range(iters):
        contribs = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("rank_bits div out_deg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        new_ranks = stage(
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left").select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(in_sum, 0L)) div 100"
                    )
                ).cast("long").alias("rank_bits"),
            )
        )
        if i:
            release(ranks)
        ranks = new_ranks
    release(ew)
    if iters:
        release(nodes)  # with no round, the returned ranks read nodes
    return ranks.select(
        "node",
        "rank_bits",
        (F.col("rank_bits") / F.lit(float(mass))).alias("rank"),
    )
