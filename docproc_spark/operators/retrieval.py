"""Lexical retrieval over the corpus (BM25-shaped scoring).

Complements the vector side (functions/text.hash_embed + the ANN family in
operators/similarity) with classic full-text ranking, so the engine covers
both retrieval modalities a RAG stack needs: a batch BM25 scan scorer
(bm25_topk), an inverted-index serving path that is bit-equal to it
(build_text_index + bm25_topk_indexed, partition-pruned by term bucket),
and reciprocal-rank fusion (rrf_fuse) to hybridize lexical and dense
rankings. The reference has no search path at all — this is a
beyond-reference capability, built engine-portable on purpose (every
arithmetic step is IEEE-exact, so the DuckDB oracle reproduces scores
bit-for-bit).
"""

from __future__ import annotations

import hashlib
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docproc_spark.operators.dedupe import tokens_col


def query_terms(query: str) -> list[str]:
    """Sorted distinct lowercased whitespace tokens of a query string —
    the fixed term order both engines sum scores in (floating-point
    addition is not associative; a fixed order makes the total exact)."""
    return sorted({t for t in query.lower().split() if t})


def _bm25_score(n_terms: int, k1: float, b: float) -> Column:
    """The shared BM25 score expression over columns tf0..tfN, dl, n,
    sdl, df0..dfN — ONE construction used by both the scan path and the
    indexed path, so their float arithmetic (every operand, every
    parenthesization, the left-assoc term sum) is identical by
    construction and the two paths return bit-equal scores."""
    avgdl = F.col("sdl").cast("double") / F.col("n")
    score = None
    for i in range(n_terms):
        tf = F.col(f"tf{i}")
        idf = (F.col("n") - F.col(f"df{i}") + F.lit(0.5)) / (
            F.col(f"df{i}") + F.lit(0.5)
        )
        part = (idf * tf * F.lit(k1 + 1.0)) / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + (F.lit(b) * F.col("dl")) / avgdl)
        )
        score = part if score is None else score + part
    return score


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents for ``query`` under BM25-shaped scoring:

        score(d) = sum_t idf_t * tf_t*(k1+1) / (tf_t + k1*(1-b + b*dl/avgdl))
        idf_t    = (N - df_t + 0.5) / (df_t + 0.5)

    — standard BM25 (Robertson/Sparck Jones) with the rational idf
    surrogate in place of its log: ln() is not identically rounded across
    engines (a 1-ulp difference flips ranks), while the rational form is
    monotone in df and IEEE-exact everywhere. Ranking quality is the
    BM25 family's; absolute scores are not comparable to log-idf BM25.

    Terms are ``query_terms(query)`` in sorted order, summed
    left-to-right; ties break by doc_id, zero-score documents (no query
    term present) are dropped. Returns (doc_id, score, rank).

    Plan: the per-term tf columns are one staged projection; corpus
    stats (N, sum dl, per-term df) are ONE 1-row aggregate crossJoined
    back (broadcast), so the corpus is scanned twice (stats + scoring —
    the same two-consumer shape as repeated_window_fraction; checkpoint
    upstream if the source is expensive) and never shuffled: top-k is a
    sort-limit (TakeOrderedAndProject), not a global sort. Query cost is
    O(corpus x |terms|); this operator is the batch-scoring / evaluation
    path — for serving, ``build_text_index`` + ``bm25_topk_indexed``
    answer the same query (bit-equal) from a partition-pruned index.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    if k <= 0:
        raise ValueError("k must be positive")

    def tf_col(term: str) -> Column:
        return F.size(F.filter(F.col("_lt"), lambda x: x == F.lit(term))).cast(
            "long"
        )

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias("_lt"),
    ).select(
        "doc_id",
        F.size("_lt").cast("long").alias("dl"),
        *[tf_col(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    )
    stats = staged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    joined = staged.crossJoin(stats)
    scored = joined.select(
        "doc_id", _bm25_score(len(terms), k1, b).alias("score")
    ).filter(F.col("score") > 0)
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Python twin of the JVM-side term_bucket expression (md5 first 8
    hex mod n) — lets query time compute the pruning buckets without
    touching the cluster."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def build_text_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_term_buckets: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Inverted index for BM25 serving: returns ``(postings, doclens)``
    with postings (term, term_bucket, doc_id, tf, n_term_buckets) — one
    row per distinct (term, doc); the constant n_term_buckets column
    records the bucket modulus IN the index (RLE-compressed to ~nothing
    in parquet) so query time can validate it instead of trusting a
    caller-supplied default — and doclens (doc_id, dl) covering EVERY
    input document (zero-token docs included with dl=0, so corpus stats
    derived from doclens match the scan path exactly).

    term_bucket = md5(term) mod ``n_term_buckets``: write the postings
    ``partitionBy("term_bucket")`` (or bucketBy on term) and a query's
    bucket filter becomes partition pruning — the 100 TB serving flow
    builds once, then each query reads only |query_terms| buckets of
    postings instead of the corpus. Tokenization matches bm25_topk
    (lowercased whitespace), so ``bm25_topk_indexed`` over this index is
    bit-equal to the scan path.

    The two returned frames each re-derive the tokenization —
    materializing both costs two corpus scans (fan-out gets no CSE);
    stage ``docs`` upstream when its source is expensive.
    """
    if n_term_buckets <= 0:
        raise ValueError("n_term_buckets must be positive")
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias("_lt"),
    )
    doclens = staged.select(
        "doc_id", F.size("_lt").cast("long").alias("dl")
    )
    postings = (
        staged.select("doc_id", F.explode("_lt").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .select(
            "term",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
                % n_term_buckets
            ).cast("int").alias("term_bucket"),
            "doc_id",
            "tf",
            F.lit(n_term_buckets).cast("int").alias("n_term_buckets"),
        )
    )
    return postings, doclens


def bm25_topk_indexed(
    postings: DataFrame,
    doclens: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_term_buckets: int | None = 64,
) -> DataFrame:
    """BM25 top-``k`` served from a ``build_text_index`` index —
    bit-equal to ``bm25_topk`` on the same corpus (shared score
    expression, identical stats), but the per-query cost is
    O(docs containing a query term), not O(corpus):

    - postings are filtered to the query terms (a bare ``term IN``
      predicate that reaches the parquet scan) plus, when
      ``n_term_buckets`` is given, the terms' ``term_bucket IN`` — on a
      term_bucket-partitioned index that is partition PRUNING, so only
      |terms| of the buckets are read at all. A wrong modulus would make
      that filter silently drop valid postings, so when the index
      carries its ``n_term_buckets`` column (build_text_index writes
      it), the stored value is probed (a one-row limit(1) job — one
      partition footer, negligible against the query) and a
      caller-supplied mismatch raises instead of corrupting results;
    - per-term df is a 1-row aggregate of the filtered postings; N and
      sum(dl) are a 1-row aggregate of doclens (metadata-sized —
      precompute and store alongside the index to skip even that scan);
    - candidates pivot to fixed tf0..tfN columns in ONE groupBy(doc_id)
      with map-side combine, join doclens for dl (candidate side is
      query-sized; AQE broadcasts it), and score with the exact scan-path
      expression.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    if k <= 0:
        raise ValueError("k must be positive")

    p = postings.filter(F.col("term").isin(terms))
    if n_term_buckets is not None and "term_bucket" in postings.columns:
        if "n_term_buckets" in postings.columns:
            probe = postings.select("n_term_buckets").limit(1).collect()
            if probe and probe[0][0] != n_term_buckets:
                raise ValueError(
                    f"index was built with n_term_buckets={probe[0][0]}, "
                    f"query asked for {n_term_buckets} — the bucket filter "
                    "would silently drop valid postings"
                )
        buckets = sorted({_term_bucket_py(t, n_term_buckets) for t in terms})
        p = p.filter(F.col("term_bucket").isin(buckets))

    stats = doclens.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").alias("sdl"),
    ).crossJoin(
        p.agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("term") == t, F.lit(1)).otherwise(F.lit(0))),
                    F.lit(0),
                ).cast("long").alias(f"df{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    cand = p.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            ).cast("long").alias(f"tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    joined = cand.join(doclens, "doc_id").crossJoin(stats)
    scored = joined.select(
        "doc_id", _bm25_score(len(terms), k1, b).alias("score")
    ).filter(F.col("score") > 0)
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of ranked lists:
    rrf_score(d) = sum over lists of 1/(k_rrf + rank_l(d)), summed in
    the given list order (missing lists contribute exactly 0.0, which
    preserves the other terms' total bit-for-bit). The standard way to
    hybridize lexical (bm25_topk) and dense (cosine) retrieval without
    score calibration — only ranks cross the boundary.

    Inputs carry (id_col, rank_col); returns (id_col, rrf_score, rank)
    with ties broken by id. Plan: the inputs are top-k lists (rows ≤ k
    per list), so the chained full-outer joins are metadata-sized —
    every heavy scan lives inside the per-list retrieval upstream.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k <= 0:
        raise ValueError("k must be positive")
    if k_rrf < 0:
        raise ValueError("k_rrf must be non-negative")

    fused = None
    for i, r in enumerate(rankings):
        part = r.select(
            F.col(id_col).alias("_id"), F.col(rank_col).alias(f"_r{i}")
        )
        if fused is None:
            fused = part
        else:
            fused = fused.join(part, "_id", "full_outer")
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(f"_r{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    scored = fused.select(F.col("_id").alias(id_col), score.alias("rrf_score"))
    top = scored.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))
