"""Sequence packing and per-group quota sampling — LLM pre-training data
preparation steps downstream of extraction/dedup (the reference stops at
clean text, docproc/sanitize/llm_input.py:1-60; packing into fixed-length
training sequences and per-source balancing are the next steps a 100-TB
corpus consumer runs, so they ship as first-class operators here).

``pack_sequences`` reproduces the standard "concatenate all documents,
slice into seq_len-token windows" layout: each document gets its global
token offset in a deterministic document order, from which its chunk
(training-sequence) range follows. The naive Spark form is a single
global-order window — one reducer holding the whole corpus, a
non-starter at scale. This implementation computes the same
order-defined result with bounded parallelism:

1. a tiny boundary probe over the id column only (approx quantiles for
   numeric ids, a seeded sample otherwise — the RESULT is invariant to
   where the boundaries fall: any order-consistent bucketing yields the
   same global cumsum);
2. ONE pass over the text (the staging job) materializes
   (id, n_tokens, bucket) — three narrow fields per doc — so the two
   consumers below never re-run the tokenization (DataFrame fan-out gets
   no common-subexpression reuse in Catalyst) and nondeterministic
   sources are frozen to a single materialization;
3. a small aggregation over the checkpointed longs gives per-bucket
   token totals; the driver prefix-sums them (<= n_buckets values) into
   a literal map;
4. the cumsum itself is a window partitioned BY BUCKET over the
   checkpointed longs — n_buckets concurrent reducers instead of one.

All arithmetic is integer (long sums, integer division), so the output
is bit-identical to a direct global-window oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docproc_spark.functions.text import token_count_col
from docproc_spark.materialize import stage
from docproc_spark.operators.topk import topk_per_group

__all__ = ["pack_sequences", "cap_per_group"]


def _order_boundaries(docs: DataFrame, id_col: str, n_buckets: int) -> list:
    """<= n_buckets-1 cut points in ``id_col``'s ordering, from a probe
    over the id column only (column-pruned scan — the text is never
    decoded here). Numeric ids use approxQuantile; any other orderable
    type falls back to a seeded sample, evenly thinned after sorting.
    Balance is best-effort by design: boundaries never affect the result,
    only how evenly the buckets split."""
    if n_buckets <= 1:
        return []
    ids = docs.select(F.col(id_col))
    if isinstance(ids.schema[id_col].dataType, T.NumericType):
        qs = [i / n_buckets for i in range(1, n_buckets)]
        return ids.approxQuantile(id_col, qs, 0.001)
    # non-numeric (e.g. the extraction corpus's string doc_ids):
    # approxQuantile only supports numeric columns. takeSample is one
    # count job + one sample job over the pruned id column; 8 samples
    # per requested cut keeps the thinned cuts near the true quantiles.
    sample = sorted(
        {r[0] for r in ids.rdd.takeSample(False, 8 * (n_buckets - 1), seed=42)
         if r[0] is not None}
    )
    if not sample:
        return []
    step = max(1, len(sample) // n_buckets)
    return sample[step::step][: n_buckets - 1]


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Global packing assignment: (start_offset, end_offset, chunk range)
    per document in ``id_col`` order.

    Semantics: documents are conceptually concatenated in ascending
    ``id_col`` order and the token stream is sliced into ``seq_len``-token
    training sequences; a document's tokens occupy
    [start_offset, end_offset) of the stream and therefore appear in
    chunks [first_chunk, last_chunk] (documents may straddle a boundary —
    n_chunks says how many sequences see any part of the doc).

    Zero-token documents are EXCLUDED from the output: they occupy no
    stream positions and belong to no chunk. ``id_col`` must be unique —
    it is the total order that defines the layout; numeric or any
    orderable type. Token counts come from ``token_count_col``
    (whitespace tokens) unless ``n_tokens_col`` names a precomputed
    column.

    EAGER: the assignment is materialized at call time (a staged frame
    of three narrow fields per doc — the price of running the
    tokenization exactly once and freezing nondeterministic sources; the
    blocks go with the returned frame, see materialize).

    Output: (id_col, n_tokens, start_offset, end_offset, first_chunk,
    last_chunk, n_chunks) — an assignment table; join back on ``id_col``
    for the text (shuffling only 3 longs per doc here is the point).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    nt = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else token_count_col(F.col(text_col)).cast("long")
    )
    # zero-token docs are dropped AFTER the window, not here: they add 0
    # to every cumsum so the layout is unchanged, while an early filter
    # gets pushed below the projection and makes Catalyst evaluate the
    # tokenization TWICE per row (once in Filter, once in Project) — at
    # the scan, against the full text. Carrying their (id, 0) pairs
    # through the checkpoint is 3 narrow fields per doc.
    base = docs.select(F.col(id_col), nt.alias("n_tokens"))

    # Boundary probe: literal cut points frozen at plan-build time, so
    # both consumers below see the SAME bucketing (a spark_partition_id()
    # bucketing would not guarantee that across plan branches).
    boundaries = _order_boundaries(docs, id_col, n_buckets)
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(F.col(id_col) > F.lit(b), 1).otherwise(0)
    # The ONE full pass over the text: tokenize + bucket, staged.
    # Without this, the totals job AND the window job would each re-run
    # the whole upstream derivation (fan-out = no CSE in Catalyst), and a
    # nondeterministic source could give the two branches different rows
    # (totals from one materialization, offsets from another).
    withb = stage(base.withColumn("_b", bucket.cast("int")))

    # Per-bucket token totals over the staged longs -> driver-side
    # prefix sums. <= n_buckets rows cross the driver; exact long math.
    # `or 0` not a .get default: an all-NULL-token bucket (every doc has
    # NULL text) yields SUM() = NULL under a PRESENT key.
    totals = {
        r["_b"]: r["total"]
        for r in withb.groupBy("_b").agg(F.sum("n_tokens").alias("total")).collect()
    }
    prefix: dict[int, int] = {}
    running = 0
    for bi in range(len(boundaries) + 1):
        prefix[bi] = running
        running += int(totals.get(bi) or 0)
    # values cast: a Python int < 2^31 literalizes as IntegerType while a
    # bigger one is LongType — create_map requires ONE value type
    prefix_map = F.create_map(
        *[
            c
            for k, v in prefix.items()
            for c in (F.lit(k), F.lit(v).cast("long"))
        ]
    )

    w = (
        Window.partitionBy("_b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.element_at(prefix_map, F.col("_b"))
        + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).alias("start_offset")
    out = (
        withb.select(id_col, "n_tokens", start)
        # the zero-token exclusion, deferred from the scan (see above);
        # must precede the chunk math — a 0-token doc's last_chunk
        # expression would read first_chunk - 1. NULL-token docs (null
        # text) fall out here too: NULL > 0 is not true.
        .filter(F.col("n_tokens") > 0)
    ).select(
        id_col,
        "n_tokens",
        "start_offset",
        (F.col("start_offset") + F.col("n_tokens")).alias("end_offset"),
        F.expr(f"start_offset div {seq_len}").alias("first_chunk"),
        F.expr(f"(start_offset + n_tokens - 1) div {seq_len}").alias("last_chunk"),
    )
    return out.withColumn(
        "n_chunks", (F.col("last_chunk") - F.col("first_chunk") + F.lit(1)).cast("int")
    )


def cap_per_group(
    docs: DataFrame,
    *,
    group_col: str = "source",
    k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group quota: keep at most ``k`` rows per
    ``group_col`` value (per-domain / per-source balancing, the C4/Dolma
    source-mixing step). Selection order is md5(id) — a uniform,
    engine-portable shuffle, so the kept set is an unbiased sample that is
    bit-identical across runs and engines — with ``id_col`` as tie-break.
    Delegates to ``topk_per_group`` (the shared window-rank kernel) with a
    collision-safe rank column, so a caller's own columns pass through
    untouched.

    One shuffle on ``group_col``. A pathologically hot group funnels into
    one reducer; since only rank <= k survives, pre-thinning with a
    hash-sample gate (operators.sampling.hash_sample at ~k/|group| rate,
    then re-ranking) bounds that reducer when a group holds billions of
    rows — left to the caller because it needs a group-size estimate.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    rn = "_cap_rn"
    while rn in docs.columns:
        rn += "_"
    return topk_per_group(
        docs,
        [group_col],
        [F.md5(F.col(id_col).cast("string")), F.col(id_col)],
        k,
        rank_name=rn,
    ).drop(rn)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 512,
    overlap_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-window chunking for retrieval indexing (the operator behind
    the rag config block's chunk_size=512 default — reference
    `docproc/config/schema.py` carries the knob; this materializes it):
    each document becomes overlapping windows of ``chunk_tokens``
    whitespace tokens, consecutive windows sharing ``overlap_tokens``.

    Returns (doc_id, chunk_id, chunk_text, n_tokens): chunk_id counts
    from 0 in token order; chunk_text is the single-space join of the
    window's tokens (token-level chunking over normalized whitespace —
    the usual RAG shape; callers needing original byte offsets should
    chunk upstream of normalization). Window starts step by
    ``chunk_tokens - overlap_tokens``; a final window that would add no
    new tokens (start past n - overlap) is not emitted, so every chunk
    contributes at least one unseen token and the union of chunks covers
    the document exactly. Documents with no tokens emit nothing.

    Plan: one scan, tokens staged once as a column (never re-split per
    window — the HOF-quadratic trap), starts via F.sequence +
    posexplode, per-row slices. No shuffle at all: chunking is
    embarrassingly parallel and the output keeps the input partitioning
    (a downstream embed/index stage shuffles if IT needs to).
    """
    from docproc_spark.operators.dedupe import tokens_col

    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("overlap_tokens must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap_tokens
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.coalesce(F.col(text_col), F.lit(""))).alias("_tk"),
    ).withColumn("_n", F.size("_tk"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("_n") - overlap_tokens - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = staged.select(
        "doc_id", "_tk", F.posexplode(starts).alias("chunk_id", "_s")
    )
    window = F.slice(F.col("_tk"), F.col("_s") + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(" ", window).alias("chunk_text"),
        F.size(window).alias("n_tokens"),
        # empty-doc suppression HERE, not as a pre-explode `_n > 0` filter:
        # Catalyst sinks that filter below the tokenize projection and
        # evaluates the whole split expression a second time per row (the
        # filter-below-its-own-projection trap). Post-explode the predicate
        # references the generate output, so it cannot sink; a token-bearing
        # doc's every window holds >= 1 token (last start <= n-overlap-1),
        # so only the empty-doc placeholder window is dropped.
    ).filter(F.col("n_tokens") > 0)
