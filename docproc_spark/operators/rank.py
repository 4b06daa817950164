"""Exact global ordering without a single-partition window.

A plain ``row_number() OVER (ORDER BY ...)`` moves the whole table through
one reducer — the classic 100 TB cliff. This module computes the SAME
numbers distributed: range-bucket on the numeric order value (boundaries
from a tiny approxQuantile probe), per-bucket window, and driver-side
prefix offsets (≤ rank_buckets integers cross the driver). Because bucket
assignment is a monotone function of the order value alone, per-bucket
rank + bucket prefix equals the global rank exactly — the same
decomposition pack_sequences uses for global token offsets
(operators/packing.py), factored out for reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docproc_spark.materialize import stage


def global_row_number(
    df: DataFrame,
    value_col: str,
    id_col: str,
    out_col: str = "rank",
    rank_buckets: int = 32,
) -> tuple[DataFrame, int]:
    """Append ``out_col`` = the exact 1-based global row number ordered by
    (``value_col`` asc, ``id_col`` asc), computed without a global window.
    Returns (frame, total_row_count).

    ``value_col`` must be numeric and non-null (use a sentinel for
    missing values — null ordering differs across engines anyway).
    Triggers eager jobs (boundary probe, bucket sizes): pass an
    inexpensive or checkpointed frame. Boundary balance is best-effort;
    a constant value column degrades to one window partition (correct,
    just not parallel).
    """
    if rank_buckets <= 0:
        raise ValueError("rank_buckets must be positive")
    b_col, rn_col = "_gr_b", "_gr_rn"
    while b_col in df.columns:
        b_col += "_"
    while rn_col in df.columns:
        rn_col += "_"

    bounds = []
    if rank_buckets > 1:
        qs = [i / rank_buckets for i in range(1, rank_buckets)]
        bounds = sorted(set(df.approxQuantile(value_col, qs, 0.001)))

    bucket = F.lit(0)
    for bv in bounds:
        bucket = bucket + (F.col(value_col) > F.lit(bv)).cast("int")
    staged = df.withColumn(b_col, bucket)

    sizes = sorted(
        (r[b_col], r["cnt"])
        for r in staged.groupBy(b_col).agg(F.count("*").alias("cnt")).collect()
    )
    if not sizes:
        return df.withColumn(out_col, F.lit(0).cast("long")), 0
    prefix: dict[int, int] = {}
    running = 0
    for bi, cnt in sizes:
        prefix[bi] = running
        running += cnt

    prefix_map = F.create_map(
        *[c for k, v in prefix.items() for c in (F.lit(k), F.lit(v))]
    )
    w = Window.partitionBy(b_col).orderBy(F.col(value_col), F.col(id_col))
    out = (
        staged.withColumn(rn_col, F.row_number().over(w))
        .withColumn(
            out_col,
            (
                F.element_at(prefix_map, F.col(b_col)) + F.col(rn_col)
            ).cast("long"),
        )
        .drop(b_col, rn_col)
    )
    return out, running


def assign_shards(
    docs: DataFrame,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    rank_buckets: int = 32,
) -> DataFrame:
    """Deterministic near-balanced output-shard assignment for training-data
    writers: order documents by (n_tokens DESC, id ASC) and deal them
    serpentine (boustrophedon) across ``n_shards`` — block k of n_shards
    rows runs left→right when k is even, right→left when odd, so the shard
    that just received the largest document of a block receives the
    smallest of the next. Closed-form from the global rank alone (no
    sequential greedy state, unlike LPT bin packing), so the assignment is
    reproducible by any engine from the same ordering.

    Scale shape: the only global coordination is the range-bucketed exact
    rank (global_row_number — never a single-reducer window); the narrow
    (id, n_tokens) frame is staged so the rank's probe jobs and
    the final pass tokenize each document ONCE. Null/empty texts count 0
    tokens and are still assigned — a shard writer must place every row.

    Output: (id_col, n_tokens, rank, shard), shard ∈ [0, n_shards).
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    from docproc_spark.functions.text import token_count_col

    nt = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else token_count_col(F.col(text_col)).cast("long")
    )
    neg = "_sh_neg"
    while neg in docs.columns:
        neg += "_"
    base = docs.select(
        F.col(id_col),
        F.coalesce(nt, F.lit(0)).alias("n_tokens"),
    ).withColumn(neg, -F.col("n_tokens"))
    # freeze the narrow frame: global_row_number runs eager probe jobs and
    # a final window — unstaged, each one re-tokenizes the corpus
    # (fan-out gets no CSE) and a nondeterministic source could feed the
    # probe and the window different rows
    base = stage(base)
    ranked, _ = global_row_number(
        base, neg, id_col, out_col="rank", rank_buckets=rank_buckets
    )
    pos = (F.col("rank") - 1) % n_shards
    block = F.expr(f"(rank - 1) div {n_shards}")
    return ranked.select(
        id_col,
        "n_tokens",
        "rank",
        F.when(block % 2 == 0, pos)
        .otherwise(F.lit(n_shards - 1) - pos)
        .cast("long")
        .alias("shard"),
    )


def ntile_expr(rank_col: str, n_rows: int, n_buckets: int):
    """SQL-standard NTILE(``n_buckets``) as a closed-form expression over
    a precomputed global rank: the first n_rows % n_buckets tiles get
    ceil(n/k) rows, the rest floor(n/k) — bit-identical to DuckDB's
    ntile() so bucketed outputs stay oracle-exact. Integer arithmetic
    only (`div` == DuckDB `//` on non-negative longs)."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    small = n_rows // n_buckets
    big = n_rows % n_buckets
    size_big = small + 1
    r = F.col(rank_col)
    if small == 0:
        return r.cast("long")
    cut = big * size_big
    return (
        F.when(r <= F.lit(cut), F.expr(f"(({rank_col} - 1) div {size_big}) + 1"))
        .otherwise(
            F.expr(f"{big} + (({rank_col} - {cut} - 1) div {small}) + 1")
        )
        .cast("long")
    )
