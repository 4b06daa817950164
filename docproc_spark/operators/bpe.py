"""Distributed BPE-merge training (Sennrich et al. 2016) — the tokenizer-
training step of a pre-training data pipeline, as Spark aggregations.

Shape: the corpus is reduced ONCE to a word-frequency vocabulary (one
explode + groupBy shuffle — the only pass that touches document text);
merge rounds then run on the vocabulary table alone. Two round
strategies share bit-identical decisions: the LOCAL refiner (default
at fitting vocab sizes) collects the vocabulary once and runs classic
heap+incremental-count BPE on the driver — the scale path, since a real
tokenizer is ~30k merges and one Spark job per merge would be 30k jobs;
and the DISTRIBUTED rounds — adjacent symbol-pair counts (explode
weighted by word freq, map-side partial aggs), a distributed top-1
(TakeOrdered, never a global window), and a leftmost-non-overlapping
merge applied as a per-word string fold — for vocabularies too large to
collect (cap n_merges in the hundreds there: cost is O(rounds) jobs). The
initial vocabulary is staged (cuts the corpus lineage); each round's
merged vocabulary is staged and its predecessor released (the
dup_components iterative-operator discipline), so storage stays at one
vocabulary copy however many rounds run, and none once training returns.
At 100-TB corpus scale the vocabulary (distinct words) is orders smaller
than the corpus, so rounds are cheap after the single corpus reduction.

Cross-engine determinism: the merge decision is (count DESC, x ASC,
y ASC) — fully ordered, so the chosen pair never depends on
partitioning. The merge application is a LEFT string fold with a stack
rule ("if the accumulator ends with x at a symbol boundary and the next
symbol is y, replace that x with xy") — exactly leftmost
non-overlapping BPE merging ([a,a,a] -> [aa,a]), and expressible
bit-identically as F.aggregate in Spark and list_reduce in DuckDB, so
the whole training loop is SQL-oracle-able (the oracle unrolls rounds
into a generated CTE chain; see __spark_entry__._bpe_sql).

Symbols start as the word's codepoints, extracted with a DOTALL '(?s).'
so Unicode line separators inside a token (U+0085/U+2028/U+2029 survive
the ASCII-whitespace tokenizer) are kept as symbols rather than silently
dropped. Java regex still matches UTF-16 code units while RE2 matches
codepoints (surrogate pairs diverge) — pass ``word_pattern`` (the spare
uses '^[a-z0-9]+$') when the corpus can carry astral-plane characters
and the oracle must match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docproc_spark.materialize import release, stage
from docproc_spark.operators.dedupe import tokens_col


def merge_fold_col(syms: Column, x: Column, y: Column) -> Column:
    """Apply ONE merge (x, y) -> x||y to a space-joined symbol string,
    leftmost non-overlapping, as a left fold (stack rule). A NULL x (the
    SQL oracle's exhausted-pairs round, LEFT JOIN against an empty best
    row) needs no special arm: the merge condition is three-valued-NULL,
    which CASE treats as false in both engines, so control falls through
    to the rebuild arms and the string comes back unchanged."""
    merged = F.concat(x, y)
    return F.aggregate(
        F.split(syms, " "),
        F.lit(""),
        lambda acc, cur: F.when(
            ((acc == x) | acc.endswith(F.concat(F.lit(" "), x))) & (cur == y),
            F.when(acc == x, merged).otherwise(
                F.concat(
                    F.substring(acc, F.lit(1), F.length(acc) - F.length(x)),
                    merged,
                )
            ),
        )
        .when(acc == "", cur)
        .otherwise(F.concat(acc, F.lit(" "), cur)),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(x, y, cnt): adjacent symbol pairs weighted by word frequency.
    Words with a single symbol contribute nothing (sequence(0, -1) would
    DESCEND in Spark — the >= 2 filter is load-bearing)."""
    arr = vocab.withColumn("_arr", F.split("syms", " ")).filter(
        F.size("_arr") >= 2
    )
    pairs = arr.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_arr") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("_arr"), i + 1).alias("x"),
                    F.element_at(F.col("_arr"), i + 2).alias("y"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y")).agg(
        F.sum("freq").cast("long").alias("cnt")
    )


def _local_refine(
    rows: list[tuple[int, str]], n_merges: int
) -> list[tuple]:
    """Classic driver-local BPE over a collected (freq, syms) vocabulary:
    lazy-deletion heap for the best pair, incremental pair-count updates
    touching only the words that contain the merged pair. Bit-identical
    decisions to the distributed rounds — (count DESC, x ASC, y ASC)
    selection and leftmost-non-overlapping application — verified by the
    strategy-parity test. O(total_syms + merges·log P + touched words);
    30k merges over a multi-million-word vocabulary is minutes, not 30k
    Spark jobs."""
    import heapq
    from collections import defaultdict

    freqs = [f for f, _ in rows]
    words = [s.split(" ") for _, s in rows]
    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, syms in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += freqs[wi]
            pair_words[p].add(wi)
    heap = [(-c, x, y) for (x, y), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple] = []
    for r in range(n_merges):
        best = None
        while heap:
            negc, x, y = heapq.heappop(heap)
            if pair_counts.get((x, y), 0) == -negc:  # else: stale entry
                best = (x, y, -negc)
                break
        if best is None or best[2] <= 0:
            break
        bx, by, bc = best
        merges.append((r + 1, bx, by, bx + by, bc))
        touched: set[tuple[str, str]] = set()
        for wi in list(pair_words.pop((bx, by), ())):
            syms, f = words[wi], freqs[wi]
            if (bx, by) not in {
                (syms[i], syms[i + 1]) for i in range(len(syms) - 1)
            }:
                continue  # stale membership (word changed since insert)
            new: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == bx and syms[i + 1] == by:
                    new.append(bx + by)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= f
                touched.add(p)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] += f
                pair_words[p].add(wi)
                touched.add(p)
            words[wi] = new
        for p in touched:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p[0], p[1]))
    return merges


def train_bpe(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    word_pattern: str | None = None,
    strategy: str = "auto",
    local_vocab_max: int = 5_000_000,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus's
    lowercased whitespace words. Returns (rank, x, y, merged, cnt) in
    merge order; stops early if the vocabulary runs out of pairs.

    ``strategy`` picks how the merge ROUNDS run (the corpus reduction to
    a word-frequency vocabulary is always the one distributed pass):

    - ``"local"``: collect the vocabulary (|unique words| rows — orders
      of magnitude smaller than the corpus) and refine on the driver
      with incremental pair counts. THE scale path for real tokenizer
      training: 30k merges is one collect + driver minutes, not 30k
      Spark jobs.
    - ``"distributed"``: one Spark aggregation round per merge (the
      per-round winner is a 1-row collect). Bounded use: merge-rule
      auditing / small n_merges, or a vocabulary too large to collect —
      cost is O(n_merges) jobs, so cap n_merges in the hundreds here.
    - ``"auto"`` (default): local when the vocabulary fits
      ``local_vocab_max`` rows, else distributed.

    Both strategies make bit-identical decisions (same (count DESC,
    x ASC, y ASC) selection, same leftmost-non-overlapping application)
    — asserted by the strategy-parity test and the shared SQL oracle.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError(f"strategy must be auto|local|distributed: {strategy!r}")
    spark = docs.sparkSession
    words = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    w = docs.select(F.explode(words).alias("w"))
    if word_pattern is not None:
        w = w.filter(F.col("w").rlike(word_pattern))
    vocab = stage(
        w.groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            "freq",
            F.array_join(
                F.regexp_extract_all(F.col("w"), F.lit("(?s)."), 0), " "
            ).alias("syms"),
        )
    )
    if strategy == "auto":
        strategy = "local" if vocab.count() <= local_vocab_max else "distributed"
    if strategy == "local":
        rows = [(r["freq"], r["syms"]) for r in vocab.collect()]
        release(vocab)
        return spark.createDataFrame(
            _local_refine(rows, n_merges),
            "rank long, x string, y string, merged string, cnt long",
        )
    merges: list[tuple] = []
    for r in range(n_merges):
        best = (
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        bx, by, bc = best[0]["x"], best[0]["y"], best[0]["cnt"]
        merges.append((r + 1, bx, by, bx + by, bc))
        if r == n_merges - 1:
            break  # the last round's rebuilt vocabulary is never read
        # stage the merged vocabulary from the superseded frame's blocks,
        # then free them — thousands of merge rounds must not accumulate
        # a copy per round
        new_vocab = stage(
            vocab.select(
                "freq",
                merge_fold_col(F.col("syms"), F.lit(bx), F.lit(by)).alias("syms"),
            )
        )
        release(vocab)
        vocab = new_vocab
    release(vocab)
    return spark.createDataFrame(
        merges, "rank long, x string, y string, merged string, cnt long"
    )


def bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "auto",
    expr_max_merges: int = 64,
) -> DataFrame:
    """Encode each document with a trained merge table — the SERVING path
    of ``train_bpe`` (reference scope: the engine's token-count functions
    estimate BPE tokens; this materializes the real segmentation).
    Returns (id_col, tokens: array<string>, n_tokens: long).

    Tokenization matches training: lowercased whitespace words, each
    word's codepoints as the initial symbols ('(?s).', see the module
    docstring's astral-plane caveat), then every merge applied in rank
    order, leftmost non-overlapping. No word filter: merges trained on a
    ``word_pattern`` subset simply don't fire inside words where their
    pairs never occur.

    ``merges``: the ``train_bpe`` output DataFrame (collected here — a
    merge table is vocabulary-sized metadata, never corpus-sized) or an
    iterable of (x, y) pairs already in rank order.

    Strategies (bit-identical outputs, asserted by the parity test):

    - ``"expr"``: one JVM column program — per word, ``n_merges`` nested
      ``merge_fold_col`` folds. Whole-stage-codegen'd, zero Python, and
      exactly mirrorable in DuckDB SQL (the spare's oracle) — but
      expression depth grows with the merge count, so it's capped at
      ``expr_max_merges``.
    - ``"pandas"``: one Arrow-batched pandas UDF; per-batch word memo,
      then a per-merge leftmost scan (the ``_local_refine`` application
      rule). The real-tokenizer path: 30k merges is a dict lookup per
      word occurrence after the first sighting, not a 30k-deep column
      expression.
    - ``"auto"`` (default): expr when the merge table fits
      ``expr_max_merges``, else pandas.
    """
    if strategy not in ("auto", "expr", "pandas"):
        raise ValueError(f"strategy must be auto|expr|pandas: {strategy!r}")
    if isinstance(merges, DataFrame):
        pairs = [
            (r["x"], r["y"]) for r in merges.orderBy("rank").collect()
        ]
    else:
        pairs = [(x, y) for x, y in merges]
    if strategy == "auto":
        strategy = "expr" if len(pairs) <= expr_max_merges else "pandas"
    if strategy == "expr" and len(pairs) > expr_max_merges:
        raise ValueError(
            f"{len(pairs)} merges exceeds expr_max_merges={expr_max_merges}; "
            "use strategy='pandas' (or raise the cap)"
        )
    words = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    if strategy == "expr":

        def encode_word(w):
            syms = F.array_join(
                F.regexp_extract_all(w, F.lit("(?s)."), 0), " "
            )
            for x, y in pairs:
                syms = merge_fold_col(syms, F.lit(x), F.lit(y))
            return F.split(syms, " ")

        tokens = F.flatten(F.transform(words, encode_word))
    else:
        import re

        import pandas as pd
        from pyspark.sql.types import ArrayType, StringType

        from docproc_spark.operators.dedupe import TOKEN_SPLIT

        pairs_local = list(pairs)
        # NOT str.split(): Python's splits on ALL Unicode whitespace, but
        # the training tokenizer is the ASCII class — U+0085/U+2028-class
        # codepoints must stay inside words as symbols (module docstring)
        split_re = re.compile(TOKEN_SPLIT)

        def _encode_series(texts: "pd.Series") -> "pd.Series":
            memo: dict[str, list[str]] = {}

            def enc_word(w: str) -> list[str]:
                t = memo.get(w)
                if t is None:
                    syms = list(w)
                    for x, y in pairs_local:
                        new, i, n = [], 0, len(syms)
                        while i < n:
                            if (
                                i + 1 < n
                                and syms[i] == x
                                and syms[i + 1] == y
                            ):
                                new.append(x + y)
                                i += 2
                            else:
                                new.append(syms[i])
                                i += 1
                        syms = new
                    t = memo[w] = syms
                return t

            out = []
            for text in texts:
                toks: list[str] = []
                # text arrives ALREADY lowercased (JVM-side F.lower below):
                # Python str.lower() uses the interpreter's Unicode case
                # tables, which can differ from the JVM's by a Unicode
                # version — lowercasing once on the JVM keeps the two
                # strategies bit-identical by construction
                for w in split_re.split(text or ""):
                    if w:
                        toks.extend(enc_word(w))
                out.append(toks)
            return pd.Series(out)

        # wrapped via a hint-free lambda: the module uses
        # `from __future__ import annotations`, and pandas_udf's type-hint
        # inference cannot resolve the function-local `pd` from stringified
        # annotations — an argless wrap defaults to the scalar eval type
        _encode = F.pandas_udf(
            lambda s: _encode_series(s), ArrayType(StringType())
        )
        tokens = _encode(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    return docs.select(
        F.col(id_col),
        tokens.alias("tokens"),
        F.size(tokens).cast("long").alias("n_tokens"),
    )


def bpe_vocab(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    word_pattern: str | None = None,
) -> DataFrame:
    """Token-id table for a trained merge set: base symbols (the distinct
    codepoints of the training words, codepoint-sorted) get ids 0..B-1,
    merged tokens get B+rank-1. Returns (token string, token_id long).

    The distinct-codepoint reduction is distributed (explode + distinct —
    bounded by the Unicode repertoire, never corpus-sized); the id
    assignment happens on the collected set, sorted in PYTHON (codepoint
    order — identical to DuckDB's binary UTF-8 collation, and immune to
    Java's UTF-16 code-unit order on astral-plane symbols; pass
    ``word_pattern`` to pin the symbol universe when that matters, same
    caveat as training).

    Collision rule: two merges can compose the same string ((a,bc) and
    (ab,c) both yield "abc") — the SMALLEST id wins (first-wins), stated
    here once and mirrored in the SQL oracle's min(token_id) GROUP BY.
    """
    spark = docs.sparkSession
    words = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    w = docs.select(F.explode(words).alias("w"))
    if word_pattern is not None:
        w = w.filter(F.col("w").rlike(word_pattern))
    chars = sorted(
        r["c"]
        for r in w.select(
            F.explode(
                F.regexp_extract_all(F.col("w"), F.lit("(?s)."), 0)
            ).alias("c")
        )
        .distinct()
        .collect()
    )
    if isinstance(merges, DataFrame):
        mrows = [
            (r["rank"], r["merged"]) for r in merges.orderBy("rank").collect()
        ]
    else:
        mrows = [(i + 1, x + y) for i, (x, y) in enumerate(merges)]
    b = len(chars)
    best: dict[str, int] = {}
    for tok, tid in [(c, i) for i, c in enumerate(chars)] + [
        (m, b + rk - 1) for rk, m in mrows
    ]:
        if tok not in best or tid < best[tok]:
            best[tok] = tid
    return spark.createDataFrame(
        sorted(best.items(), key=lambda kv: kv[1]),
        "token string, token_id long",
    )


def bpe_encode_ids(
    docs: DataFrame,
    merges,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "auto",
    expr_max_merges: int = 64,
    vocab_word_pattern: str | None = None,
) -> DataFrame:
    """``bpe_encode`` + id lookup: (id_col, token_ids: array<long>,
    n_tokens: long, n_unk: long). A token outside the vocabulary (the
    corpus always has some when training filtered by ``word_pattern`` but
    encoding doesn't) maps to a NULL id and counts in ``n_unk``.

    The vocabulary rides as a driver-side map LITERAL inside the column
    program — zero shuffle, zero Python (the linear_classifier_score
    precedent: vocabulary-sized metadata below ~2^16 entries belongs in
    the plan, not in a join). For genuinely huge vocabularies, join the
    exploded tokens against ``bpe_vocab``'s table instead — this serving
    path targets the literal-fits case. Lookup is ``try_element_at``:
    plain ``element_at`` THROWS on a missing key under ANSI mode (the
    Spark 4 default), and unknown tokens are a contract here, not an
    error."""
    enc = bpe_encode(
        docs,
        merges,
        text_col=text_col,
        id_col=id_col,
        strategy=strategy,
        expr_max_merges=expr_max_merges,
    )
    if vocab is None:
        vocab = bpe_vocab(
            docs, merges, text_col=text_col, word_pattern=vocab_word_pattern
        )
    items = [(r["token"], r["token_id"]) for r in vocab.collect()]
    if items:
        mapping = F.create_map(
            *[lit for tok, tid in items for lit in (F.lit(tok), F.lit(tid))]
        )
    else:
        # an argless create_map types as map<void,void> and the output
        # schema silently flips to array<void> — a typed NULL map keeps
        # token_ids:array<bigint> stable (try_element_at(NULL, t) is NULL)
        mapping = F.lit(None).cast("map<string,bigint>")
    ids = F.transform(F.col("tokens"), lambda t: F.try_element_at(mapping, t))
    return enc.select(
        F.col(id_col),
        ids.alias("token_ids"),
        F.col("n_tokens"),
        F.size(F.filter(ids, lambda i: i.isNull())).cast("long").alias("n_unk"),
    )
