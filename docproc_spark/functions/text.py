"""Text-analysis functions for a training-data pipeline.

All JVM-side Column expressions (whole-stage codegen; no Python in the hot
path): token counting, quality scoring, marker-based language ID, document
fingerprinting. A richer n-gram language profiler (pandas UDF) is provided
for cases the marker heuristic can't separate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docproc_spark.materialize import release, stage
from docproc_spark.operators.dedupe import fingerprint_col, tokens_col
from docproc_spark.pipeline import context_pandas_udf

# Marker stopwords per language — deliberately tiny and fixed; the SQL
# oracle reproduces the same counts.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "et"),
    "de": ("der", "die", "das", "und", "nicht"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


# GPT-2-family pre-tokenizer shape, simplified to an engine-portable class
# form (letters / digits / other-symbol runs, each absorbing one leading
# space). Counts approximate BPE token counts for budget estimation.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def avg_token_len_col(text: Column) -> Column:
    toks = tokens_col(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, F.round(total / F.size(toks), 4)).otherwise(F.lit(0.0))


def stopword_ratio_col(text: Column) -> Column:
    toks = tokens_col(F.lower(text))
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, F.round(stops / F.size(toks), 4)).otherwise(F.lit(0.0))


def punct_ratio_col(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    return F.when(n > 0, F.round(punct / n, 4)).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Composite quality in [0,1]: length band + stopword presence − punct
    excess. A fixed formula (documented constants) so the oracle matches."""
    n_tok = token_count_col(text)
    len_band = F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
    stop = stopword_ratio_col(text)
    punct = punct_ratio_col(text)
    # coefficient 4.0 (not 5.0): every term then carries ≤4 decimal places,
    # so round(…, 4) never lands on a half — Spark rounds HALF_UP while
    # other engines (the DuckDB oracle) round doubles half-to-even.
    raw = 0.5 * len_band + 0.5 * F.least(stop * 4.0, F.lit(1.0)) - F.greatest(
        punct - F.lit(0.2), F.lit(0.0)
    )
    return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 4)


def _marker_count(toks: Column, markers: tuple[str, ...]) -> Column:
    # single-arg lambda only: F.filter treats a two-arg lambda as
    # (element, index) and would shadow a captured default with the index
    ms = list(markers)
    return F.size(F.filter(toks, lambda t: t.isin(*ms)))


def lang_marker_scores(text: Column) -> dict[str, Column]:
    toks = tokens_col(F.lower(text))
    return {lang: _marker_count(toks, markers) for lang, markers in LANG_MARKERS.items()}


def lang_id_col(text: Column) -> Column:
    """argmax over marker counts; ties and zero-evidence → 'unk'.

    Deterministic tie-break: higher count wins; equal counts → language
    earlier in (de, en, es, fr) alphabetical order loses to none — we
    require a STRICT maximum, else 'unk' (stable across engines).
    """
    scores = lang_marker_scores(text)
    langs = sorted(scores)
    expr = F.lit("unk")
    # strict-argmax: lang L wins iff its score > every other score
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] > scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when((scores[lang] > 0) & cond, F.lit(lang)).otherwise(expr)
    return expr


def doc_fingerprint_col(text: Column) -> Column:
    return fingerprint_col(text)


def rolling_hashes_from_tokens(toks: Column, window: int = 16) -> Column:
    """All ``window``-token shingle md5s, in position order. ``toks`` MUST
    be a materialized column reference: it is referenced INSIDE the
    transform lambda (slice per index) and HOF lambda bodies re-evaluate
    embedded expression subtrees once per element — an inline
    tokenization there is silently O(n²) (the same trap fixed in the
    Gopher bigram counter; see _bigrams_from_tokens)."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, window))),
    )


# ---------------------------------------------------------------------------
# Gopher/MassiveText-style repetition + quality rules (Rae et al. 2021,
# "Scaling Language Models", table A1 — public knowledge). Exactly
# computable (counts and rational ratios, rounded to 4 decimals), so a SQL
# oracle reproduces them bit-for-bit. All JVM-side Column expressions.
# ---------------------------------------------------------------------------
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MEAN_WORD_LEN_RANGE = (3.0, 10.0)
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.18


def dup_line_fraction_col(text: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line.

    Splits on \\r?\\n: splitting on bare \\n leaves a trailing \\r on every
    CRLF line and turns blank lines into identical non-empty '\\r' lines —
    a CRLF doc with zero real repetition would cross the Gopher drop
    threshold on phantom duplicates."""
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(text, F.lit("")), "\r?\n"), lambda l: F.trim(l)
        ),
        lambda l: l != "",
    )
    n = F.size(lines)
    return F.when(
        n > 0, F.round((n - F.size(F.array_distinct(lines))) / n, 4)
    ).otherwise(F.lit(0.0))


def alpha_word_fraction_col(text: Column) -> Column:
    """Fraction of words containing at least one alphabetic character."""
    toks = tokens_col(text)
    n = F.size(toks)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(n > 0, F.round(alpha / n, 4)).otherwise(F.lit(0.0))


def _bigrams_from_tokens(toks: Column) -> Column:
    """``toks`` MUST be a materialized column reference, not an inline
    tokenization expression: it is referenced INSIDE the transform lambda
    (slice per index), and HOF lambda bodies re-evaluate embedded
    expression subtrees once per element — an inline split would make
    bigram construction silently O(n²) (measured: 20k tokens = 92 s,
    quadratic curve; with the staged column it is linear)."""
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    return F.when(F.size(toks) >= 2, bigrams).otherwise(
        F.array().cast("array<string>")
    )


def gopher_quality(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc repetition/quality signals + the keep/drop verdict.

    top_bigram_frac = characters covered by the most frequent word bigram /
    total chars (the Gopher duplicate-n-gram family, n=2). Counting is
    mega-doc safe: the bigram array is sorted once (O(n log n)) and run
    lengths come from a boundary scan — each run start index is found by
    one O(1) element_at comparison, so the whole count is O(n), never the
    O(distinct × n) of per-distinct filter scans. Every intermediate
    array (_bg, _srt, _bounds, _bx) is MATERIALIZED as a column first:
    higher-order lambdas re-evaluate embedded expression subtrees once
    PER ELEMENT, so an inline array_sort/concat there would silently be
    O(n²); a column reference is a free lookup.
    """
    t = F.col(text_col)
    empty_i = F.array().cast("array<int>")
    staged = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            t.alias("_t"),
            tokens_col(F.lower(t)).alias("_lotoks"),
        )
        .withColumn("_bg", _bigrams_from_tokens(F.col("_lotoks")))
        .withColumn("_srt", F.array_sort(F.col("_bg")))
        # run-start indices (0-based): i == 0 or srt[i] != srt[i-1].
        # sequence() guards: start > stop generates a DESCENDING range,
        # so the empty case must be explicit.
        .withColumn(
            "_bounds",
            F.when(
                F.size(F.col("_srt")) > 0,
                F.filter(
                    F.sequence(F.lit(0), F.size(F.col("_srt")) - 1),
                    lambda i: (i == 0)
                    | (
                        F.element_at(F.col("_srt"), i + 1)
                        != F.element_at(F.col("_srt"), i)
                    ),
                ),
            ).otherwise(empty_i),
        )
        # bounds + [n] sentinel: run k spans [_bx[k], _bx[k+1])
        .withColumn(
            "_bx", F.concat(F.col("_bounds"), F.array(F.size(F.col("_srt"))))
        )
    )
    # coverage of the MOST FREQUENT bigram (the Gopher rule) — NOT
    # max(count × length) over all bigrams, which lets one long rare
    # bigram outweigh the actual repetition signal. Struct max compares
    # cnt first; ties resolve toward larger coverage (deterministic).
    stats = F.when(
        F.size(F.col("_bounds")) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_bounds"))),
            lambda k: F.struct(
                (
                    F.element_at(F.col("_bx"), (k + 1).cast("int"))
                    - F.element_at(F.col("_bx"), k.cast("int"))
                ).alias("cnt"),
                F.length(
                    F.element_at(
                        F.col("_srt"),
                        (F.element_at(F.col("_bx"), k.cast("int")) + 1).cast("int"),
                    )
                ).alias("blen"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<cnt:int,blen:int>>"))
    top = F.array_max(
        F.transform(
            stats,
            lambda s: F.struct(
                s["cnt"].alias("cnt"), (s["cnt"] * s["blen"]).alias("chars")
            ),
        )
    )
    covered = F.coalesce(top["chars"], F.lit(0))
    n_chars = F.length(F.coalesce(F.col("_t"), F.lit("")))
    top_bigram = F.when(n_chars > 0, F.round(covered / n_chars, 4)).otherwise(
        F.lit(0.0)
    )
    out = staged.select(
        "doc_id",
        dup_line_fraction_col(F.col("_t")).alias("dup_line_frac"),
        avg_token_len_col(F.col("_t")).alias("mean_word_len"),
        alpha_word_fraction_col(F.col("_t")).alias("alpha_word_frac"),
        top_bigram.alias("top_bigram_frac"),
    )
    lo, hi = GOPHER_MEAN_WORD_LEN_RANGE
    keep = (
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & F.col("mean_word_len").between(lo, hi)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("top_bigram_frac") <= GOPHER_MAX_TOP_BIGRAM_FRAC)
    )
    return out.withColumn("keep", keep)


# ---------------------------------------------------------------------------
# n-gram language profiler (pandas UDF) — the non-SQL path for real corpora
# ---------------------------------------------------------------------------
_NGRAM_PROFILES = {
    # top character trigrams per language (public knowledge frequency lists)
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ed "),
    "es": (" de", "de ", " la", "la ", "os ", " el", "el ", "que", " qu", "as "),
    "fr": (" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "ion", "que"),
    "de": ("en ", "er ", " de", "der", "ie ", " di", "die", "sch", "ein", "ch "),
}


@context_pandas_udf(T.StringType())
def lang_id_ngram_udf(text: pd.Series) -> pd.Series:
    """Character-trigram profile vote; vectorized via pandas str.count."""
    s = " " + text.fillna("").str.lower() + " "
    best_lang = pd.Series("unk", index=s.index, dtype=object)
    best_score = pd.Series(0, index=s.index, dtype="int64")
    for lang in sorted(_NGRAM_PROFILES):
        score = pd.Series(0, index=s.index, dtype="int64")
        for g in _NGRAM_PROFILES[lang]:
            score = score + s.str.count(g.replace(" ", r"\ "), flags=0)
        better = score > best_score
        best_lang[better] = lang
        best_score[better] = score[better]
    return best_lang


# ---------------------------------------------------------------------------
# PII redaction (curation-pipeline stage: Dolma/RedPajama-style masking)
# ---------------------------------------------------------------------------
# Patterns are RE2-safe (no lookarounds, no backrefs) AND deliberately
# boundary-free: \b is Unicode-aware in Java regex but ASCII-only in RE2,
# so a \b-anchored pattern silently diverges next to non-ASCII word chars
# ('café192.168.1.1' masks in DuckDB, leaks in Spark — verified repro).
# Without boundaries both engines match byte-identically; the cost is
# over-matching inside long digit runs, which for PII masking is the safe
# direction — a false [PHONE] on a numeric table is cheaper for training
# data than a leaked real number.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"(?:\d{1,3}\.){3}\d{1,3}"
PII_PHONE = r"\+?\d{1,3}[-. (]{0,2}\d{3}[-. )]{0,2}\d{3}[-. ]?\d{4}"


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask emails → [EMAIL], IPv4s → [IP], phone numbers → [PHONE].

    Sequential: each pattern counts + replaces on the PREVIOUS stage's
    output (an email's digits can never double-count as a phone), staged
    as withColumns so each regex runs once per row (pure Column exprs,
    whole-stage codegen — no Python). Returns (doc_id, clean_text,
    n_emails, n_ips, n_phones).
    """
    t0 = F.coalesce(F.col(text_col), F.lit(""))
    return (
        docs.select(F.col(id_col).alias("doc_id"), t0.alias("_t0"))
        .withColumn("n_emails", F.regexp_count(F.col("_t0"), F.lit(PII_EMAIL)))
        .withColumn("_t1", F.regexp_replace(F.col("_t0"), PII_EMAIL, "[EMAIL]"))
        .withColumn("n_ips", F.regexp_count(F.col("_t1"), F.lit(PII_IPV4)))
        .withColumn("_t2", F.regexp_replace(F.col("_t1"), PII_IPV4, "[IP]"))
        .withColumn("n_phones", F.regexp_count(F.col("_t2"), F.lit(PII_PHONE)))
        .select(
            "doc_id",
            F.regexp_replace(F.col("_t2"), PII_PHONE, "[PHONE]").alias("clean_text"),
            F.col("n_emails").cast("long").alias("n_emails"),
            F.col("n_ips").cast("long").alias("n_ips"),
            F.col("n_phones").cast("long").alias("n_phones"),
        )
    )


def top_keywords(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document keyword extraction by a tf-idf-style score.

    Score = tf * (N - df): tf = the token's count in the document (over
    lowercased whitespace tokens), df = number of documents containing
    the token, N = corpus size. The integer product is a log-free
    surrogate for tf*ln(N/df) — same monotonicity in both factors, but
    bit-reproducible across engines (ln() is not guaranteed identically
    rounded in the JVM and the DuckDB oracle's libm, and a 1-ulp
    difference flips ranks). Ties break by (df asc, token asc), so the
    top-k set is fully deterministic. Documents with no tokens emit no
    rows; a token present in every document scores 0 but can still rank
    when a short doc has nothing better.

    Returns (doc_id, token, tf, df, score, rank), rank in [1, k].

    Plan: one scan -> explode -> groupBy(doc, token) with map-side
    partial -> df counts (groupBy token, small result, AQE broadcasts
    the join back) -> per-document window over ~distinct-token rows.
    The N scalar is a 1-row crossJoin. No driver-side collection.
    """
    from pyspark.sql import Window

    ltoks = tokens_col(F.lower(F.col(text_col)))
    pairs = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(ltoks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = pairs.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("_n"))
    scored = (
        pairs.join(dfreq, "token")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf") * (F.col("_n") - F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


def hash_embed(
    docs: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing text embedding (the hashing trick, Weinberger et
    al. 2009): every lowercased whitespace token hashes to a (bucket,
    sign) pair via md5; the document vector is the signed token count
    per bucket, L2-normalized. Vocabulary-free and deterministic, so it
    is THE self-contained embedding source for the ANN/near-dup family
    (cosine_topk, lsh_topk, quantize_embeddings) when no model-served
    embedding column exists — and, like the LSH hyperplanes, md5-derived
    on purpose: bucket = first-8-hex of md5(token) mod dims, sign =
    parity of hex digit 9, both bit-identical in Spark and the DuckDB
    oracle (sqrt and IEEE division are correctly rounded everywhere, so
    the normalized doubles match bit-for-bit too).

    Returns (doc_id, embedding: array<double>): zero-token documents get
    the all-zeros vector (norm 0 — never NaN).

    Plan: shuffle-free. ONE fold over the (bucket, sign) array updates a
    dims-length accumulator (O(tokens x dims) adds per document, the
    right trade below ~10^3 dims — the alternative, explode +
    groupBy(doc, bucket) + re-assemble, costs two shuffles of the whole
    corpus). The single-fold shape is chosen over per-dim folds for HOF
    safety, not speed: a collection argument of one aggregate() is
    evaluated once per row even after CollapseProject inlines the
    single-use _tk/_bs aliases into it, whereas a derived array
    referenced inside a per-dim lambda BODY re-evaluates per dim under
    the HOF re-evaluation trap (interpreted lambda bodies get no
    subexpression reuse).
    """
    if dims <= 0:
        raise ValueError("dims must be positive")
    ltoks = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    staged = (
        docs.select(F.col(id_col).alias("doc_id"), ltoks.alias("_tk"))
        .withColumn(
            "_bs",
            F.transform(
                F.col("_tk"),
                lambda t: F.struct(
                    (
                        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                        % dims
                    ).alias("bucket"),
                    (
                        1
                        - 2
                        * (
                            F.conv(F.substring(F.md5(t), 9, 1), 16, 10).cast(
                                "long"
                            )
                            % 2
                        )
                    ).alias("sign"),
                ),
            ),
        )
        .withColumn(
            "_raw",
            F.transform(
                F.aggregate(
                    F.col("_bs"),
                    F.array_repeat(F.lit(0).cast("long"), dims),
                    lambda acc, b: F.transform(
                        acc,
                        lambda v, i: v
                        + F.when(
                            b["bucket"] == i.cast("long"), b["sign"]
                        ).otherwise(F.lit(0).cast("long")),
                    ),
                ),
                lambda x: x.cast("double"),
            ),
        )
        .withColumn(
            "_norm",
            F.sqrt(
                F.aggregate(
                    F.col("_raw"), F.lit(0.0), lambda a, x: a + x * x
                )
            ),
        )
    )
    return staged.select(
        "doc_id",
        F.when(
            F.col("_norm") > 0,
            F.transform(F.col("_raw"), lambda x: x / F.col("_norm")),
        )
        .otherwise(F.col("_raw"))
        .alias("embedding"),
    )


def lm_surprisal_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    rank_buckets: int = 32,
) -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020): score every
    document by a bigram language model trained on the corpus itself,
    then split the corpus into ``n_buckets`` quality tiles (CCNet's
    head/middle/tail at the default 3) by mean per-bigram surprisal.

    The LM is add-one-smoothed: p(w2|w1) = (c(w1 w2)+1) / (c(w1)+V).
    Instead of -log2(p) — libm log2 is not identically rounded across
    engines, and small-count ratios land EXACTLY on powers of two where
    a 1-ulp error flips floor() — the per-bigram surprisal is the
    INTEGER bit count floor(log2(1/p)) computed with no floats at all:
    length(bin(den div num)) - 1, exact because
    floor(log2(d/n)) == floor(log2(d div n)) for d >= n >= 1 (both sides
    bracket the same power of two). Every downstream value (bit sums,
    mean millibits, tile assignment) stays in integer arithmetic, so the
    DuckDB oracle matches bit-for-bit with NO rounding contract.

    Returns (doc_id, lm_bits, n_bigrams, mean_millibits, bucket):
    lm_bits = total surprisal bits; mean_millibits = 1000*bits per
    bigram (docs with <2 tokens get sentinel 10^9 → the tail tile);
    bucket = NTILE(n_buckets) over (mean_millibits, doc_id) asc — tile 1
    is the most predictable (head) slice.

    Plan, and why it scales: two count aggregations (unigram, bigram)
    with map-side combine, one metadata-sized vocab aggregate broadcast
    back, one join of the exploded corpus against each count table
    (shuffle on token keys — the canonical LM-count join; AQE handles
    token skew), and a per-doc re-aggregation. The global tile split
    uses operators/rank.global_row_number — range-bucketed exact
    ranking, NOT a single-partition window — plus the closed-form
    ntile_expr, so no stage ever funnels the corpus through one task.
    The token frame is staged (four consumers, and fan-out gets no
    common-subexpression reuse) and released once the per-doc scores
    are.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    from docproc_spark.operators.rank import global_row_number, ntile_expr

    staged = stage(
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias(
                "_lt"
            ),
        ).withColumn("_bg", _bigrams_from_tokens(F.col("_lt")))
    )
    uni = (
        staged.select(F.explode("_lt").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    voc = uni.agg(F.count("*").cast("long").alias("v"))
    bigc = (
        staged.select(F.explode("_bg").alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("c2"))
    )
    db = staged.select("doc_id", F.explode("_bg").alias("bg"))
    joined = (
        db.join(bigc, "bg")
        .withColumn("_w1", F.substring_index(F.col("bg"), " ", 1))
        .join(uni.withColumnRenamed("w", "_w1"), "_w1")
        .crossJoin(voc)
    )
    bits = joined.select(
        "doc_id",
        (F.length(F.bin(F.expr("(c1 + v) div (c2 + 1)"))) - 1)
        .cast("long")
        .alias("_bits"),
    )
    per = bits.groupBy("doc_id").agg(
        F.sum("_bits").alias("lm_bits"),
        F.count("*").alias("n_bigrams"),
    )
    # three consumers downstream (boundary probe, bucket sizes, the ranked
    # output) and fan-out gets no CSE — freeze the join pipeline once
    base = stage(
        staged.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lm_bits"), F.lit(0)).cast("long").alias("lm_bits"),
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
        )
        .withColumn(
            "mean_millibits",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("(1000 * lm_bits) div n_bigrams"),
            )
            .otherwise(F.lit(10**9))
            .cast("long"),
        )
    )
    release(staged)
    ranked, n_total = global_row_number(
        base, "mean_millibits", "doc_id", out_col="_grank", rank_buckets=rank_buckets
    )
    return ranked.select(
        "doc_id",
        "lm_bits",
        "n_bigrams",
        "mean_millibits",
        ntile_expr("_grank", n_total, n_buckets).alias("bucket"),
    )


def build_vocab(
    docs: DataFrame,
    k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` corpus vocabulary with counts and cumulative coverage —
    the table a tokenizer-training / stopword-discovery step starts from.

    Tokens are lowercased whitespace tokens (the pipeline-wide tokenizer,
    ``tokens_col``). Rank order is (tf desc, token asc) — fully
    deterministic; ties cannot depend on partitioning. All metrics are
    integers (tf, df, cum_tf, total_tf), so the DuckDB oracle needs no
    rounding contract; coverage = cum_tf / total_tf is left to the
    consumer.

    Returns (rank, token, tf, df, cum_tf, total_tf).

    Scale shape: one explode -> groupBy(token) shuffle with map-side
    partial aggregation; the global top-k is Spark's distributed
    TakeOrdered (per-partition heaps, never a single-partition window
    over the full vocabulary). Only the k survivors see a window (one
    tiny partition) for rank + running sum. total_tf is aggregated from
    the same grouped frame and attached as a 1-row crossJoin — a second
    pass over grouped token counts, NOT a rescan of the corpus.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    ltoks = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    # two consumers (top-k and the total_tf scalar) and fan-out gets no
    # CSE — freeze the exploded/grouped frame once
    grouped = stage(
        docs.select(F.col(id_col).alias("doc_id"), F.explode(ltoks).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        ),
        eager=False,
    )
    top = grouped.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(k)
    total = grouped.agg(F.sum("tf").cast("long").alias("total_tf"))
    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    return (
        top.crossJoin(total)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_tf",
            F.sum("tf")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .select("rank", "token", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "cum_tf", "total_tf")
    )


def classifier_weight(seed: int, bucket: int) -> float:
    """The deterministic 'pretrained' weight for one hashed feature
    bucket: uniform in [-1, 1) from md5(f"{seed}:{bucket}") — the shared
    cross-engine primitive (similarity.md5_uniform; same formula as the
    LSH hyperplanes, so the oracle contract lives in ONE place)."""
    from docproc_spark.operators.similarity import md5_uniform

    return md5_uniform(f"{seed}:{bucket}")


def linear_classifier_score(
    docs: DataFrame,
    n_features: int = 4096,
    seed: int = 7,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style hashed linear text classifier scoring — the
    model-based quality-filter shape (CCNet / GPT-3 appendix A / LLaMA
    use a linear classifier over hashed bag-of-words features to keep or
    drop documents). Each lowercased token hashes to one of
    ``n_features`` buckets (md5, the hashing trick); the document score
    is the MEAN of the buckets' weights over the token sequence; ``keep``
    = score > threshold.

    Weights are md5-derived from (seed, bucket) — this ships the
    *serving* path with a deterministic stand-in for trained parameters
    (swap the ``classifier_weight`` literals for a trained weight array
    to serve a real model). Everything is IEEE-exact across engines: the
    weight doubles are integer-derived, the sum is a left fold in token
    order (F.aggregate ≡ DuckDB list_reduce bit-for-bit), and mean =
    sum/n is one correctly-rounded division.

    Returns (doc_id, n_tokens, score, keep); empty documents score 0.0
    with keep = false (never NULL/NaN).

    Scale shape: shuffle-free — a single projection per document (token
    array -> bucket -> weight lookup -> fold). No explode, no groupBy,
    no join; the classifier is a map-side filter at any scale. The
    weight table is materialized driver-side as a LITERAL array staged
    once per row (the similarity._plane_weights pattern: one md5 per
    token for the bucket, zero hash work for the weight) up to 2^16
    features; beyond that the weight is md5-derived inline per token
    (two md5s/token) rather than shipping a multi-MB literal in the
    plan.
    """
    if n_features <= 0:
        raise ValueError("n_features must be positive")

    from docproc_spark.operators.dedupe import _hash_bucket_col
    from docproc_spark.operators.similarity import md5_uniform_col

    def _weight_inline(bucket: Column) -> Column:
        # shared Column twin of md5_uniform — one formula, three engines
        return md5_uniform_col(
            F.concat(F.lit(f"{seed}:"), bucket.cast("string"))
        )

    def _bucket(t: Column) -> Column:
        # the index-family bucket helper: same md5 formula everywhere
        return _hash_bucket_col(t, n_features)

    ltoks = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    staged = docs.select(F.col(id_col).alias("doc_id"), ltoks.alias("_tk"))
    if n_features <= 1 << 16:
        # literal weight table, built once per row in the projection;
        # the lambda only touches its argument and the staged attribute
        staged = staged.withColumn(
            "_warr",
            F.array(
                *[F.lit(classifier_weight(seed, b)) for b in range(n_features)]
            ),
        ).withColumn(
            "_wt",
            F.transform(
                F.col("_tk"),
                lambda t: F.element_at(
                    F.col("_warr"), (_bucket(t) + 1).cast("int")
                ),
            ),
        )
    else:
        staged = staged.withColumn(
            "_wt", F.transform(F.col("_tk"), lambda t: _weight_inline(_bucket(t)))
        )
    staged = staged.withColumn("n_tokens", F.size("_tk").cast("long")).withColumn(
        "_sum", F.aggregate(F.col("_wt"), F.lit(0.0), lambda a, x: a + x)
    )
    score = F.when(
        F.col("n_tokens") > 0, F.col("_sum") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        ((F.col("n_tokens") > 0) & (score > F.lit(float(threshold)))).alias("keep"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    ngram: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``ngram``-token
    shingle, slide a ``window`` over the hash sequence, keep the minimum
    hash of each window (ties -> the RIGHTMOST minimal position, the
    paper's robust-winnowing rule), and deduplicate selections. The
    guarantee: any shared run of at least ngram + window - 1 tokens
    between two documents yields at least one shared fingerprint —
    bounded fingerprint density with detection guarantees, unlike
    fixed-stride sampling.

    Hashes are md5 hex strings compared lexicographically (engine-
    identical). Documents with fewer than ``ngram`` tokens emit no rows.
    If a document has fewer than ``window`` shingles, one window covers
    the whole (short) hash sequence.

    Returns one row per selected fingerprint: (doc_id, pos, fp) with pos
    the 0-based SHINGLE position; (doc_id, pos) is unique.

    Scale shape: shuffle-free per-document array work — tokens and
    shingle hashes are staged as columns (referenced inside HOF lambdas,
    so inlining them would re-evaluate per element: the O(n^2) trap),
    selection is one transform over window starts (O(n_windows x window)
    string compares), then array_distinct + explode. No groupBy, no
    join.
    """
    if ngram <= 0 or window <= 0:
        raise ValueError("ngram and window must be positive")
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    staged = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_tk"))
        .filter(F.size("_tk") >= ngram)
        .withColumn("_h", rolling_hashes_from_tokens(F.col("_tk"), ngram))
    )
    # stage the window arrays first (one O(window) slice per start); the
    # selection lambda then only touches its own argument — re-evaluating
    # array_min(w) twice costs O(window) on a materialized element, not a
    # re-slice of the staged hash column
    staged = staged.withColumn(
        "_win",
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_h") - window, F.lit(0))),
            lambda i: F.slice(F.col("_h"), i + 1, window),
        ),
    )
    # two-arg transform lambda receives (element, index): index == the
    # 0-based window start. Rightmost-minimum rule: first occurrence of
    # the min in the REVERSED window (1-based p) sits at offset len - p.
    sel = F.transform(
        F.col("_win"),
        lambda w, i: F.struct(
            (
                i.cast("long")
                + F.size(w)
                - F.array_position(F.reverse(w), F.array_min(w))
            ).cast("long").alias("pos"),
            F.array_min(w).alias("fp"),
        ),
    )
    return (
        staged.withColumn("_sel", F.array_distinct(sel))
        .select("doc_id", F.explode("_sel").alias("s"))
        .select(
            "doc_id",
            F.col("s.pos").alias("pos"),
            F.col("s.fp").alias("fp"),
        )
    )


def nb_classify(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-TRAINED multinomial Naive Bayes text classification — the
    companion to ``linear_classifier_score`` (which ships the serving
    path with stand-in weights): train per-class token statistics on the
    labeled rows, then classify EVERY document, in one job. The CCNet /
    fastText curation shape: fit a cheap classifier on labels you have
    (language, source, quality tier) and use its predictions to route or
    filter the rest.

    Add-one smoothing, and — the lm_surprisal_buckets discipline — NO
    floats anywhere: the per-token cost of class c is the integer bit
    count floor(log2((T_c + V) / (cnt_{t,c} + 1))) computed as
    length(bin(num div den)) - 1 (exact: floor(log2(d/n)) ==
    floor(log2(d div n)) for d >= n >= 1; T_c + V >= cnt + 1 whenever the
    training vocabulary is non-empty, since cnt <= T_c and V >= 1 — in
    the degenerate V = 0 case, every labeled row token-less, the cost
    expression evaluates to length(bin(0)) - 1 = 0 in BOTH engines, so
    every class ties on token bits and the prior decides), plus a
    class-prior cost
    floor(log2(N / N_c)). Prediction = argmin (total_bits, label ASC) —
    fully ordered, partition-independent, DuckDB-oracle-able
    bit-for-bit with no rounding contract.

    Returns (doc_id, pred_label, score_bits). Rows with a NULL label are
    EXCLUDED from training but still classified; a document with no
    tokens scores prior-only, so it gets the argmin-prior class.

    Scale shape: two count aggregations (class-token, per-class
    metadata) with map-side combine; the class-metadata table (labels ×
    (T_c, N_c, prior)) is broadcast — the operator is for LOW-cardinality
    labels (languages, sources, tiers), so the per-doc candidate fan-out
    is ×k, never ×corpus; the doc-term -> class-count join shuffles on
    the token key (the canonical LM-count join, AQE handles token skew);
    one per-doc re-aggregation + min_by. The token frame is staged:
    three consumers, and fan-out gets no common-subexpression reuse.
    """
    for col in ("_nb_lt", "_nb_label"):
        if col in docs.columns:
            raise ValueError(f"docs already has a {col!r} column")
    ltoks = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    staged = stage(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).alias("_nb_label"),
            ltoks.alias("_nb_lt"),
        )
    )
    train = staged.filter(F.col("_nb_label").isNotNull())
    # class-token counts, staged: this is the ONLY corpus-scale shuffle of
    # the job (explode + groupBy), and it feeds the vocabulary count, the
    # class totals AND the scoring join; unstaged, fan-out (no
    # common-subexpression reuse) re-runs the token explode per consumer
    ctc = stage(
        train.select("_nb_label", F.explode("_nb_lt").alias("w"))
        .groupBy("_nb_label", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # class metadata is k rows — collect it ONCE and re-enter the plan as
    # a literal frame (three consumers below: the scoring broadcast, the
    # prior broadcast, and the best-prior scalar; as live plans each would
    # re-run its whole upstream)
    v = ctc.select("w").distinct().count()
    t_by = {
        r["_nb_label"]: r["t"]
        for r in ctc.groupBy("_nb_label")
        .agg(F.sum("c").cast("long").alias("t"))
        .collect()
    }
    n_by = {
        r["_nb_label"]: r["n"]
        for r in train.groupBy("_nb_label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_total = sum(n_by.values())
    if n_total == 0:
        raise ValueError("no labeled rows to train on")
    meta_rows = [
        # a class whose docs have zero tokens still exists: t defaults 0
        (
            lab,
            int(t_by.get(lab, 0)),
            int(v),
            (n_total // n_c).bit_length() - 1,
        )
        for lab, n_c in n_by.items()
    ]
    lab_type = staged.schema["_nb_label"].dataType
    meta = docs.sparkSession.createDataFrame(
        meta_rows,
        T.StructType(
            [
                T.StructField("_nb_label", lab_type),
                T.StructField("t", T.LongType()),
                T.StructField("v", T.LongType()),
                T.StructField("pbits", T.LongType()),
            ]
        ),
    )
    # per-document distinct-token occurrence counts
    dt = (
        staged.select("doc_id", F.explode("_nb_lt").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("occ"))
    )
    scored = (
        dt.crossJoin(F.broadcast(meta.select("_nb_label", "t", "v")))
        .join(ctc, ["_nb_label", "w"], "left")
        .select(
            "doc_id",
            "_nb_label",
            (
                F.col("occ")
                * (
                    F.length(
                        F.bin(
                            F.expr("(t + v) div (coalesce(c, CAST(0 AS LONG)) + 1)")
                        )
                    )
                    - 1
                )
            ).alias("_bits"),
        )
        .groupBy("doc_id", "_nb_label")
        .agg(F.sum("_bits").cast("long").alias("_tok_bits"))
        .join(F.broadcast(meta.select("_nb_label", "pbits")), "_nb_label")
        .select(
            "doc_id",
            "_nb_label",
            (F.col("_tok_bits") + F.col("pbits")).alias("score_bits"),
        )
    )
    pred = scored.groupBy("doc_id").agg(
        F.min_by(
            "_nb_label", F.struct(F.col("score_bits"), F.col("_nb_label"))
        ).alias("pred_label"),
        F.min("score_bits").cast("long").alias("score_bits"),
    )
    # token-less documents score prior-only: the argmin-(pbits, label)
    # class — already on the driver, no job
    bp_label, _, _, bp_bits = min(
        meta_rows, key=lambda r: (r[3], r[0])
    )
    return (
        staged.select("doc_id")
        .join(pred, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pred_label", F.lit(bp_label)).alias("pred_label"),
            F.coalesce("score_bits", F.lit(int(bp_bits)))
            .cast("long")
            .alias("score_bits"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by how much more likely its hashed n-gram features are under
    a TARGET distribution than under the raw distribution — the published
    method for selecting pretraining data that matches a high-quality
    target domain. Features are the document's lowercased unigrams AND
    bigrams, each md5-hashed into ``n_buckets`` (the paper's hashing
    trick; the shared index-family bucket formula).

    The raw distribution is fit on ``docs`` itself (the corpus being
    filtered — the paper's setup); the target distribution on ``target``.
    Both are add-one smoothed over the bucket space, and — the
    lm_surprisal no-floats discipline — the per-feature log-ratio is the
    integer surrogate bits_raw(b) - bits_target(b) with bits_x(b) =
    floor(log2((T_x + n_buckets) / (c_x(b) + 1))), each computed exactly
    as length(bin(num div den)) - 1. Positive total = more target-like.

    Returns (doc_id, dsir_bits, n_feats); featureless documents score 0.
    Select by dsir_bits DESC (deterministic top-k; the paper adds Gumbel
    noise for soft sampling — compose with hash_sample for that).

    Scale shape: one staged tokenization (the bigram HOF must reference
    a materialized column, and the frame feeds both the raw counts and
    the per-doc counts), two bucket-count
    aggregations with map-side combine, a bucket-level score table of
    exactly ``n_buckets`` rows broadcast into the per-doc join, one
    re-aggregation. Nothing is ever corpus × corpus.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    from docproc_spark.operators.dedupe import _hash_bucket_col

    def staged_feats(frame: DataFrame, with_id: bool) -> DataFrame:
        ltoks = tokens_col(
            F.lower(F.coalesce(F.col(text_col), F.lit("")))
        )
        cols = [F.col(id_col).alias("doc_id")] if with_id else []
        st = frame.select(*cols, ltoks.alias("_dt")).withColumn(
            "_df",
            F.concat(
                F.col("_dt"), _bigrams_from_tokens(F.col("_dt"))
            ),
        )
        out = st.select(
            *(["doc_id"] if with_id else []),
            F.transform(
                F.col("_df"), lambda t: _hash_bucket_col(t, n_buckets)
            ).alias("_fb"),
        )
        return stage(out)

    raw = staged_feats(docs, with_id=True)
    tgt = staged_feats(target, with_id=False)
    # the two bucket-count aggregations are the heavy shuffles of the job
    # and each feeds two consumers (its total AND the score table) —
    # staged so the feature explode runs once per corpus, not twice
    # (fan-out gets no common-subexpression reuse); post-agg they are
    # <= n_buckets rows, so the stage itself is metadata-sized
    raw_c = stage(
        raw.select(F.explode("_fb").alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("cr"))
    )
    tgt_c = stage(
        tgt.select(F.explode("_fb").alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    release(tgt)
    # the totals are two scalars over the staged counts — collect
    # them and inline as literals rather than crossJoining live plans
    tr = int(raw_c.agg(F.sum("cr")).collect()[0][0] or 0)
    tt = int(tgt_c.agg(F.sum("ct")).collect()[0][0] or 0)
    # bucket score table: <= n_buckets rows (buckets unseen ANYWHERE can't
    # appear in a document, so raw-side buckets are the full support)
    bits = raw_c.join(tgt_c, "b", "left").select(
        "b",
        (
            (
                F.length(
                    F.bin(F.expr(f"({tr} + {n_buckets}) div (cr + 1)"))
                )
                - 1
            )
            - (
                F.length(
                    F.bin(
                        F.expr(
                            f"({tt} + {n_buckets}) "
                            "div (coalesce(ct, CAST(0 AS LONG)) + 1)"
                        )
                    )
                )
                - 1
            )
        )
        .cast("long")
        .alias("dbits"),
    )
    per = (
        raw.select("doc_id", F.explode("_fb").alias("b"))
        .join(F.broadcast(bits), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("dbits").cast("long").alias("dsir_bits"),
            F.count("*").cast("long").alias("n_feats"),
        )
    )
    return (
        raw.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dsir_bits", F.lit(0)).cast("long").alias("dsir_bits"),
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        )
    )


def blocklist_hits_col(ltoks: Column, term_list) -> Column:
    """Blocklisted tokens of a lowercased-token array, as a composable
    Column. ``term_list`` must already be lowercased (plan literal)."""
    blk = F.array(*[F.lit(t) for t in term_list])
    return F.filter(ltoks, lambda t: F.array_contains(blk, t))


def blocklist_filter(
    docs: DataFrame,
    terms,
    max_hits: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style bad-word screening (Raffel et al. 2020 dropped any page
    containing a blocklisted word; toxicity/word filters are a standard
    curation stage). Counts case-insensitive whole-token blocklist hits
    per document and keeps documents with at most ``max_hits`` (default
    0 — the C4 rule).

    Returns (id_col, n_hits, n_distinct_hits, keep). Matching is at the
    whitespace-token level against lowercased terms — substrings do NOT
    match ("class" never trips on "ass"), the same over-blocking
    trade-off C4 made by matching words.

    Scale shape: the blocklist rides as a driver-side literal array in
    one map-side projection — zero shuffle, zero Python, a pure filter at
    any corpus size (the linear_classifier_score literal-metadata
    precedent). Blocklists are term-list-sized by contract (hundreds of
    entries); for a list too large for a plan literal, broadcast-join the
    exploded tokens instead."""
    term_list = sorted({str(t).lower() for t in terms})
    if not term_list:
        raise ValueError("terms must be non-empty")
    if max_hits < 0:
        raise ValueError("max_hits must be >= 0")
    ltoks = tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    hits = blocklist_hits_col(ltoks, term_list)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(hits).cast("long").alias("n_hits"),
        F.size(F.array_distinct(hits)).cast("long").alias("n_distinct_hits"),
        (F.size(hits) <= max_hits).alias("keep"),
    )


# Boilerplate phrases whose lines C4 removed (Raffel et al. 2020 §2.2 and
# the released TFDS c4_utils: cookie/policy notices are dropped per LINE,
# while "lorem ipsum" and "{" disqualify the whole PAGE).
C4_POLICY_PHRASES = (
    "cookie policy",
    "privacy policy",
    "terms of use",
    "use of cookies",
    "uses cookies",
)


def c4_line_keep_col(ln: Column, min_words: int = 3) -> Column:
    """The C4 §2.2 per-line keep rule as a composable Column: ≥min_words
    whitespace tokens, ends in terminal punctuation after right-trimming
    spaces, no "javascript", no policy/cookie phrase."""
    low = F.lower(ln)
    ok = F.size(tokens_col(ln)) >= min_words
    ok = ok & F.rtrim(ln).rlike('[.!?"]$')
    ok = ok & ~low.contains("javascript")
    for p in C4_POLICY_PHRASES:
        ok = ok & ~low.contains(p)
    return ok


def c4_clean_lines(
    docs: DataFrame,
    min_words: int = 3,
    min_sentences: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style line-level page cleaning (Raffel et al. 2020 §2.2) — the
    line-filter companion to blocklist_filter's page-level word screen.

    Line rules (a line is kept iff ALL hold):
      - at least ``min_words`` whitespace tokens;
      - ends in terminal punctuation after right-trimming spaces
        (``. ! ?`` or a closing double quote — the paper's rule);
      - does not contain "javascript" (case-insensitive substring, as in
        the released c4_utils);
      - does not contain a policy/cookie phrase (C4_POLICY_PHRASES).

    Page rules (keep iff ALL hold):
      - no "lorem ipsum" (case-insensitive) anywhere on the page;
      - no "{" anywhere (the curly-bracket rule aimed at leaked code);
      - at least ``min_sentences`` sentences survive cleaning. C4 counted
        sentences with a language tokenizer; this counts terminal-punct
        characters in the cleaned text — a deterministic, engine-portable
        approximation (documented deviation).

    Returns (doc_id, clean_text, n_lines, n_lines_kept, n_sentences, keep);
    clean_text is the kept lines rejoined with NEWLINE ('' when none
    survive). Dropped pages still report their cleaned text so callers can
    audit the verdict.

    Scale shape: one map-side projection — split/filter/rejoin are all
    JVM array expressions over plan-literal phrase lists; zero shuffle,
    zero Python, linear in page bytes at any corpus size."""
    if min_words < 0:
        raise ValueError("min_words must be >= 0")
    if min_sentences < 0:
        raise ValueError("min_sentences must be >= 0")
    t = F.coalesce(F.col(text_col), F.lit(""))

    def _line_ok(ln: Column) -> Column:
        return c4_line_keep_col(ln, min_words)
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        t.alias("_t"),
        F.split(t, "\n").alias("_lines"),
    ).withColumn("_kept", F.filter(F.col("_lines"), _line_ok))
    clean = F.array_join(F.col("_kept"), "\n")
    n_sentences = (
        F.length(clean) - F.length(F.regexp_replace(clean, r"[.!?]", ""))
    ).cast("long")
    out = staged.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(F.col("_lines")).cast("long").alias("n_lines"),
        F.size(F.col("_kept")).cast("long").alias("n_lines_kept"),
        n_sentences.alias("n_sentences"),
        (
            ~F.lower(F.col("_t")).contains("lorem ipsum")
            & ~F.col("_t").contains("{")
            & (n_sentences >= min_sentences)
        ).alias("keep"),
    )
    return out


def lexical_diversity(
    docs: DataFrame,
    min_ttr: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical-diversity quality signals — the unique-words family of
    RedPajama-v2 / Dolma quality annotations (``frac_unique_words`` and
    its bigram analogue): hyper-repetitive pages (SEO keyword stuffing,
    template spam, boilerplate loops) score a low type-token ratio long
    before an LM ever sees them.

    Per doc (tokens = lowercased whitespace tokens, same shape as the
    dedupe/Gopher operators):
      - ``n_tokens`` / ``n_types`` and ``type_token_ratio`` = types/tokens
        (NULL on empty docs — no tokens means no evidence, matching SQL
        x/0 semantics rather than faking 0.0);
      - ``n_bigrams`` / ``n_bigram_types`` / ``bigram_ttr`` — the 2-gram
        repeat rate catches loops that reuse a small vocabulary in varied
        order (high unigram TTR, low bigram TTR);
      - ``keep`` = has tokens AND type_token_ratio >= ``min_ttr``.

    All counts are integers and each ratio is ONE IEEE division of two
    integers — bit-exact across engines by construction (no transcendental
    functions, no float accumulation order).

    Scale shape: one map-side projection, zero shuffle, zero Python; the
    bigram array is built from a staged token column (linear, not the
    O(n²) inline-HOF trap — see _bigrams_from_tokens)."""
    if not 0.0 <= min_ttr <= 1.0:
        raise ValueError("min_ttr must be in [0, 1]")
    t = F.coalesce(F.col(text_col), F.lit(""))
    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.lower(t)).alias("_toks")
    ).withColumn("_bg", _bigrams_from_tokens(F.col("_toks")))
    n_tokens = F.size(F.col("_toks")).cast("long")
    n_types = F.size(F.array_distinct(F.col("_toks"))).cast("long")
    n_bigrams = F.size(F.col("_bg")).cast("long")
    n_bigram_types = F.size(F.array_distinct(F.col("_bg"))).cast("long")
    ttr = F.when(
        n_tokens > 0, n_types.cast("double") / n_tokens
    ).otherwise(F.lit(None).cast("double"))
    bttr = F.when(
        n_bigrams > 0, n_bigram_types.cast("double") / n_bigrams
    ).otherwise(F.lit(None).cast("double"))
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        ttr.alias("type_token_ratio"),
        n_bigrams.alias("n_bigrams"),
        n_bigram_types.alias("n_bigram_types"),
        bttr.alias("bigram_ttr"),
        ((n_tokens > 0) & (ttr >= F.lit(min_ttr))).alias("keep"),
    )


# The classic web mojibake: UTF-8 bytes rendered as cp1252 ("donâ€™t",
# "cafÃ©"). The table holds the high-frequency sequences (ftfy's core
# cases); keys never overlap (distinct lead chars Ã/â/Â, and the 3-char
# â€x keys differ at position 3), so per-key counting on the ORIGINAL
# text is exact and replace order is immaterial — fixed anyway for
# deterministic oracles.
MOJIBAKE_MAP = (
    ("â€™", "’"),  # â€™ → right single quote
    ("â€˜", "‘"),  # â€˜ → left single quote
    ("â€œ", "“"),  # â€œ → left double quote
    ("â€“", "–"),  # â€“ → en dash
    ("â€”", "—"),  # â€” → em dash
    ("â€¦", "…"),  # â€¦ → ellipsis
    ("â€¢", "•"),  # â€¢ → bullet
    ("â‚¬", "€"),  # â‚¬ → euro sign
    ("Ã©", "é"),  # Ã© → é
    ("Ã¨", "è"),  # Ã¨ → è
    ("Ã¡", "á"),  # Ã¡ → á
    ("Ã³", "ó"),  # Ã³ → ó
    ("Ã±", "ñ"),  # Ã± → ñ
    ("Ã¼", "ü"),  # Ã¼ → ü
    ("Ã¶", "ö"),  # Ã¶ → ö
    ("Ã¤", "ä"),  # Ã¤ → ä
    ("Ã§", "ç"),  # Ã§ → ç
    ("Â\u00a0", "\u00a0"),  # Â+NBSP → NBSP (escaped: U+00A0 is invisible)
)


def _mojibake_fix_py(x: str) -> str:
    """General repair: re-encode as cp1252 and re-decode as UTF-8 — undoes
    ANY single UTF-8-shown-as-cp1252 pass, not just the table. Falls back
    to the table when the text isn't cp1252-encodable / valid UTF-8 after
    (i.e. it was never mojibake)."""
    try:
        fixed = x.encode("cp1252").decode("utf-8")
        return fixed
    except (UnicodeEncodeError, UnicodeDecodeError):
        for bad, good in MOJIBAKE_MAP:
            x = x.replace(bad, good)
        return x


@context_pandas_udf(T.StringType())
def _mojibake_fix_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: None if x is None else _mojibake_fix_py(x))


def mojibake_fix_col(t: Column) -> Column:
    """MOJIBAKE_MAP replace chain as a composable Column (the expr path)."""
    for bad, good in MOJIBAKE_MAP:
        t = F.replace(t, F.lit(bad), F.lit(good))
    return t


def mojibake_count_col(t: Column) -> Column:
    """Table-sequence occurrences in ``t`` (exact — keys never overlap)."""
    n = F.lit(0).cast("long")
    for bad, _ in MOJIBAKE_MAP:
        hits = (F.length(t) - F.length(F.replace(t, F.lit(bad), F.lit("")))) / F.lit(
            len(bad)
        )
        n = n + hits.cast("long")
    return n


def fix_mojibake(
    docs: DataFrame,
    strategy: str = "expr",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repair UTF-8-decoded-as-cp1252 mojibake (the dominant encoding
    corruption in web crawls; ftfy is the public reference tool).

    strategy="expr" (default, the 100-TB path): a plan-literal replace
    chain over MOJIBAKE_MAP — pure JVM string expressions inside
    whole-stage codegen, zero shuffle, zero Python; catches the
    high-frequency sequences, SQL-oracle-able bit-for-bit.
    strategy="pandas": Arrow-batched general repair (cp1252 re-encode →
    UTF-8 re-decode), which also fixes sequences outside the table;
    use when corruption diversity matters more than throughput.

    Returns (doc_id, fixed_text, n_mojibake, fixed): n_mojibake counts
    table-sequence occurrences in the ORIGINAL text (exact — keys never
    overlap) under BOTH strategies; ``fixed`` is "the repair changed the
    text", so on out-of-table corruption the pandas path can report
    fixed=true with n_mojibake=0."""
    if strategy not in ("expr", "pandas"):
        raise ValueError(f"unknown strategy {strategy!r}")
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = mojibake_count_col(t)
    if strategy == "expr":
        fixed_text = mojibake_fix_col(t)
    else:
        fixed_text = _mojibake_fix_udf(t)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        fixed_text.alias("fixed_text"),
        n.alias("n_mojibake"),
        (fixed_text != t).alias("fixed"),
    )


def _make_normalize_udf(form: str):
    import unicodedata

    @F.pandas_udf(T.StringType())
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x)
        )

    return _norm


def normalize_unicode(
    docs: DataFrame,
    form: str = "NFC",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonicalization
    pass tokenizer pipelines run before training (HF normalizers, SentencePiece
    NMT_NFKC): visually-identical byte sequences ("é" composed vs
    e+U+0301) must count/dedupe/tokenize as one form. No JVM-side
    normalizer exists in Spark SQL, so this is an Arrow-batched pandas
    UDF over Python's unicodedata (UCD-conformant; agrees with DuckDB's
    nfc_normalize, which oracles the NFC form bit-for-bit). Zero shuffle
    — one map-side projection; at 100 TB this is embarrassingly parallel
    and the UDF cost is one C-implemented normalize per document.

    Returns (doc_id, norm_text, changed, n_cp_delta): ``changed`` is
    "normalization altered the text"; ``n_cp_delta`` = codepoints before
    − after (positive when combining sequences composed)."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    t = F.coalesce(F.col(text_col), F.lit(""))
    norm = _make_normalize_udf(form)(t)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("norm_text"),
        (norm != t).alias("changed"),
        (F.length(t) - F.length(norm)).cast("long").alias("n_cp_delta"),
    )


# Unicode-script detection: BMP-only codepoint ranges, written as literal
# character-class regexes so Java (Spark) and RE2 (DuckDB) agree exactly —
# the named \p{Script=...} spellings differ between the engines, explicit
# ranges do not. BMP-only is also what keeps the COUNTS identical: Spark's
# length() is UTF-16 code units, DuckDB's is codepoints; they agree on the
# BMP and diverge on astral planes, so no range here may leave it.
SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("hebrew", "֐-׿"),
    ("devanagari", "ऀ-ॿ"),
    # Han + kana + hangul syllables: the CJK bucket web LID uses
    ("cjk", "一-鿿぀-ヿ가-힯"),
)


def script_count_col(text: Column, ranges: str) -> Column:
    """Number of characters of ``text`` inside the character-class
    ``ranges`` (count by deletion: strip everything else, measure)."""
    return F.length(F.regexp_replace(text, f"[^{ranges}]", "")).cast("long")


def script_mix(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script histogram + dominant-script call per document — the
    script-level half of web language ID (CLD/fastText both gate on it:
    a page that is 90% Cyrillic codepoints is not English no matter what
    the n-grams say). Emits one ``n_<script>`` count per SCRIPT_RANGES
    entry, ``dominant_script`` (first script in table order reaching the
    max count; NULL when no scripted character occurs) and
    ``script_confidence`` = dominant count / all scripted characters (one
    IEEE division of two BIGINTs — bit-exact across engines).

    Pure Column expressions over fixed-size state: zero shuffle, no
    Python — at 100 TB this rides the ingest scan like the other quality
    signals."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {name: script_count_col(t, rng) for name, rng in SCRIPT_RANGES}
    mx = F.greatest(*counts.values())
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    dominant = F.lit(None).cast("string")
    for name in reversed([n for n, _ in SCRIPT_RANGES]):
        dominant = F.when(
            (mx > 0) & (counts[name] == mx), F.lit(name)
        ).otherwise(dominant)
    conf = F.when(
        total > 0, mx.cast("double") / total.cast("double")
    ).otherwise(F.lit(None).cast("double"))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[counts[name].alias(f"n_{name}") for name, _ in SCRIPT_RANGES],
        dominant.alias("dominant_script"),
        conf.alias("script_confidence"),
    )
