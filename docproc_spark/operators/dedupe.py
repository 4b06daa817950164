"""Deduplication operators over a corpus of text documents.

Four families, each a standard large-scale training-data-pipeline primitive:

  exact            — content fingerprint groupBy (hash shuffle, one pass)
  first_wins       — order-preserving exact dedupe (window, deterministic
                     keeper — dropDuplicates would pick an arbitrary row)
  minhash          — MinHash signatures + banded LSH candidate pairs
  simhash          — 64-bit SimHash (bitwise majority of token hashes)
  ngram_jaccard    — exact n-gram Jaccard on a bounded candidate set

Scale notes: exact/fingerprint dedupe shuffles once on the hash (AQE
coalesces small partitions); MinHash banding turns O(n²) similarity into
per-band groupBys — the band histogram (sum of C(n,2) per bucket) never
materializes the pair list, so a hot band (skewed bucket) cannot explode
the plan. Pair materialization is offered separately and should be run
per-band with salting if a band is pathological.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docproc_spark.materialize import release, stage

# Java \s, written out: [ \t\n\x0b\f\r]. Explicit because engines disagree
# about \s — RE2 (the DuckDB oracle) excludes \x0b — and an implicit class
# silently breaks bit-parity the first time a document carries a vertical tab.
TOKEN_SPLIT = r"[ \t\n\x0b\f\r]+"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    return F.filter(F.split(F.trim(text), TOKEN_SPLIT), lambda t: t != "")


def fingerprint_col(text: Column) -> Column:
    """Normalization fingerprint: md5 of lowercased whitespace-collapsed text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), TOKEN_SPLIT, " ")))


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact (normalized) duplicates: fingerprint, n_docs, keeper id."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint_col(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def first_wins_dedupe(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the first doc (by id) of every exact-duplicate class.

    Window form — NOT dropDuplicates — so the keeper is deterministic.
    """
    w = Window.partitionBy(fingerprint_col(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signature(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 4
) -> DataFrame:
    """k-permutation MinHash over distinct whitespace tokens.

    Permutation i is simulated by md5("{i}:{token}") and taking the
    lexicographic minimum — stable across engines (md5 hex is canonical),
    which is what lets a plain-SQL oracle reproduce it bit-for-bit.
    Entirely JVM-side: split → array_distinct → transform → array_min.
    """
    toks = F.array_distinct(tokens_col(F.col(text_col)))

    def _mh(i: int):
        # NB: the lambda must stay single-arg — a two-arg lambda makes
        # F.transform pass (element, index) and silently shadows defaults.
        prefix = f"{i}:"
        return F.array_min(
            F.transform(toks, lambda t: F.md5(F.concat(F.lit(prefix), t)))
        ).alias(f"mh{i}")

    cols = [_mh(i) for i in range(k)]
    return docs.select(F.col(id_col).alias("doc_id"), *cols).withColumn(
        "signature", F.concat_ws("|", *[f"mh{i}" for i in range(k)])
    )


def _band_table(sig: DataFrame, k: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band_id, band_key) — ONE pass over the signature table (a
    posexplode of per-band keys, not one union branch per band). The single
    shared construction: three consumers (histogram, candidate pairs,
    dropped-bucket accounting) must bucket identically or parity breaks."""
    n_bands = k // rows_per_band
    if n_bands < 1:
        raise ValueError(f"rows_per_band={rows_per_band} > k={k}: zero bands")
    keys = F.array(
        *[
            F.concat_ws(
                "|", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
            )
            for b in range(n_bands)
        ]
    )
    # zero-token docs have NULL signatures; concat_ws would silently turn
    # them into '' keys that BUCKET TOGETHER, while a SQL oracle's
    # mh0 || '|' || mh1 stays NULL and never joins — exclude them (an empty
    # doc has no shingles and can never be a near-dup candidate anyway).
    # The exclusion rides INSIDE the generator (posexplode of a NULL array
    # emits no rows with outer=false) rather than as a .filter(): a filter
    # on the computed mh0 gets predicate-pushed below any upstream
    # exchange with the whole minhash expression inlined, re-running the
    # per-token md5 work in the (possibly single-task) scan stage —
    # measured 1.56 s -> 0.54 s on the sf1.0 band histogram (guide §4.4's
    # duplicated-evaluation trap, filter-pushdown variant).
    return sig.select(
        "doc_id",
        F.posexplode(F.when(F.col("mh0").isNotNull(), keys)).alias(
            "band_id", "band_key"
        ),
    )


def minhash_band_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH band → candidate-pair count, without materializing pairs.

    Returns one row per (band_id) with the number of buckets and the total
    candidate pairs sum(C(n,2)) — the skew-safe summary used to decide
    whether pair materialization needs salting.
    """
    sig = minhash_signature(docs, text_col, id_col, k)
    return (
        _band_table(sig, k, rows_per_band)
        .groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_candidate_pairs"),
        )
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from LSH bands.

    Buckets larger than ``max_bucket`` are dropped (a bucket of size m adds
    m² pairs — at web scale a degenerate band key, like an all-stopword
    shingle, must be capped, mirroring the skew guard any production
    near-dup pipeline ships with). Pass a precomputed ``sig`` to share the
    signature computation with other consumers.
    """
    if sig is None:
        sig = minhash_signature(docs, text_col, id_col, k)
    banded = _band_table(sig, k, rows_per_band)
    counts = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
    )
    # No broadcast hint: the qualifying-bucket list scales with the corpus's
    # duplicate population (a forced broadcast OOMs the driver at 10^9
    # docs). AQE broadcasts it at runtime whenever it is actually small —
    # asserted on the adaptive executed plan in tests/test_plans.py.
    small = banded.join(
        counts.select("band_id", "band_key"), ["band_id", "band_key"]
    )
    left = small.select("band_id", "band_key", F.col("doc_id").alias("a"))
    right = small.select("band_id", "band_key", F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct n-token shingles. ``toks`` MUST be a materialized column:
    the slice lambda references it per element, and an inline
    tokenization expression there re-runs the split once per shingle —
    silently O(n²) on big documents (the HOF re-evaluation trap; the
    multi-use reference below is also what stops CollapseProject from
    re-inlining a staged alias)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def _exploded_shingles(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) rows with the tokens staged as a column first."""
    return docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("_tk")
    ).select(
        "doc_id", F.explode(_shingles_from_tokens(F.col("_tk"), n)).alias("shingle")
    )


def minhash_dropped_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Accounting for the candidate-pair skew guard: per band, how many
    buckets (and docs) the ``max_bucket`` cap drops. Companion to
    minhash_candidate_pairs so the cap is never a silent coverage hole.
    Pass a precomputed (ideally staged) ``sig`` to avoid recomputing the
    signatures."""
    if sig is None:
        sig = minhash_signature(docs, text_col, id_col, k)
    return (
        _band_table(sig, k, rows_per_band)
        .groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket)
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_buckets_dropped"),
            F.sum("n").cast("long").alias("n_docs_in_dropped"),
        )
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    min_jaccard: float = 0.5,
    max_bucket: int = 1000,
    log_dropped: bool = True,
) -> DataFrame:
    """End-to-end near-dup detection: LSH candidates → exact verify.

    The composition the docstrings promise: minhash_candidate_pairs bounds
    the pair space (never O(n²) on the corpus), then n-gram Jaccard is
    computed ONLY for candidate pairs by routing each candidate's shingles
    through the pair list (cands ⋈ shingles(a) ⋈ shingles(b)) — work is
    O(candidates × shingles-per-doc), not O(bounded-set²). Returns
    (a, b, shared, jaccard) with jaccard ≥ min_jaccard.

    The ``max_bucket`` skew cap is NOT silent: with log_dropped=True the
    dropped-bucket accounting runs (one extra agg job over the MATERIALIZED
    signatures — computed once here and shared with candidate generation,
    never a second tokenize+hash pass over the corpus) and any loss is
    logged as a warning.
    """
    # staged: candidate generation reads the band table on both sides of
    # its bucket join, and the result reads it
    sig = stage(minhash_signature(docs, text_col, id_col, k), eager=False)
    if log_dropped:
        import logging

        dropped = minhash_dropped_buckets(
            docs, text_col, id_col, k, rows_per_band, max_bucket, sig=sig
        ).collect()
        if dropped:
            logging.getLogger(__name__).warning(
                "minhash_neardup_pairs: max_bucket=%d dropped %s — these "
                "docs are NOT covered by candidate generation",
                max_bucket,
                [r.asDict() for r in dropped],
            )
    cands = minhash_candidate_pairs(
        docs, text_col, id_col, k, rows_per_band, max_bucket, sig=sig
    )
    sh = _exploded_shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("b"), "shingle")
    shared = (
        cands.join(sh_a, "a")
        .join(sh_b, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"))
    return (
        # per-doc shingle counts scale with the corpus — no broadcast hint
        # (AQE broadcasts when the candidate population is actually small)
        shared.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "shared", "jaccard")
    )


def dup_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 20
) -> DataFrame:
    """Connected components over the verified near-dup pair graph —
    (doc_id, component) where component = min doc_id of the cluster.

    The cluster step of a dedupe pipeline (pairs only say x~y; keeping one
    doc per GROUP needs transitive closure). Iterative min-label
    propagation: each round every vertex takes the min of its own label and
    its neighbours' labels — converges in graph-diameter rounds (near-dup
    clusters are shallow). Each round is one join + one agg, O(E); no
    driver-side graph. The convergence check is one count() action per
    round — bounded by max_iter.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # stage the symmetrized edge table AND each round's labels: `pairs` is
    # typically a whole candidate-generation pipeline (banding, bucket
    # joins, shingle explodes over the corpus) — unstaged, EVERY round's
    # join + convergence count() re-executes that full lineage, turning
    # O(E)-per-round label propagation into O(rounds × pipeline)
    edges = stage(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        eager=False,
    )
    labels = stage(
        edges.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v")),
        eager=False,
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.v)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = stage(
            labels.join(neigh, labels.v == neigh.src, "left").select(
                "v",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                    "label"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter with labels still moving means a cluster of
        # diameter > max_iter got SPLIT — never return that silently
        import logging

        logging.getLogger(__name__).warning(
            "dup_components: label propagation did not converge in %d "
            "rounds (%d labels still changing) — components may be split; "
            "raise max_iter",
            max_iter,
            changed,
        )
    # the result is renamed labels, staged on its own so that the last
    # round and the edge table can be released before returning
    final = stage(
        labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component"))
    )
    release(labels, edges)
    return final


def keep_best_per_cluster(
    docs: DataFrame,
    components: DataFrame,
    score: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Representative selection after fuzzy dedup: given the corpus and the
    ``dup_components`` output (doc_id, component), keep exactly ONE document
    per near-dup cluster — the max-``score`` member, ties to the lowest id.
    Documents in no cluster are singletons and keep themselves. The default
    score is the whitespace token count ("keep the longest variant", the
    common curation rule); pass any deterministic Column (e.g. a quality
    score) to change the policy.

    Returns ``docs``' columns plus (component, keep); callers filter
    ``keep``. ``id_col`` must be non-null and unique.

    Scale shape: one broadcast-eligible left join (the component table has
    one row per CLUSTERED doc — a small fraction of the corpus) and one
    window shuffled on component. Near-dup clusters are shallow AND small,
    so the per-partition window state is bounded; the corpus never
    self-joins here.
    """
    if score is None:
        from docproc_spark.functions.text import token_count_col

        score = F.coalesce(
            token_count_col(F.col(text_col)).cast("long"), F.lit(0)
        )
    comp_col, rn_col = "component", "_kb_rn"
    while rn_col in docs.columns:
        rn_col += "_"
    for out_col in (comp_col, "keep"):  # output columns — never overwrite
        if out_col in docs.columns:
            raise ValueError(f"docs already has a {out_col!r} column")
    comp = components.select(
        F.col("doc_id").alias(id_col), F.col("component").alias(comp_col)
    )
    joined = docs.join(comp, id_col, "left").withColumn(
        comp_col, F.coalesce(F.col(comp_col), F.col(id_col))
    )
    w = Window.partitionBy(comp_col).orderBy(score.desc(), F.col(id_col))
    return (
        joined.withColumn(rn_col, F.row_number().over(w))
        .withColumn("keep", F.col(rn_col) == 1)
        .drop(rn_col)
    )


def drop_repeated_lines(
    docs: DataFrame,
    min_count: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style cross-document line dedup: a line whose trimmed form
    occurs ≥ ``min_count`` times ACROSS THE CORPUS is boilerplate
    (nav bars, cookie banners, licence footers) and is removed from every
    document; blank lines and document structure are kept. Returns
    (doc_id, clean_text, n_removed) — clean_text is the surviving lines
    (original, untrimmed) re-joined "\\n" in original order.

    Plan: the line table (split + posexplode) feeds two consumers — the
    corpus-wide count that yields the frequent set, and the flagging
    join's probe side — so the SOURCE IS SCANNED AND EXPLODED TWICE
    (DataFrame fan-out gets no common-subexpression reuse in Spark). At
    corpus scale two columnar scans are usually cheaper than caching the
    exploded lines (≈ corpus-sized, spill-heavy); callers for whom the
    upstream is expensive should checkpoint `docs` first. The frequent
    set itself is tiny (heavy hitters only), so AQE broadcasts the join
    side — no hint, per the de-broadcast policy. One groupBy(doc_id)
    reassembles. CR is stripped before splitting so CRLF corpora don't
    make every blank line a distinct "\\r" token (the r3
    phantom-duplicate lesson).
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(
                F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), "\r", ""),
                "\n",
            )
        ).alias("pos", "line"),
    )
    norm = F.trim(F.col("line"))
    freq = (
        lines.filter(norm != "")
        .groupBy(norm.alias("norm"))
        .count()
        .filter(F.col("count") >= min_count)
        .select("norm")
    )
    flagged = lines.join(freq, norm == F.col("norm"), "left").select(
        "doc_id",
        "pos",
        "line",
        F.col("norm").isNotNull().alias("is_boiler"),
    )
    kept_lines = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("is_boiler"),
                    F.struct(F.col("pos").alias("pos"), F.col("line").alias("line")),
                )
            )
        ),
        lambda s: s["line"],
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(kept_lines, "\n").alias("clean_text"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
    )


def strip_host_boilerplate(
    docs: DataFrame,
    min_frac_permille: int = 500,
    min_pages: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """Per-SITE template removal, the host-scoped complement of
    ``drop_repeated_lines``: a line (trimmed) that appears in ≥
    ``min_frac_permille``/1000 of a host's documents (and in ≥
    ``min_pages`` of them) is that site's chrome — nav, footer, cookie
    banner — and is stripped from every page of the host. Corpus-rare
    hosts with one page keep everything (min_pages); the threshold is
    integer permille arithmetic so verdicts are engine-exact. A line is
    counted once per DOCUMENT (a page repeating its own nav twice is one
    sighting). Returns (doc_id, host, clean_text, n_removed) — surviving
    original lines rejoined "\\n" in order.

    Plan: per-host document totals are one tiny groupBy; line sightings
    are distinct (host, doc, line) then a (host, line) count — both
    shuffle ON HOST(+line), so a 10^12-page corpus shards by site and no
    global frequent-set broadcast is needed (contrast
    ``drop_repeated_lines``, whose frequent set is corpus-global). The
    boiler set per host is small (chrome lines), AQE broadcasts the
    flagging join when it fits. Same CR-strip as drop_repeated_lines.
    """
    if not 0 <= min_frac_permille <= 1000:
        raise ValueError("min_frac_permille must be in [0, 1000]")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.col(text_col).alias("text"),
    )
    host_docs = base.groupBy("host").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    lines = base.select(
        "doc_id",
        "host",
        F.posexplode(
            F.split(
                F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), "\r", ""),
                "\n",
            )
        ).alias("pos", "line"),
    )
    norm = F.trim(F.col("line"))
    sightings = (
        lines.filter(norm != "")
        .select("host", "doc_id", norm.alias("norm"))
        .distinct()
    )
    boiler = (
        sightings.groupBy("host", "norm")
        .agg(F.count("*").alias("n_with"))
        .join(host_docs, "host")
        .filter(
            (F.col("n_with") >= min_pages)
            & (F.col("n_with") * 1000 >= min_frac_permille * F.col("n_docs"))
        )
        .select(F.col("host").alias("b_host"), F.col("norm").alias("b_norm"))
    )
    flagged = lines.join(
        boiler,
        (F.col("host") == F.col("b_host")) & (norm == F.col("b_norm")),
        "left",
    ).select(
        "doc_id",
        "host",
        "pos",
        "line",
        F.col("b_norm").isNotNull().alias("is_boiler"),
    )
    kept_lines = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("is_boiler"),
                    F.struct(F.col("pos").alias("pos"), F.col("line").alias("line")),
                )
            )
        ),
        lambda s: s["line"],
    )
    return flagged.groupBy("doc_id", "host").agg(
        F.array_join(kept_lines, "\n").alias("clean_text"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
    )


def repeated_window_fraction(
    docs: DataFrame,
    window: int = 16,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-dedup proxy (Lee et al. 2021 dedupe ≥50-token repeated
    substrings with a suffix array): the fraction of each document's
    ``window``-token shingles whose hash occurs ≥ ``min_count`` times
    CORPUS-WIDE. A high fraction marks a document as largely made of
    text duplicated elsewhere (template spam, mirrored articles) — the
    per-document signal the suffix-array method derives globally, at
    one-explode-one-count cost instead of a distributed suffix array.

    Returns (doc_id, n_windows, n_repeated, repeated_frac). The frac is
    floor-truncated to 4 decimals — floor is engine-identical where
    round()'s half-way behavior differs between Spark (HALF_UP) and the
    DuckDB oracle (a doc with 32 windows and 1 repeat hits exactly
    0.03125). A doc with < window tokens contributes its single
    short-shingle hash (all-empty docs therefore hash alike and count as
    repeats of each other — deterministic, mirrored by the oracle).

    Plan: staged tokens → shingle hashes (column-staged, the O(n) HOF
    form) → posexplode → one count shuffle filtered to frequent hashes
    (heavy hitters — small, AQE broadcasts the join back) → per-doc agg.
    Like drop_repeated_lines the shingle table fans out to two consumers
    (count + probe), so the source is scanned twice; checkpoint upstream
    if it is expensive.
    """
    from docproc_spark.functions.text import rolling_hashes_from_tokens

    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("_tk")
    ).withColumn("_sh", rolling_hashes_from_tokens(F.col("_tk"), window))
    wins = staged.select(
        "doc_id", F.posexplode(F.col("_sh")).alias("pos", "h")
    )
    freq = (
        wins.groupBy("h")
        .count()
        .filter(F.col("count") >= min_count)
        .select(F.col("h").alias("fh"))
    )
    flagged = wins.join(freq, wins["h"] == freq["fh"], "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum(F.col("fh").isNotNull().cast("long")).alias("n_repeated"),
        (
            F.floor(
                F.sum(F.col("fh").isNotNull().cast("long"))
                * 10000
                / F.count("*")
            )
            / 10000
        ).alias("repeated_frac"),
    )


def remove_repeated_windows(
    docs: DataFrame,
    window: int = 16,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style removal (Lee et al. 2021): delete every token
    covered by a ``window``-token shingle whose hash occurs ≥
    ``min_count`` times CORPUS-WIDE, and return the cleaned text
    (surviving tokens re-joined with single spaces — whitespace layout
    is not preserved; this is the token-level form of the suffix-array
    method's character cuts). Complements repeated_window_fraction
    (same shingle definition — a doc with < window tokens contributes
    one short-shingle window that, when repeated, covers the whole doc).

    Returns (doc_id, text_clean, n_tokens, n_removed) for EVERY input
    document (unaffected docs pass through with n_removed = 0).

    Plan: staged tokens → column-staged O(n) shingle hashes → posexplode
    → one count shuffle keeps the repeated hashes (heavy hitters —
    small, AQE broadcasts the probe join) → covered windows explode to
    (doc, token_idx) and distinct-reduce → per-doc drop set joins back
    to the staged frame. Token removal is array_except(index range,
    drop set) + element_at — O(n + |drop|) per doc, never the
    O(n x |drop|) a contains-per-token filter would cost on a
    fully-covered doc. Shuffles: count, distinct, drop-set agg, final
    join — all keyed small or doc-sized, none corpus-quadratic.
    """
    from docproc_spark.functions.text import rolling_hashes_from_tokens

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        # null text coalesced to '' so the every-doc contract holds with
        # n_tokens/n_removed = 0 (a bare tokens_col(NULL) is NULL, which
        # would null both counts)
        tokens_col(F.coalesce(F.col(text_col), F.lit(""))).alias("_tk"),
    ).withColumn("_sh", rolling_hashes_from_tokens(F.col("_tk"), window))
    # three consumers below (freq count, cov join, final join), all in
    # the returned plan — tokenize + shingle-md5 once
    staged = stage(staged, eager=False)
    wins = staged.select("doc_id", F.posexplode(F.col("_sh")).alias("pos", "h"))
    freq = (
        wins.groupBy("h")
        .count()
        .filter(F.col("count") >= min_count)
        .select(F.col("h").alias("fh"))
    )
    cov = (
        wins.join(freq, wins["h"] == freq["fh"])
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
            ).alias("tidx"),
        )
        .distinct()
    )
    drops = cov.groupBy("doc_id").agg(F.collect_set("tidx").alias("_drop"))
    joined = staged.join(drops, "doc_id", "left")
    n_tok = F.size("_tk")
    idxs = F.when(
        n_tok > 0, F.sequence(F.lit(0), n_tok - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept_idx = F.when(
        F.col("_drop").isNotNull(), F.array_except(idxs, F.col("_drop"))
    ).otherwise(idxs)
    kept = F.transform(kept_idx, lambda j: F.element_at(F.col("_tk"), j + 1))
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("text_clean"),
        n_tok.cast("long").alias("n_tokens"),
        (n_tok - F.size(kept)).cast("long").alias("n_removed"),
    )


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 60
) -> DataFrame:
    """SimHash: majority vote per bit over token hashes (60 bits so the
    value fits a signed int64 exactly; token hash = first 15 hex chars of
    md5 via conv base-16→10).

    Plan shape: explode tokens → bit extraction packed 2 counters per long
    (31 bits each — shifted addends, so one F.sum carries two bit totals)
    → single groupBy(doc_id) with 31 sums instead of 61 → unpack +
    signature fold. One shuffle, map-side partial aggregation. 31-bit
    counters keep the packed sum inside int64 (ANSI-safe) and carry-free
    up to 2^31 tokens per document — beyond any real document (a 3-wide/
    21-bit packing would silently corrupt signatures at ~2M tokens, a size
    a single giant text span can reach).
    """
    pack, w = 2, 31
    mask = (1 << w) - 1
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("tok")
    ).withColumn("h", h)
    groups = list(range(0, n_bits, pack))
    aggs = [F.count("*").alias("n")]
    for g in groups:
        packed = None
        for i in range(min(pack, n_bits - g)):
            bit = F.shiftright(F.col("h"), g + i).bitwiseAND(F.lit(1)).cast("long")
            term = bit if i == 0 else bit * F.lit(1 << (w * i)).cast("long")
            packed = term if packed is None else packed + term
        aggs.append(F.sum(packed).alias(f"p{g}"))
    counts = toks.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for g in groups:
        for i in range(min(pack, n_bits - g)):
            cnt = F.shiftright(F.col(f"p{g}"), w * i).bitwiseAND(F.lit(mask))
            sig = sig + F.when(
                cnt * 2 > F.col("n"), F.lit(2 ** (g + i)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
    with_sig = counts.select("doc_id", sig.alias("simhash"))
    # docs with zero tokens get signature 0
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(with_sig, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    n_bits: int = 60,
    max_bucket: int = 1000,
    log_dropped: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs (a < b, hamming(sig_a, sig_b) ≤ max_hamming).

    Signature computation (simhash64) + the generic pigeonhole-banded
    hamming join (:func:`hamming_neardup_pairs` — also the engine for
    perceptual-image dedupe via functions/media.image_neardup_pairs).
    """
    sig = stage(simhash64(docs, text_col, id_col, n_bits), eager=False)
    return hamming_neardup_pairs(
        sig,
        sig_col="simhash",
        id_col="doc_id",
        max_hamming=max_hamming,
        n_bands=n_bands,
        n_bits=n_bits,
        max_bucket=max_bucket,
        log_dropped=log_dropped,
    )


def hamming_neardup_pairs(
    sigs: DataFrame,
    sig_col: str = "sig",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    n_bits: int = 64,
    max_bucket: int = 1000,
    log_dropped: bool = True,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column (a < b,
    hamming(sig_a, sig_b) ≤ max_hamming) — SimHash, dHash/aHash image
    fingerprints, or any other bitwise signature.

    The Manku/Jain/Sarma WWW'07 trick: split the signature into n_bands
    contiguous bit blocks; by pigeonhole, any pair within hamming distance
    < n_bands agrees EXACTLY on ≥1 block — so block-equality groupBys
    produce a candidate set with **perfect recall up to the max_bucket
    skew cap** (not an approximation like MinHash banding), and
    bit_count(xor) verifies. Buckets over the cap are dropped WITH a
    logged accounting (log_dropped), mirroring minhash_neardup_pairs —
    a >cap bucket of exact copies would otherwise lose its pairs silently.

    Band extraction uses arithmetic shiftright + mask, so the sign bit
    of a full-64-bit signature lands correctly in the top band.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole needs max_hamming < n_bands")
    if n_bits % n_bands:
        raise ValueError(
            f"n_bits={n_bits} must divide evenly into n_bands={n_bands} — "
            "uncovered bits would break the pigeonhole recall guarantee"
        )
    sig = sigs.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("simhash")
    )
    bits_per = n_bits // n_bands
    mask = (1 << bits_per) - 1
    keys = F.array(
        *[
            F.shiftright(F.col("simhash"), b * bits_per)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for b in range(n_bands)
        ]
    )
    # single pass over the signatures: all band keys posexploded
    banded = sig.select(
        "doc_id", "simhash", F.posexplode(keys).alias("band", "bk")
    )
    all_counts = banded.groupBy("band", "bk").agg(F.count("*").alias("n"))
    if log_dropped:
        import logging

        dropped = all_counts.filter(F.col("n") > max_bucket).agg(
            F.count("*").alias("n_buckets"), F.sum("n").alias("n_docs")
        ).collect()[0]
        if dropped["n_buckets"]:
            logging.getLogger(__name__).warning(
                "simhash_neardup_pairs: max_bucket=%d dropped %d buckets "
                "(%d docs) — their pairs are NOT in the candidate set",
                max_bucket, dropped["n_buckets"], dropped["n_docs"],
            )
    counts = all_counts.filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
    # no broadcast hint — see minhash_candidate_pairs: bucket lists scale
    # with the duplicate population; AQE broadcasts small ones at runtime
    small = banded.join(counts.select("band", "bk"), ["band", "bk"])
    left = small.select(
        "band", "bk", F.col("doc_id").alias("a"), F.col("simhash").alias("sa")
    )
    right = small.select(
        "band", "bk", F.col("doc_id").alias("b"), F.col("simhash").alias("sb")
    )
    pairs = (
        left.join(right, ["band", "bk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
    )
    return (
        pairs.dropDuplicates(["a", "b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact n-gram (token shingle) Jaccard for all pairs of the input.

    O(pairs) via shingle equi-join — run on a bounded candidate set (e.g.
    the output of minhash_candidate_pairs), never the raw corpus.
    """
    sh = _exploded_shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"))
    return (
        # per-doc shingle counts scale with the corpus — no broadcast hint
        # (AQE broadcasts when the candidate population is actually small)
        shared.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "shared", "jaccard")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document that shares
    at least one ``n``-token shingle with an evaluation/benchmark corpus
    (the GPT-3 appendix-C / PaLM / Llama "13-gram overlap" rule — the
    reference pipeline has no eval-set hygiene step; this is a
    beyond-reference training-data operator).

    Returns (doc_id, n_windows, n_contaminated, contaminated) — one row
    per input document; ``n_contaminated`` counts the document's shingle
    positions whose hash appears anywhere in the benchmark, and documents
    with zero matches come through with contaminated = false (callers
    drop or quarantine the true rows).

    Matching is by md5 of the space-joined ``n``-token window over
    whitespace tokens (``tokens_col``) on BOTH sides, so a document
    shorter than ``n`` tokens contributes its single full-text shingle
    and matches only a benchmark entry with the identical short prefix —
    including the degenerate empty-text shingle (md5 of ""), which is
    deliberate and mirrored by the oracle: an empty benchmark entry
    flags empty training docs, never non-empty ones. NULL text is
    coalesced to "" on BOTH sides (and in the oracle) so it follows the
    empty-text rule instead of silently diverging between engines (a
    NULL array's md5 is NULL in SQL but Spark's concat_ws treats the
    NULL token array as empty).

    Scale: the benchmark shingle set is distinct-ed and small relative to
    the corpus (eval suites are ~10^5-10^6 grams), so AQE turns the probe
    into a broadcast hash join — the training side stays one scan + one
    map-side-partial groupBy(doc_id); nothing is O(corpus x benchmark).
    At extreme benchmark sizes swap the broadcast for a bloom-filter
    pre-probe and keep the equi-join only for bloom hits.
    """
    from docproc_spark.functions.text import rolling_hashes_from_tokens

    bench_h = (
        benchmark.select(
            tokens_col(F.coalesce(F.col(bench_text_col), F.lit(""))).alias("_tk")
        )
        .select(F.explode(rolling_hashes_from_tokens(F.col("_tk"), n)).alias("bh"))
        .distinct()
    )
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.coalesce(F.col(text_col), F.lit(""))).alias("_tk"),
    ).withColumn("_sh", rolling_hashes_from_tokens(F.col("_tk"), n))
    wins = staged.select("doc_id", F.explode("_sh").alias("h"))
    flagged = wins.join(bench_h, wins["h"] == bench_h["bh"], "left")
    hits = F.sum(F.col("bh").isNotNull().cast("long"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        hits.alias("n_contaminated"),
        (hits > 0).alias("contaminated"),
    )




def _hash_bucket_col(col: Column, mod: int) -> Column:
    """md5-derived bucket in [0, mod) — THE single bucket formula shared by
    index build and query (both sides of every partition-pruned join MUST
    hash identically; recording the modulus in the index protects the
    modulus, this helper protects the formula)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
        % mod
    )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    n_buckets: int = 64,
    n_doc_buckets: int = 64,
    max_bucket: int = 1000,
) -> None:
    """Persist a corpus's near-dup side for INCREMENTAL dedup — the
    production shape where yesterday's 100-TB corpus is indexed ONCE and
    every new batch is checked against it without re-scanning old text
    (the batch minhash_neardup_pairs re-hashes the whole corpus per run).

    Layout under ``path``:
      - ``bands/``    (doc_id, band_key, band_id, bucket) partitioned by
        (band_id, bucket); bucket = md5(band_key) mod ``n_buckets``, so a
        query's touched partitions are bounded by n_bands x n_buckets —
        a small new batch prunes to the partitions its keys hash into.
      - ``shingles/`` (doc_id, h) partitioned by doc_bucket =
        md5(doc_id) mod ``n_doc_buckets``: h is the md5 of each distinct
        n-token shingle (equality joins need only the 32-hex digest),
        and the partitioning lets the verify stage prune to the
        candidate docs' buckets instead of scanning the corpus's
        shingles per batch.
      - ``sizes/``    (doc_id, n_sh), partitioned by the same doc_bucket,
        + the index's parameters as constant columns (k, rows_per_band,
        n, bucket_mod, doc_bucket_mod — RLE, ~free): queries derive
        every parameter FROM the index, so a caller-default mismatch
        (the silent-empty-result bug class) cannot occur.
      - ``dropped/``  (band_id, band_key, n) buckets over ``max_bucket``
        excluded from bands/ — the skew cap is never silent.
      - ``_SUCCESS``  root-level completeness marker, written LAST — what
        cache-staging helpers (_commit_staging_dir) probe to tell a
        complete committed index from a crashed partial build.

    One corpus scan computes signatures (staged — the cap accounting and
    the band write share it; the bucket counts are likewise staged so
    the corpus-sized band aggregation shuffles once, not once per
    consumer; both are released before the shingle pass), one computes
    shingles; sizes aggregate from the WRITTEN shingles so tokenization
    never runs a third time.
    """
    import os

    spark = docs.sparkSession
    sig = stage(minhash_signature(docs, text_col, id_col, k), eager=False)
    bands = _band_table(sig, k, rows_per_band).withColumn(
        "bucket", _hash_bucket_col(F.col("band_key"), n_buckets)
    )
    counts = stage(
        bands.groupBy("band_id", "band_key").agg(F.count("*").alias("n")),
        eager=False,
    )
    try:
        counts.filter(F.col("n") > max_bucket).write.mode("overwrite").parquet(
            f"{path}/dropped"
        )
        ok = counts.filter(F.col("n") <= max_bucket).select(
            "band_id", "band_key"
        )
        (
            bands.join(ok, ["band_id", "band_key"])
            .write.mode("overwrite")
            .partitionBy("band_id", "bucket")
            .parquet(f"{path}/bands")
        )
    finally:
        release(counts, sig)
    (
        _exploded_shingles(docs, text_col, id_col, n)
        .select(
            "doc_id",
            F.md5("shingle").alias("h"),
            _hash_bucket_col(F.col("doc_id"), n_doc_buckets).alias("doc_bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("doc_bucket")
        .parquet(f"{path}/shingles")
    )
    from pyspark.sql import types as T

    # explicit schema on the read-back: an EMPTY corpus writes zero files
    # under the partitioned shingles/ dir, where inference has nothing
    # to see — but the layout's schema is fixed by this function
    sh_schema = T.StructType(
        [
            T.StructField("doc_id", docs.schema[id_col].dataType, True),
            T.StructField("h", T.StringType(), True),
            T.StructField("doc_bucket", T.LongType(), True),
        ]
    )
    (
        spark.read.schema(sh_schema).parquet(f"{path}/shingles")
        .groupBy("doc_id", "doc_bucket")
        .agg(F.count("*").cast("long").alias("n_sh"))
        .select(
            "doc_id",
            "n_sh",
            F.lit(k).alias("k"),
            F.lit(rows_per_band).alias("rows_per_band"),
            F.lit(n).alias("n"),
            F.lit(n_buckets).alias("bucket_mod"),
            F.lit(n_doc_buckets).alias("doc_bucket_mod"),
            "doc_bucket",
        )
        .write.mode("overwrite")
        .partitionBy("doc_bucket")
        .parquet(f"{path}/sizes")
    )
    # local-FS marker; on an object store / HDFS deployment the moral
    # equivalent is the final rename of a staging prefix
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def neardup_vs_index(
    new_docs: DataFrame,
    path: str,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1000,
    log_dropped: bool = True,
    checkpoint_candidates: bool = True,
) -> DataFrame:
    """Near-dups of a NEW batch against a persisted build_minhash_index —
    returns (new_id, old_id, shared, jaccard) with jaccard >= min_jaccard,
    the same LSH-candidates → exact-Jaccard-verify contract as
    minhash_neardup_pairs, but old-corpus work is partition-pruned index
    scans only.

    Every structural parameter (k, rows_per_band, n, bucket moduli) comes
    FROM the index's sizes table — a query cannot silently disagree with
    the build (the mismatched-modulus-empties-results bug class).
    ``max_bucket`` caps the NEW side: a degenerate band key shared by
    more than max_bucket batch docs is dropped (and logged) before the
    index join — the old side was capped at build time (see dropped/),
    and without the new-side cap a batch of near-identical docs would
    multiply against a full old bucket (the quadratic the batch
    operator's cap exists to prevent).

    Scale shape: the new batch is staged once (sig and
    shingles both consume it; fan-out gets no CSE) and is assumed
    batch-sized, not corpus-sized. The distinct (band_id, bucket) combos
    of the batch are collected — bounded by n_bands x bucket_mod, NEVER
    by batch size — and pushed as explicit per-band partition predicates
    on bands/; the candidate pairs are then checkpointed and their
    distinct old-doc buckets (bounded by doc_bucket_mod) prune the
    shingles/ and sizes/ scans, so the verify joins touch only candidate
    partitions of the old corpus."""
    spark = new_docs.sparkSession
    try:
        sizes_all = spark.read.parquet(f"{path}/sizes")
        meta = sizes_all.select(
            "k", "rows_per_band", "n", "bucket_mod", "doc_bucket_mod"
        ).first()
    except Exception as exc:  # empty partitioned dir: no files, no schema
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        meta = None
    if meta is None:
        raise ValueError(f"minhash index at {path} is empty")
    k, rpb = int(meta["k"]), int(meta["rows_per_band"])
    n, m = int(meta["n"]), int(meta["bucket_mod"])
    doc_mod = int(meta["doc_bucket_mod"])
    staged = stage(
        new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    sig = minhash_signature(staged, "text", "doc_id", k)
    bands_all = _band_table(sig, k, rpb)
    key_counts = (
        bands_all.groupBy("band_id", "band_key").agg(F.count("*").alias("n"))
    )
    if log_dropped:
        over = key_counts.filter(F.col("n") > max_bucket)
        n_docs_touched = (
            bands_all.join(over.select("band_id", "band_key"), ["band_id", "band_key"])
            .select("doc_id")
            .distinct()
            .count()
        )
        if n_docs_touched:
            import logging

            logging.getLogger(__name__).warning(
                "neardup_vs_index: max_bucket=%d dropped %d degenerate "
                "new-batch band keys touching %d distinct docs — those "
                "docs lose THESE bands only and may still match via "
                "their other bands",
                max_bucket,
                over.count(),
                n_docs_touched,
            )
    # consumed twice (combo collect + candidate join)
    bands_new = stage(
        bands_all.join(
            key_counts.filter(F.col("n") <= max_bucket).select(
                "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        ).withColumn("bucket", _hash_bucket_col(F.col("band_key"), m))
    )
    per_band: dict[int, list[int]] = {}
    for r in bands_new.select("band_id", "bucket").distinct().collect():
        per_band.setdefault(int(r["band_id"]), []).append(int(r["bucket"]))
    # explicit schema: an index whose every bucket was skew-capped (or a
    # rebuilt-empty index) has a bands/ dir with NO parquet files — schema
    # inference fails there, but the schema is fully determined by the
    # index contract (doc_id's type comes from sizes/)
    from pyspark.sql import types as T

    bands_schema = T.StructType(
        [
            T.StructField("doc_id", sizes_all.schema["doc_id"].dataType, True),
            T.StructField("band_key", T.StringType(), True),
            T.StructField("band_id", T.IntegerType(), True),
            T.StructField("bucket", T.LongType(), True),
        ]
    )
    idx = spark.read.schema(bands_schema).parquet(f"{path}/bands")
    if per_band:
        cond = None
        for band, buckets in sorted(per_band.items()):
            c = (F.col("band_id") == band) & F.col("bucket").isin(buckets)
            cond = c if cond is None else (cond | c)
        idx = idx.filter(cond)
    else:
        # an empty batch (or one whose every band key was capped) must
        # not cost a FULL index scan joined against nothing
        idx = idx.filter(F.lit(False))
    cands = (
        bands_new.select(
            F.col("doc_id").alias("new_id"), "band_id", "bucket", "band_key"
        )
        .join(
            idx.select(
                F.col("doc_id").alias("old_id"), "band_id", "bucket", "band_key"
            ),
            ["band_id", "bucket", "band_key"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    if checkpoint_candidates:
        # consumed twice (old-bucket collect + verify join); candidate
        # count is bounded by new-batch bands x max_bucket. False trades
        # one re-execution of the candidate join for a fully-lazy
        # returned plan (plan-shape tests assert the partition pruning
        # on the bands scan, which a checkpoint would hide)
        cands = stage(cands)
        release(bands_new)
    old_buckets = [
        int(r["b"])
        for r in cands.select(
            _hash_bucket_col(F.col("old_id"), doc_mod).alias("b")
        )
        .distinct()
        .collect()
    ]
    # consumed twice (shared join + sizes agg)
    sh_new = stage(
        _exploded_shingles(staged, "text", "doc_id", n).select(
            F.col("doc_id").alias("new_id"), F.md5("shingle").alias("h")
        )
    )
    release(staged)
    sizes_new = sh_new.groupBy("new_id").agg(F.count("*").alias("n_new"))
    # always prune — an empty bucket list means no candidates, and the
    # empty In() keeps the old-corpus scans at zero partitions
    sh_old = spark.read.parquet(f"{path}/shingles").filter(
        F.col("doc_bucket").isin(old_buckets)
    )
    sizes_old = sizes_all.filter(F.col("doc_bucket").isin(old_buckets))
    shared = (
        cands.join(sh_new, "new_id")
        .join(sh_old.select(F.col("doc_id").alias("old_id"), "h"), ["old_id", "h"])
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes_new, "new_id")
        .join(
            sizes_old.select(
                F.col("doc_id").alias("old_id"), F.col("n_sh").alias("n_old")
            ),
            "old_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("n_new") + F.col("n_old") - F.col("shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("new_id", "old_id", "shared", "jaccard")
    )
