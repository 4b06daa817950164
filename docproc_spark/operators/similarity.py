"""Similarity search over an embedding column (array<float>).

Two paths:
  brute_force_topk — exact cosine top-k against a query vector. The dot
    product is a sequential F.aggregate over the zipped arrays so a plain
    SQL engine (the DuckDB oracle) reproduces the same double-precision
    result bit-for-bit.
  lsh_topk — random-hyperplane LSH: deterministic pseudo-random planes
    derived from a seed (md5-mixed per (plane, dim) — no RNG state, so
    any engine regenerates the same planes from the literals alone), bucket
    by sign pattern, search only the query's bucket across bands.
    This is the 100-TB path: the bucket join replaces the full scan.

Cross-engine determinism contract: plane weights are
``(int(md5(f"{seed}:{plane}:{d}")[:8 hex], 16) % 1_000_000) / 500_000 - 1``
— the identical double falls out of Python hashlib, Spark ``md5``/``conv``
and DuckDB ``md5``/hex-cast, and the dot products are sequential left folds
(``F.aggregate`` ≡ DuckDB ``list_reduce``), so every approximate result here
is bit-reproducible by the plain-SQL oracle. xxhash64 (the previous scheme)
had no DuckDB counterpart, which kept these queries out of the hash-checked
correctness gate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docproc_spark.materialize import release, stage


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    # NULL (not NaN / ANSI DIVIDE_BY_ZERO) when either norm is zero:
    # similarity to a zero-norm vector is undefined, and NULL is exactly
    # what the DuckDB oracle's x/0.0 yields — engine-identical, and NULL
    # falls out of max()/comparisons instead of NaN winning them.
    return dot_col(a, b) / F.nullif(norm_col(a) * norm_col(b), F.lit(0.0))


def brute_force_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs the row with id == query_vec_id.

    The single query row is broadcast (crossJoin of a 1-row side) — at any
    scale this is a map-only scan + a driver-side top-k (AQE keeps the
    final sort tiny because only k rows survive the limit).
    """
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_vec_id)
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine_col(F.col(vec_col), F.col("_qvec")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _dims_of(emb: DataFrame, vec_col: str, dims: int | None = None) -> int:
    """Embedding dimensionality — ONE probe job, only when not supplied.

    ArrayType carries no length, so the schema alone can't answer; callers
    that know dims pass it and no job runs. Band loops must resolve dims
    once up front — a probe inside lsh_buckets would launch one Spark job
    per band (12× for the 12-band ANN query)."""
    if dims is not None:
        return dims
    return len(emb.select(vec_col).first()[0])


def md5_uniform(key: str) -> float:
    """Deterministic uniform in [-1, 1) from an md5 key — THE cross-engine
    pseudo-random-parameter primitive (bit-identical in Python hashlib,
    Spark md5/conv/cast, and DuckDB CAST(concat('0x', substr(md5(..), 1,
    8)) AS BIGINT)). Every derived-parameter family (LSH hyperplanes,
    classifier weights) must share this exact formula: the constants
    (first 8 hex digits, % 1e6, / 5e5) are part of the oracle contract."""
    h = hashlib.md5(key.encode()).hexdigest()
    return (int(h[:8], 16) % 1_000_000) / 500_000.0 - 1.0


def md5_uniform_col(key: Column) -> Column:
    """Column twin of md5_uniform — SAME constants, JVM-side. Any Spark
    plan that derives parameters per row must build the expression here
    so the formula cannot drift from the Python/DuckDB copies (guarded
    by tests/test_operators.py::test_md5_uniform_twins_agree)."""
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 1_000_000
    ).cast("double") / 500_000.0 - 1.0


def plane_weight(seed: int, plane: int, d: int) -> float:
    """One hyperplane component — see the module determinism contract."""
    return md5_uniform(f"{seed}:{plane}:{d}")


def _plane_values(plane: int, dims: int, seed: int) -> list[float]:
    return [plane_weight(seed, plane, d) for d in range(dims)]


def _plane_weights(plane: int, dims: int, seed: int) -> Column:
    """Deterministic pseudo-random hyperplane (array<double>, components in
    [-1, 1)) derived by md5-mixing (seed, plane, dim).

    Materialized driver-side as a LITERAL array: zero per-row hash work in
    the scan (the previous per-row xxhash64 recomputed every plane component
    for every row), nothing to broadcast, and bit-identical doubles are
    reproducible in any engine from the formula alone.
    """
    return F.array(*[F.lit(w) for w in _plane_values(plane, dims, seed)])


def bucket_of(vec, n_planes: int, seed: int) -> int:
    """Driver-side twin of _bucket_expr — same doubles, same left fold, so
    a query row's bucket needs no Spark job. float32 embedding components
    widen exactly to double in both paths."""
    bucket = 0
    for p in range(n_planes):
        acc = 0.0
        for x, w in zip(vec, _plane_values(p, len(vec), seed)):
            acc += float(x) * w
        if acc >= 0:
            bucket += 2**p
    return bucket


def _bucket_expr(vec_col: str, n_planes: int, dims: int, seed: int) -> Column:
    """Sign-pattern LSH bucket id (one long) as a pure Column expression."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        dot = dot_col(F.col(vec_col), _plane_weights(p, dims, seed))
        bucket = bucket + F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _banded_buckets(
    emb: DataFrame,
    n_bands: int,
    planes_per_band: int,
    seed: int,
    id_col: str,
    vec_col: str,
    dims: int,
) -> DataFrame:
    """(vec_id, vec, band, bucket) for ALL bands in ONE corpus scan —
    posexplode of the per-band bucket ids, the same shape build_lsh_index
    persists. Band-loop callers that union per-band lsh_buckets frames pay
    one corpus scan (with per-row hyperplane dot products) per band per
    join side; this is the single-scan replacement."""
    buckets = F.array(
        *[
            _bucket_expr(vec_col, planes_per_band, dims, seed + band * 7919)
            for band in range(n_bands)
        ]
    )
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col),
        F.posexplode(buckets).alias("band", "bucket"),
    )


def lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Assign each vector a sign-pattern LSH bucket id (one long)."""
    dims = _dims_of(emb, vec_col, dims)
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col),
        _bucket_expr(vec_col, n_planes, dims, seed).alias("bucket"),
    )


def cosine_neardup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (a < b, sim ≥ threshold).

    O(n²) self-join — the correctness baseline for the LSH variant; run it
    only on bounded inputs (the LSH path is the 100-TB route)."""
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs with band-OR amplification.

    A single sign-pattern bucket catches a pair of angle θ with probability
    p^r where p = 1 - θ/π — only ~8% at θ≈66° with r=6. Banding ORs b
    independent plane sets: recall = 1 - (1 - p^r)^b. With the defaults
    (r=6, b=4) a true near-dup (sim ≥ 0.9, θ ≤ 26°) is caught with ~87%
    probability while each band still partitions the space 2^6 ways.
    Candidate volume scales with b — the r/b trade is recall vs join size;
    exact cosine then confirms within candidates. Selectivity only pays at
    near-dup thresholds (low θ); at loose thresholds prefer the exact
    operator on a bounded candidate set.

    The banded-bucket table is staged lazily: the self-join reads it on
    both sides, and its blocks go with the returned frame.
    """
    dims = _dims_of(emb, vec_col)  # one probe for all bands
    # one corpus scan for all bands
    b = stage(
        _banded_buckets(emb, n_bands, planes_per_band, seed, id_col, vec_col, dims),
        eager=False,
    )
    left = b.select(
        "band", "bucket", F.col("vec_id").alias("a"), F.col(vec_col).alias("va")
    )
    right = b.select(
        "band", "bucket", F.col("vec_id").alias("b"), F.col(vec_col).alias("vb")
    )
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
    )
    return (
        pairs.dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.7,
    n_lists: int = 16,
    kmeans_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
    deterministic_fit: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embeddings, then within each cluster drop every vector whose
    cosine similarity to a LOWER-id cluster member reaches ``threshold``
    (first-wins inside the cluster, mirroring the exact-dedupe keeper rule).

    Returns one row per input vector:
      (vec_id, cent_id, max_prior_sim, keep)
    where max_prior_sim is the max cosine to any lower-id same-cluster
    member (rounded to 4 for display; NULL for the cluster's lowest id) and
    keep is the survival verdict. Callers drop ``keep = false`` rows.

    Scale shape: this is the whole point of the clustering step — pairwise
    similarity is CLUSTER-scoped, O(Σ cᵢ²) instead of O(n²); n_lists grows
    with the corpus so cluster sizes stay bounded, and the assignment is
    one scan with a broadcast centroid table. The within-cluster self-join
    shuffles on cent_id only, and each vector's norm is computed ONCE in
    the staged assignment table, not per pair (HOF folds are interpreted —
    no subexpression elimination across pairs). At 100-TB scale fit the
    quantizer on a sample: ``fit_fraction`` filters the fit input by the
    engine-portable md5 hash of the id (sampling.hash_sample — still
    deterministic), and ``deterministic_fit=False`` swaps the sorted-fold
    centroid means for streaming avg (kmeans_centroids' documented
    massive-fit path, bit-reproducibility traded away). The defaults
    (full-corpus, deterministic) are the oracle-checkable configuration.

    The assignment table feeds both sides of the self-join plus the final
    left join, so it is staged, and the returned frame holds it. It is
    staged eagerly because the centroids it reads are released before
    returning.
    """
    fit_input = emb
    if fit_fraction is not None:
        if not 0.0 < fit_fraction <= 1.0:
            raise ValueError(f"fit_fraction must be in (0, 1]: {fit_fraction}")
        from docproc_spark.operators.sampling import hash_sample

        fit_input = hash_sample(emb, fit_fraction, key_col=id_col)
    cents = kmeans_centroids(
        fit_input,
        n_lists=n_lists,
        n_iter=kmeans_iter,
        id_col=id_col,
        vec_col=vec_col,
        deterministic=deterministic_fit,
    )
    assigned = stage(
        _assign_to_centroids(emb, cents, id_col, vec_col).withColumn(
            "_sd_norm", norm_col(F.col(vec_col))
        )
    )
    release(cents)
    left = assigned.select(
        "cent_id",
        F.col("vec_id").alias("a"),
        F.col(vec_col).alias("va"),
        F.col("_sd_norm").alias("na"),
    )
    right = assigned.select(
        "cent_id",
        F.col("vec_id").alias("b"),
        F.col(vec_col).alias("vb"),
        F.col("_sd_norm").alias("nb"),
    )
    sims = (
        left.join(right, "cent_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("b")
        .agg(
            # Zero-norm guard: Spark 0.0/0.0 is NaN (which wins max() and
            # defeats `mx < threshold`), DuckDB x/0.0 is NULL. Emit NULL
            # for zero-norm pairs so all-zero embeddings (e.g. hash_embed
            # of empty docs) are never silently dropped as duplicates of
            # each other, matching the oracle's NULL-division semantics.
            F.max(
                F.when(
                    (F.col("na") > 0) & (F.col("nb") > 0),
                    dot_col(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")),
                )
            ).alias("mx")
        )
        .select(F.col("b").alias("vec_id"), "mx")
    )
    return assigned.select("vec_id", "cent_id").join(sims, "vec_id", "left").select(
        "vec_id",
        "cent_id",
        F.round(F.col("mx"), 4).alias("max_prior_sim"),
        (F.col("mx").isNull() | (F.col("mx") < F.lit(threshold))).alias("keep"),
    )


def kmeans_centroids(
    emb: DataFrame,
    n_lists: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    deterministic: bool = True,
) -> DataFrame:
    """Deterministic Lloyd iterations, pure DataFrame ops.

    Init = the n_lists lowest-id vectors (a fixed seed set); each round
    assigns every vector to its max-cosine centroid (crossJoin with the
    BROADCAST centroid table — tiny) and recomputes centroids as the
    element-wise mean of their members. Empty clusters keep their previous
    centroid. Ties break on cent_id; no RNG anywhere.
    Returns (cent_id, cvec as array<double>).

    deterministic=True computes each per-(cluster, dim) mean as a sorted
    left fold (collect → array_sort → F.aggregate), which makes the fit
    BIT-reproducible regardless of partitioning — float addition is not
    associative, so a plain F.avg changes in the last ulp with task order,
    enough to flip an assignment on a near-tie and derail a hash-checked
    oracle. The sorted fold costs a per-group collect; for massive fits
    (where k-means runs over a sample anyway) pass deterministic=False to
    use streaming avg.

    Each round's centroids are staged and the previous round's released;
    the returned frame is the last round's staged table (tiny: n_lists
    rows).
    """
    cents = stage(
        emb.orderBy(id_col).limit(n_lists).select(
            F.col(id_col).alias("cent_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
        ),
        eager=False,
    )
    for _ in range(n_iter):
        # one assignment rule for fit AND index build — a second inline
        # copy could silently drift on the tie-break
        assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
        # element-wise mean per cluster: explode dims, mean, regroup
        if deterministic:
            mean_agg = (
                F.aggregate(
                    F.array_sort(F.collect_list(F.col("x").cast("double"))),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.count("*")
            ).alias("m")
        else:
            mean_agg = F.avg(F.col("x").cast("double")).alias("m")
        means = (
            assigned.select(
                "cent_id", F.posexplode(F.col(vec_col)).alias("d", "x")
            )
            .groupBy("cent_id", "d")
            .agg(mean_agg)
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "m"))),
                    lambda s: s["m"],
                ).alias("new_cvec")
            )
        )
        # staged each round: the next round reads cents on BOTH the
        # assignment and the join side (no fan-out CSE) — unstaged, the
        # plan re-executes every earlier round, ~2^n_iter blowup
        new_cents = stage(
            cents.join(means, "cent_id", "left").select(
                "cent_id",
                F.coalesce("new_cvec", "cvec").alias("cvec"),  # keep empty clusters
            )
        )
        release(cents)
        cents = new_cents
    return cents


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer + probed inverted lists.

    Centroids come from deterministic Lloyd iterations (kmeans_centroids);
    every vector is assigned to its nearest centroid (the inverted list);
    a query searches only the n_probe nearest lists. At scale the assigned
    table is written partitioned by list id → partition pruning makes a
    query touch ~n_probe/n_lists of the data, and the k-means fit is an
    offline job over a sample.
    """
    cents = kmeans_centroids(
        emb, n_lists=n_lists, n_iter=kmeans_iter, id_col=id_col, vec_col=vec_col
    )
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    qrow = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec")
    )
    probe_lists = (
        cents.crossJoin(F.broadcast(qrow))
        .select("cent_id", cosine_col(F.col("cvec"), F.col("_qvec")).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("cent_id"))
        .limit(n_probe)
        .select("cent_id")
    )
    return (
        assigned.join(F.broadcast(probe_lists), "cent_id")
        .crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(cosine_col(F.col(vec_col), F.col("_qvec")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def lsh_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket,
    band-OR amplified (union of the query's bucket across b independent
    plane sets — same recall math as cosine_neardup_pairs_lsh).

    At scale the bucketed table is written partitioned by (band, bucket) —
    build_lsh_index + lsh_index_topk below — and a query reads b/2^r of
    the data via partition pruning.

    The banded-bucket table is staged lazily (the candidate join reads it
    on both sides), and its blocks go with the returned frame.
    """
    dims = _dims_of(emb, vec_col)  # one probe for all bands
    b = stage(
        _banded_buckets(emb, n_bands, planes_per_band, seed, id_col, vec_col, dims),
        eager=False,
    )
    qrows = b.filter(F.col("vec_id") == query_vec_id).select(
        "band", "bucket", F.col(vec_col).alias("_qvec")
    )
    cands = (
        b.join(F.broadcast(qrows), ["band", "bucket"])
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.col(vec_col).alias("_v"), "_qvec")
    )
    return (
        cands.dropDuplicates(["vec_id"])
        .select(
            "vec_id",
            F.round(cosine_col(F.col("_v"), F.col("_qvec")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Persisted ANN index — the 100-TB query path
# ---------------------------------------------------------------------------
# Build once (one scan of the corpus), write partitioned by (band, bucket);
# every query is then a partition-PRUNED scan of ~b/2^r of the data plus an
# exact-cosine re-rank. Index parameters (bands/planes/seed) are the
# caller's contract — at scale they live in a catalog entry next to the
# table.


def build_lsh_index(
    emb: DataFrame,
    path: str,
    n_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> int:
    """Write the band-OR bucket table partitioned by (band, bucket).

    Single corpus scan: all band buckets are computed in one projection and
    posexploded — NOT one union branch (= one scan) per band. Returns dims
    so the caller can thread it into queries without another probe."""
    dims = _dims_of(emb, vec_col, dims)
    rows = _banded_buckets(emb, n_bands, planes_per_band, seed, id_col, vec_col, dims)
    rows.write.mode("overwrite").partitionBy("band", "bucket").parquet(path)
    return dims


def lsh_index_topk(
    spark,
    path: str,
    query_vec,
    k: int = 10,
    n_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k against a built LSH index: exact cosine within the query's
    bucket per band, read via partition pruning (band, bucket) — the scan
    touches ~n_bands/2^planes_per_band of the index files."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    # the query's bucket per band: computed driver-side (bucket_of is the
    # bit-exact twin of the build's _bucket_expr) — no Spark job at all
    pred = None
    for band in range(n_bands):
        qb = bucket_of(query_vec, planes_per_band, seed + band * 7919)
        c = (F.col("band") == band) & (F.col("bucket") == qb)
        pred = c if pred is None else (pred | c)
    idx = spark.read.parquet(path).filter(pred)
    if exclude_vec_id is not None:
        idx = idx.filter(F.col("vec_id") != exclude_vec_id)
    return (
        idx.dropDuplicates(["vec_id"])
        .select(
            "vec_id",
            F.round(cosine_col(F.col(vec_col), qlit), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _assign_to_centroids(
    emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment; deterministic tie-break."""
    return (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("dist", -cosine_col(F.col(vec_col), F.col("cvec")))
        .withColumn(
            "rn",
            # asc_nulls_last mirrors DuckDB's ASC default: a zero-norm
            # vector (all dists NULL) lands on the lowest cent_id in both
            # engines instead of crashing or diverging
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("dist").asc_nulls_last(), F.col("cent_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col), F.col("cent_id"))
    )
