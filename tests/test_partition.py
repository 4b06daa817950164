"""Focused tests for the r6 optimizations: scan_fanout (single-row-group
input repair) and the minhash band-exclusion pushdown fix."""

from __future__ import annotations

from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest

from docproc_spark.partition import scan_fanout


def test_scan_fanout_repairs_low_split_input(spark, tmp_path):
    src = str(tmp_path / "one_group")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = scan_fanout(df, key="doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # values untouched, exchange is keyed (no round-robin local sort)
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(1000))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan


def test_scan_fanout_noop_on_well_split_input(spark):
    df = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
    assert scan_fanout(df) is df, "well-split input must pass through unchanged"


def test_scan_fanout_respects_explicit_target(spark, tmp_path):
    src = str(tmp_path / "one_group2")
    spark.range(100).coalesce(1).write.parquet(src)
    out = scan_fanout(spark.read.parquet(src), target=4)
    assert out.rdd.getNumPartitions() == 4


def test_scan_fanout_min_bytes_gate(spark, tmp_path):
    """min_bytes is the light-per-row-work opt-in: a low-split input
    SMALLER than the threshold passes through (the exchange would cost
    more than the serial work), one bigger than it still fans out."""
    src = str(tmp_path / "tiny")
    spark.range(1000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > 0
    # gate above the estimate → pass-through; at/below it → fanout fires
    assert scan_fanout(df, key="k", min_bytes=est * 10) is df
    out = scan_fanout(df, key="k", min_bytes=max(1, est // 10))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # default stays ungated: min_bytes=0 fans even a tiny input
    assert (
        scan_fanout(df, key="k").rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_minhash_band_exclusion_not_pushed_below_exchange(spark, tmp_path):
    """The NULL-signature exclusion must ride inside the posexplode, not
    as a filter: a pushable predicate on the computed mh0 re-runs the
    whole per-token md5 expression below any upstream exchange (the
    single-task scan stage) — the regression this pins was 1.56 s vs
    0.71 s at sf1.0."""
    from docproc_spark.operators.dedupe import minhash_band_histogram

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        # fully disjoint token sets → distinct signatures → 50 singleton
        # buckets per band, zero candidate pairs
        [(i, f"tok{i}a tok{i}b tok{i}c") for i in range(50)]
        + [(99, None), (98, "   ")],  # NULL-signature docs still excluded
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    docs = scan_fanout(spark.read.parquet(src), key="doc_id")
    df = minhash_band_histogram(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no Filter node carrying the minhash expression below the exchange
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(f"minhash expression leaked into a Filter: {line[:200]}")
    rows = {r["band_id"]: r for r in df.collect()}
    # 50 real docs, 2 bands; the two empty docs contribute nothing
    assert set(rows) == {0, 1}
    assert all(r["n_buckets"] == 50 for r in rows.values())
    assert all(r["n_candidate_pairs"] == 0 for r in rows.values())


def test_image_signatures_fanout_preserves_values(spark):
    """image_signatures fans a single-partition input out to session
    parallelism; signatures must be identical to the serial result."""
    import numpy as np

    from docproc_spark.functions.media import image_signatures
    from docproc_spark.kernels.imagepix import encode_png, image_signature

    blobs = []
    for d in range(30):
        px = ((np.arange(12 * 9 * 3) * (d + 7)) % 256).astype(np.uint8)
        blobs.append(encode_png(px.tobytes(), 12, 9))
    df = spark.createDataFrame([(b,) for b in blobs], "blob binary").coalesce(1)
    out = image_signatures(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    got = {r["media_ref"]: (r["dhash64"], r["ahash64"]) for r in out.collect()}
    import hashlib

    for b in blobs:
        sig = image_signature(b)
        ref = hashlib.sha256(b).hexdigest()
        assert got[ref] == (sig["dhash64"], sig["ahash64"])


# ---------------------------------------------------------------------------
# narrow fallbacks: only "cannot introspect" errors take the slow path
# ---------------------------------------------------------------------------
class _NoJdf:
    """A DataFrame stand-in with no ``_jdf`` (as on Spark Connect) and a
    single partition; ``repartition`` records its argument."""

    isStreaming = False
    sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
    rdd = SimpleNamespace(getNumPartitions=lambda: 1)

    def repartition(self, n):
        return ("repartitioned", n)


def _failing_jdf(exc: Exception):
    def raise_(*_):
        raise exc

    return SimpleNamespace(queryExecution=raise_)


def test_fallbacks_take_only_introspection_errors(monkeypatch, caplog):
    from docproc_spark import partition
    from docproc_spark.pipeline import _is_scan_like

    monkeypatch.setattr(partition, "_disabled_logged", set())
    stub = _NoJdf()
    with caplog.at_level("WARNING", logger="docproc_spark.partition"):
        assert _is_scan_like(stub) is False
        assert _is_scan_like(stub) is False
        # size gate unavailable → the fanout runs ungated
        assert scan_fanout(stub, min_bytes=10**9) == ("repartitioned", 4)
        no_rdd = SimpleNamespace(isStreaming=False, sparkSession=_NoJdf.sparkSession)
        assert scan_fanout(no_rdd) is no_rdd
    sites = [r.getMessage().split(" disabled")[0] for r in caplog.records]
    assert sites == ["extract routing probe", "scan_fanout min_bytes gate",
                     "scan_fanout partition count"], "each site logs once"

    broken = SimpleNamespace(_jdf=_failing_jdf(ValueError("bug")))
    with pytest.raises(ValueError):
        _is_scan_like(broken)
    stub._jdf = _failing_jdf(KeyError("bug"))
    with pytest.raises(KeyError):
        scan_fanout(stub, min_bytes=10**9)

    def count_fails():
        raise RuntimeError("bug")

    stub.rdd = SimpleNamespace(getNumPartitions=count_fails)
    with pytest.raises(RuntimeError):
        scan_fanout(stub)
