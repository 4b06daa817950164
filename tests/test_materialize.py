"""Storage invariants of docproc_spark.materialize and of the operators
that stage intermediates through it.

Right after an operator call and one action on its result, with no wait
for garbage collection: the SQL CacheManager is empty, and every RDD the
call added to ``getPersistentRDDs`` is a ``LogicalRDD`` leaf of the
result's analyzed plan (staged for the result, freed when the result is
dropped). An operator that returns no DataFrame leaves nothing behind.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from docproc_spark.materialize import release, stage

PACKAGE = Path(__file__).resolve().parent.parent / "docproc_spark"


def _emb(spark, n=40):
    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _texts(spark, n=30):
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa"]
    rows = []
    for i in range(n):
        body = " ".join(words[(i + j) % 7] + str(j % (3 + i % 4)) for j in range(24))
        rows.append((i, body, ["en", "de"][i % 2]))
    rows.append((n, rows[0][1], "en"))  # one exact duplicate
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (10, 11)], "a long, b long"
    )


def _dup_components(spark, tmp):
    from docproc_spark.operators.dedupe import dup_components

    return dup_components(_pairs(spark))


def _train_bpe(strategy):
    def run(spark, tmp):
        from docproc_spark.operators.bpe import train_bpe

        return train_bpe(_texts(spark), n_merges=3, strategy=strategy)

    return run


def _pagerank(spark, tmp):
    from docproc_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2)], "src long, dst long"
    )
    return pagerank(edges, iters=3)


def _lsh_topk(spark, tmp):
    from docproc_spark.operators.similarity import lsh_topk

    return lsh_topk(_emb(spark), k=5)


def _cosine_lsh(spark, tmp):
    from docproc_spark.operators.similarity import cosine_neardup_pairs_lsh

    return cosine_neardup_pairs_lsh(_emb(spark), threshold=0.5)


def _semdedup(spark, tmp):
    from docproc_spark.operators.similarity import semdedup

    return semdedup(_emb(spark), threshold=0.9, n_lists=4, kmeans_iter=2)


def _ivf_topk(spark, tmp):
    from docproc_spark.operators.similarity import ivf_topk

    return ivf_topk(_emb(spark), k=5, n_lists=4, n_probe=2, kmeans_iter=2)


def _minhash_pairs(spark, tmp):
    from docproc_spark.operators.dedupe import minhash_neardup_pairs

    return minhash_neardup_pairs(_texts(spark), min_jaccard=0.3)


def _simhash_pairs(spark, tmp):
    from docproc_spark.operators.dedupe import simhash_neardup_pairs

    return simhash_neardup_pairs(_texts(spark))


def _remove_repeated_windows(spark, tmp):
    from docproc_spark.operators.dedupe import remove_repeated_windows

    return remove_repeated_windows(_texts(spark), window=4)


def _build_minhash_index(spark, tmp):
    from docproc_spark.operators.dedupe import build_minhash_index

    build_minhash_index(_texts(spark), str(tmp / "mh"), n_buckets=8, n_doc_buckets=4)


def _neardup_vs_index(spark, tmp):
    from docproc_spark.operators.dedupe import build_minhash_index, neardup_vs_index

    docs = _texts(spark)
    build_minhash_index(docs, str(tmp / "mh"), n_buckets=8, n_doc_buckets=4)
    return neardup_vs_index(docs.filter("doc_id < 6"), str(tmp / "mh"), min_jaccard=0.3)


def _build_vocab(spark, tmp):
    from docproc_spark.functions.text import build_vocab

    return build_vocab(_texts(spark), k=10)


def _lm_surprisal(spark, tmp):
    from docproc_spark.functions.text import lm_surprisal_buckets

    return lm_surprisal_buckets(_texts(spark), rank_buckets=4)


def _nb_classify(spark, tmp):
    from docproc_spark.functions.text import nb_classify

    return nb_classify(_texts(spark), label_col="lang")


def _dsir(spark, tmp):
    from docproc_spark.functions.text import dsir_weights

    docs = _texts(spark)
    return dsir_weights(docs, docs.filter("doc_id < 10"), n_buckets=64)


def _assign_shards(spark, tmp):
    from docproc_spark.operators.rank import assign_shards

    return assign_shards(_texts(spark), 4, rank_buckets=4)


def _pack_sequences(spark, tmp):
    from docproc_spark.operators.packing import pack_sequences

    return pack_sequences(_texts(spark), 16, n_buckets=4)


def _perceptual_clusters(spark, tmp):
    from docproc_spark.functions.media import perceptual_dup_clusters

    sigs = spark.createDataFrame(
        [("m1", 0x0F0F), ("m2", 0x0F0E), ("m3", 0x7FFF_0000_0000), ("m4", 0x0F0F)],
        "media_ref string, dhash64 long",
    )
    return perceptual_dup_clusters(sigs)


def _run_with_lineage(spark, tmp):
    from docproc_spark import corpus
    from docproc_spark.sources.lineage import run_with_lineage

    docs = corpus.corpus_df(spark, 12, seed=5, mega_spans=50, partitions=2)
    # a transform that stages nothing: what is left is run_with_lineage's own
    run_with_lineage(
        docs, str(tmp / "out"), str(tmp / "lin"),
        lambda d: d.select("doc_id", "spans"), n_parts=3,
    )


def _extract_derived(spark, tmp):
    from docproc_spark import corpus
    from docproc_spark.pipeline import extract

    # a derived (non-scan) input is staged before routing (pipeline._staged)
    return extract(corpus.corpus_df(spark, 12, seed=5, mega_spans=50, partitions=2))


def _extract_table_refine(spark, tmp):
    from docproc_spark import corpus
    from docproc_spark.config import EngineConfig
    from docproc_spark.facade import DocprocSpark

    path = str(tmp / "docs")
    corpus.corpus_df(spark, 8, seed=11, mega_spans=50, partitions=2).write.parquet(path)
    cfg = EngineConfig()
    cfg.ingest.use_llm_refine = True
    cfg.ingest.refine_provider = "stub-chat"
    return DocprocSpark(spark=spark, config=cfg).extract_table(spark.read.parquet(path))


CASES = {
    "dup_components": _dup_components,
    "train_bpe_local": _train_bpe("local"),
    "train_bpe_distributed": _train_bpe("distributed"),
    "pagerank": _pagerank,
    "lsh_topk": _lsh_topk,
    "cosine_neardup_pairs_lsh": _cosine_lsh,
    "semdedup": _semdedup,
    "ivf_topk": _ivf_topk,
    "minhash_neardup_pairs": _minhash_pairs,
    "simhash_neardup_pairs": _simhash_pairs,
    "remove_repeated_windows": _remove_repeated_windows,
    "build_minhash_index": _build_minhash_index,
    "neardup_vs_index": _neardup_vs_index,
    "build_vocab": _build_vocab,
    "lm_surprisal_buckets": _lm_surprisal,
    "nb_classify": _nb_classify,
    "dsir_weights": _dsir,
    "assign_shards": _assign_shards,
    "pack_sequences": _pack_sequences,
    "perceptual_dup_clusters": _perceptual_clusters,
    "run_with_lineage": _run_with_lineage,
    "extract_derived": _extract_derived,
    "extract_table_refine": _extract_table_refine,
}


def _persisted(sc) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keySet())


def _leaf_rdds(df) -> set[int]:
    """Ids of the RDDs under the LogicalRDD leaves of df's analyzed plan."""
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    ids = set()
    while it.hasNext():
        leaf = it.next()
        if leaf.nodeName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


@pytest.mark.parametrize("name", sorted(CASES))
def test_operator_leaves_only_its_result_staged(spark, tmp_path, name):
    sc = spark.sparkContext
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = _persisted(sc)
    out = CASES[name](spark, tmp_path)
    if out is not None:
        out.collect()
    assert cache_mgr.isEmpty(), f"{name} left a table in the CacheManager"
    added = _persisted(sc) - before
    owned = set() if out is None else _leaf_rdds(out)
    assert added <= owned, (
        f"{name} left RDDs {sorted(added - owned)} that its result does not read"
    )


def test_no_materialization_outside_materialize_module():
    pattern = re.compile(r"\.(cache\(\)|persist\(|localCheckpoint\(|checkpoint\()")
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "materialize.py" and path.parent == PACKAGE:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line):
                hits.append(f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)


def test_release_frees_a_local_stage(spark):
    sc = spark.sparkContext
    before = _persisted(sc)
    staged = stage(spark.range(30).select((F.col("id") * 2).alias("x")))
    assert _persisted(sc) - before == _leaf_rdds(staged)
    release(staged)
    assert not _persisted(sc) - before


@contextmanager
def _checkpoint_dir(sc, path: Path):
    """A checkpoint directory for the shared session, unset afterwards.
    The public API cannot unset it, so the SparkContext's field is put
    back to None directly."""
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)
    assert sc.getCheckpointDir() is None


def _files(root: Path) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def test_checkpoint_dir_switches_stage_to_reliable(spark, tmp_path):
    from docproc_spark.operators.dedupe import dup_components

    local = dup_components(_pairs(spark))
    want = sorted(tuple(r) for r in local.collect())
    release(local)

    ckpt = tmp_path / "ckpt"
    with _checkpoint_dir(spark.sparkContext, ckpt):
        # a reliable stage is written at once, even when asked to be lazy
        staged = stage(spark.range(30).select((F.col("id") * 3).alias("x")), eager=False)
        written = _files(ckpt)
        assert any("/rdd-" in f for f in written), written
        assert sorted(r["x"] for r in staged.collect()) == [3 * i for i in range(30)]
        release(staged)
        assert not _files(ckpt)

        # the reliable path gives the local path's rows, and the rounds
        # leave no files once the result is released
        reliable = dup_components(_pairs(spark))
        assert sorted(tuple(r) for r in reliable.collect()) == want
        assert _files(ckpt)
        release(reliable)
        assert not _files(ckpt)
