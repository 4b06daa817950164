"""Structured Streaming smoke + batch/stream parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from docproc_spark.streaming.events import (
    run_stream_once,
    session_windows,
    windowed_counts,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_windowed_counts_matches_batch(spark):
    got = run_stream_once(spark, EVENTS, windowed_counts, query_name="t_wc")
    batch = (
        spark.read.parquet(EVENTS)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    g = {(str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"]) for r in got.collect()}
    b = {(str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"]) for r in batch.collect()}
    assert g == b


def test_session_windows_counts(spark):
    got = run_stream_once(spark, EVENTS, session_windows, query_name="t_sw")
    rows = got.collect()
    assert len(rows) > 0
    total = sum(r["n_events"] for r in rows)
    assert total == spark.read.parquet(EVENTS).count()


def test_stateful_running_totals(spark):
    from docproc_spark.streaming.events import run_stream_once, running_user_totals

    got = run_stream_once(
        spark, EVENTS, running_user_totals, query_name="t_state", output_mode="update"
    )
    rows = got.collect()
    assert rows, "stateful operator emitted nothing"
    # final state per user must equal the batch aggregate
    final = {}
    for r in rows:  # update mode: later emissions supersede earlier ones
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        spark.read.parquet(EVENTS)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    )
    for b in batch:
        n, v = final[b["user_id"]]
        assert n == b["n"]
        assert abs(v - b["v"]) < 0.011  # per-batch rounding in the operator


def test_stateful_state_crosses_micro_batches(spark):
    """With maxFilesPerTrigger=1 over 4 chunks, the GroupState must carry
    across micro-batches: users emit multiple, increasing running totals."""
    from docproc_spark.streaming.events import run_stream_once, running_user_totals

    got = run_stream_once(
        spark, EVENTS, running_user_totals,
        query_name="t_state_mb", output_mode="update",
        max_files_per_trigger=1, n_chunks=4,
    )
    rows = got.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    # at least some users appear in >1 micro-batch with growing counts
    multi = {u: v for u, v in by_user.items() if len(v) > 1}
    assert multi, "no user emitted across multiple micro-batches"
    for u, counts in multi.items():
        assert counts == sorted(counts), f"user {u} totals not monotone: {counts}"
    # final totals equal the batch aggregate
    final = {u: max(v) for u, v in by_user.items()}
    batch = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(EVENTS).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == batch


def test_stream_dedupe_across_micro_batches(spark, tmp_path):
    """Replayed events (same file fed in a SECOND micro-batch) must be
    dropped by the dedupe state, not re-emitted."""
    import os

    from docproc_spark.streaming.events import dedupe_stream, run_stream_once

    src = os.path.abspath("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "dupes")
    os.makedirs(d)
    os.symlink(src, os.path.join(d, "a.parquet"))
    os.symlink(src, os.path.join(d, "b.parquet"))
    out = run_stream_once(
        spark, d, dedupe_stream, query_name="dedupe_mb",
        output_mode="append", max_files_per_trigger=1,
    )
    n_src = spark.read.parquet(src).count()
    assert out.count() == n_src                      # replay fully suppressed
    assert out.select("event_id").distinct().count() == n_src


def test_single_file_symlink_staging_repairs(spark, tmp_path):
    """The single-file staging dir must survive (a) a DANGLING symlink
    left by a deleted/regenerated source (exists() follows links and
    reported it absent, then symlink() raised EEXIST forever) and (b) a
    lost creation race (concurrent run with the same deterministic key)."""
    import os

    from pyspark.sql import functions as F

    from docproc_spark.streaming.events import run_stream_once

    src = str(tmp_path / "one.parquet")
    spark.createDataFrame([(1,), (2,)], "v long").coalesce(1).write.parquet(
        str(tmp_path / "d")
    )
    part = next(
        p for p in os.listdir(str(tmp_path / "d")) if p.endswith(".parquet")
    )
    os.rename(os.path.join(str(tmp_path / "d"), part), src)

    ident = lambda st: st.groupBy().agg(F.count("*").alias("n"))
    got = run_stream_once(spark, src, ident, query_name="t_link1")
    assert got.collect()[0]["n"] == 2

    # find the staged link and break it: point it at a deleted target
    import glob
    import tempfile

    links = glob.glob(os.path.join(tempfile.gettempdir(), "stream_src_*", "one.parquet"))
    assert links, "staging link not found"
    for link in links:
        os.unlink(link)
        os.symlink(src + ".gone", link)  # dangling
    got2 = run_stream_once(spark, src, ident, query_name="t_link2")
    assert got2.collect()[0]["n"] == 2
    # and a healthy pre-existing link is reused without error
    got3 = run_stream_once(spark, src, ident, query_name="t_link3")
    assert got3.collect()[0]["n"] == 2


def test_extract_stream_parity_and_resume(spark, tmp_path):
    """Streaming ingestion (streaming/ingest.extract_stream): per-document
    output is bit-equal to the batch extract (foreachBatch frames are
    static, so the span oracle applies verbatim); availableNow +
    maxFilesPerTrigger=1 yields one batch dir per input file; a re-run on
    the same checkpoint processes NOTHING new; files added later are
    picked up without reprocessing old ones."""
    import os

    from docproc_spark.corpus import corpus_df
    from docproc_spark.pipeline import extract
    from docproc_spark.streaming.ingest import run_extract_stream_once

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_df(spark, 24, seed=5, partitions=3).repartition(3).write.parquet(src)

    got1 = run_extract_stream_once(
        spark, src, out, ckpt, max_files_per_trigger=1
    )
    assert got1.count() == 24
    # one batch dir per input file (3 files -> 3 micro-batches)
    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert len(batch_dirs) == 3, batch_dirs

    # bit-parity with the batch pipeline, spans included
    def rowmap(df):
        return {
            r["doc_id"]: (
                r["markdown"],
                r["n_pages"],
                [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in (r["spans"] or [])
                ],
            )
            for r in df.collect()
        }

    want = rowmap(extract(spark.read.parquet(src)))
    assert rowmap(got1.drop("batch_id")) == want

    # resume: nothing new -> nothing reprocessed, output unchanged
    got2 = run_extract_stream_once(
        spark, src, out, ckpt, max_files_per_trigger=1
    )
    assert got2.count() == 24
    assert sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    ) == sorted(batch_dirs)

    # late-arriving file: only the new docs are added
    new = corpus_df(spark, 6, seed=8, partitions=1).select(
        F.concat(F.lit("new_"), F.col("doc_id")).alias("doc_id"),
        "doc_type",
        "raw_html",
        "spans",
    )
    new.coalesce(1).write.mode("append").parquet(src)
    got3 = run_extract_stream_once(
        spark, src, out, ckpt, max_files_per_trigger=1
    )
    assert got3.count() == 30
    ids = {r["doc_id"] for r in got3.select("doc_id").collect()}
    assert sum(1 for i in ids if i.startswith("new_")) == 6
    # per-batch lineage: one record per batch, doc counts sum to the
    # corpus, spans and throughput recorded
    from docproc_spark.streaming.ingest import stream_lineage

    lin = stream_lineage(out)
    assert [r["batch_id"] for r in lin] == sorted(r["batch_id"] for r in lin)
    assert len(lin) == 4  # 3 initial files + 1 late file
    assert sum(r["n_docs"] for r in lin) == 30
    assert all(r["n_spans"] > 0 and r["wall_s"] > 0 for r in lin)
    assert all(r["docs_per_sec"] > 0 for r in lin)
    # old rows bit-unchanged after the incremental drain
    m3 = rowmap(got3.drop("batch_id"))
    for k, v in want.items():
        assert m3[k] == v


def test_extract_stream_replays_uncommitted_batch_idempotently(spark, tmp_path):
    """Exactly-once across a crash INSIDE a batch: simulate 'output dir
    written but checkpoint commit lost' (the crash window between the
    sink write and the commit) by deleting the newest commit marker —
    the restart must replay that batch, overwrite its batch_id dir (no
    duplicate rows), and refresh its lineage record."""
    import os

    from docproc_spark.corpus import corpus_df
    from docproc_spark.streaming.ingest import (
        run_extract_stream_once,
        stream_lineage,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_df(spark, 20, seed=3, partitions=2).repartition(2).write.parquet(src)
    got = run_extract_stream_once(spark, src, out, ckpt, max_files_per_trigger=1)
    assert got.count() == 20
    lin1 = {r["batch_id"]: r for r in stream_lineage(out)}
    commits = sorted(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
    )
    assert len(commits) == 2
    # crash simulation: the last batch's data is on disk, its commit is
    # not (remove the Hadoop LocalFS .crc sidecar too — an orphaned crc
    # makes the metadata log read as concurrently-modified)
    for name in (str(commits[-1]), f".{commits[-1]}.crc"):
        p = os.path.join(ckpt, "commits", name)
        if os.path.exists(p):
            os.remove(p)

    got2 = run_extract_stream_once(spark, src, out, ckpt, max_files_per_trigger=1)
    assert got2.count() == 20  # replayed batch overwrote, never appended
    per_batch = {
        r["batch_id"]: r["n"]
        for r in got2.groupBy("batch_id").count().withColumnRenamed("count", "n").collect()
    }
    assert set(per_batch) == {0, 1}
    lin2 = {r["batch_id"]: r for r in stream_lineage(out)}
    assert set(lin2) == {0, 1}
    assert lin2[0] == lin1[0]  # committed batch untouched
    assert sum(r["n_docs"] for r in lin2.values()) == 20


def test_extract_stream_refuses_mixed_output_lineage(spark, tmp_path):
    """A fresh checkpoint over an output dir holding another lineage's
    batch_id dirs must raise, not silently merge stale batches (batch
    numbering restarts at 0 and only overwrites dirs the new run
    reaches); the same checkpoint keeps working; a different existing
    checkpoint is also refused."""
    import pytest as _pytest

    from docproc_spark.corpus import corpus_df
    from docproc_spark.streaming.ingest import run_extract_stream_once

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_df(spark, 8, seed=2, partitions=1).write.parquet(src)
    got = run_extract_stream_once(spark, src, out, ckpt)
    assert got.count() == 8

    # same checkpoint: fine (resume)
    assert run_extract_stream_once(spark, src, out, ckpt).count() == 8

    # fresh checkpoint over the same output dir: refused
    with _pytest.raises(ValueError, match="fresh checkpoint"):
        run_extract_stream_once(spark, src, out, str(tmp_path / "ckpt2"))

    # a DIFFERENT existing checkpoint: refused too
    out_b = str(tmp_path / "out_b")
    ckpt_b = str(tmp_path / "ckpt_b")
    run_extract_stream_once(spark, src, out_b, ckpt_b)
    with _pytest.raises(ValueError, match="refusing to mix"):
        run_extract_stream_once(spark, src, out, ckpt_b)


def test_extract_rejects_a_streaming_frame(spark, tmp_path):
    """extract() routes batch inputs only: a readStream frame is refused
    with a ValueError naming extract_stream while the plan is built, and
    extract_stream's foreachBatch frames are batch frames."""
    import pytest as _pytest

    from docproc_spark.corpus import corpus_df
    from docproc_spark.pipeline import extract

    src = str(tmp_path / "src")
    corpus_df(spark, 4, seed=3, partitions=1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    assert stream.isStreaming
    with _pytest.raises(ValueError, match="extract_stream"):
        extract(stream)
