"""Checkpoint/lineage + resume: a failed run must resume without recomputing
completed partitions (north-rule requirement)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docproc_spark import corpus
from docproc_spark.pipeline import extract
from docproc_spark.sources.lineage import completed_parts, run_with_lineage


def test_resume_skips_completed_buckets(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    prog = str(tmp_path / "progress.jsonl")
    docs = corpus.corpus_df(spark, 60, seed=7, mega_spans=200, partitions=4)

    # first run crashes after 3 of 6 buckets
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_lineage(
            docs, out, lin, extract, n_parts=6, fail_after=3, progress_path=prog
        )
    done_before = completed_parts(spark, lin)
    assert len(done_before) == 3

    # resume: processes ONLY the remaining buckets
    processed = run_with_lineage(
        docs, out, lin, extract, n_parts=6, progress_path=prog
    )
    assert len(processed) == 3
    assert set(processed).isdisjoint(done_before)

    # tail-able progress feed (reference --progress-file protocol): two
    # start lines (second announces the resumed buckets) + one line per
    # committed bucket with metrics
    import json as _json

    events = [_json.loads(line) for line in open(prog)]
    starts = [e for e in events if e["event"] == "start"]
    buckets = [e for e in events if e["event"] == "bucket"]
    assert len(starts) == 2 and starts[1]["resumed_done"] == sorted(done_before)
    assert len(buckets) == 6
    assert buckets[-1]["done"] == 6 and all(b["docs_per_sec"] >= 0 for b in buckets)

    # lineage has one record per bucket with throughput metrics
    lineage = spark.read.parquet(lin)
    rows = lineage.collect()
    assert {r["part"] for r in rows} == set(range(6))
    assert all(r["docs_per_sec"] >= 0 for r in rows)
    assert all(r["n_spans"] >= 0 for r in rows)

    # output complete: every doc extracted exactly once
    result = spark.read.parquet(out)
    assert result.select("doc_id").distinct().count() == 60
    total = lineage.agg(F.sum("n_docs")).collect()[0][0]
    assert total == 60


def test_rerun_of_completed_bucket_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    docs = corpus.corpus_df(spark, 20, seed=9, mega_spans=100, partitions=2)
    run_with_lineage(docs, out, lin, extract, n_parts=2)
    before = spark.read.parquet(out).count()
    # simulate a retry of bucket 0 after a lost lineage record: dynamic
    # partition overwrite must REPLACE, not duplicate
    import shutil

    shutil.rmtree(lin)
    run_with_lineage(docs, out, lin, extract, n_parts=2)
    after = spark.read.parquet(out).count()
    assert before == after


def test_completed_parts_first_run_skips_the_read(spark, tmp_path, monkeypatch):
    """A missing lineage path is a first run, answered from the file system
    without spark.read (whose failed read logs a WARN stack trace); an
    existing but unreadable table still raises."""
    from pyspark.sql import SparkSession

    def no_read(self):
        raise AssertionError("spark.read called for a missing lineage path")

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "read", property(no_read))
        assert completed_parts(spark, str(tmp_path / "missing")) == set()

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        completed_parts(spark, str(corrupt))
