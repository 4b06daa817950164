"""Routing of parquet scans from their footers: extract() proves that no
document crosses the mega-document threshold from the files' row-group
statistics and builds the single-map plan without a Spark job, and runs
its routing probe job wherever the footers cannot prove it. Every output
equals the single-process oracle."""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docproc_spark import corpus, oracle, pipeline
from docproc_spark.pipeline import extract
from docproc_spark.plans.explain import executed_plan

# every fixture class, the html_boiler pages and one 200-span mega_doc
# (index 83) included
N_DOCS, SEED, MEGA_SPANS = 90, 61, 200
_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("doc_type", pa.string()), ("raw_html", pa.string()),
     ("spans", pa.list_(pa.struct(
         [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
          ("page", pa.int32()), ("offset", pa.int32())]))),
     ("n_spans", pa.int64())]
)
_groups = itertools.count()


@pytest.fixture(scope="module")
def rows() -> list[dict]:
    docs = [corpus.gen_doc(i, seed=SEED, mega_spans=MEGA_SPANS) for i in range(N_DOCS)]
    return [{**d, "n_spans": len(d["spans"] or [])} for d in docs]


@pytest.fixture(scope="module")
def spark_written(spark, tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("footers") / "docs")
    corpus.corpus_df(spark, N_DOCS, seed=SEED, mega_spans=MEGA_SPANS, partitions=3) \
        .write.parquet(path)
    return path


def _estimate(row: dict) -> int:
    """extract's routing estimate of one row: n_spans + len(raw_html)/8."""
    return (row["n_spans"] or 0) + len(row["raw_html"] or "") // 8


def _write(rows: list[dict], path: str, **options) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA),
                   os.path.join(path, "part-0.parquet"), **options)
    return path


def _extract_counting_jobs(spark, docs):
    """extract(docs), and the number of Spark jobs it ran while it built
    its result, read from the status tracker under a job group of its
    own."""
    sc = spark.sparkContext
    group = f"footer-routing-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        res = extract(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def _single_map(res) -> bool:
    plan = executed_plan(res)
    return "Union" not in plan and plan.count("MapInArrow") == 1


def _assert_oracle(res, rows: list[dict]) -> None:
    def summary(d: dict) -> tuple:
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]
        return d["markdown"], d["n_pages"], spans

    want = {r["doc_id"]: summary(oracle.extract_doc(r)) for r in rows}
    got = {r["doc_id"]: summary(r.asDict(recursive=True)) for r in res.collect()}
    assert got == want


def test_parquet_scan_is_routed_without_a_job(spark, spark_written, rows):
    docs = spark.read.parquet(spark_written)
    res, jobs = _extract_counting_jobs(spark, docs)
    assert jobs == 0
    assert _single_map(res), executed_plan(res)
    _assert_oracle(res, rows)

    # a Filter and a Project above the scan keep the footers' answer
    kept = [r for r in rows if r["n_spans"] > 2]
    narrowed = docs.filter(F.col("n_spans") > 2).select("doc_id", "spans", "raw_html", "n_spans")
    res, jobs = _extract_counting_jobs(spark, narrowed)
    assert jobs == 0 and _single_map(res)
    _assert_oracle(res, kept)


def test_computed_n_spans_takes_the_probe(spark, spark_written, rows):
    """The footers describe the file's n_spans, not a computed column of
    the same name: the probe job sees 10**6 and keeps the salted union."""
    docs = spark.read.parquet(spark_written).withColumn("n_spans", F.lit(10**6))
    res, jobs = _extract_counting_jobs(spark, docs)
    assert jobs > 0
    assert "Union" in executed_plan(res)
    _assert_oracle(res, rows)


def test_mega_document_in_parquet_takes_the_salted_union(
    spark, spark_written, rows, monkeypatch
):
    threshold = 150
    assert max(r["n_spans"] for r in rows) > threshold
    docs = spark.read.parquet(spark_written)
    monkeypatch.setattr(pipeline, "MEGA_DOC_SPANS", threshold)
    res, jobs = _extract_counting_jobs(spark, docs)
    assert jobs > 0
    assert "Union" in executed_plan(res)
    _assert_oracle(res, rows)


def test_partition_column_n_spans_takes_the_probe(spark, tmp_path, rows):
    """Files that carry an n_spans of 1 under an n_spans=1000000 directory:
    Spark reads the partition value, so the footers' statistic says
    nothing about the column extract routes on."""
    table = str(tmp_path / "partitioned")
    _write([{**r, "n_spans": 1} for r in rows], os.path.join(table, "n_spans=1000000"))
    docs = spark.read.parquet(table)
    assert docs.select(F.max("n_spans")).first()[0] == 10**6
    res, jobs = _extract_counting_jobs(spark, docs)
    assert jobs > 0
    assert "Union" in executed_plan(res)
    _assert_oracle(res, rows)


@pytest.mark.parametrize(
    "options",
    [
        {"write_statistics": False},
        {"use_dictionary": False, "column_encoding": {"raw_html": "DELTA_BYTE_ARRAY"}},
    ],
    ids=["no-statistics", "delta-byte-array-raw-html"],
)
def test_unprovable_footers_take_the_probe(spark, tmp_path, rows, options):
    docs = spark.read.parquet(_write(rows, str(tmp_path / "docs"), **options))
    res, jobs = _extract_counting_jobs(spark, docs)
    assert jobs > 0
    assert _single_map(res), executed_plan(res)
    _assert_oracle(res, rows)


def test_row_group_bound_over_threshold_runs_the_probe(spark, tmp_path, rows, monkeypatch):
    """A row group's bound (max n_spans + all its raw_html bytes / 8) can
    cross the threshold while no document does: the probe job decides, and
    finds the single map."""
    threshold = max(_estimate(r) for r in rows)
    html_bytes = sum(len((r["raw_html"] or "").encode()) for r in rows)
    assert max(r["n_spans"] for r in rows) + html_bytes // 8 > threshold
    docs = spark.read.parquet(_write(rows, str(tmp_path / "docs")))
    monkeypatch.setattr(pipeline, "MEGA_DOC_SPANS", threshold)
    res, jobs = _extract_counting_jobs(spark, docs)
    assert jobs > 0
    assert _single_map(res), executed_plan(res)
    _assert_oracle(res, rows)
