"""Per-partition checkpoint / lineage + resumable runs.

North-rule requirement: a failed extraction run must resume without
recomputing completed partitions, with per-partition throughput and
span-count metrics logged.

Design (Iceberg semantics, parquet fallback in this container):
  - the corpus is bucketed by a deterministic partition key
    part = pmod(xxhash64(doc_id), n_parts)  — stable across runs and
    cluster sizes, so a resume sees the same partition membership.
  - each bucket is processed and written with dynamic partition overwrite
    (idempotent: a retried bucket REPLACES its output, never duplicates).
  - after each bucket commits, one lineage row (part, n_docs, n_spans,
    wall_s, docs_per_sec) is appended to the lineage table. The lineage
    append is the COMMIT MARKER: it happens only after the data write
    succeeds, so a crash between data-write and lineage-append is safe
    (the bucket is simply redone, overwriting identical output).
  - resume = anti-join pending buckets against completed lineage parts.

On a real cluster each bucket is itself fully distributed (a bucket is a
filter, not a coalesce) — bucket count controls checkpoint granularity,
not parallelism.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_spans", T.LongType(), True),
        T.StructField("wall_s", T.DoubleType(), True),
        T.StructField("docs_per_sec", T.DoubleType(), True),
        T.StructField("finished_at", T.DoubleType(), True),
        # bucket-count the run was hashed with: resuming under a DIFFERENT
        # n_parts silently re-shuffles part membership (docs missed AND
        # duplicated while the job reports complete) — validated on resume
        T.StructField("n_parts", T.IntegerType(), True),
    ]
)

#: internal bucketing column — deliberately NOT "part": a source table
#: carrying its own "part" column must pass through transform untouched
_PART_COL = "_lineage_part"


def with_part(docs: DataFrame, n_parts: int, id_col: str = "doc_id") -> DataFrame:
    return docs.withColumn(
        _PART_COL, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts)).cast("int")
    )


def completed_parts(
    spark: SparkSession, lineage_path: str, n_parts: int | None = None
) -> set[int]:
    """Parts with a committed lineage row. ONLY a missing lineage table
    means 'first run' — a permissions error or a corrupt footer must
    propagate, not silently restart the whole job from bucket 0 (the
    output would still be correct via idempotent overwrite, but the entire
    checkpoint benefit would vanish and the corruption stay hidden).

    With ``n_parts`` given, any committed row recorded under a DIFFERENT
    bucket count raises: part numbers are pmod(hash, n_parts) buckets, so
    resuming a 6-bucket run as an 8-bucket run would skip "done" part ids
    that now contain different documents (silent loss + duplication).
    Legacy rows with a null n_parts (pre-column tables) are accepted.

    The path is looked up through Hadoop's FileSystem before the read:
    reading a missing path makes Spark log a WARN with a long stack trace
    before it raises."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(lineage_path)
    if not path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(path):
        return set()
    rows = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(lineage_path)
        .select("part", "n_parts")
        .distinct()
        .collect()
    )
    if n_parts is not None:
        stale = sorted({r["n_parts"] for r in rows
                        if r["n_parts"] is not None and r["n_parts"] != n_parts})
        if stale:
            raise ValueError(
                f"lineage table {lineage_path} was written with "
                f"n_parts={stale} but this run uses n_parts={n_parts}; "
                "bucket membership differs — finish with the original "
                "n_parts or start a fresh lineage path"
            )
    return {r["part"] for r in rows}


def _emit_progress(progress_path: str | None, record: dict) -> None:
    """Append one JSON line to the tail-able progress feed — the engine's
    analog of the reference CLI's --progress-file protocol
    (docproc/bin/cli.py:178-188: {"page", "total", "message"} lines that
    the demo worker tails, demo/go/internal/worker/worker.go:143-165).
    Best-effort like the reference: an unwritable feed never fails a run."""
    if not progress_path:
        return
    import json

    try:
        with open(progress_path, "a", encoding="utf-8") as pf:
            pf.write(json.dumps(record) + "\n")
            pf.flush()
    except OSError:
        pass


def run_with_lineage(
    docs: DataFrame,
    out_path: str,
    lineage_path: str,
    transform,
    n_parts: int = 8,
    fail_after: int | None = None,
    progress_path: str | None = None,
) -> list[int]:
    """Process the corpus bucket-by-bucket with checkpoint/resume.

    ``transform``: DataFrame → DataFrame (e.g. pipeline.extract).
    ``fail_after``: for tests — raise after N buckets to simulate a crash.
    ``progress_path``: optional JSONL feed, one line per committed bucket
    (plus a start line) for an external watcher to tail.
    Returns the list of buckets processed in THIS run (resume skips done ones).
    """
    spark = docs.sparkSession
    # resume validation + bucketing happen BEFORE any session-conf change:
    # a corrupt lineage footer propagates from completed_parts, and the
    # conf restore below must not be skippable by that raise
    done = completed_parts(spark, lineage_path, n_parts=n_parts)
    if "part" in transform(docs.limit(0)).columns:
        raise ValueError(
            "transform output already has a 'part' column — it would "
            "collide with the lineage partition layout; rename it upstream"
        )
    parted = with_part(docs, n_parts).cache()
    processed: list[int] = []
    _emit_progress(
        progress_path,
        {"event": "start", "total": n_parts, "resumed_done": sorted(done),
         "ts": time.time()},
    )
    # restore the session conf afterwards — leaving dynamic overwrite ON
    # would silently change every later partitioned overwrite write in the
    # same session (e.g. an index rebuild keeping stale partitions)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for p in range(n_parts):
            if p in done:
                continue
            if fail_after is not None and len(processed) >= fail_after:
                raise RuntimeError(f"simulated failure after {fail_after} buckets")
            t0 = time.time()
            bucket = parted.filter(F.col(_PART_COL) == p).drop(_PART_COL)
            result = transform(bucket).withColumn("part", F.lit(p))
            # Observation metrics piggyback on the write job itself — a
            # separate result.agg() would re-run the whole extraction
            # transform (nothing is cached), doubling checkpointed cost.
            from pyspark.sql import Observation

            obs = Observation(f"lineage_part_{p}")
            result = result.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
            )
            result.write.mode("overwrite").partitionBy("part").parquet(out_path)
            stats = obs.get
            wall = time.time() - t0
            n_docs = stats["n_docs"] or 0
            lineage_row = spark.createDataFrame(
                [(p, int(n_docs), int(stats["n_spans"] or 0), float(wall),
                  float(n_docs / wall if wall > 0 else 0.0), float(time.time()),
                  int(n_parts))],
                schema=LINEAGE_SCHEMA,
            )
            lineage_row.write.mode("append").parquet(lineage_path)
            processed.append(p)
            _emit_progress(
                progress_path,
                {"event": "bucket", "part": p, "total": n_parts,
                 "done": len(done) + len(processed), "n_docs": int(n_docs),
                 "n_spans": int(stats["n_spans"] or 0),
                 "wall_s": round(wall, 3),
                 "docs_per_sec": round(n_docs / wall, 2) if wall > 0 else 0.0,
                 "ts": time.time()},
            )
    finally:
        parted.unpersist()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return processed
