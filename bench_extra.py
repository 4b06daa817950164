#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement; this
file exists so the round's isolation numbers are reproducible — guide §1.4).

Modes:
  time     — per-query wall seconds, same _force methodology as bench.py
             (min of K fresh frames), restricted to the 18 timed queries
             or any subset via --queries.
  explain  — capture .explain("formatted") per query to plans/r06/.
  extract  — break the flagship extract job into phases: probe job,
             driver-side planning (executedPlan force), execution.

Usage:
  python bench_extra.py time    [--sf /root/testdata/sf1.0] [--queries a,b]
  python bench_extra.py explain [--sf ...] [--suffix before|after]
  python bench_extra.py extract [--sf ...] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES, _force  # noqa: E402
from docproc_spark.corpus import CORPUS_SIZE  # noqa: E402


def _qs(spark, sf_dir, n_docs):
    """The bench query set, including bench.py's two scaled locals."""
    import pandas as _pd
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    qs = {**entrymod.queries(), **entrymod.spare_queries()}

    def _curate_interleaved_scaled(spark, sf):
        from docproc_spark.corpus import corpus_df
        from docproc_spark.operators.interleave import curate_interleaved

        docs = corpus_df(spark, n_docs, seed=42, mega_spans=2000)
        return curate_interleaved(docs.select("doc_id", "spans"))

    qs["curate_interleaved"] = _curate_interleaved_scaled

    def _image_signatures_scaled(spark, sf):
        from docproc_spark.functions.media import image_signatures

        def synth(batches):
            import numpy as _np

            from docproc_spark.kernels.imagepix import encode_png

            for pdf in batches:
                blobs = []
                for d in pdf["doc_id"]:
                    i = _np.arange(32 * 24 * 3, dtype=_np.int64)
                    px = ((int(d) * 31 + i * 7) % 256).astype(_np.uint8)
                    blobs.append(encode_png(px.tobytes(), 32, 24))
                yield _pd.DataFrame({"blob": blobs})

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
        blobs = docs.mapInPandas(synth, schema="blob binary")
        sigs = image_signatures(blobs)
        return sigs.groupBy().agg(
            F.count("*").alias("n"),
            F.sum(F.bit_count("dhash64")).alias("bits"),
        )

    qs["image_signatures"] = _image_signatures_scaled
    return qs


def cmd_time(args):
    from docproc_spark.session import get_spark

    sf_key = args.sf.rstrip("/").rsplit("/", 1)[-1]
    n_docs = CORPUS_SIZE.get(sf_key, 2000)
    spark = get_spark(
        app_name="bench_extra", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = _qs(spark, args.sf, n_docs)
    names = args.queries.split(",") if args.queries else list(BENCH_QUERIES)
    out = {}
    for name in names:
        best = float("inf")
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            df = qs[name](spark, args.sf)
            t0 = time.time()
            _force(df)
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", flush=True)
    print(json.dumps({"sf": sf_key, "queries": out}))
    spark.stop()


def cmd_explain(args):
    from docproc_spark.session import get_spark

    sf_key = args.sf.rstrip("/").rsplit("/", 1)[-1]
    n_docs = CORPUS_SIZE.get(sf_key, 2000)
    spark = get_spark(
        app_name="bench_extra_explain",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = _qs(spark, args.sf, n_docs)
    names = args.queries.split(",") if args.queries else list(BENCH_QUERIES)
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, args.sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


def cmd_extract(args):
    """Phase breakdown of one flagship extract job at local[cpus]."""
    from pyspark.sql import functions as F

    from docproc_spark.corpus import CORPUS_VERSION, corpus_df
    from docproc_spark.pipeline import extract
    from docproc_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra_extract",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    cache = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_cache",
        f"corpus_v{CORPUS_VERSION}_{args.ndocs}",
    )
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        corpus_df(spark, args.ndocs, seed=42, mega_spans=2000).write.mode(
            "overwrite"
        ).parquet(cache)
    docs = spark.read.parquet(cache)
    # warmup (workers + JIT + codegen cache)
    extract(docs.limit(200)).agg(F.count("*")).collect()
    for rep in range(args.repeats):
        t0 = time.time()
        frame = extract(docs).agg(
            F.count("*").alias("n"),
            F.sum(F.length("markdown")).alias("mdlen"),
            F.sum(F.size("spans")).alias("ns"),
        )
        t1 = time.time()  # construction (includes probe job if any)
        frame._jdf.queryExecution().executedPlan()
        t2 = time.time()  # analysis+optimization+physical planning
        frame.collect()
        t3 = time.time()
        print(
            f"rep{rep}: construct={t1-t0:.3f}s plan={t2-t1:.3f}s "
            f"exec={t3-t2:.3f}s total={t3-t0:.3f}s"
        )
    spark.stop()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["time", "explain", "extract"])
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--queries", default=None)
    p.add_argument("--repeats", type=int, default=2)
    p.add_argument("--suffix", default="before")
    p.add_argument("--ndocs", type=int, default=20000)
    args = p.parse_args()
    {"time": cmd_time, "explain": cmd_explain, "extract": cmd_extract}[args.mode](args)


if __name__ == "__main__":
    main()
