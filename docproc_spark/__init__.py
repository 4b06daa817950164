"""docproc_spark — a PySpark-native document-intelligence extraction engine.

A from-scratch reimplementation of the capabilities of `rithulkamesh/docproc`
(reference at /root/reference, studied for behavior only): interleaved
text+media document extraction, sanitization, boilerplate drop, exact and
near deduplication, media content-hash dedupe with deterministic captioning,
and per-page interleaved markdown assembly — expressed as DataFrame /
vectorized-pandas-UDF pipelines designed for multi-executor clusters at
web scale (the small local runs here verify correctness; partitioning,
broadcast joins, AQE and salting carry the same plans to 100 TB).

Layout:
  schema.py     span-table schema + invariant string constants
  corpus.py     deterministic seeded span-corpus generator (no external data)
  oracle.py     single-process reference-semantics oracle (the invariant truth)
  kernels/      pure pandas/numpy kernels (unit-testable without Spark)
  pipeline.py   the Spark extraction pipeline (flagship)
  operators/    dedupe (exact/minhash/simhash), top-k, sessionize, salting
  functions/    text analysis (lang-id, quality, tokens, fingerprint), media stubs
  sources/      table loaders, lineage/checkpoint + resume
  plans/        plan-inspection helpers (pushdown/broadcast assertions)
  streaming/    Structured Streaming variants of the batch operators
  zipcache.py   Python workers skip per-task re-reads of Spark's zip archives
"""

__version__ = "0.1.0"

from docproc_spark.zipcache import freeze_installation_archives as _freeze

_freeze()  # a no-op outside PySpark workers (zipcache.py)
