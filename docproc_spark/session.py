"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-vs-oracle and for plans that survive scale-up:
AQE on (runtime coalesce + skew handling), Arrow on (pandas-UDF batches),
UTC session timezone (oracle comparisons), shuffle partitions sized to
cores in local mode (a cluster deploy overrides via spark-submit conf).

Python workers skip PySpark's per-task re-read of the installation's zip
archives (``docproc_spark.zipcache``, applied when a worker first imports
the package). PySpark calls ``importlib.invalidate_caches()`` at the start
of every Python task, and on CPython 3.11 each ``zipimporter`` then
re-reads its archive's whole central directory: a worker holds about 16
of them (one per package directory imported from ``pyspark.zip``, 1,328
entries, ~10 ms a re-read; the py4j zip; two for the ``spark-core`` jar,
5,359 entries, ~41 ms a re-read). Measured at ``local[4]`` on a 4-CPU
host, that was ~0.19 CPU-s per task whatever its row count: 6.9 of the
7.2 Python-worker CPU-s of a 36-task file-ingest call (perfbench
``files_resume``). Frozen: every zip on the worker's ``sys.path`` outside
the SparkFiles directory (``pyspark.zip``, py4j, the Spark jars, a stdlib
zip if there is one), which cannot change while the application runs.
Not frozen: archives under the SparkFiles directory (``addPyFile``,
``--py-files``), and directory finders, which are still invalidated per
task, so late-shipped code imports as before. Workers keep the stock
``pyspark.daemon``, so nothing about where the package is installed or
how it is shipped changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ACCUM_FILTER_INSTALLED = False


def _install_benign_accumulator_filter(spark: SparkSession) -> None:
    """DENY the known-benign `DAGScheduler: Failed to update accumulator`
    records (PythonAccumulatorV2 updates racing a Python accumulator
    server that a stopped session already closed — explicitly non-fatal
    in DAGScheduler.updateAccumulators, but logged at ERROR). Multi-
    session drivers (the bench) otherwise capture hundreds of these
    stack traces per run, burying real failures in the recorded tail
    (r5 verdict item #2). Scoped by MESSAGE, not by level: a log4j
    RegexFilter matching only this record class — genuine scheduler
    errors still log. Installed once per JVM (the gateway outlives
    SparkSession.stop())."""
    global _ACCUM_FILTER_INSTALLED
    if _ACCUM_FILTER_INSTALLED:
        return
    try:
        jvm = spark.sparkContext._jvm
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        cfg = ctx.getConfiguration()
        lc = cfg.getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
        result = jvm.org.apache.logging.log4j.core.Filter.Result
        flt = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
            ".*Failed to update accumulator.*", None, False,
            result.DENY, result.NEUTRAL,
        )
        lc.addFilter(flt)
        ctx.updateLoggers()
        _ACCUM_FILTER_INSTALLED = True
    except Exception:  # pragma: no cover — log4j internals shifted
        pass  # cosmetic: never fail session creation over log noise


def get_spark(
    app_name: str = "docproc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    arrow_batch: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus
    arrow_batch = arrow_batch or 32768
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 32k rows/batch default: fewer JVM↔Python Arrow crossings —
        # measured 1.7× on pandas-UDF stages at 32 workers vs the 4k
        # default; overridable via the config's spark.arrow_batch knob
        # (mega-doc corpora need bounded batches)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        # Span tables decode ~5-10× larger than their parquet bytes (text
        # columns compress hard); the 128m default sizes scan partitions
        # by COMPRESSED bytes, so each task decodes into a near-GB memory
        # chunk — worse task balance (measured ~10% extract wall at low
        # core counts) and an executor-memory hazard at scale. 32m keeps
        # decoded partitions in the ~200-300 MB band.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # the single-pass assembly is a deep higher-order-function tree;
        # default analyzer/optimizer iteration caps are sized for flat plans
        .config("spark.sql.analyzer.maxIterations", "500")
        .config("spark.sql.optimizer.maxIterations", "500")
        # InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)`
        # below every explode; predicate pushdown then re-inlines the
        # generator's defining expression into that filter — for the
        # extract pipeline that re-embeds the HTML pandas UDF, running it
        # TWICE per document (observed as a second ArrowEvalPython node).
        # The filter is a pure optimization (Generate with outer=false
        # drops empty/null arrays itself) and the derived span array is
        # never empty anyway (sentinel span), so excluding the rule is
        # semantics-free and halves the HTML kernel cost.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _install_benign_accumulator_filter(spark)
    return spark
