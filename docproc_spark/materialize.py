"""How an operator materializes an intermediate, and when it lets it go.

Catalyst gives DataFrame fan-out no common-subexpression reuse: a frame
read by two consumers (both sides of a self-join, a probe job and the
final plan, every round of an iterative operator) runs its whole lineage
once per consumer. An operator that needs one computation shared stages
the frame with :func:`stage`; this module is the only place in the
package that persists or checkpoints anything.

``stage`` cuts the frame's lineage with a checkpoint, never a
``.cache()``: a cached frame is pinned in the session's CacheManager
until someone unpersists it, while checkpoint blocks belong to the
returned frame's RDD. With no checkpoint directory set it takes a
``localCheckpoint`` (blocks in executor storage, MEMORY_AND_DISK, so they
spill rather than vanish; an executor loss loses them). When the
SparkContext has a checkpoint directory (``setCheckpointDir`` or
``spark.checkpoint.dir``, Spark's own switch for fault tolerance) it
takes a reliable ``checkpoint()`` there instead, which survives executor
loss at the cost of a write. Nothing else selects between the two.

The ownership rule every operator follows:

- an intermediate that the returned lazy frame reads is staged (lazily
  when nothing at call time reads it) and left to the result: its
  blocks go when the caller drops the result and the ContextCleaner
  collects the RDD;
- every other intermediate (the rounds of an iterative operator, a
  table only a call-time job or write reads) is freed with
  :func:`release` before the operator returns.

``release`` exists because ``DataFrame.unpersist()`` does nothing on a
checkpointed frame: the CacheManager never saw it, and the RDD stays in
``SparkContext.getPersistentRDDs`` until the JVM collects it. A released
frame must not be read again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """``df`` checkpointed: locally, computed now (``eager``) or by the
    first job that reads it; or, when the SparkContext has a checkpoint
    directory, reliably and always now. A lazy reliable checkpoint
    computes the frame twice (the first job, then a job that writes the
    files), and is never written when a job reaches it only through
    another pending checkpoint."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def release(*frames: DataFrame) -> None:
    """Free each staged frame's blocks or checkpoint files now, through
    the RDD of its analyzed plan's ``LogicalRDD``."""
    for df in frames:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.unpersist(False)
        path = rdd.getCheckpointFile()
        if path.isDefined():
            jvm = df.sparkSession.sparkContext._jvm
            p = jvm.org.apache.hadoop.fs.Path(path.get())
            conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
            p.getFileSystem(conf).delete(p, True)
