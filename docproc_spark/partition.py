"""Scan-parallelism repair for low-split inputs (guide §2.5 "input skew").

A parquet file is splittable only at row-group boundaries; a table written
as ONE row group (or one gzip file, or a handful of giant files) scans as
ONE task no matter how many cores the session has, and every expression
pipelined onto that scan — per-token hashing, regex chains, Python
kernels — runs serially. For compute-heavy per-row work the fix is a
single cheap exchange of the input rows before the work, after which the
expensive stage runs at session parallelism.

The helper is SCALE-ADAPTIVE, not a local[32] constant: it inspects the
actual scan partition count and repartitions only when the input has
fewer splits than the session's parallelism. A production table with
hundreds of row groups (or an Iceberg layout) passes through untouched —
no extra exchange at 100 TB, where inputs are already well-split.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# What plan introspection raises when a fast path cannot run: AttributeError
# where a DataFrame has no ``_jdf`` (Spark Connect), NotImplementedError
# for Connect's ``.rdd``, Py4JError when the JVM call itself fails. Any
# other error is a bug and propagates.
INTROSPECTION_ERRORS = (AttributeError, NotImplementedError, Py4JError)

_log = logging.getLogger(__name__)
_disabled_logged: set[str] = set()


def fast_path_disabled(what: str, exc: BaseException) -> None:
    """Log, once per process and call site, that a plan-introspection fast
    path fell back to its slow form."""
    if what not in _disabled_logged:
        _disabled_logged.add(what)
        _log.warning("%s disabled: %s: %s", what, type(exc).__name__, exc)


def scan_fanout(
    df: DataFrame,
    key: str | Column | None = None,
    target: int | None = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Repartition ``df`` up to session parallelism when its plan yields
    fewer partitions — otherwise return it unchanged.

    ``key``: hash-partition by this column (no pre-shuffle local sort, and
    when the key matches a downstream groupBy/window key the exchange is
    REUSED rather than added — guide §2.4). Without a key the exchange is
    round-robin (pays the deterministic local sort; fine for small rows).

    ``min_bytes``: opt-in size gate for call sites whose per-row work is
    LIGHT (a broadcast probe, a dot product — not a regex chain or a
    Python kernel): skip the fanout when Catalyst's estimate of the input
    (column-pruned) is below this many bytes, because spreading a few MB
    over the session's cores costs more in exchange latency than the
    serial work it parallelizes (guide §2.3: the exchange itself is the
    cost to beat). Callers with heavy per-row kernels should leave it 0 —
    for them even a sub-MB input amortizes the exchange.

    Partition-count and size inspection are driver-side plan work only
    (no job). Row values are untouched, so results are
    partition-order-independent for every relational consumer
    (aggregations, windows keyed on columns, joins); callers relying on
    physical row order should not use this.

    ``sizeInBytes`` tracks the COMPRESSED parquet size of the scanned
    files (times the pruned-column fraction), not the decoded rows, which
    run ~5-10x larger for text columns. The ``min_bytes`` thresholds of
    the call sites are therefore calibrated to the current file layout
    and codec; re-measure them if either changes.

    A streaming input passes through unchanged. Where the plan cannot be
    inspected (Spark Connect, a failing JVM call) the input passes through
    and, for the size gate, the fanout is applied ungated; both log once.
    """
    if df.isStreaming:
        return df
    try:
        t = target or df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except INTROSPECTION_ERRORS as exc:
        fast_path_disabled("scan_fanout partition count", exc)
        return df
    if n >= t:
        return df
    if min_bytes > 0:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except INTROSPECTION_ERRORS as exc:
            fast_path_disabled("scan_fanout min_bytes gate", exc)
            est = None
        if est is not None and est < min_bytes:
            return df
    if key is not None:
        key_col = F.col(key) if isinstance(key, str) else key
        return df.repartition(t, key_col)
    return df.repartition(t)
