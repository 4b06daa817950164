"""Keep PySpark workers from re-reading the installation's zip archives.

At the start of every task PySpark calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that code shipped late with
``addPyFile`` becomes importable. On CPython 3.11,
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive, and a worker holds one importer per package directory it
imported from ``pyspark.zip`` plus those of the py4j zip and the
``spark-core`` jar: about 0.19 CPU-s per task on a 4-CPU host, whatever the
task's row count.

The package's ``__init__`` calls :func:`freeze_installation_archives`, so a
worker applies it the first time it imports ``docproc_spark`` (unpickling a
UDF of the package does). From then on ``invalidate_caches`` is a no-op for
every zip archive that was on ``sys.path`` outside the SparkFiles directory
at that moment: the Spark and Python installation, which cannot change
while the application runs. Archives under the SparkFiles directory
(``addPyFile``, ``--py-files``, including ``docproc_spark`` itself when it
is shipped that way) keep the stock re-read, and directory finders are
still invalidated per task. The worker's first task pays one re-read, as
before; the worker process, reused across tasks, pays none after it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_frozen: set[str] = set()
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_unless_frozen(self: zipimport.zipimporter) -> None:
    if self.archive not in _frozen:
        _stock_invalidate(self)


def freeze_installation_archives() -> None:
    """In a PySpark worker, stop per-task re-reads of the zip archives now
    on ``sys.path`` outside the SparkFiles directory. Anywhere else (the
    driver, a plain Python process) do nothing."""
    # setup_spark_files imports SparkFiles and marks the worker before any
    # task code is unpickled; pyspark 3.5 keeps it in pyspark.files
    files = sys.modules.get("pyspark.core.files") or sys.modules.get("pyspark.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    shipped = os.path.join(files.SparkFiles.getRootDirectory(), "")
    _frozen.update(
        p for p in sys.path if os.path.isfile(p) and not p.startswith(shipped)
    )
    zipimport.zipimporter.invalidate_caches = _invalidate_unless_frozen
