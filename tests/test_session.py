"""Python workers of a get_spark session stop re-reading the installation's
zip archives once they import docproc_spark (docproc_spark.zipcache), while
code shipped with addPyFile / --py-files still imports as before.

This module is not importable in the workers, so its functions pickle by
value."""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd
import pyspark
import pyspark.sql.functions as F
from pyspark import cloudpickle

import docproc_spark

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _zip_rereads(_):
    """In a worker: import the package, then report which archives one
    ``importlib.invalidate_caches()`` re-reads and which it keeps."""
    import importlib
    import zipimport

    import docproc_spark  # noqa: F401 — applies the freeze in this worker
    from pyspark import SparkFiles

    before = dict(zipimport._zip_directory_cache)
    importlib.invalidate_caches()
    after = zipimport._zip_directory_cache
    reread = sorted(a for a, d in before.items() if after.get(a) is not d)
    kept = sorted(a for a in before if a not in reread)
    yield {"root": SparkFiles.getRootDirectory(), "reread": reread, "kept": kept}


def test_installation_archives_are_not_reread_per_task(spark):
    (got,) = spark.sparkContext.parallelize([0], 1).mapPartitions(_zip_rereads).collect()
    installed = [a for a in got["reread"] + got["kept"] if not a.startswith(got["root"])]
    assert any(a.endswith("pyspark.zip") for a in installed), got
    assert not [a for a in got["reread"] if a in installed], got


def test_udfs_defined_outside_the_package_run(spark):
    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    rows = spark.range(5).select(plus_one("id").alias("v")).collect()
    assert sorted(r["v"] for r in rows) == [1, 2, 3, 4, 5]
    squares = spark.sparkContext.parallelize(range(5), 2).map(lambda x: x * x)
    assert squares.collect() == [0, 1, 4, 9, 16]


# A job run with spark-submit from a directory where docproc_spark is not
# importable: the package reaches the driver and the workers only through
# --py-files, as job.py documents. It uses its own short-lived application,
# so the zip it ships late stays out of the shared `spark` fixture.
_JOB = r'''
import json, sys, uuid, zipfile
from docproc_spark.pipeline import sanitize_udf
from docproc_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
sc = spark.sparkContext
df = spark.createDataFrame([("Café",), (None,)], "t string")
sanitized = [r[0] for r in df.select(sanitize_udf("t")).collect()]

probe = _zip_rereads
(shipped,) = sc.parallelize([0], 1).mapPartitions(probe).collect()

name = "late_" + uuid.uuid4().hex
with zipfile.ZipFile(sys.argv[1] + "/" + name + ".zip", "w") as z:
    z.writestr(name + ".py", "VALUE = 41 + 1\n")
sc.addPyFile(sys.argv[1] + "/" + name + ".zip")

def load(it):
    import importlib
    mod = importlib.import_module(name)
    yield from probe(it)
    yield {"value": mod.VALUE, "loader": type(mod.__spec__.loader).__name__,
           "archive": mod.__spec__.loader.archive}

late, loaded = sc.parallelize([0], 1).mapPartitions(load).collect()
print("RESULT " + json.dumps({"sanitized": sanitized, "shipped": shipped,
                              "late": late, "loaded": loaded}))
spark.stop()
'''


def test_package_shipped_only_with_py_files(tmp_path):
    pkg = Path(docproc_spark.__file__).parent
    shipped = tmp_path / "dist" / "docproc_spark.zip"
    shipped.parent.mkdir()
    with zipfile.ZipFile(shipped, "w") as z:
        for f in sorted(pkg.rglob("*.py")):
            z.write(f, f.relative_to(pkg.parent).as_posix())
    job = tmp_path / "job.py"
    job.write_text(inspect.getsource(_zip_rereads) + _JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_DRIVER_MEMORY="1g")
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    proc = subprocess.run(
        [os.path.join(home, "bin", "spark-submit"), "--master", "local[1]",
         "--py-files", str(shipped), str(job), str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])

    assert got["sanitized"] == ["Café", ""]
    # docproc_spark came from the --py-files copy and is still re-read per
    # task; pyspark.zip, on the path since the worker started, is not
    sh = got["shipped"]
    assert [a for a in sh["reread"] if a.endswith("docproc_spark.zip")], sh
    assert [a for a in sh["kept"] if a.endswith("pyspark.zip")], sh
    assert all(a.startswith(sh["root"]) for a in sh["reread"]), sh
    # the zip shipped after the workers started imports in the next task,
    # with the stock importer and the stock per-task re-read
    assert got["loaded"]["value"] == 42
    assert got["loaded"]["loader"] == "zipimporter"
    assert got["loaded"]["archive"] in got["late"]["reread"], got
