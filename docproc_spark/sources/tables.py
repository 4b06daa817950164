"""Table writes: Iceberg where its runtime is present, else parquet.

Iceberg is the production catalog (snapshots power the lineage/resume
design in sources/lineage.py). Its runtime jar is not in this container,
so write_table falls back to plain parquet when the classes cannot be
loaded (iceberg_available).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime classes are actually loadable.

    NOT a bare attribute probe: py4j resolves a missing class path to a
    JavaPackage object without raising, so
    ``spark._jvm.org.apache.iceberg...`` "succeeds" on every cluster and
    the parquet fallback became dead code (verified live in this
    Iceberg-less container). Class.forName is the honest check — it
    raises ClassNotFoundException through py4j when the jar is absent."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


# Dotted RELATIVE FILENAMES ("out.parquet", "results.db") match the
# word.word identifier shape — without this exclusion they'd be routed to
# the Iceberg branch as a bogus `out`.`parquet` catalog table.
_FILE_SUFFIXES = (
    "parquet",
    "db",
    "sqlite",
    "sqlite3",
    "csv",
    "tsv",
    "json",
    "jsonl",
    "ndjson",
    "md",
    "txt",
    "orc",
    "avro",
)


def _is_table_identifier(target: str) -> bool:
    """catalog.db.table / db.table identifiers go to writeTo(); anything
    path-shaped (absolute or relative paths, file:/ s3a:// hdfs:// URIs)
    is a filesystem destination, as is a dotted relative FILENAME whose
    last segment is a conventional data-file extension. startswith('/')
    misrouted relative paths and every URI scheme to the Iceberg branch."""
    import re

    if not re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*){1,2}", target
    ):
        return False
    return target.rsplit(".", 1)[1].lower() not in _FILE_SUFFIXES


def write_table(df: DataFrame, path_or_table: str, mode: str = "overwrite") -> None:
    """Write to Iceberg when the runtime is present AND the target is a
    table identifier, else parquet to the path. ``mode`` is honored on
    BOTH branches: append appends (the incremental-load contract) and
    overwrite replaces — createOrReplace() unconditionally would have
    silently destroyed appended data on Iceberg deployments."""
    spark = df.sparkSession
    if _is_table_identifier(path_or_table) and iceberg_available(spark):
        if mode == "append":
            df.writeTo(path_or_table).append()
        elif mode == "overwrite":
            df.writeTo(path_or_table).createOrReplace()
        else:
            raise ValueError(f"unsupported mode for Iceberg targets: {mode!r}")
    else:
        df.write.mode(mode).parquet(path_or_table)
