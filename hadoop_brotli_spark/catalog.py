"""Table catalog: load the driver-generated parquet tables.

Tables (see TESTDATA.md / FIXTURES.md): region nation customer
supplier part orders lineitem events documents embeddings — one
parquet file per table under an ``sf_dir``.

Schema memo: ``spark.read.parquet(path)`` infers the schema with a
one-task Spark job that reads a footer (~85 ms at sf0.01 on 4 CPUs),
and a query loads several tables on every build. ``load_table``
keeps the inferred ``StructType`` per table and hands it to
``spark.read.schema(...)``, so a repeat load runs no job. The memo
misses, and the table is inferred again, when the absolute path, the
file identity ``(st_ino, st_size, st_mtime_ns)`` of the file (of
every file under it, for a directory) or the
``spark.sql.legacy.parquet.nanosAsLong`` value differs; a rewrite in
place therefore misses. A path with a URI scheme (``file:``,
``s3a://``...) is not memoized and is inferred on every load.

Scale notes (100 TB): we never cache eagerly and leave partitioning
to the scan — Catalyst prunes columns and pushes filters into the
parquet reader. The small dimension tables (region/nation/supplier/part at
TPC-H ratios) are broadcast-joined by the query layer.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any TPC-H-like scale
# factor (region=5 rows, nation=25 always; supplier/part/customer grow
# linearly but stay << lineitem).
BROADCAST_SAFE = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# (absolute path, nanosAsLong) -> (file identity, inferred schema); one
# entry per table, replaced when the table changes. No lock: two threads
# that miss together only infer the same schema twice.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple:
    """``(st_ino, st_size, st_mtime_ns)`` of a file, or of every file
    under a directory (with its path relative to the directory)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    ident = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            ident.append((os.path.relpath(os.path.join(root, f), path),
                          st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(ident)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when
    the memo (see the module docstring) has no entry for this table."""
    if urlparse(path).scheme:
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    try:
        ident = _file_identity(path)
    except OSError:  # missing path: let Spark raise its usual error
        return spark.read.parquet(path)
    key = (path, spark.conf.get(_NANOS_CONF, "false"))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (ident, df.schema)
    return df


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any ``timestamp_ntz`` column to ``timestamp``.

    The driver regenerates testdata between rounds and the parquet
    logical type of timestamp columns has varied (TIMESTAMP(NANOS),
    TIMESTAMP_NTZ, TIMESTAMP). With the session timezone pinned UTC
    the NTZ→TIMESTAMP cast is value-preserving, and it keeps the whole
    query surface on one timestamp type — functions like
    ``unix_micros`` reject NTZ, and DuckDB's naive TIMESTAMP matches
    UTC-pinned instants exactly.
    """
    from pyspark.sql import functions as F

    ntz_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Lazy: just a scan node until an action runs.

    ``events.ts`` has been written as parquet TIMESTAMP(NANOS) in some
    driver generations, which Spark does not read natively: we read
    nanos as long (legacy conf, safe to set at runtime) and
    floor-divide to microseconds — the same truncation DuckDB applies,
    so oracle timestamps agree. NTZ columns are cast to TIMESTAMP
    (see ``_normalize_timestamps``).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set(_NANOS_CONF, "true")
        from pyspark.sql import functions as F

        df = _read_parquet(spark, table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_timestamps(df)
    return _normalize_timestamps(_read_parquet(spark, table_path(sf_dir, name)))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry point."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
