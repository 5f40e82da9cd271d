"""Function-style ``.bro`` text helpers over ``format("bro")``.

``sources/bro_datasource.py`` is the one ``.bro`` implementation: its
batch and streaming readers and writers serve every ``.bro`` read,
write and stream. The functions here only register that source and
call ``spark.read.format("bro")`` / ``df.write.format("bro")``, so
they take the same ``bro.*`` options and split BRO2 files per block.

``write_bro_text`` writes BRO2 (splittable) files by default, like
``format("bro")``; ``{"bro.framed": "false"}`` writes the raw v1
streams the reference codec reads. Both layouts read back.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bro_codec import BRO_EXTENSION
from .bro_datasource import register_bro_source


def _published(out_dir: str) -> dict[str, int]:
    return {
        e.name: e.stat().st_mtime_ns
        for e in os.scandir(out_dir)
        if e.name.endswith(BRO_EXTENSION)
    }


def write_bro_text(
    df: DataFrame,
    out_dir: str,
    column: str = "value",
    options: dict[str, Any] | None = None,
) -> int:
    """Write one string column as newline-delimited ``.bro`` files,
    one file per partition, through ``df.write.format("bro")``.

    Returns the number of files published: the writer's commit bumps
    each published file's mtime, so those are the ``.bro`` names that
    are new or carry a new mtime.
    """
    register_bro_source(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)
    before = _published(out_dir)
    df.select(F.col(column)).write.format("bro").options(
        **(options or {})
    ).mode("append").save(out_dir)
    return sum(1 for k, v in _published(out_dir).items() if before.get(k) != v)


def read_bro_text(
    spark: SparkSession,
    path: str,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Read ``.bro`` files (a directory, a file or a glob) into
    DataFrame[value: string, path: string] through
    ``spark.read.format("bro")``."""
    register_bro_source(spark)
    return spark.read.format("bro").options(**(options or {})).load(path)


def read_bro_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    sep: str = ",",
    header: bool = False,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Typed CSV over ``.bro``: decompress lines, parse with the
    codegen ``from_csv`` expression into the given DDL ``schema``.

    This is the reference's deployment pattern — a Hadoop job reading
    codec-compressed delimited text — as one declarative plan: the
    decoded lines feed Catalyst expressions, no second pass. With
    ``header=True`` the per-file header line (matching the schema's
    column names) is dropped.
    """
    lines = read_bro_text(spark, path, options)
    if header:
        names = [f.split()[0] for f in schema.split(",")]
        lines = lines.filter(F.col("value") != sep.join(n.strip() for n in names))
    return lines.select(
        F.from_csv("value", schema, {"sep": sep}).alias("r")
    ).select("r.*")


def read_bro_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Typed JSONL over ``.bro``: decompress lines, ``from_json``
    each into the given DDL ``schema``."""
    lines = read_bro_text(spark, path, options)
    return lines.select(F.from_json("value", schema).alias("r")).select("r.*")
