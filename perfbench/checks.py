"""Output checks: order-independent checksums of a query's rows, computed
by Spark for the engine's output and for the DuckDB oracle's output.

Every column is projected to a canonical value before hashing: integers
to ``bigint``, timestamps and dates to epoch microseconds, strings as
they are, and fractional numbers to a ten-significant-digit string.
The last rule is the comparison tolerance: a sum whose last digits
depend on summation order (``q01_pricing_summary.sum_charge`` at larger
scales) still checks equal.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FRACTIONAL = (T.DoubleType, T.FloatType, T.DecimalType)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_TIME = (T.TimestampType, T.TimestampNTZType, T.DateType)
_EPOCH = dt.datetime(1970, 1, 1)


def _kind(t: T.DataType) -> str:
    if isinstance(t, _FRACTIONAL):
        return "f"
    if isinstance(t, _INTEGRAL):
        return "i"
    if isinstance(t, _TIME):
        return "t"
    if isinstance(t, T.BooleanType):
        return "b"
    if isinstance(t, T.StringType):
        return "s"
    raise TypeError(f"no canonical form for {t.simpleString()}")


def _fraction_text(c: Column) -> Column:
    # + 0.0 folds -0.0 into 0.0
    return F.format_string("%.9e", c.cast("double") + F.lit(0.0))


def _summary(cols: list[Column]) -> list[Column]:
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.bit_xor(h).alias("x"),
    ]


def columns_of(df: DataFrame) -> list[tuple[str, str]]:
    """(name, kind) of every output column, sorted by name."""
    return sorted((f.name, _kind(f.dataType)) for f in df.schema.fields)


def checksum_frame(df: DataFrame) -> DataFrame:
    """One-row DataFrame ``(n, lo, x)`` over every output column of
    ``df``: a per-row hash aggregate, so no column can be pruned."""
    cols = []
    for name, kind in columns_of(df):
        c = df[name]
        if kind == "f":
            c = _fraction_text(c)
        elif kind == "i":
            c = c.cast("long")
        elif kind == "t":
            c = F.unix_micros(c.cast("timestamp"))
        cols.append(c)
    return df.agg(*_summary(cols))


def _micros(v) -> int:
    if isinstance(v, dt.datetime):
        return (v.replace(tzinfo=None) - _EPOCH) // dt.timedelta(microseconds=1)
    return (dt.datetime(v.year, v.month, v.day) - _EPOCH) // dt.timedelta(microseconds=1)


def _oracle_value(kind: str, v):
    if v is None:
        return None
    if kind == "f":
        return float(v)
    if kind == "i":
        if isinstance(v, (float, Decimal)) and v != int(v):
            raise ValueError(f"non-integral value {v!r} in an integer column")
        return int(v)
    if kind == "t":
        return _micros(v)
    if kind == "b":
        return bool(v)
    return str(v)


_ORACLE_TYPE = {
    "f": pa.float64(), "i": pa.int64(), "t": pa.int64(),
    "b": pa.bool_(), "s": pa.string(),
}


def oracle_checksum(
    spark: SparkSession,
    columns: list[tuple[str, str]],
    names: list[str],
    rows: list[tuple],
) -> tuple:
    """Checksum of oracle rows (``names`` in result order) projected to
    the engine's canonical ``columns``; raises ``ValueError`` when the
    column sets differ or a value does not fit its canonical kind."""
    if sorted(names) != [n for n, _ in columns]:
        raise ValueError(f"oracle columns {sorted(names)} != engine columns {[n for n, _ in columns]}")
    pos = {n: i for i, n in enumerate(names)}
    table = pa.table({
        n: pa.array([_oracle_value(kind, r[pos[n]]) for r in rows], _ORACLE_TYPE[kind])
        for n, kind in columns
    })
    odf = spark.createDataFrame(table)
    cols = [_fraction_text(odf[n]) if kind == "f" else odf[n] for n, kind in columns]
    return tuple(odf.agg(*_summary(cols)).collect()[0])


def lines_checksum_frame(df: DataFrame, column: str = "value") -> DataFrame:
    """Line count and xxhash64 sums over one string column."""
    return df.agg(*_summary([df[column]]))
