"""Shared helpers for oracle-deterministic query authoring.

Float determinism (FIXTURES.md): every double column in the test data
carries exactly 2 decimal digits. Casting values to DECIMAL before
SUM makes aggregation exact integer arithmetic — order-independent
across Spark partitions and bit-identical to DuckDB — and casting the
exact result back to DOUBLE yields the same float64 in both engines.
Products of 2-decimal values are exact 4-/6-decimal values, so wider
scales stay exact too. Plain IEEE double division of identical
operands is bit-identical across engines, so averages derived from
exact sums need no rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def fan_out(df: DataFrame, after_shuffle: bool = False) -> DataFrame:
    """Repartition a small-scan input up to the session's default
    parallelism BEFORE a row-multiplying transform (explode /
    shingle / trigram).

    A few-MB parquet file arrives as one scan task (row groups are
    not splittable below file granularity), which would single-thread
    a 100×-fan-out explode while every other core idles — measured
    ~2.5 s for one task exploding 1.5M trigrams at sf0.1. The
    repartition shuffles only the SMALL pre-explosion rows. No-op
    when the scan already has enough splits (the 100 TB case, where
    inputs arrive in thousands of partitions).

    ``after_shuffle=True`` is for an input that comes out of a shuffle
    (an aggregate): it skips the probe and always repartitions. AQE
    coalesces a small shuffle into as few as one partition at run
    time, which the plan-time count cannot see, and ``df.rdd`` of a
    shuffled frame under AQE would run its stages.
    """
    spark = df.sparkSession
    try:
        # classic (JVM-local) session: exact partition-count probe
        target = spark.sparkContext.defaultParallelism
        current = 1 if after_shuffle else df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect exposes neither sparkContext nor .rdd; fall
        # back to shuffle-partition target and a file-count heuristic
        # (parquet scan splits ≥ file count, so this under-counts —
        # which only risks one redundant small-row shuffle, never a
        # missed fan-out)
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        try:
            current = 1 if after_shuffle else max(1, len(df.inputFiles()))
        except Exception:
            current = 1
    if current < target:
        return df.repartition(target)
    return df


def dsum(col: Column, scale: int = 2) -> Column:
    """Exact sum of fixed-decimal doubles, returned as DOUBLE.

    Mirrors the SQL pattern
    ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column, scale: int = 2) -> Column:
    """Exact-sum-based average as DOUBLE: dsum(x) / count(*)."""
    return dsum(col, scale) / F.count(F.lit(1))


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"{sql_dsum(expr, scale)} / COUNT(*)"


def dround(col: Column, scale: int = 0) -> Column:
    """Deterministic half-up rounding of a DOUBLE — the repo-wide
    replacement for ``F.round`` on final outputs (round-9 census).

    ``ROUND(double, k)`` is engine-ambiguous at representational
    ties: the JVM rounds the double's SHORTEST decimal repr
    (``BigDecimal.valueOf``) HALF_UP while DuckDB decides on the
    binary value, so an exact integer ratio landing on a ``.5e-k``
    boundary diverges (six hunt finds: q325 q416 q475 q480 q486
    q384). ``FLOOR(CAST(x AS DOUBLE) * 10^k + 0.5) / 10^k`` is pure
    IEEE-754 arithmetic — multiply, add, floor, divide on the same
    doubles — so both engines produce bit-identical results for
    EVERY input, ties included. Pair every use with ``sql_dround``
    in the oracle. ``tests/test_round_census.py`` pins that no bare
    ``F.round``/``ROUND(`` site reappears.
    """
    if isinstance(col, str):  # F.round accepted names; stay drop-in
        col = F.col(col)
    s = float(10**scale)
    z = col.cast("double") * F.lit(s) + F.lit(0.5)
    # Spark's FLOOR(double) returns LONG and overflows past 2^63
    # (DuckDB's returns DOUBLE and is total — the q471 migration
    # find: cent-squared residuals at scale 6 overflow the LONG).
    # Any double with |z| >= 2^53 is already integral, so FLOOR is
    # the identity there; branching at 9.0e18 keeps the LONG floor
    # for every fractional value and mirrors DuckDB bit-for-bit on
    # the rest (including inf/NaN, which fall to the otherwise arm).
    fz = F.when(F.abs(z) < F.lit(9.0e18), F.floor(z).cast("double")).otherwise(z)
    return fz / F.lit(s)


def sql_dround(expr: str, scale: int = 0) -> str:
    """DuckDB twin of :func:`dround` (same IEEE ops, same literals)."""
    s = float(10**scale)
    return f"(FLOOR(CAST({expr} AS DOUBLE) * {s!r} + 0.5) / {s!r})"


def ts(date_str: str) -> Column:
    """UTC-naive timestamp literal matching DuckDB ``TIMESTAMP '...'``."""
    return F.lit(date_str).cast("timestamp")


def grain_rank(
    df: DataFrame,
    score: str,
    ties: list[str],
    *,
    descending: bool = True,
    out: str = "rk",
) -> DataFrame:
    """Exact global ``ROW_NUMBER() OVER (ORDER BY score [DESC],
    *ties ASC)`` WITHOUT a single-partition global window — the q242
    rank-reconstruction pattern, generalized from round5's
    ``_score_desc_rank`` (r6: six more sites measured unbounded by
    the window audit).

    The integer-valued ``score`` column is treated as an
    order-contiguous bucket: rank = (count of rows in strictly
    better score buckets) + (row_number within the bucket by the tie
    keys). The in-bucket window partitions by score (parallel across
    buckets); the offset cumsum runs over the SCORE-GRAIN aggregate —
    bounded by the number of distinct scores, never the row count.
    Requirement for scale: distinct scores ≪ rows (counts, grades,
    integer bins). For near-unique scores use a coarsened bucket
    column instead (q444/q484 pattern).

    PRECONDITION (r6 advice): ``score`` must be NON-NULL on every
    row. The offset table joins back on the score column with a
    plain (null-rejecting) equi-join, so a NULL score silently DROPS
    the row — unlike the global window this replaces, which ranked
    NULLs FIRST/LAST. Callers with a nullable score must
    ``F.coalesce`` it to a sentinel bucket (and decide the NULL
    ordering explicitly) before calling; all current call sites pass
    non-null aggregates.
    """
    from pyspark.sql import Window as W

    sc = F.col(score)
    wloc = W.partitionBy(score).orderBy(*[F.col(c).asc() for c in ties])
    local = df.withColumn("__r_in", F.row_number().over(wloc))
    worder = sc.desc() if descending else sc.asc()
    woff = W.orderBy(worder).rowsBetween(W.unboundedPreceding, -1)
    offs = (
        df.groupBy(score)
        .agg(F.count(F.lit(1)).alias("__sz"))
        .select(
            score,
            F.coalesce(F.sum("__sz").over(woff), F.lit(0)).alias("__off"),
        )
    )
    return (
        local.join(F.broadcast(offs), score)
        .withColumn(out, F.col("__off") + F.col("__r_in"))
        .drop("__r_in", "__off")
    )
