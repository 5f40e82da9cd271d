"""``catalog.load_table``'s schema memo.

A first load of a table infers its parquet schema with a Spark job; a
repeat load of the same, unchanged table must run none, and a table
rewritten at the same path must be inferred again.
"""

from __future__ import annotations

import itertools
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_brotli_spark.catalog import load_table, table_path

_groups = itertools.count()


def _jobs(spark, fn):
    """Run ``fn()``; return its result and the number of Spark jobs it
    submitted."""
    sc = spark.sparkContext
    group = f"load-table-memo-{next(_groups)}"
    sc.setJobGroup(group, "load_table memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _region(**extra) -> pa.Table:
    cols = {"r_regionkey": [0, 1, 2], "r_name": ["AFRICA", "AMERICA", "ASIA"]}
    cols.update(extra)
    return pa.table(cols)


def test_repeat_load_runs_no_job(spark, tmp_path):
    pq.write_table(_region(), table_path(str(tmp_path), "region"))
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    again, again_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert first_jobs >= 1  # the inference job the memo saves
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_misses_the_memo(spark, tmp_path):
    path = table_path(str(tmp_path), "region")
    pq.write_table(_region(), path)
    assert "r_comment" not in load_table(spark, str(tmp_path), "region").columns
    pq.write_table(_region(r_comment=["a", "b", "c"]), path)
    df = load_table(spark, str(tmp_path), "region")
    assert "r_comment" in df.columns
    assert sorted(r.r_comment for r in df.collect()) == ["a", "b", "c"]


def test_directory_table_loads(spark, tmp_path):
    path = table_path(str(tmp_path), "region")
    pq.write_to_dataset(_region(), path)
    pq.write_to_dataset(_region(), path)
    assert load_table(spark, str(tmp_path), "region").count() == 6
    assert load_table(spark, str(tmp_path), "region").count() == 6
    # a directory rewritten with new files misses the memo too
    shutil.rmtree(path)
    pq.write_to_dataset(_region(r_comment=["a", "b", "c"]), path)
    df = load_table(spark, str(tmp_path), "region")
    assert "r_comment" in df.columns
    assert df.count() == 3
