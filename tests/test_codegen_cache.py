"""A warm re-run of a query set compiles no whole-stage codegen class.

Spark caches compiled classes by source text, 100 by default. The four
queries below generate 104 distinct classes at sf0.001 (measured in a
fresh JVM), so at the default size every warm run of the set recompiles
45-68 of them; ``get_spark`` sizes the cache to hold it.
"""

from __future__ import annotations

import time

from hadoop_brotli_spark.registry import load_all_queries

QUERIES = [
    "q80_token_stats",
    "q253_exact_substring_dup",
    "q406_label_propagation",
    "q414_twohop_reach_sketch",
]


def _compilations(spark) -> int:
    """Classes compiled so far, read once the count has stopped moving:
    a query can still compile a class after its ``collect`` returns
    (seen with q414, whose last class sometimes lands in the next
    query's count)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = metrics.METRIC_COMPILATION_TIME().getCount()
    while True:
        time.sleep(0.5)
        now = metrics.METRIC_COMPILATION_TIME().getCount()
        if now == count:
            return count
        count = now


def test_warm_rerun_compiles_no_class(spark, sf_dir):
    specs = load_all_queries()

    def run_all():
        for name in QUERIES:
            specs[name].fn(spark, sf_dir).collect()

    # two runs fill the cache: q414 sometimes compiles its sixth class
    # only on its second run, even at an unbounded cache size
    run_all()
    run_all()
    before = _compilations(spark)
    run_all()
    assert _compilations(spark) - before == 0
