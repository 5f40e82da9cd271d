"""Round-4 expansion operators: generation-quality scoring (BLEU),
graph link prediction, privacy audits beyond k-anonymity, frequency-
moment sketches, survival hazards, quantile-forecast evaluation,
speculative-decoding analytics, diversity-aware retrieval, embedding
moment drift, and semi-supervised label propagation.

Shares the repo's determinism contract (FIXTURES.md): exact integer /
DECIMAL reductions wherever cross-row sums occur, common-denominator
integer arithmetic for distribution distances, (FLOOR(CAST(… AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) on final
float columns, and total-order tie-breakers on every ranked output.

Reference parity note: the reference (tesseract2048/hadoop-brotli) is
a compression codec (`BroCodec.java`) with no query surface; these
operators extend the engine's LLM-data-pipeline layer per SURVEY.md
§2b, all DataFrame-first with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ._util import dround, fan_out, t

# ---------------------------------------------------------------------------
# q397 BLEU-2 pair scoring (linear brevity penalty)
#
# Complements q386 ROUGE-L (LCS recall): BLEU is the PRECISION-side
# generation metric — clipped n-gram precision with a brevity
# penalty. Pairing rule (shared spec): within each lang, docs ordered
# by doc_id; each doc is the "candidate" scored against the NEXT doc
# as "reference" (a deterministic stand-in for model-output vs
# gold-reference pairs, which the fixture corpus lacks).
#
# Determinism: clipped counts and token lengths are exact integers;
# p1/p2 are single exact-operand divisions; the brevity penalty is
# the LINEAR variant min(1, n_cand/n_ref) (shared spec — avoids
# cross-engine exp()); bleu2 = bp * sqrt(p1*p2) uses only IEEE
# correctly-rounded ops (divide, multiply, sqrt) on identical
# operands, then ROUND 6.


@register(
    "q397_bleu_pair_scoring",
    category="ml-eval-calibration",
    oracle="""
    WITH pairs AS (
      SELECT doc_id AS cand_id,
             LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
               AS ref_id
      FROM documents
    ),
    p AS (SELECT cand_id, ref_id FROM pairs WHERE ref_id IS NOT NULL),
    toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
      FROM documents
    ),
    uni AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
    ulen AS (SELECT doc_id, SUM(c) AS n FROM uni GROUP BY doc_id),
    big AS (
      SELECT doc_id, b[1] || ' ' || b[2] AS w, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               UNNEST(LIST_ZIP(ws[:LEN(ws)-1], ws[2:])) AS b
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
              FROM documents)
      ) GROUP BY doc_id, w
    ),
    blen AS (SELECT doc_id, SUM(c) AS n FROM big GROUP BY doc_id),
    clip1 AS (
      SELECT p.cand_id, SUM(LEAST(a.c, r.c)) AS m
      FROM p
      JOIN uni a ON a.doc_id = p.cand_id
      JOIN uni r ON r.doc_id = p.ref_id AND r.w = a.w
      GROUP BY p.cand_id
    ),
    clip2 AS (
      SELECT p.cand_id, SUM(LEAST(a.c, r.c)) AS m
      FROM p
      JOIN big a ON a.doc_id = p.cand_id
      JOIN big r ON r.doc_id = p.ref_id AND r.w = a.w
      GROUP BY p.cand_id
    ),
    scored AS (
      SELECT p.cand_id, p.ref_id,
             CAST(lc.n AS BIGINT) AS n_cand,
             CAST(lr.n AS BIGINT) AS n_ref,
             CAST(COALESCE(c1.m, 0) AS DOUBLE) / lc.n AS p1,
             CAST(COALESCE(c2.m, 0) AS DOUBLE) / NULLIF(bc.n, 0) AS p2,
             LEAST(1.0, CAST(lc.n AS DOUBLE) / lr.n) AS bp
      FROM p
      JOIN ulen lc ON lc.doc_id = p.cand_id
      JOIN ulen lr ON lr.doc_id = p.ref_id
      LEFT JOIN blen bc ON bc.doc_id = p.cand_id
      LEFT JOIN clip1 c1 ON c1.cand_id = p.cand_id
      LEFT JOIN clip2 c2 ON c2.cand_id = p.cand_id
    )
    SELECT cand_id, ref_id, n_cand, n_ref,
           (FLOOR(CAST(p1 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS p1,
           (FLOOR(CAST(COALESCE(p2, 0.0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS p2,
           (FLOOR(CAST(bp AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS bp,
           (FLOOR(CAST(bp * SQRT(p1 * COALESCE(p2, 0.0)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS bleu2
    FROM scored
    """,
)
def q397_bleu_pair_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 with clipped n-gram precision and a linear brevity
    penalty over same-lang (doc, next-doc) pairs — the precision-side
    generation-quality metric completing q386's ROUGE-L (recall
    side): p1/p2 are unigram/bigram counts clipped by the reference's
    counts, so copying one reference word 50 times scores 1/50th of
    the naive precision.

    Plan: per-doc n-gram count tables (one explode each), pair frame
    from a LEAD window over the lang grain, then two (doc, ngram)
    equi-joins per pair — hash joins on doc_id + token, no pair
    blow-up beyond shared-ngram matches. At 100 TB the count tables
    are the shuffled grain (bounded by corpus token count) and the
    pair frame is corpus-row-sized; nothing is quadratic.

    Determinism: integer clip sums; bp = min(1, n_c/n_r) (linear
    variant, shared spec — avoids cross-engine exp); bleu2 uses only
    correctly-rounded IEEE ops; ROUND 6 everywhere; p2 of a 1-token
    candidate is defined 0 via NULLIF/COALESCE on both engines.
    """
    d = t(spark, sf_dir, "documents")
    pairs = (
        d.select(
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id")
            .over(Window.partitionBy("lang").orderBy("doc_id"))
            .alias("ref_id"),
        )
        .filter(F.col("ref_id").isNotNull())
    )
    ws = F.split("text", " ")
    uni = (
        d.select("doc_id", F.explode(ws).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ulen = uni.groupBy("doc_id").agg(F.sum("c").alias("n"))
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("a"),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("b"),
            )
        ).alias("p"),
    ).select("doc_id", F.concat_ws(" ", "p.a", "p.b").alias("w"))
    big = bigrams.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    blen = big.groupBy("doc_id").agg(F.sum("c").alias("n"))

    def clip(counts: DataFrame) -> DataFrame:
        a = counts.select(
            F.col("doc_id").alias("cand_id"), "w", F.col("c").alias("ca")
        )
        r = counts.select(
            F.col("doc_id").alias("ref_id"), "w", F.col("c").alias("cr")
        )
        return (
            pairs.join(a, "cand_id")
            .join(r, ["ref_id", "w"])
            .groupBy("cand_id")
            .agg(F.sum(F.least("ca", "cr")).alias("m"))
        )

    c1 = clip(uni).withColumnRenamed("m", "m1")
    c2 = clip(big).withColumnRenamed("m", "m2")
    p1 = F.coalesce(F.col("m1"), F.lit(0)).cast("double") / F.col("nc")
    p2 = F.coalesce(
        F.coalesce(F.col("m2"), F.lit(0)).cast("double")
        / F.nullif(F.col("nb"), F.lit(0)),
        F.lit(0.0),
    )
    bp = F.least(F.lit(1.0), F.col("nc").cast("double") / F.col("nr"))
    return (
        pairs.join(ulen.select(F.col("doc_id").alias("cand_id"), F.col("n").alias("nc")), "cand_id")
        .join(ulen.select(F.col("doc_id").alias("ref_id"), F.col("n").alias("nr")), "ref_id")
        .join(blen.select(F.col("doc_id").alias("cand_id"), F.col("n").alias("nb")), "cand_id", "left")
        .join(c1, "cand_id", "left")
        .join(c2, "cand_id", "left")
        .select(
            "cand_id",
            "ref_id",
            F.col("nc").cast("bigint").alias("n_cand"),
            F.col("nr").cast("bigint").alias("n_ref"),
            dround(p1, 6).alias("p1"),
            dround(p2, 6).alias("p2"),
            dround(bp, 6).alias("bp"),
            dround(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
        )
    )


# ---------------------------------------------------------------------------
# q398 link prediction: resource-allocation index + Jaccard
#
# Bipartite supplier–part graph from lineitem. For supplier pairs
# sharing ≥1 part, the resource-allocation index (Zhou/Lü/Zhang 2009)
# Σ_{z ∈ common} 1/deg(z) — the exact-rational cousin of Adamic-Adar
# (whose 1/ln(deg) terms are not portably summable cross-engine).

RA_DEG_CAP = 64  # parts supplied by more suppliers than this are
# hub noise for link prediction AND the pair-join fan-out hazard;
# excluded by shared spec (certified: the oracle applies the same cap)
RA_TOPK = 30
RA_PAIR_SHUFFLE = 256  # width of the two pair-volume stages (explode
# + pair agg): the session's 32 shuffle partitions put ~2.7M pairs in
# each task at sf1 (87M pairs), forcing sort-spill in both stages


@register(
    "q398_link_prediction_ra",
    oracle=f"""
    WITH bip AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    deg AS (
      SELECT p, COUNT(*) AS d FROM bip GROUP BY p
      HAVING COUNT(*) <= {RA_DEG_CAP}
    ),
    sdeg AS (SELECT s, COUNT(*) AS ds FROM bip GROUP BY s),
    pairs AS (
      SELECT a.s AS supp_a, b.s AS supp_b,
             COUNT(*) AS common_parts,
             SUM(CAST((FLOOR(CAST(1.0 / deg.d AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) AS DECIMAL(18,9))) AS ra
      FROM bip a
      JOIN bip b ON b.p = a.p AND a.s < b.s
      JOIN deg ON deg.p = a.p
      GROUP BY a.s, b.s
    ),
    scored AS (
      SELECT p.supp_a, p.supp_b,
             CAST(p.common_parts AS BIGINT) AS common_parts,
             CAST(p.ra AS DOUBLE) AS ra_score,
             (FLOOR(CAST(CAST(p.common_parts AS DOUBLE)
                   / (da.ds + db.ds - p.common_parts) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
      FROM pairs p
      JOIN sdeg da ON da.s = p.supp_a
      JOIN sdeg db ON db.s = p.supp_b
    )
    SELECT supp_a, supp_b, common_parts, ra_score, jaccard,
           CAST(ROW_NUMBER() OVER (
             ORDER BY ra_score DESC, supp_a ASC, supp_b ASC
           ) AS BIGINT) AS rn
    FROM scored
    QUALIFY rn <= {RA_TOPK}
    """,
)
def q398_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the supplier co-supply bipartite graph:
    resource-allocation index Σ 1/deg(part) over shared parts, plus
    neighborhood Jaccard — "which supplier pairs that never co-occur
    are most likely to" is the same inverted-index pair computation
    every entity-graph enrichment pipeline runs, and RA is the
    strongest of the local (common-neighbor-family) predictors.

    Scale: the pair stage is the classic inverted-index self-join on
    the part key — per-part fan-out is C(deg,2), so the shared
    {RA_DEG_CAP}-degree cap (certified: the oracle applies the SAME
    cap, so correctness proves the cap's semantics, and hub parts
    carry ~zero RA weight anyway) bounds the worst key at
    ~{RA_DEG_CAP}²/2 rows. The cap is applied UPSTREAM of the pair
    self-join (r6 verdict: joining deg after the a⋈b build left the
    intermediate unbounded at hub keys — Catalyst has no CBO to
    reorder it): bip⋈deg is a linear part-keyed shuffle join (deg is
    part-grain, so NOT broadcast — its cardinality grows with the
    part universe), and only the capped posting list is self-joined,
    the q235/q333 shape. Top-k goes through one TakeOrdered.

    Determinism: RA terms are (FLOOR(CAST(1/d AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) summed as DECIMAL(18,9)
    — exact, order-free; Jaccard is a single division of integers.
    """
    # One lineitem scan + one distinct shuffle, reused by deg, sdeg and
    # both pair sides (5 consumers — without this the self-join
    # recomputes the distinct per branch). Non-eager: materializes on
    # first action, so registry/plan enumeration stays job-free; local
    # (not fault-tolerant) — an executor loss recomputes the query,
    # the documented tradeoff for iterative/multi-consumer frames.
    bip = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        bip.groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= RA_DEG_CAP)
    )
    sdeg = bip.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    bip_capped = bip.join(deg, "p")  # cap BEFORE pairing: fan-out ≤ C(64,2)
    # Widen the two pair-volume stages beyond the session's shuffle
    # width (r8, the sf1 smoke's spill constant): repartitioning the
    # SMALL capped posting list on p costs one narrow-row shuffle but
    # runs the C(deg,2) explode + its 87M-row shuffle write across
    # RA_PAIR_SHUFFLE tasks instead of 32; the pair-key repartition
    # below replaces (not adds to) the aggregation exchange — same
    # hash partitioning, just wider, so each reduce task's hash map
    # fits in memory instead of sort-spilling. Map-side partial agg
    # loses nothing: pairs from different parts rarely collide within
    # one map partition, so the partial pass collapsed ~0 rows.
    a = bip_capped.repartition(RA_PAIR_SHUFFLE, "p").select(
        "p", F.col("s").alias("supp_a"), "d"
    )
    b = bip_capped.select("p", F.col("s").alias("supp_b"))
    pairs = (
        a.join(b, "p")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .repartition(RA_PAIR_SHUFFLE, "supp_a", "supp_b")
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).alias("common_parts"),
            F.sum(
                dround(F.lit(1.0) / F.col("d"), 9).cast("decimal(18,9)")
            ).alias("ra"),
        )
    )
    scored = (
        pairs.join(
            F.broadcast(sdeg.select(F.col("s").alias("supp_a"), F.col("ds").alias("da"))),
            "supp_a",
        )
        .join(
            F.broadcast(sdeg.select(F.col("s").alias("supp_b"), F.col("ds").alias("db"))),
            "supp_b",
        )
        .select(
            "supp_a",
            "supp_b",
            F.col("common_parts").cast("bigint").alias("common_parts"),
            F.col("ra").cast("double").alias("ra_score"),
            dround(
                F.col("common_parts").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_parts")),
                6,
            ).alias("jaccard"),
        )
    )
    # TakeOrdered-then-rank (r7: the global pair-grain ROW_NUMBER
    # measured 15.2x at the 10x smoke — pair volume grows superlinearly
    # as more parts saturate the cap, and every pair went through ONE
    # window task). orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition top-30, merged on the driver); the rank window
    # then sees exactly 30 rows.
    top = scored.orderBy(
        F.col("ra_score").desc(), F.col("supp_a").asc(), F.col("supp_b").asc()
    ).limit(RA_TOPK)
    w = Window.orderBy(
        F.col("ra_score").desc(), F.col("supp_a").asc(), F.col("supp_b").asc()
    )
    return top.withColumn("rn", F.row_number().over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# q399 l-diversity + t-closeness privacy audit
#
# Extends q247 (k-anonymity census) and q280 (generalization ladder):
# k-anonymity alone is famously insufficient — a class can be large
# yet reveal everyone's sensitive value (homogeneity attack), which
# l-diversity catches; skewed-but-diverse classes leak via
# distribution distance, which t-closeness catches.

TC_K_MIN = 10
TC_L_MIN = 2
TC_T_MAX = 0.2
_TC_SENS = (
    "CASE WHEN c_acctbal < 0 THEN 'debt' "
    "WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END"
)


@register(
    "q399_ldiversity_tcloseness",
    category="llm-corpus-pipeline",
    oracle=f"""
    WITH base AS (
      SELECT c.c_mktsegment AS segment, n.n_regionkey AS region,
             {_TC_SENS} AS sens
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    gl AS (SELECT sens, COUNT(*) AS cg FROM base GROUP BY sens),
    cls AS (
      SELECT segment, region, COUNT(*) AS k,
             COUNT(DISTINCT sens) AS l
      FROM base GROUP BY segment, region
    ),
    cell AS (
      SELECT segment, region, sens, COUNT(*) AS cc
      FROM base GROUP BY segment, region, sens
    ),
    grid AS (
      SELECT c.segment, c.region, c.k, c.l, g.sens, g.cg,
             COALESCE(ce.cc, 0) AS cc
      FROM cls c
      CROSS JOIN gl g
      LEFT JOIN cell ce ON ce.segment = c.segment
        AND ce.region = c.region AND ce.sens = g.sens
    ),
    tvd AS (
      SELECT segment, region, k, l,
             SUM(ABS(cc * t.n - cg * k)) AS num
      FROM grid, tot t
      GROUP BY segment, region, k, l, t.n
    )
    SELECT segment, region,
           CAST(k AS BIGINT) AS k,
           CAST(l AS BIGINT) AS l_distinct,
           (FLOOR(CAST(0.5 * num / (k * (SELECT n FROM tot)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS tvd,
           k >= {TC_K_MIN} AS k_anon_pass,
           l >= {TC_L_MIN} AS l_div_pass,
           0.5 * num / (k * (SELECT n FROM tot)) <= {TC_T_MAX}
             AS t_close_pass
    FROM tvd
    """,
)
def q399_ldiversity_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity and t-closeness audit over quasi-identifier
    classes (market segment × region) with account-balance band as
    the sensitive attribute: per class, size k, distinct sensitive
    values l, and the total-variation distance between the class's
    sensitive distribution and the global one — the three release
    gates (k ≥ {TC_K_MIN}, l ≥ {TC_L_MIN}, t ≤ {TC_T_MAX}) evaluated
    together, because each catches an attack the previous one misses.

    Determinism: TVD is computed over a common denominator —
    0.5·Σ|cc·N − cg·k| / (k·N) — so the sum is exact integer
    arithmetic and only the final division touches floats.

    Scale: two grouped reduces to the class/cell grain plus a
    broadcast of the |sens|-row global distribution; the class grid
    is |classes|×|bands|, never row-scale.
    """
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    base = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_regionkey").alias("region"),
        F.expr(_TC_SENS).alias("sens"),
    )
    gl = base.groupBy("sens").agg(F.count(F.lit(1)).alias("cg"))
    cls = base.groupBy("segment", "region").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("sens").alias("l"),
    )
    cell = base.groupBy("segment", "region", "sens").agg(
        F.count(F.lit(1)).alias("cc")
    )
    total = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = (
        cls.crossJoin(F.broadcast(gl))
        .join(F.broadcast(cell), ["segment", "region", "sens"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "segment",
            "region",
            "k",
            "l",
            "n",
            (
                F.abs(
                    F.coalesce(F.col("cc"), F.lit(0)) * F.col("n")
                    - F.col("cg") * F.col("k")
                )
            ).alias("term"),
        )
    )
    tvd_num = grid.groupBy("segment", "region", "k", "l", "n").agg(
        F.sum("term").alias("num")
    )
    tvd = F.lit(0.5) * F.col("num") / (F.col("k") * F.col("n"))
    return tvd_num.select(
        "segment",
        "region",
        F.col("k").cast("bigint").alias("k"),
        F.col("l").cast("bigint").alias("l_distinct"),
        dround(tvd, 6).alias("tvd"),
        (F.col("k") >= TC_K_MIN).alias("k_anon_pass"),
        (F.col("l") >= TC_L_MIN).alias("l_div_pass"),
        (tvd <= TC_T_MAX).alias("t_close_pass"),
    )


# ---------------------------------------------------------------------------
# q400 AMS F2 sketch: self-join-size estimation
#
# The second frequency moment F2 = Σ_k c(k)² IS the self-join size of
# lineitem on l_partkey — the number the optimizer needs before
# picking a join strategy. The AMS sketch (Alon-Matias-Szegedy 1996)
# estimates it from 32 ±1-sign counters: estimator e keeps
# S_e = Σ_k sign_e(k)·c(k); E[S_e²] = F2. Median of 4 group-means of
# 8 boosts confidence. All-integer arithmetic end to end.

AMS_EST = 32  # estimators = one md5 nibble each
AMS_GROUPS = 4  # median-of-means groups (8 estimators each)


def _ams_sign_sql(e: int) -> str:
    # high bit of hex nibble e of md5(key): 8..f -> +1, 0..7 -> -1
    return (
        f"CASE WHEN strpos('89abcdef', substr(md5(CAST(l_partkey AS VARCHAR)"
        f" || '_ams'), {e + 1}, 1)) > 0 THEN 1 ELSE -1 END"
    )


@register(
    "q400_ams_f2_sketch",
    category="mixed-extensions",
    oracle=f"""
    WITH counts AS (
      SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey
    ),
    sums AS (
      SELECT
        {", ".join(f"SUM(({_ams_sign_sql(e)}) * c) AS s{e}" for e in range(AMS_EST))},
        SUM(c * c) AS f2_exact,
        COUNT(*) AS n_keys,
        SUM(c) AS n_rows
      FROM counts
    ),
    means AS (
      SELECT f2_exact, n_keys, n_rows,
        {", ".join(
            "(" + " + ".join(f"s{g * 8 + i} * s{g * 8 + i}" for i in range(8))
            + f") / 8.0 AS g{g}" for g in range(AMS_GROUPS))}
      FROM sums
    ),
    med AS (
      SELECT f2_exact, n_keys, n_rows,
             LIST_SORT([g0, g1, g2, g3]) AS gs
      FROM means
    )
    SELECT CAST(f2_exact AS BIGINT) AS f2_exact,
           (FLOOR(CAST((gs[2] + gs[3]) / 2.0 AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS f2_est,
           (FLOOR(CAST(((gs[2] + gs[3]) / 2.0 - f2_exact) / f2_exact AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS rel_err,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM med
    """,
)
def q400_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch vs exact: estimates the
    l_partkey self-join size from {AMS_EST} ±1-sign counters
    (median of {AMS_GROUPS} means of 8), certified against the exact
    F2 = Σc² in the same row — the join-size estimator a cost-based
    planner consults before choosing shuffle vs broadcast.

    Scale/mergeability: each sign counter is a plain SUM, so every
    ingest shard can reduce its own 32 partial counters and a k-row
    merge finishes — the sketch is 256 bytes regardless of key
    cardinality. Signs come from md5 nibbles of the key (shared
    spec), so S_e, S_e², group means, and the even-count median
    ((2nd+3rd)/2 of 4 sorted values) are all exact arithmetic.
    """
    counts = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h = F.md5(F.concat(F.col("l_partkey").cast("string"), F.lit("_ams")))
    signs = [
        F.when(
            F.substring(h, e + 1, 1).isin(*list("89abcdef")), F.lit(1)
        ).otherwise(F.lit(-1))
        for e in range(AMS_EST)
    ]
    sums = counts.agg(
        *[F.sum(signs[e] * F.col("c")).alias(f"s{e}") for e in range(AMS_EST)],
        F.sum(F.col("c") * F.col("c")).alias("f2_exact"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
    )
    gmeans = [
        (
            sum(F.col(f"s{g * 8 + i}") * F.col(f"s{g * 8 + i}") for i in range(8))
            / F.lit(8.0)
        ).alias(f"g{g}")
        for g in range(AMS_GROUPS)
    ]
    med = sums.select("f2_exact", "n_keys", "n_rows", *gmeans).select(
        "f2_exact",
        "n_keys",
        "n_rows",
        F.array_sort(F.array(*[F.col(f"g{g}") for g in range(AMS_GROUPS)])).alias(
            "gs"
        ),
    )
    est = (F.col("gs")[1] + F.col("gs")[2]) / F.lit(2.0)
    return med.select(
        F.col("f2_exact").cast("bigint").alias("f2_exact"),
        dround(est, 4).alias("f2_est"),
        dround((est - F.col("f2_exact")) / F.col("f2_exact"), 6).alias("rel_err"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q401 Nelson-Aalen cumulative hazard
#
# The estimator dual to q261's Kaplan-Meier: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
# with variance Σ dᵢ/nᵢ² — sums of exact-operand rationals instead of
# KM's Π(1−d/n) product, so it needs no exp/ln at all.

NA_WINDOW_DAYS = 7  # same administrative censoring horizon as q261


@register(
    "q401_nelson_aalen",
    category="analytics-stats (regression/tests/causal)",
    oracle=f"""
    WITH su AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN su ON su.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.t0
      GROUP BY e.user_id
    ),
    obs AS (
      SELECT su.user_id,
             CASE WHEN p.t1 IS NULL
                    OR date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE))
                       > {NA_WINDOW_DAYS}
                  THEN {NA_WINDOW_DAYS}
                  ELSE date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE))
             END AS tday,
             CASE WHEN p.t1 IS NOT NULL
                    AND date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE))
                        <= {NA_WINDOW_DAYS}
                  THEN 1 ELSE 0 END AS ev
      FROM su LEFT JOIN pu p ON p.user_id = su.user_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM obs),
    steps AS (SELECT tday, SUM(ev) AS d, SUM(1 - ev) AS c
              FROM obs GROUP BY tday),
    na AS (
      SELECT tday, d, c,
             n - COALESCE(SUM(d + c) OVER (ORDER BY tday
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM steps, tot
    )
    SELECT tday AS t_day,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_events,
           (FLOOR(CAST(CAST(SUM(CAST((FLOOR(CAST(CAST(d AS DOUBLE) / n_risk AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0)
                          AS DECIMAL(18,9))) OVER (ORDER BY tday)
                 AS DOUBLE) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS cum_hazard,
           (FLOOR(CAST(CAST(SUM(CAST((FLOOR(CAST(CAST(d AS DOUBLE) / (n_risk * n_risk) AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0)
                          AS DECIMAL(18,9))) OVER (ORDER BY tday)
                 AS DOUBLE) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS hazard_var
    FROM na
    """,
)
def q401_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for signup→first-purchase with
    {NA_WINDOW_DAYS}-day administrative censoring — the estimator
    paired with q261's Kaplan-Meier: H(t) = Σ dᵢ/nᵢ plus its variance
    Σ dᵢ/nᵢ², the additive form survival tooling prefers because
    hazard DIFFERENCES between cohorts are directly comparable.

    Determinism: hazard terms are (FLOOR(CAST(d/n AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) accumulated as
    DECIMAL over the cumulative window — exact, order-free — so this
    query needs none of q261's exp/ln machinery.

    Plan: identical scale shape to q261 — two per-user conditional
    MIN reduces, then all windows over the bounded
    {NA_WINDOW_DAYS + 1}-row step table.
    """
    ev = t(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    dd = F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date"))
    obs = su.join(pu, "user_id", "left").select(
        F.when(
            F.col("t1").isNull() | (dd > NA_WINDOW_DAYS), F.lit(NA_WINDOW_DAYS)
        )
        .otherwise(dd)
        .alias("tday"),
        F.when(
            F.col("t1").isNotNull() & (dd <= NA_WINDOW_DAYS), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    steps = obs.groupBy("tday").agg(
        F.sum("ev").alias("d"), F.sum(F.lit(1) - F.col("ev")).alias("c")
    )
    total = obs.agg(F.count(F.lit(1)).alias("n"))
    w_prev = (
        Window.orderBy("tday").rowsBetween(Window.unboundedPreceding, -1)
    )
    na = steps.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        F.col("n")
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
    )
    w_cum = Window.orderBy("tday").rowsBetween(Window.unboundedPreceding, 0)
    hterm = dround(F.col("d").cast("double") / F.col("n_risk"), 9).cast(
        "decimal(18,9)"
    )
    vterm = dround(
        F.col("d").cast("double") / (F.col("n_risk") * F.col("n_risk")), 9
    ).cast("decimal(18,9)")
    return na.select(
        F.col("tday").alias("t_day"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        dround(F.sum(hterm).over(w_cum).cast("double"), 6).alias("cum_hazard"),
        dround(F.sum(vterm).over(w_cum).cast("double"), 6).alias("hazard_var"),
    )


# ---------------------------------------------------------------------------
# q402 pinball-loss quantile-forecast evaluation
#
# Point forecasts get MAE/MAPE (q302); QUANTILE forecasts get the
# pinball loss — the strictly proper scoring rule that q381's
# conformal intervals and every demand-forecasting pipeline are
# ultimately judged by.

PINBALL_TAUS = (1, 5, 9)  # tau/10: 0.1, 0.5, 0.9
PINBALL_SPLIT = "1999-01-01"


@register(
    "q402_pinball_loss",
    category="ml-eval-calibration",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS y
      FROM orders GROUP BY 1
    ),
    train AS (SELECT y FROM daily WHERE day < DATE '{PINBALL_SPLIT}'),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM train),
    ranked AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY y ASC) AS r FROM train
    ),
    taus AS (SELECT UNNEST([{", ".join(str(x) for x in PINBALL_TAUS)}]) AS t10),
    qs AS (
      SELECT t.t10, r.y AS q
      FROM taus t, ntr
      JOIN ranked r
        ON r.r = CAST(CEIL(t.t10 * ntr.n / 10.0) AS BIGINT)
    ),
    test AS (SELECT y FROM daily WHERE day >= DATE '{PINBALL_SPLIT}'),
    losses AS (
      -- integer "cent-tenths": |y-q| in cents x tau-tenths, so the
      -- test-day sum is exact BIGINT and only one division remains
      SELECT q.t10, q.q,
             COUNT(*) AS n_test,
             SUM(CASE WHEN te.y >= q.q
                 THEN CAST((te.y - q.q) * 100 AS BIGINT) * q.t10
                 ELSE CAST((q.q - te.y) * 100 AS BIGINT) * (10 - q.t10)
                 END) AS loss_num,
             SUM(CASE WHEN te.y <= q.q THEN 1 ELSE 0 END) AS covered
      FROM qs q CROSS JOIN test te
      GROUP BY q.t10, q.q
    )
    SELECT (FLOOR(CAST(t10 / 10.0 AS DOUBLE) * 10.0 + 0.5) / 10.0) AS tau,
           CAST(q AS DOUBLE) AS q_value,
           CAST(loss_num AS DOUBLE) / (n_test * 1000.0) AS mean_pinball,
           CAST(n_test AS BIGINT) AS n_test_days,
           (FLOOR(CAST(CAST(covered AS DOUBLE) / n_test AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS coverage
    FROM losses
    """,
)
def q402_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss backtest: fit τ ∈ {{0.1, 0.5, 0.9}}
    daily-revenue quantiles on the pre-{PINBALL_SPLIT} training days
    (exact order statistics), then score each on the held-out days
    with the asymmetric pinball loss and report empirical coverage —
    the strictly proper scoring rule for quantile forecasts, which
    MAE-style point metrics (q302) cannot rank.

    Determinism: daily revenue is a DECIMAL-exact sum; the τ-quantile
    is the ⌈τ·n⌉-th order statistic (a value pick — duplicate values
    cannot change it); pinball terms are integer "cent-tenths"
    (|y−q| in cents × τ in tenths) so the test-day sum is exact
    BIGINT, and the single final division is reproducible IEEE.

    Scale: one day-grain reduce, a 3-row quantile frame broadcast
    onto the test days, one grouped reduce per τ.
    """
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("y")
        )
    )
    split = F.lit(PINBALL_SPLIT).cast("date")
    train = daily.filter(F.col("day") < split).select("y")
    ntr = train.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = train.select(
        "y", F.row_number().over(Window.orderBy(F.col("y").asc())).alias("r")
    )
    taus = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in PINBALL_TAUS])).alias("t10")
    )
    qs = (
        taus.crossJoin(F.broadcast(ntr))
        .join(
            ranked,
            F.col("r")
            == F.ceil(F.col("t10") * F.col("n") / F.lit(10.0)).cast("bigint"),
        )
        .select("t10", F.col("y").alias("q"))
    )
    test = daily.filter(F.col("day") >= split).select("y")
    loss = F.when(
        F.col("y") >= F.col("q"),
        ((F.col("y") - F.col("q")) * 100).cast("bigint") * F.col("t10"),
    ).otherwise(
        ((F.col("q") - F.col("y")) * 100).cast("bigint")
        * (F.lit(10) - F.col("t10"))
    )
    losses = (
        F.broadcast(qs)
        .crossJoin(test)
        .groupBy("t10", "q")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(loss).alias("loss_num"),
            F.sum(
                F.when(F.col("y") <= F.col("q"), 1).otherwise(0)
            ).alias("covered"),
        )
    )
    return losses.select(
        dround(F.col("t10") / F.lit(10.0), 1).alias("tau"),
        F.col("q").cast("double").alias("q_value"),
        (F.col("loss_num").cast("double") / (F.col("n_test") * F.lit(1000.0)))
        .alias("mean_pinball"),
        F.col("n_test").cast("bigint").alias("n_test_days"),
        dround(F.col("covered").cast("double") / F.col("n_test"), 6).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------------------
# q403 speculative-decoding draft acceptance
#
# Inference-side analytics (complements q389's KV-cache prefix
# sharing): a greedy bigram "draft model" proposes the corpus-argmax
# continuation of each token; the acceptance rate — how often the
# actual next token matches — is the number that decides whether
# speculative decoding pays off on this corpus.


@register(
    "q403_draft_acceptance",
    category="llm-text-analysis",
    oracle="""
    WITH toks AS (
      SELECT d.doc_id, d.source, p.w, p.pos
      FROM documents d,
      LATERAL (
        SELECT UNNEST(STRING_SPLIT(d.text, ' ')) AS w,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(d.text, ' '), 1) AS pos
      ) p
    ),
    steps AS (
      SELECT a.source, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    lm AS (
      SELECT w1, w2, COUNT(*) AS n FROM steps GROUP BY w1, w2
    ),
    draft AS (
      SELECT w1, w2 AS pred
      FROM (
        SELECT w1, w2,
               ROW_NUMBER() OVER (PARTITION BY w1
                 ORDER BY n DESC, w2 ASC) AS rn
        FROM lm
      ) WHERE rn = 1
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(SUM(CASE WHEN s.w2 = d.pred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accepted,
           (FLOOR(CAST(CAST(SUM(CASE WHEN s.w2 = d.pred THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS acceptance_rate
    FROM steps s JOIN draft d ON d.w1 = s.w1
    GROUP BY s.source
    """,
)
def q403_draft_acceptance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance-rate audit: a greedy bigram
    draft model (corpus-argmax continuation per token, ties broken
    lexicographically) is scored against every actual next-token
    step, per source — the go/no-go number for speculative decoding,
    and a corpus-predictability readout in its own right (high
    acceptance ⇒ templated/boilerplate-heavy source).

    Plan: token positions from one explode; adjacent steps via a
    self-join on (doc, pos+1) — at 100 TB this is the same
    shuffle-on-doc_id grain as every n-gram op here (the repo's
    arrays_zip alternative avoids even that, but the oracle's
    LATERAL UNNEST pairing keeps both engines on one shared spec);
    the draft table is |vocab| rows, broadcast onto the steps.

    Determinism: argmax via (count DESC, token ASC) row_number;
    acceptance is exact integer counting.
    """
    d = t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    steps = d.select(
        "source",
        F.explode(
            F.arrays_zip(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("a"),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("b"),
            )
        ).alias("p"),
    ).select("source", F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
    lm = steps.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    draft = (
        lm.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("w1").orderBy(
                    F.col("n").desc(), F.col("w2").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("pred"))
    )
    acc = F.sum(F.when(F.col("w2") == F.col("pred"), 1).otherwise(0))
    return (
        steps.join(F.broadcast(draft), "w1")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_steps"),
            acc.cast("bigint").alias("n_accepted"),
            dround(
                acc.cast("double") / F.count(F.lit(1)), 6
            ).alias("acceptance_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q404 maximal-marginal-relevance diverse top-k
#
# The retrieval-diversity operator RAG stacks run after ANN: greedy
# MMR (Carbonell/Goldstein 1998) re-ranks a candidate pool so each
# pick trades relevance against similarity to what's already picked.

MMR_POOL = 20  # candidate pool: exact top-20 by relevance
MMR_K = 5  # picks
# lambda = 0.7 expressed as integer tenths: score = (7*rel - 3*ms)/10


def _mmr_oracle() -> str:
    steps = []
    for i in range(2, MMR_K + 1):
        steps.append(f"""
    ms{i} AS (
      SELECT s.a AS vec_id, MAX(s.sim) AS m
      FROM sims s JOIN sel{i - 1} t ON t.vec_id = s.b
      GROUP BY s.a
    ),
    pick{i} AS (
      SELECT vec_id, rel, m FROM (
        SELECT c.vec_id, c.rel, ms.m,
               ROW_NUMBER() OVER (
                 ORDER BY (FLOOR(CAST((7 * c.rel - 3 * ms.m) / 10 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) DESC,
                          c.vec_id ASC) AS rk
        FROM pool c JOIN ms{i} ms ON ms.vec_id = c.vec_id
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      ) WHERE rk = 1
    ),
    sel{i} AS (
      SELECT * FROM sel{i - 1}
      UNION ALL
      SELECT {i} AS step, vec_id, rel, m AS max_sim_selected,
             (FLOOR(CAST((7 * rel - 3 * m) / 10 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS mmr_score
      FROM pick{i}
    )""")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id,
             (FLOOR(CAST(SUM(x.x * y.y)
                   / (SQRT(SUM(x.x * x.x)) * SQRT(SUM(y.y * y.y))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
               AS rel
      FROM embeddings c, q,
           LATERAL (SELECT UNNEST(c.embedding) AS x,
                           GENERATE_SUBSCRIPTS(c.embedding, 1) AS i) x,
           LATERAL (SELECT UNNEST(q.qe) AS y,
                           GENERATE_SUBSCRIPTS(q.qe, 1) AS i) y
      WHERE c.vec_id <> 0 AND x.i = y.i
      GROUP BY c.vec_id
    ),
    pool AS (
      SELECT vec_id, rel FROM (
        SELECT vec_id, rel,
               ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= {MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             (FLOOR(CAST(SUM(CAST(ea.embedding[d.d] AS DOUBLE)
                       * CAST(eb.embedding[d.d] AS DOUBLE))
                   / (SQRT(SUM(CAST(ea.embedding[d.d] AS DOUBLE)
                               * CAST(ea.embedding[d.d] AS DOUBLE)))
                      * SQRT(SUM(CAST(eb.embedding[d.d] AS DOUBLE)
                                 * CAST(eb.embedding[d.d] AS DOUBLE)))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
               AS sim
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      CROSS JOIN generate_series(1, 64) AS d(d)
      GROUP BY a.vec_id, b.vec_id
    ),
    sel1 AS (
      SELECT 1 AS step, vec_id, rel, 0.0 AS max_sim_selected,
             (FLOOR(CAST(7 * rel / 10 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS mmr_score
      FROM pool QUALIFY ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id ASC) = 1
    ),
    {",".join(steps)}
    SELECT CAST(step AS BIGINT) AS step, vec_id, rel AS relevance,
           (FLOOR(CAST(max_sim_selected AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS max_sim_selected, mmr_score
    FROM sel{MMR_K}
    """


@register("q404_mmr_diverse_topk", category="llm-similarity-ann",
          oracle=_mmr_oracle())
def q404_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-{MMR_K}: greedy
    re-ranking of the exact top-{MMR_POOL} cosine candidates for
    query vec_id=0, each step maximizing (7·relevance −
    3·max-sim-to-selected)/10 — the operator that stops a RAG
    retriever from returning five near-identical passages, run AFTER
    the ANN stage (q70/q71/q344) on its bounded candidate pool.

    Plan: relevance is one broadcast-query scan (q70's shape); the
    pool is {MMR_POOL} rows, so the pairwise-sim table and the
    {MMR_K}-step greedy loop are driver-planned joins over broadcast
    frames — no collect, no cartesian beyond the pool's own
    {MMR_POOL}² sims. At 100 TB only the relevance scan grows; the
    greedy stage is O(pool²) regardless of corpus size.

    Determinism: cosines ROUND 6 (q70 precedent); the MMR score uses
    integer-weighted arithmetic on identical operands, ROUND 6, with
    vec_id tie-breaks at every argmax.
    """
    from ..functions.columns import dot_product, l2_norm

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            dround(
                dot_product("embedding", "qe")
                / (l2_norm("embedding") * l2_norm("qe")),
                6,
            ).alias("rel"),
        )
    )
    pool = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
            ),
        )
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
        # q64 rule: the greedy loop references the pool 5x — without a
        # checkpoint each iteration re-runs the full relevance scan
        .localCheckpoint(eager=True)
    )
    pe = pool.join(emb, "vec_id").select("vec_id", "rel", "embedding")
    a = pe.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"),
    )
    b = pe.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            dround(
                dot_product("ea", "eb") / (l2_norm("ea") * l2_norm("eb")), 6
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    first = (
        pool.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.lit(1).alias("step"),
            "vec_id",
            "rel",
            F.lit(0.0).alias("max_sim_selected"),
            dround(F.lit(7) * F.col("rel") / 10, 6).alias("mmr_score"),
        )
    )
    sel = first
    for i in range(2, MMR_K + 1):
        ms = (
            sims.join(
                sel.select(F.col("vec_id").alias("b")), "b"
            )
            .groupBy("a")
            .agg(F.max("sim").alias("m"))
            .withColumnRenamed("a", "vec_id")
        )
        cand = (
            pool.join(ms, "vec_id")
            .join(sel.select("vec_id"), "vec_id", "left_anti")
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.orderBy(
                        dround(
                            (F.lit(7) * F.col("rel") - F.lit(3) * F.col("m"))
                            / 10,
                            6,
                        ).desc(),
                        F.col("vec_id").asc(),
                    )
                ),
            )
            .filter(F.col("rk") == 1)
            .select(
                F.lit(i).alias("step"),
                "vec_id",
                "rel",
                F.col("m").alias("max_sim_selected"),
                dround(
                    (F.lit(7) * F.col("rel") - F.lit(3) * F.col("m")) / 10, 6
                ).alias("mmr_score"),
            )
        )
        sel = sel.unionAll(cand)
    return sel.select(
        F.col("step").cast("bigint").alias("step"),
        "vec_id",
        F.col("rel").alias("relevance"),
        dround("max_sim_selected", 6).alias("max_sim_selected"),
        "mmr_score",
    )


# ---------------------------------------------------------------------------
# q405 embedding second-moment drift (quadratic-kernel MMD²)
#
# Distribution drift BETWEEN embedding label groups that centroid
# distance (q177, linear-kernel MMD) cannot see: MMD² under the
# quadratic kernel k(x,y) = (x·y)² equals ||Ma − Mb||²_F of the
# uncentred second-moment matrices — covariance-structure drift from
# three moment reduces, no pairwise vector joins at all.

MD_DIMS = 8  # leading dims audited: 36 upper-triangle moments


@register(
    "q405_embedding_moment_drift",
    category="llm-similarity-ann",
    oracle=f"""
    WITH terms AS (
      SELECT e.label, gi.i AS i, gj.j AS j,
             (FLOOR(CAST(CAST(e.embedding[gi.i] AS DOUBLE)
                   * CAST(e.embedding[gj.j] AS DOUBLE) AS DOUBLE) * 10000000.0 + 0.5) / 10000000.0) AS xx
      FROM embeddings e,
           generate_series(1, {MD_DIMS}) AS gi(i),
           generate_series(1, {MD_DIMS}) AS gj(j)
      WHERE gj.j >= gi.i
    ),
    mom AS (
      SELECT label, i, j,
             CAST(SUM(CAST(xx AS DECIMAL(28,7))) AS DOUBLE) / COUNT(*) AS m,
             COUNT(*) AS n
      FROM terms GROUP BY label, i, j
    ),
    drift AS (
      SELECT a.label AS label_a, b.label AS label_b,
             MAX(a.n) AS n_a, MAX(b.n) AS n_b,
             SUM(CAST((FLOOR(CAST((a.m - b.m) * (a.m - b.m)
               * (CASE WHEN a.i = a.j THEN 1 ELSE 2 END) AS DOUBLE) * 1000000000000.0 + 0.5) / 1000000000000.0)
               AS DECIMAL(28,12))) AS mmd2
      FROM mom a
      JOIN mom b ON b.i = a.i AND b.j = a.j AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           (FLOOR(CAST(CAST(mmd2 AS DOUBLE) AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) AS mmd2_quad,
           (FLOOR(CAST(SQRT(CAST(mmd2 AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS frobenius_dist
    FROM drift
    """,
)
def q405_embedding_moment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-kernel MMD² between embedding label groups over the
    leading {MD_DIMS} dims: ||E[xxᵀ]_a − E[xxᵀ]_b||²_F — the
    covariance-structure drift detector that catches a rotated or
    re-scaled embedding space even when the centroids (q177) barely
    move, because MMD² under k(x,y)=(x·y)² is EXACTLY this Frobenius
    distance of second-moment matrices.

    Scale: the kernel trick here is algebraic — no pairwise vector
    joins; per group one {MD_DIMS}·({MD_DIMS}+1)/2-slot moment reduce
    (map-side combinable, mergeable across shards), then a
    |labels|²-row broadcast-sized matrix diff.

    Determinism: xᵢxⱼ products of float32-exact doubles are exact;
    ROUND 7 + DECIMAL sums make moments order-free; off-diagonal
    terms carry weight 2 (symmetry), squared diffs ROUND 12 into a
    DECIMAL sum.
    """
    emb = t(spark, sf_dir, "embeddings")
    gi = spark.range(1, MD_DIMS + 1).select(F.col("id").cast("int").alias("i"))
    gj = spark.range(1, MD_DIMS + 1).select(F.col("id").cast("int").alias("j"))
    grid = gi.crossJoin(gj).filter(F.col("j") >= F.col("i"))
    terms = emb.crossJoin(F.broadcast(grid)).select(
        "label",
        "i",
        "j",
        dround(
            F.element_at("embedding", F.col("i")).cast("double")
            * F.element_at("embedding", F.col("j")).cast("double"),
            7,
        ).alias("xx"),
    )
    mom = terms.groupBy("label", "i", "j").agg(
        (
            F.sum(F.col("xx").cast("decimal(28,7)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    a = mom.select(
        F.col("label").alias("label_a"), "i", "j",
        F.col("m").alias("ma"), F.col("n").alias("na"),
    )
    b = mom.select(
        F.col("label").alias("label_b"), "i", "j",
        F.col("m").alias("mb"), F.col("n").alias("nb"),
    )
    w = F.when(F.col("i") == F.col("j"), F.lit(1)).otherwise(F.lit(2))
    drift = (
        a.join(b, ["i", "j"])
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum(
                dround(
                    (F.col("ma") - F.col("mb"))
                    * (F.col("ma") - F.col("mb"))
                    * w,
                    12,
                ).cast("decimal(28,12)")
            ).alias("mmd2"),
        )
    )
    return drift.select(
        "label_a",
        "label_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        dround(F.col("mmd2").cast("double"), 9).alias("mmd2_quad"),
        dround(F.sqrt(F.col("mmd2").cast("double")), 6).alias(
            "frobenius_dist"
        ),
    )


# ---------------------------------------------------------------------------
# q406 semi-supervised label propagation (synchronous, 3 rounds)
#
# Distinct from q64/q340 (connected components: labels MERGE to a
# fixed point) — here labels COMPETE: each round every node adopts
# the majority label of its neighbors (ties -> min label), the
# community-detection primitive (Raghavan 2007) and the
# semi-supervised "spread the curated labels" operator.

LP_ROUNDS = 3
LP_DEG_CAP = 64  # same inverted-index fan-out cap as q398


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-supply pairs (a < b) of suppliers sharing a part
    whose distinct-supplier degree is <= {LP_DEG_CAP}, built from
    part-grain posting lists instead of the a⋈b self-join.

    One lineitem pass: groupBy(p).collect_set(s) IS the distinct
    (s,p) dedup, the degree census (size <= cap), and the pair
    source all at once — the r6 self-join needed three lineitem
    scans + corpus-wide distincts (degree census, stream side,
    broadcast side) plus a join whose broadcast depended on size
    estimates; at 100 TB that join degrades to shuffling both
    591k-per-SF sides, while the posting list crosses the wire
    exactly once. Per-part pair fan-out is C(deg,2) <= C(cap,2),
    exploded from a sorted set so a < b by construction.

    The posting lists are repartitioned to the default parallelism
    (``fan_out(after_shuffle=True)``) before the explode. They are
    small (~280 KB at sf0.01), so AQE coalesced their shuffle into one
    partition and the whole pair explosion ran in one task while the
    other cores idled: 424 of its stage's 439 ms at sf0.01 on 4 CPUs.
    AQE does not coalesce a repartition that sets its partition count.
    """
    posting = fan_out(
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .groupBy("p")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(F.size("ss") <= LP_DEG_CAP),
        after_shuffle=True,
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "transform(slice(ss, i + 2, size(ss)), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("e")
    ).select("e.a", "e.b")
    # plain distinct, NOT a pair-key repartition: duplicate pairs are
    # ~17x of unique here, so the partial (map-side) aggregation
    # collapses most rows before the exchange -- q398 widened its
    # pair stages instead because ITS pairs barely collide and carry
    # per-pair payload sums; measured here the repartition tripled
    # shuffled bytes (35 -> 107 MB) for nothing
    return pairs.distinct()


def _lp_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT v.s, COALESCE(m.lbl, v.lbl) AS lbl
      FROM {prev} v LEFT JOIN (
        SELECT s, lbl FROM (
          SELECT e.b AS s, p.lbl, COUNT(*) AS c,
                 ROW_NUMBER() OVER (PARTITION BY e.b
                   ORDER BY COUNT(*) DESC, p.lbl ASC) AS rk
          FROM sym e JOIN {prev} p ON p.s = e.a
          GROUP BY e.b, p.lbl
        ) WHERE rk = 1
      ) m ON m.s = v.s
    )"""


@register(
    "q406_label_propagation",
    oracle=f"""
    WITH bip AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    okp AS (
      SELECT p FROM bip GROUP BY p HAVING COUNT(*) <= {LP_DEG_CAP}
    ),
    edges AS (
      SELECT DISTINCT a.s AS a, b.s AS b
      FROM bip a JOIN bip b ON b.p = a.p AND a.s < b.s
      JOIN okp ON okp.p = a.p
    ),
    sym AS (
      SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
    ),
    l0 AS (
      SELECT s_suppkey AS s, CAST(s_nationkey AS INTEGER) AS lbl
      FROM supplier
    ),
    {",".join(_lp_round_sql(f"l{k}", f"l{k + 1}") for k in range(LP_ROUNDS))}
    SELECT f.s AS s_suppkey,
           CAST(i.lbl AS INTEGER) AS label_seed,
           CAST(f.lbl AS INTEGER) AS label_final,
           f.lbl <> i.lbl AS changed
    FROM l{LP_ROUNDS} f JOIN l0 i ON i.s = f.s
    """,
)
def q406_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous majority label propagation ({LP_ROUNDS} rounds)
    over the supplier co-supply graph, seeded with nation labels:
    each round a node adopts its neighbors' most common label (ties
    to the smallest) — community detection / semi-supervised label
    spreading, the COMPETING-labels complement of the MERGING-labels
    connected components (q64/q340).

    Scale: edges come from the capped inverted-index self-join
    (q398's {LP_DEG_CAP}-degree cap, shared with the oracle); each
    round is one edge join + one (node,label)-grain count + one
    argmax window partitioned by node — all key-bounded shuffles, no
    global ordering anywhere; the production loop checkpoints the
    label frame every few rounds exactly like q64.

    Determinism: synchronous updates (round r+1 reads only round r),
    integer counts, (count DESC, label ASC) argmax.
    """
    # edge build: one lineitem pass via part-grain posting lists
    # (_cosupply_edges) -- the r6 self-join shape recomputed the
    # corpus-wide (s,p) distinct for each of its three consumers
    edges = _cosupply_edges(spark, sf_dir)
    # symmetrize by exploding each deduped edge into both directions:
    # one narrow pass over the edge set instead of unioning a second
    # copy of the whole build subtree
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=True)  # q64 rule: reused every round
    )
    l0 = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("s"),
        F.col("s_nationkey").cast("int").alias("lbl"),
    )
    # carry the seed label THROUGH the rounds (r10): the final output
    # used to re-join the propagated frame against l0 (one more
    # supplier scan + join after round 3); rounds preserve the node
    # set, so the seed rides along as a column instead
    cur = l0.select("s", "lbl", F.col("lbl").alias("seed"))
    for _ in range(LP_ROUNDS):
        maj = (
            sym.join(
                cur.select("s", "lbl").withColumnRenamed("s", "a"), "a"
            )
            .groupBy(F.col("b").alias("s"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("s").orderBy(
                        F.col("c").desc(), F.col("lbl").asc()
                    )
                ),
            )
            .filter(F.col("rk") == 1)
            .select("s", F.col("lbl").alias("mlbl"))
        )
        # checkpoint the label frame every round (q408 rule: cur is
        # consumed TWICE per round — by maj and by the update join —
        # so without the cut round k replans 2^k copies of the
        # upstream rounds; the node-grain frame is tiny to
        # materialize at any scale)
        cur = (
            cur.join(maj, "s", "left")
            .select(
                "s",
                F.coalesce(F.col("mlbl"), F.col("lbl")).alias("lbl"),
                "seed",
            )
            .localCheckpoint(eager=False)
        )
    return cur.select(
        F.col("s").alias("s_suppkey"),
        F.col("seed").cast("int").alias("label_seed"),
        F.col("lbl").cast("int").alias("label_final"),
        (F.col("lbl") != F.col("seed")).alias("changed"),
    )


# ---------------------------------------------------------------------------
# q407 personalized PageRank (integer fixed point, restart to seed)
#
# q201's global PageRank says which nodes are central OVERALL;
# personalized PageRank (teleport mass concentrated on one seed)
# says which nodes are central RELATIVE TO the seed — the
# random-walk-with-restart relevance score behind graph-based
# recommendation and local community scoring.

PPR_SCALE = 1_000_000_000_000
PPR_ITERS = 4


def _ppr_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT n.s,
             (CASE WHEN n.s = (SELECT s FROM seed)
                   THEN {PPR_SCALE} * 15 // 100 ELSE 0 END)
             + (85 * COALESCE(CAST(SUM(p.r // dg.d) AS BIGINT), 0)) // 100
               AS r
      FROM nodes n
      LEFT JOIN sym e ON e.b = n.s
      LEFT JOIN {prev} p ON p.s = e.a
      LEFT JOIN deg dg ON dg.a = e.a
      GROUP BY n.s
    )"""


@register(
    "q407_personalized_pagerank",
    oracle=f"""
    WITH bip AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    okp AS (
      SELECT p FROM bip GROUP BY p HAVING COUNT(*) <= {LP_DEG_CAP}
    ),
    edges AS (
      SELECT DISTINCT a.s AS a, b.s AS b
      FROM bip a JOIN bip b ON b.p = a.p AND a.s < b.s
      JOIN okp ON okp.p = a.p
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    nodes AS (SELECT DISTINCT s FROM bip),
    seed AS (SELECT MIN(s) AS s FROM nodes),
    deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
    r0 AS (
      SELECT s, CASE WHEN s = (SELECT s FROM seed)
                     THEN {PPR_SCALE} ELSE 0 END AS r
      FROM nodes
    ),
    {",".join(_ppr_round_sql(f"r{k}" if k else "r0", f"r{k + 1}")
              for k in range(PPR_ITERS))}
    SELECT s AS s_suppkey, r AS ppr_fp,
           CAST(ROW_NUMBER() OVER (ORDER BY r DESC, s ASC) AS BIGINT) AS rn
    FROM r{PPR_ITERS}
    QUALIFY rn <= 25
    """,
)
def q407_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) on the
    supplier co-supply graph: all teleport mass returns to the
    minimum-key seed supplier, {PPR_ITERS} synchronous iterations in
    the same scaled-integer fixed point as q201 — the seed-relative
    relevance ranking behind "suppliers most entangled with THIS
    one", graph recommendations, and local community extraction.

    Determinism: integer mass conservation — rank DIV degree flows,
    85/100 damping in integer arithmetic, so results are
    bit-identical across engines and partitionings; top-25 with
    (rank DESC, key ASC) tie-break.

    Scale: per iteration one edge join + node-grain sum (q64's CC
    loop shape); the seed CASE is a broadcast scalar. Unrolled here;
    the production loop localCheckpoints between rounds.
    """
    # ONE lineitem pass feeds BOTH the capped posting lists and the
    # node set (r10): the part-grain collect_set is computed before
    # the degree-cap filter, so the node set (every supplier in
    # lineitem, uncapped parts included) explodes out of the same
    # aggregate instead of paying a second corpus scan + distinct.
    posting_all = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .groupBy("p")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        # part-grain posting frame, two consumers (q398's bip rule)
        .localCheckpoint(eager=False)
    )
    pairs = (
        posting_all.filter(F.size("ss") <= LP_DEG_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()  # see _cosupply_edges: partial agg collapses dups
    )
    # symmetrize by exploding each deduped edge into both directions:
    # one narrow pass over the edge set instead of unioning a second
    # copy of the whole build subtree
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=True)  # q64 rule: reused every iteration
    )
    nodes = (
        posting_all.select(F.explode("ss").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed = nodes.agg(F.min("s").alias("seed_s"))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    r = nodes.crossJoin(F.broadcast(seed)).select(
        "s",
        F.when(F.col("s") == F.col("seed_s"), F.lit(PPR_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    contrib_src = sym.join(deg, "a")
    for _ in range(PPR_ITERS):
        contribs = (
            contrib_src.join(r.withColumnRenamed("s", "a"), "a")
            .select("b", F.expr("r DIV d").alias("c"))
            .groupBy("b")
            .agg(F.sum("c").alias("m"))
        )
        r = (
            nodes.crossJoin(F.broadcast(seed))
            # contribs is node-grain (bounded by the supplier
            # dimension), so broadcast it: the default plan ran this
            # left join as a per-round SortMergeJoin, exchanging BOTH
            # node-grain sides every iteration (4 SMJ -> 4 BHJ, 8
            # exchanges removed, r10)
            .join(F.broadcast(contribs), F.col("s") == F.col("b"), "left")
            .select(
                "s",
                (
                    F.when(
                        F.col("s") == F.col("seed_s"),
                        F.lit(PPR_SCALE * 15 // 100),
                    ).otherwise(F.lit(0))
                    + F.expr("85 * coalesce(m, 0L) DIV 100")
                ).cast("long").alias("r"),
            )
        )
        # (r9 A/B: a per-iteration localCheckpoint here measured
        # 6.1 -> 9.6 s — the node-grain r vector is cheap to replan
        # and the materialization breaks exchange reuse; unlike
        # q408's SELF-join doubling there is no exponential lineage)
    w = Window.orderBy(F.col("r").desc(), F.col("s").asc())
    return (
        r.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 25)
        .select(F.col("s").alias("s_suppkey"), F.col("r").alias("ppr_fp"), "rn")
    )


# ---------------------------------------------------------------------------
# q408 WordPiece greedy longest-match tokenization
#
# Completes the tokenizer-training family — BPE pair counts /
# merge iterations (q226/q268), unigram-LM Viterbi (q388), fertility
# (q255) — with the third major algorithm: WordPiece's greedy
# longest-match-first segmentation against a data-derived subword
# vocabulary.

WP_MAXLEN = 24  # words longer than this are excluded (shared spec)
WP_TOP2, WP_TOP3, WP_TOP4 = 100, 50, 25  # vocab: per-length top-k
WP_TOPWORDS = 100  # output grain
WP_DOUBLING = 5  # pointer-doubling rounds: covers 2^5 = 32 pieces


def _wp_pos_ctes() -> str:
    """CTEs shared by vocab building + position table (oracle side)."""
    return f"""
    words AS (
      SELECT w, COUNT(*) AS n_occ
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      WHERE LENGTH(w) BETWEEN 1 AND {WP_MAXLEN}
      GROUP BY w
    ),
    grams AS (
      SELECT L, substr(w, p, L) AS g, COUNT(*) AS c
      FROM (
        SELECT w, ls.L,
               UNNEST(generate_series(1, LENGTH(w) - ls.L + 1)) AS p
        FROM words, (SELECT UNNEST([2, 3, 4]) AS L) ls
        WHERE LENGTH(w) >= ls.L
      )
      GROUP BY L, substr(w, p, L)
    ),
    vocab AS (
      SELECT g, L FROM (
        SELECT g, L,
               ROW_NUMBER() OVER (PARTITION BY L
                 ORDER BY c DESC, g ASC) AS rk
        FROM grams
      ) WHERE (L = 2 AND rk <= {WP_TOP2})
           OR (L = 3 AND rk <= {WP_TOP3})
           OR (L = 4 AND rk <= {WP_TOP4})
    ),
    pos AS (
      SELECT w, UNNEST(generate_series(1, LENGTH(w))) AS pos FROM words
    ),
    best AS (
      SELECT p.w, p.pos, COALESCE(MAX(v.L), 1) AS bl
      FROM pos p LEFT JOIN vocab v ON v.g = substr(p.w, p.pos, v.L)
      GROUP BY p.w, p.pos
    ),
    jump AS (
      SELECT w, pos, bl, substr(w, pos, bl) AS piece FROM best
    )"""


@register(
    "q408_wordpiece_tokenize",
    category="llm-text-analysis",
    oracle=f"""
    WITH RECURSIVE {_wp_pos_ctes()},
    walk(w, pos, pieces, np) AS (
      SELECT w, 1, CAST('' AS VARCHAR), 0 FROM words
      UNION ALL
      SELECT r.w, r.pos + j.bl,
             r.pieces || (CASE WHEN r.np = 0 THEN '' ELSE '|' END)
               || j.piece,
             r.np + 1
      FROM walk r JOIN jump j ON j.w = r.w AND j.pos = r.pos
    ),
    toked AS (
      SELECT t.w, t.pieces, t.np
      FROM walk t JOIN words wd ON wd.w = t.w
      WHERE t.pos = LENGTH(t.w) + 1
    )
    SELECT wd.w AS word,
           CAST(wd.n_occ AS BIGINT) AS n_occ,
           CAST(t.np AS BIGINT) AS n_pieces,
           t.pieces AS pieces,
           CAST(ROW_NUMBER() OVER (ORDER BY wd.n_occ DESC, wd.w ASC)
                AS BIGINT) AS rn
    FROM toked t JOIN words wd ON wd.w = t.w
    QUALIFY rn <= {WP_TOPWORDS}
    """,
)
def q408_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match tokenization against a
    data-derived subword vocabulary (all single chars + top-{WP_TOP2}
    bigrams / top-{WP_TOP3} trigrams / top-{WP_TOP4} 4-grams over the
    distinct-word set): the {WP_TOPWORDS} most frequent words with
    their piece count and segmentation — the third tokenizer
    algorithm alongside BPE (q226/q268) and unigram-LM Viterbi
    (q388).

    Scale design (r10 restructure): the vocabulary is BOUNDED by
    construction ({WP_TOP2}+{WP_TOP3}+{WP_TOP4} grams), so it rides a
    1-row broadcast of three arrays and the greedy longest-match walk
    runs IN-ROW per word (an `aggregate` over the word's positions —
    each step probes the arrays and jumps by the matched length).
    Only the {WP_TOPWORDS} output words are tokenized: the top-k rank
    runs first (WindowGroupLimit partial-limits every partition), so
    the walk touches {WP_TOPWORDS} rows regardless of corpus size.
    The r9 shape instead materialized a per-POSITION table (corpus
    chars grain), probed it with 3 broadcast joins and walked it with
    {WP_DOUBLING} pointer-doubling self-joins + per-round
    checkpoints — O(chars) rows through 6 materializations for a
    walk the bounded vocab lets every word do locally. The recursive
    oracle CTE is unchanged and certifies the greedy semantics.

    Determinism: vocab cut by (count DESC, gram ASC); matching and
    concatenation are pure string/integer ops.
    """
    d = t(spark, sf_dir, "documents")
    words = (
        # no fan_out: the explode feeds a partial-aggregated groupBy,
        # so the single-scan-task explode beats paying a pre-explode
        # shuffle (interleaved A/B r10: 1.39 vs 2.05 s)
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(
            (F.length("w") >= 1) & (F.length("w") <= WP_MAXLEN)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        # word-grain frame feeds BOTH the vocab build and the top-k
        # output rank: materialize the corpus explode+count once
        .localCheckpoint(eager=False)
    )
    ls = spark.range(2, 5).select(F.col("id").cast("int").alias("L"))
    # substring grid: (word, L, p) for p in 1..len-L+1
    wl = words.select("w", F.length("w").alias("len"))
    grams = (
        wl.crossJoin(F.broadcast(ls))
        .filter(F.col("len") >= F.col("L"))
        .select(
            "w",
            "L",
            F.explode(
                F.sequence(F.lit(1), F.col("len") - F.col("L") + 1)
            ).alias("p"),
        )
        .select("L", F.expr("substr(w, p, L)").alias("g"))
        .groupBy("L", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    caps = {2: WP_TOP2, 3: WP_TOP3, 4: WP_TOP4}
    vocab = (
        grams.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("L").orderBy(
                    F.col("c").desc(), F.col("g").asc()
                )
            ),
        )
        .filter(
            ((F.col("L") == 2) & (F.col("rk") <= caps[2]))
            | ((F.col("L") == 3) & (F.col("rk") <= caps[3]))
            | ((F.col("L") == 4) & (F.col("rk") <= caps[4]))
        )
        .select("g", "L")
    )
    # single-row vocab: three BOUNDED arrays (top-{WP_TOP2}/{WP_TOP3}/
    # {WP_TOP4} by construction — broadcast-safe at any corpus size).
    # collect_set ignores the NULLs the non-matching lengths produce.
    vrow = vocab.groupBy().agg(
        F.collect_set(F.when(F.col("L") == 2, F.col("g"))).alias("v2"),
        F.collect_set(F.when(F.col("L") == 3, F.col("g"))).alias("v3"),
        F.collect_set(F.when(F.col("L") == 4, F.col("g"))).alias("v4"),
    )
    # rank FIRST, tokenize only the survivors: the top-k filter
    # enables WindowGroupLimit (per-partition partial limit before
    # the single-partition rank), and the walk below then runs on
    # exactly {WP_TOPWORDS} rows
    wtop = Window.orderBy(F.col("n_occ").desc(), F.col("w").asc())
    top = words.withColumn(
        "rn", F.row_number().over(wtop).cast("bigint")
    ).filter(F.col("rn") <= WP_TOPWORDS)
    # in-row greedy longest-match walk: one pass i = 1..len(w); at
    # i == pos, probe the vocab arrays for the longest match (4, 3,
    # 2, else 1 — substr() past the end is shorter than L and cannot
    # equal a length-L gram), emit the piece and jump. Identical to
    # the oracle CTE's one-piece-at-a-time recursive walk.
    bl = (
        "(CASE WHEN array_contains(v4, substr(w, i, 4)) THEN 4"
        " WHEN array_contains(v3, substr(w, i, 3)) THEN 3"
        " WHEN array_contains(v2, substr(w, i, 2)) THEN 2 ELSE 1 END)"
    )
    walk = F.expr(
        "aggregate(sequence(1, length(w)),"
        " named_struct('pos', 1, 'pieces', '', 'np', 0),"
        " (acc, i) -> IF(i = acc.pos, named_struct("
        f"'pos', acc.pos + {bl},"
        " 'pieces', concat(acc.pieces, IF(acc.np = 0, '', '|'),"
        f" substr(w, i, {bl})),"
        " 'np', acc.np + 1), acc))"
    )
    return top.crossJoin(F.broadcast(vrow)).withColumn("wk", walk).select(
        F.col("w").alias("word"),
        F.col("n_occ").cast("bigint").alias("n_occ"),
        F.col("wk.np").cast("bigint").alias("n_pieces"),
        F.col("wk.pieces").alias("pieces"),
        "rn",
    )


# ---------------------------------------------------------------------------
# q409 1-D Wasserstein (earth-mover) distance between source
# length distributions
#
# The drift metric that completes the suite: KS (q352) takes the max
# CDF gap, PSI (q250) needs a binning choice, TVD (q399) ignores
# geometry — W1 = ∫|CDF_a − CDF_b| dv integrates the gap OVER the
# value axis, so it knows that being 100 chars off is worse than 1.


@register(
    "q409_wasserstein_source_drift",
    category="analytics-stats (regression/tests/causal)",
    oracle="""
    WITH counts AS (
      SELECT source, n_chars AS v, COUNT(*) AS c
      FROM documents GROUP BY source, n_chars
    ),
    totals AS (SELECT source, SUM(c) AS n FROM counts GROUP BY source),
    grid AS (SELECT DISTINCT v FROM counts),
    srcgrid AS (
      SELECT t.source, g.v, t.n,
             COALESCE(SUM(c.c) OVER (PARTITION BY t.source
               ORDER BY g.v ROWS UNBOUNDED PRECEDING), 0) AS cum
      FROM totals t CROSS JOIN grid g
      LEFT JOIN counts c ON c.source = t.source AND c.v = g.v
    ),
    gaps AS (
      SELECT source, v, n, cum,
             LEAD(v) OVER (PARTITION BY source ORDER BY v) - v AS gap
      FROM srcgrid
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             MAX(a.n) AS n_a, MAX(b.n) AS n_b,
             SUM(ABS(a.cum * b.n - b.cum * a.n) * a.gap) AS num
      FROM gaps a
      JOIN gaps b ON b.v = a.v AND a.source < b.source
      WHERE a.gap IS NOT NULL
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           (FLOOR(CAST(CAST(num AS DOUBLE) / (n_a * n_b) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS w1_distance
    FROM pairs
    """,
)
def q409_wasserstein_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between per-source
    document-length distributions: W1 = Σ_v |CDF_a(v) − CDF_b(v)|·Δv
    over the distinct-value grid — the drift metric with GEOMETRY
    (KS q352 only sees the worst point; PSI q250 depends on a binning
    choice), and the 1-D special case where optimal transport is just
    a CDF integral.

    Determinism: common-denominator integers — |cum_a·n_b −
    cum_b·n_a|·gap sums exactly as BIGINT, one final division.

    Scale: distinct-value-grain like q352 — counts reduce to
    (source × distinct length) rows, the CDF windows run per source
    over the bounded grid, and the pair stage is |sources|² over that
    grid, never corpus-row-sized.
    """
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy(
        "source", F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    grid = counts.select("v").distinct()
    srcgrid = (
        totals.crossJoin(F.broadcast(grid))
        .join(counts, ["source", "v"], "left")
        .withColumn(
            "cum",
            F.coalesce(
                F.sum("c").over(
                    Window.partitionBy("source")
                    .orderBy("v")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
    )
    gaps = srcgrid.withColumn(
        "gap",
        F.lead("v").over(Window.partitionBy("source").orderBy("v"))
        - F.col("v"),
    ).filter(F.col("gap").isNotNull())
    a = gaps.select(
        F.col("source").alias("source_a"), "v",
        F.col("n").alias("na"), F.col("cum").alias("cuma"),
        F.col("gap").alias("gap"),
    )
    b = gaps.select(
        F.col("source").alias("source_b"), "v",
        F.col("n").alias("nb"), F.col("cum").alias("cumb"),
    )
    pairs = (
        a.join(b, "v")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum(
                F.abs(
                    F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
                )
                * F.col("gap")
            ).alias("num"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        dround(
            F.col("num").cast("double") / (F.col("n_a") * F.col("n_b")), 6
        ).alias("w1_distance"),
    )


# ---------------------------------------------------------------------------
# q410 quantile normalization across sources
#
# The batch-effect remover: map each source's length distribution
# onto the GLOBAL distribution by matching quantiles — after this,
# every source has (approximately) the same marginal distribution,
# the preprocessing step that stops per-source length artifacts from
# masquerading as quality signal.


@register(
    "q410_quantile_normalization",
    category="llm-corpus-pipeline",
    oracle="""
    WITH counts AS (
      SELECT source, n_chars AS v, COUNT(*) AS c
      FROM documents GROUP BY source, n_chars
    ),
    totals AS (SELECT source, SUM(c) AS n FROM counts GROUP BY source),
    srccdf AS (
      SELECT source, v, c,
             SUM(c) OVER (PARTITION BY source ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS r
      FROM counts
    ),
    gtot AS (SELECT CAST(SUM(c) AS BIGINT) AS gn FROM counts),
    gcdf AS (
      SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS gcum
      FROM (SELECT v, SUM(c) AS c FROM counts GROUP BY v)
    )
    SELECT s.source, s.v AS n_chars,
           CAST(s.c AS BIGINT) AS n_docs,
           (FLOOR(CAST(CAST(s.r AS DOUBLE) / t.n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS source_quantile,
           MIN(g.v) AS normalized_value
    FROM srccdf s
    JOIN totals t ON t.source = s.source
    CROSS JOIN gtot
    JOIN gcdf g ON g.gcum * t.n >= s.r * gtot.gn
    GROUP BY s.source, s.v, s.c, s.r, t.n, gtot.gn
    """,
)
def q410_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source length distributions onto
    the global distribution: each (source, value) row maps to the
    smallest global value whose CDF reaches the row's within-source
    quantile — integer cross-multiplied (gcum·n_s ≥ r·N), so the
    matching needs no float comparison at all. The batch-effect
    remover that makes source marginals comparable before quality
    scoring.

    Scale: everything runs at the (source × distinct value) grain —
    corpus rows reduce once, the global CDF is a distinct-value
    frame, and the quantile-matching inequality join is
    (src-value rows) × (grid rows), both bounded by value
    cardinality, never row count. Per-doc application is one final
    broadcast join on (source, value).
    """
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy(
        "source", F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    srccdf = counts.withColumn(
        "r",
        F.sum("c").over(
            Window.partitionBy("source")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    gtot = counts.agg(F.sum("c").cast("bigint").alias("gn"))
    gcdf = (
        counts.groupBy("v")
        .agg(F.sum("c").alias("cg"))
        .withColumn(
            "gcum",
            F.sum("cg").over(
                Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(F.col("v").alias("gv"), "gcum")
    )
    return (
        srccdf.join(totals, "source")
        .crossJoin(F.broadcast(gtot))
        .join(
            F.broadcast(gcdf),
            F.col("gcum") * F.col("n") >= F.col("r") * F.col("gn"),
        )
        .groupBy("source", "v", "c", "r", "n")
        .agg(F.min("gv").alias("normalized_value"))
        .select(
            "source",
            F.col("v").alias("n_chars"),
            F.col("c").cast("bigint").alias("n_docs"),
            dround(F.col("r").cast("double") / F.col("n"), 6).alias(
                "source_quantile"
            ),
            "normalized_value",
        )
    )


# ---------------------------------------------------------------------------
# q411 Matryoshka truncation recall audit
#
# Modern embedding models train nested ("Matryoshka") prefixes so a
# 64-dim vector can be served at 16 dims for 4x memory/compute
# savings; the operational question is what that truncation does to
# retrieval. This measures recall@k of prefix-dim cosine against
# full-dim cosine ground truth, per query.

MAT_DIMS = 16
MAT_K = 10
MAT_QUERIES = 8  # vec_id < 8


@register(
    "q411_matryoshka_recall",
    category="llm-similarity-ann",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {MAT_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             SUM(CAST(q.embedding[d.d] AS DOUBLE)
                 * CAST(c.embedding[d.d] AS DOUBLE)) AS dot,
             SQRT(SUM(CAST(q.embedding[d.d] AS DOUBLE)
                      * CAST(q.embedding[d.d] AS DOUBLE))) AS nq,
             SQRT(SUM(CAST(c.embedding[d.d] AS DOUBLE)
                      * CAST(c.embedding[d.d] AS DOUBLE))) AS nc,
             SUM(CASE WHEN d.d <= {MAT_DIMS}
                 THEN CAST(q.embedding[d.d] AS DOUBLE)
                      * CAST(c.embedding[d.d] AS DOUBLE) ELSE 0 END) AS pdot,
             SQRT(SUM(CASE WHEN d.d <= {MAT_DIMS}
                 THEN CAST(q.embedding[d.d] AS DOUBLE)
                      * CAST(q.embedding[d.d] AS DOUBLE) ELSE 0 END)) AS pnq,
             SQRT(SUM(CASE WHEN d.d <= {MAT_DIMS}
                 THEN CAST(c.embedding[d.d] AS DOUBLE)
                      * CAST(c.embedding[d.d] AS DOUBLE) ELSE 0 END)) AS pnc
      FROM q, embeddings c, generate_series(1, 64) AS d(d)
      WHERE c.vec_id <> q.vec_id
      GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY (FLOOR(CAST(dot / (nq * nc) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) DESC, cand_id ASC)
               AS full_rn,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY (FLOOR(CAST(pdot / NULLIF(pnq * pnc, 0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) DESC,
                        cand_id ASC) AS pfx_rn
      FROM pairs
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN full_rn <= {MAT_K} AND pfx_rn <= {MAT_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           (FLOOR(CAST(SUM(CASE WHEN full_rn <= {MAT_K} AND pfx_rn <= {MAT_K}
                     THEN 1.0 ELSE 0 END) / {MAT_K} AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS recall_at_k
    FROM ranked GROUP BY query_id
    """,
)
def q411_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval audit: recall@{MAT_K} of
    {MAT_DIMS}-dim PREFIX cosine against full 64-dim cosine ground
    truth for {MAT_QUERIES} queries — the number that tells you
    whether serving embeddings at a quarter of the dimensions (4×
    memory and ADC speedup) is free or catastrophic on THIS corpus,
    the same audit shape as q98 (ANN recall) but for dimension
    truncation instead of index approximation.

    Plan: one broadcast-queries × corpus scan computes BOTH scores
    (full and prefix) from the same pair row — the prefix dot is a
    slice, not a second pass; two rank windows per query grain.

    Determinism: ROUND-6 cosines with cand_id tie-breaks; zero-norm
    prefixes NULL their cosine identically via NULLIF (ranked last on
    both engines by the DESC NULLS LAST default shared by Spark and
    DuckDB window ORDER BY).
    """
    from ..functions.columns import dot_product, l2_norm

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pfx = F.slice("embedding", 1, MAT_DIMS)
    q = (
        emb.filter(F.col("vec_id") < MAT_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            pfx.alias("qp"),
        )
        .withColumn("nq", l2_norm("qe"))
        .withColumn("pnq", l2_norm("qp"))
    )
    c = (
        emb.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("ce"),
            pfx.alias("cp"),
        )
        .withColumn("nc", l2_norm("ce"))
        .withColumn("pnc", l2_norm("cp"))
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("cand_id") != F.col("query_id")
    )
    full_cos = dround(
        dot_product("qe", "ce") / (F.col("nq") * F.col("nc")), 6
    )
    pfx_cos = dround(
        dot_product("qp", "cp")
        / F.nullif(F.col("pnq") * F.col("pnc"), F.lit(0.0)),
        6,
    )
    ranked = pairs.select(
        "query_id",
        "cand_id",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                full_cos.desc(), F.col("cand_id").asc()
            )
        )
        .alias("full_rn"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                pfx_cos.desc_nulls_last(), F.col("cand_id").asc()
            )
        )
        .alias("pfx_rn"),
    )
    kept = F.sum(
        F.when((F.col("full_rn") <= MAT_K) & (F.col("pfx_rn") <= MAT_K), 1)
        .otherwise(0)
    )
    return ranked.groupBy("query_id").agg(
        kept.cast("bigint").alias("n_kept"),
        dround(kept.cast("double") / MAT_K, 6).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# q412 RANSAC robust line fit (integer-exact consensus)
#
# The robust-regression member beside Theil-Sen (q265, median of
# slopes) and OLS (q282): hypothesize lines from deterministic
# 2-point samples, count inliers, keep the best consensus set —
# the estimator of choice when a MINORITY of days are wild.

RANSAC_MODELS = 8
RANSAC_TH_CENTS = 3_000_000  # inlier band: |residual| <= $30k


@register(
    "q412_ransac_line_fit",
    category="analytics-stats (regression/tests/causal)",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1995-01-01',
                  CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    idx AS (
      SELECT x, y, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM daily
    ),
    models AS (
      SELECT k.k,
             1 + CAST('0x' || substr(md5('ransac_a_' || k.k), 1, 7)
                 AS BIGINT) % nd.n AS i,
             1 + CAST('0x' || substr(md5('ransac_b_' || k.k), 1, 7)
                 AS BIGINT) % nd.n AS j
      FROM (SELECT UNNEST(generate_series(0, {RANSAC_MODELS - 1})) AS k) k,
           nd
    ),
    lines AS (
      SELECT m.k, p1.x AS x1, p1.y AS y1, p2.x AS x2, p2.y AS y2
      FROM models m
      JOIN idx p1 ON p1.rn = m.i
      JOIN idx p2 ON p2.rn = m.j
      WHERE p1.x <> p2.x
    ),
    votes AS (
      SELECT l.k, MAX(l.x1) AS x1, MAX(l.y1) AS y1,
             MAX(l.x2) AS x2, MAX(l.y2) AS y2,
             SUM(CASE WHEN ABS((d.y - l.y1) * (l.x2 - l.x1)
                              - (l.y2 - l.y1) * (d.x - l.x1))
                      <= {RANSAC_TH_CENTS} * ABS(l.x2 - l.x1)
                 THEN 1 ELSE 0 END) AS n_inliers,
             COUNT(*) AS n_days
      FROM lines l CROSS JOIN daily d
      GROUP BY l.k
    )
    SELECT CAST(k AS BIGINT) AS model_id,
           CAST(n_inliers AS BIGINT) AS n_inliers,
           CAST(n_days AS BIGINT) AS n_days,
           (FLOOR(CAST(CAST(n_inliers AS DOUBLE) / n_days AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS inlier_share,
           -- FLOOR(x*1e4 + 0.5)/1e4: the repo's half-up grid rule --
           -- ROUND would be half-even in DuckDB vs half-up in Spark
           FLOOR(CAST(y2 - y1 AS DOUBLE) / (100.0 * (x2 - x1)) * 10000
                 + 0.5) / 10000 AS slope_per_day,
           CAST(ROW_NUMBER() OVER (ORDER BY n_inliers DESC, k ASC)
                AS BIGINT) AS rn
    FROM votes
    QUALIFY rn <= 3
    """,
)
def q412_ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fit of the daily-revenue trend with an
    INTEGER-EXACT consensus test: {RANSAC_MODELS} candidate lines
    from md5-drawn 2-point samples, inliers counted by the
    cross-multiplied band |Δy·(x2−x1) − slope_num·(x−x1)| ≤
    th·|x2−x1| (cents × days — no float residual anywhere), top
    consensus models reported. The robust-fit member beside Theil-Sen
    (q265) and OLS (q282) for when a minority of days are wild.

    Scale: candidate models are a broadcast {RANSAC_MODELS}-row
    frame; voting is one pass over the day grain per model (a
    models×days broadcast product of bounded width); hypothesis
    sampling is hash-deterministic, so retries/engines draw the SAME
    models.
    """
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y")
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    idx = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("x")).cast("bigint")
    )
    ks = spark.range(RANSAC_MODELS).select(F.col("id").alias("k"))
    h = lambda salt: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("k").cast("string"))), 1, 7),
            16,
            10,
        ).cast("bigint")
    )
    models = ks.crossJoin(F.broadcast(nd)).select(
        "k",
        (F.lit(1) + h("ransac_a_") % F.col("n")).alias("i"),
        (F.lit(1) + h("ransac_b_") % F.col("n")).alias("j"),
    )
    p1 = idx.select(
        F.col("rn").alias("i"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    p2 = idx.select(
        F.col("rn").alias("j"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    lines = (
        models.join(F.broadcast(p1), "i")
        .join(F.broadcast(p2), "j")
        .filter(F.col("x1") != F.col("x2"))
        .select("k", "x1", "y1", "x2", "y2")
    )
    inlier = F.when(
        F.abs(
            (F.col("y") - F.col("y1")) * (F.col("x2") - F.col("x1"))
            - (F.col("y2") - F.col("y1")) * (F.col("x") - F.col("x1"))
        )
        <= F.lit(RANSAC_TH_CENTS) * F.abs(F.col("x2") - F.col("x1")),
        1,
    ).otherwise(0)
    votes = (
        F.broadcast(lines)
        .crossJoin(daily)
        .groupBy("k")
        .agg(
            F.max("x1").alias("x1"),
            F.max("y1").alias("y1"),
            F.max("x2").alias("x2"),
            F.max("y2").alias("y2"),
            F.sum(inlier).alias("n_inliers"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    w = Window.orderBy(F.col("n_inliers").desc(), F.col("model_id").asc())
    return (
        votes.select(
            F.col("k").cast("bigint").alias("model_id"),
            F.col("n_inliers").cast("bigint").alias("n_inliers"),
            F.col("n_days").cast("bigint").alias("n_days"),
            dround(
                F.col("n_inliers").cast("double") / F.col("n_days"), 6
            ).alias("inlier_share"),
            (
                F.floor(
                    (F.col("y2") - F.col("y1")).cast("double")
                    / (F.lit(100.0) * (F.col("x2") - F.col("x1")))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("slope_per_day"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# q413 precision/recall threshold sweep
#
# The eval family has ranking quality (q275 AUC, q382 nDCG) and
# probability quality (q307 Brier/reliability) — this adds the
# DECISION layer: the precision/recall/F1 operating curve over a
# threshold grid, i.e. the table you pick the production cutoff from.

PR_THRESHOLDS = [x / 20.0 for x in range(1, 20)]  # 0.05 .. 0.95


@register(
    "q413_pr_threshold_sweep",
    category="ml-eval-calibration",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             (FLOOR(CAST(LEAST(0.95, GREATEST(0.05,
               CAST(n_chars AS DOUBLE) / 640.0)) AS DOUBLE) * 100000000.0 + 0.5) / 100000000.0) AS p
      FROM documents
    ),
    th AS (SELECT UNNEST([{", ".join(str(x) for x in PR_THRESHOLDS)}]) AS t),
    cm AS (
      SELECT th.t,
             SUM(CASE WHEN s.p >= th.t AND s.y = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN s.p >= th.t AND s.y = 0 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN s.p < th.t AND s.y = 1 THEN 1 ELSE 0 END) AS fn
      FROM th CROSS JOIN scored s
      GROUP BY th.t
    ),
    curve AS (
      SELECT t, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(fn AS BIGINT) AS fn,
             (FLOOR(CAST(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS precision,
             (FLOOR(CAST(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS recall,
             (FLOOR(CAST(CAST(2 * tp AS DOUBLE)
                   / NULLIF(2 * tp + fp + fn, 0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS f1
      FROM cm
    )
    SELECT (FLOOR(CAST(t AS DOUBLE) * 100.0 + 0.5) / 100.0) AS threshold, tp, fp, fn, precision, recall, f1,
           CAST(ROW_NUMBER() OVER (ORDER BY f1 DESC, t ASC) AS BIGINT) = 1
             AS is_f1_argmax
    FROM curve
    """,
)
def q413_pr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 operating curve over a {len(PR_THRESHOLDS)}-point
    threshold grid for the deterministic length-based P(en) classifier
    (q307's model), with the F1-argmax row flagged — the decision-layer
    eval that turns a calibrated score (q307) and a good ranking
    (q275) into an actual production cutoff.

    Scale: thresholds are a broadcast literal frame; the sweep is ONE
    pass over the scored rows per threshold (a grid × corpus
    broadcast product), and every cell is exact integer counting —
    F1 = 2tp/(2tp+fp+fn) avoids the precision×recall float product.
    NULLIF keeps empty-prediction thresholds NULL identically.
    """
    scored = t(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        dround(
            F.least(
                F.lit(0.95),
                F.greatest(F.lit(0.05), F.col("n_chars").cast("double") / 640.0),
            ),
            8,
        ).alias("p"),
    )
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in PR_THRESHOLDS])).alias("t")
    )
    cm = (
        F.broadcast(th)
        .crossJoin(scored)
        .groupBy("t")
        .agg(
            F.sum(
                F.when((F.col("p") >= F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("p") >= F.col("t")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when((F.col("p") < F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).alias("fn"),
        )
    )
    curve = cm.select(
        "t",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        dround(
            F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            6,
        ).alias("precision"),
        dround(
            F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("recall"),
        dround(
            (2 * F.col("tp")).cast("double")
            / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("f1"),
    )
    w = Window.orderBy(F.col("f1").desc(), F.col("t").asc())
    return curve.select(
        dround("t", 2).alias("threshold"),
        "tp",
        "fp",
        "fn",
        "precision",
        "recall",
        "f1",
        (F.row_number().over(w) == 1).alias("is_f1_argmax"),
    )


# ---------------------------------------------------------------------------
# q414 two-hop reach: exact vs neighbor-merged HLL sketches
#
# Sketch COMPOSITION over a graph: a node's 2-hop reach sketch is the
# register-wise MAX of its neighbors' 1-hop sketches — the merge that
# makes friend-of-friend audience estimation feasible at graph scale
# (exact 2-hop neighborhoods explode quadratically; 64-register
# sketches merge in O(degree)). Certified against the exact 2-hop
# distinct count. Reuses q229's portable-HLL spec (md5 bits, rho
# cascade), with the register sum scaled to exact integers.

R2_M = 64  # registers
R2_W = 50  # rho window bits
R2_ALPHA = 0.709  # alpha_64
R2_TOPK = 20
# the raw co-supply graph is DENSE (avg degree ~ |V| at sf0.1, so the
# exact 2-hop side would touch sum(deg^2) ~ 1e9 pairs); both engines
# audit the same hash-sparsified subgraph: keep edge (a,b) iff
# md5(a_b) % R2_EDGE_MOD == 0 — deterministic, spec-shared, and the
# sketch-vs-exact comparison is unaffected by WHICH subgraph is used
R2_EDGE_MOD = 37


def _r2_rho_sql(w: str) -> str:
    cases = " ".join(
        f"WHEN {w} >= {1 << (R2_W - r)} THEN {r}" for r in range(1, R2_W + 1)
    )
    return f"CASE {cases} ELSE {R2_W + 1} END"


def _r2_rho_col(w):
    expr = F.lit(R2_W + 1)
    for r in range(R2_W, 0, -1):
        expr = F.when(w >= F.lit(1 << (R2_W - r)), F.lit(r)).otherwise(expr)
    return expr


@register(
    "q414_twohop_reach_sketch",
    oracle=f"""
    WITH bip AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    okp AS (
      SELECT p FROM bip GROUP BY p HAVING COUNT(*) <= {LP_DEG_CAP}
    ),
    alledges AS (
      SELECT DISTINCT a.s AS a, b.s AS b
      FROM bip a JOIN bip b ON b.p = a.p AND a.s < b.s
      JOIN okp ON okp.p = a.p
    ),
    edges AS (
      SELECT a, b FROM alledges
      WHERE CAST(('0x' || substr(md5(CAST(a AS VARCHAR) || '_'
                  || CAST(b AS VARCHAR)), 1, 7)) AS BIGINT)
            % {R2_EDGE_MOD} = 0
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    -- hop-1 "frontier incl. self": u in N(v) plus v itself
    front AS (
      SELECT a AS v, b AS u FROM sym
      UNION ALL
      SELECT DISTINCT a AS v, a AS u FROM sym
    ),
    -- exact 2-hop reach = distinct targets of the frontier's edges
    reach AS (
      SELECT DISTINCT f.v, e.b AS w
      FROM front f JOIN sym e ON e.a = f.u
    ),
    exact AS (SELECT v, COUNT(*) AS exact_reach FROM reach GROUP BY v),
    -- per-node 1-hop neighbor sketches (registers over N(u))
    h AS (
      SELECT a AS u,
             CAST(('0x' || substr(md5('r2:' || CAST(b AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hv
      FROM sym
    ),
    parts AS (
      SELECT u, (hv >> {R2_W}) & {R2_M - 1} AS bucket,
             {_r2_rho_sql(f"hv & {(1 << R2_W) - 1}")} AS rho
      FROM h
    ),
    regs1 AS (
      SELECT u, bucket, MAX(rho) AS m FROM parts GROUP BY u, bucket
    ),
    -- 2-hop sketch: register-wise MAX over the frontier's sketches
    regs2 AS (
      SELECT f.v, r.bucket, MAX(r.m) AS m
      FROM front f JOIN regs1 r ON r.u = f.u
      GROUP BY f.v, r.bucket
    ),
    est AS (
      SELECT v,
             SUM(CAST(1 AS BIGINT) << ({R2_W + 1} - m)) AS sum_scaled,
             COUNT(*) AS v_nonzero
      FROM regs2 GROUP BY v
    ),
    raw AS (
      SELECT v, v_nonzero,
             {R2_ALPHA} * {R2_M} * {R2_M}
               / (CAST(sum_scaled AS DOUBLE) / {1 << R2_W}
                  + ({R2_M} - v_nonzero) * 2.0) AS raw_est
      FROM est
    ),
    corrected AS (
      SELECT v,
             CASE WHEN raw_est <= 2.5 * {R2_M} AND v_nonzero < {R2_M}
                  THEN {R2_M} * ln({R2_M}
                         / CAST({R2_M} - v_nonzero AS DOUBLE))
                  ELSE raw_est END AS hll_est
      FROM raw
    )
    SELECT x.v AS s_suppkey,
           CAST(x.exact_reach AS BIGINT) AS exact_reach,
           (FLOOR(CAST(c.hll_est AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS hll_estimate,
           (FLOOR(CAST(ABS(c.hll_est - x.exact_reach) / x.exact_reach AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS rel_error,
           CAST(ROW_NUMBER() OVER (ORDER BY x.exact_reach DESC, x.v ASC)
                AS BIGINT) AS rn
    FROM exact x JOIN corrected c ON c.v = x.v
    QUALIFY rn <= {R2_TOPK}
    """,
)
def q414_twohop_reach_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach (friend-of-friend audience size) on the supplier
    co-supply graph, exact vs SKETCH-COMPOSED: each node's 2-hop HLL
    is the register-wise MAX of its frontier's 1-hop sketches — the
    O(degree · 64) merge that replaces the quadratic exact
    neighborhood expansion at graph scale, certified here against
    the exact distinct 2-hop count, top-{R2_TOPK} nodes by reach.

    Determinism: q229's portable-HLL spec (md5-derived buckets, rho
    as an integer CASE cascade) with the register sum held in EXACT
    integers — Σ2^(W+1−M) as BIGINT shifts (missing registers add
    2·2^W ≡ 2^(W+1−1) via the (m−V)·2 term) — so the estimate is one
    reproducible division; linear-counting correction below 2.5m.

    Scale: regs1 is |V|×64 integers; the 2-hop merge joins the edge
    list to it once — no |V|² pair materialization anywhere; the
    exact side exists to certify and is itself degree-capped. The
    symmetrized edge list is localCheckpoint'ed (non-eager, r9):
    three consumers (frontier, 2-hop probe, sketch parts) otherwise
    each recompute the capped self-join + distinct, and the 25-
    exchange composite replans them data-dependently — the q378
    precedent. Idle sf0.1 min-of-5 7.6 -> 4.5 s; the remaining
    run-to-run band is AQE/GC, not plan shape (BASELINE.md r9).
    """
    edge_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("a").cast("string"),
                    F.lit("_"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    # edge build: one lineitem pass via part-grain posting lists
    # (_cosupply_edges, q406's shape); the deterministic edge
    # subsample applies after the pair dedup exactly as before
    edges = _cosupply_edges(spark, sf_dir).filter(
        edge_hash % R2_EDGE_MOD == 0
    )
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=False)
    )
    front = sym.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
        sym.select(F.col("a").alias("v"), F.col("a").alias("u")).distinct()
    )
    reach = (
        front.join(sym.select(F.col("a").alias("u"), F.col("b").alias("w")), "u")
        .select("v", "w")
        .distinct()
    )
    exact = reach.groupBy("v").agg(F.count(F.lit(1)).alias("exact_reach"))
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("r2:"), F.col("b").cast("string"))), 1, 14
        ),
        16,
        10,
    ).cast("bigint")
    parts = sym.select(
        F.col("a").alias("u"),
        (F.shiftright(hv, R2_W) % F.lit(R2_M)).alias("bucket"),
        _r2_rho_col(hv % F.lit(1 << R2_W)).alias("rho"),
    )
    regs1 = parts.groupBy("u", "bucket").agg(F.max("rho").alias("m"))
    regs2 = (
        front.join(regs1, "u")
        .groupBy("v", "bucket")
        .agg(F.max("m").alias("m"))
    )
    est = regs2.groupBy("v").agg(
        F.sum(F.expr(f"shiftleft(1L, {R2_W + 1} - m)")).alias("sum_scaled"),
        F.count(F.lit(1)).alias("v_nonzero"),
    )
    raw_est = (
        F.lit(R2_ALPHA)
        * R2_M
        * R2_M
        / (
            F.col("sum_scaled").cast("double") / F.lit(float(1 << R2_W))
            + (F.lit(R2_M) - F.col("v_nonzero")) * F.lit(2.0)
        )
    )
    corrected = est.select(
        "v",
        F.when(
            (raw_est <= 2.5 * R2_M) & (F.col("v_nonzero") < R2_M),
            F.lit(R2_M)
            * F.log(
                F.lit(float(R2_M))
                / (F.lit(R2_M) - F.col("v_nonzero")).cast("double")
            ),
        )
        .otherwise(raw_est)
        .alias("hll_est"),
    )
    w = Window.orderBy(F.col("exact_reach").desc(), F.col("s_suppkey").asc())
    return (
        exact.join(corrected, "v")
        .select(
            F.col("v").alias("s_suppkey"),
            F.col("exact_reach").cast("bigint").alias("exact_reach"),
            dround("hll_est", 4).alias("hll_estimate"),
            dround(
                F.abs(F.col("hll_est") - F.col("exact_reach"))
                / F.col("exact_reach"),
                6,
            ).alias("rel_error"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= R2_TOPK)
    )


# ---------------------------------------------------------------------------
# q415 segmented-regression changepoint (broken-stick fit)
#
# CUSUM (q231) finds LEVEL shifts; this finds SLOPE changes: fit two
# OLS lines split at every candidate month, pick the breakpoint that
# minimizes total SSE — from ONE pass of prefix sufficient statistics
# (the subtractable-moments trick of q297), never a per-candidate
# rescan.

SEG_MIN_PTS = 3  # each segment must have >= 3 months


@register(
    "q415_segmented_regression",
    category="analytics-stats (regression/tests/causal)",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(date_diff('month', DATE '1995-01-01',
                  CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / 1000000 AS y
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT x, y,
             ROW_NUMBER() OVER (ORDER BY x) AS i,
             SUM(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS sx,
             SUM(CAST((FLOOR(CAST(y AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS DECIMAL(28,6)))
               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS sy,
             SUM(x * x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS sxx,
             SUM(CAST((FLOOR(CAST(x * y AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS DECIMAL(28,6)))
               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS sxy,
             SUM(CAST((FLOOR(CAST(y * y AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS DECIMAL(28,6)))
               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS syy
      FROM monthly
    ),
    tot AS (
      SELECT MAX(i) AS n, MAX(sx) AS tsx, MAX(sy) AS tsy,
             MAX(sxx) AS tsxx, MAX(sxy) AS tsxy, MAX(syy) AS tsyy
      FROM pre
    ),
    cand AS (
      SELECT p.x AS bp, p.i,
             p.i AS nl, CAST(p.sx AS DOUBLE) AS lsx,
             CAST(p.sy AS DOUBLE) AS lsy, CAST(p.sxx AS DOUBLE) AS lsxx,
             CAST(p.sxy AS DOUBLE) AS lsxy, CAST(p.syy AS DOUBLE) AS lsyy,
             t.n - p.i AS nr, CAST(t.tsx - p.sx AS DOUBLE) AS rsx,
             CAST(t.tsy - p.sy AS DOUBLE) AS rsy,
             CAST(t.tsxx - p.sxx AS DOUBLE) AS rsxx,
             CAST(t.tsxy - p.sxy AS DOUBLE) AS rsxy,
             CAST(t.tsyy - p.syy AS DOUBLE) AS rsyy
      FROM pre p, tot t
      WHERE p.i >= {SEG_MIN_PTS} AND t.n - p.i >= {SEG_MIN_PTS}
    ),
    scored AS (
      SELECT bp, nl, nr,
             (lsyy - lsy * lsy / nl)
               - (lsxy - lsx * lsy / nl) * (lsxy - lsx * lsy / nl)
                 / NULLIF(lsxx - lsx * lsx / nl, 0) AS sse_l,
             (rsyy - rsy * rsy / nr)
               - (rsxy - rsx * rsy / nr) * (rsxy - rsx * rsy / nr)
                 / NULLIF(rsxx - rsx * rsx / nr, 0) AS sse_r,
             (lsxy - lsx * lsy / nl)
               / NULLIF(lsxx - lsx * lsx / nl, 0) AS slope_l,
             (rsxy - rsx * rsy / nr)
               / NULLIF(rsxx - rsx * rsx / nr, 0) AS slope_r
      FROM cand
    ),
    single AS (
      SELECT (tsyy - tsy * tsy / n)
               - (tsxy - tsx * tsy / n) * (tsxy - tsx * tsy / n)
                 / NULLIF(tsxx - tsx * tsx / n, 0) AS sse_1
      FROM (SELECT n, CAST(tsx AS DOUBLE) AS tsx, CAST(tsy AS DOUBLE) AS tsy,
                   CAST(tsxx AS DOUBLE) AS tsxx, CAST(tsxy AS DOUBLE) AS tsxy,
                   CAST(tsyy AS DOUBLE) AS tsyy FROM tot)
    )
    SELECT bp AS breakpoint_month,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           (FLOOR(CAST(slope_l AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS slope_left,
           (FLOOR(CAST(slope_r AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS slope_right,
           (FLOOR(CAST(sse_l + sse_r AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS sse_split,
           (FLOOR(CAST((SELECT sse_1 FROM single) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS sse_single,
           (FLOOR(CAST(1.0 - (sse_l + sse_r)
                 / NULLIF((SELECT sse_1 FROM single), 0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS sse_reduction
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
      ORDER BY (FLOOR(CAST(sse_l + sse_r AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) ASC, bp ASC) = 1
    """,
)
def q415_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broken-stick (segmented) regression changepoint on the monthly
    revenue series: every admissible month is a candidate breakpoint,
    each evaluated from PREFIX sufficient statistics (one window pass
    — left moments are the prefix, right moments are total minus
    prefix, the q297 subtractable trick), pick the split minimizing
    total SSE. Finds SLOPE changes that CUSUM's level-shift detector
    (q231) and the global trend tests (q189/q265) cannot localize.

    Determinism: moments accumulate as ROUND-6 DECIMAL windows (exact
    order-free sums at the month grain); the SSE algebra runs on
    identical doubles on both engines; argmin on the ROUND-6 SSE with
    breakpoint tie-break.

    Scale: the month grain bounds everything — one grouped reduce,
    two windows, a candidate frame of |months| rows; no rescan per
    candidate.
    """
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate").cast("date")),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("x")
    ).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / 1000000
        ).alias("y")
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    pre = monthly.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x")).alias("i"),
        F.sum("x").over(wcum).alias("sx"),
        F.sum(dround("y", 6).cast("decimal(28,6)")).over(wcum).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wcum).alias("sxx"),
        F.sum(dround(F.col("x") * F.col("y"), 6).cast("decimal(28,6)"))
        .over(wcum)
        .alias("sxy"),
        F.sum(dround(F.col("y") * F.col("y"), 6).cast("decimal(28,6)"))
        .over(wcum)
        .alias("syy"),
    )
    tot = pre.agg(
        F.max("i").alias("n"),
        F.max("sx").alias("tsx"),
        F.max("sy").alias("tsy"),
        F.max("sxx").alias("tsxx"),
        F.max("sxy").alias("tsxy"),
        F.max("syy").alias("tsyy"),
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("i") >= SEG_MIN_PTS)
            & (F.col("n") - F.col("i") >= SEG_MIN_PTS)
        )
        .select(
            F.col("x").alias("bp"),
            F.col("i").alias("nl"),
            F.col("sx").cast("double").alias("lsx"),
            F.col("sy").cast("double").alias("lsy"),
            F.col("sxx").cast("double").alias("lsxx"),
            F.col("sxy").cast("double").alias("lsxy"),
            F.col("syy").cast("double").alias("lsyy"),
            (F.col("n") - F.col("i")).alias("nr"),
            (F.col("tsx") - F.col("sx")).cast("double").alias("rsx"),
            (F.col("tsy") - F.col("sy")).cast("double").alias("rsy"),
            (F.col("tsxx") - F.col("sxx")).cast("double").alias("rsxx"),
            (F.col("tsxy") - F.col("sxy")).cast("double").alias("rsxy"),
            (F.col("tsyy") - F.col("syy")).cast("double").alias("rsyy"),
        )
    )

    def _sse(sy, sxy, sx, sxx, syy, n):
        sxy_c = F.col(sxy) - F.col(sx) * F.col(sy) / F.col(n)
        sxx_c = F.nullif(
            F.col(sxx) - F.col(sx) * F.col(sx) / F.col(n), F.lit(0.0)
        )
        syy_c = F.col(syy) - F.col(sy) * F.col(sy) / F.col(n)
        return syy_c - sxy_c * sxy_c / sxx_c, sxy_c / sxx_c

    sse_l, slope_l = _sse("lsy", "lsxy", "lsx", "lsxx", "lsyy", "nl")
    sse_r, slope_r = _sse("rsy", "rsxy", "rsx", "rsxx", "rsyy", "nr")
    scored = cand.select(
        "bp",
        "nl",
        "nr",
        sse_l.alias("sse_l"),
        sse_r.alias("sse_r"),
        slope_l.alias("slope_l"),
        slope_r.alias("slope_r"),
    )
    single = tot.select(
        F.col("n").alias("sn"),
        F.col("tsx").cast("double").alias("ssx"),
        F.col("tsy").cast("double").alias("ssy"),
        F.col("tsxx").cast("double").alias("ssxx"),
        F.col("tsxy").cast("double").alias("ssxy"),
        F.col("tsyy").cast("double").alias("ssyy"),
    )
    sse_1, _ = _sse("ssy", "ssxy", "ssx", "ssxx", "ssyy", "sn")
    single = single.select(sse_1.alias("sse_1"))
    w = Window.orderBy(
        dround(F.col("sse_l") + F.col("sse_r"), 6).asc(), F.col("bp").asc()
    )
    return (
        scored.crossJoin(F.broadcast(single))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("bp").alias("breakpoint_month"),
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
            dround("slope_l", 6).alias("slope_left"),
            dround("slope_r", 6).alias("slope_right"),
            dround(F.col("sse_l") + F.col("sse_r"), 6).alias("sse_split"),
            dround("sse_1", 6).alias("sse_single"),
            dround(
                F.lit(1.0)
                - (F.col("sse_l") + F.col("sse_r"))
                / F.nullif(F.col("sse_1"), F.lit(0.0)),
                6,
            ).alias("sse_reduction"),
        )
    )


# ---------------------------------------------------------------------------
# q416 v-optimal histogram construction
#
# The histogram a cost-based optimizer actually wants: bucket
# boundaries chosen to minimize total within-bucket variance
# (V-Optimal, Jagadish et al. 1998), not equal widths (q131) or equal
# depths (q186). Candidates come from equi-depth quantile positions,
# so the search space is fixed-size regardless of data volume, and
# every segment's SSE reads off ONE prefix-sum pass.

VOPT_CANDS = 11  # interior candidate boundaries (equi-depth ranks)
VOPT_B = 4  # buckets (choose 3 cuts from the candidates)


@register(
    "q416_voptimal_histogram",
    category="aggregation-advanced (rollup/percentile/sketch/pivot)",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1995-01-01',
                  CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT x, y, ROW_NUMBER() OVER (ORDER BY x) AS i,
             SUM(CAST(y AS DECIMAL(38,0)))
               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS s,
             SUM(CAST(y AS DECIMAL(38,0)) * y)
               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS s2
      FROM daily
    ),
    nn AS (SELECT MAX(i) AS n FROM pre),
    -- candidate cut positions: equi-depth ranks + both sentinels
    cand AS (
      SELECT DISTINCT CAST(CEIL(k * n / {VOPT_CANDS + 1}.0) AS BIGINT) AS i
      FROM (SELECT UNNEST(generate_series(1, {VOPT_CANDS})) AS k), nn
      UNION SELECT 0 AS i
      UNION SELECT n AS i FROM nn
    ),
    cstat AS (
      SELECT c.i,
             COALESCE(p.s, 0) AS s, COALESCE(p.s2, 0) AS s2
      FROM cand c LEFT JOIN pre p ON p.i = c.i
    ),
    seg AS (
      SELECT l.i AS lo, r.i AS hi, r.i - l.i AS cnt,
             r.s - l.s AS ds,
             r.s2 - l.s2 AS ds2
      FROM cstat l JOIN cstat r ON r.i > l.i
    ),
    sse AS (
      -- SSE = (n*Sum(y^2) - Sum(y)^2)/n with the numerator EXACT in
      -- DECIMAL(38): separately-cast doubles cancel catastrophically
      SELECT lo, hi, cnt,
             CAST(cnt * ds2 - ds * ds AS DOUBLE) / cnt AS e,
             CAST(ds AS DOUBLE) / cnt AS mean
      FROM seg
    ),
    triples AS (
      SELECT a.hi AS c1, b.hi AS c2, c.hi AS c3,
             CAST(FLOOR((a.e + b.e + c.e + d.e) / 10000 + 0.5) AS BIGINT)
               AS total_sse
      FROM sse a
      JOIN sse b ON b.lo = a.hi
      JOIN sse c ON c.lo = b.hi
      JOIN sse d ON d.lo = c.hi
      CROSS JOIN nn
      WHERE a.lo = 0 AND d.hi = nn.n
    ),
    best AS (
      SELECT c1, c2, c3, total_sse FROM triples
      QUALIFY ROW_NUMBER() OVER (
        ORDER BY total_sse ASC, c1 ASC, c2 ASC, c3 ASC) = 1
    ),
    buckets AS (
      SELECT 1 AS bucket_id, 0 AS lo, c1 AS hi, total_sse FROM best
      UNION ALL SELECT 2, c1, c2, total_sse FROM best
      UNION ALL SELECT 3, c2, c3, total_sse FROM best
      UNION ALL SELECT 4, c3, nn.n, total_sse FROM best, nn
    )
    SELECT b.bucket_id,
           CAST(b.lo AS BIGINT) AS lo_rank, CAST(b.hi AS BIGINT) AS hi_rank,
           CAST(s.cnt AS BIGINT) AS n_days,
           -- FLOOR half-up, not ROUND: mean cents / 100 can land
           -- exactly on a .005 tie where Spark rounds half-up and
           -- DuckDB half-even (hunt-found, r5)
           FLOOR(s.mean + 0.5) / 100 AS mean_revenue,
           -- integer dollars^2: 1e14-scale SSE has no representable
           -- 2-decimal rounding in double; FLOOR half-up grid
           CAST(FLOOR(s.e / 10000 + 0.5) AS BIGINT) AS bucket_sse,
           b.total_sse
    FROM buckets b JOIN sse s ON s.lo = b.lo AND s.hi = b.hi
    """,
)
def q416_voptimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-Optimal histogram of daily revenue: choose {VOPT_B - 1} cut
    points from {VOPT_CANDS} equi-depth candidate ranks to minimize
    total within-bucket SSE — the variance-optimal bucketing a
    cost-based optimizer wants for selectivity estimation, vs the
    equal-width (q131) and equal-depth (q186) heuristics.

    Scale design: one prefix-sum window pass gives every candidate
    segment's (count, Σy, Σy²) by subtraction, so the whole search
    is a C({VOPT_CANDS}, {VOPT_B - 1})-row join over a fixed-size
    candidate frame — data volume only touches the day-grain reduce.
    Declarative brute force beats an iterative DP here because the
    candidate set is bounded by construction.

    Determinism: prefix sums in DECIMAL(38) (y² of cent-scale
    revenue exceeds 2^53); SSE algebra on identical doubles; argmin
    on ROUND-4 total with full cut-tuple tie-break.
    """
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y")
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x")).cast("bigint").alias("i"),
        F.sum(F.col("y").cast("decimal(38,0)")).over(wcum).alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .over(wcum)
        .alias("s2"),
    )
    # r10 restructure (r9-verdict task 5): everything downstream of
    # `pre` operates on <= VOPT_CANDS+2 candidate rows, but the r9
    # shape spelled it as 7 chained DataFrame ops (candidate union +
    # distinct, cstat join, lo x hi segment join, 3 triple joins, an
    # argmin window, a 4-way bucket union and a final segment join) —
    # 19 stages of pure scheduler latency at day-grain volume. The
    # whole search now runs as array expressions over ONE aggregated
    # row: collect the (i, s, s2) prefix table (bounded by the
    # CALENDAR — day grain, data-volume-free), enumerate candidate
    # triples with transform/filter, score them with the identical
    # DECIMAL->DOUBLE arithmetic, argmin via array_sort, and explode
    # exactly 4 bucket rows. Same numbers bit for bit: every
    # subexpression keeps the r9 types (bigint counts, DECIMAL(38,0)
    # prefix sums, the same cast-to-double-then-divide SSE).
    state = pre.agg(
        F.max("i").alias("n"),
        # i is the 1-based dense rank, so rows[i-1] IS the lookup
        F.array_sort(F.collect_list(F.struct("i", "s", "s2"))).alias("rows"),
    )
    K = VOPT_CANDS
    D = float(VOPT_CANDS + 1)
    ZS = "CAST(0 AS DECIMAL(38,0))"
    # candidate stats: equi-depth ranks + both sentinels, deduped;
    # rank 0 is the zero sentinel, every other rank reads the prefix
    # table (get() is null-safe under ANSI for the n-IS-NULL corner)
    cs_sql = f"""
    transform(
      array_distinct(array_sort(concat(
        transform(sequence(CAST(1 AS BIGINT), CAST({K} AS BIGINT)),
                  k -> CAST(ceil((k * n) / {D!r}D) AS BIGINT)),
        array(CAST(0 AS BIGINT), n)))),
      i -> IF(i = 0,
              named_struct('i', CAST(0 AS BIGINT), 's', {ZS}, 's2', {ZS}),
              named_struct('i', i,
                           's', get(rows, CAST(i - 1 AS INT)).s,
                           's2', get(rows, CAST(i - 1 AS INT)).s2)))
    """

    def e_sql(lo: str, hi: str) -> str:
        # SSE of segment (lo, hi]: identical ops/types to the r9
        # seg/sse frames — bigint cnt, DECIMAL(38,0) differences,
        # exact DECIMAL numerator, one double division
        return (
            f"(CAST((({hi}.i - {lo}.i) * ({hi}.s2 - {lo}.s2)"
            f" - ({hi}.s - {lo}.s) * ({hi}.s - {lo}.s)) AS DOUBLE)"
            f" / ({hi}.i - {lo}.i))"
        )

    z0 = f"named_struct('i', CAST(0 AS BIGINT), 's', {ZS}, 's2', {ZS})"
    cn = "get(filter(cs, x -> x.i = n), 0)"
    scored_sql = f"""
    array_sort(transform(
      filter(
        flatten(transform(cs, a ->
          flatten(transform(cs, b ->
            transform(cs, c -> named_struct('a', a, 'b', b, 'c', c)))))),
        t -> t.a.i > 0 AND t.b.i > t.a.i AND t.c.i > t.b.i AND t.c.i < n),
      t -> named_struct(
        'total_sse', CAST(FLOOR(({e_sql(z0, 't.a')} + {e_sql('t.a', 't.b')}
                       + {e_sql('t.b', 't.c')} + {e_sql('t.c', cn)})
                       / 10000 + 0.5D) AS BIGINT),
        'c1', t.a.i, 'c2', t.b.i, 'c3', t.c.i)))
    """
    one = (
        state.withColumn("cs", F.expr(cs_sql))
        # argmin with the full (total_sse, c1, c2, c3) tie-break =
        # lexicographic struct sort, first element
        .withColumn("best", F.expr(f"get({scored_sql}, 0)"))
    )
    bux_sql = """
    IF(isnull(best), slice(array(named_struct(
         'bucket_id', 1, 'lo', CAST(0 AS BIGINT), 'hi', best.c1)), 1, 0),
       array(
         named_struct('bucket_id', 1, 'lo', CAST(0 AS BIGINT), 'hi', best.c1),
         named_struct('bucket_id', 2, 'lo', best.c1, 'hi', best.c2),
         named_struct('bucket_id', 3, 'lo', best.c2, 'hi', best.c3),
         named_struct('bucket_id', 4, 'lo', best.c3, 'hi', n)))
    """
    b = one.select(
        F.col("n"),
        F.col("rows"),
        F.col("best").getField("total_sse").alias("total_sse"),
        F.explode(F.expr(bux_sql)).alias("b"),
    ).select(
        "n",
        "rows",
        "total_sse",
        F.col("b.bucket_id").alias("bucket_id"),
        F.col("b.lo").alias("lo"),
        F.col("b.hi").alias("hi"),
    )
    lo_s = f"IF(lo = 0, {z0}, get(rows, CAST(lo - 1 AS INT)))"
    hi_s = "get(rows, CAST(hi - 1 AS INT))"
    return b.select(
        "bucket_id",
        F.col("lo").cast("bigint").alias("lo_rank"),
        F.col("hi").cast("bigint").alias("hi_rank"),
        (F.col("hi") - F.col("lo")).cast("bigint").alias("n_days"),
        F.expr(
            f"FLOOR(CAST(({hi_s}.s - {lo_s}.s) AS DOUBLE) / (hi - lo) + 0.5D)"
            " / 100"
        ).alias("mean_revenue"),
        F.expr(
            f"CAST(FLOOR({e_sql(lo_s, hi_s)} / 10000 + 0.5D) AS BIGINT)"
        ).alias("bucket_sse"),
        F.col("total_sse"),
    )


# ---------------------------------------------------------------------------
# q417 A-Priori frequent itemsets (pairs + candidate-pruned triples)
#
# Market-basket mining one level up from q137's pair lift: the
# A-Priori candidate-generation step — triples are only COUNTED if
# all three constituent pairs pass the support floor, the pruning
# that makes itemset mining feasible on wide catalogs.

AP_MINSUP = 2
AP_TOPK = 15


@register(
    "q417_apriori_itemsets",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS it FROM lineitem
    ),
    pairs AS (
      SELECT a.it AS ia, b.it AS ib, COUNT(*) AS sup
      FROM baskets a JOIN baskets b ON b.o = a.o AND a.it < b.it
      GROUP BY a.it, b.it
      HAVING COUNT(*) >= {AP_MINSUP}
    ),
    -- candidate triples: join frequent pairs sharing the first item,
    -- then A-Priori-prune on the third sub-pair
    cand3 AS (
      SELECT p1.ia, p1.ib, p2.ib AS ic
      FROM pairs p1 JOIN pairs p2
        ON p2.ia = p1.ia AND p2.ib > p1.ib
      JOIN pairs p3 ON p3.ia = p1.ib AND p3.ib = p2.ib
    ),
    triples AS (
      SELECT c.ia, c.ib, c.ic, COUNT(*) AS sup
      FROM cand3 c
      JOIN baskets x ON x.it = c.ia
      JOIN baskets y ON y.o = x.o AND y.it = c.ib
      JOIN baskets z ON z.o = x.o AND z.it = c.ic
      GROUP BY c.ia, c.ib, c.ic
      HAVING COUNT(*) >= {AP_MINSUP}
    ),
    unioned AS (
      SELECT 2 AS set_size, ia AS item_a, ib AS item_b,
             CAST(NULL AS BIGINT) AS item_c, sup FROM pairs
      UNION ALL
      SELECT 3, ia, ib, ic, sup FROM triples
    )
    SELECT CAST(set_size AS INTEGER) AS set_size,
           item_a, item_b, item_c,
           CAST(sup AS BIGINT) AS support,
           CAST(ROW_NUMBER() OVER (PARTITION BY set_size
             ORDER BY sup DESC, item_a ASC, item_b ASC,
                      COALESCE(item_c, -1) ASC) AS BIGINT) AS rn
    FROM unioned
    QUALIFY rn <= {AP_TOPK}
    """,
)
def q417_apriori_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Priori frequent itemset mining over order baskets: frequent
    pairs (support ≥ {AP_MINSUP}), then triples generated ONLY from
    frequent-pair joins and pruned by the third sub-pair before any
    counting — the anti-monotonicity step that keeps level-3
    candidate counting proportional to the frequent-pair table, not
    the catalog cube. Top-{AP_TOPK} per itemset size.

    Scale: pair counting is the in-basket self-join (q137's shape,
    bounded by per-basket width); triple SUPPORT counting joins the
    pruned candidate list back to three posting lists on the order
    key — each join is an equi-join on (order, item), and the
    candidate list is the small side.

    Determinism: exact integer supports; ranking tie-breaks on the
    full item tuple (NULL item_c ordered via COALESCE sentinel).
    """
    baskets = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("it"))
        .distinct()
    )
    a = baskets.select("o", F.col("it").alias("ia"))
    b = baskets.select("o", F.col("it").alias("ib"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= AP_MINSUP)
    )
    p1 = pairs.select("ia", "ib", F.col("sup").alias("s1"))
    p2 = pairs.select(F.col("ia").alias("ia2"), F.col("ib").alias("ic"), F.col("sup").alias("s2"))
    p3 = pairs.select(F.col("ia").alias("ib3"), F.col("ib").alias("ic3"))
    cand3 = (
        p1.join(p2, (F.col("ia2") == F.col("ia")) & (F.col("ic") > F.col("ib")))
        .join(
            p3,
            (F.col("ib3") == F.col("ib")) & (F.col("ic3") == F.col("ic")),
        )
        .select("ia", "ib", "ic")
    )
    x = baskets.select("o", F.col("it").alias("ia"))
    y = baskets.select("o", F.col("it").alias("ib"))
    z = baskets.select("o", F.col("it").alias("ic"))
    triples = (
        F.broadcast(cand3)
        .join(x, "ia")
        .join(y, ["o", "ib"])
        .join(z, ["o", "ic"])
        .groupBy("ia", "ib", "ic")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= AP_MINSUP)
    )
    unioned = pairs.select(
        F.lit(2).alias("set_size"),
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        F.lit(None).cast("bigint").alias("item_c"),
        "sup",
    ).unionAll(
        triples.select(
            F.lit(3).alias("set_size"),
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            F.col("ic").alias("item_c"),
            "sup",
        )
    )
    w = Window.partitionBy("set_size").orderBy(
        F.col("sup").desc(),
        F.col("item_a").asc(),
        F.col("item_b").asc(),
        F.coalesce(F.col("item_c"), F.lit(-1)).asc(),
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= AP_TOPK)
        .select(
            F.col("set_size").cast("int").alias("set_size"),
            "item_a",
            "item_b",
            "item_c",
            F.col("sup").cast("bigint").alias("support"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# q418 exponentially-decayed heavy hitters
#
# The leaderboard with a memory: recent revenue counts more, decayed
# by 2^-(age/half-life). Dyadic decay on the cent grid keeps every
# decayed contribution an exact BIGINT (the q395 discounted-returns
# trick applied to the heavy-hitters problem), so the "streaming"
# leaderboard is bit-reproducible.

DH_HALFLIFE_DAYS = 180
DH_MAX_PERIODS = 14  # contributions older than 14 half-lives round to 0
DH_TOPK = 15


@register(
    "q418_decayed_heavy_hitters",
    oracle=f"""
    WITH anchor AS (
      SELECT MAX(CAST(l_shipdate AS DATE)) AS a FROM lineitem
    ),
    contrib AS (
      SELECT p.p_brand,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS cents,
             LEAST({DH_MAX_PERIODS},
               date_diff('day', CAST(l.l_shipdate AS DATE), an.a)
                 // {DH_HALFLIFE_DAYS}) AS period
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      CROSS JOIN anchor an
    ),
    scored AS (
      SELECT p_brand,
             SUM(CAST(cents AS BIGINT)
                 * (CAST(1 AS BIGINT) << ({DH_MAX_PERIODS} - period)))
               AS decayed_scaled,
             SUM(CAST(cents AS BIGINT)) AS raw_cents
      FROM contrib GROUP BY p_brand
    ),
    ranked AS (
      SELECT p_brand,
             (FLOOR(CAST(CAST(decayed_scaled AS DOUBLE)
                   / {(1 << DH_MAX_PERIODS) * 100} AS DOUBLE) * 100.0 + 0.5) / 100.0) AS decayed_revenue,
             (FLOOR(CAST(CAST(raw_cents AS DOUBLE) / 100 AS DOUBLE) * 100.0 + 0.5) / 100.0) AS raw_revenue,
             CAST(ROW_NUMBER() OVER (ORDER BY decayed_scaled DESC,
                  p_brand ASC) AS BIGINT) AS decayed_rank,
             CAST(ROW_NUMBER() OVER (ORDER BY raw_cents DESC,
                  p_brand ASC) AS BIGINT) AS raw_rank
      FROM scored
    )
    SELECT p_brand, decayed_revenue, raw_revenue, decayed_rank, raw_rank,
           raw_rank - decayed_rank AS rank_shift
    FROM ranked
    WHERE decayed_rank <= {DH_TOPK}
    """,
)
def q418_decayed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed brand leaderboard: every lineitem's
    revenue is decayed by 2^-(age / {DH_HALFLIFE_DAYS}d half-lives,
    floored, capped at {DH_MAX_PERIODS}) before summing — the
    recency-weighted heavy hitters behind trending dashboards, shown
    against the undecayed ranks so momentum (rank_shift) is explicit.

    Determinism: DYADIC decay on the cent grid (the q395 trick) —
    every contribution is cents · 2^(cap − period), an exact BIGINT,
    so the leaderboard is bit-reproducible across engines and
    partitionings; ties break on brand.

    Scale: one fact-table pass with a broadcast anchor scalar; state
    is one BIGINT per brand (mergeable — shard partials just SUM),
    the same accumulator a streaming foreachBatch sink would keep.
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    anchor = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("a"))
    period = F.least(
        F.lit(DH_MAX_PERIODS),
        F.floor(
            F.datediff(F.col("a"), F.col("l_shipdate").cast("date"))
            / DH_HALFLIFE_DAYS
        ),
    )
    contrib = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .crossJoin(F.broadcast(anchor))
        .select(
            "p_brand",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            period.alias("period"),
        )
    )
    scored = contrib.groupBy("p_brand").agg(
        F.sum(
            F.col("cents")
            * F.expr(f"shiftleft(1L, {DH_MAX_PERIODS} - period)")
        ).alias("decayed_scaled"),
        F.sum("cents").alias("raw_cents"),
    )
    ranked = scored.select(
        "p_brand",
        dround(
            F.col("decayed_scaled").cast("double")
            / F.lit(float((1 << DH_MAX_PERIODS) * 100)),
            2,
        ).alias("decayed_revenue"),
        dround(F.col("raw_cents").cast("double") / 100, 2).alias(
            "raw_revenue"
        ),
        F.row_number()
        .over(Window.orderBy(F.col("decayed_scaled").desc(), F.col("p_brand").asc()))
        .cast("bigint")
        .alias("decayed_rank"),
        F.row_number()
        .over(Window.orderBy(F.col("raw_cents").desc(), F.col("p_brand").asc()))
        .cast("bigint")
        .alias("raw_rank"),
    )
    return ranked.filter(F.col("decayed_rank") <= DH_TOPK).select(
        "p_brand",
        "decayed_revenue",
        "raw_revenue",
        "decayed_rank",
        "raw_rank",
        (F.col("raw_rank") - F.col("decayed_rank")).alias("rank_shift"),
    )


# ---------------------------------------------------------------------------
# q419 log-rank test between survival cohorts
#
# Completes the survival suite: q261 estimates S(t), q401 estimates
# H(t) — the log-rank test answers "are these two cohorts' conversion
# hazards DIFFERENT?", the standard A/B readout for time-to-event
# outcomes where a plain conversion-rate z-test (q151) throws away
# the censoring structure.


@register(
    "q419_logrank_test",
    category="analytics-stats (regression/tests/causal)",
    oracle=f"""
    WITH su AS (
      SELECT user_id, user_id % 2 AS grp, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN su ON su.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.t0
      GROUP BY e.user_id
    ),
    obs AS (
      SELECT su.user_id, su.grp,
             CASE WHEN p.t1 IS NULL
                    OR date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE))
                       > {NA_WINDOW_DAYS}
                  THEN {NA_WINDOW_DAYS}
                  ELSE date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE))
             END AS tday,
             CASE WHEN p.t1 IS NOT NULL
                    AND date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE))
                        <= {NA_WINDOW_DAYS}
                  THEN 1 ELSE 0 END AS ev
      FROM su LEFT JOIN pu p ON p.user_id = su.user_id
    ),
    steps AS (
      SELECT tday,
             SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS d0,
             SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS d1,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS a1
      FROM obs GROUP BY tday
    ),
    risk AS (
      SELECT tday, d0, d1,
             SUM(a0) OVER (ORDER BY tday
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n0,
             SUM(a1) OVER (ORDER BY tday
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n1
      FROM steps
    ),
    terms AS (
      SELECT tday, d0, d1, n0, n1, d0 + d1 AS d, n0 + n1 AS n,
             -- expected group-0 events and hypergeometric variance,
             -- each a single division of exact integers
             CAST(n0 * (d0 + d1) AS DOUBLE) / (n0 + n1) AS e0,
             CAST(n0 AS DOUBLE) * n1 * (d0 + d1)
               * (n0 + n1 - d0 - d1)
               / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1) * (n0 + n1 - 1))
               AS v0
      FROM risk WHERE n0 > 0 AND n1 > 0 AND n0 + n1 > 1
    ),
    agg AS (
      SELECT CAST(SUM(d0) AS BIGINT) AS obs0,
             FLOOR(CAST(SUM(CAST((FLOOR(CAST(e0 AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) AS DECIMAL(28,9)))
                   AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS exp0,
             CAST(SUM(CAST((FLOOR(CAST(e0 AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) AS DECIMAL(28,9))) AS DOUBLE)
               AS exp0_raw,
             CAST(SUM(CAST((FLOOR(CAST(v0 AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) AS DECIMAL(28,9))) AS DOUBLE)
               AS var0,
             CAST(SUM(d1) AS BIGINT) AS obs1
      FROM terms
    )
    SELECT obs0, exp0, obs1,
           -- FLOOR half-up grid (q325 convention): integer-ratio
           -- doubles can land exactly on a .5 boundary at 1e-6,
           -- where Spark (half-up) and DuckDB (half-even) diverge
           FLOOR(var0 * 1000000.0 + 0.5) / 1000000.0 AS var0,
           FLOOR((obs0 - exp0_raw) * (obs0 - exp0_raw)
                 / NULLIF(var0, 0) * 1000000.0 + 0.5) / 1000000.0
             AS chi2_logrank
    FROM agg
    """,
)
def q419_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two hash-assigned signup cohorts on
    signup→purchase survival ({NA_WINDOW_DAYS}-day censoring, q261's
    framing): per event day, observed group-0 events vs the
    hypergeometric expectation n0·d/n and variance, summed into the
    one-degree chi-square statistic — the censoring-aware A/B readout
    that a plain conversion z-test (q151) gets wrong whenever the
    observation windows differ.

    Determinism: risk sets are reverse-cumulative integer windows;
    per-step e0/v0 are single divisions of exact integers, ROUND-9
    DECIMAL-summed (order-free); one NULLIF-guarded final ratio.

    Plan: two conditional-MIN user reduces, then everything runs on
    the bounded {NA_WINDOW_DAYS + 1}-row step table.
    """
    ev = t(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .withColumn("grp", (F.col("user_id") % 2).cast("int"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su.select("user_id", "t0"), "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    dd = F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date"))
    obs = su.join(pu, "user_id", "left").select(
        "grp",
        F.when(
            F.col("t1").isNull() | (dd > NA_WINDOW_DAYS), F.lit(NA_WINDOW_DAYS)
        )
        .otherwise(dd)
        .alias("tday"),
        F.when(F.col("t1").isNotNull() & (dd <= NA_WINDOW_DAYS), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    steps = obs.groupBy("tday").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("ev")).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("grp") == 1, F.col("ev")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("a0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("a1"),
    )
    wrev = Window.orderBy("tday").rowsBetween(0, Window.unboundedFollowing)
    risk = steps.select(
        "tday",
        "d0",
        "d1",
        F.sum("a0").over(wrev).alias("n0"),
        F.sum("a1").over(wrev).alias("n1"),
    )
    d = F.col("d0") + F.col("d1")
    n = F.col("n0") + F.col("n1")
    terms = risk.filter(
        (F.col("n0") > 0) & (F.col("n1") > 0) & (n > 1)
    ).select(
        F.col("d0"),
        F.col("d1"),
        ((F.col("n0") * d).cast("double") / n).alias("e0"),
        (
            F.col("n0").cast("double")
            * F.col("n1")
            * d
            * (n - d)
            / (n.cast("double") * n * (n - 1))
        ).alias("v0"),
    )
    agg = terms.agg(
        F.sum("d0").cast("bigint").alias("obs0"),
        F.sum(dround("e0", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("exp0_raw"),
        F.sum(dround("v0", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("var0_raw"),
        F.sum("d1").cast("bigint").alias("obs1"),
    )
    def grid6(c):
        # FLOOR half-up grid (q325 convention) — see oracle comment
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return agg.select(
        "obs0",
        grid6(F.col("exp0_raw")).alias("exp0"),
        "obs1",
        grid6(F.col("var0_raw")).alias("var0"),
        grid6(
            (F.col("obs0") - F.col("exp0_raw"))
            * (F.col("obs0") - F.col("exp0_raw"))
            / F.nullif(F.col("var0_raw"), F.lit(0.0))
        ).alias("chi2_logrank"),
    )


# ---------------------------------------------------------------------------
# q420 bandit replay evaluation (Li et al. 2011)
#
# The OTHER offline policy evaluator beside q391's IPS: replay keeps
# only the logged rounds where the target policy would have chosen
# the SAME action, and averages their rewards — unbiased under
# uniform logging, no propensity weights, and the effective sample
# size it reports is the number the IPS variance story hides.


@register(
    "q420_bandit_replay",
    category="ml-eval-calibration",
    oracle="""
    WITH rounds AS (
      -- logged bandit rounds: arm = event_type, reward = purchase
      -- indicator proxy (value above its event-type median would
      -- require a second pass; the deterministic reward is value>=50)
      SELECT event_id, user_id, event_type AS logged_arm,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS reward
      FROM events
    ),
    -- target policy: per user, play the arm with the most PRIOR
    -- occurrences overall (corpus argmax, ties lexicographic) -- a
    -- deterministic greedy policy both engines derive identically
    pop AS (
      SELECT logged_arm AS arm, COUNT(*) AS n FROM rounds GROUP BY 1
    ),
    target AS (
      SELECT arm FROM pop
      QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, arm ASC) = 1
    ),
    matched AS (
      SELECT r.reward FROM rounds r JOIN target t
        ON t.arm = r.logged_arm
    ),
    alln AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_logged,
                    SUM(reward) AS r_logged FROM rounds)
    SELECT (SELECT arm FROM target) AS target_arm,
           a.n_logged,
           CAST(COUNT(m.reward) AS BIGINT) AS n_matched,
           -- FLOOR half-up grid (q325 convention): these are exact
           -- integer ratios; 1/128-class values land on .5 at 1e-6
           FLOOR(CAST(COUNT(m.reward) AS DOUBLE) / a.n_logged
                 * 1000000.0 + 0.5) / 1000000.0 AS match_rate,
           FLOOR(CAST(SUM(m.reward) AS DOUBLE)
                 / NULLIF(COUNT(m.reward), 0) * 1000000.0 + 0.5)
             / 1000000.0 AS replay_value,
           FLOOR(CAST(a.r_logged AS DOUBLE) / a.n_logged
                 * 1000000.0 + 0.5) / 1000000.0 AS logged_value
    FROM alln a LEFT JOIN matched m ON TRUE
    GROUP BY a.n_logged, a.r_logged
    """,
)
def q420_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay (rejection-sampling) offline evaluation of a greedy
    target policy on logged bandit rounds: keep only rounds where the
    target would have played the logged arm, average their rewards —
    the propensity-free counterfactual estimator beside q391's IPS,
    with the effective-sample-size (n_matched / match_rate) made
    explicit because that is what replay trades for its variance
    safety.

    Determinism: the target policy is a corpus-argmax with a
    lexicographic tie-break; rewards are exact integers; two guarded
    divisions.

    Scale: one arm-popularity reduce (broadcast scalar), one
    broadcast-filtered pass over the log; no per-round state.
    """
    rounds = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("logged_arm"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("reward"),
    )
    pop = rounds.groupBy(F.col("logged_arm").alias("arm")).agg(
        F.count(F.lit(1)).alias("n")
    )
    target = (
        pop.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("arm").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .select(F.col("arm").alias("target_arm"))
    )
    alln = rounds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_logged"),
        F.sum("reward").alias("r_logged"),
    )
    matched = rounds.join(
        F.broadcast(target), F.col("logged_arm") == F.col("target_arm")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum("reward").alias("r_matched"),
    )
    return (
        alln.crossJoin(F.broadcast(matched))
        .crossJoin(F.broadcast(target))
        .select(
            "target_arm",
            "n_logged",
            "n_matched",
            # FLOOR half-up grid (q325 convention) — see oracle
            (F.floor(
                F.col("n_matched").cast("double") / F.col("n_logged")
                * 1e6 + F.lit(0.5)
            ) / 1e6).alias("match_rate"),
            (F.floor(
                F.col("r_matched").cast("double")
                / F.nullif(F.col("n_matched"), F.lit(0))
                * 1e6 + F.lit(0.5)
            ) / 1e6).alias("replay_value"),
            (F.floor(
                F.col("r_logged").cast("double") / F.col("n_logged")
                * 1e6 + F.lit(0.5)
            ) / 1e6).alias("logged_value"),
        )
    )


# ---------------------------------------------------------------------------
# q421 differentially-private noisy counts with budget accounting
#
# Completes the privacy shelf (k-anon q247, generalization q280,
# l-diversity/t-closeness q399) with the RELEASE mechanism: Laplace
# noise at sensitivity 1, epsilon split across the released cells by
# basic composition, utility audited in-query. Noise is drawn by
# inverse-CDF over md5-uniforms — reproducible across engines and
# retries, which is exactly what a replayable release pipeline needs
# (true randomness lives OUTSIDE the query, in the salt).

DP_EPS_TOTAL = 1.0  # total privacy budget for the release
DP_SALT = "dp_r4"


@register(
    "q421_dp_noisy_counts",
    category="llm-corpus-pipeline",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS true_count
      FROM documents GROUP BY lang, source
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
    noised AS (
      SELECT c.lang, c.source, c.true_count, k.n_cells,
             {DP_EPS_TOTAL} / k.n_cells AS eps_cell,
             -- uniform in (0,1): 13 md5 hex chars (52 bits), +1 to
             -- dodge the u=0 pole of the inverse CDF
             (CAST(('0x' || substr(md5(c.lang || '|' || c.source
                    || '|{DP_SALT}'), 1, 13)) AS BIGINT) + 1.0)
               / {(1 << 52) + 2} AS u
      FROM cells c, k
    ),
    released AS (
      SELECT lang, source, true_count, n_cells,
             (FLOOR(CAST(eps_cell AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS eps_cell,
             -- inverse-CDF Laplace(b = 1/eps): -b*sign(u-.5)*ln(1-2|u-.5|)
             (FLOOR(CAST(true_count
               - (1.0 / eps_cell)
                 * (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                 * ln(1 - 2 * ABS(u - 0.5)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS noisy_count
      FROM noised
    )
    SELECT lang, source,
           CAST(true_count AS BIGINT) AS true_count,
           noisy_count, eps_cell,
           (FLOOR(CAST(ABS(noisy_count - true_count) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS abs_error,
           CAST(n_cells AS BIGINT) AS n_cells
    FROM released
    """,
)
def q421_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the (lang × source) count
    table: Laplace noise at sensitivity 1 with the ε={DP_EPS_TOTAL}
    budget split uniformly across cells (basic composition), noise
    drawn by inverse-CDF over md5-derived uniforms so the release is
    REPLAYABLE — rerun the query, get the same certified release;
    rotate the salt to re-randomize. Per-cell ε and realized absolute
    error are released alongside (the error column is public: it
    depends only on the noise draw). The mechanism stage completing
    the audit stages (q247 → q280 → q399).

    Determinism: the uniform is (h52 + 1)/(2^52 + 2) ∈ (0,1) exactly
    on both engines; ln on identical doubles, ROUND-4 absorbing the
    last-ulp libm divergence (q261's ln precedent).

    Scale: one grouped reduce; the noise is per-CELL (bounded), not
    per-row.
    """
    d = t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    k = cells.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("lang"),
                        F.lit("|"),
                        F.col("source"),
                        F.lit(f"|{DP_SALT}"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / float((1 << 52) + 2)
    eps_cell = F.lit(DP_EPS_TOTAL) / F.col("n_cells")
    noisy = dround(
        F.col("true_count")
        - (F.lit(1.0) / eps_cell)
        * F.when(u >= 0.5, F.lit(1)).otherwise(F.lit(-1))
        * F.log(F.lit(1.0) - 2 * F.abs(u - F.lit(0.5))),
        4,
    )
    return (
        cells.crossJoin(F.broadcast(k))
        .select(
            "lang",
            "source",
            F.col("true_count").cast("bigint").alias("true_count"),
            noisy.alias("noisy_count"),
            dround(eps_cell, 6).alias("eps_cell"),
            dround(F.abs(noisy - F.col("true_count")), 4).alias("abs_error"),
            "n_cells",
        )
    )
