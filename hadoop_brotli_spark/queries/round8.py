"""Round-8 operators (q504+): suffix-array-style exact-substring
discovery (the q253 generalization — maximal cross-document repeats
via bucketed adjacent-suffix LCP, the Lee et al. "Deduplicating
Training Data Makes Language Models Better" ExactSubstr primitive),
an HDBSCAN-style density/core-distance audit over the embedding
corpus (the density complement of the q72 threshold near-dup pass),
and a Raft-style replica quorum-placement audit (the failure-domain
companion of q446 rendezvous / q465 ring sharding).

Conventions: exact integer arithmetic until a final division, ROUND-6
at output boundaries, NULLIF guards for ANSI division, no
unpartitioned window over a corpus-bound grain, no unaudited
broadcast hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ._util import dround, fan_out, t
from .dedup import (
    MAX_LSH_BUCKET,
    N_HASHES,
    _minhash_pairs,
    _minhash_pairs_ctes,
    _shingle_df,
    _signatures,
)
from .similarity import _sql_sign_bucket, dot_double, norm_double, sign_bucket

# ---------------------------------------------------------------------------
# q504 suffix-array exact-substring (bucketed adjacent-suffix LCP)

SUF_K = 40  # truncated-suffix width: LCP is measured up to this cap
SUF_B = 12  # sort bucket = first SUF_B chars (pairs with LCP < SUF_B
# can never be adjacent winners, so bucketing loses nothing >= SUF_MIN)
SUF_MIN = 16  # report threshold: maximal repeats of at least this len
SUF_TOPK = 20
# Per-bucket suffix cap (r9 verdict task 3 — the q62/q398 shared-spec
# precedent): a hot {SUF_B}-char prefix (mass boilerplate) would
# otherwise put an UNBOUNDED suffix set into one sort-window task at
# 100x. Both engines keep the same {SUF_CAP} suffixes per bucket,
# selected by a deterministic md5 order, so results stay identical.
# Dropping suffixes is a SOUND subsample, not an approximation of the
# reported values: pair LCPs are computed from the retained strings
# themselves, so every reported (doc_a, doc_b, max_lcp) is a true
# repeat — over-cap buckets only lose recall (an explicit sampling
# contract). Fixture buckets max at 110 (sf0.01) / 868 (sf0.1), so
# the cap never bites at test SFs. 1000 (not higher) because Spark's
# InferWindowGroupLimit rule only fires for limits at or under
# spark.sql.window.group.limit.threshold (default 1000).
SUF_CAP = 1000


@register(
    "q504_suffix_lcp_repeats",
    category="llm-corpus-pipeline",
    oracle=f"""
    WITH suf AS (
      SELECT d.doc_id, r.i AS pos,
             SUBSTRING(d.text, CAST(r.i AS INTEGER), {SUF_K}) AS s
      FROM documents d,
           UNNEST(range(1, GREATEST(LENGTH(d.text) - {SUF_MIN - 1}, 0) + 1))
             r(i)
    ),
    capped AS (
      -- shared-spec per-bucket cap: deterministic md5 order, both
      -- engines; rank-filter shape so Spark plans WindowGroupLimit
      SELECT doc_id, pos, s FROM (
        SELECT doc_id, pos, s,
               ROW_NUMBER() OVER (
                 PARTITION BY SUBSTRING(s, 1, {SUF_B})
                 ORDER BY CAST('0x' || substr(md5(
                     s || '|' || CAST(doc_id AS VARCHAR)
                       || ':' || CAST(pos AS VARCHAR)), 1, 7) AS BIGINT),
                   doc_id, pos
               ) AS hrk
        FROM suf)
      WHERE hrk <= {SUF_CAP}
    ),
    adj AS (
      SELECT doc_id, pos, s, LENGTH(s) AS ln,
             LAG(doc_id) OVER w AS pdoc,
             LAG(s) OVER w AS ps
      FROM capped
      WINDOW w AS (PARTITION BY SUBSTRING(s, 1, {SUF_B})
                   ORDER BY s, doc_id, pos)
    ),
    cross_adj AS (
      SELECT LEAST(doc_id, pdoc) AS doc_a,
             GREATEST(doc_id, pdoc) AS doc_b,
             s, ps, LEAST(ln, LENGTH(ps)) AS cap
      FROM adj WHERE pdoc IS NOT NULL AND pdoc <> doc_id
    ),
    lcp AS (
      SELECT doc_a, doc_b,
             LEAST(MAX(k.k), ANY_VALUE(cap)) AS pair_lcp
      FROM cross_adj,
           UNNEST(range({SUF_B}, {SUF_K} + 1)) k(k)
      WHERE SUBSTRING(s, 1, CAST(k.k AS INTEGER))
              = SUBSTRING(ps, 1, CAST(k.k AS INTEGER))
      GROUP BY doc_a, doc_b, s, ps, cap
    ),
    per_pair AS (
      SELECT doc_a, doc_b,
             MAX(pair_lcp) AS max_lcp,
             CAST(COUNT(*) AS BIGINT) AS n_anchors
      FROM lcp GROUP BY doc_a, doc_b
      HAVING MAX(pair_lcp) >= {SUF_MIN}
    )
    SELECT doc_a, doc_b, CAST(max_lcp AS BIGINT) AS max_lcp, n_anchors,
           CAST(ROW_NUMBER() OVER (
             ORDER BY max_lcp DESC, doc_a ASC, doc_b ASC
           ) AS BIGINT) AS rn
    FROM per_pair
    QUALIFY rn <= {SUF_TOPK}
    """,
)
def q504_suffix_lcp_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated substrings via the suffix-array
    construction, bucketed: explode every suffix position (truncated
    to {SUF_K} chars), sort suffixes, and take the LCP of ADJACENT
    cross-document entries — the classic SA property that any maximal
    repeat appears as an adjacent pair in suffix order. This is the
    ExactSubstr dedup primitive (Lee et al. 2022) the q253 fixed-gram
    pass approximates: q253 can only see repeats at one gram width,
    this measures the TRUE maximal repeat length per document pair.

    Engine parity: the sort bucket is the first {SUF_B} chars of the
    suffix — two suffixes are adjacent within a bucket iff they are
    adjacent in the full suffix order whenever their LCP >= {SUF_B},
    and pairs below the {SUF_MIN} report threshold are dropped anyway,
    so bucketing changes nothing the query reports. The LCP is
    computed by exploding candidate lengths k and taking MAX(k) where
    the k-prefixes agree (prefix equality is monotone in k), capped by
    both truncated lengths.

    Scale: the suffix explode fans out from the narrow (doc_id, text)
    scan; the sort window is PARTITIONED by the {SUF_B}-char bucket
    AND each bucket is capped at {SUF_CAP} suffixes by a shared-spec
    deterministic md5 order (r9: a hot boilerplate prefix would
    otherwise be one unbounded window task at 100x — the q62/q398
    cap precedent; retained pairs stay exact, over-cap buckets trade
    recall, never precision). The cap's own rank filter plans as
    WindowGroupLimit(Partial), so map tasks pre-limit hot buckets
    before the exchange. The LCP fan-out (x{SUF_K - SUF_B + 1})
    applies only to adjacent CROSS-DOC rows, a vanishing fraction of
    suffixes; the report is pair-grain with a TakeOrdered
    top-{SUF_TOPK} tail.
    """
    # length filter BEFORE the explode (the q501 lesson: Spark's
    # sequence(1, 0) steps -1 and would emit two bogus suffixes per
    # short doc); DuckDB's range(1, 1) is already empty
    suf = (
        fan_out(
            t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.length("text") >= SUF_MIN)
        )
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(length(text) - "
                    f"{SUF_MIN - 1}, 0)), i -> substring(text, i, {SUF_K}))"
                )
            ).alias("pos0", "s"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    )
    # shared-spec per-bucket cap (see SUF_CAP above): the rank filter
    # lets Spark plan WindowGroupLimit(Partial), so every map task
    # pre-limits a hot bucket to SUF_CAP rows BEFORE the exchange —
    # the sort window below then sees <= SUF_CAP rows per bucket
    hkey = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("s"),
                    F.lit("|"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    wcap = Window.partitionBy(F.substring("s", 1, SUF_B)).orderBy(
        hkey, "doc_id", "pos"
    )
    suf = (
        suf.withColumn("hrk", F.row_number().over(wcap))
        .filter(F.col("hrk") <= SUF_CAP)
        .drop("hrk")
    )
    w = Window.partitionBy(F.substring("s", 1, SUF_B)).orderBy(
        "s", "doc_id", "pos"
    )
    adj = suf.select(
        "doc_id",
        "pos",
        "s",
        F.length("s").alias("ln"),
        F.lag("doc_id").over(w).alias("pdoc"),
        F.lag("s").over(w).alias("ps"),
    )
    cross_adj = adj.filter(
        F.col("pdoc").isNotNull() & (F.col("pdoc") != F.col("doc_id"))
    ).select(
        F.least("doc_id", "pdoc").alias("doc_a"),
        F.greatest("doc_id", "pdoc").alias("doc_b"),
        "s",
        "ps",
        F.least(F.col("ln"), F.length("ps")).alias("cap"),
    )
    lcp = (
        cross_adj.select(
            "doc_a",
            "doc_b",
            "s",
            "ps",
            "cap",
            F.explode(F.sequence(F.lit(SUF_B), F.lit(SUF_K))).alias("k"),
        )
        .filter(
            F.expr("substring(s, 1, k)") == F.expr("substring(ps, 1, k)")
        )
        .groupBy("doc_a", "doc_b", "s", "ps", "cap")
        .agg(F.least(F.max("k"), F.first("cap")).alias("pair_lcp"))
    )
    per_pair = (
        lcp.groupBy("doc_a", "doc_b")
        .agg(
            F.max("pair_lcp").alias("max_lcp"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
        .filter(F.col("max_lcp") >= SUF_MIN)
    )
    top = per_pair.orderBy(
        F.col("max_lcp").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(SUF_TOPK)
    wr = Window.orderBy(
        F.col("max_lcp").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    return top.select(
        "doc_a",
        "doc_b",
        F.col("max_lcp").cast("bigint").alias("max_lcp"),
        "n_anchors",
        F.row_number().over(wr).cast("bigint").alias("rn"),
    )


# ---------------------------------------------------------------------------
# q505 HDBSCAN-style density / core-distance audit

DENS_BITS = 4  # sign-LSH bucket width: 16 buckets, bounded peers
DENS_K = 3  # core distance = distance to the k-th nearest in-bucket
DENS_T = 0.85  # cosine-distance outlier threshold (p90 at sf0.01)


@register(
    "q505_density_core_audit",
    category="llm-similarity-ann",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_sql_sign_bucket('embedding', DENS_BITS)} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS va, b2.vec_id AS vb, a.label,
             CAST(UNNEST(a.embedding) AS DOUBLE) AS x,
             CAST(UNNEST(b2.embedding) AS DOUBLE) AS y
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
    ),
    dists AS (
      SELECT va, vb, ANY_VALUE(label) AS label,
             (FLOOR(CAST(1 - SUM(x * y)
                   / (SQRT(SUM(x * x)) * SQRT(SUM(y * y))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS d
      FROM pairs GROUP BY va, vb
    ),
    core AS (
      SELECT va, label, d AS core_dist
      FROM (
        SELECT va, label, d, ROW_NUMBER() OVER (
                 PARTITION BY va ORDER BY d ASC, vb ASC) AS rn
        FROM dists
      ) WHERE rn = {DENS_K}
    )
    SELECT b.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(c.core_dist) AS BIGINT) AS n_dense,
           CAST(COUNT(*) - COUNT(c.core_dist) AS BIGINT) AS n_sparse,
           -- exact-decimal average: core_dist values are grid-6, so
           -- SUM(DECIMAL(38,6)) is order-independent and both engines
           -- divide identical doubles (plain AVG(double) diverged at a
           -- half-up tie on a hypothesis-generated corpus, r10)
           (FLOOR(CAST(CAST(SUM(CAST(c.core_dist AS DECIMAL(38,6))) AS DOUBLE)
                  / COUNT(c.core_dist) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS avg_core,
           (FLOOR(CAST(MAX(c.core_dist) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS max_core,
           CAST(SUM(CASE WHEN c.core_dist > {DENS_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM b LEFT JOIN core c ON c.va = b.vec_id
    GROUP BY b.label
    ORDER BY b.label
    """,
)
def q505_density_core_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN-style density audit over the embedding corpus: each
    vector's CORE DISTANCE (cosine distance to its {DENS_K}-th nearest
    neighbor inside its {DENS_BITS}-bit sign-LSH bucket) is the
    mutual-reachability primitive density-based dedup/clustering
    builds on — per-label distributions plus the count of density
    outliers (core distance > {DENS_T}) that a curation pipeline
    routes to manual review. Complements q72's fixed-threshold
    near-dup pass: q72 asks "who is too CLOSE", this asks "who has no
    dense neighborhood at all".

    Engine parity: distances are ROUND-6 before ranking (identical
    tie surface), ranked with a (distance, vec_id) total order;
    vectors with fewer than {DENS_K} in-bucket peers surface as
    n_sparse via the left join, never as fabricated distances.

    Scale: pairs are bucket-local (sign-LSH, the q71/q74 pattern —
    never corpus x corpus); the rank window partitions per VECTOR
    (bounded by bucket size); the report is label-grain.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        sign_bucket("embedding", DENS_BITS).alias("bucket"),
        norm_double("embedding").alias("nrm"),
    )
    a = emb.select(
        F.col("vec_id").alias("va"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        "bucket",
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("bucket").alias("bucket_b"),
        F.col("nrm").alias("nb"),
    )
    dists = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b")) & (F.col("va") != F.col("vb")),
    ).select(
        "va",
        "vb",
        "label",
        dround(
            F.lit(1.0)
            - dot_double("ea", "eb") / (F.col("na") * F.col("nb")),
            6,
        ).alias("d"),
    )
    wk = Window.partitionBy("va").orderBy(F.col("d").asc(), F.col("vb").asc())
    core = (
        dists.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == DENS_K)
        .select("va", F.col("d").alias("core_dist"))
    )
    base = emb.select("vec_id", "label")
    return (
        base.join(core, F.col("vec_id") == F.col("va"), "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.count("core_dist").cast("bigint").alias("n_dense"),
            (F.count(F.lit(1)) - F.count("core_dist"))
            .cast("bigint")
            .alias("n_sparse"),
            # exact-decimal average (see oracle comment): grid-6 core
            # distances sum exactly in DECIMAL(38,6); one double
            # division of identical operands is engine-bit-identical
            dround(
                F.sum(F.col("core_dist").cast("decimal(38,6)")).cast("double")
                / F.count("core_dist"),
                6,
            ).alias("avg_core"),
            dround(F.max("core_dist"), 6).alias("max_core"),
            F.sum(F.when(F.col("core_dist") > DENS_T, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q506 Raft-style replica quorum-placement audit

QUO_R = 3  # replication factor (majority = 2)
QUO_SALT = "quorum_r8"


def _quo_hash_sql() -> str:
    return (
        "CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR) "
        f"|| '|{QUO_SALT}|' || CAST(s_suppkey AS VARCHAR)), 1, 13)) "
        "AS BIGINT)"
    )


@register(
    "q506_quorum_placement_audit",
    category="llm-corpus-pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT p.p_partkey, s.s_suppkey, s.s_nationkey,
             {_quo_hash_sql()} AS h
      FROM part p CROSS JOIN supplier s
    ),
    replicas AS (
      SELECT p_partkey, s_suppkey, s_nationkey
      FROM (
        SELECT p_partkey, s_suppkey, s_nationkey, ROW_NUMBER() OVER (
                 PARTITION BY p_partkey ORDER BY h DESC, s_suppkey ASC
               ) AS rn
        FROM scored
      ) WHERE rn <= {QUO_R}
    ),
    dom AS (
      SELECT p_partkey, s_nationkey, COUNT(*) AS in_dom
      FROM replicas GROUP BY p_partkey, s_nationkey
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part),
    per_nation AS (
      SELECT s_nationkey,
             CAST(SUM(in_dom) AS BIGINT) AS replicas_hosted,
             CAST(SUM(CASE WHEN in_dom * 2 > {QUO_R} THEN 1 ELSE 0 END)
                  AS BIGINT) AS parts_quorum_at_risk,
             CAST(SUM(CASE WHEN in_dom = {QUO_R} THEN 1 ELSE 0 END)
                  AS BIGINT) AS parts_total_loss
      FROM dom GROUP BY s_nationkey
    ),
    nsupp AS (
      SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier
      GROUP BY s_nationkey
    )
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           CAST(COALESCE(ns.n_suppliers, 0) AS BIGINT) AS n_suppliers,
           COALESCE(pn.replicas_hosted, 0) AS replicas_hosted,
           COALESCE(pn.parts_quorum_at_risk, 0) AS parts_quorum_at_risk,
           COALESCE(pn.parts_total_loss, 0) AS parts_total_loss,
           (FLOOR(CAST(COALESCE(pn.parts_quorum_at_risk, 0) * 1.0 / t.n_parts AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS risk_share
    FROM nation n
    LEFT JOIN per_nation pn ON pn.s_nationkey = n.n_nationkey
    LEFT JOIN nsupp ns ON ns.s_nationkey = n.n_nationkey
    CROSS JOIN tot t
    ORDER BY nationkey
    """,
)
def q506_quorum_placement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raft-style quorum placement audit: each part (key) places
    {QUO_R} replicas on the suppliers (nodes) with the highest
    rendezvous weights md5(part|supplier) — the q446 HRW map extended
    to replica SETS — and the audit asks, per nation (failure
    domain), how many keys would lose write QUORUM (majority of
    replicas, > {QUO_R}/2, inside the failing domain) and how many
    would lose ALL replicas. This is the placement-safety check a
    quorum-replicated 100 TB store runs before accepting a topology:
    rendezvous placement is domain-oblivious, so domain-concentrated
    replica sets are a real (and here, measured) hazard.

    Determinism: md5-derived 52-bit weights, ties to the smallest
    supplier id; counts integer; the only division is the final
    risk share on the nation grain.

    Scale: the score relation is keys x NODES — nodes are a bounded
    cluster dimension (hundreds to thousands), exactly the cost
    rendezvous placement itself pays; the top-{QUO_R} rank window
    partitions per KEY over that bounded node set; everything after
    is (key, domain)- then domain-grain. Nations enter via a
    broadcast-size dimension join.
    """
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = t(spark, sf_dir, "part").select("p_partkey")
    scored = p.crossJoin(F.broadcast(s)).select(
        "p_partkey",
        "s_suppkey",
        "s_nationkey",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("p_partkey").cast("string"),
                        F.lit("|" + QUO_SALT + "|"),
                        F.col("s_suppkey").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    wr = Window.partitionBy("p_partkey").orderBy(
        F.col("h").desc(), F.col("s_suppkey").asc()
    )
    replicas = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= QUO_R)
        .select("p_partkey", "s_suppkey", "s_nationkey")
    )
    dom = replicas.groupBy("p_partkey", "s_nationkey").agg(
        F.count(F.lit(1)).alias("in_dom")
    )
    tot = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    per_nation = dom.groupBy("s_nationkey").agg(
        F.sum("in_dom").cast("bigint").alias("replicas_hosted"),
        F.sum(F.when(F.col("in_dom") * 2 > QUO_R, 1).otherwise(0))
        .cast("bigint")
        .alias("parts_quorum_at_risk"),
        F.sum(F.when(F.col("in_dom") == QUO_R, 1).otherwise(0))
        .cast("bigint")
        .alias("parts_total_loss"),
    )
    nsupp = s.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers")
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        n.join(
            per_nation, n.n_nationkey == per_nation.s_nationkey, "left"
        )
        .drop("s_nationkey")
        .join(nsupp, n.n_nationkey == nsupp.s_nationkey, "left")
        .drop("s_nationkey")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.coalesce("n_suppliers", F.lit(0))
            .cast("bigint")
            .alias("n_suppliers"),
            F.coalesce("replicas_hosted", F.lit(0)).alias(
                "replicas_hosted"
            ),
            F.coalesce("parts_quorum_at_risk", F.lit(0)).alias(
                "parts_quorum_at_risk"
            ),
            F.coalesce("parts_total_loss", F.lit(0)).alias(
                "parts_total_loss"
            ),
            dround(
                F.coalesce("parts_quorum_at_risk", F.lit(0))
                * F.lit(1.0)
                / F.col("n_parts"),
                6,
            ).alias("risk_share"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# q507 clustering agreement: adjusted Rand index + purity

ARI_BITS = 4  # sign-LSH "clustering" under audit (16 clusters)


@register(
    "q507_adjusted_rand_index",
    category="llm-similarity-ann",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label,
             {_sql_sign_bucket('embedding', ARI_BITS)} AS bucket
      FROM embeddings
    ),
    cell AS (
      SELECT bucket, label, CAST(COUNT(*) AS DECIMAL(38,0)) AS nij
      FROM b GROUP BY bucket, label
    ),
    rows_ AS (
      SELECT bucket, CAST(SUM(nij) AS DECIMAL(38,0)) AS ai,
             MAX(nij) AS mx
      FROM cell GROUP BY bucket
    ),
    cols_ AS (
      SELECT label, CAST(SUM(nij) AS DECIMAL(38,0)) AS bj
      FROM cell GROUP BY label
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_clusters,
             CAST(COUNT(DISTINCT label) AS BIGINT) AS n_classes
      FROM b
    ),
    sums AS (
      -- doubled pair counts: x*(x-1) stays in exact DECIMAL(38,0)
      -- integer space (decimal DIVISION semantics differ between
      -- engines — the q276 lesson); the /2 happens in double below
      SELECT
        (SELECT SUM(nij * (nij - 1)) FROM cell) AS s_cells2,
        (SELECT SUM(ai * (ai - 1)) FROM rows_) AS s_rows2,
        (SELECT SUM(bj * (bj - 1)) FROM cols_) AS s_cols2,
        (SELECT SUM(mx) FROM rows_) AS s_purity
    )
    SELECT CAST(t.n AS BIGINT) AS n_vecs,
           t.n_clusters, t.n_classes,
           (FLOOR(CAST((CAST(s.s_cells2 AS DOUBLE) / 2
                  - (CAST(s.s_rows2 AS DOUBLE) / 2)
                    * (CAST(s.s_cols2 AS DOUBLE) / 2)
                    / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1)
                       / 2))
                 / NULLIF((CAST(s.s_rows2 AS DOUBLE) / 2
                           + CAST(s.s_cols2 AS DOUBLE) / 2) / 2
                          - (CAST(s.s_rows2 AS DOUBLE) / 2)
                            * (CAST(s.s_cols2 AS DOUBLE) / 2)
                            / (CAST(t.n AS DOUBLE)
                               * (CAST(t.n AS DOUBLE) - 1) / 2), 0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS ari,
           (FLOOR(CAST(CAST(s.s_purity AS DOUBLE) / CAST(t.n AS DOUBLE) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS purity
    FROM tot t CROSS JOIN sums s
    """,
)
def q507_adjusted_rand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-agreement audit: the adjusted Rand index (Hubert &
    Arabie 1985) between the {ARI_BITS}-bit sign-LSH bucketing and the
    ground-truth labels, plus cluster purity — the standard "is this
    cheap hash clustering aligned with semantics at all" check run
    before trusting LSH buckets for stratification or dedup blocking
    (q62/q71/q505 all build on these buckets; this measures them).

    Exactness: every pair count C(x,2) = x(x-1)/2 is computed in
    DECIMAL(38,0) (cell counts ~1e12 at corpus scale overflow BIGINT
    products — the q503 lesson); the expected-index correction and
    the two final divisions are the only doubles, on identical
    operands in both engines, ROUND-6 at the boundary. Degenerate
    single-cluster/single-class corpora zero the denominator and
    NULL the ARI identically via NULLIF.

    Scale: one (bucket, label)-grain aggregate over the corpus, then
    16-row / 10-row / 1-row reductions. No pairs materialize — the
    pair counts are closed-form in the contingency cells.
    """
    b = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", sign_bucket("embedding", ARI_BITS).alias("bucket")
    )
    cell = b.groupBy("bucket", "label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nij")
    )

    def paired2(c: F.Column) -> F.Column:
        # DOUBLED pair count x*(x-1): exact DECIMAL(38,0) integers —
        # decimal division semantics differ between engines (q276
        # lesson), so the /2 happens in double space at the end
        return c * (c - 1)

    rows_ = cell.groupBy("bucket").agg(
        F.sum("nij").cast("decimal(38,0)").alias("ai"),
        F.max("nij").alias("mx"),
    )
    cols_ = cell.groupBy("label").agg(
        F.sum("nij").cast("decimal(38,0)").alias("bj")
    )
    tot = b.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.countDistinct("bucket").cast("bigint").alias("n_clusters"),
        F.countDistinct("label").cast("bigint").alias("n_classes"),
    )
    s_cells = cell.agg(F.sum(paired2(F.col("nij"))).alias("s_cells2"))
    s_rows = rows_.agg(
        F.sum(paired2(F.col("ai"))).alias("s_rows2"),
        F.sum("mx").alias("s_purity"),
    )
    s_cols = cols_.agg(F.sum(paired2(F.col("bj"))).alias("s_cols2"))
    nd = F.col("n").cast("double")
    pairs_n = nd * (nd - 1) / 2
    half_rows = F.col("s_rows2").cast("double") / 2
    half_cols = F.col("s_cols2").cast("double") / 2
    expected = half_rows * half_cols / pairs_n
    return (
        tot.crossJoin(F.broadcast(s_cells))
        .crossJoin(F.broadcast(s_rows))
        .crossJoin(F.broadcast(s_cols))
        .select(
            F.col("n").cast("bigint").alias("n_vecs"),
            "n_clusters",
            "n_classes",
            dround(
                (F.col("s_cells2").cast("double") / 2 - expected)
                / F.nullif(
                    (half_rows + half_cols) / 2 - expected,
                    F.lit(0.0),
                ),
                6,
            ).alias("ari"),
            dround(
                F.col("s_purity").cast("double") / nd, 6
            ).alias("purity"),
        )
    )


# ---------------------------------------------------------------------------
# q508 MinHash sketch fidelity audit (estimator vs exact Jaccard)


@register(
    "q508_minhash_fidelity",
    category="llm-dedup",
    oracle=f"""
    WITH {_minhash_pairs_ctes()},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    est AS (
      SELECT p.doc_a, p.doc_b,
             ({" + ".join(
                 f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
                 for i in range(N_HASHES)
             )}) AS matches
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    ),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b2 ON b2.doc_id = p.doc_b AND b2.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    ),
    scored AS (
      SELECT e.matches,
             (FLOOR(CAST(ABS(e.matches / {N_HASHES}.0
                       - COALESCE(c.n_common, 0) * 1.0
                         / (za.sz + zb.sz - COALESCE(c.n_common, 0))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS err,
             (FLOOR(CAST(COALESCE(c.n_common, 0) * 1.0
                   / (za.sz + zb.sz - COALESCE(c.n_common, 0)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
               AS true_j
      FROM est e
      LEFT JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
      JOIN sizes za ON za.doc_id = e.doc_a
      JOIN sizes zb ON zb.doc_id = e.doc_b
    )
    SELECT matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           -- half-up 1e-6 grid, not ROUND: the mean can land exactly
           -- on a .5e-6 boundary where the engines' ROUND-on-double
           -- implementations disagree by one grid step
           FLOOR(CAST(SUM(CAST(true_j AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_true_jaccard,
           FLOOR(CAST(SUM(CAST(err AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_abs_err,
           MAX(err) AS max_abs_err
    FROM scored GROUP BY matches ORDER BY matches
    """,
)
def q508_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-fidelity audit for the q62 MinHash pipeline: for every
    LSH candidate pair, compare the 8-hash signature ESTIMATE of
    Jaccard similarity (matching minhashes / 8) against the EXACT
    shingle-set Jaccard, reported per estimate level — the
    calibration curve that tells a dedup operator what a band
    collision actually means before they pick thresholds. (q62 emits
    the candidates; q61 computes exact Jaccard over ALL co-shingle
    pairs; this joins the two views on the candidate set only.)

    Exactness: estimates are exact multiples of 1/8 (binary-exact
    doubles); exact Jaccard and the absolute error are single
    divisions of integers, ROUND-6 per pair, then summed as
    DECIMAL(18,6) so the per-level means are order-independent and
    engine-identical.

    Scale: candidate pairs are LSH-bounded (banded buckets with the
    {MAX_LSH_BUCKET}-cap, never docs²); the exact-Jaccard join fans
    each pair out by ONE document's shingle set — pair-grain × doc
    length, the same order as scoring the candidates at all.
    """
    pairs = _minhash_pairs(spark, sf_dir).localCheckpoint(eager=False)
    sig = _signatures(spark, sf_dir)
    sh = _shingle_df(spark, sf_dir, 3, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("matches"))
    )
    common = (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    true_j = nc * F.lit(1.0) / (F.col("sza") + F.col("szb") - nc)
    scored = (
        est.join(common, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "matches",
            dround(
                F.abs(F.col("matches") / F.lit(float(N_HASHES)) - true_j), 6
            ).alias("err"),
            dround(true_j, 6).alias("true_j"),
        )
    )
    return (
        scored.groupBy("matches")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            # half-up 1e-6 grid (not F.round): boundary-safe cross-
            # engine, same double ops on both sides
            (
                F.floor(
                    F.sum(F.col("true_j").cast("decimal(18,6)"))
                    .cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("avg_true_jaccard"),
            (
                F.floor(
                    F.sum(F.col("err").cast("decimal(18,6)"))
                    .cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_abs_err"),
            F.max("err").alias("max_abs_err"),
        )
        .orderBy("matches")
    )


# ---------------------------------------------------------------------------
# q509 intra-document repetition (boilerplate) audit

REP_MIN = 8  # minimum internal repeat length worth counting
REP_BOILER = 20  # docs whose longest internal repeat reaches this
# are flagged as boilerplate-heavy


@register(
    "q509_intradoc_repetition",
    category="llm-text-analysis",
    oracle=f"""
    WITH suf AS (
      SELECT d.doc_id, d.source, r.i AS pos,
             SUBSTRING(d.text, CAST(r.i AS INTEGER), {SUF_K}) AS s
      FROM documents d,
           UNNEST(range(1, GREATEST(LENGTH(d.text) - {REP_MIN - 1}, 0) + 1))
             r(i)
    ),
    adj AS (
      SELECT doc_id, source, s, LENGTH(s) AS ln,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY s, pos) AS ps
      FROM suf
    ),
    cand AS (
      SELECT doc_id, source, s, ps, LEAST(ln, LENGTH(ps)) AS cap
      FROM adj
      WHERE ps IS NOT NULL
        AND SUBSTRING(s, 1, {REP_MIN}) = SUBSTRING(ps, 1, {REP_MIN})
    ),
    lcp AS (
      SELECT doc_id, source,
             LEAST(MAX(k.k), cap) AS rep_len
      FROM cand,
           UNNEST(range({REP_MIN}, {SUF_K} + 1)) k(k)
      WHERE SUBSTRING(s, 1, CAST(k.k AS INTEGER))
              = SUBSTRING(ps, 1, CAST(k.k AS INTEGER))
      GROUP BY doc_id, source, s, ps, cap
    ),
    per_doc AS (
      SELECT d.doc_id, d.source,
             COALESCE(MAX(l.rep_len), 0) AS max_rep,
             CAST(COUNT(l.rep_len) AS BIGINT) AS n_repeats
      FROM documents d LEFT JOIN lcp l ON l.doc_id = d.doc_id
      GROUP BY d.doc_id, d.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN max_rep >= {REP_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_repeats,
           CAST(SUM(CASE WHEN max_rep >= {REP_BOILER} THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_boilerplate,
           CAST(MAX(max_rep) AS BIGINT) AS longest_repeat,
           CAST(SUM(n_repeats) AS BIGINT) AS total_repeat_anchors,
           (FLOOR(CAST(SUM(CASE WHEN max_rep >= {REP_BOILER} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS boilerplate_share
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def q509_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition audit: the longest substring a
    document repeats WITHIN itself (adjacent-suffix LCP with both
    suffixes from the same doc — the single-doc slice of the q504
    construction) — the boilerplate/template signal quality filters
    use that neither cross-doc dedup (q504) nor char-stat scoring
    (q80) captures: a doc that repeats a {REP_BOILER}+ char block is
    navigation chrome, a log loop, or generated filler.

    Engine parity: suffixes sort PER DOCUMENT (no bucket needed —
    the partition is the doc), candidates prefilter on {REP_MIN}-char
    prefix equality before the LCP explode, LCP is the monotone
    prefix-equality MAX capped by both truncated lengths; docs with
    no repeats enter via the left join with max_rep 0.

    Scale: the suffix window partitions per doc (bounded by document
    length, never corpus-bound); the LCP explode applies only to
    prefix-matching adjacent rows; the report is source-grain.
    """
    suf = (
        fan_out(
            t(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .filter(F.length("text") >= REP_MIN)
        )
        .select(
            "doc_id",
            "source",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(length(text) - "
                    f"{REP_MIN - 1}, 0)), i -> substring(text, i, {SUF_K}))"
                )
            ).alias("pos0", "s"),
        )
        .select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "s")
    )
    w = Window.partitionBy("doc_id").orderBy("s", "pos")
    cand = (
        suf.select(
            "doc_id",
            "source",
            "s",
            F.length("s").alias("ln"),
            F.lag("s").over(w).alias("ps"),
            "pos",
        )
        .filter(
            F.col("ps").isNotNull()
            & (
                F.substring("s", 1, REP_MIN)
                == F.substring("ps", 1, REP_MIN)
            )
        )
        .select(
            "doc_id",
            "source",
            "s",
            "ps",
            F.least(F.col("ln"), F.length("ps")).alias("cap"),
        )
    )
    lcp = (
        cand.select(
            "doc_id",
            "source",
            "s",
            "ps",
            "cap",
            F.explode(F.sequence(F.lit(REP_MIN), F.lit(SUF_K))).alias("k"),
        )
        .filter(
            F.expr("substring(s, 1, k)") == F.expr("substring(ps, 1, k)")
        )
        .groupBy("doc_id", "source", "s", "ps", "cap")
        .agg(F.least(F.max("k"), F.first("cap")).alias("rep_len"))
    )
    per_doc = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .join(lcp.select("doc_id", "rep_len"), "doc_id", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.coalesce(F.max("rep_len"), F.lit(0)).alias("max_rep"),
            F.count("rep_len").cast("bigint").alias("n_repeats"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(F.when(F.col("max_rep") >= REP_MIN, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_repeats"),
            F.sum(F.when(F.col("max_rep") >= REP_BOILER, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_boilerplate"),
            F.max("max_rep").cast("bigint").alias("longest_repeat"),
            F.sum("n_repeats").cast("bigint").alias("total_repeat_anchors"),
            dround(
                F.sum(
                    F.when(F.col("max_rep") >= REP_BOILER, 1).otherwise(0)
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("boilerplate_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q510 compaction (small-file bin-packing) advisor

CPT_TARGET = 200  # target rows per compacted file (a stand-in for
# the 128 MB object-store target; rows are the deterministic proxy)
CPT_SMALL = 50  # "small file" threshold for the before-picture


@register(
    "q510_compaction_advisor",
    category="mixed-extensions",
    oracle=f"""
    WITH files AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
             o_orderdate AS dt, COUNT(*) AS sz
      FROM orders GROUP BY 1, 2
    ),
    packed AS (
      SELECT yr, dt, sz,
             CAST(FLOOR(
               (SUM(sz) OVER (PARTITION BY yr ORDER BY dt
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) * 1.0) / {CPT_TARGET}
             ) AS BIGINT) AS bin
      FROM files
    ),
    bins AS (
      SELECT yr, COALESCE(bin, 0) AS bin, SUM(sz) AS bin_rows,
             COUNT(*) AS files_in
      FROM packed GROUP BY yr, COALESCE(bin, 0)
    )
    SELECT f.yr,
           CAST(COUNT(DISTINCT f.dt) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN f.sz < {CPT_SMALL} THEN 1 ELSE 0 END)
                AS BIGINT) AS small_files,
           CAST(b.n_bins AS BIGINT) AS n_bins,
           CAST(b.max_bin_rows AS BIGINT) AS max_bin_rows,
           (FLOOR(CAST(SUM(f.sz) * 1.0 / (b.n_bins * {CPT_TARGET}) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS avg_fill,
           (FLOOR(CAST(1.0 - b.n_bins * 1.0 / COUNT(DISTINCT f.dt) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
             AS file_reduction
    FROM files f
    JOIN (
      SELECT yr, COUNT(*) AS n_bins, MAX(bin_rows) AS max_bin_rows
      FROM bins GROUP BY yr
    ) b ON b.yr = f.yr
    GROUP BY f.yr, b.n_bins, b.max_bin_rows
    ORDER BY f.yr
    """,
)
def q510_compaction_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction advisor: treat each (day) of orders as
    one data file, pack consecutive days into target-size bins with
    PREFIX packing (bin = floor(running_rows_before / target) — the
    q126 sequence-packing rule at file grain, so the plan is
    order-deterministic, not first-fit-decreasing), and report per
    year the before/after file counts, fill factor, and the
    small-file share the compaction retires. This is the maintenance
    pass every table-format deployment schedules (the write-side
    sibling of q484 zone maps / q492 partition pruning / q496
    MoR-vs-CoW).

    Scale: files are DAY-grain (a calendar dimension, not
    corpus-bound); the running sum partitions per YEAR (<= 366 rows
    per partition); everything else is year-grain.
    """
    files = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.col("o_orderdate").alias("dt"),
        )
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    wcum = (
        Window.partitionBy("yr")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("sz").over(wcum), F.lit(0))
            * F.lit(1.0)
            / CPT_TARGET
        ).cast("bigint"),
    )
    bins = packed.groupBy("yr", "bin").agg(
        F.sum("sz").alias("bin_rows"), F.count(F.lit(1)).alias("files_in")
    )
    per_year_bins = bins.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.max("bin_rows").alias("max_bin_rows"),
    )
    return (
        files.join(per_year_bins, "yr")
        .groupBy("yr", "n_bins", "max_bin_rows")
        .agg(
            F.countDistinct("dt").cast("bigint").alias("n_files"),
            F.sum(F.when(F.col("sz") < CPT_SMALL, 1).otherwise(0))
            .cast("bigint")
            .alias("small_files"),
            dround(
                F.sum("sz") * F.lit(1.0) / (F.col("n_bins") * CPT_TARGET), 6
            ).alias("avg_fill"),
            dround(
                F.lit(1.0)
                - F.col("n_bins") * F.lit(1.0) / F.countDistinct("dt"),
                6,
            ).alias("file_reduction"),
        )
        .select(
            "yr",
            "n_files",
            "small_files",
            F.col("n_bins").cast("bigint").alias("n_bins"),
            F.col("max_bin_rows").cast("bigint").alias("max_bin_rows"),
            "avg_fill",
            "file_reduction",
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# q511 Heaps-law vocabulary growth fit

HEAPS_CKPTS = 10


@register(
    "q511_heaps_law_fit",
    category="llm-text-analysis",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ),
    wn AS (SELECT doc_id, word FROM words WHERE word <> ''),
    firsts AS (
      SELECT word, MIN(doc_id) AS first_doc FROM wn GROUP BY word
    ),
    toks AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM wn GROUP BY doc_id
    ),
    bounds AS (
      SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ),
    ckpts AS (
      SELECT i.i AS ck,
             b.lo + CAST(FLOOR((b.hi - b.lo) * i.i * 1.0
                               / {HEAPS_CKPTS}) AS BIGINT) AS cut
      FROM bounds b, UNNEST(range(1, {HEAPS_CKPTS} + 1)) i(i)
    ),
    growth AS (
      SELECT c.ck,
             (SELECT COALESCE(SUM(t.n_tok), 0) FROM toks t
              WHERE t.doc_id <= c.cut) AS n_tokens,
             (SELECT COUNT(*) FROM firsts f
              WHERE f.first_doc <= c.cut) AS vocab
      FROM ckpts c
    ),
    pts AS (
      SELECT ck,
             -- DECIMAL(12,9), not wider: the OLS moments multiply two
             -- of these, and (28,9)x(28,9) = 57 digits overflows the
             -- 38-digit cap where Spark silently TRUNCATES scale;
             -- (12,9)x(12,9) = (25,18) stays exact in both engines
             CAST((FLOOR(CAST(LN(CAST(n_tokens AS DOUBLE)) AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0)
                  AS DECIMAL(12,9)) AS x,
             CAST((FLOOR(CAST(LN(CAST(vocab AS DOUBLE)) AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0)
                  AS DECIMAL(12,9)) AS y
      FROM growth WHERE n_tokens > 0 AND vocab > 0
    ),
    fit AS (
      SELECT COUNT(*) AS m,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx,
             MIN(x) AS x_lo, MAX(x) AS x_hi
      FROM pts
    )
    SELECT CAST(f.m AS BIGINT) AS n_points,
           CAST(g.n_tokens AS BIGINT) AS tokens_final,
           CAST(g.vocab AS BIGINT) AS vocab_final,
           (FLOOR(CAST((CAST(f.m AS DOUBLE) * CAST(f.sxy AS DOUBLE)
                  - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
                 / CASE WHEN f.x_lo < f.x_hi THEN
                   NULLIF(CAST(f.m AS DOUBLE) * CAST(f.sxx AS DOUBLE)
                          - CAST(f.sx AS DOUBLE)
                            * CAST(f.sx AS DOUBLE), 0) END AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS heaps_beta,
           (FLOOR(CAST(EXP(CAST(f.sy AS DOUBLE) / f.m
                     - ((CAST(f.m AS DOUBLE) * CAST(f.sxy AS DOUBLE)
                         - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
                        / CASE WHEN f.x_lo < f.x_hi THEN
                          NULLIF(CAST(f.m AS DOUBLE)
                                 * CAST(f.sxx AS DOUBLE)
                                 - CAST(f.sx AS DOUBLE)
                                   * CAST(f.sx AS DOUBLE), 0) END)
                       * CAST(f.sx AS DOUBLE) / f.m) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS heaps_k
    FROM fit f,
         (SELECT n_tokens, vocab FROM growth
          WHERE ck = {HEAPS_CKPTS}) g
    """,
)
def q511_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth fit V(N) = K·N^beta: distinct
    vocabulary vs cumulative token count at {HEAPS_CKPTS} corpus
    prefixes, log-log OLS for (K, beta) — the growth-curve audit
    behind tokenizer vocab-size budgets (q503 measures where today's
    mass sits; this predicts how the vocabulary GROWS as the corpus
    scales, which is the 100 TB question).

    Engine parity: prefixes cut on doc_id VALUE deciles (min/max
    bounds — no corpus-grain rank); each word enters the growth curve
    at MIN(doc_id); ln() values are gridded to 1e-9 and summed as
    DECIMAL(28,9) so the 10-point OLS moments are order-free; the
    slope/intercept divisions are the only ungridded doubles,
    identical operands both engines, ROUND-6 out. Degenerate corpora
    (every point on one x, e.g. a single doc) NULL the slope and K
    identically: zero variance is decided exactly on the DECIMAL grid
    (MIN(x) = MAX(x)) before any DOUBLE arithmetic, whose rounding
    residue can leave a nonzero denominator on one engine only.

    Scale: one word-grain MIN aggregate + one doc-grain token count;
    each doc/word lands in its checkpoint BUCKET (no per-checkpoint
    rescan — bucket then 10-row cumulative), all downstream work is
    on {HEAPS_CKPTS} rows.
    """
    wn = (
        fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    firsts = wn.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    toks = wn.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    bounds = t(spark, sf_dir, "documents").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    ckpts = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(HEAPS_CKPTS))).alias("ck"),
        "lo",
        "hi",
    ).select(
        "ck",
        (
            F.col("lo")
            + F.floor(
                (F.col("hi") - F.col("lo"))
                * F.col("ck")
                * F.lit(1.0)
                / HEAPS_CKPTS
            ).cast("bigint")
        ).alias("cut"),
    )
    # bucket each doc/word into its FIRST covering checkpoint, then a
    # 10-row cumulative gives every prefix total without rescans
    ck_b = F.broadcast(ckpts)
    tok_by_ck = (
        toks.join(ck_b, toks.doc_id <= ck_b.cut)
        .groupBy("doc_id", "n_tok")
        .agg(F.min("ck").alias("ck"))
        .groupBy("ck")
        .agg(F.sum("n_tok").alias("tok_in"))
    )
    voc_by_ck = (
        firsts.join(ck_b, firsts.first_doc <= ck_b.cut)
        .groupBy("word")
        .agg(F.min("ck").alias("ck"))
        .groupBy("ck")
        .agg(F.count(F.lit(1)).alias("voc_in"))
    )
    wc = Window.orderBy("ck").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    growth = (
        ckpts.join(tok_by_ck, "ck", "left")
        .join(voc_by_ck, "ck", "left")
        .select(
            "ck",
            F.sum(F.coalesce("tok_in", F.lit(0)))
            .over(wc)
            .alias("n_tokens"),
            F.sum(F.coalesce("voc_in", F.lit(0))).over(wc).alias("vocab"),
        )
    )
    pts = growth.filter(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    ).select(
        "ck",
        # decimal(12,9): products must stay under the 38-digit cap
        # (Spark silently truncates scale past it — see oracle note)
        dround(F.log(F.col("n_tokens").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("x"),
        dround(F.log(F.col("vocab").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("y"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min("x").alias("x_lo"),
        F.max("x").alias("x_hi"),
    )
    final = growth.filter(F.col("ck") == HEAPS_CKPTS).select(
        F.col("n_tokens").alias("tokens_final"),
        F.col("vocab").alias("vocab_final"),
    )
    md = F.col("m").cast("double")
    beta = (
        md * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.when(
        F.col("x_lo") < F.col("x_hi"),
        F.nullif(
            md * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double"),
            F.lit(0.0),
        ),
    )
    return fit.crossJoin(F.broadcast(final)).select(
        F.col("m").cast("bigint").alias("n_points"),
        F.col("tokens_final").cast("bigint").alias("tokens_final"),
        F.col("vocab_final").cast("bigint").alias("vocab_final"),
        dround(beta, 6).alias("heaps_beta"),
        dround(
            F.exp(
                F.col("sy").cast("double") / F.col("m")
                - beta * F.col("sx").cast("double") / F.col("m")
            ),
            6,
        ).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# q512 hash-partition skew advisor

SKEW_NS = (32, 256)  # candidate shuffle widths to audit


def _skew_bucket_sql(n: int) -> str:
    return (
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7)) "
        f"AS BIGINT) % {n}"
    )


@register(
    "q512_partition_skew_advisor",
    category="mixed-extensions",
    oracle=f"""
    WITH keyed AS (
      SELECT user_id, COUNT(*) AS rows_ FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(rows_) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(rows_) AS BIGINT) AS hot_key_rows
      FROM keyed
    ),
    per_n AS (
      {" UNION ALL ".join(
        f'''SELECT {n} AS n_parts, {_skew_bucket_sql(n)} AS bucket,
               SUM(rows_) AS b_rows
        FROM keyed GROUP BY 1, 2'''
        for n in SKEW_NS
      )}
    ),
    ranked AS (
      SELECT n_parts, bucket, b_rows,
             ROW_NUMBER() OVER (PARTITION BY n_parts
                                ORDER BY b_rows ASC, bucket ASC) AS rk,
             COUNT(*) OVER (PARTITION BY n_parts) AS n_used
      FROM per_n
    )
    SELECT r.n_parts,
           CAST(r.n_used AS BIGINT) AS buckets_used,
           CAST(MAX(r.b_rows) AS BIGINT) AS max_bucket_rows,
           (FLOOR(CAST(MAX(r.b_rows) * 1.0
                 / (t.n_rows * 1.0 / r.n_parts) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS max_skew,
           CAST(MAX(CASE WHEN r.rk * 100 <= r.n_used * 99
                         THEN r.b_rows END) AS BIGINT) AS p99_bucket_rows,
           (FLOOR(CAST(t.hot_key_rows * 1.0 / t.n_rows AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS hot_key_share
    FROM ranked r CROSS JOIN tot t
    GROUP BY r.n_parts, r.n_used, t.n_rows, t.hot_key_rows
    ORDER BY r.n_parts
    """,
)
def q512_partition_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-width skew advisor: hash the event key space (user_id)
    into each candidate partition count and report the max-over-mean
    skew, the p99 bucket, and the irreducible hot-key share — the
    numbers that decide whether a stage needs more partitions, AQE
    skew-join, or salting (and that q18's salted agg / q281's salt
    balance ASSUME someone measured). Portable md5 bucketing, not
    engine hash, so the oracle certifies the exact histogram.

    Scale: one key-grain count (the natural pre-aggregation), then
    {len(SKEW_NS)} bucket-grain histograms of <= max(SKEW_NS) rows
    each; the rank window partitions per candidate width over those
    bounded histograms.
    """
    keyed = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("rows_"))
    )
    tot = keyed.agg(
        F.sum("rows_").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("rows_").cast("bigint").alias("hot_key_rows"),
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10
    ).cast("bigint")
    per_n = None
    for n in SKEW_NS:
        part = keyed.select(
            F.lit(n).alias("n_parts"),
            (h % n).alias("bucket"),
            F.col("rows_"),
        ).groupBy("n_parts", "bucket").agg(F.sum("rows_").alias("b_rows"))
        per_n = part if per_n is None else per_n.unionAll(part)
    wrk = Window.partitionBy("n_parts").orderBy(
        F.col("b_rows").asc(), F.col("bucket").asc()
    )
    wcnt = Window.partitionBy("n_parts")
    ranked = per_n.select(
        "n_parts",
        "b_rows",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wcnt).alias("n_used"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n_parts", "n_used", "n_rows", "hot_key_rows")
        .agg(
            F.max("b_rows").cast("bigint").alias("max_bucket_rows"),
            F.max(
                F.when(
                    F.col("rk") * 100 <= F.col("n_used") * 99,
                    F.col("b_rows"),
                )
            )
            .cast("bigint")
            .alias("p99_bucket_rows"),
        )
        .select(
            "n_parts",
            F.col("n_used").cast("bigint").alias("buckets_used"),
            "max_bucket_rows",
            dround(
                F.col("max_bucket_rows")
                * F.lit(1.0)
                / (F.col("n_rows") * F.lit(1.0) / F.col("n_parts")),
                6,
            ).alias("max_skew"),
            "p99_bucket_rows",
            dround(
                F.col("hot_key_rows") * F.lit(1.0) / F.col("n_rows"), 6
            ).alias("hot_key_share"),
        )
        .orderBy("n_parts")
    )
