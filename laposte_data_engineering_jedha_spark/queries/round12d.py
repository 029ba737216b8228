"""Round-12 session batch 4 — join planning inputs + referential audits
+ deterministic sampling, all integer-exact across engines:

- dq_order_total_drift: does o_totalprice still equal the sum of its
  line items' charges? The classic cross-table consistency audit, in
  exact cents: per-order drift = |sum(round(extprice*(1-disc)*(1+tax),
  2) in cents) - total cents|, reported as drifting-order count plus
  exact drift magnitude buckets (powers of 10 by integer width).
- olap_join_skew_report: per-key frequency skew of the orders->customer
  join key — the number AQE's skew-join and manual salting decisions
  are made from. Top heavy keys by exact count with the max/mean skew
  ratio carried as one rounded division.
- corpus_fixed_n_hash_sample: EXACTLY-N deterministic corpus sample by
  md5 rank (rate-based hash sampling — corpus_hash_sample — returns a
  binomially-varying count; audits and eval panels need exactly N).
  Rank over (md5(doc_id), doc_id) via the gated offsets machinery, so
  the sample is stable under any partitioning and the plan never sorts
  a single partition at scale.
- embedding_cosine_histogram: the corpus's pairwise-cosine geometry
  profile over a deterministic per-vector md5-bucket pair sample whose
  rate is COUNT-DERIVED in both engines (r12 verdict item 3:
  rate = max(64, n^2 // 3906), keeping sampled pair mass fixed at ~2k
  pairs so total work is O(scan) at any corpus size; bucket ids by
  truncating integer division on 1e-6-rounded cosines,
  bit-deterministic).

Reference parity note: extension surface (the reference has no join
planner inputs, sampling, or embedding ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors
from ..operators import ranking
from . import query, sort_report, table, table_rowcount
from .llmops import SQL_NORM, sql_dot, sql_round

# ========================== order total drift =================================


@query(
    "dq_order_total_drift",
    """
WITH li AS (
  SELECT l_orderkey AS k,
         CAST(sum(CAST(round(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) * 100)
                       AS BIGINT)) AS BIGINT) AS line_cents
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT o_orderkey,
         abs(CAST(round(o_totalprice * 100) AS BIGINT) - line_cents) AS drift
  FROM orders JOIN li ON o_orderkey = li.k)
SELECT CAST(count(*) AS BIGINT) AS n_orders_joined,
       CAST(sum(CASE WHEN drift = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN drift BETWEEN 1 AND 99 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_drift_under_1,
       CAST(sum(CASE WHEN drift >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_drift_1_or_more,
       CAST(max(drift) AS BIGINT) AS max_drift_cents
FROM j
""",
)
def dq_order_total_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential consistency: o_totalprice vs the exact
    cents sum of its lines' charges (extprice * (1-disc) * (1+tax),
    rounded to 2dp per line — the TPC-H charge formula). The fixture
    generator draws totals and lines independently, so the drift is
    LARGE by construction; the query's value is the audit shape: one
    keyed aggregate at order grain + one key join, drift carried as an
    exact BIGINT everywhere (the per-line 2dp round happens before the
    cents conversion, so both engines sum identical integers), bucketed
    by magnitude for the report. At 100 TB this is the nightly
    invariant job between a fact table and its rollup."""
    li = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            F.sum(
                F.round(
                    F.round(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax")),
                        2,
                    )
                    * 100
                ).cast("long")
            )
            .cast("long")
            .alias("line_cents")
        )
    )
    j = (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
        )
        .join(li, F.col("o_orderkey") == F.col("k"))
        .select(F.abs(F.col("total_cents") - F.col("line_cents")).alias("drift"))
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_joined"),
        F.sum(F.when(F.col("drift") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when((F.col("drift") >= 1) & (F.col("drift") <= 99), 1).otherwise(0))
        .cast("long")
        .alias("n_drift_under_1"),
        F.sum(F.when(F.col("drift") >= 100, 1).otherwise(0))
        .cast("long")
        .alias("n_drift_1_or_more"),
        F.max("drift").cast("long").alias("max_drift_cents"),
    )


# ============================ join skew report ================================

_SKEW_TOPK = 10


@query(
    "olap_join_skew_report",
    f"""
WITH oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(max(n) AS BIGINT) AS max_n
        FROM oc),
top AS (SELECT k, n, row_number() OVER (ORDER BY n DESC, k) AS r FROM oc)
SELECT k AS custkey, n AS n_orders, CAST(r AS BIGINT) AS heavy_rank,
       n_keys, n_rows,
       {sql_round("max_n * 1.0 * n_keys / n_rows", 6)} AS skew_ratio
FROM top CROSS JOIN tot
WHERE r <= {_SKEW_TOPK}
ORDER BY heavy_rank
""",
)
def olap_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey — the input to every
    skew mitigation decision (AQE skew-join thresholds, salting factor,
    broadcast cutoffs): the {_SKEW_TOPK} heaviest keys by exact count
    plus the max/mean skew ratio (max_n * n_keys / n_rows — 1.0 means
    perfectly uniform). One key-grain aggregate (map-side partials), a
    top-k TakeOrderedAndProject with (count desc, key) ties, one
    broadcast totals row; nothing scales worse than the key
    cardinality."""
    oc = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = oc.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
    )
    top = oc.orderBy(F.col("n").desc(), "k").limit(_SKEW_TOPK)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), "k")
    return (
        top.withColumn("heavy_rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("custkey"),
            F.col("n").alias("n_orders"),
            "heavy_rank",
            "n_keys",
            "n_rows",
            (
                F.round(
                    F.col("max_n") * 1.0 * F.col("n_keys") / F.col("n_rows") * 1e6
                )
                / 1e6
            ).alias("skew_ratio"),
        )
        .orderBy("heavy_rank")
    )


# ======================== exactly-N hash sample ===============================

_FIX_N = 64


@query(
    "corpus_fixed_n_hash_sample",
    f"""
WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hv FROM documents),
r AS (SELECT doc_id, hv, row_number() OVER (ORDER BY hv, doc_id) AS rk FROM h)
SELECT doc_id, CAST(rk AS BIGINT) AS sample_rank
FROM r WHERE rk <= {_FIX_N}
ORDER BY sample_rank
""",
)
def corpus_fixed_n_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-{_FIX_N} deterministic document sample: rank by
    (md5(doc_id), doc_id) and keep the first {_FIX_N} — the fixed-size
    eval-panel / audit-sample primitive (rate-based corpus_hash_sample
    gives a binomially-varying count; a human-review queue or a paired
    A/B eval needs exactly N, stable across runs and partitionings).
    The global rank comes from the gated offsets machinery
    (operators/ranking.py): a plain bounded window at fixture scale, a
    range-bucket + per-bucket-offset plan above the stats gate
    — never a naked single-partition sort over the corpus. The md5 key
    makes the sample uniform and immune to doc_id assignment order."""
    h = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hv")
    )
    ranked, _n = ranking.global_ranks(h, "hv", "doc_id", rank_col="rk")
    return (
        ranked.where(F.col("rk") <= _FIX_N)
        .select("doc_id", F.col("rk").cast("long").alias("sample_rank"))
        .orderBy("sample_rank")
    )


# ======================= pairwise cosine histogram ============================

# rate(n) = max(64, n^2 // 3906): the divisor is 500^2/64 rounded down, so
# at the 500-vector oracle fixtures the rate is exactly the original
# constant 64 (recorded hash rows unchanged) and ABOVE them the rate
# scales with n^2 — sampled pair mass stays fixed at ~n^2/(2*rate) ≈ 2k
# pairs, making total work O(scan) + O(const) instead of quadratic
# (r12 verdict item 3: with a constant rate, per-bucket work is n_b^2 so
# total mass grew ~n^2/64). The formula is computed from count(*) in
# BOTH engines — the auto_band_planes pattern — so they can never
# disagree about the bucket space.
_CH_RATE_FLOOR = 64
_CH_RATE_DIV = 3906  # == floor(500^2 / 64): rate(500) = 64 exactly

_CH_SQL_RATE = (
    f"SELECT GREATEST({_CH_RATE_FLOOR}, "
    f"(count(*) * count(*)) // {_CH_RATE_DIV}) AS rate FROM embeddings"
)

# per-VECTOR 52-bit md5 bucket in [0, rate): two independent ids land
# in the same bucket with probability exactly 1/rate, so the
# same-bucket pair sample is uniform over pairs — and it joins as an
# EQUI-join. (The first form gated on a hash of the ID PAIR, which needs
# an a.id < b.id theta-join: a nested-loop cartesian evaluating n^2/2
# md5s regardless of output size — the r12 sf1 sweep caught it at the
# 300 s watchdog on 20k vectors.)
_CH_SQL_BUCKET = (
    "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '_chb'), 1, 13) "
    "AS BIGINT) % rate"
)


@query(
    "embedding_cosine_histogram",
    f"""
WITH rt AS ({_CH_SQL_RATE}),
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm,
                  {_CH_SQL_BUCKET} AS bk
           FROM embeddings CROSS JOIN rt WHERE {SQL_NORM} > 0),
p AS (
  SELECT {sql_round(f"{sql_dot('a.e', 'b.e')} / (a.nrm * b.nrm)", 6)} AS cosine
  FROM n a JOIN n b ON a.bk = b.bk AND a.vec_id < b.vec_id)
SELECT CAST(CAST(round(cosine * 1000000) AS BIGINT) // 100000 AS BIGINT)
         AS cos_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1 ORDER BY cos_bucket
""",
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine geometry histogram over a deterministic sampled
    slice of the pair space — the corpus-geometry profile that
    calibrates LSH plane counts and dedup thresholds (mass near 1.0 =
    duplicate-rich corpus; tight mass near 0 = near-orthogonal random
    cloud). Sampling is per-vector md5 BUCKETS joined as an equi-join:
    any two distinct ids share a bucket with probability exactly
    1/rate, so every pair has uniform inclusion probability, and the
    join is a hash join whose work is output-proportional (per-bucket
    n_b^2), not an n^2 theta-join — the plan the sf1 sweep's watchdog
    rejected. The rate is COUNT-DERIVED on both sides (r12 verdict
    item 3): rate = max(64, n^2 // 3906) keeps sampled pair mass fixed
    (~2k pairs) at any corpus size, so total work is the O(n) scan plus
    a constant-size join — and at the 500-vector oracle fixtures the
    formula lands exactly on the original constant 64, leaving the
    recorded hash rows unchanged. Buckets truncate the 1e-6-rounded
    cosine at 0.1 grain (`div` and `//` both truncate toward zero —
    identical on negatives)."""
    emb = table(spark, sf_dir, "embeddings")
    n_total = table_rowcount(spark, sf_dir, "embeddings")
    rate = max(_CH_RATE_FLOOR, (n_total * n_total) // _CH_RATE_DIV)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("_chb"))), 1, 13
            ),
            16,
            10,
        ).cast("long")
        % rate
    )
    n = (
        emb.select(
            "vec_id",
            "embedding",
            vectors.pd_norm("embedding").alias("nrm"),
            bucket.alias("bk"),
        )
        .where(F.col("nrm") > 0)
    )
    a = n.select(
        F.col("bk"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("bk").alias("bkb"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    cos = vectors.pd_dot("ea", "eb") / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, (F.col("bk") == F.col("bkb")) & (F.col("id_a") < F.col("id_b")))
        .select((F.round(cos * 1e6) / 1e6).alias("cosine"))
    )
    return (
        pairs.select(
            F.expr("CAST(round(cosine * 1000000) AS BIGINT) div 100000")
            .cast("long")
            .alias("cos_bucket")
        )
        .groupBy("cos_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .transform(sort_report, "cos_bucket")
    )
