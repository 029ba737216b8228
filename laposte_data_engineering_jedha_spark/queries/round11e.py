"""Round-11 session batch 5 — cluster-quality eval:

- eval_cluster_silhouette: sampled silhouette coefficient of the pinned
  16-centroid IVF clustering, with every pairwise distance computed on a
  COMMON int8 grid so the distance sums are integer-valued doubles —
  exact at any aggregation order (every partial sum stays an integer
  < 2^53, so IEEE addition is associative here) — and the only true
  float ops are the final per-cluster mean divisions and the silhouette
  ratio, each exactly-rounded on identical inputs in both engines. The
  sampled shape (silhouette for a pinned probe set against the full
  corpus) is also the only shape that exists at 100 TB: full silhouette
  is O(n^2) by definition; per-probe cost here is one broadcast of the
  probes and a single corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors
from ..operators import similarity as sim
from . import query, table
from .llmops import sql_dot, sql_round
from .round5 import _EMB_DIM, _IVF_SQL

_SIL_K = 16  # pinned IVF centroids (round5 codebook)
_SIL_PROBES = 32  # sampled points: vec_id < _SIL_PROBES

# int8 grid: q_d = clamp(floor(x_d * 127 + 0.5), +-127), emitted as DOUBLE
# so the exact-integer-in-double arithmetic is explicit in both engines
_SQL_Q = (
    "[CAST(greatest(-127, least(127, floor(CAST(x AS DOUBLE) * 127"
    " + CAST(0.5 AS DOUBLE)))) AS DOUBLE) for x in embedding]"
)


@query(
    "eval_cluster_silhouette",
    f"""
WITH assign AS (SELECT vec_id, centroid FROM ({_IVF_SQL})),
q AS (SELECT vec_id, {_SQL_Q} AS qe FROM embeddings),
n2 AS (SELECT vec_id, qe, {sql_dot("qe", "qe", _EMB_DIM)} AS sq FROM q),
c AS (SELECT n2.vec_id AS c_id, qe AS c_q, sq AS c_n2, centroid AS c_c
      FROM n2 JOIN assign ON n2.vec_id = assign.vec_id),
s AS (SELECT c_id AS s_id, c_q AS s_q, c_n2 AS s_n2, c_c AS s_c
      FROM c WHERE c_id < {_SIL_PROBES}),
pairs AS (
  SELECT s_id, s_c, c_c,
         s_n2 + c_n2 - 2 * {sql_dot("s_q", "c_q", _EMB_DIM)} AS d2
  FROM c CROSS JOIN s WHERE c_id <> s_id),
g AS (SELECT s_id, s_c, c_c, sum(d2) AS sd, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY s_id, s_c, c_c),
own AS (SELECT s_id, sd / n AS a_val, n AS n_own FROM g WHERE c_c = s_c),
oth AS (SELECT s_id, min(sd / n) AS b_val FROM g WHERE c_c <> s_c
        GROUP BY s_id)
SELECT s.s_id AS vec_id, s.s_c AS centroid,
       CAST(COALESCE(own.n_own, 0) AS BIGINT) AS n_own,
       {sql_round("own.a_val", 6)} AS a_mean_d2,
       {sql_round("oth.b_val", 6)} AS b_mean_d2,
       {sql_round(
           "(oth.b_val - own.a_val)"
           " / NULLIF(greatest(own.a_val, oth.b_val), 0)", 6
       )} AS silhouette
FROM s LEFT JOIN own ON s.s_id = own.s_id
       LEFT JOIN oth ON s.s_id = oth.s_id
ORDER BY vec_id
""",
)
def eval_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette coefficient s(i) = (b-a)/max(a,b) for the pinned probe
    set (vec_id < {_SIL_PROBES}) under the pinned {_SIL_K}-centroid IVF
    assignment (round5.ivf_assign_pinned's argmin), with distances as
    squared L2 on the COMMON int8 grid q = clamp(floor(x*127+0.5)):
    d2 = |qa|^2 + |qb|^2 - 2 qa.qb, all integer-valued — products
    <= 127^2, per-pair sums <= ~1M, per-cluster sums far below 2^53 —
    so the Arrow dot kernel and the per-cluster SUM are EXACT and
    order-free, and the two engines agree bit-for-bit before the final
    divisions. a = mean d2 to own-cluster members (NULL when the probe
    is its cluster's only member), b = min over other clusters of the
    mean d2. Plan shape: probes broadcast against one corpus scan
    (O(n) per probe set, the only silhouette anyone computes at
    100 TB), one (probe, cluster)-grain aggregate, two tiny joins."""
    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(1, _SIL_K, _EMB_DIM)[0]
    assign = emb.select(
        "vec_id", vectors.pd_fold_assign_d2("embedding", books).alias("a")
    ).select("vec_id", F.col("a.centroid").alias("centroid"))
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.lit(-127.0),
                F.least(
                    F.lit(127.0),
                    F.floor(x.cast("double") * 127 + F.lit(0.5)).cast("double"),
                ),
            ),
        ).alias("qe"),
    )
    n2 = q.withColumn("sq", vectors.pd_dot("qe", "qe"))
    from ..operators import caches

    # c is consumed by the probe slice AND the corpus side of the pair
    # cross-join, and PythonUDF subtrees never canonicalize equal — without
    # the persist the assign-kernel + quantize + norm chain runs twice
    # (r13 optimization). Gate on the INPUT scan's estimate, not c's own:
    # join-selectivity guesses inflate the post-join estimate ~1000x (the
    # ppjoin_pairs finding), while c's true size is O(corpus) — so the
    # input estimate is the honest proxy and a 100 TB corpus still takes
    # the recompute plan.
    c = n2.join(assign, "vec_id").select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_q"),
        F.col("sq").alias("c_n2"),
        F.col("centroid").alias("c_c"),
    )
    c = caches.persist_if_small(c, emb)
    s = (
        c.where(F.col("c_id") < _SIL_PROBES)
        .select(
            F.col("c_id").alias("s_id"),
            F.col("c_q").alias("s_q"),
            F.col("c_n2").alias("s_n2"),
            F.col("c_c").alias("s_c"),
        )
    )
    pairs = (
        c.crossJoin(F.broadcast(s))
        .where(F.col("c_id") != F.col("s_id"))
        .select(
            "s_id",
            "s_c",
            "c_c",
            (
                F.col("s_n2")
                + F.col("c_n2")
                - 2 * vectors.pd_dot("s_q", "c_q")
            ).alias("d2"),
        )
    )
    g = pairs.groupBy("s_id", "s_c", "c_c").agg(
        F.sum("d2").alias("sd"), F.count(F.lit(1)).cast("long").alias("n")
    )
    own = g.where(F.col("c_c") == F.col("s_c")).select(
        "s_id", (F.col("sd") / F.col("n")).alias("a_val"), F.col("n").alias("n_own")
    )
    oth = (
        g.where(F.col("c_c") != F.col("s_c"))
        .groupBy("s_id")
        .agg(F.min(F.col("sd") / F.col("n")).alias("b_val"))
    )
    r6 = lambda col: F.round(col * 1e6) / 1e6  # noqa: E731 — sql_round twin
    return (
        s.select("s_id", "s_c")
        .join(own, "s_id", "left")
        .join(oth, "s_id", "left")
        .select(
            F.col("s_id").alias("vec_id"),
            F.col("s_c").alias("centroid"),
            F.coalesce("n_own", F.lit(0)).cast("long").alias("n_own"),
            r6(F.col("a_val")).alias("a_mean_d2"),
            r6(F.col("b_val")).alias("b_mean_d2"),
            r6(
                (F.col("b_val") - F.col("a_val"))
                / F.nullif(F.greatest("a_val", "b_val"), F.lit(0.0))
            ).alias("silhouette"),
        )
        .orderBy("vec_id")
    )
