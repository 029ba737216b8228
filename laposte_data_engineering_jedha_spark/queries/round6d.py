"""Round-6 session batch 4 — embedding clustering with INTEGER-EXACT
cross-engine arithmetic.

embedding_kmedoid_step runs one full Lloyd-style refinement round
(assign -> recenter -> re-assign) such that every comparison is integer
math, so Spark and DuckDB agree bit-for-bit — the trick that makes an
ITERATIVE clustering update oracle-checkable at all:

- vectors are grid-quantized once (q_i = floor(x_i * 1000 + 0.5), the
  engine-portable rounding from embedding_quantize);
- the recenter step picks each cluster's MEDOID-toward-mean: the member
  minimizing ||x - S/n||^2, evaluated as the integer score
  n^2*||x||^2 - 2*n*(x . S) (the n^2*||S/n||^2 term is constant within a
  cluster, and the single denominator n^2 drops out of within-cluster
  comparisons) — no rational arithmetic, no float centroid;
- both assignment passes compare plain integer squared distances with a
  (dist, cluster) tie-break.

Bounds: |q_i| <= ~10^3+, dims 64, n <= 10^6 keeps every score under
2^63 (documented per-term in the query docstring). The same shape at
100 TB: centroids/medoids are k rows broadcast both ways; the only wide
shuffles are the posexplode dim-sum (64x fan-out on narrow rows) and two
map-side-combined groupBys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query, table

_K = 4
_GRID = 1000
_DIM = 64


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


_SQL_Q = (
    "[CAST(floor(CAST(x AS DOUBLE) * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " for x in embedding]"
)


def _sql_sqdist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) for i in range(1, {_DIM + 1})]), "
        f"(s, x) -> s + x)"
    )


def _sql_idot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{a}[i] * {b}[i] for i in range(1, {_DIM + 1})]), (s, x) -> s + x)"
    )


_KMEDOID_SQL = f"""
WITH q AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
init AS (SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS j
         FROM q QUALIFY row_number() OVER (ORDER BY vec_id) <= {_K}),
d1 AS (SELECT q.vec_id AS vec_id, q.q AS q, init.j AS j,
              {_sql_sqdist('q.q', 'init.q')} AS dist
       FROM q CROSS JOIN init),
a1 AS (SELECT vec_id, q, j AS cluster FROM d1
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) = 1),
dims AS (SELECT cluster, unnest(range(1, {_DIM + 1})) AS pos, unnest(q) AS x
         FROM a1),
sums AS (SELECT cluster, pos, CAST(sum(x) AS BIGINT) AS s
         FROM dims GROUP BY cluster, pos),
cen AS (SELECT cluster, list(s ORDER BY pos) AS svec FROM sums GROUP BY cluster),
siz AS (SELECT cluster, count(*) AS n_before FROM a1 GROUP BY cluster),
scored AS (SELECT a1.vec_id AS vec_id, a1.q AS q, a1.cluster AS cluster,
                  siz.n_before AS n_before,
                  siz.n_before * siz.n_before * {_sql_idot('a1.q', 'a1.q')}
                    - 2 * siz.n_before * {_sql_idot('a1.q', 'cen.svec')} AS score
           FROM a1 JOIN cen ON a1.cluster = cen.cluster
                   JOIN siz ON a1.cluster = siz.cluster),
med AS (SELECT cluster, vec_id AS medoid_id, q AS mq, n_before FROM scored
        QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY score, vec_id) = 1),
d2 AS (SELECT q.vec_id AS vec_id, med.cluster AS cluster,
              {_sql_sqdist('q.q', 'med.mq')} AS dist
       FROM q CROSS JOIN med),
a2 AS (SELECT vec_id, cluster FROM d2
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1),
after AS (SELECT cluster, count(*) AS n_after FROM a2 GROUP BY cluster)
SELECT med.cluster AS cluster, med.medoid_id AS medoid_id,
       med.n_before AS n_before,
       COALESCE(after.n_after, 0) AS n_after
FROM med LEFT JOIN after ON med.cluster = after.cluster
"""


@query("embedding_kmedoid_step", _KMEDOID_SQL)
def embedding_kmedoid_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd-style k-medoid refinement round over grid-quantized
    embeddings, k=4, seeded by the 4 smallest vec_ids: (1) assign every
    vector to its nearest seed by integer squared distance, (2) recenter
    each cluster on the member nearest the cluster MEAN — chosen by the
    integer score n^2*||x||^2 - 2*n*(x.S) where S is the elementwise
    member sum (within one cluster the n^2 denominator and the ||S||^2
    term are constant, so this IS the exact ||x - S/n||^2 argmin with no
    rational arithmetic), (3) re-assign everything to the new medoids.
    Output: one row per surviving cluster (cluster, medoid_id, n_before,
    n_after) — n_after vs n_before is the convergence signal an iterative
    driver loop would watch.

    Integer-overflow budget (BIGINT): |q_i| <= ~1000 grid steps, so
    ||x||^2 <= 64e6, x.S <= 64 * 1000 * n*1000; at n = 10^6 members the
    worst term 2n(x.S) <= 1.3e17 < 2^63.

    Plan shape: seeds/medoids are k=4 rows broadcast into both assignment
    passes (BroadcastNestedLoopJoin over the k-row side, then a map-side
    min-struct argmin — no per-point shuffle); the recenter is a 64x
    posexplode of (cluster, dim) partial sums — map-side combinable, the
    standard distributed-kmeans shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _GRID + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    seeds = (
        q.orderBy("vec_id")
        .limit(_K)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("j"),
            F.col("q").alias("cq"),
        )
    )

    def assign(points: DataFrame, cents: DataFrame, jcol: str, vcol: str) -> DataFrame:
        d = points.crossJoin(F.broadcast(cents))
        return (
            d.select(
                "vec_id",
                "q",
                F.struct(_sq_dist(F.col("q"), F.col(vcol)).alias("dist"), F.col(jcol).alias("j")).alias("dj"),
            )
            .groupBy("vec_id")
            .agg(F.min("dj").alias("m"), F.first("q").alias("q"))
            .select("vec_id", "q", F.col("m.j").alias("cluster"))
        )

    from ..operators import caches

    # q is referenced by seeds + both assignment passes, and a1 by the
    # recenter sums + sizes + scoring join — unpersisted, the quantize
    # transform and the first assignment pipeline re-run per reference
    # (r13 optimization; gated on the INPUT scan estimate, recompute at
    # 100 TB)
    q = caches.persist_if_small(q, emb)
    a1 = caches.persist_if_small(assign(q, seeds, "j", "cq"), emb)
    sums = (
        a1.select("cluster", F.posexplode("q").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.sum("x").alias("s"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda t: t["s"]
            ).alias("svec")
        )
    )
    siz = a1.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_before"))
    n = F.col("n_before")
    scored = (
        a1.join(sums, "cluster")
        .join(siz, "cluster")
        .select(
            "cluster",
            "vec_id",
            "q",
            "n_before",
            (
                n * n * _int_dot(F.col("q"), F.col("q"))
                - 2 * n * _int_dot(F.col("q"), F.col("svec"))
            ).alias("score"),
        )
    )
    wmed = Window.partitionBy("cluster").orderBy("score", "vec_id")
    med = (
        scored.withColumn("_rn", F.row_number().over(wmed))
        .where(F.col("_rn") == 1)
        .select(
            "cluster",
            F.col("vec_id").alias("medoid_id"),
            F.col("q").alias("mq"),
            "n_before",
        )
    )
    a2 = assign(
        q,
        med.select(F.col("cluster").alias("j2"), "mq"),
        "j2",
        "mq",
    )
    after = a2.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_after"))
    return (
        med.join(after, "cluster", "left")
        .select(
            "cluster",
            "medoid_id",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
        )
    )
