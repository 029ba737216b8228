"""Round-12 session batch 3 — ANN quality measurement:

- eval_ivf_recall_at_k: recall@k of the IVF retrieval path against exact
  brute-force top-k for a pinned query slice — THE acceptance number for
  any approximate index (ivf_knn / ivf_index_search return results; this
  query says how good they are, per query, oracle-checked). Both sides
  run inside the one query: the IVF side is the full pinned-codebook
  path (assign -> probe -> exact cosine re-rank -> top-k), the truth
  side is brute-force top-k over the same corpus; recall is the exact
  integer overlap over k. At 100 TB the truth side is computed once on
  a sampled query panel exactly like this slice — the measurement cost
  is |panel| * corpus dots, embarrassingly parallel, corpus never
  shuffles (both sides broadcast the queries).

Reference parity note: no ANN surface in the reference; extension layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors
from ..operators import caches, similarity
from . import query, table
from .llmops import SQL_NORM, sql_dot, sql_round
from .round5 import _EMB_DIM, _IVF_K, _sql_argmin
from .round7 import _IVF_PROBE, _IVF_TOPK, _SQL_PROBES

# a query slice unused by ivf_knn (<8), ivf_index_search ([8,16)) and
# ivf_index_append_search / matryoshka ([16,24)) — independent evidence
_RK_Q_LO, _RK_Q_HI = 24, 32


@query(
    "eval_ivf_recall_at_k",
    f"""
WITH n AS (SELECT vec_id, embedding, {SQL_NORM} AS nrm FROM embeddings
           WHERE {SQL_NORM} > 0),
cand AS (SELECT vec_id, embedding AS cv, nrm AS cn,
                CAST({_sql_argmin(0, _IVF_K, _EMB_DIM)} AS INTEGER) AS centroid
         FROM n),
qp AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
              unnest({_SQL_PROBES}) AS centroid
       FROM n WHERE vec_id >= {_RK_Q_LO} AND vec_id < {_RK_Q_HI}),
ip AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qv', 'c.cv', _EMB_DIM)} / (qn * c.cn)", 6)} AS cosine
       FROM cand c JOIN qp USING (centroid) WHERE c.vec_id <> query_id),
ivf_k AS (SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, cand_id) AS rank
            FROM ip) WHERE rank <= {_IVF_TOPK}),
q0 AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n
       WHERE vec_id >= {_RK_Q_LO} AND vec_id < {_RK_Q_HI}),
bp AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qv', 'c.embedding', _EMB_DIM)} / (qn * c.nrm)", 6)}
                AS cosine
       FROM n c CROSS JOIN q0 WHERE c.vec_id <> query_id),
bf_k AS (SELECT query_id, cand_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, cand_id) AS rank
           FROM bp) WHERE rank <= {_IVF_TOPK}),
ov AS (SELECT b.query_id, count(*) AS n_hits
       FROM bf_k b JOIN ivf_k i
         ON b.query_id = i.query_id AND b.cand_id = i.cand_id
       GROUP BY b.query_id)
SELECT q0.query_id AS query_id,
       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       {sql_round(f"COALESCE(n_hits, 0) * 1.0 / {_IVF_TOPK}", 6)} AS recall_at_k
FROM q0 LEFT JOIN ov ON q0.query_id = ov.query_id
ORDER BY query_id
""",
)
def eval_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_IVF_TOPK} of IVF({_IVF_K} centroids, {_IVF_PROBE} probes)
    against exact brute-force retrieval for the pinned query slice
    [{_RK_Q_LO}, {_RK_Q_HI}) — the number that decides whether the
    index's probe budget is enough or the quantizer needs more cells.
    The IVF side is the exact machinery ivf_knn hash-checks (fold-
    faithful Arrow assign/probe kernels, 1e-6-rounded cosines,
    cand_id tie-break); the truth side is brute_force_knn on the same
    corpus; the overlap count is exact integer arithmetic, so recall
    rows hash bit-for-bit. Plan: one map-side assignment pass + two
    broadcast joins + two per-query top-k windows — the corpus never
    shuffles on either side."""
    books = similarity.pinned_codebook(1, _IVF_K, _EMB_DIM)[0]
    emb = table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id", "embedding", vectors.pd_norm("embedding").alias("nrm")
    ).where(F.col("nrm") > 0)
    # r13 optimization (guide §2.4): n feeds FOUR references (IVF cand +
    # qry sides, the brute-force corpus + query sides, and the final query
    # slice), each re-running the norm kernel + scan unpersisted
    # (PythonUDF subtrees never canonicalize equal). Stats-gated on the
    # INPUT scan estimate: a 100 TB corpus keeps the recompute plan.
    n = caches.persist_if_small(n, emb)
    q_pred = (F.col("vec_id") >= _RK_Q_LO) & (F.col("vec_id") < _RK_Q_HI)
    cand = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
        vectors.pd_fold_assign_d2("embedding", books)["centroid"].alias("centroid"),
    )
    qry = n.where(q_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(
            vectors.pd_fold_topn_centroids("embedding", books, _IVF_PROBE)
        ).alias("centroid"),
    )
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    ivf_pairs = (
        cand.join(F.broadcast(qry), "centroid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", (F.round(cos * 1e6) / 1e6).alias("cosine")
        )
        # no dedup needed: a candidate has exactly ONE assigned centroid,
        # so (query, cand) can match in at most one probed list
    )
    ivf_k = similarity._ranked_topk(ivf_pairs, _IVF_TOPK).select(
        "query_id", "cand_id"
    )
    bf_k = similarity.brute_force_knn(n, n.where(q_pred), k=_IVF_TOPK).select(
        "query_id", "cand_id"
    )
    ov = (
        bf_k.join(ivf_k, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n.where(q_pred)
        .select(F.col("vec_id").alias("query_id"))
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (
                F.round(F.coalesce("n_hits", F.lit(0)) * 1.0 / _IVF_TOPK * 1e6)
                / 1e6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )
