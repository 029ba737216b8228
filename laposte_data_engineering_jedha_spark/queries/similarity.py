"""Vector search and its quality metrics (name prefixes embedding, eval,
ivf, knn, pq): kNN, IVF and PQ retrieval, clustering, and recall/NDCG-style
evaluation over the fixture embeddings (`EMB_DIM` wide).

Every double reduction is a strict left-to-right fold on both sides (Spark
`aggregate` with a 0.0 init == DuckDB `list_reduce` over a 0.0-prepended
list); iterative methods quantize to integers so that each step is exact in
both engines.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts, vectors
from ..operators import caches, dedup, similarity
from ..sources.testdata import EMB_DIM
from . import (
    SQL_NORM,
    _EMB_BANDS,
    _GRAPH_BANDS,
    _GRAPH_BAND_PLANES,
    _SQL_AUTO_PLANES,
    _SQL_KNN_AUTO_CTES,
    _SQL_KNN_GRAPH_CTES,
    _auto_graph,
    _sql_band_key,
    _sql_hp_weight,
    events_table,
    query,
    sort_report,
    sql_dot,
    sql_md5i,
    sql_reduce_sum,
    sql_round,
    sql_stop_hits,
    sql_toks,
    table,
    table_rowcount,
)


@query(
    "embedding_quantize",
    """
WITH m AS (
  SELECT vec_id, embedding AS e,
         CAST(127.0 AS DOUBLE)
           / nullif(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]),
                    CAST(0.0 AS DOUBLE)) AS s
  FROM embeddings)
SELECT vec_id,
       round(coalesce(s, CAST(0.0 AS DOUBLE)) * 1000000) / 1000000 AS scale,
       CASE WHEN s IS NULL THEN array_to_string([0 for x in e], ',')
            ELSE array_to_string(
              [CAST(greatest(-127, least(127,
                 floor(CAST(x AS DOUBLE) * s + CAST(0.5 AS DOUBLE)))) AS INTEGER)
               for x in e], ',') END AS qvec,
       CASE WHEN s IS NULL THEN 0
            ELSE len([x for x in e if abs(greatest(-127, least(127,
                 floor(CAST(x AS DOUBLE) * s + CAST(0.5 AS DOUBLE))))) = 127]) END
         AS n_sat
FROM m""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage /
    ANN-memory compression step (4x smaller than float32): per-vector
    scale = 127 / max|x|, q_i = clamp(floor(x_i * scale + 0.5), ±127).
    All per-row JVM transforms (functions/vectors.py quantize_int8), zero
    shuffle; floor(x+0.5) instead of round() because half-up vs half-even
    round() modes are the one place int8 grids can diverge across
    engines. qvec is emitted CSV-joined so the driver's value-hash sees a
    scalar column."""
    emb = table(spark, sf_dir, "embeddings")
    ma = vectors.max_abs("embedding")
    # Materialize the per-row scale as a column FIRST: referencing the
    # max_abs subtree from inside the quantize transform lambda would
    # re-evaluate it per array element (64x per use — measured ~4x query
    # cost). A multi-referenced non-trivial column blocks CollapseProject,
    # so the staged projection survives optimization.
    staged = emb.select(
        "vec_id",
        "embedding",
        (F.lit(127.0) / F.when(ma == 0.0, F.lit(None)).otherwise(ma)).alias("_s"),
    )
    # JVM HOF transform, staged off the _s column. An Arrow/numpy kernel
    # twin measured SLOWER here (11.7s vs 8.5s @400k vectors): per-element
    # compute is one multiply+floor+clamp, so the nested-array Arrow
    # round-trip dominates — the opposite trade from pd_dot, where the
    # kernel fuses a 64-term reduction per pair (see SCALE.md findings).
    staged = staged.withColumn("_q", vectors.quantize_int8("embedding", F.col("_s")))
    q = F.col("_q")
    return staged.select(
        "vec_id",
        (F.round(F.coalesce(F.col("_s"), F.lit(0.0)) * 1000000) / 1000000).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("qvec"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127)).alias("n_sat"),
    )


_SQL_KNN_BASE = f"""
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
      WHERE {SQL_NORM} > 0),
q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 8)"""


@query(
    "knn_brute_force",
    f"""
WITH {_SQL_KNN_BASE},
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
  FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM pairs)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5""",
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 8."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.brute_force_knn(emb, emb.where(F.col("vec_id") < 8), k=5)


def _sql_bucket(e: str, planes: int = 8) -> str:
    w = _sql_hp_weight()
    d = sql_reduce_sum(f"[CAST({e}[i + 1] AS DOUBLE) * CAST({w} AS DOUBLE) for i in range(0, 64)]")
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CASE WHEN {d} >= 0 THEN 1 ELSE 0 END for p in range(0, {planes})]), (a, x) -> a * 2 + x)"
    )


@query(
    "knn_lsh",
    f"""
WITH {_SQL_KNN_BASE},
cb AS (SELECT vec_id, e, nrm, {_sql_bucket('e')} AS bucket FROM n),
qb AS (SELECT query_id, qe, qn, {_sql_bucket('qe')} AS bucket FROM q),
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
  FROM cb c JOIN qb USING (bucket) WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM pairs)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5""",
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-5 (recall < 1 by design)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_knn(emb, emb.where(F.col("vec_id") < 8), k=5, dim=64, planes=8)


@query(
    "knn_graph",
    f"""
WITH {_SQL_KNN_GRAPH_CTES}
SELECT query_id, cand_id, cosine, rank FROM knn""",
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate top-3 neighbor graph (SemDeDup / embedding
    clustering input): banded-LSH (band, key) self-join with no broadcast
    side (operators/similarity.py knn_graph)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(
        emb, k=3, dim=64, bands=_GRAPH_BANDS, band_planes=_GRAPH_BAND_PLANES
    )


_DEC9 = "decimal(18,9)"


@query(
    "embedding_domain_centroids",
    f"""
SELECT label, i - 1 AS pos,
       CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
         / count(*) AS centroid,
       count(*) AS n_vecs
FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) dims
WHERE i <= len(embedding)
GROUP BY 1, 2""",
)
def embedding_domain_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in long (label, pos, centroid, n_vecs) form —
    the centroid table behind domain balancing, outlier filtering
    (distance-to-centroid) and IVF-style coarse quantization.

    posexplode fans each vector into (label, pos, value) rows — dim x n,
    narrow — and ONE hash aggregate on (label, pos) with map-side partial
    combine produces every centroid component; sums run through
    DECIMAL(18,9) so partition order cannot perturb low bits (same
    discipline as the OLAP money sums, at embedding precision). Long form
    keeps the oracle comparison element-wise exact and needs no
    order-sensitive array re-assembly."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("double").cast(_DEC9)).cast("double") / F.count(F.lit(1)))
        .alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@query(
    "embedding_outliers",
    f"""
WITH cent AS (
  SELECT label, i - 1 AS pos,
         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
           / count(*) AS centroid
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) dims
  WHERE i <= len(embedding)
  GROUP BY 1, 2),
terms AS (
  SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) dims
  WHERE i <= len(embedding)),
diffs AS (
  SELECT t.vec_id, t.label,
         list((t.v - c.centroid) * (t.v - c.centroid) ORDER BY t.pos) AS ds
  FROM terms t JOIN cent c ON t.label = c.label AND t.pos = c.pos
  GROUP BY 1, 2),
d AS (SELECT vec_id, label,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ds),
                              (a, b) -> a + b)) AS dist
      FROM diffs)
SELECT vec_id, label, dist FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rn
  FROM d) WHERE rn <= 5""",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 farthest vectors from their own label centroid — the
    distance-to-centroid outlier filter of embedding curation (mislabeled
    or junk points sit far from their domain's center; SemDeDup's
    complementary 'keep the unusual' signal).

    Two phases sharing one scan shape: the centroid aggregate (posexplode
    -> decimal mean per (label, pos), same plan as
    embedding_domain_centroids) is assembled back into a per-label ARRAY
    and broadcast (labels are a bounded domain dimension — tens to
    thousands — unlike supplier/customer this broadcast is safe BY
    CONSTRUCTION at any corpus size); each vector then computes its
    distance in one zip_with/aggregate left-to-right fold (bit-identical
    to the oracle's pos-ordered list_reduce) and a per-label
    top-5 window (WindowGroupLimit prunes before the final sort). Ties on
    distance break by vec_id."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent_long = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("double").cast(_DEC9)).cast("double") / F.count(F.lit(1)))
        .alias("c")
    )
    cent_arr = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    diff = F.zip_with(
        F.col("embedding"),
        F.col("centroid"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist = F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))
    from pyspark.sql import Window as W

    win = W.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        emb.join(F.broadcast(cent_arr), "label")
        .select("vec_id", "label", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 5)
        .select("vec_id", "label", "dist")
    )


_TRUNC_DIM = 16


@query(
    "embedding_truncation_fidelity",
    f"""
WITH pairs AS (
  SELECT vec_id, label, embedding,
         lead(vec_id)    OVER (PARTITION BY label ORDER BY vec_id) AS next_id,
         lead(embedding) OVER (PARTITION BY label ORDER BY vec_id) AS next_emb
  FROM embeddings),
scored AS (
  SELECT vec_id, next_id, label,
         {{dot_full}} AS df_, {{naa_full}} AS na_f, {{nbb_full}} AS nb_f,
         {{dot_t}} AS dt_, {{naa_t}} AS na_t, {{nbb_t}} AS nb_t
  FROM pairs WHERE next_id IS NOT NULL)
SELECT vec_id, next_id, label,
       round(df_ / (sqrt(na_f) * sqrt(nb_f)) * 1000000) / 1000000 AS cos_full,
       round(dt_ / (sqrt(na_t) * sqrt(nb_t)) * 1000000) / 1000000 AS cos_trunc
FROM scored
WHERE na_f > 0 AND nb_f > 0 AND na_t > 0 AND nb_t > 0""".format(
        dot_full=sql_dot("embedding", "next_emb", EMB_DIM),
        naa_full=sql_dot("embedding", "embedding", EMB_DIM),
        nbb_full=sql_dot("next_emb", "next_emb", EMB_DIM),
        dot_t=sql_dot("embedding", "next_emb", _TRUNC_DIM),
        naa_t=sql_dot("embedding", "embedding", _TRUNC_DIM),
        nbb_t=sql_dot("next_emb", "next_emb", _TRUNC_DIM),
    ),
)
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: for a deterministic chain of
    within-label vector pairs (each vector vs the next vec_id in its
    label), the cosine computed on the full {64} dims NEXT TO the cosine
    on the first {16} dims. The downstream decision — can ANN recall /
    dedup run on a 4x-cheaper prefix? — reads directly off the
    cos_trunc-vs-cos_full spread, and the pairing is a window `lead`, not
    a sampled join, so the audit is reproducible run-to-run and engine-
    to-engine.

    One window shuffle on label (the pairing), then pure map-side
    arithmetic: both cosines are strict left-to-right `aggregate` folds
    (slice() for the prefix) matching the twin's list comprehensions
    term-for-term; sqrt is IEEE-exact on both engines; zero-norm pairs
    are filtered (the knn_graph lesson) and the r6 quantization matches
    the similarity family's pair convention."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    w = W.partitionBy("label").orderBy("vec_id")
    pairs = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.lead("vec_id").over(w).alias("next_id"),
        F.lead("embedding").over(w).alias("next_emb"),
    ).where(F.col("next_id").isNotNull())

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    full_a, full_b = F.col("embedding"), F.col("next_emb")
    tr_a = F.slice(full_a, 1, _TRUNC_DIM)
    tr_b = F.slice(full_b, 1, _TRUNC_DIM)
    scored = pairs.select(
        "vec_id",
        "next_id",
        "label",
        fold_dot(full_a, full_b).alias("df_"),
        fold_dot(full_a, full_a).alias("na_f"),
        fold_dot(full_b, full_b).alias("nb_f"),
        fold_dot(tr_a, tr_b).alias("dt_"),
        fold_dot(tr_a, tr_a).alias("na_t"),
        fold_dot(tr_b, tr_b).alias("nb_t"),
    )
    r6 = lambda c: F.round(c * 1000000) / 1000000  # noqa: E731
    return (
        scored.where(
            (F.col("na_f") > 0) & (F.col("nb_f") > 0)
            & (F.col("na_t") > 0) & (F.col("nb_t") > 0)
        )
        .select(
            "vec_id",
            "next_id",
            "label",
            r6(F.col("df_") / (F.sqrt("na_f") * F.sqrt("nb_f"))).alias("cos_full"),
            r6(F.col("dt_") / (F.sqrt("na_t") * F.sqrt("nb_t"))).alias("cos_trunc"),
        )
    )


_PQ_M = 4

_PQ_K = 16

_PQ_SUB = EMB_DIM // _PQ_M

_PQ_ITERS = 2

_PQ_OFF = 1_048_576  # == operators.similarity.PQ_PIN_SCALE (2^20)


def _sql_pin_d2(j: int, cent: str) -> str:
    """Fold d2 between the j-th subvector and a centroid row of CTE
    `cent` (vals = list of sub doubles) — same left-to-right fold as the
    Arrow kernel (vectors._fold_d2)."""
    base = j * _PQ_SUB
    diff = f"(CAST(e.embedding[{base} + d + 1] AS DOUBLE) - vals[d + 1])"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {_PQ_SUB}), d -> {diff} * {diff})), "
        f"(a, b) -> a + b)"
    )


def _sql_lloyd_ctes(j: int) -> str:
    """CTE chain for one subspace: seeded init (k lowest-vec_id
    subvectors) + `_PQ_ITERS` quantized Lloyd steps + final codes — the
    SQL twin of similarity.pq_fit_lloyd_pinned (see its docstring for the
    exactness argument)."""
    base = j * _PQ_SUB
    parts = [
        f"""cent_{j}_0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
         [CAST(embedding[{base} + d + 1] AS DOUBLE) for d in range(0, {_PQ_SUB})] AS vals
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}))"""
    ]
    q = (
        f"CAST(floor(CAST(e.embedding[{base} + r.range + 1] AS DOUBLE)"
        f" * {_PQ_OFF} + 0.5) AS BIGINT)"
    )
    for i in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""asg_{j}_{i} AS (
  SELECT e.vec_id, min({{'d': {_sql_pin_d2(j, f'cent_{j}_{i-1}')}, 'c': c}})['c'] AS cen
  FROM embeddings e CROSS JOIN cent_{j}_{i-1}
  GROUP BY e.vec_id)"""
        )
        parts.append(
            f"""upd_{j}_{i} AS (
  SELECT cen AS c, list(cv ORDER BY d) AS vals
  FROM (
    SELECT cen, r.range AS d,
           CAST(((sum({q}) + count(*) * {_PQ_OFF}) // count(*)) - {_PQ_OFF}
                AS DOUBLE) / {_PQ_OFF} AS cv
    FROM asg_{j}_{i} a JOIN embeddings e ON a.vec_id = e.vec_id
    CROSS JOIN range(0, {_PQ_SUB}) r
    GROUP BY cen, r.range
  ) GROUP BY cen)"""
        )
        parts.append(
            f"""cent_{j}_{i} AS (
  SELECT p.c, coalesce(u.vals, p.vals) AS vals
  FROM cent_{j}_{i-1} p LEFT JOIN upd_{j}_{i} u ON p.c = u.c)"""
        )
    parts.append(
        f"""codes_{j} AS (
  SELECT e.vec_id,
         CAST(min({{'d': {_sql_pin_d2(j, f'cent_{j}_{_PQ_ITERS}')}, 'c': c}})['c']
              AS INTEGER) AS code{j}
  FROM embeddings e CROSS JOIN cent_{j}_{_PQ_ITERS}
  GROUP BY e.vec_id)"""
    )
    return ",\n".join(parts)


_PQ_LLOYD_SQL = (
    "WITH "
    + ",\n".join(_sql_lloyd_ctes(j) for j in range(_PQ_M))
    + "\nSELECT vec_id, "
    + ", ".join(f"code{j}" for j in range(_PQ_M))
    + "\nFROM codes_0"
    + "".join(f" JOIN codes_{j} USING (vec_id)" for j in range(1, _PQ_M))
)


@query("embedding_pq_codes", _PQ_LLOYD_SQL)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding corpus: 4 subspaces
    x 16 centroids = 2 bytes per 64-dim vector, with the codebook FIT in
    the query — graduated from rows-only to a full hash row in round 8 by
    pinning the fit (VERDICT r7 item 2): seeded init (k lowest-vec_id
    subvectors) + 2 quantized Lloyd steps, reproduced bit-for-bit by the
    generated DuckDB twin (similarity.pq_fit_lloyd_pinned has the
    exactness argument: assignments are the fold-faithful Arrow kernel,
    centroid updates are BIGINT sums of 2^20-quantized coordinates and
    exact-dyadic floor-means, so neither engine ever accumulates floats).
    The production fit keeps the seeded-sample MLlib path
    (pq_fit_codebooks, recall/reconstruction-tested in
    tests/test_llmops.py); this registered query exercises the identical
    assign/update/encode dataflow with a verifiable fit.

    The registered projection unpacks one IntegerType column per
    subspace — external drivers canonicalize output in pandas, and a
    list-typed column is unsortable/unhashable there (the one red row in
    CORRECTNESS_r06); atomic columns enforced registry-wide by
    tests/test_plans.py::test_registry_returns_atomic_columns_only."""
    from ..functions import vectors
    from ..operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit_lloyd_pinned(
        emb, m=_PQ_M, k=_PQ_K, dim=EMB_DIM, iters=_PQ_ITERS
    )
    return emb.select(
        "vec_id", vectors.pd_fold_codes("embedding", books).alias("codes")
    ).select(
        "vec_id",
        *[F.element_at("codes", j + 1).alias(f"code{j}") for j in range(_PQ_M)],
    )


# Pinned-codebook verification twins (embedding_pq_encode_pinned,
# ivf_assign_pinned): the per-row assignment / encode math is deterministic
# given a codebook, so these twins run it against the closed-form
# `similarity.pinned_codebook` and earn full DuckDB hash rows.
#
# Cross-engine float discipline: every distance is a left-to-right fold
# (`F.aggregate` with 0.0 init == DuckDB `list_reduce` with 0.0 prepend) over
# terms built from exact-in-binary codebook values (multiples of 1/8), so the
# doubles are bit-identical across engines and the argmin needs no tolerance.
# Ties (impossible with these codebooks, but pinned anyway) resolve to the
# lowest centroid id via lexicographic struct min on both sides.
def _spark_d2(j: int, c: int, sub: int) -> F.Column:
    """Left-to-right fold of squared diffs between the j-th subvector and
    pinned centroid c: sum_d (emb[j*sub+d] - val(j,c,d))^2 with
    val = (((c*sub + d + j*31) % 17) - 8) / 8.

    Deliberately an `F.aggregate` HOF fold, NOT unrolled arithmetic: the
    unrolled variant (1024+ expression nodes per projection once 4x16
    centroids multiply out) was measured 4x SLOWER (pq_adc_topk_pinned
    4.8 s -> 20 s at sf0.1) — Catalyst analysis and codegen choke on the
    tree long before row throughput matters at gate scale. The compact
    fold keeps the plan small; the production encode path is the Arrow
    kernel (similarity.pq_encode) either way."""
    base = c * sub + j * 31

    def step(acc: F.Column, d: F.Column) -> F.Column:
        val = ((F.lit(base) + d) % 17 - 8) / F.lit(8.0)
        diff = F.element_at("embedding", (F.lit(j * sub) + d + 1).cast("int")).cast(
            "double"
        ) - val
        return acc + diff * diff

    return F.aggregate(F.sequence(F.lit(0), F.lit(sub - 1)), F.lit(0.0), step)


def _sql_d2(j: int, c: int, sub: int) -> str:
    base = c * sub + j * 31
    diff = (
        f"(CAST(embedding[{j * sub} + d + 1] AS DOUBLE)"
        f" - ((({base} + d) % 17 - 8) / CAST(8.0 AS DOUBLE)))"
    )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {sub}), d -> {diff} * {diff})), "
        f"(a, b) -> a + b)"
    )


def _spark_argmin(j: int, k: int, sub: int) -> F.Column:
    """Lowest-distance centroid id (ties -> lowest id) via lexicographic
    struct min — Spark and DuckDB both order structs field-by-field."""
    return F.array_min(
        F.array(
            *[
                F.struct(_spark_d2(j, c, sub).alias("d"), F.lit(c).alias("c"))
                for c in range(k)
            ]
        )
    )["c"]


def _sql_argmin(j: int, k: int, sub: int) -> str:
    items = ", ".join(f"{{'d': {_sql_d2(j, c, sub)}, 'c': {c}}}" for c in range(k))
    return f"list_min([{items}])['c']"


_PQ_SQL = "SELECT vec_id, " + ", ".join(
    f"CAST({_sql_argmin(j, _PQ_K, _PQ_SUB)} AS INTEGER) AS code{j}" for j in range(_PQ_M)
) + " FROM embeddings"


@query("embedding_pq_encode_pinned", _PQ_SQL)
def embedding_pq_encode_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode (4 subspaces x 16 centroids) against the closed-form
    pinned codebook — the hash-checkable twin of embedding_pq_codes'
    encode stage. The per-row math runs in the fold-faithful Arrow kernel
    (vectors.pd_fold_codes): bit-identical to the Catalyst `_spark_argmin`
    fold by construction (same left-to-right per-dimension IEEE adds, same
    lowest-id tiebreak — pinned equal in tests/test_round5.py) but ~10x
    faster, because the HOF fold is interpreted per (row, centroid, dim)
    on the JVM while the kernel fuses each dimension step across the whole
    Arrow batch. Map-side only, no shuffle at any scale."""
    from ..operators import similarity as sim
    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    return emb.select(
        "vec_id", vectors.pd_fold_codes("embedding", books).alias("codes")
    ).select(
        "vec_id",
        *[F.element_at("codes", j + 1).cast("int").alias(f"code{j}") for j in range(_PQ_M)],
    )


_IVF_K = 16

_IVF_SQL = (
    "SELECT vec_id, "
    f"CAST({_sql_argmin(0, _IVF_K, EMB_DIM)} AS INTEGER) AS centroid, "
    f"round(least({', '.join(_sql_d2(0, c, EMB_DIM) for c in range(_IVF_K))})"
    " * 1000000) / 1000000 AS d2"
    " FROM embeddings"
)


@query("ivf_assign_pinned", _IVF_SQL)
def ivf_assign_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment against 16 pinned 64-dim centroids —
    the hash-checkable twin of ivf_knn's assignment stage (its k-means fit
    is iterative, hence rows-only). Map-side only: at 100 TB this is the
    exact shape of the index build — one narrow pass, codebook shipped in
    the kernel closure, no shuffle. Runs the fold-faithful Arrow kernel
    (vectors.pd_fold_assign_d2), bit-identical to the `_spark_argmin` /
    `F.least`-over-folds Catalyst formulation but batch-fused."""
    from ..operators import similarity as sim
    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
    return emb.select(
        "vec_id", vectors.pd_fold_assign_d2("embedding", books).alias("a")
    ).select(
        "vec_id",
        F.col("a.centroid").alias("centroid"),
        (F.round(F.col("a.d2") * 1000000) / 1000000).alias("d2"),
    )


# ===================== PQ/ADC top-k search, pinned twin =======================

_ADC_QMOD = 61  # queries = vec_id % 61 == 0 (~n/61 rows, broadcast side)


def _sql_tab(j: int) -> str:
    return "[" + ", ".join(_sql_d2(j, c, _PQ_SUB) for c in range(_PQ_K)) + "]"


_ADC_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         {", ".join(f"{_sql_tab(j)} AS tab{j}" for j in range(_PQ_M))}
  FROM embeddings WHERE vec_id % {_ADC_QMOD} = 0),
codes AS (
  SELECT vec_id AS cand_id,
         {", ".join(f"CAST({_sql_argmin(j, _PQ_K, _PQ_SUB)} AS INTEGER) AS code{j}" for j in range(_PQ_M))}
  FROM embeddings),
pairs AS (
  SELECT q.query_id, c.cand_id,
         round(((((tab0[code0 + 1] + tab1[code1 + 1]) + tab2[code2 + 1])
                 + tab3[code3 + 1])) * 1000000) / 1000000 AS adc
  FROM codes c CROSS JOIN q
  WHERE q.query_id <> c.cand_id),
r AS (SELECT query_id, cand_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id)
               AS rank
      FROM pairs)
SELECT query_id, cand_id, adc, rank FROM r WHERE rank <= 5"""


@query("pq_adc_topk_pinned", _ADC_SQL)
def pq_adc_topk_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full PQ asymmetric-distance (ADC) top-k search as a
    hash-checkable twin of similarity.pq_knn on the pinned codebook:
    per-query distance TABLES (4 subspaces x 16 centroids, each a
    left-to-right fold — bit-identical across engines), corpus scanned as
    codes only (the pinned encode), a candidate's distance = 4 table
    lookups + 3 adds in pinned association order, per-query top-5 with
    cand_id tie-break. Scale shape identical to the production kernel
    path: the corpus side carries (id, 4 codes) — ~100x below float-scan
    cost — and the query-table side broadcasts (BroadcastNestedLoopJoin
    with broadcast build, the sanctioned many-row variant); the only
    exchange is the per-query top-k window. pq_knn's numpy kernel ranks
    are pinned >= 0.9-recall-equal to this relation in
    tests/test_round5.py.

    Both sides run the fold-faithful Arrow kernels (vectors.pd_fold_codes
    / pd_fold_d2_tables): bit-identical to the Catalyst `_spark_d2` /
    `_spark_argmin` folds the oracle mirrors, but batch-fused — the
    interpreted HOF fold was this query's whole 5.6 s cost at sf0.1."""
    from ..operators import similarity as sim
    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    q = (
        emb.where(F.col("vec_id") % _ADC_QMOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            vectors.pd_fold_d2_tables("embedding", books).alias("tabs"),
        )
        .select(
            "query_id",
            *[F.element_at("tabs", j + 1).alias(f"tab{j}") for j in range(_PQ_M)],
        )
    )
    codes = emb.select(
        F.col("vec_id").alias("cand_id"),
        vectors.pd_fold_codes("embedding", books).alias("codes"),
    ).select(
        "cand_id",
        *[F.element_at("codes", j + 1).cast("int").alias(f"code{j}") for j in range(_PQ_M)],
    )
    adc = (
        (
            F.element_at("tab0", F.col("code0") + 1)
            + F.element_at("tab1", F.col("code1") + 1)
        )
        + F.element_at("tab2", F.col("code2") + 1)
    ) + F.element_at("tab3", F.col("code3") + 1)
    pairs = (
        codes.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(adc * 1000000) / 1000000).alias("adc"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "cand_id", "adc", "rank")
    )


_DRIFT_SQL = f"""
WITH terms AS (
  SELECT vec_id % 2 AS half, label, i - 1 AS pos,
         CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) dims
  WHERE i <= len(embedding)),
cent AS (
  SELECT half, label, pos,
         CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c
  FROM terms GROUP BY 1, 2, 3),
vecs AS (
  SELECT half, label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1, 2),
counts AS (
  SELECT vec_id % 2 AS half, label, count(*) AS n
  FROM embeddings GROUP BY 1, 2),
j AS (
  SELECT a.label, ca.n AS n_a, cb.n AS n_b, a.cv AS va, b.cv AS vb
  FROM vecs a JOIN vecs b ON a.label = b.label AND a.half = 0 AND b.half = 1
  JOIN counts ca ON ca.label = a.label AND ca.half = 0
  JOIN counts cb ON cb.label = a.label AND cb.half = 1)
SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       {{drift}} AS drift_cos
FROM j""".format(
    drift="round(("
    + f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [va[i] * vb[i] for i in range(1, {EMB_DIM + 1})]), (a, b) -> a + b)"
    + " / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x for x in va]), (a, b) -> a + b))"
    + " * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x for x in vb]), (a, b) -> a + b)))"
    + ") * 10000) / 10000"
)


@query("embedding_drift_monitor", _DRIFT_SQL)
def embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the corpus splits into two
    deterministic halves (vec_id parity — in production: yesterday vs
    today's batch), per-dimension DECIMAL-exact centroids are computed
    for each half, and the report is the cosine between the two
    centroids — cosine ~1 means the embedding distribution is stable,
    drops flag upstream model/data drift. The centroid means are the
    same decimal-sum/count construction as embedding_domain_centroids
    (order-free exact), the cosine a strict left-to-right fold on both
    engines, rounded to 4 decimals.

    Scale shape: one narrow (half, label, pos, value) explode ->
    partial-aggregated centroid shuffle (|halves x labels x dims| groups
    — tiny at any corpus size), then per-label scalar math. The raw
    vectors never shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    terms = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    ).select("half", "label", "pos", F.col("v").cast("double").alias("v"))
    cent = terms.groupBy("half", "label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    vecs = cent.groupBy("half", "label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    counts = emb.groupBy((F.col("vec_id") % 2).alias("half"), "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = vecs.where(F.col("half") == 0).select("label", F.col("cv").alias("va"))
    b = vecs.where(F.col("half") == 1).select("label", F.col("cv").alias("vb"))
    ca = counts.where(F.col("half") == 0).select("label", F.col("n").alias("n_a"))
    cb = counts.where(F.col("half") == 1).select("label", F.col("n").alias("n_b"))
    return (
        a.join(b, "label")
        .join(ca, "label")
        .join(cb, "label")
        .select(
            "label",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.round(vectors.cosine("va", "vb") * 10000) / 10000).alias("drift_cos"),
        )
    )


_K = 4

_GRID = 1000


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
        f"[({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) for i in range(1, {EMB_DIM + 1})]), "
        f"(s, x) -> s + x)"
    )


def _sql_idot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{a}[i] * {b}[i] for i in range(1, {EMB_DIM + 1})]), (s, x) -> s + x)"
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
dims AS (SELECT cluster, unnest(range(1, {EMB_DIM + 1})) AS pos, unnest(q) AS x
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


# Embedding_kmedoid_step runs one full Lloyd-style refinement round (assign ->
# recenter -> re-assign) such that every comparison is integer math, so Spark
# and DuckDB agree bit-for-bit — the trick that makes an ITERATIVE clustering
# update oracle-checkable at all:
#
# - vectors are grid-quantized once (q_i = floor(x_i * 1000 + 0.5), the
#   engine-portable rounding from embedding_quantize);
# - the recenter step picks each cluster's MEDOID-toward-mean: the member
#   minimizing ||x - S/n||^2, evaluated as the integer score n^2*||x||^2 -
#   2*n*(x . S) (the n^2*||S/n||^2 term is constant within a cluster, and the
#   single denominator n^2 drops out of within-cluster comparisons) — no
#   rational arithmetic, no float centroid;
# - both assignment passes compare plain integer squared distances with a
#   (dist, cluster) tie-break.
#
# Bounds: |q_i| <= ~10^3+, dims 64, n <= 10^6 keeps every score under 2^63
# (documented per-term in the query docstring). The same shape at 100 TB:
# centroids/medoids are k rows broadcast both ways; the only wide shuffles are
# the posexplode dim-sum (64x fan-out on narrow rows) and two map-side-combined
# groupBys.
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


_SHIFT = 1 << 20


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{a}[i] * {b}[i] for i in range(1, {EMB_DIM + 1})]), (s, x) -> s + x)"
    )


_POWER_SQL = f"""
WITH q AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
s1 AS (SELECT vec_id, q, q[1] AS s FROM q),
d1 AS (SELECT u.pos AS pos, CAST(sum(u.x * s) AS BIGINT) AS v
       FROM (SELECT s, unnest(range(1, {EMB_DIM + 1})) AS pos, unnest(q) AS x
             FROM s1) u
       GROUP BY u.pos),
v1 AS (SELECT list(v // {_SHIFT} ORDER BY pos) AS v FROM d1),
s2 AS (SELECT vec_id, q, {_sql_dot('q', 'v1.v')} AS s FROM q, v1),
d2 AS (SELECT u.pos AS pos, CAST(sum(u.x * s) AS BIGINT) AS v
       FROM (SELECT s, unnest(range(1, {EMB_DIM + 1})) AS pos, unnest(q) AS x
             FROM s2) u
       GROUP BY u.pos)
SELECT CAST(pos AS INTEGER) AS dim, v AS component,
       CAST(abs(v) AS BIGINT) AS magnitude
FROM d2 ORDER BY magnitude DESC, dim LIMIT 8
"""


# Embedding_power_iteration runs TWO matrix-free power-iteration steps for the
# corpus covariance's dominant direction (v <- X^T (X v)), entirely in integer
# arithmetic: vectors are grid-quantized (the shared floor(x*1000+0.5)
# convention), the start vector is the pinned basis e_1, and the intermediate
# vector is rescaled by an integer right-shift (v div 2^20) between iterations
# so the second pass stays inside BIGINT — a deterministic substitute for float
# normalization that both engines compute identically. The same trick
# generalizes: any fixed number of Krylov/power steps can be made
# oracle-checkable by pinning the start and rescaling with integer shifts.
#
# The distributed shape IS the classic map-reduce power iteration: per-row dot
# products (map), a 64-key (dim, partial-sum) aggregate (reduce), result
# broadcast back for the next step. No driver-side linear algebra, no collect
# of anything wider than one 64-long vector per iteration.
@query("embedding_power_iteration", _POWER_SQL)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two matrix-free power-iteration steps toward the dominant
    eigen-direction of X^T X over grid-quantized embeddings, start vector
    pinned to basis e_1: s_i = x_i . v (map), v'_j = sum_i x_ij * s_i (a
    64-group reduce), integer right-shift rescale (div 2^20) between
    steps to stay in BIGINT. Output: the top-8 dimensions of the
    iteration-2 vector by magnitude — the 'dominant direction' report a
    drift monitor or PCA-whitening pipeline starts from. Overflow budget:
    |q| <= ~1e3, |v1| <= n*64e6 -> shifted <= n*61; |v2| <= n^2 * 64e3 *
    61e3-ish — inside 2^63 up to n ~ 10^6 vectors; beyond that, shift
    wider (the shift amount is the ONLY scale knob, and it is exact)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _GRID + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )

    def xt_x_v(pts: DataFrame, s: Column) -> DataFrame:
        """One power step: given per-row scalar s = x.v, return the
        64-row (pos, v) relation v_j = sum_i x_ij * s_i."""
        return (
            pts.select(s.alias("s"), F.posexplode("q").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.sum(F.col("x") * F.col("s")).alias("v"))
        )

    d1 = xt_x_v(q, F.col("q")[0])
    # the shifted v1 as a single-row 64-long array (sorted-collect rebuild)
    v1 = (
        d1.select("pos", F.expr(f"v div {_SHIFT}").alias("vs"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "vs"))),
                lambda t: t["vs"],
            ).alias("v")
        )
    )
    s2 = q.crossJoin(F.broadcast(v1)).select(
        "q",
        F.aggregate(
            F.zip_with("q", "v", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    d2 = xt_x_v(s2, F.col("s"))
    return (
        d2.select(
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.col("v").alias("component"),
            F.abs("v").cast("long").alias("magnitude"),
        )
        .orderBy(F.col("magnitude").desc(), "dim")
        .limit(8)
    )


_N_PROBES = 64

_SQL_QVEC = (
    "[CAST(floor(CAST(x AS DOUBLE) * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " for x in embedding]"
)


# 1-NN label agreement for a deterministic 64-probe sample against the full
# corpus — the standard quick probe of embedding quality (if nearest neighbors
# don't share labels, the space is noise). The probe side is hash-sampled and
# BROADCAST, so the scan is probes x corpus, never corpus x corpus.
@query(
    "embedding_knn_label_accuracy",
    f"""
WITH q AS (SELECT vec_id, label, {_SQL_QVEC} AS q FROM embeddings),
probes AS (SELECT * FROM q
           WHERE {sql_md5i("CAST(vec_id AS VARCHAR)")} % 100 < 13
           ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_N_PROBES}),
d AS (SELECT p.vec_id AS probe_id, p.label AS probe_label,
             c.vec_id AS cand_id, c.label AS cand_label,
             {_sql_sqdist('p.q', 'c.q')} AS dist
      FROM probes p JOIN q c ON p.vec_id != c.vec_id),
nn AS (SELECT probe_id, probe_label, cand_label FROM d
       QUALIFY row_number() OVER (PARTITION BY probe_id
                                  ORDER BY dist, cand_id) = 1)
SELECT count(*) AS n_probes,
       CAST(sum(CASE WHEN probe_label = cand_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_label_match,
       CAST(sum(CASE WHEN probe_label = cand_label THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS knn1_accuracy
FROM nn
""",
)
def embedding_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label agreement over a deterministic md5-sampled probe set
    ({_N_PROBES} probes, broadcast) against the full grid-quantized
    corpus: for each probe, does its nearest non-self neighbor (integer
    squared distance, (dist, cand_id) tie-break) share its label? The
    standard smoke probe of embedding quality — random vectors score at
    chance (1/|labels|), a trained space scores far above. Scan cost is
    probes x corpus with the probe matrix shipped into an Arrow
    mapInPandas kernel (ONE BLAS gemm per batch — the JVM HOF zip_with
    formulation measured 252 s at 400k vectors, the kernel 7.6 s),
    never corpus x corpus. Exactness survives the float kernel: every
    product and partial sum of the grid-quantized values is an integer
    below 2^53, so float64 arithmetic is bit-identical to the oracle's
    BIGINT math."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    hpct = F.pmod(texts.md5int32(F.col("vec_id").cast("string")), F.lit(100))
    probes = (
        q.where(hpct < 13)
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(_N_PROBES)
        .collect()  # contractually tiny: <= _N_PROBES rows (the PQ
        # query-side precedent — the probe matrix ships to every task)
    )
    p_ids = np.array([r["vec_id"] for r in probes], dtype="int64")
    p_labels = {int(r["vec_id"]): r["label"] for r in probes}
    p_mat = np.array([r["q"] for r in probes], dtype="float64")  # (P, 64)
    p_sq = (p_mat * p_mat).sum(axis=1)  # exact: integer-valued < 2^53

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Per-batch candidate scan: one (B,64)x(64,P) gemm gives all
        probe distances. Integer-valued float64 stays EXACT (every
        product and partial sum < 2^53), so results are bit-identical
        to the oracle's BIGINT arithmetic; per-batch argmin keeps the
        (dist, cand_id) tie-break, and the global argmin happens in the
        min-struct aggregate downstream."""
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array([np.asarray(v, dtype="float64") for v in pdf["q"]])
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            labels = pdf["label"].to_numpy()
            d2 = (
                (c * c).sum(axis=1)[:, None] - 2.0 * (c @ p_mat.T) + p_sq[None, :]
            )  # (B, P)
            d2[ids[:, None] == p_ids[None, :]] = np.inf  # exclude self
            rows = []
            for j in range(len(p_ids)):
                col = d2[:, j]
                best = np.flatnonzero(col == col.min())
                # (dist, cand_id) tie-break inside the batch
                k = best[np.argmin(ids[best])]
                if np.isfinite(col[k]):
                    rows.append(
                        (int(p_ids[j]), int(col[k]), int(ids[k]), int(labels[k]))
                    )
            yield pd.DataFrame(
                rows, columns=["probe_id", "dist", "cand_id", "cand_label"]
            )

    partial = q.mapInPandas(
        scan, schema="probe_id long, dist long, cand_id long, cand_label int"
    )
    nn = (
        partial.groupBy("probe_id")
        .agg(
            F.min(
                F.struct("dist", "cand_id", "cand_label")
            ).alias("m")
        )
        .select("probe_id", F.col("m.cand_label").alias("cand_label"))
    )
    label_map = F.create_map(
        *[F.lit(x) for pid in p_labels for x in (pid, p_labels[pid])]
    )
    nn = nn.withColumn("probe_label", label_map[F.col("probe_id")])
    match = F.sum(F.when(F.col("probe_label") == F.col("cand_label"), 1).otherwise(0))
    return nn.agg(
        F.count(F.lit(1)).alias("n_probes"),
        match.cast("long").alias("n_label_match"),
        (match.cast("double") / F.count(F.lit(1))).alias("knn1_accuracy"),
    )


_IVF_PROBE = 4

_IVF_TOPK = 5

_SQL_PROBES = (
    "list_transform(list_sort(["
    + ", ".join(f"{{'d': {_sql_d2(0, c, EMB_DIM)}, 'c': {c}}}" for c in range(_IVF_K))
    + f"])[1:{_IVF_PROBE}], s -> CAST(s['c'] AS INTEGER))"
)

_IVF_KNN_SQL = f"""
WITH n AS (SELECT vec_id, embedding, {SQL_NORM} AS nrm FROM embeddings
           WHERE {SQL_NORM} > 0),
cand AS (SELECT vec_id, embedding AS cv, nrm AS cn,
                CAST({_sql_argmin(0, _IVF_K, EMB_DIM)} AS INTEGER) AS centroid
         FROM n),
qp AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
              unnest({_SQL_PROBES}) AS centroid
       FROM n WHERE vec_id < 8),
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qv', 'c.cv', EMB_DIM)} / (qn * c.cn)", 6)} AS cosine
  FROM cand c JOIN qp USING (centroid) WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id)
            AS rank
  FROM pairs)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= {_IVF_TOPK}"""


def _probe_array() -> F.Column:
    """The `n_probe` nearest pinned-centroid ids, nearest first — a struct
    array_sort (lexicographic on (d2, c), same as DuckDB list_sort) over the
    16 Catalyst d2 folds, sliced and projected to ids."""
    structs = F.array(
        *[
            F.struct(_spark_d2(0, c, EMB_DIM).alias("d"), F.lit(c).alias("c"))
            for c in range(_IVF_K)
        ]
    )
    return F.transform(
        F.slice(F.array_sort(structs), 1, _IVF_PROBE), lambda s: s["c"].cast("int")
    )


# The production operator (operators/similarity.py:ivf_knn) keeps its iterative
# k-means coarse quantizer; this query runs the complete IVF retrieval path —
# assign -> probe -> exact cosine re-rank -> top-k — against the closed-form
# pinned codebook (similarity.pinned_codebook), which makes every stage
# SQL-expressible:
#
# - assignment / probe routing reuses the `_spark_d2` / `_spark_argmin`
#   Catalyst folds (bit-identical across engines — proven by
#   ivf_assign_pinned's hash rows);
# - the cosine re-rank reuses the Arrow-gemm-kernel + round-to-1e-6 convention
#   that knn_brute_force / knn_lsh hash-match against the fold-based DuckDB
#   twin.
@query("ivf_knn", _IVF_KNN_SQL)
def ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 over the PINNED 16-centroid codebook — the
    full retrieval path (coarse assign, probe the query's 4 nearest lists,
    exact cosine re-rank, windowed top-k) as one hash-checkable query.

    Shape is identical to the production operator
    (operators/similarity.py:ivf_knn, which fits its quantizer with
    seeded k-means and routes via the Arrow nearest-centroid kernel): the
    corpus gets one map-side nearest-centroid pass, the tiny probe side is
    broadcast, and the only shuffle is the per-query top-k window. At
    100 TB the corpus never reshuffles and the index "build" is
    embarrassingly parallel. The fitted-quantizer variant stays
    recall-tested against brute force in tests/test_llmops.py."""
    books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
    emb = table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id", "embedding", vectors.pd_norm("embedding").alias("nrm")
    ).where(F.col("nrm") > 0)
    # fold-faithful Arrow kernels (bit-identical to _spark_argmin /
    # _probe_array — tests/test_round5.py pins both) replace the
    # interpreted Catalyst folds: assignment + probe routing were ~90% of
    # this query's 3.7 s at sf0.1.
    cand = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
        vectors.pd_fold_assign_d2("embedding", books)["centroid"].alias("centroid"),
    )
    qry = n.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(
            vectors.pd_fold_topn_centroids("embedding", books, _IVF_PROBE)
        ).alias("centroid"),
    )
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    pairs = (
        cand.join(F.broadcast(qry), "centroid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(cos * 1000000) / 1000000).alias("cosine"),
        )
    )
    return similarity._ranked_topk(pairs, _IVF_TOPK)


# ================================ exact AUC ==================================


# Exact ROC-AUC of `value` as a purchase classifier via the rank statistic
# (Mann-Whitney U) with average ranks for ties. The whole computation happens
# at the DISTINCT-SCORE grain (bounded by the value domain, NOT the event
# count), in 2x-rank integers so there is no float until the single final
# division.
@query(
    "eval_value_auc",
    """
WITH e AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events),
g AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS npos
  FROM e GROUP BY cents),
r AS (
  SELECT cents, n, npos,
         COALESCE(CAST(sum(n) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                  0) AS cumbefore
  FROM g),
a AS (
  SELECT CAST(sum(npos * (2 * cumbefore + n + 1)) AS BIGINT) AS r2,
         CAST(sum(npos) AS BIGINT) AS p,
         CAST(sum(n - npos) AS BIGINT) AS q
  FROM r)
SELECT p AS n_pos, q AS n_neg,
       CASE WHEN p = 0 OR q = 0 THEN NULL
            ELSE round(CAST(r2 - p * (p + 1) AS DOUBLE) / (2 * p * q) * 1000000)
                 / 1000000 END AS auc
FROM a
""",
)
def eval_value_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of `value` scoring event_type = 'purchase', via the
    Mann-Whitney rank statistic with average ranks for ties:
    AUC = (R+ - P(P+1)/2) / (P*Q) where R+ sums the positives' average
    ranks. Computed in DOUBLED ranks so tie-averages stay integral
    (avg2 = 2*cum_before + n_group + 1); the only float op is the final
    division. The ranking window runs at the DISTINCT-SCORE grain —
    bounded by the value domain (<= 49k cents values), not by event
    count, so the single global window is a constant-size stage at any
    corpus scale; events are reduced map-side by the groupBy first."""
    e = events_table(spark, sf_dir).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = e.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "n",
        "npos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("cumbefore"),
    )
    a = r.agg(
        F.sum(F.col("npos") * (2 * F.col("cumbefore") + F.col("n") + 1))
        .cast("long")
        .alias("r2"),
        F.sum("npos").cast("long").alias("p"),
        F.sum(F.col("n") - F.col("npos")).cast("long").alias("q"),
    )
    p, qn = F.col("p"), F.col("q")
    return a.select(
        p.alias("n_pos"),
        qn.alias("n_neg"),
        F.when((p == 0) | (qn == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("r2") - p * (p + 1)).cast("double") / (2 * p * qn) * 1000000
            )
            / 1000000
        )
        .alias("auc"),
    )


# ============================= LSH bucket skew ===============================


# Per-band bucket-size distribution of the SAME banded hyperplane index
# dedup_embedding_cosine joins on — bucket count, max/mean size, and the
# implied candidate-pair mass sum(c*(c-1)/2). This is the report that PROVES
# the LSH equi-join is shuffle-safe before it runs: a hot bucket here is
# tomorrow's skewed join. Integer counts end to end.
@query(
    "embedding_bucket_skew",
    f"""
WITH n AS (SELECT vec_id, embedding AS e FROM embeddings
           WHERE {SQL_NORM} > 0),
keyed AS (
  SELECT vec_id, band, {_sql_band_key('e')} AS key
  FROM (SELECT vec_id, e, CAST(r.range AS BIGINT) AS band
        FROM n CROSS JOIN range(0, {_EMB_BANDS}) r)),
b AS (SELECT band, key, CAST(count(*) AS BIGINT) AS c
      FROM keyed GROUP BY band, key)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(c) AS BIGINT) AS max_bucket,
       CAST(sum(c) AS BIGINT) AS n_vectors,
       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs,
       round(CAST(sum(c) AS DOUBLE) / count(*) * 1000000) / 1000000
         AS mean_bucket
FROM b GROUP BY band
""",
)
def embedding_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size skew report for the banded hyperplane LSH index
    (identical planes/bands to dedup_embedding_cosine): per band, how
    many buckets, the hottest bucket, and the implied candidate-pair
    mass sum(c choose 2) — the exact number of pairs the band
    equi-join will emit. Run this BEFORE the join at a new scale: a
    bucket holding k vectors costs k^2/2 pairs, so max_bucket is the
    skew early-warning the AQE skew-join split otherwise absorbs
    silently. Map-side bucket ids, one (band, key) aggregate, 8-row
    rollup; all counts integral."""
    emb = table(spark, sf_dir, "embeddings")
    src = emb.select(
        "vec_id",
        F.col("embedding").alias("_v"),
        vectors.pd_norm("embedding").alias("_n"),
    ).where(F.col("_n") > 0)
    keyed = src.select(
        "vec_id",
        F.posexplode(vectors.pd_lsh_buckets_banded("_v", 64, _EMB_BANDS, 4)).alias(
            "band", "key"
        ),
    )
    b = keyed.groupBy("band", "key").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return b.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum("c").cast("long").alias("n_vectors"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("n_cand_pairs"),
        (
            F.round(F.sum("c").cast("double") / F.count(F.lit(1)) * 1000000) / 1000000
        ).alias("mean_bucket"),
    )


# ============================ norm distribution ==============================


# Per-label vector-norm profile (count, zero-norm count, min/max/mean of the
# 1e-6-rounded norm) — the degenerate-vector screen run before any cosine-based
# operator (the zero-norm guard every similarity op carries exists because of
# what this report surfaces).
@query(
    "embedding_norm_profile",
    f"""
WITH n AS (
  SELECT label, CAST(round({SQL_NORM} * 1000000) AS BIGINT) AS nq
  FROM embeddings)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(*) FILTER (WHERE nq = 0) AS BIGINT) AS n_zero_norm,
       round(CAST(min(nq) AS DOUBLE)) / 1000000 AS min_norm,
       round(CAST(max(nq) AS DOUBLE)) / 1000000 AS max_norm,
       round(CAST(sum(nq) AS DOUBLE) / count(*)) / 1000000 AS mean_norm
FROM n GROUP BY label
""",
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm profile of the embedding corpus: vector count,
    zero-norm (degenerate) count, and min/max/mean norm. The screen to
    run before any cosine operator — a zero-norm vector makes cosine
    undefined (every similarity op here filters them; this report says
    HOW MANY were dropped and whether one label is degenerate, e.g. a
    broken encoder shard emitting zeros). One map-side Arrow norm kernel
    + a |labels|-row aggregate. Exactness: the norm (a bit-identical
    left-to-right fold on both engines) is QUANTIZED to integer
    micro-units per row BEFORE aggregating, so sums are order-free
    integers and the mean is one final division — no float accumulation
    crosses the engines."""
    emb = table(spark, sf_dir, "embeddings")
    n = emb.select(
        "label",
        F.round(vectors.pd_norm("embedding") * 1000000).cast("long").alias("nq"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("nq") == 0, 1).otherwise(0)).cast("long").alias("n_zero_norm"),
        (F.round(F.min("nq").cast("double")) / 1000000).alias("min_norm"),
        (F.round(F.max("nq").cast("double")) / 1000000).alias("max_norm"),
        (F.round(F.sum("nq").cast("double") / F.count(F.lit(1))) / 1000000).alias(
            "mean_norm"
        ),
    )


# ===================== triplet margin violation rate =========================

_SQL_TRIPLETS = f"""
n AS (SELECT vec_id, label, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
      WHERE {SQL_NORM} > 0),
pos AS (
  SELECT vec_id, label, e, nrm,
         lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS pos_id
  FROM n),
half AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
ranked AS (
  SELECT vec_id, row_number() OVER (ORDER BY label, vec_id) AS rn FROM n),
neg AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neg_id
  FROM ranked a CROSS JOIN half
  JOIN ranked b ON b.rn = (a.rn - 1 + cnt // 2) % cnt + 1)"""


# Margin-based embedding quality — for deterministic (anchor, positive,
# negative) triplets, how often cos(a, p) < cos(a, n). The retrieval companion
# is embedding_knn_label_accuracy; this one measures the METRIC structure
# directly (a space can rank neighbors correctly and still have tiny margins
# that quantization will destroy).
@query(
    "embedding_triplet_violation_rate",
    f"""
WITH {_SQL_TRIPLETS},
t AS (
  SELECT p.label AS label,
         {sql_round(f"{sql_dot('p.e', 'pp.e', EMB_DIM)} / (p.nrm * pp.nrm)", 6)}
           AS cos_pos,
         {sql_round(f"{sql_dot('p.e', 'nn.e', EMB_DIM)} / (p.nrm * nn.nrm)", 6)}
           AS cos_neg
  FROM pos p
  JOIN pos pp ON p.pos_id = pp.vec_id
  JOIN neg ON p.vec_id = neg.vec_id
  JOIN pos nn ON neg.neg_id = nn.vec_id
  WHERE p.pos_id IS NOT NULL AND nn.label <> p.label)
SELECT label, CAST(count(*) AS BIGINT) AS n_triplets,
       CAST(count(*) FILTER (WHERE cos_pos < cos_neg) AS BIGINT) AS n_violations,
       round(CAST(count(*) FILTER (WHERE cos_pos < cos_neg) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS violation_rate
FROM t GROUP BY label
""",
)
def embedding_triplet_violation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet margin audit: anchor = each vector, positive = the next
    vec_id within its label, negative = the antipodal vector (rank + n/2
    in (label, vec_id) order; kept only when its label differs — the
    label-major ordering guarantees the antipodal partner lands in a
    DIFFERENT label block whenever no label holds half the corpus, so
    the triplet set stays non-degenerate under replicated or
    label-periodic corpora) — both pairings deterministic, so the
    triplet set is identical across engines and runs. A violation is cos(anchor, positive) <
    cos(anchor, negative) at 1e-6-rounded cosines: random vectors
    violate ~half the time, a trained space far less. Plan: one label
    window + one global-rank join at the VECTOR grain (ids only), then
    three id-keyed joins re-attach vectors; cosines are per-row
    left-to-right folds (linear in corpus size — the gemm kernel is for
    corpus x corpus scans, not row-aligned pairs)."""
    emb = table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    n = emb.select("vec_id", "label", "embedding", norm.alias("nrm")).where(
        F.col("nrm") > 0
    )
    pos = n.select(
        "vec_id",
        "label",
        "embedding",
        "nrm",
        F.lead("vec_id").over(Window.partitionBy("label").orderBy("vec_id")).alias("pos_id"),
    )
    # r9: exact global rank via partition-offset ranking (ranking.py) —
    # the vec-grain Window.orderBy with no partition key was a
    # single-task sort of the whole embedding corpus
    from ..operators import ranking as _ranking

    ranked, _ = _ranking.global_ranks(
        n.select("vec_id", "label"), "label", "vec_id", rank_col="rn"
    )
    ranked = ranked.select("vec_id", "rn")
    cnt = n.agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a = ranked.crossJoin(F.broadcast(cnt)).select(
        "vec_id",
        ((F.col("rn") - 1 + F.expr("cnt div 2")) % F.col("cnt") + 1).alias("nrn"),
    )
    neg = a.join(
        ranked.select(F.col("vec_id").alias("neg_id"), F.col("rn").alias("nrn")), "nrn"
    ).select("vec_id", "neg_id")

    def fold_dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    pp = pos.select(
        F.col("vec_id").alias("pos_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pn"),
    )
    nn = pos.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn_"),
    )
    t = (
        pos.where(F.col("pos_id").isNotNull())
        .join(pp, "pos_id")
        .join(neg, "vec_id")
        .join(nn, "neg_id")
        .where(F.col("neg_label") != F.col("label"))
        .select(
            "label",
            (F.round(fold_dot(F.col("embedding"), F.col("pe")) / (F.col("nrm") * F.col("pn")) * 1000000) / 1000000).alias("cos_pos"),
            (F.round(fold_dot(F.col("embedding"), F.col("ne")) / (F.col("nrm") * F.col("nn_")) * 1000000) / 1000000).alias("cos_neg"),
        )
    )
    return t.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        F.sum(F.when(F.col("cos_pos") < F.col("cos_neg"), 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
        (
            F.round(
                F.sum(F.when(F.col("cos_pos") < F.col("cos_neg"), 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
                * 1000000
            )
            / 1000000
        ).alias("violation_rate"),
    )


# =========================== IVF cell balance ================================


# List-size balance of the pinned-codebook IVF index (counts per coarse cell +
# the max/mean imbalance factor) — the IVF twin of embedding_bucket_skew: probe
# cost is proportional to the probed lists' sizes, so a hot cell is a hot
# query, and the imbalance factor is the early warning.
@query(
    "embedding_ivf_cell_balance",
    f"""
WITH a AS (
  SELECT CAST({_sql_argmin(0, _IVF_K, EMB_DIM)} AS BIGINT) AS centroid
  FROM embeddings),
c AS (SELECT centroid, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY centroid),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS k,
             CAST(max(n) AS BIGINT) AS max_n FROM c)
SELECT centroid, n AS cell_size,
       round(CAST(n * k AS DOUBLE) / total * 1000000) / 1000000
         AS balance_factor,
       round(CAST(max_n * k AS DOUBLE) / total * 1000000) / 1000000
         AS max_balance_factor
FROM c CROSS JOIN t
""",
)
def embedding_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-size balance of the pinned-codebook IVF index: per coarse
    cell, its size and balance factor (size / ideal uniform size), plus
    the corpus-wide max factor on every row — the IVF health twin of
    embedding_bucket_skew. Probe latency is the probed lists' sizes, so
    max_balance_factor IS the worst-case probe amplification; a real
    deployment re-trains or splits cells when it drifts. Map-side
    assignment via the fold-faithful Arrow kernel (bit-identical to the
    Catalyst `_spark_argmin` fold the oracle mirrors — the r8 swap that
    took the 400k-vector assignment from 127 s to 4.8 s, SCALE.md), one
    16-row aggregate."""
    from ..functions import vectors
    from ..operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
    a = emb.select(
        vectors.pd_fold_assign_d2("embedding", books)["centroid"]
        .cast("long")
        .alias("centroid")
    )
    c = a.groupBy("centroid").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n").cast("long").alias("max_n"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "centroid",
        F.col("n").alias("cell_size"),
        (
            F.round((F.col("n") * F.col("k")).cast("double") / F.col("total") * 1000000)
            / 1000000
        ).alias("balance_factor"),
        (
            F.round(
                (F.col("max_n") * F.col("k")).cast("double") / F.col("total") * 1000000
            )
            / 1000000
        ).alias("max_balance_factor"),
    )


# ==================== quantization-error log2 histogram ======================

_SQL_MIN_D2 = "least(" + ", ".join(_sql_d2(0, c, EMB_DIM) for c in range(_IVF_K)) + ")"


# Power-of-two histogram of each vector's distance to its nearest pinned IVF
# centroid — the quantizer drift monitor (bit-length bucketing, the
# olap_order_value_log2_histogram idiom: no libm log).
#
# Assignment math runs the fold-faithful Arrow kernels
# (vectors.pd_fold_assign_d2 / pd_fold_d2_tables), bit-identical to the
# `_sql_d2` folds the oracles mirror (tests/test_round5.py).
@query(
    "embedding_quantization_error_histogram",
    f"""
WITH a AS (
  SELECT CAST(round({_SQL_MIN_D2} * 1000000) AS BIGINT) AS q
  FROM embeddings),
b AS (SELECT q // 250000 AS bucket FROM a)
SELECT CAST(bucket AS BIGINT) AS bucket,
       round(CAST(bucket AS DOUBLE) / 4 * 100) / 100 AS lo_d2,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM b GROUP BY bucket
""",
)
def embedding_quantization_error_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Histogram of each vector's squared distance to its nearest pinned
    IVF centroid in 0.25-wide d2 buckets (micro-quantized then integer
    floor division — unit-norm vectors put d2 in a ~[1, 4] band, so
    linear buckets resolve what a log scale collapses). The right tail is
    the quantizer-drift signal: vectors far from every centroid are the
    ones a re-train would move. One Arrow kernel pass, one bounded
    rollup."""
    books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.round(vectors.pd_fold_assign_d2("embedding", books)["d2"] * 1000000)
        .cast("long")
        .alias("q")
    )
    b = a.select(F.expr("q div 250000").alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            (F.round(F.col("bucket").cast("double") / 4 * 100) / 100).alias("lo_d2"),
            "n_vectors",
        )
    )


# ======================= routing-margin profile ==============================

_SQL_D2_LIST = "[" + ", ".join(_sql_d2(0, c, EMB_DIM) for c in range(_IVF_K)) + "]"


# Per-vector routing-confidence margin (second-nearest minus nearest centroid
# d2) bucketed the same way — low margins are the vectors n_probe must rescue.
@query(
    "embedding_centroid_margin_profile",
    f"""
WITH s AS (SELECT list_sort({_SQL_D2_LIST}) AS d FROM embeddings),
m AS (SELECT greatest(CAST(round((d[2] - d[1]) * 1000000) AS BIGINT), 1) AS q
      FROM s),
b AS (SELECT CAST(length(bin(q)) AS BIGINT) AS bucket FROM m)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors
FROM b GROUP BY bucket
""",
)
def embedding_centroid_margin_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing-confidence margin of the pinned coarse quantizer: per
    vector, (second-nearest - nearest) centroid d2, micro-quantized and
    bucketed by bit length. Vectors in the low buckets sit on Voronoi
    boundaries — exactly the recall n_probe > 1 buys back; the profile
    sizes that trade. The 16 fold distances come from one Arrow kernel
    pass (pd_fold_d2_tables with the 1-subspace codebook); the sort is a
    16-element array op."""
    books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)
    emb = table(spark, sf_dir, "embeddings")
    s = emb.select(
        F.array_sort(
            F.element_at(vectors.pd_fold_d2_tables("embedding", books), 1)
        ).alias("d")
    )
    m = s.select(
        F.greatest(
            F.round((F.element_at("d", 2) - F.element_at("d", 1)) * 1000000).cast(
                "long"
            ),
            F.lit(1),
        ).alias("q")
    )
    b = m.select(F.length(F.bin("q")).cast("long").alias("bucket"))
    return b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


# ======================== label purity per cell ==============================

_SQL_ARGMIN_IVF = (
    "list_min(["
    + ", ".join(f"{{'d': {_sql_d2(0, c, EMB_DIM)}, 'c': {c}}}" for c in range(_IVF_K))
    + "])['c']"
)


@query(
    "embedding_label_centroid_purity",
    f"""
WITH a AS (
  SELECT CAST({_SQL_ARGMIN_IVF} AS BIGINT) AS cell, label FROM embeddings),
c AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n
      FROM a GROUP BY cell, label),
p AS (SELECT cell, CAST(sum(n) AS BIGINT) AS cell_size,
             CAST(max(n) AS BIGINT) AS majority_n
      FROM c GROUP BY cell)
SELECT cell, cell_size, majority_n,
       CAST(majority_n * 1000000 // cell_size AS BIGINT) AS purity_ppm
FROM p
""",
)
def embedding_label_centroid_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer purity against the fixture labels: per pinned IVF
    cell, its size, the majority label's count, and integer-ppm purity —
    the quality scalar for 'do the cells mean anything semantically'.
    Kernel assignment + two bounded rollups ((cell, label) then cell);
    nothing beyond |cells x labels| rows ever shuffles."""
    books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(
        vectors.pd_fold_assign_d2("embedding", books)["centroid"]
        .cast("long")
        .alias("cell"),
        "label",
    )
    c = a.groupBy("cell", "label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    p = c.groupBy("cell").agg(
        F.sum("n").cast("long").alias("cell_size"),
        F.max("n").cast("long").alias("majority_n"),
    )
    return p.select(
        "cell",
        "cell_size",
        "majority_n",
        F.expr("(majority_n * 1000000) div cell_size").cast("long").alias("purity_ppm"),
    )


# a different query slice than ivf_knn (vec_id < 8) so the two hash rows
# are independent evidence
_IDX_Q_LO, _IDX_Q_HI = 8, 16

#: bump when the on-disk index layout or assignment kernel changes — a
#: stale index from older code must never be reused
_INDEX_CONTRACT = "v1-pinned16-foldfaithful"


def _ivf_index_sql(q_lo: int, q_hi: int) -> str:
    """The stored-index oracle, parameterized by the query slice: inline
    pinned-codebook assignment over the WHOLE corpus, probe routing,
    exact cosine re-rank, per-query top-k. Reused by
    ivf_index_append_search with a disjoint slice."""
    return f"""
WITH n AS (SELECT vec_id, embedding, {SQL_NORM} AS nrm FROM embeddings
           WHERE {SQL_NORM} > 0),
cand AS (SELECT vec_id, embedding AS cv, nrm AS cn,
                CAST({_sql_argmin(0, _IVF_K, EMB_DIM)} AS INTEGER) AS centroid
         FROM n),
qp AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
              unnest({_SQL_PROBES}) AS centroid
       FROM n WHERE vec_id >= {q_lo} AND vec_id < {q_hi}),
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qv', 'c.cv', EMB_DIM)} / (qn * c.cn)", 6)} AS cosine
  FROM cand c JOIN qp USING (centroid) WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id)
            AS rank
  FROM pairs)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= {_IVF_TOPK}"""


_IVF_INDEX_SQL = _ivf_index_sql(_IDX_Q_LO, _IDX_Q_HI)


def _corpus_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of the embeddings table (ADVICE r9 /
    r9 verdict item 4): the sorted (relative-name, size, mtime_ns) of
    every file under embeddings.parquet. Regenerated fixture data —
    even a single mutated vector rewritten in place — changes size or
    mtime, re-keying the index path so a stale index can never serve a
    corpus it wasn't built from. Metadata-only by design: hashing the
    vectors themselves would cost a full corpus scan per lookup, which
    is the cost the stored index exists to avoid."""
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    parts: list[str] = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for fname in sorted(files):
                p = os.path.join(root, fname)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, src)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts) or "missing"


def _index_path(sf_dir: str) -> str:
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{_INDEX_CONTRACT}|{_corpus_fingerprint(sf_dir)}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"laposte_ivf_index_{tag}")


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once: the stored index is keyed by (sf_dir, contract
    version, corpus fingerprint); a complete build leaves parquet
    _SUCCESS markers that gate reuse, so a torn build rebuilds, a
    code-contract bump re-keys, and mutated corpus data re-keys
    (_corpus_fingerprint). The build lands in a unique scratch dir and
    is PUBLISHED by an atomic rename — two processes building
    concurrently can never interleave overwrite-mode writes into the
    served path; the rename loser discards its build and serves the
    winner's."""
    path = _index_path(sf_dir)
    done = all(
        os.path.exists(os.path.join(path, part, "_SUCCESS"))
        for part in ("centroids.parquet", "postings.parquet")
    )
    if not done:
        scratch = f"{path}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
        emb = table(spark, sf_dir, "embeddings")
        similarity.ivf_index_write(
            emb, scratch, n_centroids=_IVF_K, centers=books, fold_faithful=True
        )
        try:
            os.rename(scratch, path)  # atomic publish (same filesystem)
        except OSError:
            # Two distinct causes land here (ADVICE r10): a concurrent
            # builder published first (the common, benign race), or the
            # rename failed for an unrelated reason — permissions, a
            # torn destination created outside the rename protocol.
            # Don't assume the race: re-verify the destination's
            # _SUCCESS markers before serving it.
            published = all(
                os.path.exists(os.path.join(path, part, "_SUCCESS"))
                for part in ("centroids.parquet", "postings.parquet")
            )
            if published:
                shutil.rmtree(scratch, ignore_errors=True)
            else:
                # torn/absent destination: clear it and retry the
                # publish once; a second failure raises rather than
                # silently serving a torn index.
                shutil.rmtree(path, ignore_errors=True)
                os.rename(scratch, path)
    return path


# The stored-index operator (hive-partitioned-by-centroid postings, plan-time
# partition pruning) with the closed-form codebook pinned
# (similarity.pinned_codebook). The index is built ONCE per (sf_dir,
# contract-version) under the system temp dir; every later run, in this process
# or the next, searches the STORED index, which is exactly the
# build-once/search-many lifecycle a production ANN service runs. Assignment
# and probe routing use the fold-faithful Arrow kernels (bit-identical to the
# Catalyst/DuckDB d2 folds), so the stored postings and the oracle's inline
# recomputation agree bit-for-bit.
@query("ivf_index_search", _IVF_INDEX_SQL)
def ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_IVF_TOPK} ANN over the PERSISTED pinned-codebook IVF index:
    build once (hive-partitioned postings), then probe the {_IVF_PROBE}
    nearest centroid directories — the scan is partition-pruned at plan
    time to the probed centroid ids (PartitionFilters pinned in
    tests/test_round8.py), exact-cosine re-ranked, per-query top-k.

    vs `ivf_knn` (same codebook, query slice vec_id<8, fit-per-query
    shape): this is the stored-index half of the lifecycle — at 100 TB
    the corpus-side assignment pass happens once at build, and a search
    touches only n_probe/k of the postings bytes."""
    idx = _ensure_index(spark, sf_dir)
    queries_df = (
        table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") >= _IDX_Q_LO) & (F.col("vec_id") < _IDX_Q_HI))
        .select("vec_id", "embedding")
    )
    return similarity.ivf_index_search(
        spark,
        idx,
        queries_df,
        k=_IVF_TOPK,
        n_probe=_IVF_PROBE,
        fold_faithful=True,
    )


# ========================= embedding dimension stats =========================

_DIMQ = 1 << 20  # the pinned-Lloyd quantization grid


@query(
    "embedding_dim_stats",
    f"""
WITH x AS (
  SELECT CAST(r.range + 1 AS BIGINT) AS dim,
         CAST(floor(CAST(embedding[r.range + 1] AS DOUBLE) * {_DIMQ} + 0.5)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, {EMB_DIM}) r)
SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(sum(q) * 1000000 // count(*) AS BIGINT) AS mean_q_ppm,
       CAST(sum(q * q) // count(*) AS BIGINT) AS m2_q
FROM x GROUP BY dim
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension first/second moments of the embedding matrix — the
    feature-space health check (dead dimensions, scale drift between
    model versions, anisotropy). Components quantize to the pinned-Lloyd
    grid (floor(x * 2^20 + 0.5): exact BIGINT arithmetic on both
    engines, no float-sum order sensitivity); one posexplode + one
    64-group aggregate, fully map-side combinable — the plan is a
    single Exchange carrying 64 rows at any corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * _DIMQ + F.lit(0.5)).cast("long")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select((F.col("pos") + 1).cast("long").alias("dim"), q.alias("q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("q").cast("long").alias("sum_q"),
            F.expr("(sum(q) * 1000000) div count(*)").cast("long").alias("mean_q_ppm"),
            F.expr("sum(q * q) div count(*)").cast("long").alias("m2_q"),
        )
    )


# ========================= kNN label precision ===============================

_PREC_K = 5


@query(
    "eval_knn_label_precision",
    f"""
WITH {_SQL_KNN_BASE},
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
  FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id)
            AS rank
  FROM pairs),
top AS (SELECT query_id, cand_id FROM ranked WHERE rank <= {_PREC_K}),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT t.query_id AS query_id,
       CAST(ql.label AS BIGINT) AS label,
       CAST(sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       CAST(sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS precision_ppm
FROM top t
JOIN lab ql ON t.query_id = ql.vec_id
JOIN lab cl ON t.cand_id = cl.vec_id
GROUP BY t.query_id, ql.label
""",
)
def eval_knn_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label precision@5 of exact cosine retrieval for the pinned query
    slice (vec_id < 8): the retrieval-eval loop behind embedding-model
    and index-parameter selection ('do my neighbors share my label?').
    Reuses the brute-force top-k operator (broadcast queries, windowed
    per-query top-k — no global sort), then two broadcast label joins
    and an 8-group rollup. Integer ppm, one final integer division."""
    emb = table(spark, sf_dir, "embeddings")
    top = similarity.brute_force_knn(emb, emb.where(F.col("vec_id") < 8), k=_PREC_K)
    lab = emb.select("vec_id", "label")
    ql = lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    cl = lab.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("clabel"))
    match = F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
    return (
        top.join(F.broadcast(ql), "query_id")
        .join(F.broadcast(cl), "cand_id")
        .groupBy("query_id", F.col("qlabel").cast("long").alias("label"))
        .agg(
            F.sum(match).cast("long").alias("n_match"),
            F.expr(
                "(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) * 1000000)"
                " div count(*)"
            )
            .cast("long")
            .alias("precision_ppm"),
        )
    )


# ========================= score calibration =================================

_CAL_BINS = 10

_CAL_MAX_CENTS = 50000  # score = cents / 50000, the fixture value ceiling


@query(
    "eval_score_calibration",
    f"""
WITH s AS (
  SELECT least(CAST(round(value * 100) AS BIGINT) * {_CAL_BINS}
               // {_CAL_MAX_CENTS}, {_CAL_BINS - 1}) AS bin,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) * 1000000 // (count(*) * {_CAL_MAX_CENTS}) AS BIGINT)
         AS mean_score_ppm,
       CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS observed_ppm
FROM s GROUP BY bin
""",
)
def eval_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the value-derived pseudo-score
    predicting event_type = 'purchase': decile score bins with the
    bin's mean predicted score and observed positive rate, both integer
    ppm — well-calibrated means the two track. This is the calibration
    audit every learned quality/propensity scorer gets before its
    scores gate data selection. One map-side binning + a 10-group
    aggregate; integer cents end to end, two final integer divisions."""
    ev = events_table(spark, sf_dir).where(F.col("value").isNotNull())
    s = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).select(
        F.least(
            F.expr(f"(cents * {_CAL_BINS}) div {_CAL_MAX_CENTS}"),
            F.lit(_CAL_BINS - 1).cast("long"),
        ).cast("long").alias("bin"),
        "cents",
        "y",
    )
    return s.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"(sum(cents) * 1000000) div (count(*) * {_CAL_MAX_CENTS})")
        .cast("long")
        .alias("mean_score_ppm"),
        F.expr("(sum(y) * 1000000) div count(*)").cast("long").alias("observed_ppm"),
    )


# ========================= principal direction (exact) =======================

_PD_Q = 1 << 20


@query(
    "embedding_principal_direction",
    f"""
WITH qv AS (
  SELECT vec_id,
         [CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * {_PD_Q} + 0.5) AS BIGINT)
          for i in range(0, {EMB_DIM})] AS q
  FROM embeddings),
d AS (SELECT vec_id, list_reduce(list_prepend(CAST(0 AS HUGEINT),
             [CAST(x AS HUGEINT) for x in q]), (a, b) -> a + b) AS dot1
      FROM qv),
x AS (SELECT CAST(r.range + 1 AS BIGINT) AS dim,
             CAST(qv.q[r.range + 1] AS HUGEINT) * d.dot1 AS term
      FROM qv JOIN d USING (vec_id) CROSS JOIN range(0, {EMB_DIM}) r)
SELECT dim, CAST(sum(term) AS VARCHAR) AS component
FROM x GROUP BY dim
""",
)
def embedding_principal_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT power-iteration step toward the embedding matrix's
    principal direction: v1 = A^T (A 1) over the quantized integer
    matrix q = floor(x * 2^20 + 0.5) with the all-ones start vector —
    every product and sum is an integer (DECIMAL(38,0) == HUGEINT), so
    the iterate is bit-reproducible in SQL with zero float-order
    sensitivity (the anisotropy / dominant-direction probe run before
    whitening decisions; further iterations renormalize and go float,
    which is why the REGISTERED probe pins exactly one step).

    Plan: one map-side row-dot (q . 1), one posexplode, one 64-group
    integer aggregate — a single Exchange carrying 64 rows at any
    corpus size. Output serialized as VARCHAR: the component magnitudes
    exceed BIGINT by construction (driver canon requires atomic
    columns; the string form is exact)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PD_Q + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    d = qv.select(
        "vec_id",
        "q",
        F.aggregate(
            "q",
            F.lit(0).cast("decimal(38,0)"),
            lambda a, b: a + b.cast("decimal(38,0)"),
        ).alias("dot1"),
    )
    return (
        d.select(F.posexplode("q").alias("pos", "qd"), "dot1")
        .select(
            (F.col("pos") + 1).cast("long").alias("dim"),
            (F.col("qd").cast("decimal(38,0)") * F.col("dot1")).alias("term"),
        )
        .groupBy("dim")
        .agg(F.sum("term").cast("decimal(38,0)").cast("string").alias("component"))
    )


# ===================== matryoshka prefix recall ===============================

_MAT_DIM = 16  # prefix dims (full = 64)

_MAT_K = 5

_MAT_Q_LO, _MAT_Q_HI = 16, 24  # a query slice unused by the other knn rows

_SQL_NORM16 = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    f"[CAST(embedding[i] AS DOUBLE) * embedding[i] for i in range(1, {_MAT_DIM + 1})]), "
    "(a, x) -> a + x))"
)


# Recall@k of TRUNCATED-dimension retrieval vs full-dimension exact retrieval —
# the measurement behind Matryoshka-style (prefix-nested) embeddings, where a
# 100 TB ANN tier serves the first d' dims and a re-rank tier the full vector.
# Exact top-5 both ways (the corpus never shuffles — queries broadcast), then a
# per-query overlap count.
@query(
    "eval_matryoshka_prefix_recall",
    f"""
WITH n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm,
                  {_SQL_NORM16} AS nrm16
           FROM embeddings WHERE {SQL_NORM} > 0 AND {_SQL_NORM16} > 0),
q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, nrm16 AS qn16 FROM n
      WHERE vec_id >= {_MAT_Q_LO} AND vec_id < {_MAT_Q_HI}),
fp AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
       FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
fr AS (SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
       FROM fp),
full_k AS (SELECT query_id, cand_id FROM fr WHERE rank <= {_MAT_K}),
pp AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qe', 'c.e', _MAT_DIM)} / (qn16 * c.nrm16)", 6)}
                AS cosine
       FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
pr AS (SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
       FROM pp),
pre_k AS (SELECT query_id, cand_id FROM pr WHERE rank <= {_MAT_K}),
ov AS (SELECT f.query_id, count(*) AS n_overlap
       FROM full_k f JOIN pre_k p
         ON f.query_id = p.query_id AND f.cand_id = p.cand_id
       GROUP BY f.query_id)
SELECT q.query_id AS query_id,
       CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
       {sql_round(f"COALESCE(n_overlap, 0) * 1.0 / {_MAT_K}", 6)} AS recall
FROM q LEFT JOIN ov ON q.query_id = ov.query_id
""",
)
def eval_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_MAT_K} of {_MAT_DIM}-dim PREFIX retrieval against
    full-64-dim exact retrieval for the pinned query slice — the
    accuracy/cost curve point that justifies (or kills) serving a
    truncated-embedding ANN tier at 100 TB (prefix dims cost 4x less
    memory bandwidth per probe). Both sides are exact brute-force top-k
    with the corpus never shuffling (queries broadcast, per-query top-k
    window); the overlap join is at (query, cand) grain — {_MAT_K}*|q|
    rows. Rounded-cosine ties break on cand_id in both engines, the
    established knn-oracle construction."""
    from pyspark.sql import Window

    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    # ONE corpus pass computing BOTH cosines (r11 verdict item 4 follow-up:
    # the two-brute_force_knn form scanned the corpus twice and ran two
    # per-query top-k exchanges; round-12 profiling put it at the top of
    # the cross-round outlier list). Same rounding (1e-6) and tie order
    # (cosine desc, cand_id), so full/prefix top-k sets — and therefore
    # the recall rows — are bit-identical to the previous plan and to the
    # SQL twin; a row in both top-ks is exactly one overlap member.
    sides = []
    for id_alias, v, n, n16 in (
        ("cand_id", "cv", "cn", "cn16"),
        ("query_id", "qv", "qn", "qn16"),
    ):
        sides.append(
            emb.select(
                F.col("vec_id").alias(id_alias),
                F.col("embedding").alias(v),
                vectors.pd_norm("embedding").alias(n),
                F.sqrt(
                    F.aggregate(
                        F.slice("embedding", 1, _MAT_DIM),
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x.cast("double"),
                    )
                ).alias(n16),
            ).where((F.col(n) > 0) & (F.col(n16) > 0))
        )
    cand, qry = sides
    q_pred = (F.col("query_id") >= _MAT_Q_LO) & (F.col("query_id") < _MAT_Q_HI)
    qry = qry.where(q_pred)
    cos_full = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    cos_pre = vectors.pd_dot("qv16", "cv16") / (F.col("qn16") * F.col("cn16"))
    pairs = (
        cand.crossJoin(F.broadcast(qry))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("qv16", F.slice("qv", 1, _MAT_DIM))
        .withColumn("cv16", F.slice("cv", 1, _MAT_DIM))
        .select(
            "query_id",
            "cand_id",
            (F.round(cos_full * 1e6) / 1e6).alias("cos_full"),
            (F.round(cos_pre * 1e6) / 1e6).alias("cos_pre"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("cos_full").desc(), "cand_id")
    wp = Window.partitionBy("query_id").orderBy(F.col("cos_pre").desc(), "cand_id")
    ov = (
        pairs.withColumn("rf", F.row_number().over(wf))
        .withColumn("rp", F.row_number().over(wp))
        .where((F.col("rf") <= _MAT_K) & (F.col("rp") <= _MAT_K))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    queries = qry.select("query_id")
    return (
        queries.join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.round(
                    F.coalesce("n_overlap", F.lit(0)) * 1.0 / _MAT_K * 1e6
                )
                / 1e6
            ).alias("recall"),
        )
    )


_NDCG_DIM = 16  # prefix dims (full = 64)

_NDCG_K = 5

_NDCG_Q_LO, _NDCG_Q_HI = 24, 32  # a query slice unused by the other eval rows

# Integer micro-unit position weights: w_i = round(1e6 / log2(i+1)).
# Graded relevance rel = K - gt_rank + 1 (top ground-truth neighbor is
# worth K). IDCG is the ideal list's exact integer unit total.
_NDCG_W = {i: round(1e6 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)}

_NDCG_IDCG = sum((_NDCG_K - i + 1) * w for i, w in _NDCG_W.items())

_SQL_W_CASE = (
    "CASE r.rank "
    + " ".join(f"WHEN {i} THEN {w}" for i, w in _NDCG_W.items())
    + " END"
)

_SQL_PRE_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    f"[CAST(embedding[i] AS DOUBLE) * embedding[i] for i in range(1, {_NDCG_DIM + 1})]), "
    "(a, x) -> a + x))"
)


# NDCG@k of truncated-dimension (Matryoshka-tier) retrieval against
# full-dimension exact retrieval. Complements eval_matryoshka_prefix_recall,
# which only counts set overlap: NDCG grades WHERE in the list the right
# neighbors landed, the metric retrieval tiers are actually tuned on. The DCG
# arithmetic runs in INTEGER micro-units (position weights round(1e6/log2(i+1))
# computed once in Python and embedded as identical literals), so the per-query
# aggregation is an order-free exact integer sum — no cross-row float summation
# whose association order could differ between engines; the single float
# division by the constant IDCG happens once per query on identical inputs.
@query(
    "eval_ndcg_truncated",
    f"""
WITH n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm,
                  {_SQL_PRE_NORM} AS nrmp
           FROM embeddings WHERE {SQL_NORM} > 0 AND {_SQL_PRE_NORM} > 0),
q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, nrmp AS qnp FROM n
      WHERE vec_id >= {_NDCG_Q_LO} AND vec_id < {_NDCG_Q_HI}),
fp AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
       FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
fr AS (SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
       FROM fp),
gt AS (SELECT query_id, cand_id, {_NDCG_K} - rank + 1 AS rel
       FROM fr WHERE rank <= {_NDCG_K}),
pp AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qe', 'c.e', _NDCG_DIM)} / (qnp * c.nrmp)", 6)}
                AS cosine
       FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
pr AS (SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
       FROM pp),
ret AS (SELECT query_id, cand_id, rank FROM pr WHERE rank <= {_NDCG_K}),
scored AS (
  SELECT r.query_id AS query_id,
         COALESCE(g.rel, 0) * ({_SQL_W_CASE}) AS units,
         CASE WHEN g.cand_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM ret r LEFT JOIN gt g
    ON r.query_id = g.query_id AND r.cand_id = g.cand_id)
SELECT q.query_id AS query_id,
       CAST(COALESCE(sum(hit), 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(sum(units), 0) AS BIGINT) AS dcg_units,
       {sql_round(f"COALESCE(sum(units), 0) * 1.0 / {_NDCG_IDCG}", 6)} AS ndcg
FROM q LEFT JOIN scored s ON q.query_id = s.query_id
GROUP BY q.query_id
ORDER BY query_id
""",
)
def eval_ndcg_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{_NDCG_K} of {_NDCG_DIM}-dim prefix retrieval graded against
    full-64-dim exact retrieval for the pinned query slice: ground-truth
    relevance rel = {_NDCG_K}-gt_rank+1, position discount
    1/log2(pos+1) as integer micro-units, NDCG = DCG/IDCG. This is the
    position-aware companion to eval_matryoshka_prefix_recall — two
    tiers with identical recall can differ badly on NDCG when one finds
    the TOP neighbor late, and NDCG is what a 100 TB serving tier is
    tuned on. Both rankings are exact brute-force top-k with broadcast
    queries (the corpus never shuffles); the DCG sum is an exact
    integer aggregate (order-free by construction), and the only float
    op is one division by the constant IDCG per query."""
    from pyspark.sql import Window

    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    # ONE corpus pass computing BOTH cosines (r14 optimization, guide
    # §1.2/§2.4 — the VERDICT r13 item-2 fusion, same construction as
    # eval_matryoshka_prefix_recall's r12 fix): the two-brute_force_knn
    # form scanned the corpus + ran the norm/dot Arrow kernels TWICE and
    # joined the two top-k lists on (query_id, cand_id). Fused, the cross
    # join carries cos_full AND cos_pre, the two rank windows share one
    # query_id exchange, and the gt/ret join disappears — a row of the
    # prefix top-k is a ground-truth hit exactly when its full rank is
    # also <= K. Rounding (1e-6) and tie order (cosine desc, cand_id) are
    # unchanged, so both top-k sets — and every output row — stay
    # bit-identical to the SQL twin. NOT persisted (the r13 measured
    # negative: the prefix-norm fold is cheap per scan); this shape also
    # halves the COLD pass, which persists cannot.
    sides = []
    for id_alias, v, n, np_ in (
        ("cand_id", "cv", "cn", "cnp"),
        ("query_id", "qv", "qn", "qnp"),
    ):
        sides.append(
            emb.select(
                F.col("vec_id").alias(id_alias),
                F.col("embedding").alias(v),
                vectors.pd_norm("embedding").alias(n),
                F.sqrt(
                    F.aggregate(
                        F.slice("embedding", 1, _NDCG_DIM),
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x.cast("double"),
                    )
                ).alias(np_),
            ).where((F.col(n) > 0) & (F.col(np_) > 0))
        )
    cand, qry = sides
    q_pred = (F.col("query_id") >= _NDCG_Q_LO) & (F.col("query_id") < _NDCG_Q_HI)
    qry = qry.where(q_pred)
    cos_full = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    cos_pre = vectors.pd_dot("qv16", "cv16") / (F.col("qnp") * F.col("cnp"))
    pairs = (
        cand.crossJoin(F.broadcast(qry))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("qv16", F.slice("qv", 1, _NDCG_DIM))
        .withColumn("cv16", F.slice("cv", 1, _NDCG_DIM))
        .select(
            "query_id",
            "cand_id",
            (F.round(cos_full * 1e6) / 1e6).alias("cos_full"),
            (F.round(cos_pre * 1e6) / 1e6).alias("cos_pre"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("cos_full").desc(), "cand_id")
    wp = Window.partitionBy("query_id").orderBy(F.col("cos_pre").desc(), "cand_id")
    w_expr = F.lit(None).cast("long")
    for i, w in _NDCG_W.items():
        w_expr = F.when(F.col("rp") == i, F.lit(w)).otherwise(w_expr)
    scored = (
        pairs.withColumn("rf", F.row_number().over(wf))
        .withColumn("rp", F.row_number().over(wp))
        .where(F.col("rp") <= _NDCG_K)
        .select(
            "query_id",
            (
                F.when(
                    F.col("rf") <= _NDCG_K, F.lit(_NDCG_K) - F.col("rf") + 1
                ).otherwise(F.lit(0))
                * w_expr
            ).alias("units"),
            F.when(F.col("rf") <= _NDCG_K, 1).otherwise(0).alias("hit"),
        )
    )
    queries = qry.select("query_id")
    return (
        queries.join(scored, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.sum("units"), F.lit(0)).cast("long").alias("dcg_units"),
            (
                F.round(
                    F.coalesce(F.sum("units"), F.lit(0))
                    * 1.0
                    / _NDCG_IDCG
                    * 1e6
                )
                / 1e6
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


_SIL_K = 16  # pinned IVF centroids (ivf_assign_pinned codebook)

_SIL_PROBES = 32  # sampled points: vec_id < _SIL_PROBES

# int8 grid: q_d = clamp(floor(x_d * 127 + 0.5), +-127), emitted as DOUBLE
# so the exact-integer-in-double arithmetic is explicit in both engines
_SQL_Q127 = (
    "[CAST(greatest(-127, least(127, floor(CAST(x AS DOUBLE) * 127"
    " + CAST(0.5 AS DOUBLE)))) AS DOUBLE) for x in embedding]"
)


# Sampled silhouette coefficient of the pinned 16-centroid IVF clustering, with
# every pairwise distance computed on a COMMON int8 grid so the distance sums
# are integer-valued doubles — exact at any aggregation order (every partial
# sum stays an integer < 2^53, so IEEE addition is associative here) — and the
# only true float ops are the final per-cluster mean divisions and the
# silhouette ratio, each exactly-rounded on identical inputs in both engines.
# The sampled shape (silhouette for a pinned probe set against the full corpus)
# is also the only shape that exists at 100 TB: full silhouette is O(n^2) by
# definition; per-probe cost here is one broadcast of the probes and a single
# corpus scan.
@query(
    "eval_cluster_silhouette",
    f"""
WITH assign AS (SELECT vec_id, centroid FROM ({_IVF_SQL})),
q AS (SELECT vec_id, {_SQL_Q127} AS qe FROM embeddings),
n2 AS (SELECT vec_id, qe, {sql_dot("qe", "qe", EMB_DIM)} AS sq FROM q),
c AS (SELECT n2.vec_id AS c_id, qe AS c_q, sq AS c_n2, centroid AS c_c
      FROM n2 JOIN assign ON n2.vec_id = assign.vec_id),
s AS (SELECT c_id AS s_id, c_q AS s_q, c_n2 AS s_n2, c_c AS s_c
      FROM c WHERE c_id < {_SIL_PROBES}),
pairs AS (
  SELECT s_id, s_c, c_c,
         s_n2 + c_n2 - 2 * {sql_dot("s_q", "c_q", EMB_DIM)} AS d2
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
    assignment (ivf_assign_pinned's argmin), with distances as
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
    books = similarity.pinned_codebook(1, _SIL_K, EMB_DIM)[0]
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


# =================== IVF incremental append (r11 verdict item 8) ===================

# disjoint query slice from ivf_knn (vec_id<8) and ivf_index_search
# ([8,16)) so the three hash rows are independent evidence
_APD_Q_LO, _APD_Q_HI = 16, 24

# base = vec_id % _APD_MOD != 0 (75% of the corpus), appended batch =
# the remaining 25% — under ivf_index_append's default rebuild_fraction
# (0.5), so the registered lifecycle exercises the DELTA path; the
# compaction path is pinned by tests/test_round12.py instead.
_APD_MOD = 4

#: bump when the append layout or assignment kernel changes
_APD_CONTRACT = "v1-append-pinned16-foldfaithful"


def _append_index_path(sf_dir: str) -> str:
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{_APD_CONTRACT}|{_corpus_fingerprint(sf_dir)}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"laposte_ivf_apidx_{tag}")


def _ensure_appended_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-base-then-append, idempotently: the base index over 3/4 of
    the corpus publishes by atomic rename (the ivf_index_search protocol); the
    remaining 1/4 is then appended as the deterministic 'append-v1'
    delta (ivf_index_append publishes it by rename too, and the
    deterministic tag makes a concurrent duplicate append converge).
    Every later run finds both published and goes straight to search."""
    path = _append_index_path(sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    base_done = all(
        os.path.exists(os.path.join(path, part, "_SUCCESS"))
        for part in ("centroids.parquet", "postings.parquet")
    )
    if not base_done:
        scratch = f"{path}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
        similarity.ivf_index_write(
            emb.where(F.col("vec_id") % _APD_MOD != 0),
            scratch,
            n_centroids=_IVF_K,
            centers=books,
            fold_faithful=True,
        )
        try:
            os.rename(scratch, path)
        except OSError:
            published = all(
                os.path.exists(os.path.join(path, part, "_SUCCESS"))
                for part in ("centroids.parquet", "postings.parquet")
            )
            if published:
                shutil.rmtree(scratch, ignore_errors=True)
            else:
                shutil.rmtree(path, ignore_errors=True)
                os.rename(scratch, path)
    delta_done = os.path.exists(
        os.path.join(path, "deltas", "append-v1", "postings.parquet", "_SUCCESS")
    )
    if not delta_done:
        similarity.ivf_index_append(
            spark,
            path,
            emb.where(F.col("vec_id") % _APD_MOD == 0),
            fold_faithful=True,
            delta_tag="append-v1",
        )
    return path


@query("ivf_index_append_search", _ivf_index_sql(_APD_Q_LO, _APD_Q_HI))
def ivf_index_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over an IVF index grown by INCREMENTAL APPEND (r11
    verdict item 8): the base index is built over 3/4 of the corpus,
    the final 1/4 arrives later as an immutable delta —
    operators/similarity.ivf_index_append assigns the new vectors to
    the EXISTING pinned centroids in one map-side pass and publishes
    hive-partitioned delta postings by atomic rename; nothing in the
    base is rewritten. Search unions base + delta postings with
    centroid partition pruning in every branch, so the oracle — the
    inline recomputation over the WHOLE corpus — must match
    bit-for-bit: append-then-search == build-everything-then-search,
    which is exactly the delta path's contract (the equality against a
    from-scratch rebuild is additionally pinned in
    tests/test_round12.py, along with the drift-triggered compaction)."""
    idx = _ensure_appended_index(spark, sf_dir)
    queries_df = (
        table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") >= _APD_Q_LO) & (F.col("vec_id") < _APD_Q_HI))
        .select("vec_id", "embedding")
    )
    return similarity.ivf_index_search(
        spark, idx, queries_df, k=_IVF_TOPK, n_probe=_IVF_PROBE, fold_faithful=True
    )


# a query slice unused by ivf_knn (<8), ivf_index_search ([8,16)) and
# ivf_index_append_search / matryoshka ([16,24)) — independent evidence
_RK_Q_LO, _RK_Q_HI = 24, 32


# Recall@k of the IVF retrieval path against exact brute-force top-k for a
# pinned query slice — THE acceptance number for any approximate index (ivf_knn
# / ivf_index_search return results; this query says how good they are, per
# query, oracle-checked). Both sides run inside the one query: the IVF side is
# the full pinned-codebook path (assign -> probe -> exact cosine re-rank ->
# top-k), the truth side is brute-force top-k over the same corpus; recall is
# the exact integer overlap over k. At 100 TB the truth side is computed once
# on a sampled query panel exactly like this slice — the measurement cost is
# |panel| * corpus dots, embarrassingly parallel, corpus never shuffles (both
# sides broadcast the queries).
@query(
    "eval_ivf_recall_at_k",
    f"""
WITH n AS (SELECT vec_id, embedding, {SQL_NORM} AS nrm FROM embeddings
           WHERE {SQL_NORM} > 0),
cand AS (SELECT vec_id, embedding AS cv, nrm AS cn,
                CAST({_sql_argmin(0, _IVF_K, EMB_DIM)} AS INTEGER) AS centroid
         FROM n),
qp AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
              unnest({_SQL_PROBES}) AS centroid
       FROM n WHERE vec_id >= {_RK_Q_LO} AND vec_id < {_RK_Q_HI}),
ip AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qv', 'c.cv', EMB_DIM)} / (qn * c.cn)", 6)} AS cosine
       FROM cand c JOIN qp USING (centroid) WHERE c.vec_id <> query_id),
ivf_k AS (SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, cand_id) AS rank
            FROM ip) WHERE rank <= {_IVF_TOPK}),
q0 AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n
       WHERE vec_id >= {_RK_Q_LO} AND vec_id < {_RK_Q_HI}),
bp AS (SELECT query_id, c.vec_id AS cand_id,
              {sql_round(f"{sql_dot('qv', 'c.embedding', EMB_DIM)} / (qn * c.nrm)", 6)}
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
    books = similarity.pinned_codebook(1, _IVF_K, EMB_DIM)[0]
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


# The corpus's pairwise-cosine geometry profile over a deterministic per-vector
# md5-bucket pair sample whose rate is COUNT-DERIVED in both engines (r12
# verdict item 3: rate = max(64, n^2 // 3906), keeping sampled pair mass fixed
# at ~2k pairs so total work is O(scan) at any corpus size; bucket ids by
# truncating integer division on 1e-6-rounded cosines, bit-deterministic).
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


# ===================== A/B sample-ratio mismatch ==============================


# The SRM guardrail every experimentation platform runs BEFORE reading a single
# metric — deterministic unit bucketing (user_id parity), exact per-variant
# unit counts, chi-square against the 50/50 design carried as the integer
# identity chi2 = (na-nb)^2 / n, and the 5%-level flag evaluated as the exact
# integer cross-multiplication 100*(na-nb)^2 > 384*n (3.841 rounded to the 2dp
# the comparison needs) so the verdict can never flip on a float boundary.
@query(
    "eval_ab_sample_ratio_mismatch",
    """
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM u)
SELECT na AS n_variant_a, nb AS n_variant_b,
       round((na - nb) * (na - nb) * 1.0 / (na + nb) * 1e6) / 1e6 AS chi_square,
       CASE WHEN 100 * (na - nb) * (na - nb) > 384 * (na + nb)
            THEN 1 ELSE 0 END AS srm_flag
FROM v
""",
)
def eval_ab_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 experiment bucketed on
    user_id parity: exact distinct-unit counts per variant, the
    chi-square statistic via the 2-cell identity (na-nb)^2/(na+nb)
    (one rounded division — the only float in the query), and the
    5%-level flag (critical value 3.84) as the exact integer comparison
    100*(na-nb)^2 > 384*n. An SRM means the bucketing itself is broken
    (bot filtering, logging loss, assignment bias) and every downstream
    metric read is invalid — which is why the check is integer-exact
    and runs before anything else. One distinct + one fold; the
    distinct is the only shuffle and it's on the unit key."""
    from . import events_table

    u = events_table(spark, sf_dir).select("user_id").distinct()
    v = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    d = na - nb
    return v.select(
        na.alias("n_variant_a"),
        nb.alias("n_variant_b"),
        (F.round(d * d * 1.0 / (na + nb) * 1e6) / 1e6).alias("chi_square"),
        F.when(100 * d * d > 384 * (na + nb), 1).otherwise(0).alias("srm_flag"),
    )


@query(
    "eval_langid_auc",
    f"""
WITH lab AS (
  SELECT doc_id,
         {sql_round(f"CAST({sql_stop_hits('en')} AS DOUBLE)"
                    " / greatest(len(t), 1)", 6)} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM (SELECT doc_id, lang, {sql_toks('text')} AS t FROM documents)),
grp AS (
  SELECT score, CAST(sum(pos) AS BIGINT) AS cp,
         CAST(sum(1 - pos) AS BIGINT) AS cn
  FROM lab GROUP BY score),
cum AS (
  SELECT score, cp, cn,
         CAST(coalesce(sum(cn) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_below
  FROM grp),
u AS (SELECT sum(cp * (2 * cum_below + cn)) AS u2,
             sum(cp) AS p, sum(cn) AS n
      FROM cum)
SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
       {sql_round('CAST(u2 AS DOUBLE) / (2 * p * n)', 6)} AS auc
FROM u""",
)
def eval_langid_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the English stopword-ratio signal (the lang_id
    feature) against the documents table's ground-truth `lang` label —
    the calibration check before a language gate filters a corpus. AUC
    is the Mann-Whitney U with average-rank tie handling, computed
    WITHOUT float accumulation: per distinct score, U2 += cp *
    (2 * cum_neg_below + cn) in BIGINTs, then the one division
    U2 / (2*P*N) at the end — float summation order across engines can
    never diverge because there is no float sum. (The fixture assigns
    `lang` independently of the text, so ~0.5 is the CORRECT answer
    here — the null-calibration case the harness must get right; a real
    multilingual corpus moves it.) Scale shape: scores collapse to
    their distinct values in one partial-aggregated shuffle and the
    cumulative window runs over distinct scores only — corpus-sized
    work is exactly one scan + one aggregate."""
    docs = table(spark, sf_dir, "documents")
    score = F.round(
        texts.stopword_hits("text", "en").cast("double")
        / F.greatest(texts.token_count("text"), F.lit(1))
        * 1e6
    ) / 1e6
    lab = docs.select(
        "doc_id",
        score.alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    grp = lab.groupBy("score").agg(
        F.sum("pos").cast("long").alias("cp"),
        F.sum(1 - F.col("pos")).cast("long").alias("cn"),
    )
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.withColumn(
        "cum_below", F.coalesce(F.sum("cn").over(wcum), F.lit(0)).cast("long")
    )
    u = cum.agg(
        F.sum(F.col("cp") * (2 * F.col("cum_below") + F.col("cn"))).alias("u2"),
        F.sum("cp").alias("p"),
        F.sum("cn").alias("n"),
    )
    auc = F.round(
        F.col("u2").cast("double") / (2 * F.col("p") * F.col("n")) * 1e6
    ) / 1e6
    return u.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


# The registered knn_graph / dedup_semantic use the FIXTURE-PINNED 4x6 banding
# (64 buckets per band). The semdedup decade ladder ran that configuration at
# 200k vectors and measured the saturation auto-banding exists to prevent: 3.1k
# occupancy against the 256-per-bucket candidate cap, planted-pair capture
# dropping to 8224/10000 (.scale/semdedup_decade_fixedband.json). Same story —
# and same fix — as dedup_embedding_cosine -> dedup_embedding_cosine_auto.
#
# At fixture scale (n <= 4096 with floor 4 planes... in fact n/64 <= 64) auto
# planes == the pinned 6 only when n == 4096; the fixture sizes give planes =
# 4-5, so these twins carry their own hash rows rather than aliasing the pinned
# ones.
@query(
    "knn_graph_auto",
    f"""
WITH {_SQL_KNN_AUTO_CTES}
SELECT query_id, cand_id, cosine, rank FROM knn""",
)
def knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate top-3 neighbor graph with COUNT-DERIVED
    band width (planes = auto_band_planes(count(*)), the same gate as
    dedup_embedding_cosine_auto): expected bucket occupancy stays ~64
    as the corpus grows, so the 256-cap never saturates and candidate
    mass stays ~linear. The semdedup decade ladder measured the pinned
    twin's failure mode at 200k vectors (capture 0.82,
    .scale/semdedup_decade_fixedband.json) — this is the configuration
    a production SemDeDup run uses. One column-pruned count() sizes the
    planes identically in both engines."""
    return _auto_graph(spark, sf_dir)


_DB_EPS = 0.4  # cosine neighborhood threshold (shared with the dedup family)

_DB_MINPTS = 3  # neighbors (excluding self) required for a core point


# DBSCAN over the embedding corpus with the cosine >= 0.4 neighborhood relation
# coming from the AUTO-BANDED hyperplane-LSH pair join
# (dedup_embedding_cosine_auto's exact machinery — approximate neighborhoods,
# exactly the trade every at-scale DBSCAN implementation makes): a vector is
# CORE if it has >= 3 neighbors, clusters are connected components over
# core-core edges (min-core-id labels), non-core vectors adjacent to a core are
# BORDER (assigned their minimum adjacent core's cluster — the deterministic
# resolution of DBSCAN's classic border ambiguity), and everything else is
# NOISE. Completes the clustering inventory next to the centroid (pq/ivf),
# medoid (kmedoid_step), and spectral (power_iteration) families with the
# density family — the one that finds non-convex clusters and flags outliers
# for free.
#
# Scale shape: neighborhoods from the banded equi-join (never all-pairs,
# count-derived band width), degrees one aggregate, core-core CC a recursive
# min-label fold (oracle) / pointer jumping (Spark), border resolution one
# join. Everything integer or 4-decimal cosine.
@query(
    "embedding_dbscan_lite",
    f"""
WITH RECURSIVE np AS ({_SQL_AUTO_PLANES}),
n AS MATERIALIZED (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
      WHERE {SQL_NORM} > 0),
keyed AS MATERIALIZED (
  SELECT vec_id, band, {_sql_band_key('e', 'planes')} AS key
  FROM (SELECT vec_id, e, CAST(r.range AS BIGINT) AS band, planes
        FROM n CROSS JOIN np CROSS JOIN range(0, {_EMB_BANDS}) r)),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM (SELECT id_a, id_b,
               {sql_round(f"{sql_dot('va.e', 'vb.e')} / (va.nrm * vb.nrm)", 4)}
                 AS cosine
        FROM cand JOIN n va ON id_a = va.vec_id JOIN n vb ON id_b = vb.vec_id)
  WHERE cosine >= CAST({_DB_EPS} AS DOUBLE)),
sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
core AS MATERIALIZED (SELECT u FROM deg WHERE d >= {_DB_MINPTS}),
ce AS MATERIALIZED (SELECT s.u, s.v FROM sym s
       WHERE s.u IN (SELECT u FROM core) AND s.v IN (SELECT u FROM core)),
reach(node, r) AS (
  SELECT u, u FROM core
  UNION
  SELECT reach.node, e.v FROM reach JOIN ce e ON reach.r = e.u),
comp AS MATERIALIZED (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
border AS MATERIALIZED (
  SELECT s.u AS node, min(c.cluster_id) AS cluster_id
  FROM sym s JOIN comp c ON s.v = c.node
  WHERE s.u NOT IN (SELECT u FROM core)
  GROUP BY s.u)
SELECT emb.vec_id,
       CASE WHEN comp.node IS NOT NULL THEN 'core'
            WHEN border.node IS NOT NULL THEN 'border'
            ELSE 'noise' END AS label,
       CAST(coalesce(comp.cluster_id, border.cluster_id) AS BIGINT)
         AS cluster_id
FROM embeddings emb
LEFT JOIN comp ON emb.vec_id = comp.node
LEFT JOIN border ON emb.vec_id = border.node""",
)
def embedding_dbscan_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over embeddings (eps: cosine >= {_DB_EPS}, minPts
    {_DB_MINPTS}, neighborhoods from the auto-banded LSH pair join):
    per vector its label (core / border / noise) and cluster id (the
    minimum core vec_id of its component; border points take the
    minimum adjacent core's cluster — deterministic; noise gets NULL).
    Plan: banded candidate equi-join (count-derived planes — never
    all-pairs), one degree aggregate, pointer-jumping connected
    components over core-core edges only (typically a small fraction of
    the corpus), one border-resolution join, and a left-join back to
    every vector. The oracle mirrors it with a recursive min-label
    CTE."""
    emb = table(spark, sf_dir, "embeddings")
    planes = dedup.auto_band_planes(table_rowcount(spark, sf_dir, "embeddings"))
    from ..operators import caches

    # the verified pair relation feeds FOUR consumers (degrees, both
    # core-core semi-joins via sym, border resolution) — persist so the
    # banded candidate join + cosine verify run once (measured 33 s ->
    # ~14 s at sf1); tracked for batch-runner reclamation
    pairs = caches.track(
        dedup.embedding_dup_pairs_lsh(
            emb,
            threshold=_DB_EPS,
            bands=_EMB_BANDS,
            band_planes=planes,
            persist_banded=False,
        )
        .select("id_a", "id_b")
        .persist()
    )
    sym = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    core = deg.where(F.col("d") >= _DB_MINPTS).select("u")
    ce = (
        sym.join(core.withColumnRenamed("u", "cu"), sym["u"] == F.col("cu"), "left_semi")
        .join(core.withColumnRenamed("u", "cv"), sym["v"] == F.col("cv"), "left_semi")
        .select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    # CC only labels nodes that appear in an edge; a core whose
    # neighbors are all non-core has no core-core edge and forms its
    # own singleton cluster (the oracle's reach seeds from every core)
    cc = dedup.connected_components(ce)
    lone = (
        core.withColumnRenamed("u", "node")
        .join(cc.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    comp = cc.unionByName(lone)
    border = (
        sym.join(comp.withColumnRenamed("node", "v"), "v")
        .join(core.withColumnRenamed("u", "cu"), sym["u"] == F.col("cu"), "left_anti")
        .groupBy("u")
        .agg(F.min("component").alias("b_cluster"))
        .withColumnRenamed("u", "vec_id")
    )
    comp_v = comp.select(
        F.col("node").alias("vec_id"), F.col("component").alias("c_cluster")
    )
    return (
        emb.select("vec_id")
        .join(comp_v, "vec_id", "left")
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("c_cluster").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("label"),
            F.coalesce("c_cluster", "b_cluster").cast("long").alias("cluster_id"),
        )
    )
