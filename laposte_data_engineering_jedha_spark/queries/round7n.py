"""Round-7 session batch 14 — packing budget curve, user lifetime, and
IVF index balance, all with full DuckDB oracle twins.

- corpus_packing_efficiency_curve: padding waste at sequence lengths
  512/1024/2048/4096 from ONE doc-length aggregate — the
  context-length budget table (corpus_pack_bins reports one
  configuration; this sweeps the whole decision). Pure integer
  arithmetic (ceil-division in BIGINT).
- events_user_lifetime_stats: per-user active lifespan rolled into a
  day-bucket histogram — the churn-horizon view RFM's recency single
  number hides.
- embedding_ivf_cell_balance: list-size balance of the pinned-codebook
  IVF index (counts per coarse cell + the max/mean imbalance factor) —
  the IVF twin of embedding_bucket_skew: probe cost is proportional to
  the probed lists' sizes, so a hot cell is a hot query, and the
  imbalance factor is the early warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table
from . import events_table, query, table
from .llmops import sql_toks
from .round5 import _EMB_DIM, _IVF_K, _spark_argmin, _sql_argmin

# ======================= packing efficiency curve ============================

_PACK_LENGTHS = [512, 1024, 2048, 4096]


@query(
    "corpus_packing_efficiency_curve",
    f"""
WITH d AS (
  SELECT CAST(len({sql_toks('text')}) AS BIGINT) AS n_tok
  FROM documents WHERE trim(text) <> ''),
g AS (
  SELECT L, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(((n_tok + L - 1) // L) * L - n_tok) AS BIGINT) AS padding_tokens,
         CAST(sum((n_tok + L - 1) // L) AS BIGINT) AS n_sequences
  FROM d CROSS JOIN (VALUES ({'), ('.join(str(k) for k in _PACK_LENGTHS)})) AS ls(L)
  GROUP BY L)
SELECT CAST(L AS BIGINT) AS seq_len, n_docs, total_tokens, n_sequences,
       padding_tokens,
       round(CAST(padding_tokens AS DOUBLE)
             / (total_tokens + padding_tokens) * 1000000) / 1000000
         AS waste_fraction
FROM g
""",
)
def corpus_packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of document-boundary packing at sequence lengths
    {_PACK_LENGTHS}: one token-length scan, then each candidate length
    is pure integer ceil-division over the broadcast 4-row length
    relation — the table that sizes a training context budget (longer
    sequences waste more padding per doc but fewer boundaries; the
    crossover is corpus-specific and this reads it off directly).
    Compare corpus_pack_bins (one configuration's bin report) — this is
    the sweep that picks the configuration."""
    docs = table(spark, sf_dir, "documents").where(F.trim("text") != "")
    from ..functions import texts

    d = docs.select(F.size(texts.tokens("text")).cast("long").alias("n_tok"))
    ls = local_table(spark, [(k,) for k in _PACK_LENGTHS], "L int")
    g = (
        d.crossJoin(F.broadcast(ls))
        .groupBy("L")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(
                F.expr("((n_tok + L - 1) div L) * L - n_tok")
            )
            .cast("long")
            .alias("padding_tokens"),
            F.sum(F.expr("(n_tok + L - 1) div L")).cast("long").alias("n_sequences"),
        )
    )
    return g.select(
        F.col("L").cast("long").alias("seq_len"),
        "n_docs",
        "total_tokens",
        "n_sequences",
        "padding_tokens",
        (
            F.round(
                F.col("padding_tokens").cast("double")
                / (F.col("total_tokens") + F.col("padding_tokens"))
                * 1000000
            )
            / 1000000
        ).alias("waste_fraction"),
    )


# ========================== user lifetime histogram ==========================


@query(
    "events_user_lifetime_stats",
    """
WITH u AS (
  SELECT user_id,
         CAST(datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
              AS BIGINT) AS lifetime_days,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id)
SELECT lifetime_days, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS n_events
FROM u GROUP BY lifetime_days
""",
)
def events_user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-lifespan histogram: users bucketed by the day span between
    their first and last event, with the event mass each bucket holds —
    the churn-horizon distribution RFM's single recency number hides
    (day-0 users are drive-bys; the right tail is the retained core).
    One user aggregate + a day-grain histogram rollup; integer days."""
    ev = events_table(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
        .cast("long")
        .alias("lifetime_days"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return u.groupBy("lifetime_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


# =========================== IVF cell balance ================================


@query(
    "embedding_ivf_cell_balance",
    f"""
WITH a AS (
  SELECT CAST({_sql_argmin(0, _IVF_K, _EMB_DIM)} AS BIGINT) AS centroid
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
    books = similarity.pinned_codebook(1, _IVF_K, _EMB_DIM)[0]
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
