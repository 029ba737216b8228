"""Round-13 session batch 3 — language-model statistics, importance
sampling, and a classic warehouse report:

- text_bigram_kn_probs: Kneser-Ney smoothed bigram probabilities (the
  n-gram LM estimator actually used for corpus quality scoring and
  decontamination perplexity baselines) — absolute discount D=0.75,
  continuation probabilities from distinct-predecessor counts, top-20.
  Every probability is a FIXED-SHAPE float expression over integer
  counts (two divisions, one multiply, one add, parenthesized the same
  way in both engines) — no float accumulation, so cross-engine
  determinism needs no tricks.
- corpus_importance_sample: weight-proportional Poisson sampling with a
  deterministic md5 coin — include doc i iff u_i < k*w_i/W, with
  INTEGER weight mass (quality rounded to 1e-4, scaled to ints, summed
  as BIGINT) so the normalizer is exact in both engines. The quality-
  weighted downsampling step of a data-mixing pipeline, reproducible
  run-to-run (the property grid-search sweeps need).
- olap_decile_lift: customers ranked into spend deciles (ntile with a
  deterministic tie-break), per-decile revenue share and cumulative
  share — the lift/concentration report behind "top decile = X% of
  revenue". Integer cents all the way; one division per output row.
Reference parity note: the reference has no LM/eval/DQ surface;
extension layer for the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts
from ..operators import caches
from . import query, spread_table, table
from .llmops import sql_quality, sql_round, sql_toks


_KN_D = 0.75
_KN_TOP = 20


@query(
    "text_bigram_kn_probs",
    f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
bg0 AS (
  SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bg
  FROM toks WHERE len(t) >= 2),
bg AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         count(*) AS c
  FROM bg0 GROUP BY 1, 2),
lhs AS (
  SELECT w1, sum(c) AS cw1, count(*) AS n1p_w1
  FROM bg GROUP BY w1),
rhs AS (SELECT w2, count(*) AS n1p_w2 FROM bg GROUP BY w2),
tot AS (SELECT count(*) AS n1p_all FROM bg),
p AS (
  SELECT bg.w1, bg.w2, bg.c,
         {sql_round(
             f"(greatest(CAST(bg.c AS DOUBLE) - {_KN_D}, 0) / cw1)"
             f" + (({_KN_D} * n1p_w1 / cw1)"
             " * (CAST(n1p_w2 AS DOUBLE) / n1p_all))", 6)} AS p_kn
  FROM bg JOIN lhs USING (w1) JOIN rhs USING (w2) CROSS JOIN tot)
SELECT w1, w2, CAST(c AS BIGINT) AS c, p_kn
FROM p ORDER BY p_kn DESC, w1, w2 LIMIT {_KN_TOP}""",
)
def text_bigram_kn_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the corpus
    token stream (adjacent within-document pairs, repeats counted):
    P(w2|w1) = max(c - D, 0)/c(w1) + (D * N1+(w1,.)/c(w1)) *
    (N1+(.,w2)/N1+(.,.)) with D = {_KN_D} — the smoothing that scores
    a word by how many DISTINCT contexts it follows, not how often (the
    "San Francisco" correction every n-gram LM needs). Top-{_KN_TOP}
    with a total (p desc, w1, w2) tie-break. Scale shape: the bigram
    explode is map-side (one sequence per doc), the three count
    relations are partial-aggregated shuffles keyed by w1 / w2 /
    nothing, the continuation total broadcasts, and every probability
    is a fixed-shape scalar expression over integer counts — no float
    summation anywhere, so the 1e-6 rounding is bit-stable across
    engines."""
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    t = texts.tokens("text")
    bg0 = docs.where(F.size(t) >= 2).select(F.explode(texts.bigrams(t)).alias("bgs"))
    bg = caches.track(
        bg0.select(
            F.substring_index("bgs", " ", 1).alias("w1"),
            F.substring_index("bgs", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        # bigram-TYPE grain (vocab-bounded, far smaller than the token
        # stream) feeding four consumers — lhs, rhs, tot, and the final
        # join. Without the persist each consumer re-runs the tokenize +
        # explode + first aggregate over documents (measured 4 scans,
        # 4.4 s at sf0.1; persisted: 1 scan).
        .persist()
    )
    lhs = bg.groupBy("w1").agg(
        F.sum("c").alias("cw1"), F.count(F.lit(1)).alias("n1p_w1")
    )
    rhs = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_w2"))
    tot = bg.agg(F.count(F.lit(1)).alias("n1p_all"))
    p_kn = (
        F.greatest(F.col("c").cast("double") - _KN_D, F.lit(0.0)) / F.col("cw1")
    ) + (
        (F.lit(_KN_D) * F.col("n1p_w1") / F.col("cw1"))
        * (F.col("n1p_w2").cast("double") / F.col("n1p_all"))
    )
    return (
        bg.join(lhs, "w1")
        .join(rhs, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            (F.round(p_kn * 1e6) / 1e6).alias("p_kn"),
        )
        .orderBy(F.col("p_kn").desc(), "w1", "w2")
        .limit(_KN_TOP)
    )


_IS_K = 100  # expected sample size
_IS_SCALE = 10_000  # quality -> integer weight scale
_TWO52 = float(1 << 52)


@query(
    "corpus_importance_sample",
    f"""
WITH q AS (
  SELECT doc_id,
         CAST(round(quality * {_IS_SCALE}) AS BIGINT) AS w
  FROM {sql_quality()} qq),
tot AS (SELECT sum(w) AS big_w FROM q),
coin AS (
  SELECT doc_id, w,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_is'), 1, 13)
              AS BIGINT) AS h
  FROM q)
SELECT doc_id, CAST(w AS BIGINT) AS weight
FROM coin CROSS JOIN tot
WHERE (CAST(h AS DOUBLE) / {_TWO52!r})
      < (CAST({_IS_K} * w AS DOUBLE) / CAST(big_w AS DOUBLE))
ORDER BY doc_id""",
)
def corpus_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional (Poisson) importance sample:
    document i is kept iff u_i < k*w_i/W where u_i is a 52-bit md5 coin
    in [0,1), w_i = round(quality * 1e4) is an INTEGER weight and W is
    their exact BIGINT sum — expected sample size {_IS_K}, inclusion
    probability proportional to quality, and bit-reproducible across
    runs and engines (no RNG state, no float weight accumulation; the
    only floats are two single divisions of exact integers). This is
    the quality-weighted downsampling stage of a data-mixing pipeline —
    at 100 TB it is one scan with a map-side coin, the weight total
    being the only (tiny) aggregate."""
    # r13 optimization (guide §2.4/§2.5): q is consumed TWICE (the weight
    # total + the coin pass) and the regex-heavy quality expression over a
    # single-row-group file evaluated serially on one task per reference —
    # spread the scan (order-free: BIGINT weight sum) and stats-gate
    # persist the narrow (doc_id, w) projection so the expression runs
    # once, in parallel. At 100 TB the scan splits itself (spread no-op)
    # and the gate keeps the recompute plan.
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    w = F.round(texts.quality_score("text") * _IS_SCALE).cast("long")
    q = docs.select("doc_id", w.alias("w"))
    q = caches.persist_if_small(q, docs)
    tot = q.agg(F.sum("w").alias("big_w"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("_is"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    coin = q.select("doc_id", "w", h.alias("h"))
    return (
        coin.crossJoin(F.broadcast(tot))
        .where(
            (F.col("h").cast("double") / F.lit(_TWO52))
            < ((F.lit(_IS_K) * F.col("w")).cast("double")
               / F.col("big_w").cast("double"))
        )
        .select("doc_id", F.col("w").cast("long").alias("weight"))
        .orderBy("doc_id")
    )


@query(
    "olap_decile_lift",
    f"""
WITH spend AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
dec AS (
  SELECT custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, custkey) AS decile
  FROM spend),
agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM dec GROUP BY decile),
tot AS (SELECT sum(cents) AS total FROM agg),
cum AS (
  SELECT decile, n_customers, cents,
         CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents
  FROM agg)
SELECT decile, n_customers, cents,
       {sql_round('CAST(cents AS DOUBLE) / total', 6)} AS share,
       {sql_round('CAST(cum_cents AS DOUBLE) / total', 6)} AS cum_share
FROM cum CROSS JOIN tot ORDER BY decile""",
)
def olap_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend concentration by decile — the lift report behind
    "the top 10% of customers carry X% of revenue": per-customer
    lifetime cents (integer), ntile(10) with a deterministic
    (cents desc, custkey) tie-break, then per-decile revenue, share and
    cumulative share (integer sums, one division per output row). Scale
    shape: the per-customer rollup is the only corpus-sized shuffle;
    the ntile runs over customers (already 1/|orders-per-customer| the
    size) and the final relation is 10 rows. At true 100 TB the global
    ntile window would move to a two-pass quantile-cut assignment
    (approxQuantile cuts + a map-side bucket join, the
    write_zorder_clustered pattern); at warehouse scale the single
    window on the aggregated relation is the simpler correct plan."""
    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wdec = Window.orderBy(F.col("cents").desc(), "custkey")
    dec = spend.withColumn("decile", F.ntile(10).over(wdec))
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = agg.agg(F.sum("cents").alias("total"))
    wcum = Window.orderBy("decile")
    cum = agg.withColumn("cum_cents", F.sum("cents").over(wcum).cast("long"))
    share = F.round(F.col("cents").cast("double") / F.col("total") * 1e6) / 1e6
    cshare = F.round(F.col("cum_cents").cast("double") / F.col("total") * 1e6) / 1e6
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_customers", "cents",
            share.alias("share"), cshare.alias("cum_share"),
        )
        .orderBy("decile")
    )
