"""Round-13 session batch 9 — a fourth sketch family, word-association
mining, and the seasonal upgrade of the Holt trajectory monitor:

- sketch_ams_f2: AMS (Alon-Matias-Szegedy) second-moment sketch over
  the event-type stream, audited against the exact F2 = sum c_t^2 —
  the self-join-size / repeat-rate estimator that completes the sketch
  shelf (HLL/KMV: distinct counts; Count-Min: point frequencies;
  theta: set ops; AMS: the 2nd moment). Each estimator row j keeps ONE
  signed counter S_j = sum_t sign_j(t) * c_t with a deterministic
  md5-derived +-1 hash, estimate = S_j^2; the report shows every row's
  estimate next to the truth. Signs are md5-seeded, so the ORACLE
  rebuilds the identical counters — the auditable-sketch property.
- text_pmi_lift_pairs: word-association mining over adjacent token
  pairs: lift(w1,w2) = P(w1 w2) / (P(w1) P(w2)) = c_bg * N /
  (c_w1 * c_w2), min-count filtered, top-20 by (lift desc, pair). Lift
  is exp2(PMI) — the SAME ranking as pointwise mutual information
  without a cross-engine log (all-integer products in DECIMAL(38,0),
  one exactly-rounded double division at the end; log2's last-ULP is
  the only part of PMI two engines can disagree on, so it is the part
  this query deliberately does not compute).
- events_holt_winters_daily: additive HOLT-WINTERS (period-7 weekday
  seasonality) per event type over daily counts — the seasonality-aware
  upgrade of events_holt_forecast (which pages every Monday on any
  weekend-dipping feed; this one learns the dip). Integer fixed-point
  fold (alpha=1/4, beta=1/8, gamma=1/16, all power-of-two floors) in
  one Arrow batch per type; the oracle is a recursive CTE whose state
  row carries the seasonal 7-LIST (list-typed recursive state — DuckDB
  replays the identical slot updates via a guarded list comprehension).

Reference parity note: the reference has no sketch/LM/monitoring
surface; extension layer for the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import caches
from ..streaming import jobs
from . import events_table, query, spread_table
from .llmops import sql_round, sql_toks

# =========================== AMS second moment ===============================

_AMS_DEPTH = 6

# +1 when the 13-hex-digit md5 prefix is even, else -1 — same integer
# bucket recipe as the Count-Min rows (round13d), reduced mod 2.
_AMS_SIGN = (
    "(1 - 2 * (CAST('0x' || substr(md5(event_type || '_ams' "
    "|| CAST(j AS VARCHAR)), 1, 13) AS BIGINT) % 2))"
)


@query(
    "sketch_ams_f2",
    f"""
WITH truth AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
f2 AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT) AS f2_true
  FROM truth),
signed AS (
  SELECT CAST(r.range AS BIGINT) AS j, {_AMS_SIGN} * c AS sc
  FROM truth CROSS JOIN range(0, {_AMS_DEPTH}) r),
sk AS (
  SELECT j, CAST(sum(sc) AS BIGINT) AS s FROM signed GROUP BY j)
SELECT j, s AS sketch_sum,
       CAST(CAST(s AS DECIMAL(38,0)) * s AS BIGINT) AS f2_estimate,
       f2_true,
       CAST(CAST(s AS DECIMAL(38,0)) * s - f2_true AS BIGINT) AS signed_error
FROM sk CROSS JOIN f2 ORDER BY j""",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch audit: {_AMS_DEPTH} independent +-1-hash
    estimator rows over the event-type frequency vector, each reporting
    its signed counter S_j, the estimate S_j^2, the exact
    F2 = sum c_t^2, and the signed error (E[S^2] = F2; a production
    deployment medians rows to tighten the bound, this report keeps the
    rows so the variance itself is visible). Scale shape: the counters
    would accumulate map-side (+-c per arrival, mergeable by +) — here
    they reduce from the type-count relation, so the sketch costs one
    |types| x depth explode on top of a single partial-aggregated
    count; the counter matrix is {_AMS_DEPTH} longs total, stream-size
    independent. Every product runs in DECIMAL(38,0) (S_j is bounded by
    total events, so S^2 overflows int64 past ~3e9 rows — the decimal
    is the 100 TB headroom), and the md5 sign seeds make the whole
    sketch bit-reproducible in SQL.

    Cite: reference repo has no sketch surface (extension layer)."""
    ev = events_table(spark, sf_dir)
    truth = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("c"))
    f2 = truth.agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("long")
        .alias("f2_true")
    )
    sign = 1 - 2 * (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_type"), F.lit("_ams"), F.col("j").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    sk = (
        truth.select(
            "event_type",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(_AMS_DEPTH - 1))).alias("j0"),
        )
        .select("event_type", "c", F.col("j0").cast("long").alias("j"))
        .select("j", (sign * F.col("c")).alias("sc"))
        .groupBy("j")
        .agg(F.sum("sc").cast("long").alias("s"))
    )
    est = (F.col("s").cast("decimal(38,0)") * F.col("s")).cast("long")
    return (
        sk.crossJoin(F.broadcast(f2))
        .select(
            "j",
            F.col("s").alias("sketch_sum"),
            est.alias("f2_estimate"),
            "f2_true",
            (est - F.col("f2_true")).cast("long").alias("signed_error"),
        )
        .orderBy("j")
    )


# ========================== PMI-ranked word pairs ============================

_PMI_MIN_C = 5
_PMI_TOP = 20


@query(
    "text_pmi_lift_pairs",
    f"""
WITH toks AS (SELECT {sql_toks('text')} AS t FROM documents),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cu
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
n AS (SELECT CAST(sum(cu) AS BIGINT) AS nn FROM uni),
bg AS (
  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS b
        FROM toks WHERE len(t) >= 2)
  GROUP BY 1, 2
  HAVING count(*) >= {_PMI_MIN_C})
SELECT w1, w2, c,
       {sql_round(
           "CAST(CAST(c AS DECIMAL(38,0)) * nn AS DOUBLE)"
           " / CAST(CAST(u1.cu AS DECIMAL(38,0)) * u2.cu AS DOUBLE)", 6)} AS lift
FROM bg JOIN uni u1 ON w1 = u1.tok JOIN uni u2 ON w2 = u2.tok CROSS JOIN n
ORDER BY lift DESC, w1, w2 LIMIT {_PMI_TOP}""",
)
def text_pmi_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOP} collocations by LIFT over adjacent token pairs
    (count >= {_PMI_MIN_C}): lift = c(w1,w2) * N / (c(w1) * c(w2)), the
    exp2 of PMI — identical ranking, but every factor is an exact
    integer so the single double division is bit-stable across engines
    (PMI's log2 is where two engines' math libraries can drift a ULP;
    the lift form never computes it). The collocation miner behind
    tokenizer-vocabulary candidates and multi-word-expression detection.
    Scale shape: unigram and bigram counts are two partial-aggregated
    shuffles over the map-side token/pair explodes (the n-gram count
    job); the unigram relation joins back twice by token — at corpus
    scale those are the vocabulary-sized sides, and the total-token
    scalar broadcasts. Products run in DECIMAL(38,0): c*N reaches
    int64's edge near a trillion tokens, exactly the regime the query
    targets; the decimal-to-double conversions are value-exact below
    2^53 and the final division is IEEE exactly-rounded — the same
    discipline as olap_numeric_corr_matrix.

    Cite: reference repo has no text-statistics surface (extension)."""
    from ..functions import texts

    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    t = texts.tokens("text")
    toks = docs.select(t.alias("t"))
    uni = caches.track(
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
        # vocabulary-grain relation consumed three times (the total
        # scalar + both join sides) — persist so the token explode and
        # first aggregate run once
        .persist()
    )
    n = uni.agg(F.sum("cu").cast("long").alias("nn"))
    bg = (
        toks.where(F.size("t") >= 2)
        .select(F.explode(texts.bigrams(F.col("t"))).alias("b"))
        .select(
            F.substring_index("b", " ", 1).alias("w1"),
            F.substring_index("b", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .where(F.col("c") >= _PMI_MIN_C)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2"))
    lift = (
        (F.col("c").cast("decimal(38,0)") * F.col("nn")).cast("double")
        / (F.col("cu1").cast("decimal(38,0)") * F.col("cu2")).cast("double")
    )
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "c", (F.round(lift * 1e6) / 1e6).alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ===================== Holt-Winters seasonal forecast ========================

# level' duplicated (a recursive CTE step can't name an intermediate):
# floor((256*x - seas[dow] + 3*(level + trend)) / 4). DuckDB isodow is
# 1-based Monday=1, so seas[isodow] under 1-based list indexing is the
# same slot Python's date.weekday() (Monday=0) reads 0-based.
_HW_LVL = (
    "CAST(floor((256 * r.x - h.seas[isodow(r.day)]"
    " + 3 * (h.level + h.trend)) / 4.0) AS BIGINT)"
)


@query(
    "events_holt_winters_daily",
    f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, day, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k
  FROM daily),
h AS (
  SELECT event_type, day, x, k,
         256 * x AS level, CAST(0 AS BIGINT) AS trend,
         [CAST(0 AS BIGINT) for j in range(0, 7)] AS seas,
         CAST(0 AS BIGINT) AS forecast, CAST(0 AS BIGINT) AS seasonal,
         CAST(0 AS INTEGER) AS alarm
  FROM r WHERE k = 1
  UNION ALL
  SELECT r.event_type, r.day, r.x, r.k,
         {_HW_LVL},
         CAST(floor(({_HW_LVL} - h.level + 7 * h.trend) / 8.0) AS BIGINT),
         [CASE WHEN j + 1 = isodow(r.day)
               THEN CAST(floor((256 * r.x - {_HW_LVL} + 15 * h.seas[j + 1])
                               / 16.0) AS BIGINT)
               ELSE h.seas[j + 1] END for j in range(0, 7)],
         h.level + h.trend + h.seas[isodow(r.day)],
         CAST(floor((256 * r.x - {_HW_LVL} + 15 * h.seas[isodow(r.day)])
                    / 16.0) AS BIGINT),
         CAST(CASE WHEN 4 * abs(256 * r.x
                                - (h.level + h.trend + h.seas[isodow(r.day)]))
                        > greatest(h.level + h.trend + h.seas[isodow(r.day)],
                                   256)
              THEN 1 ELSE 0 END AS INTEGER)
  FROM h JOIN r ON r.event_type = h.event_type AND r.k = h.k + 1)
SELECT event_type, day, x AS day_count, forecast, level, trend, seasonal,
       alarm
FROM h WHERE k >= 2
ORDER BY event_type, day
""",
)
def events_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast chart (period-7 weekday
    seasonality, slots from the CALENDAR so day gaps skip rather than
    shift the season) per event type over daily counts — pages on
    broken trajectories like events_holt_forecast but absorbs weekly
    shape instead of alarming on it every Monday. Integer fixed-point
    fold (streaming/jobs.py:batch_holt_winters: alpha=1/4 on the
    deseasonalized observation, beta=1/8, gamma=1/16, power-of-two
    floors); state = 2 + 7 longs per type. The Spark plan is one
    day-grain aggregate (the only corpus-sized work) + the sequential
    recursion in a single Arrow batch per type; the oracle's recursive
    CTE carries the seasonal 7-list as list-typed state and replays the
    identical slot update with a guarded list comprehension — floor(a /
    2^k.0) is exact for |a| < 2^53, and isodow's 1-based Monday aligns
    with weekday()'s 0-based Monday under the two engines' list
    indexing conventions (checked by value in tests/test_round13.py)."""
    return jobs.batch_holt_winters(events_table(spark, sf_dir)).orderBy(
        "event_type", "day"
    )
