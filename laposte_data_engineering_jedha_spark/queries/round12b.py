"""Round-12 session batch 2 — customer analytics + robust data-quality
statistics, all integer-exact across engines (the grouped-moments /
cents-arithmetic recipes):

- olap_rfm_segments: RFM (recency/frequency/monetary) segmentation with
  mean splits — every above/below comparison runs on cross-multiplied
  BIGINTs (value * n vs total), so segment assignment is
  bit-deterministic and no float ever decides a boundary.
- dq_outlier_mad_report: robust outlier screen per event type — median /
  MAD (median absolute deviation) with the 3 * 1.4826 sigma-equivalent
  cutoff evaluated as an exact integer cross-multiplication.
- olap_price_quantity_slope_by_brand: per-brand OLS slope of quantity on
  price (the raw price-elasticity screen) — the five moments integral in
  DECIMAL(38,0), one final double division per group (the
  olap_discount_quantity_corr recipe, slope instead of r).
- events_user_hhi_histogram: per-user behavioral concentration
  (Herfindahl index over event-type shares) as EXACT integer
  micro-units ((1e6 * sum(c_i^2)) div T^2), bucketed into deciles by
  integer division — the "is engagement diverse or single-track"
  distribution, no driver collect, one groupBy + one histogram pass.
- corpus_token_gini: Gini coefficient of the per-document token-count
  distribution (corpus balance / packing skew input): ranks from the
  gated offsets machinery (operators/ranking.py — never a naked global
  window), numerator/denominator exact BIGINT, one final division.

Reference parity note: the reference's analytics stop at per-delivery
status aggregation (supercourier_etl/transform.py); these are extension
surface for the 100 TB mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ranking
from . import query, sort_report, table
from .llmops import sql_round

# ============================ RFM segmentation ================================


@query(
    "olap_rfm_segments",
    """
WITH cust AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                        (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
              AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(recency_days) AS BIGINT) AS tr,
         CAST(sum(frequency) AS BIGINT) AS tf,
         CAST(sum(monetary_cents) AS BIGINT) AS tm
  FROM cust),
seg AS (
  SELECT CASE WHEN recency_days * n < tr THEN 1 ELSE 0 END AS r_recent,
         CASE WHEN frequency * n > tf THEN 1 ELSE 0 END AS f_high,
         CASE WHEN CAST(monetary_cents AS DECIMAL(38,0)) * n
                   > CAST(tm AS DECIMAL(38,0)) THEN 1 ELSE 0 END AS m_high,
         monetary_cents
  FROM cust CROSS JOIN tot)
SELECT r_recent, f_high, m_high,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
FROM seg GROUP BY r_recent, f_high, m_high
ORDER BY r_recent, f_high, m_high
""",
)
def olap_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over the orders table: each customer lands in one
    of 8 segments by recency (days since last order, vs the corpus max
    order date), frequency (order count) and monetary (lifetime cents),
    each split at the population MEAN — evaluated as the exact integer
    comparison `value * n <?> total` so a boundary customer can never
    flip segments between engines. Two aggregates + one broadcast of a
    single totals row: the whole plan is two shuffles on custkey-sized
    data regardless of corpus scale. (Quartile-based RFM needs three
    global sorts; the mean split is the shuffle-free form and the
    standard first screen.)"""
    cust = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    maxday = cust.agg(F.max("last_day").alias("maxd"))
    cust = cust.crossJoin(F.broadcast(maxday)).select(
        "custkey",
        F.datediff(F.col("maxd"), F.col("last_day")).cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("recency_days").cast("long").alias("tr"),
        F.sum("frequency").cast("long").alias("tf"),
        F.sum("monetary_cents").cast("long").alias("tm"),
    )
    seg = cust.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("recency_days") * F.col("n") < F.col("tr"), 1)
        .otherwise(0)
        .alias("r_recent"),
        F.when(F.col("frequency") * F.col("n") > F.col("tf"), 1)
        .otherwise(0)
        .alias("f_high"),
        F.when(
            # cents * customer-count overflows BIGINT at 100 TB lifetimes:
            # the one comparison that needs the DECIMAL(38,0) widening
            F.col("monetary_cents").cast("decimal(38,0)") * F.col("n")
            > F.col("tm").cast("decimal(38,0)"),
            1,
        )
        .otherwise(0)
        .alias("m_high"),
        "monetary_cents",
    )
    return (
        seg.groupBy("r_recent", "f_high", "m_high")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
        .transform(sort_report, "r_recent", "f_high", "m_high")
    )


# ============================ MAD outlier report ==============================

# 3 * 1.4826 (the MAD-to-sigma consistency constant) in 1e-4 units: the
# cutoff |x - med| > 3 * 1.4826 * MAD compares as
# 20000 * |2x - med2| > 44478 * mad4 with every factor BIGINT-exact.
_MAD_CUT_NUM = 44478


@query(
    "dq_outlier_mad_report",
    f"""
WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL),
med AS (SELECT event_type,
               CAST(round(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
        FROM ev GROUP BY event_type),
dev AS (SELECT ev.event_type, cents, med2,
               abs(2 * cents - med2) AS dev2
        FROM ev JOIN med USING (event_type)),
mad AS (SELECT event_type,
               CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
        FROM dev GROUP BY event_type)
SELECT dev.event_type AS event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       {sql_round("any_value(med2) / 200.0", 2)} AS median_value,
       {sql_round("any_value(mad4) / 400.0", 2)} AS mad_value,
       CAST(sum(CASE WHEN 20000 * dev2 > {_MAD_CUT_NUM} * mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
ORDER BY event_type
""",
)
def dq_outlier_mad_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median / MAD with the
    standard 3-sigma-equivalent cutoff (3 * 1.4826 * MAD). Medians are
    exact (`percentile` / `quantile_cont` interpolate identically on
    integer cents, landing on .0/.5 — doubled into BIGINT med2/mad4),
    and the cutoff evaluates as the integer cross-multiplication
    20000*dev2 > 44478*mad4, so outlier counts are bit-deterministic.
    Unlike the z-score screen (events_anomaly_zscore) this one survives
    the outliers it hunts — mean/stddev are themselves dragged by heavy
    tails. Exact percentile buffers per-distinct-value counts: the cents
    domain is bounded (~1e5 values), so state per group stays small at
    any corpus scale."""
    from . import events_table

    ev = (
        events_table(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
    )
    med = ev.groupBy("event_type").agg(
        F.round(2 * F.expr("percentile(cents, 0.5)")).cast("long").alias("med2")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med2",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(2 * F.expr("percentile(dev2, 0.5)")).cast("long").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.round(F.first("med2") / 200.0 * 100) / 100).alias("median_value"),
            (F.round(F.first("mad4") / 400.0 * 100) / 100).alias("mad_value"),
            F.sum(
                F.when(
                    20000 * F.col("dev2") > _MAD_CUT_NUM * F.col("mad4"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .transform(sort_report, "event_type")
    )


# ===================== price->quantity OLS slope per brand ====================


@query(
    "olap_price_quantity_slope_by_brand",
    """
WITH j AS (
  SELECT p_brand AS brand,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey),
m AS (
  SELECT brand,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM j GROUP BY brand)
SELECT brand, CAST(n AS BIGINT) AS n_lines,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)) * 1e12) / 1e12
       END AS slope_per_cent
FROM m
ORDER BY brand
""",
)
def olap_price_quantity_slope_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity on extended price (cents) — the
    raw screen behind a price-elasticity dashboard (a strongly negative
    slope = volume responds to price for that brand). Same integer-exact
    grouped-moments recipe as olap_discount_quantity_corr: all moments
    integral in DECIMAL(38,0) (price-cents squares at 100 TB row counts
    overflow BIGINT long before they overflow 38 digits), exactly ONE
    double division per group at the very end, zero-variance groups NULL
    by explicit CASE. One broadcast part join + one brand aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"), "x", "y"
    )
    dec = "decimal(38,0)"
    m = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    num = (n * F.col("sxy") - sx * sy).cast("double")
    return (
        m.select(
            "brand",
            n.cast("long").alias("n_lines"),
            F.when(vx == 0, F.lit(None).cast("double"))
            .otherwise(F.round(num / vx.cast("double") * 1e12) / 1e12)
            .alias("slope_per_cent"),
        )
        .transform(sort_report, "brand")
    )


# ======================= per-user HHI concentration ===========================


@query(
    "events_user_hhi_histogram",
    """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type),
u AS (
  SELECT user_id,
         CAST(sum(c * c) AS BIGINT) AS ss,
         CAST(sum(c) AS BIGINT) AS t
  FROM c GROUP BY user_id),
h AS (SELECT user_id, CAST((1000000 * ss) // (t * t) AS BIGINT) AS mhhi FROM u)
SELECT CAST(mhhi // 100000 AS BIGINT) AS hhi_decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(mhhi) AS BIGINT) AS sum_micro_hhi
FROM h GROUP BY 1 ORDER BY hhi_decile
""",
)
def events_user_hhi_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral concentration per user: the Herfindahl index of their
    event-type shares, sum((c_i/T)^2) — 1e6/n_types for a uniform user,
    1.0 for a single-track one — carried end-to-end as the EXACT integer
    micro-unit (1e6 * sum(c_i^2)) div T^2, so decile buckets (a further
    integer division) and per-bucket sums are bit-deterministic with no
    float anywhere. Two keyed aggregates ((user,type) then user) and a
    10-bucket rollup: every stage partial-aggregates map-side; nothing
    scales worse than the raw event count. The single-track decile
    (10 = HHI exactly 1.0) is its own bucket by construction."""
    from . import events_table

    c = (
        events_table(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    u = c.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        F.sum("c").cast("long").alias("t"),
    )
    # `div` is INTEGER division on longs in both engines (`//` in DuckDB):
    # no double quotient anywhere, so the floor can never be off-by-ulp
    h = u.select(
        F.expr("(1000000 * ss) div (t * t)").cast("long").alias("mhhi")
    )
    return (
        h.groupBy(
            F.expr("mhhi div 100000").cast("long").alias("hhi_decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("mhhi").cast("long").alias("sum_micro_hhi"),
        )
        .transform(sort_report, "hhi_decile")
    )


# ============================ corpus token Gini ===============================


@query(
    "corpus_token_gini",
    r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         END AS x
  FROM documents),
r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS rk
      FROM d),
s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(rk AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS srx
      FROM r)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(sx AS BIGINT) AS total_tokens,
       round(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) * 1e6) / 1e6 AS gini
FROM s
""",
)
def corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-document token-count distribution —
    the one-number answer to "is the corpus a few giant documents plus
    dust?" that sizes packing/sharding strategy (corpus_pack_bins) and
    flags scrape pathologies. Exact rank formulation
    G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)) with ranks ordered
    (x, doc_id): numerator/denominator are BIGINT-exact, one final
    division. The global rank comes from the gated offsets machinery
    (operators/ranking.py — range buckets + per-bucket offsets
    above the stats gate), never a naked single-partition window, so the
    plan holds at any document count."""
    from ..functions import texts

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(texts.tokens("text")))
        .cast("long")
        .alias("x"),
    )
    ranked, _n = ranking.global_ranks(d, "x", "doc_id", rank_col="rk")
    dec = "decimal(38,0)"
    s = ranked.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum(F.col("rk").cast(dec) * F.col("x")).cast(dec).alias("srx"),
    )
    n, sx, srx = F.col("n"), F.col("sx"), F.col("srx")
    return s.select(
        n.cast("long").alias("n_docs"),
        sx.cast("long").alias("total_tokens"),
        (
            F.round(
                (2 * srx - (n + 1) * sx).cast("double")
                / (n * sx).cast("double")
                * 1e6
            )
            / 1e6
        ).alias("gini"),
    )
