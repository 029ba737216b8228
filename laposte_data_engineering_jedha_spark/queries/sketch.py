"""Mergeable approximate sketches (KMV/theta, AMS, HyperLogLog-style)
whose estimates are deterministic given the md5 hash, so the oracle
rebuilds the same sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import caches
from . import events_table, query, table


def sketch_aggregates_raw(ev: DataFrame) -> DataFrame:
    """Raw sketch estimates per event type — HyperLogLog++ distinct
    (rsd 2%) and the approximate-percentile digest (accuracy 1000, i.e.
    guaranteed rank error <= 0.1%). Both are mergeable map-side-combining
    sketches — the 100 TB replacements for exact distinct / full-sort
    percentile. Values are engine-specific (no SQL twin)."""
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ===================== histogram-sketch quantiles ============================

_HBUCKET = 65_536  # cents per bucket (~$655) — 1k buckets over the domain

_HQS = [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)]


# Quantile estimation from a FIXED-WIDTH mergeable histogram (the 100 TB shape:
# per-partition histograms merge by cell addition — one tiny rollup replaces a
# global sort), with the estimate's error against the exact percentile on the
# same run.
@query(
    "sketch_histogram_quantiles",
    f"""
WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
h AS (SELECT cents // {_HBUCKET} AS bucket, CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY bucket),
c AS (SELECT bucket, n,
             CAST(sum(n) OVER (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM h),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h),
ex AS (SELECT {", ".join(f"quantile_cont(cents, {p}) AS ex_{lbl}" for lbl, p in _HQS)}
       FROM v),
est AS ({" UNION ALL ".join(
    f"SELECT '{lbl}' AS p_label, CAST({p} AS DOUBLE) AS p, "
    f"CAST(min(bucket) * {_HBUCKET} AS BIGINT) AS est_cents, ex_{lbl} AS exact_cents "
    f"FROM c CROSS JOIN t CROSS JOIN ex "
    f"WHERE cum * 1000000 >= CAST(round({p} * 1000000) AS BIGINT) * total "
    f"GROUP BY ex_{lbl}" for lbl, p in _HQS)})
SELECT p_label, p, est_cents, exact_cents,
       CAST(round(abs(CAST(est_cents AS DOUBLE) - exact_cents)
                  / exact_cents * 1000000) AS BIGINT) AS err_ppm
FROM est
""",
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a fixed-width histogram sketch: bucket = integer
    cents div 65536, estimate = the lower edge of the first bucket whose
    cumulative count reaches p (the integer-exact `cum * 1e6 >=
    round(p*1e6) * total` form — no float thresholds). The histogram is
    the MERGEABLE quantile structure at 100 TB: per-partition cell counts
    add, so the shuffle carries <=|buckets| rows instead of sorting the
    column; error vs the exact percentile (bounded by one bucket width)
    is reported on the same run. The cumsum window runs on the <=1k-row
    histogram only."""
    v = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    h = v.groupBy(F.expr(f"cents div {_HBUCKET}").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    c = h.select(
        "bucket",
        "n",
        F.sum("n")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
    )
    t = h.agg(F.sum("n").cast("long").alias("total"))
    ex = v.agg(
        *[F.expr(f"percentile(cents, {p})").alias(f"ex_{lbl}") for lbl, p in _HQS]
    )
    out = None
    joined = c.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(ex))
    for lbl, p in _HQS:
        row = (
            joined.where(
                F.col("cum") * 1000000
                >= F.lit(int(round(p * 1000000))) * F.col("total")
            )
            .groupBy(F.col(f"ex_{lbl}").alias("exact_cents"))
            .agg((F.min("bucket") * _HBUCKET).cast("long").alias("est_cents"))
            .select(
                F.lit(lbl).alias("p_label"),
                F.lit(float(p)).alias("p"),
                "est_cents",
                "exact_cents",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "p_label",
        "p",
        "est_cents",
        "exact_cents",
        F.round(
            F.abs(F.col("est_cents").cast("double") - F.col("exact_cents"))
            / F.col("exact_cents")
            * 1000000
        )
        .cast("long")
        .alias("err_ppm"),
    )


# ========================= mergeable KMV union ===============================

_KMVU_K = 16

_KMVU_NUM = (_KMVU_K - 1) * (1 << 52)

_KMVU_HV = "CAST('0x' || substr(md5(text), 1, 13) AS BIGINT)"


# MERGEABLE distinct sketches — per-source KMV sketches unioned by merging the
# k-min SETS (never re-scanning raw data), the distributed-sketch property that
# lets 1000 executors sketch shards independently and a coordinator merge
# results.
@query(
    "sketch_kmv_union",
    f"""
WITH h AS (SELECT DISTINCT source, {_KMVU_HV} AS hv FROM documents),
r AS (SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
      FROM h),
mins AS (SELECT source, hv FROM r WHERE rn <= {_KMVU_K}),
per AS (SELECT source AS scope, max(hv) AS kth, count(*) AS kcnt
        FROM mins GROUP BY source),
-- the union sketch merges the per-source k-min SETS, not the raw data
umins AS (SELECT hv FROM (
    SELECT DISTINCT hv FROM mins) u ORDER BY hv LIMIT {_KMVU_K}),
uni AS (SELECT 'ALL' AS scope, max(hv) AS kth, count(*) AS kcnt FROM umins),
ex AS (SELECT source AS scope, count(*) AS n_exact FROM h GROUP BY source
       UNION ALL
       SELECT 'ALL', count(DISTINCT hv) FROM h),
s AS (SELECT * FROM per UNION ALL SELECT * FROM uni)
SELECT ex.scope AS scope, CAST(n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN kcnt < {_KMVU_K} THEN kcnt
                 ELSE {_KMVU_NUM} // kth END AS BIGINT) AS kmv_est
FROM ex JOIN s ON ex.scope = s.scope
""",
)
def sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV distinct-document sketches plus their UNION, where
    the union sketch is built by merging the per-source k-min sets (the
    k smallest of the merged mins == the k smallest of the merged
    corpora, since every corpus-level minimum is inside its source's
    k-min set). This is the mergeability contract that makes KMV a
    distributed sketch: shards sketch independently, merge cost is
    O(sources * k). Exact counts ride along as the audit column; the
    52-bit md5 hash space makes both engines' sketches identical."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        F.conv(F.substring(F.md5("text"), 1, 13), 16, 10).cast("long").alias("hv"),
    ).distinct()
    lvl1 = Window.partitionBy("source", F.pmod("hv", F.lit(16))).orderBy("hv")
    lvl2 = Window.partitionBy("source").orderBy("hv")
    mins = (
        h.withColumn("_r1", F.row_number().over(lvl1))
        .where(F.col("_r1") <= _KMVU_K)
        .withColumn("_r2", F.row_number().over(lvl2))
        .where(F.col("_r2") <= _KMVU_K)
        .select("source", "hv")
    )
    per = mins.groupBy(F.col("source").alias("scope")).agg(
        F.max("hv").alias("kth"), F.count(F.lit(1)).alias("kcnt")
    )
    # union sketch from the sketches only: sources x k rows, driver-tiny
    # relation but kept distributed (sort+limit is a TakeOrdered, no fat task)
    umins = mins.select("hv").distinct().orderBy("hv").limit(_KMVU_K)
    uni = umins.agg(
        F.lit("ALL").alias("scope"),
        F.max("hv").alias("kth"),
        F.count(F.lit(1)).alias("kcnt"),
    )
    ex = h.groupBy(F.col("source").alias("scope")).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    ).unionAll(
        h.select("hv").distinct().agg(
            F.lit("ALL").alias("scope"), F.count(F.lit(1)).cast("long").alias("n_exact")
        )
    )
    s = per.unionAll(uni)
    return ex.join(s, "scope").select(
        "scope",
        "n_exact",
        F.when(F.col("kcnt") < _KMVU_K, F.col("kcnt"))
        .otherwise(F.expr(f"CAST({_KMVU_NUM} AS BIGINT) div kth"))
        .cast("long")
        .alias("kmv_est"),
    )


# ===================== theta-sketch intersection ==============================

_THI_K = 64

_THI_SPACE = 1 << 52

_THI_A, _THI_B = "click", "purchase"

_THI_HV = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)"


# Set-INTERSECTION cardinality from mergeable KMV/theta sketches (the union
# case is sketch_kmv_union; the intersection estimator is the other half of the
# theta-sketch algebra — count common hashes below the joint threshold, scale
# by 1/theta). At 100 TB the two user sets never materialize: each side ships k
# 52-bit mins, the estimate is computed from 2k values.
@query(
    "sketch_theta_intersection",
    f"""
WITH h AS (SELECT DISTINCT event_type AS scope, {_THI_HV} AS hv
           FROM events WHERE event_type IN ('{_THI_A}', '{_THI_B}')),
r AS (SELECT scope, hv, row_number() OVER (PARTITION BY scope ORDER BY hv) AS rn
      FROM h),
mins AS (SELECT scope, hv FROM r WHERE rn <= {_THI_K}),
per AS (SELECT scope, max(hv) AS kth, count(*) AS kcnt FROM mins GROUP BY scope),
th AS (SELECT min(CASE WHEN kcnt = {_THI_K} THEN kth ELSE {_THI_SPACE} END)
              AS theta
       FROM per),
cand AS (SELECT a.hv AS hv FROM mins a JOIN mins b ON a.hv = b.hv
         WHERE a.scope = '{_THI_A}' AND b.scope = '{_THI_B}'),
icnt AS (SELECT count(*) AS c FROM cand, th WHERE cand.hv < th.theta),
ex AS (SELECT
         (SELECT count(*) FROM h WHERE scope = '{_THI_A}') AS n_a_exact,
         (SELECT count(*) FROM h WHERE scope = '{_THI_B}') AS n_b_exact,
         (SELECT count(*) FROM h a JOIN h b ON a.hv = b.hv
          WHERE a.scope = '{_THI_A}' AND b.scope = '{_THI_B}') AS n_inter_exact)
SELECT CAST(n_a_exact AS BIGINT) AS n_a_exact,
       CAST(n_b_exact AS BIGINT) AS n_b_exact,
       CAST(n_inter_exact AS BIGINT) AS n_inter_exact,
       CAST(CASE WHEN theta >= {_THI_SPACE} THEN c
                 ELSE (c * {_THI_SPACE}) // theta END AS BIGINT)
         AS theta_inter_est
FROM icnt, th, ex
""",
)
def sketch_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|users who {_THI_A}ed ∩ users who {_THI_B}d| estimated from two
    k={_THI_K} KMV sketches: theta = the smaller k-th minimum (or the
    full 52-bit space when a sketch is under-full and therefore exact),
    estimate = (common mins below theta) / theta. Exact counts ride
    along as audit columns. The k-min selection uses the two-level
    window (bucketed row_number, then per-scope rank over <= 16k
    survivors) so no single task ever sorts a full user set; everything
    downstream of the sketches is a few-row broadcast. Deterministic md5
    hashing makes both engines' sketches identical bit-for-bit."""
    ev = events_table(spark, sf_dir).where(
        F.col("event_type").isin(_THI_A, _THI_B)
    )
    h = caches.track(
        ev.select(
            F.col("event_type").alias("scope"),
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
            )
            .cast("long")
            .alias("hv"),
        )
        .distinct()
        .persist()
    )  # reused by the sketch, both exact counts, and the intersection:
    # persisting the (scope, hv) distinct set (<= 2x user count rows)
    # collapses six event scans into one
    lvl1 = Window.partitionBy("scope", F.pmod("hv", F.lit(16))).orderBy("hv")
    lvl2 = Window.partitionBy("scope").orderBy("hv")
    mins = (
        h.withColumn("_r1", F.row_number().over(lvl1))
        .where(F.col("_r1") <= _THI_K)
        .withColumn("_r2", F.row_number().over(lvl2))
        .where(F.col("_r2") <= _THI_K)
        .select("scope", "hv")
    )
    per = mins.groupBy("scope").agg(
        F.max("hv").alias("kth"), F.count(F.lit(1)).alias("kcnt")
    )
    th = per.agg(
        F.min(
            F.when(F.col("kcnt") == _THI_K, F.col("kth")).otherwise(
                F.lit(_THI_SPACE)
            )
        ).alias("theta")
    )
    cand = (
        mins.where(F.col("scope") == _THI_A)
        .select("hv")
        .join(mins.where(F.col("scope") == _THI_B).select("hv"), "hv")
    )
    icnt = (
        cand.join(F.broadcast(th))
        .where(F.col("hv") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ha = h.where(F.col("scope") == _THI_A).select("hv")
    hb = h.where(F.col("scope") == _THI_B).select("hv")
    ex = (
        ha.agg(F.count(F.lit(1)).cast("long").alias("n_a_exact"))
        .crossJoin(
            F.broadcast(hb.agg(F.count(F.lit(1)).cast("long").alias("n_b_exact")))
        )
        .crossJoin(
            F.broadcast(
                ha.join(hb, "hv").agg(
                    F.count(F.lit(1)).cast("long").alias("n_inter_exact")
                )
            )
        )
    )
    est = F.when(F.col("theta") >= _THI_SPACE, F.col("c")).otherwise(
        F.expr(f"(c * {_THI_SPACE}) div theta")
    )
    return (
        icnt.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(ex))
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_inter_exact",
            est.cast("long").alias("theta_inter_est"),
        )
    )


# =========================== AMS second moment ===============================

_AMS_DEPTH = 6

# +1 when the 13-hex-digit md5 prefix is even, else -1 — same integer
# bucket recipe as the Count-Min rows (events_countmin_estimates), reduced mod 2.
_AMS_SIGN = (
    "(1 - 2 * (CAST('0x' || substr(md5(event_type || '_ams' "
    "|| CAST(j AS VARCHAR)), 1, 13) AS BIGINT) % 2))"
)


# AMS (Alon-Matias-Szegedy) second-moment sketch over the event-type stream,
# audited against the exact F2 = sum c_t^2 — the self-join-size / repeat-rate
# estimator that completes the sketch shelf (HLL/KMV: distinct counts;
# Count-Min: point frequencies; theta: set ops; AMS: the 2nd moment). Each
# estimator row j keeps ONE signed counter S_j = sum_t sign_j(t) * c_t with a
# deterministic md5-derived +-1 hash, estimate = S_j^2; the report shows every
# row's estimate next to the truth. Signs are md5-seeded, so the ORACLE
# rebuilds the identical counters — the auditable-sketch property.
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
