"""Clickstream analytics over the events fact: sessions, funnels,
attribution, forecasting and monitoring statistics, as-of correlation.

Timestamps arrive through `events_table` (microsecond TIMESTAMP on both
engines). Ordered aggregations tie-break on (ts, event_id); exact
percentiles use Spark `percentile` == DuckDB `quantile_cont`, bit-equal on
integer inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exprs, texts
from ..operators import caches, graphs, joins, ranking, sketches
from ..session import local_table
from ..streaming import jobs
from . import (
    SQL_WEEKDAY_NAME,
    _r4,
    events_table,
    query,
    sort_report,
    sql_round,
    table_rowcount,
)


@query(
    "events_funnel",
    """
WITH u1 AS (
  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t1
  FROM events GROUP BY 1),
u2 AS (
  SELECT e.user_id, any_value(u1.t1) AS t1,
         min(e.ts) FILTER (WHERE e.event_type = 'click' AND e.ts > u1.t1) AS t2
  FROM events e JOIN u1 USING (user_id) GROUP BY 1),
u3 AS (
  SELECT e.user_id, any_value(u2.t1) AS t1, any_value(u2.t2) AS t2,
         min(e.ts) FILTER (WHERE e.event_type = 'purchase' AND e.ts > u2.t2) AS t3
  FROM events e JOIN u2 USING (user_id) GROUP BY 1)
SELECT count(t1) AS n_view, count(t2) AS n_click_after_view,
       count(t3) AS n_purchase_after_click
FROM u3""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> later click -> later purchase)
    per user, counted across the user base — the product-analytics shape
    that needs per-user ordered-event state. One hash exchange on user_id
    feeds three chained unordered window aggregates (each stage's min
    timestamp conditions on the previous stage's), then a tiny global
    count — no per-event self-join, no sessionized state store."""
    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = ev.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn(
        "t2", F.min(F.when((typ == "click") & (t > F.col("t1")), t)).over(w)
    )
    df = df.withColumn(
        "t3", F.min(F.when((typ == "purchase") & (t > F.col("t2")), t)).over(w)
    )
    per_user = df.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    )


@query(
    "events_anomaly_zscore",
    """
WITH base AS (
  SELECT event_id, event_type, CAST(hour(ts) AS INTEGER) AS hr, value
  FROM events WHERE value IS NOT NULL),
stats AS (
  SELECT event_type, hr, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
         CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS svv
  FROM base GROUP BY 1, 2),
z AS (
  SELECT event_id, b.event_type, hr,
         (value - sv / n)
           / nullif(sqrt(greatest(svv / n - (sv / n) * (sv / n),
                                  CAST(0.0 AS DOUBLE))), CAST(0.0 AS DOUBLE)) AS z
  FROM base b JOIN stats USING (event_type, hr))
SELECT event_id, event_type, hr, round(z * 10000) / 10000 AS zscore
FROM z WHERE abs(z) >= CAST(3.0 AS DOUBLE)""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour-of-day) z-score outliers (|z| >= 3) — the
    monitoring/anomaly shape over event streams. The group moments
    aggregate through DECIMAL(18,4) (exact, partition-order-free — a
    double sum would make low bits nondeterministic), convert to double
    once, and broadcast back onto the events; the z-score itself is
    map-side. Zero-variance groups yield NULL std -> no row (nullif)."""
    ev = events_table(spark, sf_dir)
    base = ev.where(F.col("value").isNotNull()).select(
        "event_id", "event_type", F.hour("ts").alias("hr"), "value"
    )
    dec = "decimal(18,4)"
    stats = base.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).cast("double").alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double").alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    var = F.col("svv") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.nullif(
        F.sqrt(F.greatest(var, F.lit(0.0))), F.lit(0.0)
    )
    return (
        base.join(F.broadcast(stats), ["event_type", "hr"])
        .select("event_id", "event_type", "hr", z.alias("z"))
        .where(F.abs(F.col("z")) >= 3.0)
        .select(
            "event_id", "event_type", "hr", (F.round(F.col("z") * 10000) / 10000).alias("zscore")
        )
    )


@query(
    "events_sessionize",
    """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts, event_id,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM z GROUP BY user_id, session_id""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via window functions (batch twin of a
    `applyInPandasWithState` streaming sessionizer). Single shuffle on
    user_id serves both windows and the final group-by; gap math in integer
    microseconds so both engines compare exactly."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "ts", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "events_session_window_native",
    """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_close,
       count(*) AS n_events
FROM z GROUP BY user_id, session_id""",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (one groupBy, merge-on-overlap
    sessionization — no window functions). Boundary semantics, verified
    EMPIRICALLY at the exact 30:00 gap
    (tests/test_boundary_fixtures.py::test_session_window_native_exact_boundary):
    a new event merges while its start <= previous end (end = prev ts +
    gap, INCLUSIVE), so an exactly-30:00 gap still merges and a session
    splits only when the gap EXCEEDS 30 min — identical to
    events_sessionize's lag/cumsum formulation, hence the same
    `> 1800000000` µs oracle split condition. The emitted window end is
    last event + gap = max(ts) + 30 min. The same operator runs under
    Structured Streaming with a watermark unchanged."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),
            "n_events",
        )
    )


@query(
    "events_rolling_1h",
    """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""",
)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour activity at every event: event count and
    exact spend over the last hour — the feature-engineering shape behind
    rate limits, burst detection, and session features. A RANGE frame on
    integer microseconds (not ROWS) makes the frame a pure function of the
    timestamps, so ties can't reorder across engines; the sum aggregates
    DECIMAL internally (order-free) and casts to double at the edge. One
    shuffle on user_id; each partition sorts locally — no global sort, no
    single-partition window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_599_999_999, Window.currentRow)
    )
    return events_table(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("value_1h"),
    )


@query(
    "events_topk_spenders",
    """
SELECT user_id,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS spend,
       count(*) AS n_purchases
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY spend DESC, user_id LIMIT 10""",
)
def events_topk_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 purchasers by exact decimal spend (deterministic ordering)."""
    return (
        events_table(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("spend"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
        .orderBy(F.col("spend").desc(), "user_id")
        .limit(10)
    )


@query(
    "events_value_quantiles",
    """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       count(*) AS n_events
FROM events GROUP BY event_type""",
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per event type (Spark `percentile` == DuckDB
    `quantile_cont`: same sort + linear interpolation, verified bit-equal).
    Exact percentile is a full-sort aggregate; the 100 TB path swaps in
    `approx_percentile` (t-digest sketch, mergeable map-side) at the cost
    of leaving the oracle gate."""
    return (
        events_table(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "events_sketch_aggregates",
    """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS users_within_bounds,
       TRUE AS p50_within_bounds
FROM events GROUP BY event_type""",
)
def events_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates with a driver-checkable oracle (VERDICT r2 item 5):
    sketch VALUES are engine-specific, so the query emits exact anchor
    columns (n_events, exact_users — hash-matched against DuckDB) plus
    booleans asserting each sketch landed within its documented error —
    HLL++ within 5x its 2% rsd (+1 absolute slack for tiny groups), the
    percentile digest inside the exact p45..p55 envelope (50x its 0.1%
    guaranteed rank error). The oracle states the booleans as TRUE
    literals: any gross sketch regression flips a boolean and fails the
    value hash. Tight accuracy stays in
    tests/test_llmops.py::test_sketch_accuracy."""
    ev = events_table(spark, sf_dir)
    # Sketches and the exact distinct run as SEPARATE aggregations joined on
    # the (tiny) group key: mixing countDistinct with other aggregates makes
    # Catalyst plan an Expand (every input row duplicated per grouping-set),
    # pushing 2x rows through the HLL/digest buffers — measured 2.4x slower
    # at sf0.1. The exact count itself is the two-level shape (groupBy
    # (type, user) then count), which partial-aggregates map-side on both
    # levels — the same reason it scales past the Expand plan at 100 TB.
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
        # one sort pass for both exact envelope bounds
        F.expr("percentile(value, array(0.45, 0.55))").alias("p_env"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    agg = sketches.join(exact, "event_type").withColumns(
        {"p45": F.col("p_env")[0], "p55": F.col("p_env")[1]}
    )
    users_ok = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.greatest(F.lit(1.0), F.col("exact_users") * 0.10)
    )
    p50_ok = (F.col("approx_p50") >= F.col("p45")) & (F.col("approx_p50") <= F.col("p55"))
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        F.coalesce(users_ok, F.lit(True)).alias("users_within_bounds"),
        # all-null value groups sketch to null: vacuously in bounds
        F.coalesce(p50_ok, F.lit(True)).alias("p50_within_bounds"),
    )


@query(
    "events_json_extract",
    """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       count(*) AS n_events
FROM events GROUP BY 1""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + group count (semi-structured props)."""
    return (
        events_table(spark, sf_dir)
        .select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "events_asof_last_purchase",
    """
WITH tagged AS (
  SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS pval, 1 AS side
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, event_id, value, 0
  FROM events WHERE event_type = 'purchase'),
w AS (
  SELECT user_id, ts, event_id, side,
         last_value(pval IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side, pval
                 ROWS UNBOUNDED PRECEDING) AS asof_value
  FROM tagged)
SELECT user_id, event_id, ts, asof_value FROM w WHERE side = 1""",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (operators/joins.py): every click event annotated with the
    value of that user's latest purchase at or before it — the time-series
    join Spark lacks natively, in its scalable union+window formulation
    (one shuffle on the key; neither side needs to broadcast). The oracle
    is the same formulation in SQL."""
    ev = events_table(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = joins.asof_join(clicks, purchases, on="ts", by="user_id", value_cols=["value"])
    return out.select("user_id", "event_id", "ts", F.col("asof_value").cast("double"))


@query(
    "events_range_join",
    """
SELECT p.event_id AS purchase_event, count(*) AS n_clicks
FROM events c JOIN events p
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND p.ts <= c.ts
 AND epoch_us(c.ts) < epoch_us(p.ts) + 7200000000
GROUP BY 1""",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment via the time-bucketed range join
    (operators/joins.py range_join): each purchase opens a 2-hour window;
    count same-user clicks inside it. The bucket explode turns the
    inequality join into a hash-partitionable equi-join on bucket id with
    the exact range predicate re-applied — the scale-correct shape for
    interval joins Spark lacks natively. The oracle is the plain
    inequality join."""
    ev = events_table(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    windows = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("w_start"),
        F.timestamp_add("HOUR", F.lit(2), F.col("ts")).alias("w_end"),
    )
    joined = joins.range_join(clicks, windows, "ts", "w_start", "w_end", bucket_s=3600)
    return (
        joined.where(F.col("user_id") == F.col("p_user"))
        .groupBy("purchase_event")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@query(
    "events_markov_transitions",
    """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
c AS (
  SELECT event_type, next_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT event_type, next_type, n,
       round((CAST(n AS DOUBLE)
              / sum(n) OVER (PARTITION BY event_type)) * 10000) / 10000 AS p
FROM c""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix across user sessions —
    the sequence-analytics primitive (what follows a click?). One
    user_id exchange feeds the lead() window (ordered by (ts, event_id)
    so ties are deterministic), the pair counts partial-aggregate, and
    the row-probability normalization windows over the |types|^2-row
    matrix — trivially bounded."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        (F.round((F.col("n").cast("double") / F.sum("n").over(total)) * 10000) / 10000).alias("p"),
    )


@query(
    "events_retention_cohorts",
    """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
r AS (
  SELECT f.cohort, datediff('day', f.cohort, a.d) AS day_offset
  FROM first f JOIN act a USING (user_id))
SELECT cohort, day_offset, count(*) AS n_users
FROM r WHERE day_offset <= 14
GROUP BY 1, 2""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity date,
    counted per day-offset of later activity (0..14) — the
    product-analytics companion to the funnel. Scale shape: both the
    first-activity aggregate and the distinct-activity set hash-partition
    on user_id, the join is co-partitioned on that same key (no second
    shuffle of the big side), and the final aggregate is
    (cohort, offset)-keyed — bounded output."""
    from . import events_table

    ev = events_table(spark, sf_dir)
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        first.join(act, "user_id")
        .select("cohort", F.datediff("d", "cohort").alias("day_offset"))
        .where(F.col("day_offset") <= 14)
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_ab_conversion",
    f"""
WITH assign AS (
  SELECT DISTINCT user_id,
         CAST({{md5u}} % 2 AS INTEGER) AS variant
  FROM events),
conv AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT a.variant, count(*) AS n_users,
       CAST(count(c.user_id) AS BIGINT) AS n_converted,
       round((CAST(count(c.user_id) AS DOUBLE) / count(*)) * 10000) / 10000
         AS conversion_rate
FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
GROUP BY 1""".format(
        md5u="CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)"
    ),
)
def events_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B split report: users hash into two variants
    (md5(user_id) % 2 — stable across runs/engines, the experiment
    bucketing every growth pipeline needs), conversion = any purchase
    event. Two user_id-keyed distinct aggregates, one co-partitioned
    join, two output rows."""
    from ..functions import texts
    from . import events_table

    ev = events_table(spark, sf_dir)
    assign = ev.select("user_id").distinct().select(
        "user_id",
        (texts.md5int32(F.col("user_id").cast("string")) % 2).cast("int").alias("variant"),
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_user"))
        .distinct()
    )
    return (
        assign.join(conv, assign.user_id == conv.c_user, "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("c_user").alias("n_converted"),
        )
        .select(
            "variant",
            "n_users",
            "n_converted",
            (F.round((F.col("n_converted").cast("double") / F.col("n_users")) * 10000) / 10000).alias(
                "conversion_rate"
            ),
        )
    )


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "events_pivot_type_counts",
    f"""
SELECT user_id,
       {", ".join(f"count(*) FILTER (event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events GROUP BY user_id""",
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event-type counts as columns. The value list is
    explicit (EVENT_TYPES) — at scale an unlisted pivot forces an extra
    distinct-values job and an unbounded schema; the oracle is the
    equivalent conditional aggregation."""
    from . import events_table

    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@query(
    "events_interarrival_stats",
    """
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events)
SELECT user_id, count(*) AS n_gaps,
       CAST(sum(gap_ms) AS DOUBLE) / count(*) AS mean_gap_ms,
       max(gap_ms) AS max_gap_ms, min(gap_ms) AS min_gap_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY user_id""",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event inter-arrival statistics — the activity-cadence
    feature behind bot filtering and engagement modeling. One window
    shuffle on user_id (lag over (ts, event_id) — the event_id tiebreak
    makes simultaneous events deterministic, the asof-join lesson), then a
    reuse of the SAME user_id partitioning for the aggregate: Catalyst
    plans zero additional Exchanges after the window. All gap math is
    integer milliseconds (epoch_ms in both engines), so sums are exact and
    the mean is a deterministic long/long->double quotient."""
    ev = events_table(spark, sf_dir)
    from pyspark.sql import Window as W

    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gaps = ev.select(
        "user_id", (ms - F.lag(ms).over(win)).alias("gap_ms")
    ).where(F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        (F.sum("gap_ms").cast("double") / F.count(F.lit(1))).alias("mean_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.min("gap_ms").alias("min_gap_ms"),
    )


@query(
    "events_daily_stickiness",
    """
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
contrib AS (
  SELECT d + CAST(r AS INTEGER) AS day, user_id
  FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS r) offsets),
wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1),
dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau FROM pairs GROUP BY 1)
SELECT dau.day AS day, dau, wau,
       round(CAST(dau AS DOUBLE) / wau * 10000) / 10000 AS stickiness
FROM dau JOIN wau ON dau.day = wau.day""",
)
def events_daily_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly actives, and the DAU/WAU
    stickiness ratio — the engagement health metric of every product
    dashboard, computed EXACTLY (the HLL-sketch variant for 100 TB lives
    in events_sketch_aggregates; this is the precise twin).

    Shape: distinct (day, user) pairs first (collapses the event stream
    to its activity support — the only big shuffle), then each pair is
    fanned to the 7 trailing windows it contributes to via a map-side
    sequence explode (7x narrow rows, NO range join / no BNLJ), and two
    distinct-count aggregates share the day key. Days with no events
    drop out via the inner join (a calendar dimension would fill them;
    the fixture has no gaps)."""
    ev = events_table(spark, sf_dir)
    pairs = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    contrib = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        _r4(F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


@query(
    "events_type_affinity",
    """
WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT count(DISTINCT user_id) AS n_users FROM pairs),
marg AS (SELECT event_type, count(*) AS n FROM pairs GROUP BY 1),
co AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_both, ma.n AS n_a, mb.n AS n_b,
       round(CAST(n_both AS DOUBLE) * n_users / (ma.n * mb.n) * 10000) / 10000
         AS lift
FROM co
JOIN marg ma ON type_a = ma.event_type
JOIN marg mb ON type_b = mb.event_type
CROSS JOIN tot""",
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types over the user dimension:
    P(a,b) / (P(a) P(b)) — lift > 1 marks behaviors that travel together
    (the co-occurrence statistic behind item-item recommenders and
    feature-cross pruning).

    Shape: the event stream collapses to DISTINCT (user, type) support
    FIRST (the only fact-sized shuffle); the co-occurrence self-join is
    then user-keyed with per-user fan-out bounded by |types|^2 (types are
    a bounded domain — at 100 TB this join grows linearly with users, not
    events); marginals broadcast. Counts are integers; one r4-quantized
    double ratio at the end."""
    ev = events_table(spark, sf_dir)
    pairs = ev.select("user_id", "event_type").distinct()
    tot = pairs.agg(F.countDistinct("user_id").alias("n_users"))
    marg = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = pairs.select("user_id", F.col("event_type").alias("type_a"))
    b = pairs.select("user_id", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        co.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.round(
                    F.col("n_both").cast("double")
                    * F.col("n_users")
                    / (F.col("n_a") * F.col("n_b"))
                    * 10000
                )
                / 10000
            ).alias("lift"),
        )
    )


_PR_SCALE = 1_000_000_000_000  # rank micro-units: 1.0 == 10^12

_PR_ITERS = 3


def _sql_pr_iter(prev: str, it: int) -> str:
    """One unrolled integer PageRank round as a SQL CTE pair."""
    return f"""
c{it} AS (
  SELECT e.dst AS event_type,
         sum((r.rank_u * 85 // 100) * e.n // e.w_out) AS contrib
  FROM {prev} r JOIN edges e ON r.event_type = e.src
  GROUP BY 1),
r{it} AS (
  SELECT n.event_type,
         base_u + coalesce(c.contrib, 0) AS rank_u
  FROM nodes n
  LEFT JOIN c{it} c USING (event_type)
  CROSS JOIN consts)"""


# The PageRank is the template for iterative algorithms under the cross-engine
# gate: every iteration runs in BIGINT micro-units (floor divisions, no
# floats), so three unrolled rounds hash-match the SQL twin bit-for-bit — the
# same trick that made the rank-stable weighted sample and the bloom bitmap
# oracle-able.
@query(
    "events_type_pagerank",
    f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
edges0 AS (
  SELECT event_type AS src, next_type AS dst, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
edges AS (
  SELECT src, dst, n, sum(n) OVER (PARTITION BY src) AS w_out FROM edges0),
nodes AS (SELECT DISTINCT event_type FROM events),
consts AS (
  SELECT CAST({_PR_SCALE} AS BIGINT) * 15 // (100 * count(*)) AS base_u,
         CAST({_PR_SCALE} AS BIGINT) // count(*) AS init_u,
         count(*) AS n_nodes
  FROM nodes),
r0 AS (SELECT event_type, init_u AS rank_u FROM nodes CROSS JOIN consts),
{",".join(_sql_pr_iter("r" + str(i), i + 1).strip() for i in range(_PR_ITERS))}
SELECT event_type, CAST(rank_u AS BIGINT) AS rank_u FROM r{_PR_ITERS}""",
)
def events_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph (edges = the
    markov-transition counts), {_PR_ITERS} unrolled power iterations with
    damping 0.85 — the iterative-algorithm template under the exact
    cross-engine gate.

    The determinism trick: ranks live in BIGINT micro-units (1.0 = 10^12)
    and every step is integer multiply + floor division — `(rank * 85 //
    100) * n // w_out` — so the per-node contribution sums are exact
    BIGINTs in ANY aggregation order; a float formulation would make each
    shuffle a coin flip in the low bits. Dangling-node mass leaks (the
    standard simplification; no type is a sink in the fixture, and leak
    only rescales). Each iteration is one (src-keyed join -> dst-keyed
    aggregate) pair over a |types|^2-bounded edge table; at 100 TB the
    expensive part is the ONE windowed pass deriving the edges, shared
    with events_markov_transitions, and iterations cost nothing because
    the graph is domain-sized. For billion-node graphs the same loop runs
    with edges as the big table and localCheckpoint between rounds (see
    operators/dedup.py connected components)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    edges0 = (
        seq.groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    edges = caches.track(
        edges0.withColumn("w_out", F.sum("n").over(Window.partitionBy("src"))).persist()
    )
    nodes = ev.select("event_type").distinct()
    n_nodes = nodes.count()  # domain-sized scalar (like the IDF doc count)
    base_u = _PR_SCALE * 15 // (100 * n_nodes)
    init_u = _PR_SCALE // n_nodes

    ranks = nodes.select("event_type", F.lit(init_u).cast("long").alias("rank_u"))
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(edges, ranks["event_type"] == edges["src"])
            .select(
                F.col("dst").alias("event_type"),
                F.expr("(rank_u * 85 div 100) * n div w_out").alias("c"),
            )
            .groupBy("event_type")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "event_type", "left")
            .select(
                "event_type",
                (F.lit(base_u) + F.coalesce("contrib", F.lit(0)))
                .cast("long")
                .alias("rank_u"),
            )
        )
    return ranks


@query(
    "events_stickiness_hll",
    """
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
contrib AS (
  SELECT d + CAST(r AS INTEGER) AS day, user_id
  FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS r) offsets),
wau AS (SELECT day, count(DISTINCT user_id) AS wau_exact FROM contrib GROUP BY 1),
dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau_exact FROM pairs GROUP BY 1)
SELECT dau.day AS day, dau_exact, wau_exact,
       TRUE AS dau_within_bounds, TRUE AS wau_within_bounds
FROM dau JOIN wau ON dau.day = wau.day""",
)
def events_stickiness_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of events_daily_stickiness: DAU and trailing-7-day
    WAU via HLL++ (approx_count_distinct, 2% rsd) instead of exact
    distincts — at billions of users/day the exact two-level distinct is
    a full shuffle of the activity support per window, while the HLL
    buffers are KBs per day and merge associatively (partial aggregation
    does almost all the work map-side; this is also the form that keeps
    running under Structured Streaming, where exact distinct state is
    unbounded).

    Same oracle discipline as events_sketch_aggregates: sketch values are
    engine-specific, so the query emits EXACT anchors (hash-matched
    against DuckDB) plus booleans asserting each HLL estimate landed
    within 5x its rsd (+1 absolute for tiny days); the oracle states the
    booleans as TRUE literals, so a gross sketch regression flips the
    value hash."""
    ev = events_table(spark, sf_dir)
    # NOT persisted (guide §2.4 boundary, measured r13: same-process A/B of
    # a gated persist of `pairs` was within noise both ways — the exact
    # two-level countDistinct aggregates dominate, not the scan+distinct)
    pairs = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    contrib = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    # ONE aggregate per granularity carrying both the exact distinct and the
    # HLL buffer: a SINGLE countDistinct mixes with non-distinct aggregates
    # via the planner's two-level rewrite WITHOUT the Expand blow-up (that
    # trap needs multiple distinct columns — cf. events_sketch_aggregates,
    # which separates because it also carries percentile buffers). Measured:
    # 6 Exchanges vs 12 for the split four-aggregate form.
    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("dau_approx"),
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("wau_approx"),
    )

    def within(approx, exact):
        return F.abs(approx - exact) <= (0.10 * exact + 1)

    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau_exact",
            "wau_exact",
            within(F.col("dau_approx"), F.col("dau_exact")).alias("dau_within_bounds"),
            within(F.col("wau_approx"), F.col("wau_exact")).alias("wau_within_bounds"),
        )
    )


@query(
    "events_gap_fill_ffill",
    """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS hour_value
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2),
spans AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM spans),
joined AS (
  SELECT g.user_id, g.h, hour_value FROM grid g
  LEFT JOIN hourly USING (user_id, h))
SELECT user_id, epoch_us(h) AS hour_us,
       last_value(hour_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING)
         AS filled_value,
       hour_value IS NULL AS was_gap
FROM joined""",
)
def events_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: each user's hourly value totals on a
    DENSE hourly grid (from their first to last active hour), gaps
    forward-filled with the last observation — the resample+ffill step
    every feature pipeline runs before windowed models, plus a was_gap
    flag so imputed points stay distinguishable.

    Shape: hourly totals are one decimal-exact aggregate; the grid is a
    map-side sequence() explode off the per-user [min, max] span (never a
    calendar cross join — grid size is sum of user spans, not
    users x global range); the fill is one last(ignorenulls) running
    window per user. Measured plan: THREE Exchanges total — the
    (user_id, hour) hourly aggregate, the user_id span aggregate, and
    the user_id window (the grid join rides the window's partitioning) —
    each carrying narrow rows. Forward-fill copies doubles bit-exactly,
    so the filled series hash-matches."""
    from pyspark.sql import Window as W

    ev = events_table(spark, sf_dir)
    hourly = (
        ev.where(F.col("value").isNotNull())
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("hour_value")
        )
    )
    spans = hourly.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    return joined.select(
        "user_id",
        F.unix_micros("h").alias("hour_us"),
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("hour_value").isNull().alias("was_gap"),
    )


_PATH_TOP = 20


@query(
    "events_path_trigrams",
    f"""
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT a || '>' || b || '>' || c AS path, count(*) AS n
FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path LIMIT {_PATH_TOP}""",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} three-step behavior paths (a>b>c) across all user
    journeys — second-order sequence mining next to the first-order
    markov matrix (a funnel 'view>click>purchase' dominating here but
    absent from pairwise transitions is the classic insight this view
    adds).

    One window pass (both leads share the same user/ts frame — Spark
    evaluates them in a single Window operator over one user_id
    Exchange), a path-keyed count with map-side partials, deterministic
    TakeOrderedAndProject top-{20}."""
    from pyspark.sql import Window as W

    ev = events_table(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).where(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOP)
    )


_TRI_MIN_W = 5  # co-activity support threshold: >= 5 shared (hour, type) buckets

# scale gate (VERDICT r12 item 2): above this many input events
# the exact all-pairs bucket join is no longer the plan a 100 TB run
# should execute — the query takes the deterministically capped
# co_activity_triangles plan (generous production caps) automatically.
# The threshold sits where the quadratic term overtakes the capped
# plan's constant overhead (two extra row_number windows + the gate
# count), measured warm at both decades: exact 2.9 s vs capped 5.6 s at
# 100k events (sf0.1 — exact is still the better plan), capped 16 s vs
# exact 72 s at 1M (sf1). Oracle scales (1k / 10k events) stay far
# below it, so the hash rows remain exact evidence.
_TRI_EXACT_MAX_EVENTS = 400_000


@query(
    "events_user_triangles",
    f"""
WITH support AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, event_type AS t, user_id AS u
  FROM events),
co AS (
  SELECT a.u AS x, b.u AS y, count(*) AS w
  FROM support a JOIN support b ON a.h = b.h AND a.t = b.t AND a.u < b.u
  GROUP BY 1, 2),
edges AS (SELECT x, y FROM co WHERE w >= {_TRI_MIN_W}),
deg AS (
  SELECT u, count(*) AS dg FROM (
    SELECT x AS u FROM edges UNION ALL SELECT y AS u FROM edges) GROUP BY 1),
oriented AS (
  SELECT CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND e.x < e.y)
              THEN e.x ELSE e.y END AS src,
         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND e.x < e.y)
              THEN e.y ELSE e.x END AS dst
  FROM edges e JOIN deg dx ON e.x = dx.u JOIN deg dy ON e.y = dy.u),
o2 AS (SELECT src, dst, dg AS dst_dg FROM oriented JOIN deg ON dst = u),
wedges AS (
  SELECT w1.dst AS lo, w2.dst AS hi
  FROM o2 w1 JOIN o2 w2
    ON w1.src = w2.src
   AND ((w1.dst_dg < w2.dst_dg) OR (w1.dst_dg = w2.dst_dg AND w1.dst < w2.dst))),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN oriented o ON w.lo = o.src AND w.hi = o.dst)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM deg) AS n_nodes,
       n_triangles
FROM tri""",
)
def events_user_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the user co-activity graph (edge = two users
    sharing >= {_TRI_MIN_W} distinct (hour, event-type) buckets) via the
    DEGREE-ORDERED wedge join — the classic distributed triangle
    algorithm (Cohen / Suri-Vassilvitskii): orient every edge from its
    lower-(degree, id) endpoint, enumerate wedges only at each edge's
    tail, and close them against oriented edges. Orientation bounds
    per-node wedge fan-out by out-degree (<= sqrt(2m) per node on any
    graph), which is what keeps the wedge table near-linear instead of
    sum-of-squared-degrees — the difference between feasible and
    quadratic on a power-law graph at 100 TB. Triangle density is the
    community-structure signal behind social-graph features and
    bot-ring detection.

    Every join here is EQUI-keyed (the wedge closing pair is
    canonicalized by the same (degree, id) comparator the orientation
    uses, so the closing edge matches on equality — no OR-join/BNLJ);
    counts are integers; one three-scalar output row assembled from
    one-row broadcast aggregates.

    SCALE GATE (r12 verdict item 2 — the ranking-family size-gate
    pattern): the exact form's bucket self-join volume is
    sum-of-squared bucket occupancy and wedge volume is out-degree^2
    (measured sf0.1→sf1 exponent 1.40-1.53 across rounds), so the query
    counts the events input (one metadata-backed parquet count) and,
    above _TRI_EXACT_MAX_EVENTS, executes the deterministically capped
    co_activity_triangles plan instead (generous production caps
    bucket_cap=128 / max_out_deg=64, (md5,id)-ordered — undercounts
    only, O(edges) at any scale; the tighter-capped twin is registered
    as events_user_triangles_capped, exponent 0.41 at the third decade).
    The oracle scales (1k / 10k events) stay on the exact branch, so the
    hash rows remain exact evidence; the threshold, read at call time,
    is the only switch (the branch-parity test sets it to -1)."""
    from ..operators import graphs

    ev = events_table(spark, sf_dir)
    if table_rowcount(spark, sf_dir, "events") > _TRI_EXACT_MAX_EVENTS:
        return graphs.co_activity_triangles(ev, min_w=_TRI_MIN_W)
    # the exact form IS the operator with both caps disabled (the former
    # inline copy of the same stages was removed in the r13 optimization
    # round so the exact branch shares the operator's driver fast path:
    # thresholded edge lists under graphs.DRIVER_MAX_EDGES orient/close in
    # one collect instead of the 6-join wedge pipeline)
    return graphs.co_activity_triangles(
        ev, min_w=_TRI_MIN_W, bucket_cap=None, max_out_deg=None
    )


_WINDOWED_TOPK_SQL = """
WITH agg AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM events GROUP BY day, event_type),
r AS (SELECT day, event_type, revenue,
             row_number() OVER (PARTITION BY day
                                ORDER BY revenue DESC, event_type) AS rnk
      FROM agg)
SELECT day, event_type, revenue, rnk FROM r WHERE rnk <= 3"""


@query("events_windowed_topk", _WINDOWED_TOPK_SQL)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed heavy hitters: top-3 event types per day by DECIMAL-exact
    spend, deterministic tie-break (spend desc, type asc). Partial
    aggregation shrinks the shuffle to |days x types| rows before the
    per-day rank window — the map-side-combine shape that makes windowed
    top-k linear at 100 TB (contrast a direct rank over raw events,
    which would sort the fact table)."""
    ev = events_table(spark, sf_dir)
    agg = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            "event_type",
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
        .groupBy("day", "event_type")
        .agg(F.sum("v").cast("double").alias("revenue"))
    )
    w = Window.partitionBy("day").orderBy(F.col("revenue").desc(), "event_type")
    return agg.select(
        "day", "event_type", "revenue", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= 3)


_SKEW_SQL = """
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
SELECT count(*) AS n_keys,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       quantile_cont(cnt, 0.5) AS p50_cnt,
       quantile_cont(cnt, 0.99) AS p99_cnt,
       round(CAST(max(cnt) AS DOUBLE) / quantile_cont(cnt, 0.5) * 100) / 100
         AS skew_ratio,
       CAST(ceil(CAST(max(cnt) AS DOUBLE) / quantile_cont(cnt, 0.99)) AS BIGINT)
         AS suggested_salt
FROM c"""


# Key-frequency skew diagnostics for the events fact (p50/p99/max per-key
# counts, skew ratio, suggested salt factor) — the number operators/skew.py's
# salted joins are tuned from.
@query("events_skew_report", _SKEW_SQL)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics for the events fact keyed by user_id: per-key
    counts (one map-side-combined aggregate), then a one-row summary —
    key cardinality, max and exact p50/p99 per-key counts (Spark
    `percentile` == DuckDB `quantile_cont`, the pinned interpolation
    pair), the max/p50 skew ratio, and ceil(max/p99) as the salt factor
    a salted join (operators/skew.py) would use to level the hottest
    key down to p99 volume. This is the profiling query you run BEFORE
    choosing broadcast/salt/AQE strategies on a new fact table; at
    100 TB the per-key count relation is the only shuffle and the
    summary is exact-percentile over |keys| rows (swap in
    approx_percentile when even that is too wide)."""
    ev = events_table(spark, sf_dir)
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    maxd = F.max("cnt").cast("double")
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("p50_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
        (F.round(maxd / F.expr("percentile(cnt, 0.5)") * 100) / 100).alias(
            "skew_ratio"
        ),
        F.ceil(maxd / F.expr("percentile(cnt, 0.99)")).cast("long").alias(
            "suggested_salt"
        ),
    )


_SALTED_SQL = """
SELECT user_id,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
       count(*) AS n
FROM events WHERE event_type = 'purchase' GROUP BY user_id"""


@query("events_salted_spend", _SALTED_SQL)
def events_salted_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase spend computed through the SALTED two-phase
    aggregation (operators/skew.py salted_sum: partial sums over
    (key, salt in [0,8)), final re-aggregate over key) while the oracle
    is the plain one-shot GROUP BY — an external hash row proving the
    skew-leveling rewrite is RESULT-IDENTICAL, which is the whole point
    of salting: the DECIMAL(18,4) internal sum makes the re-association
    exact, so hot-key load can be spread over `salt` reducers without
    perturbing a single low bit. (The performance side — 20M-row hot-key
    benchmark — is in SCALE.md; this query pins the correctness side.)"""
    from ..operators import skew

    ev = events_table(spark, sf_dir).where(F.col("event_type") == "purchase")
    return skew.salted_sum(ev, "user_id", "value", salt=8)


_HLL_ROLLUP_SQL = """
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
wk AS (SELECT CAST(floor((d - DATE '2024-01-01') / 7) AS BIGINT) AS week_idx,
              d, user_id
       FROM pairs)
SELECT week_idx,
       count(DISTINCT d) AS n_days,
       count(DISTINCT user_id) AS wk_exact,
       TRUE AS within_bounds
FROM wk GROUP BY week_idx"""


@query("events_hll_rollup", _HLL_ROLLUP_SQL)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup — the hypertable/datasketches pattern that
    events_stickiness_hll (which re-aggregates raw rows per window) does
    not exercise: per-day HLL sketches are built ONCE
    (`hll_sketch_agg`, Apache DataSketches binary buffers), and the
    weekly level is produced purely by `hll_union_agg` over the 7 daily
    sketches — the raw events are never re-touched above day grain. At
    100 TB this is the only viable rollup shape: day sketches are KBs,
    unions are associative/commutative (any regrouping — week, month,
    ad-hoc ranges — reuses the same day-grain sketch table).

    Oracle discipline per events_stickiness_hll: sketch bytes are
    engine-specific, so the hash row carries the EXACT weekly distinct
    (DuckDB-matched) plus a boolean pinning the union-estimate within
    5% + 1 of exact; the oracle states TRUE, so a sketch/union
    regression flips the hash."""
    ev = events_table(spark, sf_dir)
    day = F.to_date("ts")
    week = F.floor(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    daily = ev.select(day.alias("d"), "user_id").groupBy("d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_sk = (
        daily.select(week.alias("week_idx"), "sk")
        .groupBy("week_idx")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wk_approx"),
        )
    )
    exact = (
        ev.select(day.alias("d"), "user_id")
        .distinct()
        .select(week.alias("week_idx"), "user_id")
        .groupBy("week_idx")
        .agg(F.count_distinct("user_id").alias("wk_exact"))
    )
    return weekly_sk.join(exact, "week_idx").select(
        "week_idx",
        "n_days",
        "wk_exact",
        (
            F.abs(F.col("wk_approx") - F.col("wk_exact"))
            <= (0.05 * F.col("wk_exact") + 1)
        ).alias("within_bounds"),
    )


_NULLSAFE_SQL = """
WITH ev AS (
  SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 4 = 3
              THEN NULL
              ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) % 4
         END AS segment
  FROM events),
dim AS (SELECT * FROM (VALUES (0, 'seg-0'), (1, 'seg-1'), (2, 'seg-2'),
                              (NULL, 'unknown')) AS t(segment, label))
SELECT label, count(*) AS n_events
FROM ev JOIN dim ON ev.segment IS NOT DISTINCT FROM dim.segment
GROUP BY label"""


@query("events_nullsafe_match", _NULLSAFE_SQL)
def events_nullsafe_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): events with a
    nullable derived segment joined to a dim that carries an explicit
    NULL->'unknown' row — the untagged traffic a plain equi-join would
    silently DROP lands in its bucket instead. Null-safe equality is a
    first-class join key for Spark's hash/sort-merge strategies (no
    fallback to nested-loop), so the plan shape is identical to a normal
    equi-join; the dim is a 4-row literal relation and broadcasts."""
    ev = events_table(spark, sf_dir).select(
        F.when(
            F.get_json_object("props", "$.k").cast("int") % 4 == 3, F.lit(None)
        )
        .otherwise(F.get_json_object("props", "$.k").cast("int") % 4)
        .alias("segment")
    )
    dim = local_table(
        spark,
        [(0, "seg-0"), (1, "seg-1"), (2, "seg-2"), (None, "unknown")],
        "segment int, label string",
    )
    return (
        ev.join(F.broadcast(dim), ev["segment"].eqNullSafe(dim["segment"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_VARIANT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY k_bucket"""


@query("events_variant_extract", _VARIANT_SQL)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: `parse_json`
    once into a binary variant column, `variant_get` typed paths after —
    the open-schema ingestion pattern that replaces per-query JSON
    re-parsing (the variant encodes once; every subsequent path access
    is a binary probe, not a string parse — the same reason Snowflake/
    Delta variant columns beat raw JSON strings at scale). Results
    identical to the string-path events_json_extract family, which is
    the point: the oracle needs no variant support, it states the JSON
    semantics."""
    ev = events_table(spark, sf_dir)
    return (
        ev.select(
            F.parse_json("props").alias("v"),
            F.col("value").cast("decimal(18,4)").alias("val"),
        )
        .select(
            (F.variant_get("v", "$.k", "int") % 10).alias("k_bucket"), "val"
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("val").cast("double").alias("total_value"),
        )
    )


_RFM_SQL = """
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
per AS (
  SELECT user_id,
         datediff('day', max(CAST(ts AS DATE)), (SELECT d1 FROM anchor)) AS rec,
         count(*) AS freq,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END),
                       0) AS BIGINT) AS mon
  FROM events GROUP BY user_id),
q AS (SELECT quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.5) AS r2,
             quantile_cont(rec, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(mon, 0.25) AS m1, quantile_cont(mon, 0.5) AS m2,
             quantile_cont(mon, 0.75) AS m3
      FROM per)
SELECT user_id, rec, freq, mon,
       CAST(1 + CASE WHEN rec > r1 THEN 1 ELSE 0 END
              + CASE WHEN rec > r2 THEN 1 ELSE 0 END
              + CASE WHEN rec > r3 THEN 1 ELSE 0 END AS BIGINT) AS r_q,
       CAST(1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
              + CASE WHEN freq > f2 THEN 1 ELSE 0 END
              + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS BIGINT) AS f_q,
       CAST(1 + CASE WHEN mon > m1 THEN 1 ELSE 0 END
              + CASE WHEN mon > m2 THEN 1 ELSE 0 END
              + CASE WHEN mon > m3 THEN 1 ELSE 0 END AS BIGINT) AS m_q
FROM per CROSS JOIN q"""


# RFM metrics are day counts / event counts / cents, so the quantile_cont
# interpolation at dyadic fractions is bit-exact in BOTH engines.
@query("events_rfm_segments", _RFM_SQL)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation per user: recency (days since the user's
    last event, anchored at the corpus max date), frequency (event
    count), monetary (purchase spend in integer CENTS). Quartile labels
    come from exact value THRESHOLDS (percentile 0.25/0.5/0.75 of each
    metric), not ntile — rank-based quartiles need one global sort (a
    single-partition window, the canonical scale anti-pattern), while
    thresholds are ONE tiny aggregate broadcast back over the per-user
    relation, so the plan is two narrow shuffles at any corpus size.

    Exactness: all three metrics are integers, and percentile
    interpolation at dyadic fractions (g in {0.25, 0.5, 0.75}) is exact
    binary FP on integer neighbors, so Spark's percentile and DuckDB's
    quantile_cont agree bit-for-bit — no rounding convention needed."""
    ev = events_table(spark, sf_dir)
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    per = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).cast("long").alias("mon"),
    )
    per = per.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff("d1", "last_d").alias("rec"),
        "freq",
        "mon",
    )
    qs = per.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"{c[0]}{i}")
            for c in ("rec", "freq", "mon")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def band(c: str):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{c[0]}1")).cast("int")
            + (F.col(c) > F.col(f"{c[0]}2")).cast("int")
            + (F.col(c) > F.col(f"{c[0]}3")).cast("int")
        ).cast("long")

    return per.crossJoin(F.broadcast(qs)).select(
        "user_id",
        "rec",
        "freq",
        "mon",
        band("rec").alias("r_q"),
        band("freq").alias("f_q"),
        band("mon").alias("m_q"),
    )


_OVERLAP_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y),
s AS (SELECT user_id, session_id, min(ts) AS session_start,
             max(ts) AS session_end
      FROM z GROUP BY user_id, session_id),
ov AS (
  SELECT a.user_id, a.session_id, count(*) AS n_concurrent
  FROM s a JOIN s b
    ON a.user_id <> b.user_id
   AND a.session_start <= b.session_end
   AND b.session_start <= a.session_end
  GROUP BY a.user_id, a.session_id)
SELECT s.user_id, session_start, session_end,
       CAST(COALESCE(n_concurrent, 0) AS BIGINT) AS n_concurrent
FROM s LEFT JOIN ov USING (user_id, session_id)"""


@query("events_interval_overlap", _OVERLAP_SQL)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: for every user session (30-min-gap
    sessionization), how many OTHER users' sessions overlap it in time
    (closed-interval overlap: a.start <= b.end AND b.start <= a.end) —
    the concurrency measure behind capacity planning and co-presence
    features.

    Spark has no native interval join; a plain range-predicate self-join
    plans as a nested-loop over the full cross product. The scale shape
    here is TIME-GRID BUCKETING: each session explodes to the hour cells
    it spans (sessions are gap-bounded, so almost always 1-2 cells), the
    equi-join on the cell bounds candidates to per-cell pairs, the exact
    overlap predicate verifies candidates, and pairs found in several
    shared cells are deduplicated before counting. Hot cells (peak hour)
    are the skew surface — AQE skew-join splitting handles them, and the
    cell width is the knob (the oracle is cell-free, so re-bucketing
    cannot change results)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    s = (
        ev.select("user_id", "ts", sess_id.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    hour = 3_600_000_000  # microseconds
    cells = s.select(
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("a_us"),
        F.unix_micros("session_end").alias("b_us"),
        F.explode(
            F.sequence(
                F.floor(F.unix_micros("session_start") / hour),
                F.floor(F.unix_micros("session_end") / hour),
            )
        ).alias("cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.user_id") != F.col("b.user_id"))
            & (F.col("a.a_us") <= F.col("b.b_us"))
            & (F.col("b.a_us") <= F.col("a.b_us")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.session_id").alias("session_id"),
            F.col("b.user_id").alias("ou"),
            F.col("b.session_id").alias("os"),
        )
        .dropDuplicates(["user_id", "session_id", "ou", "os"])
    )
    ov = pairs.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_concurrent")
    )
    return (
        s.join(ov, ["user_id", "session_id"], "left")
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.coalesce("n_concurrent", F.lit(0)).cast("long").alias("n_concurrent"),
        )
    )


_LTV_SQL = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
x AS (
  SELECT e.user_id,
         CAST((year(CAST(e.ts AS DATE)) - year(d0)) * 12
              + (month(CAST(e.ts AS DATE)) - month(d0)) AS BIGINT) AS age_m,
         date_trunc('month', d0) AS cohort_month,
         CASE WHEN e.event_type = 'purchase'
              THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END AS cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id)
SELECT CAST(cohort_month AS DATE) AS cohort_month, age_m,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS spend_cents
FROM x GROUP BY cohort_month, age_m"""


@query("events_cohort_ltv", _LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-seen month,
    purchase spend accumulated per month-of-age — the (cohort x age)
    revenue triangle behind every LTV curve. Spend is integer CENTS end
    to end (sum of round(value*100)), so both engines aggregate exactly
    with no float-association drift; age is calendar-month arithmetic.

    Scale shape: first-seen is one narrow per-user aggregate joined back
    on the user key (a single co-partitioned shuffle — Catalyst reuses
    the user_id exchange for both), and the final matrix is
    |cohorts x ages| rows. No window over the full event stream."""
    ev = events_table(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    d = F.col("ts").cast("date")
    x = ev.join(firsts, "user_id").select(
        "user_id",
        (
            (F.year(d) - F.year("d0")) * 12 + (F.month(d) - F.month("d0"))
        ).cast("long").alias("age_m"),
        F.date_trunc("month", "d0").cast("date").alias("cohort_month"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        ).otherwise(0).alias("cents"),
    )
    return x.groupBy("cohort_month", "age_m").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("spend_cents"),
    )


_SESSION_REV_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT *, CASE WHEN pts IS NULL
                      OR epoch_us(ts) - epoch_us(pts) > 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts, event_type, value,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y)
SELECT user_id, session_id,
       min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT) END),
                     0) AS BIGINT) AS revenue_cents
FROM z GROUP BY user_id, session_id"""


@query("events_session_revenue", _SESSION_REV_SQL)
def events_session_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attribution at session grain: 30-min-gap sessionization
    (the shared session definition of events_sessionize /
    stream_sessionize) with purchase spend accumulated per session in
    integer CENTS — the session-value table conversion funnels and
    basket analyses join against. One shuffle on user_id serves the
    session window AND the final aggregate (same exchange reuse as
    events_sessionize); revenue stays integral until the consumer
    divides."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "ts", "event_type", "value", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("revenue_cents"),
        )
    )


_TTC_SQL = """
WITH b AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
c AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM b),
g AS (SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2
      FROM c GROUP BY user_id),
d AS (SELECT epoch_us(t2) - epoch_us(t1) AS delta_us FROM g
      WHERE t2 IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(delta_us, 0.25) AS p25_us,
       quantile_cont(delta_us, 0.5) AS p50_us,
       quantile_cont(delta_us, 0.75) AS p75_us
FROM d"""


# First-view-to-first-purchase latency percentiles, integer-microsecond exact.
@query("events_time_to_convert", _TTC_SQL)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, first view to first
    purchase AFTER it (the funnel-stage definition shared with
    events_funnel / stream_funnel_detect), summarized as the
    p25/p50/p75 of the latency in integer MICROSECONDS — dyadic
    percentile interpolation on integers is bit-exact across engines
    (same argument as events_rfm_segments). One user_id-partitioned
    window pass, one tiny global aggregate — no per-event join."""
    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = ev.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn(
        "t2", F.min(F.when((typ == "purchase") & (t > F.col("t1")), t)).over(w)
    )
    g = (
        df.groupBy("user_id")
        .agg(F.first("t1").alias("t1"), F.first("t2").alias("t2"))
        .where(F.col("t2").isNotNull())
        .select((F.unix_micros("t2") - F.unix_micros("t1")).alias("delta_us"))
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile("delta_us", F.lit(0.25)).alias("p25_us"),
        F.percentile("delta_us", F.lit(0.5)).alias("p50_us"),
        F.percentile("delta_us", F.lit(0.75)).alias("p75_us"),
    )


# --- exact heavy hitters -----------------------------------------------------

_HH_K = 120  # report keys with count * K > n  (n/120 ~ 83 at sf0.01)

_HH_BUDGET = 128  # MG counters per partition; >= K keeps the result exact


# EXACT heavy hitters via two-pass Misra-Gries (per-partition O(budget)
# summaries -> candidate recount). The oracle is the plain GROUP BY ... HAVING
# the two-pass scheme provably equals.
@query(
    "events_heavy_hitters",
    f"""
SELECT user_id, count(*) AS n_events
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING count(*) * {_HH_K}
       > (SELECT count(*) FROM events WHERE user_id IS NOT NULL)
""",
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users generating more than 1/120 of all traffic — computed with the
    two-pass Misra-Gries scheme (operators/sketches.py): pass 1 keeps an
    O(budget) in-task summary per partition (no per-key shuffle), pass 2
    recounts only the broadcast candidate set. Provably equal to the
    oracle's full GROUP BY ... HAVING because every key above n/(budget+1)
    survives some partition summary (mergeable-summaries guarantee)."""
    ev = events_table(spark, sf_dir)
    return (
        sketches.heavy_hitters(ev, "user_id", k=_HH_K, budget=_HH_BUDGET)
        .select(F.col("user_id").cast("long").alias("user_id"), "n_events")
    )


# --- KMV distinct sketch -----------------------------------------------------

_KMV_K = 16

_KMV_NUM = (_KMV_K - 1) * (1 << 52)  # (k-1) * 2^52, the estimate numerator


# KMV / theta-sketch distinct estimate (k smallest md5 values). Deterministic
# given the hash, so BOTH engines compute the same sketch bit-for-bit — the
# estimate itself is oracle-checkable, unlike randomized sketch libraries.
@query(
    "events_kmv_distinct",
    f"""
WITH h AS (SELECT DISTINCT event_type,
                  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS hv
           FROM events),
r AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h),
k AS (SELECT event_type, max(hv) AS kth_hash, count(*) AS kcnt
      FROM r WHERE rn <= {_KMV_K} GROUP BY event_type),
x AS (SELECT event_type, count(*) AS n_exact FROM h GROUP BY event_type)
SELECT x.event_type AS event_type, n_exact,
       CASE WHEN kcnt < {_KMV_K} THEN kcnt
            ELSE {_KMV_NUM} // kth_hash END AS kmv_est
FROM x JOIN k ON x.event_type = k.event_type
""",
)
def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta sketch) distinct-user estimate per
    event type, k=16 over a 52-bit md5 hash: est = (k-1) * 2^52 / h_(k)
    (Bar-Yossef et al. counting-distinct sketch; Beyer et al. KMV). The
    k-th smallest is found with a SALTED two-level window — level 1 ranks
    inside (type, hv mod 16) so no single sort ever sees a whole type's
    hash stream, level 2 ranks the <=256 survivors — the shape that holds
    when a type has billions of distinct users. Exact distinct count is
    emitted alongside so the estimate is auditable; both engines compute
    the identical sketch, so even `kmv_est` hash-matches."""
    ev = events_table(spark, sf_dir)
    h = (
        ev.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    lvl1 = Window.partitionBy("event_type", F.pmod("hv", F.lit(16))).orderBy("hv")
    lvl2 = Window.partitionBy("event_type").orderBy("hv")
    kmins = (
        h.withColumn("_r1", F.row_number().over(lvl1))
        .where(F.col("_r1") <= _KMV_K)
        .withColumn("_r2", F.row_number().over(lvl2))
        .where(F.col("_r2") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("hv").alias("kth_hash"), F.count(F.lit(1)).alias("kcnt"))
    )
    exact = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    return exact.join(kmins, "event_type").select(
        "event_type",
        "n_exact",
        F.when(F.col("kcnt") < _KMV_K, F.col("kcnt"))
        .otherwise(F.expr(f"CAST({_KMV_NUM} AS BIGINT) div kth_hash"))
        .alias("kmv_est"),
    )


# --- exponentially weighted daily counts -------------------------------------

_EWMA_HORIZON = 19  # days preceding; alpha = 1/2


# Exponentially weighted daily event counts (alpha = 1/2, 20-day horizon).
# Dyadic weights keep every partial sum EXACT in binary doubles, so the result
# is bit-identical across engines with no rounding step — see the exactness
# note on the query.
@query(
    "events_ewma_daily",
    f"""
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
               FROM events GROUP BY event_type, CAST(ts AS DATE)),
m AS (SELECT min(day) AS d0 FROM daily),
d AS (SELECT event_type, day, n_events,
             date_diff('day', d0, day) AS day_idx
      FROM daily, m)
SELECT event_type, day, n_events,
       sum(n_events * pow(2.0, day_idx)) OVER (
           PARTITION BY event_type ORDER BY day_idx
           RANGE BETWEEN {_EWMA_HORIZON} PRECEDING AND CURRENT ROW
       ) / pow(2.0, day_idx + 1) AS ewma
FROM d
""",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed daily event counts per type, alpha = 1/2 over a
    20-day horizon: ewma_t = sum_{j=0..19} x_{t-j} * 0.5^(j+1), with
    calendar gaps contributing 0 (the RANGE frame on a day index skips
    them, a ROWS frame would not).

    Exactness: weights are dyadic, counts are small integers, and the
    frame spans 20 dyadic octaves, so every term AND every partial sum
    fits in a double's 53-bit significand (~9 count bits + 19 shift bits
    + log2(20) carry bits). The division by 2^(idx+1) is exact too —
    bit-identical across engines with NO rounding convention needed,
    and immune to either engine's summation order."""
    ev = events_table(spark, sf_dir)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    d0 = daily.agg(F.min("day").alias("_d0"))
    d = (
        daily.crossJoin(F.broadcast(d0))
        .withColumn("day_idx", F.datediff("day", "_d0"))
        .drop("_d0")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-_EWMA_HORIZON, 0)
    )
    return d.select(
        "event_type",
        "day",
        "n_events",
        (
            F.sum(F.col("n_events") * F.pow(F.lit(2.0), F.col("day_idx"))).over(w)
            / F.pow(F.lit(2.0), F.col("day_idx") + 1)
        ).alias("ewma"),
    )


# --- debounce ----------------------------------------------------------------

_DEBOUNCE_US = 5_000_000


# Window-lag debounce (drop same-user same-type repeats inside 5 s) — the
# click-spam filter every ingest pipeline runs.
@query(
    "events_debounce",
    f"""
WITH x AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
  FROM events)
SELECT event_type,
       count(*) AS n_raw,
       CAST(sum(CASE WHEN gap IS NULL OR gap >= {_DEBOUNCE_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM x GROUP BY event_type
""",
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce repeated (user, type) events inside 5 s of the PREVIOUS RAW
    event (the one-lag window formulation; chain-debounce against the last
    KEPT event is inherently sequential — that variant lives in streaming
    state, this is the batch hygiene filter). One shuffle on (user_id,
    event_type) serves both the lag and the final per-type rollup."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    return (
        ev.select("event_type", gap.alias("gap"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(
                F.when(
                    F.col("gap").isNull() | (F.col("gap") >= _DEBOUNCE_US), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
        )
    )


# --- sequence pattern match ----------------------------------------------------

_PATTERN = "(^|>)view(>click)*>purchase(>|$)"

# 30-min sessionization fragment; mirrors events_sessionize (epoch_us gap >
# 1_800_000_000).
_SESSION_CTE = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y)"""


@query(
    "events_pattern_match",
    _SESSION_CTE
    + f""",
p AS (
  SELECT user_id, session_id,
         count(*) AS n_events,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM z GROUP BY user_id, session_id)
SELECT user_id, session_id, n_events, md5(path) AS path_md5,
       regexp_matches(path, '{_PATTERN}') AS matched
FROM p
""",
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection over 30-min sessions: did the session
    contain a view followed by a purchase with only clicks between —
    SQL:2016 MATCH_RECOGNIZE's PATTERN (V C* P), expressed portably by
    building each session's deterministic '>'-joined type path (ordered
    by ts, event_id) and running ONE RE2 regex on it. The path string is
    emitted md5-hashed so the report row stays narrow on long sessions.
    Same single user_id shuffle as events_sessionize; the path build is
    a sorted collect_list bounded by session length (watermark-bounded in
    the streaming twin)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return (
        ev.select("user_id", "ts", "event_id", "event_type", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), path.alias("path"))
        .select(
            "user_id",
            "session_id",
            "n_events",
            F.md5("path").alias("path_md5"),
            F.col("path").rlike(_PATTERN).alias("matched"),
        )
    )


# --- MAD anomaly flags ----------------------------------------------------------


# Robust anomaly flags via median absolute deviation (the zscore twin's
# mean/stddev are themselves corrupted by the outliers they look for;
# median/MAD are not). Exact dyadic medians, no rounding.
@query(
    "events_anomaly_mad",
    """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
               FROM events GROUP BY event_type, CAST(ts AS DATE)),
med AS (SELECT event_type, quantile_cont(n_events, 0.5) AS med FROM daily GROUP BY event_type),
mad AS (SELECT daily.event_type AS event_type,
               quantile_cont(abs(n_events - med), 0.5) AS mad
        FROM daily JOIN med ON daily.event_type = med.event_type
        GROUP BY daily.event_type)
SELECT daily.event_type AS event_type, day, n_events, med.med AS med, mad.mad AS mad
FROM daily
JOIN med ON daily.event_type = med.event_type
JOIN mad ON daily.event_type = mad.event_type
WHERE abs(n_events - med.med) > 3 * mad.mad
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly flags: |count - median| > 3 * MAD per
    event type. The MAD (median absolute deviation) survives the very
    outliers that inflate events_anomaly_zscore's mean and stddev — the
    robust-statistics twin of that query. Medians of integer counts are
    exact dyadic rationals (worst case x.5), so both engines agree
    bit-for-bit with no rounding convention. Exact percentile sorts each
    type's ~days-sized group — trivially small; a 100 TB deployment with
    billions of groups swaps in approx_percentile's mergeable t-digest."""
    ev = events_table(spark, sf_dir)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n_events, 0.5)").alias("med")
    )
    mad = (
        daily.join(med, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(n_events - med), 0.5)").alias("mad"))
    )
    return (
        daily.join(med, "event_type")
        .join(mad, "event_type")
        .where(F.abs(F.col("n_events") - F.col("med")) > 3 * F.col("mad"))
        .select("event_type", "day", "n_events", "med", "mad")
    )


# --- U-shaped multi-touch attribution -------------------------------------------

_TOTAL = 1_000_000  # credit per journey, in millionths

_END = 400_000  # first / last touch share (>= 3 touches)

_MID_POOL = _TOTAL - 2 * _END


# U-shaped (40/20/40) multi-touch attribution in integer MILLIONTHS — remainder
# assigned deterministically to the earliest middle touches, so every journey's
# credit sums to exactly 1,000,000 and the cross-engine hash needs no float
# convention.
@query(
    "events_attribution_position",
    f"""
WITH fp AS (
  SELECT user_id, min(ts) AS first_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
t AS (
  SELECT e.user_id AS user_id, e.event_type AS event_type, e.ts AS ts, e.event_id AS event_id
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type IN ('view', 'click')
    AND e.ts < fp.first_purchase
    AND e.ts >= fp.first_purchase - INTERVAL 7 DAY),
r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
         count(*) OVER (PARTITION BY user_id) AS tt
  FROM t),
c AS (
  SELECT event_type,
         CASE WHEN tt = 1 THEN {_TOTAL}
              WHEN tt = 2 THEN {_TOTAL // 2}
              WHEN pos = 1 OR pos = tt THEN {_END}
              ELSE {_MID_POOL} // (tt - 2)
                   + CASE WHEN pos - 1 <= {_MID_POOL} % (tt - 2)
                          THEN 1 ELSE 0 END
         END AS credit
  FROM r)
SELECT event_type, CAST(sum(credit) AS BIGINT) AS credit_millionths
FROM c GROUP BY event_type
""",
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution for each user's
    FIRST purchase: touches (views/clicks) in the 7 days before it share
    1,000,000 millionths of credit — 40% first, 40% last, 20% split over
    the middle touches, with the integer-division remainder handed to the
    EARLIEST middles one millionth each. Every journey sums to exactly
    1,000,000, all arithmetic is integral, so the per-channel rollup
    hash-matches with no float convention. Plan: one small aggregate for
    first purchases joined back (AQE broadcasts it), one user_id window —
    the same single-shuffle shape as the sessionizer."""
    ev = events_table(spark, sf_dir)
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    touches = (
        ev.join(fp, "user_id")
        .where(
            F.col("event_type").isin("view", "click")
            & (F.col("ts") < F.col("first_purchase"))
            & (F.col("ts") >= F.col("first_purchase") - F.expr("INTERVAL 7 DAYS"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    r = touches.select(
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wall).alias("tt"),
    )
    mid = F.col("tt") - 2
    credit = (
        F.when(F.col("tt") == 1, F.lit(_TOTAL))
        .when(F.col("tt") == 2, F.lit(_TOTAL // 2))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("tt")), F.lit(_END))
        .otherwise(
            F.expr(f"{_MID_POOL} div (tt - 2)")
            + F.when(F.col("pos") - 1 <= F.lit(_MID_POOL) % mid, 1).otherwise(0)
        )
    )
    return (
        r.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(F.sum("credit").cast("long").alias("credit_millionths"))
    )


_TOL_S = 3600


# For every purchase, the NEXT error by the same user within 1 hour
# (support-ticket / failure-correlation shape). The Spark side is the
# union-sort-carry FORWARD as-of join (operators/joins.py::_asof_forward — one
# user_id shuffle, no range join); the oracle deliberately uses the naive range
# LEFT JOIN + min() the as-of shape replaces.
@query(
    "events_asof_next_error",
    f"""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
m AS (SELECT p.event_id AS event_id, p.user_id AS user_id,
             epoch_us(p.ts) AS purchase_us,
             min(epoch_us(e.ts)) AS err_us
      FROM p LEFT JOIN e
        ON p.user_id = e.user_id
       AND e.ts >= p.ts
       AND epoch_us(e.ts) - epoch_us(p.ts) <= {_TOL_S * 1_000_000}
      GROUP BY p.event_id, p.user_id, epoch_us(p.ts))
SELECT event_id, user_id, purchase_us, err_us,
       err_us - purchase_us AS wait_us
FROM m
""",
)
def events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-error-after-purchase correlation: forward as-of join with a
    1-hour tolerance. The oracle is the quadratic-candidate range join +
    per-purchase min(); the Spark plan is the merge-carry over ONE
    user_id shuffle — the difference between the two is this operator's
    entire reason to exist at 100 TB (the backward twin is
    events_asof_last_purchase)."""
    ev = events_table(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.unix_micros("ts").alias("err_us")
    )
    out = joins.asof_join(
        purchases,
        errors,
        on="ts",
        by="user_id",
        value_cols=["err_us"],
        tolerance_s=_TOL_S,
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("asof_err_us").alias("err_us"),
        (F.col("asof_err_us") - F.unix_micros("ts")).alias("wait_us"),
    )


# Every completion of the CEP pattern view (click)* purchase, expressed
# DECLARATIVELY: a purchase completes iff the most recent preceding non-click
# event of that user is a view (equivalent to the streaming automaton in
# streaming/jobs.py::pattern_completions_stream — a second view re-arms, any
# other event disarms, a purchase consumes the armed view; the equivalence is
# asserted in tests/test_round6e.py). Output schema is the stream's (user_id,
# view_us, purchase_us), integer micros.
@query(
    "events_cep_completions",
    """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type != 'click' THEN event_type END
                    IGNORE NULLS) OVER w AS prev_nc_type,
         last_value(CASE WHEN event_type != 'click' THEN epoch_us(ts) END
                    IGNORE NULLS) OVER w AS prev_nc_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id, prev_nc_us AS view_us, epoch_us(ts) AS purchase_us
FROM o WHERE event_type = 'purchase' AND prev_nc_type = 'view'
""",
)
def events_cep_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All completions of the CEP pattern view (click)* purchase, one row
    per completing purchase: the most recent preceding NON-CLICK event of
    the user must be a view (clicks are transparent; a later view re-arms
    with its own timestamp; the emitting purchase itself disarms the next
    one — all of which this single ignore-nulls carry window encodes
    without an automaton). Batch twin of
    streaming/jobs.py::pattern_completions_stream; events_pattern_match
    answers the session-grain yes/no version, this emits every completion
    with its exact (view, purchase) micro-timestamps."""
    ev = events_table(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nc = F.col("event_type") != "click"
    prev_type = F.last(F.when(nc, F.col("event_type")), ignorenulls=True).over(w)
    prev_us = F.last(F.when(nc, F.unix_micros("ts")), ignorenulls=True).over(w)
    return (
        ev.select(
            "user_id",
            "ts",
            "event_type",
            prev_type.alias("prev_nc_type"),
            prev_us.alias("prev_nc_us"),
        )
        .where((F.col("event_type") == "purchase") & (F.col("prev_nc_type") == "view"))
        .select(
            "user_id",
            F.col("prev_nc_us").alias("view_us"),
            F.unix_micros("ts").alias("purchase_us"),
        )
    )


# Pairwise Jaccard of event-type audiences (distinct-user sets) — the
# channel-overlap matrix; integer set sizes with one final division.
@query(
    "events_audience_overlap",
    """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
c AS (SELECT event_type, count(*) AS n FROM d GROUP BY event_type),
p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_inter
      FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_inter,
       CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard
FROM p JOIN c ca ON p.type_a = ca.event_type
       JOIN c cb ON p.type_b = cb.event_type
""",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel-overlap matrix: Jaccard similarity between the distinct-user
    audiences of every event-type pair. The self-join on user_id fans out
    at most |types|^2 rows per user (bounded by the type vocabulary, not
    the event volume), so the shape survives any event count; all set
    sizes stay integral until the one final division (exact same IEEE op
    on both engines)."""
    ev = events_table(spark, sf_dir)
    d = ev.select("event_type", "user_id").distinct()
    c = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("event_type").alias("type_a"), "user_id")
    b = d.select(F.col("event_type").alias("type_b"), "user_id")
    p = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# The seasonal-naive baseline (forecast = same weekday last week) with
# integer-exact MAE/bias backtest — the benchmark every real forecasting model
# must beat, and the volume-drift alarm (MAE spikes when traffic shifts
# regime).
@query(
    "events_forecast_seasonal_naive",
    """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
               FROM events GROUP BY event_type, CAST(ts AS DATE)),
j AS (SELECT a.event_type AS event_type, a.day AS day, a.n AS actual,
             b.n AS forecast
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day = a.day - 7)
SELECT event_type,
       count(*) AS n_days,
       CAST(sum(abs(actual - forecast)) AS BIGINT) AS abs_err_total,
       CAST(sum(abs(actual - forecast)) AS DOUBLE) / count(*) AS mae,
       CAST(sum(actual - forecast) AS DOUBLE) / count(*) AS bias
FROM j GROUP BY event_type
""",
)
def events_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict each day's
    volume with the SAME WEEKDAY LAST WEEK) per event type: days with a
    7-day-old sibling are scored, MAE and signed bias reported. All error
    mass stays integral until the two final divisions. The join is
    daily-aggregate x daily-aggregate on (type, day-7) — |types x days|
    rows, broadcastable at any event volume because the aggregation
    happened first (the scale story: never window the raw stream when the
    statistic lives at the aggregate grain)."""
    ev = events_table(spark, sf_dir)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = daily.select("event_type", "day", F.col("n").alias("actual"))
    b = daily.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("n").alias("forecast")
    )
    j = a.join(b, ["event_type", "day"])
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .cast("long")
        .alias("abs_err_total"),
        (
            F.sum(F.abs(F.col("actual") - F.col("forecast"))).cast("double")
            / F.count(F.lit(1))
        ).alias("mae"),
        (
            F.sum(F.col("actual") - F.col("forecast")).cast("double")
            / F.count(F.lit(1))
        ).alias("bias"),
    )


_MD5U = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)"


# The two checks every experiment readout needs before anyone looks at lift —
# sample-ratio-mismatch chi-square on the split (broken randomization detector)
# and the pooled two-proportion z-score on conversion. All counts integral;
# chi2 is ONE exact division; z is the identical chained-double expression on
# both engines, rounded at 6 decimals.
@query(
    "events_ab_health",
    f"""
WITH assign AS (
  SELECT DISTINCT user_id, CAST({_MD5U} % 2 AS INTEGER) AS variant
  FROM events),
conv AS (SELECT user_id FROM events WHERE event_type = 'purchase'
         GROUP BY user_id HAVING count(*) > {{thr}}),
g AS (SELECT variant, count(*) AS n, count(c.user_id) AS c
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY variant),
w AS (SELECT
        CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN variant = 0 THEN c END) AS BIGINT) AS c_a,
        CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN variant = 1 THEN c END) AS BIGINT) AS c_b
      FROM g)
SELECT n_a, c_a, n_b, c_b,
       CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) AS srm_chi2,
       CASE WHEN n_a = 0 OR n_b = 0 OR c_a + c_b = 0 OR c_a + c_b = n_a + n_b
            THEN NULL
            ELSE round(((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)))
                * 1000000) / 1000000 END AS z_score
FROM w
""".format(thr=15),
)
def events_ab_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment health readout for the md5 % 2 split: sample-ratio-
    mismatch chi-square ((n_a-n_b)^2/(n_a+n_b), 1 dof — anything above
    ~3.84 means the 50/50 randomization itself is broken and the lift
    numbers are garbage) and the pooled two-proportion z-score on
    conversion (= heavy buyer, >15 purchases — every fixture user makes
    SOME purchase, which would degenerate the pooled variance to zero;
    the degenerate cases emit NULL on both engines by explicit CASE, not
    by divide-by-zero luck). Counts stay integral; chi2 is one exact
    division; the z expression is written in the identical association
    order as the oracle and rounded at 6 decimals. Two aggregates and
    one co-partitioned join — same plan as events_ab_conversion."""
    ev = events_table(spark, sf_dir)
    assign = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (texts.md5int32(F.col("user_id").cast("string")) % 2)
            .cast("int")
            .alias("variant"),
        )
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_np"))
        .where(F.col("_np") > 15)
        .select(F.col("user_id").alias("c_user"))
    )
    g = (
        assign.join(conv, assign.user_id == conv.c_user, "left")
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n"), F.count("c_user").alias("c"))
    )
    w = g.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("c"))).cast("long").alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("c"))).cast("long").alias("c_b"),
    )
    n_a, c_a = F.col("n_a"), F.col("c_a")
    n_b, c_b = F.col("n_b"), F.col("c_b")
    pool = (c_a + c_b).cast("double") / (n_a + n_b)
    z = (c_a.cast("double") / n_a - c_b.cast("double") / n_b) / F.sqrt(
        pool * (1 - pool) * (F.lit(1).cast("double") / n_a + F.lit(1).cast("double") / n_b)
    )
    degenerate = (
        (n_a == 0) | (n_b == 0) | (c_a + c_b == 0) | (c_a + c_b == n_a + n_b)
    )
    return w.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (((n_a - n_b) * (n_a - n_b)).cast("double") / (n_a + n_b)).alias("srm_chi2"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(z * 1000000) / 1000000)
        .alias("z_score"),
    )


@query(
    "events_lag_features",
    """
WITH c AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT event_id, user_id,
       lag(cents) OVER w AS lag1_cents,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS roll5_cents,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         AS roll5_avg
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store projection every sequence model trains on:
    previous event value, inter-arrival gap in integer micros, and
    trailing-5-event rolling sum/avg — value snapped to integer cents
    FIRST so every window aggregate is exact (the rolling avg is one
    division of two exact window results). One user_id shuffle serves
    all four window expressions (same partitioning + ordering)."""
    ev = events_table(spark, sf_dir)
    c = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w5 = w.rowsBetween(-4, 0)
    return c.select(
        "event_id",
        "user_id",
        F.lag("cents").over(w).alias("lag1_cents"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
        F.sum("cents").over(w5).cast("long").alias("roll5_cents"),
        (
            F.sum("cents").over(w5).cast("double") / F.count(F.lit(1)).over(w5)
        ).alias("roll5_avg"),
    )


# Probability of reaching 'purchase' within 1 and 2 transitions from each
# starting event type, from the empirical transition matrix — the t-sum runs as
# a STRICT ascending-key left fold on both engines (the shared sql_reduce_sum
# discipline), so chained double arithmetic hash-matches at 6 decimals.
@query(
    "events_markov_absorb2",
    """
WITH o AS (
  SELECT user_id, event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM events),
c AS (SELECT s, t, count(*) AS n FROM o WHERE t IS NOT NULL GROUP BY s, t),
tot AS (SELECT s, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY s),
p1 AS (SELECT tot.s AS s, ns,
              COALESCE(CAST((SELECT n FROM c WHERE c.s = tot.s AND c.t = 'purchase')
                            AS DOUBLE) / ns, CAST(0.0 AS DOUBLE)) AS p1
       FROM tot),
terms AS (SELECT c.s AS s, c.t AS t,
                 (CAST(c.n AS DOUBLE) / tot.ns) * pt.p1 AS term
          FROM c JOIN tot ON c.s = tot.s
                 JOIN p1 pt ON c.t = pt.s
          WHERE c.t != 'purchase'),
step AS (SELECT s,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                         list(term ORDER BY t)),
                            (a, x) -> a + x) AS add2
         FROM terms GROUP BY s)
SELECT p1.s AS event_type, ns AS n_transitions,
       round(p1.p1 * 1000000) / 1000000 AS p_convert_1,
       round((p1.p1 + COALESCE(add2, CAST(0.0 AS DOUBLE))) * 1000000) / 1000000
         AS p_convert_2
FROM p1 LEFT JOIN step ON p1.s = step.s
""",
)
def events_markov_absorb2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion probability within 1 and 2 transitions of the empirical
    event-type Markov chain: p1(s) = c(s, purchase)/n(s), p2(s) = p1(s) +
    sum_t!=purchase (c(s,t)/n(s)) * p1(t) — the first two steps of the
    absorbing-chain fundamental series attribution models iterate. The
    cross-type sum folds in STRICT ascending-t order on both engines
    (sorted collect + left fold == DuckDB list_reduce over an ordered
    list), so the chained double arithmetic is bit-identical before the
    6-decimal rounding. State space = the type vocabulary: every relation
    after the pair-count is tiny and broadcastable."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("s"), F.lead("event_type").over(w).alias("t")
    ).where(F.col("t").isNotNull())
    c = o.groupBy("s", "t").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("s").agg(F.sum("n").cast("long").alias("ns"))
    pur = c.where(F.col("t") == "purchase").select("s", F.col("n").alias("np"))
    p1 = (
        tot.join(pur, "s", "left")
        .select(
            "s",
            "ns",
            F.coalesce(
                F.col("np").cast("double") / F.col("ns"), F.lit(0.0)
            ).alias("p1"),
        )
    )
    terms = (
        c.where(F.col("t") != "purchase")
        .join(tot, "s")
        .join(
            F.broadcast(p1.select(F.col("s").alias("t"), F.col("p1").alias("pt"))),
            "t",
        )
        .select(
            "s",
            "t",
            ((F.col("n").cast("double") / F.col("ns")) * F.col("pt")).alias("term"),
        )
    )
    step = terms.groupBy("s").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "term"))),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("add2")
    )
    return (
        p1.join(step, "s", "left")
        .select(
            F.col("s").alias("event_type"),
            F.col("ns").alias("n_transitions"),
            (F.round(F.col("p1") * 1000000) / 1000000).alias("p_convert_1"),
            (
                F.round(
                    (F.col("p1") + F.coalesce(F.col("add2"), F.lit(0.0))) * 1000000
                )
                / 1000000
            ).alias("p_convert_2"),
        )
    )


_SANKEY_STEPS = 3


# The first-3-transition journey flow table (step, from_type, to_type, n) — the
# relation a Sankey/flow diagram renders, and the input grain for funnel-shape
# drift monitoring.
@query(
    "events_sankey_edges",
    f"""
WITH o AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events),
e AS (
  SELECT a.i AS step, a.event_type AS from_type, b.event_type AS to_type
  FROM o a JOIN o b ON a.user_id = b.user_id AND b.i = a.i + 1
  WHERE a.i <= {_SANKEY_STEPS})
SELECT CAST(step AS INTEGER) AS step, from_type, to_type, count(*) AS n
FROM e GROUP BY step, from_type, to_type
""",
)
def events_sankey_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey flow edges for the first {_SANKEY_STEPS} transitions of
    every user: (step, from_type, to_type, n) — exactly the relation a
    Sankey diagram renders and the grain funnel-drift monitors compare
    week over week. Implemented with lead() over ONE user_id window (the
    oracle's self-join is the declarative twin); output is bounded by
    steps x |types|^2 regardless of event volume."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("from_type"),
        F.row_number().over(w).alias("step"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        o.where((F.col("step") <= _SANKEY_STEPS) & F.col("to_type").isNotNull())
        .groupBy(F.col("step").cast("int").alias("step"), "from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Daily active users split into first-ever-day vs returning — the
# growth-accounting table every product review reads.
@query(
    "events_new_vs_returning",
    """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id),
d AS (
  SELECT DISTINCT CAST(e.ts AS DATE) AS day, e.user_id, f.first_day
  FROM events e JOIN f ON e.user_id = f.user_id)
SELECT day,
       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users
FROM d GROUP BY day
""",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's active users split into first-ever-day
    (new) vs returning. The first-activity relation is one user_id
    aggregate joined back (AQE broadcasts the |users| side when small;
    co-partitioned on user_id when not); daily actives are a distinct at
    (day, user) grain. Integer counts throughout."""
    ev = events_table(spark, sf_dir)
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    d = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .join(f, "user_id")
    )
    return d.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
        .cast("long")
        .alias("returning_users"),
    )


# Share of single-event sessions per day — the bounce-rate row of every product
# dashboard, at the shared 30-min session grain.
@query(
    "events_session_bounce_rate",
    """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y),
s AS (
  SELECT user_id, session_id, min(CAST(ts AS DATE)) AS day,
         count(*) AS n_events
  FROM z GROUP BY user_id, session_id)
SELECT day, count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS bounce_rate
FROM s GROUP BY day
""",
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-min-gap sessions containing exactly
    one event, attributed to the session's start day. Same single
    user_id shuffle as the sessionizer; integer counts with one final
    division per day. The oracle's lag/cumsum CTE is the shared
    sessionization fragment with the full (ts, event_id) tie-break."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    s = (
        ev.select("user_id", "ts", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.to_date("ts")).alias("day"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return s.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        (bounces.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
    )


# ============================ target encoding ================================


# Leave-one-out target encoding of event_type against the event value — the
# standard high-cardinality categorical feature for tabular models, in its
# leakage-free LOO form (each row's own target is excluded from its category
# mean). Integer cents end to end; one final guarded division.
@query(
    "events_target_encoding",
    """
WITH e AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(cents) AS BIGINT) AS sc
  FROM e GROUP BY event_type)
SELECT event_id, e.event_type AS event_type,
       CASE WHEN cnt = 1 THEN NULL
            ELSE round(CAST(sc - cents AS DOUBLE) / ((cnt - 1) * 100) * 1000000)
                 / 1000000 END AS te_value
FROM e JOIN s ON e.event_type = s.event_type
""",
)
def events_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against value: each
    event gets its category's mean value COMPUTED WITHOUT ITSELF —
    (sum_cat - own) / (n_cat - 1) — the leakage-free form used for
    training folds (plain category means leak the row's own target).
    Category sums are integer cents; the per-row encode is one guarded
    division. Plan: the |event_types|-row stats side broadcasts back onto
    the stream — the fact table never shuffles, the exact shape a
    100 TB feature pipeline needs for every categorical column."""
    e = events_table(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("cents").cast("long").alias("sc"),
    )
    return e.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        F.when(F.col("cnt") == 1, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("sc") - F.col("cents")).cast("double")
                / ((F.col("cnt") - 1) * 100)
                * 1000000
            )
            / 1000000
        )
        .alias("te_value"),
    )


# ============================== bot detection ================================

_BOT_WINDOW_US = 3_600_000_000  # trailing 1 hour

_BOT_BURST_K = 3  # max-burst threshold that flags a user

_FAST_GAP_US = 60_000_000  # "machine-speed" interarrival bound


# Per-user abuse features (trailing-1h max burst, sub-60s interarrival count)
# off ONE user_id shuffle that serves both windows and the final rollup, with
# the flag threshold applied identically on both engines.
@query(
    "events_bot_detection",
    f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events),
w AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN {_BOT_WINDOW_US - 1} PRECEDING
                        AND CURRENT ROW) AS burst,
         us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
  FROM e)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(burst) AS BIGINT) AS max_burst_1h,
       CAST(count(*) FILTER (WHERE gap IS NOT NULL AND gap < {_FAST_GAP_US})
            AS BIGINT) AS n_fast_gaps,
       CAST(max(burst) >= {_BOT_BURST_K} AS BOOLEAN) AS is_bot
FROM w GROUP BY user_id
""",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user abuse screen: trailing-1h max burst (RANGE window — peers
    sharing a timestamp count together on both engines), count of
    machine-speed (<60 s) interarrival gaps, and the burst-threshold
    flag. ONE hash exchange on user_id serves the RANGE window, the lag,
    and the final rollup — the plan a 100 TB abuse pipeline needs (state
    per user is the window frame, never the history). Thresholds are
    report inputs, applied identically in the oracle."""
    ev = events_table(spark, sf_dir).select("user_id", F.unix_micros("ts").alias("us"))
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-(_BOT_WINDOW_US - 1), 0)
    )
    wl = Window.partitionBy("user_id").orderBy("us")
    w = ev.select(
        "user_id",
        F.count(F.lit(1)).over(wr).alias("burst"),
        (F.col("us") - F.lag("us").over(wl)).alias("gap"),
    )
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("burst").cast("long").alias("max_burst_1h"),
        F.sum(
            F.when(F.col("gap").isNotNull() & (F.col("gap") < _FAST_GAP_US), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_fast_gaps"),
        (F.max("burst") >= _BOT_BURST_K).alias("is_bot"),
    )


# ============================ DAU / WAU stickiness ===========================


@query(
    "events_dau_wau_ratio",
    """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
wau AS (
  SELECT d.day AS day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN du u
    ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day)
SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau * 1000000) / 1000000
         AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
""",
)
def events_dau_wau_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day actives, and DAU/WAU
    stickiness per day. The raw stream reduces ONCE to the distinct
    (day, user) grain; the trailing window is then a <=7x fan-out join
    keyed on day over that bounded relation — never a
    distinct-count-over-window on raw events, which Spark cannot
    express and a naive self-join would explode. The tiny day dimension
    broadcasts into the range join."""
    ev = events_table(spark, sf_dir)
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wau = (
        F.broadcast(days.select(F.col("day").alias("d")))
        .join(
            du.select(F.col("day").alias("uday"), "user_id"),
            (F.col("uday") >= F.date_sub(F.col("d"), 6)) & (F.col("uday") <= F.col("d")),
        )
        .groupBy(F.col("d").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.round(F.col("dau").cast("double") / F.col("wau") * 1000000) / 1000000).alias(
            "stickiness"
        ),
    )


# ============================ Holt linear trend ==============================

_HOLT_SCHEMA = (
    "day date, cents long, level double, trend double, forecast_next double"
)


# Holt double exponential smoothing (level + trend, alpha = beta = 1/2) over
# daily value totals. The recursion cannot be unrolled into a window
# convolution (level and trend are coupled), so the Spark side is the canonical
# huge->tiny->exact-local-fold shape: one shuffle reduces 21M+ events to the
# day grain (bounded by the calendar, ~365 rows/year at ANY corpus size), then
# a single applyInPandas group folds the recursion. The oracle is a recursive
# CTE executing the IDENTICAL float64 op sequence — with dyadic smoothing
# weights every op is add/subtract/divide-by-2, all correctly-rounded IEEE ops,
# so results are bit-identical across engines with NO rounding step (the
# events_ewma_daily precedent).
@query(
    "events_holt_linear",
    """
WITH RECURSIVE d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY day),
seq AS (
  SELECT row_number() OVER (ORDER BY day) AS i, day, cents FROM d),
h AS (
  SELECT i, day, cents, CAST(cents AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.i, s.day, s.cents,
         (CAST(s.cents AS DOUBLE) + (h.level + h.trend)) / 2 AS level,
         (((CAST(s.cents AS DOUBLE) + (h.level + h.trend)) / 2) - h.level + h.trend) / 2
           AS trend
  FROM h JOIN seq s ON s.i = h.i + 1)
SELECT day, cents, level, trend, level + trend AS forecast_next FROM h
""",
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of daily value totals (alpha = beta =
    1/2): level_t = (y_t + (level + trend)) / 2, trend_t = ((level_t -
    level) + trend) / 2, forecast = level + trend. One shuffle reduces
    the stream to integer day cents; the recursion folds in ONE pandas
    group over the calendar-bounded day series (~365 rows/year no matter
    the corpus size — this is the one shape where a single-group fold is
    the scale-correct plan, not a bottleneck). Dyadic weights keep every
    float op (+, -, /2) correctly-rounded-identical to the oracle's
    recursive CTE, so no rounding step is needed."""
    import pandas as pd

    daily = (
        events_table(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        level = trend = 0.0
        levels, trends = [], []
        for i, y in enumerate(pdf["cents"].astype("float64")):
            if i == 0:
                level, trend = y, 0.0
            else:
                new_level = (y + (level + trend)) / 2
                trend = ((new_level - level) + trend) / 2
                level = new_level
            levels.append(level)
            trends.append(trend)
        pdf["level"] = levels
        pdf["trend"] = trends
        pdf["forecast_next"] = pdf["level"] + pdf["trend"]
        return pdf[["day", "cents", "level", "trend", "forecast_next"]]

    return (
        daily.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda _, pdf: fold(pdf), schema=_HOLT_SCHEMA)
    )


# ========================= weekday seasonality index =========================


@query(
    "events_weekday_seasonality",
    f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY day),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS total FROM d),
w AS (
  SELECT CAST(isodow(day) AS BIGINT) AS weekday_num,
         {SQL_WEEKDAY_NAME.format(ts='day')} AS weekday,
         CAST(count(*) AS BIGINT) AS n_days_wd,
         CAST(sum(c) AS BIGINT) AS n_events
  FROM d GROUP BY 1, 2)
SELECT weekday_num, weekday, n_days_wd, n_events,
       round((CAST(n_events AS DOUBLE) * n_days) / (CAST(n_days_wd AS DOUBLE) * total)
             * 1000000) / 1000000 AS seasonality_index
FROM w CROSS JOIN t
""",
)
def events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality by weekday: mean daily event count for each
    weekday over the overall mean daily count (index 1.0 = flat). Both
    means stay integer cross-products — (sum_wd * n_days) /
    (n_days_wd * total) — with ONE final division. Two tiny aggregates
    over the day grain; the 1-row total broadcasts."""
    ev = events_table(spark, sf_dir)
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    t = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("total"),
    )
    w = d.groupBy(
        (F.weekday("day") + 1).cast("long").alias("weekday_num"),
        exprs.weekday_name(F.col("day")).alias("weekday"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days_wd"),
        F.sum("c").cast("long").alias("n_events"),
    )
    return w.crossJoin(F.broadcast(t)).select(
        "weekday_num",
        "weekday",
        "n_days_wd",
        "n_events",
        (
            F.round(
                (F.col("n_events").cast("double") * F.col("n_days"))
                / (F.col("n_days_wd").cast("double") * F.col("total"))
                * 1000000
            )
            / 1000000
        ).alias("seasonality_index"),
    )


# ============================ error-rate burn alert ==========================

_BURN_ALERT_X = 2  # alert when a day's error rate is >= 2x the baseline


@query(
    "events_error_burn_rate",
    f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS tot,
         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS err
  FROM events GROUP BY day),
t AS (SELECT CAST(sum(tot) AS BIGINT) AS tot_all,
             CAST(sum(err) AS BIGINT) AS err_all FROM d)
SELECT day, tot AS n_events, err AS n_errors,
       CASE WHEN err_all = 0 THEN NULL
            ELSE round((CAST(err AS DOUBLE) * tot_all)
                       / (CAST(tot AS DOUBLE) * err_all) * 1000000) / 1000000
       END AS burn_rate,
       CAST(err * tot_all >= {_BURN_ALERT_X} * tot * err_all AS BOOLEAN) AS alert
FROM d CROSS JOIN t
""",
)
def events_error_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE-style burn-rate report: each day's error rate as a multiple of
    the corpus-wide baseline rate, with the >= {_BURN_ALERT_X}x alert
    decided by INTEGER cross-multiplication (err_d * tot_all >=
    {_BURN_ALERT_X} * tot_d * err_all) so the flag is exact on both
    engines regardless of float rounding; the reported multiple is one
    final guarded division. One day-grain aggregate + a broadcast 1-row
    baseline."""
    ev = events_table(spark, sf_dir)
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("err"),
    )
    t = d.agg(
        F.sum("tot").cast("long").alias("tot_all"),
        F.sum("err").cast("long").alias("err_all"),
    )
    return d.crossJoin(F.broadcast(t)).select(
        "day",
        F.col("tot").alias("n_events"),
        F.col("err").alias("n_errors"),
        F.when(F.col("err_all") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("err").cast("double") * F.col("tot_all"))
                / (F.col("tot").cast("double") * F.col("err_all"))
                * 1000000
            )
            / 1000000
        )
        .alias("burn_rate"),
        (
            F.col("err") * F.col("tot_all")
            >= F.lit(_BURN_ALERT_X) * F.col("tot") * F.col("err_all")
        ).alias("alert"),
    )


# =========================== transition timing ===============================


# Per (prev_type -> type) transition, the count and exact p50/p90 of the gap in
# integer microseconds — the latency companion to events_markov_transitions
# (which counts transitions but not how long they take).
@query(
    "events_transition_timing",
    """
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n,
       quantile_cont(us - prev_us, 0.5) AS p50_gap_us,
       quantile_cont(us - prev_us, 0.9) AS p90_gap_us
FROM s WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def events_transition_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long each event-type transition takes: per (prev -> next)
    pair, the count and exact p50/p90 of the inter-event gap in integer
    microseconds — the latency companion to events_markov_transitions'
    probability matrix (a funnel that converts in median 40 s is a
    different product than one converting in 2 days at the same rate).
    One user_id window pass feeds a |types^2|-group percentile
    aggregate; gaps are integer micros so the dyadic-fraction
    interpolation is bit-exact cross-engine."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    ).where(F.col("prev_type").isNotNull())
    return s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("percentile(us - prev_us, 0.5)").alias("p50_gap_us"),
        F.expr("percentile(us - prev_us, 0.9)").alias("p90_gap_us"),
    )


# ============================ nearest as-of ==================================


# Completes the as-of family (backward: events_asof_last_purchase, forward:
# events_asof_next_error) with pandas merge_asof's direction='nearest' — each
# purchase matched to its CLOSEST error by absolute time distance within
# tolerance, ties to the backward match (operators/joins.py:asof_join_nearest).
@query(
    "events_asof_nearest_error",
    f"""
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'purchase'),
e AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error'),
b AS (SELECT p.event_id AS event_id, max(e.us) AS back_us
      FROM p LEFT JOIN e ON p.user_id = e.user_id
        AND e.us <= p.us AND p.us - e.us <= {_TOL_S * 1_000_000}
      GROUP BY p.event_id),
f AS (SELECT p.event_id AS event_id, min(e.us) AS fwd_us
      FROM p LEFT JOIN e ON p.user_id = e.user_id
        AND e.us >= p.us AND e.us - p.us <= {_TOL_S * 1_000_000}
      GROUP BY p.event_id)
SELECT p.event_id AS event_id, p.user_id AS user_id, p.us AS purchase_us,
       CASE WHEN back_us IS NULL THEN fwd_us
            WHEN fwd_us IS NULL THEN back_us
            WHEN p.us - back_us <= fwd_us - p.us THEN back_us
            ELSE fwd_us END AS nearest_err_us
FROM p JOIN b USING (event_id) JOIN f USING (event_id)
""",
)
def events_asof_nearest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's CLOSEST error event within
    +-1 h — merge_asof direction='nearest' semantics (ties -> the
    backward match), via operators/joins.py:asof_join_nearest: the
    backward and forward union-sort-carry passes reconciled on the
    purchase id. Two user_id-keyed window shuffles + one id-keyed join;
    no range join, neither side broadcasts. The oracle's aggregate
    formulation (max over <=, min over >=) is what those carries
    provably equal."""
    ev = events_table(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts")
    out = joins.asof_join_nearest(
        purchases, errors, on="ts", by="user_id", id_cols=["event_id"],
        tolerance_s=_TOL_S,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("asof_ts").alias("nearest_err_us"),
    )


# ========================= engagement breadth ================================


@query(
    "events_engagement_breadth",
    """
WITH b AS (
  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS breadth
  FROM events GROUP BY user_id)
SELECT breadth, CAST(count(*) AS BIGINT) AS n_users
FROM b GROUP BY breadth
""",
)
def events_engagement_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-breadth histogram: how many users touch exactly k
    distinct event types. Breadth complements RFM's frequency/monetary
    axes (a 1-type power user and a 5-type explorer need different
    products). One (user, type) distinct reduce + a |types|-sized
    histogram rollup."""
    ev = events_table(spark, sf_dir)
    b = ev.groupBy("user_id").agg(
        F.count_distinct("event_type").cast("long").alias("breadth")
    )
    return b.groupBy("breadth").agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# =========================== weekday-hour heatmap ============================


@query(
    "events_weekday_hour_heatmap",
    f"""
WITH g AS (
  SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS weekday_num,
         {SQL_WEEKDAY_NAME.format(ts='CAST(ts AS DATE)')} AS weekday,
         CAST(hour(ts) AS BIGINT) AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2, 3),
t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM g)
SELECT weekday_num, weekday, hour, n_events,
       round(CAST(n_events AS DOUBLE) / total * 1000000) / 1000000 AS share
FROM g CROSS JOIN t
""",
)
def events_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (weekday, hour) traffic grid in long format — the feed behind
    every ops heatmap (when to schedule maintenance, where the peak
    lives). At most 168 cells regardless of corpus size; integer counts
    plus a per-cell share of total traffic."""
    ev = events_table(spark, sf_dir)
    g = ev.groupBy(
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("weekday_num"),
        exprs.weekday_name(F.to_date("ts")).alias("weekday"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    t = g.agg(F.sum("n_events").cast("long").alias("total"))
    return g.crossJoin(F.broadcast(t)).select(
        "weekday_num",
        "weekday",
        "hour",
        "n_events",
        (F.round(F.col("n_events").cast("double") / F.col("total") * 1000000) / 1000000).alias(
            "share"
        ),
    )


# ============================ one-way ANOVA F ================================


# One-way ANOVA F statistic of purchase value across event types (between-group
# vs within-group mean square). The entire sufficient statistic set (n, sum,
# sum of squares per group) is integer cents in BIGINT, so the F value is a
# single final double expression — no per-row float ever crosses an engine
# boundary.
@query(
    "events_value_anova_f",
    """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS ss
  FROM e GROUP BY event_type),
gq AS (
  SELECT n, s, ss,
         CAST(round(CAST(s AS DOUBLE) * s / n * 1000) AS BIGINT) AS q
  FROM g),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(sum(s) AS BIGINT) AS s_tot,
         CAST(sum(ss) AS DECIMAL(38,0)) AS ss_tot,
         CAST(sum(q) AS BIGINT) AS qsum
  FROM gq)
SELECT k AS n_groups, n_tot,
       CASE WHEN k <= 1 THEN NULL
            ELSE round(((qsum / CAST(1000.0 AS DOUBLE))
                 - CAST(CAST(s_tot AS DECIMAL(38,0)) * s_tot AS DOUBLE) / n_tot)
                 / (k - 1) * 1000000) / 1000000 END AS ms_between,
       CASE WHEN n_tot <= k THEN NULL
            ELSE round((CAST(ss_tot AS DOUBLE) - (qsum / CAST(1000.0 AS DOUBLE)))
                 / (n_tot - k) * 1000000) / 1000000 END AS ms_within,
       CASE WHEN k <= 1 OR n_tot <= k
                 OR CAST(ss_tot AS DOUBLE) - (qsum / CAST(1000.0 AS DOUBLE)) = 0
            THEN NULL
            ELSE round((((qsum / CAST(1000.0 AS DOUBLE))
                  - CAST(CAST(s_tot AS DECIMAL(38,0)) * s_tot AS DOUBLE) / n_tot)
                  / (k - 1))
                 / ((CAST(ss_tot AS DOUBLE) - (qsum / CAST(1000.0 AS DOUBLE)))
                    / (n_tot - k))
                 * 1000000) / 1000000 END AS f_stat
FROM t
""",
)
def events_value_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types on value cents: between-group and
    within-group mean squares and their F ratio — "does event type
    explain value variance at all", the gate before any per-type pricing
    analysis. Sufficient statistics are one integer-cents aggregate per
    type (squared sums in DECIMAL(38,0), exact). Cross-group float sums
    never happen: the one rational term per group (s^2/n) is QUANTIZED
    to an integer (milli-cents^2) before summing, so the rollup is
    order-free BIGINT addition and every remaining float op is a single
    deterministic expression over exact operands — a float sum of
    per-group doubles would be partition-order dependent and could
    straddle the 1e-6 rounding across engines."""
    e = events_table(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    dec = "decimal(38,0)"
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias("ss"),
    )
    gq = g.select(
        "n",
        "s",
        "ss",
        F.round(F.col("s").cast("double") * F.col("s") / F.col("n") * 1000)
        .cast("long")
        .alias("q"),
    )
    t = gq.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("long").alias("s_tot"),
        F.sum("ss").cast(dec).alias("ss_tot"),
        F.sum("q").cast("long").alias("qsum"),
    )
    k, n_tot = F.col("k"), F.col("n_tot")
    sum_sq_over_n = F.col("qsum") / F.lit(1000.0)
    within_ss = F.col("ss_tot").cast("double") - sum_sq_over_n
    between = (
        sum_sq_over_n
        - (F.col("s_tot").cast(dec) * F.col("s_tot")).cast("double") / n_tot
    ) / (k - 1)
    within = within_ss / (n_tot - k)
    r6 = lambda c: F.round(c * 1000000) / 1000000  # noqa: E731
    null_d = F.lit(None).cast("double")
    # ANSI guards: degenerate shapes (one group, no residual df, zero
    # within-variance) report NULL on BOTH engines instead of raising
    return t.select(
        k.alias("n_groups"),
        "n_tot",
        F.when(k <= 1, null_d).otherwise(r6(between)).alias("ms_between"),
        F.when(n_tot <= k, null_d).otherwise(r6(within)).alias("ms_within"),
        F.when((k <= 1) | (n_tot <= k) | (within_ss == 0), null_d)
        .otherwise(r6(between / within))
        .alias("f_stat"),
    )


# ========================== user lifetime histogram ==========================


# Per-user active lifespan rolled into a day-bucket histogram — the
# churn-horizon view RFM's recency single number hides.
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


# ========================= winsorized value stats ============================


# Per-type value stats after p1/p99 winsorization — the robust-mean report;
# bounds quantize to integer centi-cents BEFORE clamping so no float ever
# crosses a group boundary.
@query(
    "events_value_winsorized_stats",
    """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
b AS (
  SELECT event_type,
         CAST(round(quantile_cont(cents, 0.01) * 100) AS BIGINT) AS lo_q,
         CAST(round(quantile_cont(cents, 0.99) * 100) AS BIGINT) AS hi_q
  FROM v GROUP BY event_type),
w AS (
  SELECT v.event_type AS event_type, lo_q, hi_q, cents,
         least(greatest(cents * 100, lo_q), hi_q) AS wq
  FROM v JOIN b ON v.event_type = b.event_type)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       lo_q AS lo_centicents, hi_q AS hi_centicents,
       CAST(sum(wq) // count(*) AS BIGINT) AS winsor_mean_centicents,
       CAST(count(*) FILTER (WHERE wq <> cents * 100) AS BIGINT) AS n_clamped
FROM w GROUP BY event_type, lo_q, hi_q
""",
)
def events_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value stats after p1/p99 winsorization — the robust mean
    an outlier-heavy value column needs. The percentile bounds (exact,
    interpolated — Spark `percentile` == DuckDB `quantile_cont` on the
    integer cents) quantize to BIGINT centi-cents before clamping, so
    the clamped values and their sums stay integers in any aggregation
    order. Two passes over events (bounds, then clamp+fold), the bounds
    join broadcast at |types| rows."""
    ev = events_table(spark, sf_dir)
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    b = v.groupBy("event_type").agg(
        F.round(F.expr("percentile(cents, 0.01)") * 100).cast("long").alias("lo_q"),
        F.round(F.expr("percentile(cents, 0.99)") * 100).cast("long").alias("hi_q"),
    )
    w = v.join(F.broadcast(b), "event_type").select(
        "event_type",
        "lo_q",
        "hi_q",
        "cents",
        F.least(F.greatest(F.col("cents") * 100, F.col("lo_q")), F.col("hi_q")).alias(
            "wq"
        ),
    )
    return w.groupBy("event_type", "lo_q", "hi_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("sum(wq) div count(*)").cast("long").alias("winsor_mean_centicents"),
        F.count(F.when(F.col("wq") != F.col("cents") * 100, 1))
        .cast("long")
        .alias("n_clamped"),
    ).select(
        "event_type",
        "n_events",
        F.col("lo_q").alias("lo_centicents"),
        F.col("hi_q").alias("hi_centicents"),
        "winsor_mean_centicents",
        "n_clamped",
    )


# ========================== inactivity churn =================================

_CHURN_GAP_US = 86_400_000_000  # inactive for > 24 h at the horizon = churned


@query(
    "events_inactivity_churn",
    f"""
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         epoch_us(max(ts)) AS last_us
  FROM events GROUP BY user_id),
g AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS horizon_us FROM events),
b AS (SELECT CAST(length(bin(n_events)) AS BIGINT) AS activity_band,
             last_us, horizon_us
      FROM u CROSS JOIN g)
SELECT activity_band, CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(*) FILTER (WHERE last_us < horizon_us - {_CHURN_GAP_US})
            AS BIGINT) AS n_churned,
       CAST(count(*) FILTER (WHERE last_us < horizon_us - {_CHURN_GAP_US})
            * 1000000 // count(*) AS BIGINT) AS churn_ppm
FROM b GROUP BY activity_band
""",
)
def events_inactivity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn by activity level: users banded by the bit length of their
    event count (power-of-two activity bands, exact integer bucketing),
    with the share whose LAST event sits more than 24 h before the corpus
    horizon — the 'do light users churn more' report, the batch proxy for
    'inactive now'. One user aggregate, a broadcast 1-row horizon, a
    <=|bands|-row rollup — integer microseconds, integer ppm."""
    ev = events_table(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )
    g = ev.agg(F.max(F.unix_micros("ts")).cast("long").alias("horizon_us"))
    churned = F.when(F.col("last_us") < F.col("horizon_us") - _CHURN_GAP_US, 1)
    return (
        u.crossJoin(F.broadcast(g))
        .select(
            F.length(F.bin("n_events")).cast("long").alias("activity_band"),
            "last_us",
            "horizon_us",
        )
        .groupBy("activity_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count(churned).cast("long").alias("n_churned"),
            F.expr(
                f"(count(CASE WHEN last_us < horizon_us - {_CHURN_GAP_US} THEN 1 END)"
                " * 1000000) div count(*)"
            )
            .cast("long")
            .alias("churn_ppm"),
        )
    )


# ========================= hourly autocorrelation ============================


def _sql_pearson(x: str, y: str) -> str:
    """Integer-moment Pearson r, rounded to 6 dp; 0.0 when either side is
    constant (zero variance)."""
    num = f"(n * sxy_{x}{y} - sx_{x} * sx_{y})"
    den = (
        f"sqrt(CAST(n * sxx_{x} - sx_{x} * sx_{x} AS DOUBLE))"
        f" * sqrt(CAST(n * sxx_{y} - sx_{y} * sx_{y} AS DOUBLE))"
    )
    return (
        f"CASE WHEN n * sxx_{x} = sx_{x} * sx_{x} OR n * sxx_{y} = sx_{y} * sx_{y}"
        f" THEN CAST(0.0 AS DOUBLE)"
        f" ELSE round(CAST({num} AS DOUBLE) / ({den}) * 1000000) / 1000000 END"
    )


# Pearson autocorrelation of the hourly event volume at lag 1h and lag 24h over
# the zero-filled hour spine — the seasonality scalar (daily rhythm shows up as
# high lag-24 r). Moments are BIGINT end to end; only the final r divides.
@query(
    "events_hourly_autocorr",
    f"""
WITH c AS (
  SELECT epoch_us(ts) // 3600000000 AS h, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY h),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
spine AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds),
f AS (SELECT spine.h AS h, coalesce(c.n, 0) AS n
      FROM spine LEFT JOIN c ON spine.h = c.h),
l AS (SELECT h, n,
             lag(n, 1) OVER (ORDER BY h) AS n1,
             lag(n, 24) OVER (ORDER BY h) AS n24
      FROM f),
m1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(n) AS BIGINT) AS sx_a, CAST(sum(n1) AS BIGINT) AS sx_b,
              CAST(sum(n * n) AS BIGINT) AS sxx_a,
              CAST(sum(n1 * n1) AS BIGINT) AS sxx_b,
              CAST(sum(n * n1) AS BIGINT) AS sxy_ab
       FROM l WHERE n1 IS NOT NULL),
m24 AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n) AS BIGINT) AS sx_a, CAST(sum(n24) AS BIGINT) AS sx_b,
               CAST(sum(n * n) AS BIGINT) AS sxx_a,
               CAST(sum(n24 * n24) AS BIGINT) AS sxx_b,
               CAST(sum(n * n24) AS BIGINT) AS sxy_ab
        FROM l WHERE n24 IS NOT NULL)
SELECT CAST(1 AS BIGINT) AS lag_hours, n AS n_pairs, {_sql_pearson('a', 'b')} AS r
FROM m1
UNION ALL
SELECT CAST(24 AS BIGINT) AS lag_hours, n AS n_pairs, {_sql_pearson('a', 'b')} AS r
FROM m24
""",
)
def events_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of hourly event volume at lag 1 and lag 24 over the
    ZERO-FILLED hour spine (missing hours are real zeros — skipping them
    biases r upward). Daily seasonality shows up as r(24) >> r(1)'s
    baseline. Counts and all Pearson moments are BIGINT (the corr-matrix
    precedent); the spine is |hours| rows so the lag window is one tiny
    single-partition sort. The only full-table work is the hour-count
    aggregate."""
    ev = events_table(spark, sf_dir)
    c = ev.groupBy(F.expr("unix_micros(ts) div 3600000000").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    bounds = c.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    f = spine.join(c, "h", "left").select(
        "h", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    w = Window.orderBy("h")
    l = f.select(
        "n",
        F.lag("n", 1).over(w).alias("n1"),
        F.lag("n", 24).over(w).alias("n24"),
    )

    def moments(col: str):
        d = l.where(F.col(col).isNotNull())
        return d.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n").cast("long").alias("sx_a"),
            F.sum(col).cast("long").alias("sx_b"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("sxx_a"),
            F.sum(F.col(col) * F.col(col)).cast("long").alias("sxx_b"),
            F.sum(F.col("n") * F.col(col)).cast("long").alias("sxy_ab"),
        )

    def r_row(df: DataFrame, lag_hours: int) -> DataFrame:
        num = F.col("n") * F.col("sxy_ab") - F.col("sx_a") * F.col("sx_b")
        va = F.col("n") * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a")
        vb = F.col("n") * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b")
        r = F.when((va == 0) | (vb == 0), F.lit(0.0)).otherwise(
            F.round(
                num.cast("double") / (F.sqrt(va.cast("double")) * F.sqrt(vb.cast("double")))
                * 1000000
            )
            / 1000000
        )
        return df.select(
            F.lit(lag_hours).cast("long").alias("lag_hours"),
            F.col("n").alias("n_pairs"),
            r.alias("r"),
        )

    return r_row(moments("n1"), 1).unionByName(r_row(moments("n24"), 24))


# ========================= count-min sketch ==================================

_CM_D, _CM_W = 4, 1024


def _sql_cm_cell(r, key: str) -> str:
    return f"CAST('0x' || substr(md5('{r}_' || {key}), 1, 8) AS BIGINT) % {_CM_W}"


# A Count-Min sketch (4 x 1024, md5 row hashes) over event types — the
# mergeable frequency sketch — with the min-over-rows estimate vs the true
# count per key (CM error is one-sided: estimate >= truth, pinned in the
# output).
@query(
    "events_count_min_estimate",
    f"""
WITH rows_ AS (
  SELECT event_type, r.range AS r,
         CASE r.range {" ".join(f"WHEN {r} THEN {_sql_cm_cell(r, 'event_type')}" for r in range(_CM_D))} END AS cell
  FROM events CROSS JOIN range(0, {_CM_D}) r),
cm AS (SELECT r, cell, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY r, cell),
keys_ AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
          FROM events GROUP BY event_type),
probe AS (
  SELECT event_type, true_n, r.range AS r,
         CASE r.range {" ".join(f"WHEN {r} THEN {_sql_cm_cell(r, 'event_type')}" for r in range(_CM_D))} END AS cell
  FROM keys_ CROSS JOIN range(0, {_CM_D}) r)
SELECT event_type, true_n,
       CAST(min(cm.n) AS BIGINT) AS cm_estimate,
       CAST(min(cm.n) - true_n AS BIGINT) AS overcount
FROM probe JOIN cm ON probe.r = cm.r AND probe.cell = cm.cell
GROUP BY event_type, true_n
""",
)
def events_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over event types: 4 md5 row hashes into 1024
    cells each, estimate = min over rows of the landed cell's count —
    with the true count and the (always >= 0) overcount alongside. The
    sketch is the mergeable frequency structure at 100 TB: cells add
    across partitions, so the shuffle carries <=4096 rows regardless of
    key cardinality; the md5 hashing is identically computable on both
    engines (the LSH hyperplane convention). The fixture's key space is
    tiny so collisions are rare — overcount == 0 rows ARE the check that
    the addressing matches across engines."""
    from . import events_table

    ev = events_table(spark, sf_dir)

    def cell(r: int) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{r}_"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("long") % _CM_W

    # posexplode of the precomputed cell array: each row hashes its key
    # exactly _CM_D times (the indexed-array formulation re-evaluated the
    # whole array per exploded row — 4x the md5 work, measured 2.5 s vs
    # 0.7 s at sf0.1)
    rows_ = ev.select(
        F.posexplode(F.array(*[cell(r) for r in range(_CM_D)])).alias("r", "cell")
    )
    cm = rows_.groupBy("r", "cell").agg(F.count(F.lit(1)).cast("long").alias("n"))
    keys_ = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    probe = keys_.select(
        "event_type",
        "true_n",
        F.posexplode(F.array(*[cell(r) for r in range(_CM_D)])).alias("r", "cell"),
    )
    return (
        probe.join(cm, ["r", "cell"])
        .groupBy("event_type", "true_n")
        .agg(F.min("n").cast("long").alias("cm_estimate"))
        .select(
            "event_type",
            "true_n",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("true_n")).cast("long").alias("overcount"),
        )
    )


# ====================== time-decay attribution ===============================

_ATT_WINDOW_US = 24 * 3_600_000_000

_ATT_BUCKET_US = 6 * 3_600_000_000  # k = age div 6h; weight = 2^-k, k in 0..3


# Time-decay multi-touch attribution with EXACT dyadic weights — each click
# preceding a purchase within 24 h gets weight 2^-k for its 6 h-bucket age k,
# so the credit mass is integer arithmetic end to end (no pow(), no float decay
# accumulation).
@query(
    "events_attribution_time_decay",
    f"""
WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
           WHERE event_type = 'click'),
p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
      WHERE event_type = 'purchase'),
j AS (
  SELECT (p_us - c_us) // {_ATT_BUCKET_US} AS k
  FROM c JOIN p USING (user_id)
  WHERE c_us <= p_us AND p_us - c_us < {_ATT_WINDOW_US}),
w AS (SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_credits,
             CAST(count(*) * (1 << (3 - CAST(k AS INTEGER))) AS BIGINT) AS weight_units
      FROM j GROUP BY k),
t AS (SELECT CAST(sum(weight_units) AS BIGINT) AS total FROM w)
SELECT k AS age_bucket_6h, n_credits, weight_units,
       CAST(weight_units * 1000000 // total AS BIGINT) AS credit_share_ppm
FROM w CROSS JOIN t
""",
)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution: every click within 24 h BEFORE a purchase
    by the same user earns weight 2^-k (k = age div 6 h) — weights are
    exact powers of two, so total credit is an integer unit count
    (2^(3-k) units per click) and shares are integer ppm. The click x
    purchase join co-partitions on user_id (bounded per-user fan-out);
    the rollup is 4 rows. The decay view tells you how much credit a
    longer lookback actually buys."""
    ev = events_table(spark, sf_dir)
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    j = (
        c.join(p, "user_id")
        .where(
            (F.col("c_us") <= F.col("p_us"))
            & (F.col("p_us") - F.col("c_us") < _ATT_WINDOW_US)
        )
        .select(
            F.expr(f"(p_us - c_us) div {_ATT_BUCKET_US}").alias("k")
        )
    )
    w = (
        j.select(F.col("k").cast("long").alias("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            F.expr("count(*) * shiftleft(1, CAST(3 - k AS INT))")
            .cast("long")
            .alias("weight_units"),
        )
    )
    t = w.agg(F.sum("weight_units").cast("long").alias("total"))
    return w.crossJoin(F.broadcast(t)).select(
        F.col("k").alias("age_bucket_6h"),
        "n_credits",
        "weight_units",
        F.expr("(weight_units * 1000000) div total")
        .cast("long")
        .alias("credit_share_ppm"),
    )


_CTRI_MIN_W = 2

_CTRI_BUCKET_CAP = 8

_CTRI_OUT_DEG = 3

_CAPPED_TRI_SQL = f"""
WITH support0 AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, event_type AS t, user_id AS u
  FROM events),
support AS (
  SELECT h, t, u FROM (
    SELECT h, t, u,
           row_number() OVER (PARTITION BY h, t
                              ORDER BY md5(CAST(u AS VARCHAR)), u) AS br
    FROM support0) WHERE br <= {_CTRI_BUCKET_CAP}),
co AS (
  SELECT a.u AS x, b.u AS y, count(*) AS w
  FROM support a JOIN support b ON a.h = b.h AND a.t = b.t AND a.u < b.u
  GROUP BY 1, 2),
edges AS (SELECT x, y FROM co WHERE w >= {_CTRI_MIN_W}),
deg AS (
  SELECT u, count(*) AS dg FROM (
    SELECT x AS u FROM edges UNION ALL SELECT y AS u FROM edges) GROUP BY 1),
oriented0 AS (
  SELECT CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND e.x < e.y)
              THEN e.x ELSE e.y END AS src,
         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND e.x < e.y)
              THEN e.y ELSE e.x END AS dst
  FROM edges e JOIN deg dx ON e.x = dx.u JOIN deg dy ON e.y = dy.u),
o2 AS (
  SELECT src, dst, dst_dg FROM (
    SELECT src, dst, dg AS dst_dg,
           row_number() OVER (PARTITION BY src ORDER BY dg, dst) AS orr
    FROM oriented0 JOIN deg ON dst = u) WHERE orr <= {_CTRI_OUT_DEG}),
wedges AS (
  SELECT w1.dst AS lo, w2.dst AS hi
  FROM o2 w1 JOIN o2 w2 ON w1.src = w2.src
   AND ((w1.dst_dg < w2.dst_dg) OR (w1.dst_dg = w2.dst_dg AND w1.dst < w2.dst))),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN o2 o ON w.lo = o.src AND w.hi = o.dst)
SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri"""


# The PRODUCTION variant of the exact triangle count (events_user_triangles,
# sf1 exponent 1.53 — wedge volume is degree^2), with both quadratic stages
# deterministically capped (operators/graphs.py): per-(hour,type) bucket
# sampling bounds pair generation, a per-source out-degree cap bounds wedge
# enumeration. Caps are (md5, id)-ordered so DuckDB reproduces them bit-for-bit
# — the capped count is a full hash-checked oracle row, not a rows-only
# estimate. min_w=2 (vs the exact query's 5) densifies the graph enough that
# the caps BIND at the gate scales: at sf0.01 the capped count is 131 vs 23,695
# uncapped — the cap is doing real work in the oracle window, not just at 100
# TB.
@query("events_user_triangles_capped", _CAPPED_TRI_SQL)
def events_user_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically BOUNDED triangle count of the user co-activity
    graph (edge = >= 2 shared (hour, event-type) buckets): per-bucket
    user sampling (cap 8, (md5,id)-ordered) bounds pair generation at
    cap^2 per bucket, a per-source out-degree cap (3, lowest-(deg,id))
    bounds wedges at cap^2 per node — so the whole pipeline is O(edges)
    at ANY scale, the production answer to the exact query's measured
    sf1 exponent of 1.53. Undercounts only (capped subgraph count, no
    phantom triangles); the uncapped exact query stays registered as
    the unbounded-semantics oracle. See operators/graphs.py."""
    return graphs.co_activity_triangles(
        events_table(spark, sf_dir),
        min_w=_CTRI_MIN_W,
        bucket_cap=_CTRI_BUCKET_CAP,
        max_out_deg=_CTRI_OUT_DEG,
    )


# ========================= survival hazard ===================================

_SURV_DAY_US = 86_400_000_000

_SURV_CHURN_US = 86_400_000_000  # inactive > 24 h at horizon = churned


# Kaplan-Meier-style discrete hazard table of user lifetime (churn analysis at
# day-since-first-seen grain) — integer at-risk/churn counts, ppm hazard.
@query(
    "events_survival_hazard",
    f"""
WITH u AS (
  SELECT user_id, epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
  FROM events GROUP BY user_id),
g AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS horizon_us FROM events),
l AS (
  SELECT (last_us - first_us) // {_SURV_DAY_US} AS lifetime_day,
         CASE WHEN last_us < horizon_us - {_SURV_CHURN_US} THEN 1 ELSE 0 END AS churned
  FROM u CROSS JOIN g),
d AS (
  SELECT lifetime_day, CAST(count(*) AS BIGINT) AS n_end,
         CAST(sum(churned) AS BIGINT) AS n_churned
  FROM l GROUP BY lifetime_day),
r AS (
  SELECT lifetime_day, n_churned,
         CAST(sum(n_end) OVER (ORDER BY lifetime_day DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_at_risk
  FROM d)
SELECT CAST(lifetime_day AS BIGINT) AS lifetime_day, n_at_risk, n_churned,
       CAST(n_churned * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
FROM r
""",
)
def events_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style discrete hazard table over user lifetimes:
    lifetime = whole days between a user's first and last event; a user
    is an EVENT (churned) if their last event predates the corpus
    horizon by more than 24 h, otherwise right-censored (still active —
    counts in the at-risk denominator through their observed lifetime,
    never in the churn numerator: the standard KM treatment). Hazard at
    day d = churners with lifetime d / users with lifetime >= d. One
    user-grain aggregate; the at-risk cumulative runs DESCENDING over
    the day spine — bounded by the corpus time span, not corpus size
    (the olap_open_order_backlog day-grain window precedent)."""
    ev = events_table(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )
    g = ev.agg(F.max(F.unix_micros("ts")).cast("long").alias("horizon_us"))
    life = u.crossJoin(F.broadcast(g)).select(
        F.expr(f"(last_us - first_us) div {_SURV_DAY_US}").alias("lifetime_day"),
        F.when(
            F.col("last_us") < F.col("horizon_us") - _SURV_CHURN_US, 1
        ).otherwise(0).alias("churned"),
    )
    d = life.groupBy("lifetime_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_end"),
        F.sum("churned").cast("long").alias("n_churned"),
    )
    w = Window.orderBy(F.col("lifetime_day").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return d.select(
        F.col("lifetime_day").cast("long").alias("lifetime_day"),
        F.sum("n_end").over(w).cast("long").alias("n_at_risk"),
        "n_churned",
        F.expr("(n_churned * 1000000) div (sum(n_end) OVER (ORDER BY lifetime_day DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))")
        .cast("long")
        .alias("hazard_ppm"),
    )


# ========================= hashing-trick features ============================

_HASH_BUCKETS = 32


# The hashing-trick featurizer ((type, hour, isodow) -> md5 -> 32 buckets) with
# per-bucket collision stats — the fixed-width feature encoder every
# large-scale training pipeline uses for unbounded categorical crosses.
@query(
    "events_hashed_features",
    f"""
WITH f AS (
  SELECT user_id,
         CAST('0x' || substr(md5(event_type || '|' ||
                CAST(hour(ts) AS VARCHAR) || '|' ||
                CAST(isodow(ts) AS VARCHAR)), 1, 13) AS BIGINT)
           % {_HASH_BUCKETS} AS bucket
  FROM events)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM f GROUP BY bucket
""",
)
def events_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: the unbounded categorical cross (event_type x
    hour-of-day x iso-weekday) hashed into a FIXED 32-bucket feature
    space (md5, 52-bit prefix, mod buckets) — the encoder that gives
    every row a bounded-width feature vector with no vocabulary fit, no
    dictionary shuffle, and graceful collision degradation. Registered
    at bucket grain (collision/occupancy stats, the encoder audit); the
    per-user feature matrix is the same expression grouped by user.
    Purely map-side hashing + one aggregate; both engines compute the
    identical md5, so bucket ids hash-match."""
    ev = events_table(spark, sf_dir)
    feat = F.concat_ws(
        "|",
        F.col("event_type"),
        F.hour("ts").cast("string"),
        (F.weekday("ts") + 1).cast("string"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(feat), 1, 13), 16, 10).cast("long"),
        F.lit(_HASH_BUCKETS),
    )
    return (
        ev.select(bucket.alias("bucket"), "user_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n_events", "n_users")
    )


# ========================= sweep-line peak concurrency =======================

_CONC_WINDOW_US = 300_000_000  # each event opens a 5-minute activity interval


@query(
    "events_peak_concurrency",
    f"""
WITH pts AS (
  SELECT epoch_us(ts) AS t, CAST(1 AS BIGINT) AS delta, event_id FROM events
  UNION ALL
  SELECT epoch_us(ts) + {_CONC_WINDOW_US}, CAST(-1 AS BIGINT), event_id
  FROM events),
r AS (
  SELECT t, CAST(sum(delta) OVER (ORDER BY t, delta, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS live
  FROM pts),
d AS (SELECT CAST(to_timestamp(CAST(t // 1000000 AS BIGINT)) AS DATE) AS day,
             live
      FROM r)
SELECT CAST(day AS VARCHAR) AS day, CAST(max(live) AS BIGINT) AS peak_concurrent
FROM d GROUP BY day
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per day: every event opens a 5-minute
    activity interval; interval boundaries become +1/-1 points and the
    running sum in global time order is the live-interval count — the
    interval-overlap maximum behind capacity planning and rate-limit
    sizing. Tie order (t, delta, event_id) closes intervals BEFORE
    opening same-instant ones on both engines (delta -1 sorts first).

    Scale shape: the global running sum uses ranking.global_prefix_sum
    (partition-offset prefix sums over the range-partitioned boundary
    points — bit-exact for integers, no single-task sort), then a
    day-grain max. The classic formulation is a global-order window;
    this one survives 100 TB of boundary points."""
    ev = events_table(spark, sf_dir)
    starts = ev.select(
        F.unix_micros("ts").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        "event_id",
    )
    ends = ev.select(
        (F.unix_micros("ts") + _CONC_WINDOW_US).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    pts = starts.unionAll(ends)
    live = ranking.global_prefix_sum(
        pts, "delta", "t", "delta", "event_id", out_col="live"
    )
    return (
        live.select(
            F.to_date(F.timestamp_seconds(F.expr("t div 1000000"))).cast("string").alias("day"),
            "live",
        )
        .groupBy("day")
        .agg(F.max("live").cast("long").alias("peak_concurrent"))
    )


# ========================= cumulative unique users ===========================


# New-vs-cumulative distinct users per day (the growth curve every product
# dashboard opens with) — running COUNT(DISTINCT) decomposed as first-seen-day
# + day-grain cumsum, so the distinct never recomputes per day.
@query(
    "events_cumulative_unique_users",
    """
WITH f AS (
  SELECT user_id, CAST(min(CAST(ts AS DATE)) AS DATE) AS first_day
  FROM events GROUP BY user_id),
d AS (SELECT first_day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY first_day)
SELECT CAST(first_day AS VARCHAR) AS day, n_new,
       CAST(sum(n_new) OVER (ORDER BY first_day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM d
""",
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users and the cumulative distinct-user curve: running
    COUNT(DISTINCT user_id) decomposed into each user's FIRST-SEEN day
    (one user-grain aggregate) plus a day-grain cumulative sum — the
    decomposition that turns an unbounded-state running distinct into
    one pass + a spine-bounded window (day grain: bounded by the time
    span, never by volume; the olap_open_order_backlog precedent)."""
    ev = events_table(spark, sf_dir)
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    d = f.groupBy("first_day").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        F.col("first_day").cast("string").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


# ======================== CUSUM change-point ==================================


# CUSUM change-point detection over the daily event-count series with
# INTEGER-EXACT test statistics: the CUSUM deviation sum_{i<=k}(x_i - mean) is
# carried as its integer numerator n_days*prefix_k - k*total (exact BIGINT in
# both engines — no float accumulation anywhere), and only the final reported
# statistic divides by n_days. Prefix sums and day indexes run through the
# gated scale-safe machinery (operators/ranking.py), so the plan holds when the
# day grain is wide (think per-minute at 100 TB).
@query(
    "events_cusum_changepoint",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily),
pre AS (
  SELECT day, cnt,
         CAST(sum(cnt) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS prefix,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
  FROM daily),
stat AS (
  SELECT day, cnt, k, n_days,
         n_days * prefix - k * total AS cusum_num
  FROM pre CROSS JOIN tot)
SELECT day AS change_day, cnt AS day_count, k AS day_index, n_days,
       cusum_num,
       {sql_round("cusum_num * 1.0 / n_days", 6)} AS cusum
FROM stat
ORDER BY abs(cusum_num) DESC, day
LIMIT 1
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point over the daily event-count series: the day k
    maximizing |sum_{i<=k}(x_i - mean)| — the classic level-shift
    detector. All comparisons run on the exact integer numerator
    n_days*prefix_k - k*total (multiplying the deviation sum through by
    n_days), so the argmax is bit-deterministic in both engines and no
    float ever accumulates; the single reported float is one division
    at the end. The prefix sum and day index come from the gated
    offsets machinery (ranking.global_prefix_sum / global_ranks — a
    plain bounded window at fixture scale, partition-offset form above
    the gate), because at 100 TB the 'day' grain is really minutes or
    finer and a single-partition ordered window would be the
    plan-killer. Ties on |statistic| break on the earlier day."""
    daily = (
        events_table(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = daily.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    pre = ranking.global_prefix_sum(daily, "cnt", "day", out_col="prefix")
    ranked, _n = ranking.global_ranks(pre, "day", rank_col="k")
    stat = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "cusum_num",
        F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total"),
    )
    return (
        stat.select(
            F.col("day").alias("change_day"),
            F.col("cnt").alias("day_count"),
            F.col("k").cast("long").alias("day_index"),
            "n_days",
            F.col("cusum_num").cast("long").alias("cusum_num"),
            (F.round(F.col("cusum_num") * 1.0 / F.col("n_days") * 1e6) / 1e6).alias(
                "cusum"
            ),
        )
        .orderBy(F.abs(F.col("cusum_num")).desc(), "change_day")
        .limit(1)
    )


# ======================= per-user HHI concentration ===========================


# Per-user behavioral concentration (Herfindahl index over event-type shares)
# as EXACT integer micro-units ((1e6 * sum(c_i^2)) div T^2), bucketed into
# deciles by integer division — the "is engagement diverse or single-track"
# distribution, no driver collect, one groupBy + one histogram pass.
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


# ========================= Mann-Kendall trend =================================


# The Mann-Kendall trend test over the daily event-count series — the standard
# "is this metric drifting?" monitor that needs no distributional assumption. S
# = sum of sign(x_j - x_i) over ordered day pairs is exact integer; the
# tie-corrected variance is exact integer arithmetic; only the reported
# z-statistic divides/roots once. The day-pair self-join is at DAY grain (the
# aggregate output), so its size is days^2 — constants at any corpus scale; at
# 100 TB the corpus-sized work is the one groupBy(day) underneath.
@query(
    "events_mann_kendall_trend",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
s AS (
  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM daily a JOIN daily b ON a.day < b.day),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)
  WHERE t > 1),
v AS (SELECT n, tie_term,
             n * (n - 1) * (2 * n + 5) - tie_term AS var18
      FROM n_ CROSS JOIN ties)
SELECT s_stat, n AS n_days,
       CAST(var18 AS BIGINT) AS var_numer_18x,
       CASE WHEN var18 <= 0 THEN NULL
            ELSE round((CASE WHEN s_stat > 0 THEN s_stat - 1
                             WHEN s_stat < 0 THEN s_stat + 1
                             ELSE 0 END)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e6) / 1e6
       END AS z_stat
FROM s CROSS JOIN v
""",
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test over the daily event-count
    series: S = sum over ordered day pairs of sign(x_j - x_i) (exact
    BIGINT — a day-grain self-join whose size is days^2, constants at
    any corpus scale), tie-corrected variance kept as its exact integer
    numerator var*18 = n(n-1)(2n+5) - sum_t t(t-1)(2t+5), and the
    continuity-corrected z = (S -/+ 1)/sqrt(var) as the ONE float
    expression at the end. |z| > 1.96 is the standard drift alarm; the
    sign says which way. The corpus-sized work is the one groupBy(day);
    everything after runs on the aggregate."""
    daily = (
        events_table(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    n_ = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = n_.crossJoin(ties).select(
        "n",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
        ).alias("var18"),
    )
    sc = F.col("s_stat")
    corrected = (
        F.when(sc > 0, sc - 1).when(sc < 0, sc + 1).otherwise(F.lit(0))
    )
    return s.crossJoin(F.broadcast(v)).select(
        "s_stat",
        F.col("n").alias("n_days"),
        F.col("var18").cast("long").alias("var_numer_18x"),
        F.when(F.col("var18") <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                corrected / F.sqrt(F.col("var18").cast("double") / 18.0) * 1e6
            )
            / 1e6
        )
        .alias("z_stat"),
    )


# ========================= Fano over-dispersion ===============================


# Over-dispersion screen per user — the Fano factor (variance/mean) of each
# user's hourly event counts, with the over-dispersion verdict (fano > 1, i.e.
# burstier than Poisson) evaluated as the exact integer cross-multiplication
# n*sxx - sx*sx > n*sx. Bot/anomaly triage input: genuine humans are bursty,
# schedulers are sub-Poisson-regular. Two keyed aggregates, map-side partials,
# a one-row report.
@query(
    "events_user_fano_burstiness",
    f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
m AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sx,
         CAST(sum(c * c) AS BIGINT) AS sxx
  FROM hourly GROUP BY user_id),
f AS (
  SELECT user_id, n, sx, sxx,
         CASE WHEN n * sxx - sx * sx > n * sx THEN 1 ELSE 0 END AS overdispersed
  FROM m WHERE n > 1)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(overdispersed) AS BIGINT) AS n_overdispersed,
       {sql_round("max((n * sxx - sx * sx) * 1.0 / (n * sx))", 6)} AS max_fano
FROM f
""",
)
def events_user_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-dispersion screen per user: the Fano factor of each user's
    ACTIVE-hour event counts — variance/mean of the per-hour count
    series, with population variance and mean sharing the denominator n
    so Fano = (n*sxx - sx^2)/(n*sx). A Poisson process has Fano 1; the
    over-dispersion verdict (burstier than Poisson — human sessions,
    incident traffic) is the exact integer comparison
    n*sxx - sx^2 > n*sx, so the count of flagged users is
    bit-deterministic; only the reported max ratio divides (numerator/
    denominator are exact integers < 2^53, so the division itself is
    correctly rounded and identical in both engines). Two keyed
    aggregates ((user, hour) then user) with map-side partials."""
    hourly = (
        events_table(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    f = m.where(n > 1).select(
        "user_id",
        "n",
        "sx",
        "sxx",
        F.when(n * sxx - sx * sx > n * sx, 1).otherwise(0).alias("overdispersed"),
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("overdispersed").cast("long").alias("n_overdispersed"),
        (
            F.round(
                F.max((n * sxx - sx * sx) * 1.0 / (n * sx)) * 1e6
            )
            / 1e6
        ).alias("max_fano"),
    )


# Per event type, the one-sided upper CUSUM control chart over daily counts —
# baseline = the first present day (target = its count, slack = target div 10),
# then the sequential fold cusum_k = max(0, cusum_{k-1} + x_k - target -
# slack), alarm when cusum > target. All integer. The recursion is
# order-dependent (not a prefix sum — the max(0,...) clamp kills
# associativity), so the oracle is a RECURSIVE CTE stepping day ranks, and the
# Spark side runs the fold in one Arrow batch per event type over the day-grain
# aggregate (streaming/jobs.py:batch_cusum_control). The streaming twin
# (cusum_control_stream, applyInPandasWithState keyed by event type,
# watermark-finalized days) is equivalence-tested against this exact plan in
# tests/test_streaming.py — the same batch==stream contract as the sessionizer.
#
# Vs events_cusum_changepoint: that is the RETROSPECTIVE level-shift test
# (argmax of the global-mean deviation sum — needs the whole window); this is
# the ONLINE monitor a pipeline actually pages on.
@query(
    "events_cusum_control",
    """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, day, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k
  FROM daily),
t AS (SELECT event_type, x AS target, x // 10 AS slack FROM r WHERE k = 1),
c AS (
  SELECT r.event_type, r.day, r.x, r.k,
         CAST(greatest(0, r.x - t.target - t.slack) AS BIGINT) AS cusum
  FROM r JOIN t USING (event_type) WHERE r.k = 2
  UNION ALL
  SELECT r.event_type, r.day, r.x, r.k,
         CAST(greatest(0, c.cusum + r.x - t.target - t.slack) AS BIGINT)
  FROM c
  JOIN r ON r.event_type = c.event_type AND r.k = c.k + 1
  JOIN t ON t.event_type = r.event_type)
SELECT c.event_type AS event_type, c.day AS day, c.x AS day_count,
       c.cusum AS cusum,
       CAST(CASE WHEN c.cusum > t.target THEN 1 ELSE 0 END AS INTEGER) AS alarm
FROM c JOIN t ON t.event_type = c.event_type
ORDER BY event_type, day
""",
)
def events_cusum_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM control chart per event type over daily
    event counts — the online drift monitor (baseline day sets
    target/slack; every later present day folds
    max(0, cusum + x - target - slack); alarm when cusum exceeds
    target). Integer end-to-end. The max(0,...) clamp makes the fold
    genuinely sequential, so the Spark plan aggregates to day grain
    (the only corpus-sized work) and runs the recursion in one Arrow
    batch per type; the oracle is a recursive CTE over day ranks. The
    STREAMING form of this exact chart — finalized day-by-day as the
    watermark passes, state = 3 longs per type — is
    streaming/jobs.py:cusum_control_stream, equivalence-pinned in
    tests/test_streaming.py."""
    return batch_sorted(jobs.batch_cusum_control(events_table(spark, sf_dir)))


def batch_sorted(df: DataFrame) -> DataFrame:
    return df.orderBy("event_type", "day")


# level', duplicated because a recursive CTE's step can't name an
# intermediate column: floor((256*x + 3*forecast) / 4)
_LVL = "CAST(floor((256 * r.x + 3 * (h.level + h.trend)) / 4.0) AS BIGINT)"


# Per event type, Holt double exponential smoothing over daily counts — level_k
# = floor((256*x + 3*(level + trend)) / 4), trend_k = floor((level_k -
# level_{k-1} + 7*trend) / 8), forecast made BEFORE seeing the day, alarm when
# the forecast missed by more than 25% of its own (floored) magnitude. Integer
# fixed-point (1/256 units) with power-of-two FLOOR divisions, so the fold is
# bit-exact in all three places it runs: Python's // in the Arrow batch
# (streaming/jobs.py:batch_holt_forecast), the same ints inside the stateful
# stream (holt_forecast_stream), and floor(a / 4.0) in the recursive-CTE oracle
# (exact for |a| < 2^53 — a power-of-two divide only shifts the float
# exponent). The recursion is order-dependent (floor kills associativity
# exactly like CUSUM's max(0,...) clamp), so the oracle steps day ranks
# recursively; trend can go NEGATIVE, which is why the SQL uses floor() and not
# DuckDB's truncating // (Python -7 // 8 = -1, DuckDB -7 // 8 = 0 — the one-ULP
# trap this docstring exists to record).
#
# Vs events_cusum_control: CUSUM pages on sustained LEVEL shifts; Holt pages on
# broken TRAJECTORIES (a feed growing 10%/day going flat alarms here long
# before its level drops below a CUSUM band).
@query(
    "events_holt_forecast",
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
         CAST(0 AS BIGINT) AS forecast, CAST(0 AS INTEGER) AS alarm
  FROM r WHERE k = 1
  UNION ALL
  SELECT r.event_type, r.day, r.x, r.k,
         {_LVL},
         CAST(floor(({_LVL} - h.level + 7 * h.trend) / 8.0) AS BIGINT),
         h.level + h.trend,
         CAST(CASE WHEN 4 * abs(256 * r.x - (h.level + h.trend))
                        > greatest(h.level + h.trend, 256)
              THEN 1 ELSE 0 END AS INTEGER)
  FROM h JOIN r ON r.event_type = h.event_type AND r.k = h.k + 1)
SELECT event_type, day, x AS day_count, forecast, level, trend, alarm
FROM h WHERE k >= 2
ORDER BY event_type, day
""",
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast chart per event type over daily event
    counts — the online trajectory monitor (first present day seeds
    level/trend, every later present day is forecast BEFORE it is
    seen, then folded into the smoothing state; alarm when the forecast
    missed by > 25%). Integer fixed-point end-to-end. The Spark plan
    aggregates to day grain (the only corpus-sized work) and runs the
    genuinely-sequential recursion in one Arrow batch per type
    (streaming/jobs.py:batch_holt_forecast); the oracle is a recursive
    CTE over day ranks. The STREAMING form of this exact chart —
    finalized day-by-day as the watermark passes, state = 2 longs per
    type — is streaming/jobs.py:holt_forecast_stream, equivalence- and
    kill-restart-pinned in tests/test_round13.py."""
    return jobs.batch_holt_forecast(events_table(spark, sf_dir)).orderBy(
        "event_type", "day"
    )


_CM_DEPTH = 4

_CM_WIDTH = 256

_CM_BUCKET = (
    "CAST('0x' || substr(md5(event_type || '_cm' || CAST(j AS VARCHAR)), 1, 13) "
    f"AS BIGINT) % {_CM_WIDTH}"
)


# Count-Min sketch (depth 4 x width 256, md5-seeded rows) built over the
# event-type stream, then read back — per type, the true count next to the
# sketch's min-over-rows estimate. The sketch is fully deterministic (fixed
# hash seeds, integer counters), so the ORACLE rebuilds the identical counter
# matrix and the estimate is hash-checkable — the property that makes a sketch
# auditable in production. Complements the HLL family (distinct counts) with
# the frequency-estimate sketch.
@query(
    "events_countmin_estimates",
    f"""
WITH keyed AS (
  SELECT event_type, CAST(r.range AS BIGINT) AS j, {_CM_BUCKET} AS bucket
  FROM events CROSS JOIN range(0, {_CM_DEPTH}) r),
counters AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS c
  FROM keyed GROUP BY j, bucket),
truth AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY event_type),
probes AS (
  SELECT event_type, CAST(r.range AS BIGINT) AS j, {_CM_BUCKET} AS bucket
  FROM truth CROSS JOIN range(0, {_CM_DEPTH}) r)
SELECT t.event_type AS event_type, t.true_n AS true_n,
       CAST(min(c.c) AS BIGINT) AS cm_estimate,
       CAST(min(c.c) - t.true_n AS BIGINT) AS overcount
FROM probes p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
JOIN truth t ON t.event_type = p.event_type
GROUP BY t.event_type, t.true_n
ORDER BY event_type""",
)
def events_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the event stream, then audited against the
    truth: build the {_CM_DEPTH}x{_CM_WIDTH} counter matrix (row j
    hashes a key with seed j; every arrival increments one counter per
    row), estimate each type's frequency as min over rows, and report
    estimate vs true count. CM guarantees estimate >= true with
    overcount bounded by collisions — `overcount` IS that audit, and
    because the hashes are fixed md5 seeds the whole sketch is
    bit-reproducible in SQL (a sketch you can hash-check is a sketch
    you can trust in a 100 TB pipeline, where it would be built
    map-side in one pass and merged by + across partitions — the
    counter matrix is {_CM_DEPTH * _CM_WIDTH} longs regardless of
    stream size). Scale shape: the build is one partial-aggregated
    shuffle of (j, bucket) keys; probes touch |types| x depth rows."""
    ev = events_table(spark, sf_dir)
    j_range = F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_type"), F.lit("_cm"), F.col("j").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % _CM_WIDTH
    )
    keyed = (
        ev.select("event_type", F.explode(j_range).alias("j0"))
        .select("event_type", F.col("j0").cast("long").alias("j"))
        .select("event_type", "j", bucket.alias("bucket"))
    )
    counters = keyed.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    truth = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    probes = (
        truth.select("event_type", "true_n", F.explode(j_range).alias("j0"))
        .select("event_type", "true_n", F.col("j0").cast("long").alias("j"))
        .select("event_type", "true_n", "j", bucket.alias("bucket"))
    )
    return (
        probes.join(counters, ["j", "bucket"])
        .groupBy("event_type", "true_n")
        .agg(F.min("c").cast("long").alias("cm_estimate"))
        .select(
            "event_type",
            "true_n",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("true_n")).cast("long").alias("overcount"),
        )
        .transform(sort_report, "event_type")
    )


_SLH_CAP = 10  # histogram cap: sessions with >= cap events share a bucket


# Distribution of session sizes (events per 30-minute-gap session, capped
# histogram) — composed ON TOP of the registered sessionizer semantics, so the
# histogram's oracle re-derives sessions in SQL and must agree with the Spark
# windows end-to-end.
@query(
    "events_session_length_hist",
    f"""
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y),
s AS (SELECT user_id, session_id, count(*) AS n_events
      FROM z GROUP BY user_id, session_id)
SELECT CAST(least(n_events, {_SLH_CAP}) AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM s GROUP BY 1 ORDER BY len_bucket""",
)
def events_session_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-size distribution: events per 30-minute-gap session
    (the events_sessionize semantics re-derived, so this rollup's hash
    row transitively re-checks the sessionizer's window chain), bucketed
    at {_SLH_CAP}+ — the engagement histogram behind bot filtering
    (one-event sessions) and power-user analysis (capped tail). One
    user-keyed shuffle serves both windows and the session group-by;
    the histogram itself is {_SLH_CAP} rows."""
    from pyspark.sql import Window

    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    ns = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    z = ev.select(
        "user_id",
        F.sum(ns).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_id"),
    )
    s = z.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        s.select(F.least("n_events", F.lit(_SLH_CAP)).cast("long").alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .transform(sort_report, "len_bucket")
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


# Additive HOLT-WINTERS (period-7 weekday seasonality) per event type over
# daily counts — the seasonality-aware upgrade of events_holt_forecast (which
# pages every Monday on any weekend-dipping feed; this one learns the dip).
# Integer fixed-point fold (alpha=1/4, beta=1/8, gamma=1/16, all power-of-two
# floors) in one Arrow batch per type; the oracle is a recursive CTE whose
# state row carries the seasonal 7-LIST (list-typed recursive state — DuckDB
# replays the identical slot updates via a guarded list comprehension).
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
