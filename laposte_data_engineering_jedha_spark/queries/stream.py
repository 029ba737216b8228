"""Streaming jobs and their batch twins (name prefixes stream, ml).

Each stream query registers the deterministic batch aggregate that the
stateful streaming operator in streaming/ must reproduce; the ml query is a
pinned gradient-descent training run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts
from ..operators import caches
from ..streaming import ivm
from ..streaming import jobs as streaming_jobs
from . import events_table, query, sql_toks, table


@query(
    "stream_tumbling_counts",
    """
SELECT (epoch_us(ts) // 300000000) * 300 AS bucket_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2""",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window counts — the batch run of the SAME plan the
    Structured Streaming job executes (streaming/jobs.py; the streaming
    equivalence itself is asserted in tests/test_streaming.py)."""
    return streaming_jobs.tumbling_counts(events_table(spark, sf_dir))


@query(
    "stream_sliding_counts",
    """
SELECT bucket_start, event_type, count(*) AS n_events
FROM (
  SELECT ((epoch_us(ts) // 300000000) - r.range) * 300 AS bucket_start,
         event_type
  FROM events CROSS JOIN range(0, 2) r)
GROUP BY 1, 2""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly two
    buckets. The oracle enumerates the two slide-aligned window starts per
    event; Spark's window(ts, '10 minutes', '5 minutes') produces the same
    starts. Batch run of the streaming-capable plan (streaming/jobs.py)."""
    return streaming_jobs.sliding_counts(events_table(spark, sf_dir))


@query(
    "stream_enrich_users",
    """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_mktsegment AS segment, c.c_nationkey AS nationkey
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
)
def stream_enrich_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (batch run of the identical
    streaming plan, streaming/jobs.py:enrich_users): events left-joined to
    the broadcast customer dimension — stateless per micro-batch, the
    fact stream never shuffles. Streaming==batch equivalence asserted in
    tests/test_streaming.py."""
    return streaming_jobs.enrich_users(
        events_table(spark, sf_dir), table(spark, sf_dir, "customer")
    )


@query(
    "stream_click_attribution",
    """
SELECT p.event_id AS purchase_event, c.user_id, c.ts AS click_ts
FROM events c JOIN events p
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND p.ts <= c.ts
 AND epoch_us(c.ts) < epoch_us(p.ts) + 7200000000""",
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click -> purchase attribution pairs (same-user click inside the
    purchase's 2-hour follow-window) — the batch run of the SAME plan the
    stream-stream join executes under watermarks (streaming/jobs.py
    attribution_join; streaming==batch equivalence asserted in
    tests/test_streaming.py). The watermark-bounded two-buffer join is the
    canonical Structured Streaming shape Spark gives for free where the
    reference engine would need a custom symmetric hash join."""
    ev = events_table(spark, sf_dir)
    return streaming_jobs.attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@query(
    "stream_dedup_events",
    "SELECT event_id, event_type FROM events",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restoration: the events table unioned with itself
    simulates at-least-once redelivery (every event arrives twice); the
    dedup collapses it back to one row per event_id. Batch run of the
    plan whose streaming form is `dropDuplicatesWithinWatermark`
    (streaming/jobs.py:dedup_events — watermark-bounded key state;
    streaming==batch equivalence asserted in tests/test_streaming.py)."""
    ev = events_table(spark, sf_dir)
    redelivered = ev.unionByName(ev)
    return streaming_jobs.dedup_events(redelivered).select("event_id", "event_type")


@query(
    "stream_sessionize",
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
  FROM y),
s AS (
  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events
  FROM z GROUP BY user_id, session_id),
m AS (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid FROM s)
SELECT user_id, session_start, session_end, n_events
FROM m WHERE session_id < last_sid""",
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode emission contract of the applyInPandasWithState
    sessionizer (streaming/jobs.py:sessionize_stream), as its deterministic
    batch window formulation: the sessions CLOSED BY A SUBSEQUENT EVENT —
    every session except each user's final one. Those are exactly the rows
    the stream emits independent of micro-batch/watermark timing (the final
    session per user closes only via event-time timeout, which depends on
    how far the bounded run's watermark advances). Was registered rows-only
    through round 5 as the end-to-end streaming run; the stateful operator
    itself remains non-SQL and stays pinned by tests/test_streaming.py::
    test_stateful_sessionizer_matches_batch (stream output sandwiched
    between this closed set and the full session set). Same graduation
    shape as stream_funnel_detect (round 5). Output columns match the
    stream's SESSION_OUT_SCHEMA."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    per = (
        ev.select("user_id", "ts", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    last = F.max("session_id").over(Window.partitionBy("user_id"))
    return (
        per.withColumn("_last", last)
        .where(F.col("session_id") < F.col("_last"))
        .select("user_id", "session_start", "session_end", "n_events")
    )


@query(
    "stream_session_window",
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
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800000000 AS session_close_us,
       count(*) AS n_events
FROM z GROUP BY user_id, session_id""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the streaming-capable native session-window job
    (streaming/jobs.py session_window_counts; batch==stream equivalence
    asserted in tests/test_streaming.py::test_session_window_stream_matches_batch).
    The oracle is the lag/cumsum sessionization with the empirically-pinned
    inclusive-30:00 merge boundary, emitting µs epochs (the job's
    timezone-agnostic output contract)."""
    from ..streaming import jobs as streaming_jobs

    return streaming_jobs.session_window_counts(events_table(spark, sf_dir))


@query(
    "stream_funnel_detect",
    """
WITH b AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
c AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM b),
d AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM c),
g AS (SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2,
             any_value(t3) AS t3
      FROM d GROUP BY user_id)
SELECT user_id, epoch_us(t1) AS view_us, epoch_us(t2) AS click_us,
       epoch_us(t3) AS purchase_us
FROM g WHERE t3 IS NOT NULL""",
)
def stream_funnel_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode run of the CEP funnel detector's SEMANTICS (the batch
    window formulation whose equivalence to the applyInPandasWithState
    operator is pinned in tests/test_streaming.py::
    test_stateful_funnel_matches_batch): completed view->click->purchase
    funnels with stage timestamps. Was registered rows-only through
    round 4; since the REGISTERED callable is this deterministic window
    formulation (the stateful operator itself remains non-SQL, linked
    via the equivalence test), it now carries a full DuckDB oracle —
    chained CTEs because a window result cannot be referenced inside a
    sibling window's CASE in the same SELECT."""
    from pyspark.sql import Window as W

    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    w = W.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = ev.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn("t2", F.min(F.when((typ == "click") & (t > F.col("t1")), t)).over(w))
    df = df.withColumn("t3", F.min(F.when((typ == "purchase") & (t > F.col("t2")), t)).over(w))
    return (
        df.groupBy("user_id")
        .agg(F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3"))
        .where(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.unix_micros("t1").alias("view_us"),
            F.unix_micros("t2").alias("click_us"),
            F.unix_micros("t3").alias("purchase_us"),
        )
    )


@query(
    "stream_windowed_topk",
    """
WITH agg AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM events GROUP BY day, event_type),
r AS (SELECT day, event_type, revenue,
             row_number() OVER (PARTITION BY day
                                ORDER BY revenue DESC, event_type) AS rnk
      FROM agg)
SELECT day, event_type, revenue, rnk FROM r WHERE rnk <= 3""",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the STREAMING windowed top-k plan (streaming/jobs.py
    daily_type_revenue + rank_daily_topk; the availableNow streaming run
    is asserted row-identical in tests/test_streaming.py): the windowed
    DECIMAL aggregation is streaming-legal and runs in-stream, the rank
    is batch-side over the sink — the split every stream-fed top-k
    dashboard uses. Under the UTC session the 1-day window start equals
    CAST(ts AS DATE), which is what the oracle (and the batch twin
    events_windowed_topk, computed WITHOUT the window() operator) key
    on — three independent routes to one hash."""
    from ..streaming import jobs as streaming_jobs

    return streaming_jobs.rank_daily_topk(
        streaming_jobs.daily_type_revenue(events_table(spark, sf_dir))
    )


_RATE_ALERT_SQL = """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS us,
         count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
           AS n
  FROM events)
SELECT user_id, us AS alert_us, CAST(max(n) AS BIGINT) AS n_in_hour
FROM c WHERE n = 3 GROUP BY user_id, us"""


@query("stream_rate_alert", _RATE_ALERT_SQL)
def stream_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate alerting (third custom stateful streaming
    operator, streaming/jobs.py:rate_alert_stream): alert when a user's
    trailing-hour event count reaches exactly K=3 — registered as its
    deterministic batch twin (RANGE-window count == K, one row per
    distinct (user, ts)), same graduation shape as stream_funnel_detect
    and stream_sessionize. RANGE peer semantics (timestamp ties enter
    the window together) make the contract identical across the batch
    window, this SQL twin, and the stream's group-by-timestamp fold;
    the stateful operator stays pinned by tests/test_streaming.py::
    test_rate_alert_stream_matches_batch."""
    from ..streaming import jobs as streaming_jobs

    return streaming_jobs.batch_rate_alerts(events_table(spark, sf_dir))


# ============================ streaming exact DAU ============================


# Batch run of the dedup -> windowed-aggregation CHAIN (two stateful operators
# in one streaming query — the only way Structured Streaming can produce an
# EXACT windowed distinct count in append mode; count(DISTINCT) is not a
# supported streaming aggregate). The streaming run is pinned equal in
# tests/test_streaming.py.
@query(
    "stream_tumbling_dau",
    """
SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS dau
FROM events GROUP BY 1
""",
)
def stream_tumbling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hourly distinct users from the dedup -> windowed-count CHAIN
    (streaming/jobs.py:tumbling_distinct_users) — the multi-stateful-
    operator pipeline that makes exact windowed DISTINCT possible in
    append-mode streaming (dedup state holds one row per (window, user)
    inside the watermark; the downstream count is an ordinary windowed
    aggregate). This is the batch run of the IDENTICAL plan; the
    streaming availableNow run is asserted row-equal in
    tests/test_streaming.py. The oracle is the plain GROUP BY the chain
    provably equals in batch."""
    return streaming_jobs.tumbling_distinct_users(events_table(spark, sf_dir))


# ========================= streaming top-k trending ==========================


@query(
    "stream_topk_trending",
    """
WITH g AS (
  SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_us,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY window_us
                                   ORDER BY n DESC, event_type) AS rnk
      FROM g)
SELECT window_us, CAST(rnk AS BIGINT) AS rank, event_type, n
FROM r WHERE rnk <= 3
""",
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode run of the windowed top-k trending operator's SEMANTICS
    (per 1-hour tumbling event-time window, the top-3 event types by
    (count desc, type asc)). The custom stateful streaming operator
    (streaming/jobs.py:topk_trending_stream — per-window count-table
    state, exactly-once emission when the watermark finalizes the
    window, counts commute so no arrival-order buffer is needed) is
    pinned equivalent to this formulation under shuffled arrival in
    tests/test_streaming_shuffled.py; the registered callable is the
    deterministic window form, so it carries a full DuckDB oracle."""
    from ..streaming import jobs

    return jobs.batch_topk_trending(events_table(spark, sf_dir))


# The (event_type, day) count view that streaming/ivm.py maintains
# incrementally (foreachBatch merge into a parquet table published by atomic
# rename, exactly-once via a batch_id manifest — the EIGHTH stateful streaming
# surface, and the one canonical pattern applyInPandasWithState doesn't cover:
# state as a TABLE any reader can query mid-stream). Registered as its
# deterministic batch aggregate, the same graduation shape as
# stream_tumbling_counts / stream_sessionize; the incremental machinery itself
# is pinned by tests/test_streaming.py (view == batch after ~31 merges,
# kill-restart resume, replayed-batch_id no-op).
@query(
    "stream_ivm_counts",
    """
SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
)
def stream_ivm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the incrementally-maintained (type, day) counts
    view (streaming/ivm.py): after ANY prefix of appends, the published
    view must equal this one-shot aggregate over the same rows — the
    IVM invariant the foreachBatch merge maintains batch by batch. One
    partial-aggregated shuffle; the streaming form's per-merge cost is
    |view| + |micro-batch delta|, never a history re-scan."""
    return ivm.batch_counts(events_table(spark, sf_dir)).orderBy(
        "event_type", "day"
    )


_GD_STEPS = 8

_GD_LR = 4.0

_GD_Q = 1_000_000  # per-row gradient quantization (micro-units)

_GD_GATE = 50  # token-count gate being distilled


def _gd_oracle_sql() -> str:
    """Unrolled K-step GD: feat -> (g1, w1, a1) -> ... -> union of the
    per-step weight/accuracy rows. Weight state is a 1-row CTE cross-
    joined into the next stage — the SQL twin of a broadcast scalar.
    Every stage is AS MATERIALIZED: DuckDB inlines plain CTEs, and the
    weight chain re-expands its whole history per reference — the same
    exponential-in-K blowup the Spark side solves with localCheckpoint
    (measured 13.5 s -> ms on a 2-row corpus)."""
    feat = f"""feat AS MATERIALIZED (
  SELECT CASE WHEN len({sql_toks('text')}) >= {_GD_GATE} THEN 1 ELSE 0 END AS y,
         CAST(n_chars AS DOUBLE) / 1000 AS x1,
         CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           / length(text) AS x2
  FROM documents WHERE length(text) > 0),
n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
w0 AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
              CAST(0.0 AS DOUBLE) AS w2)"""
    stages, selects = [feat], []
    for k in range(1, _GD_STEPS + 1):
        p, c = f"w{k - 1}", f"w{k}"
        z = f"({p}.w0 + {p}.w1 * x1 + {p}.w2 * x2)"
        r = f"(least(greatest({z} / 4 + 0.5, 0.0), 1.0) - y)"
        stages.append(f"""g{k} AS MATERIALIZED (
  SELECT CAST(sum(CAST(round({r} * {_GD_Q}) AS BIGINT)) AS BIGINT) AS q0,
         CAST(sum(CAST(round({r} * x1 * {_GD_Q}) AS BIGINT)) AS BIGINT) AS q1,
         CAST(sum(CAST(round({r} * x2 * {_GD_Q}) AS BIGINT)) AS BIGINT) AS q2
  FROM feat CROSS JOIN {p})""")
        stages.append(f"""w{k} AS MATERIALIZED (
  SELECT {p}.w0 - {_GD_LR} * (CAST(q0 AS DOUBLE) / ({_GD_Q}.0 * n)) AS w0,
         {p}.w1 - {_GD_LR} * (CAST(q1 AS DOUBLE) / ({_GD_Q}.0 * n)) AS w1,
         {p}.w2 - {_GD_LR} * (CAST(q2 AS DOUBLE) / ({_GD_Q}.0 * n)) AS w2
  FROM g{k} CROSS JOIN {p} CROSS JOIN n)""")
        zc = f"({c}.w0 + {c}.w1 * x1 + {c}.w2 * x2)"
        stages.append(f"""a{k} AS MATERIALIZED (
  SELECT CAST(sum(CASE WHEN ({zc} > 0) = (y = 1) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM feat CROSS JOIN {c})""")
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS step, "
            f"round(w0 * {_GD_Q}) / {_GD_Q} AS w0, "
            f"round(w1 * {_GD_Q}) / {_GD_Q} AS w1, "
            f"round(w2 * {_GD_Q}) / {_GD_Q} AS w2, "
            f"CAST((n_correct * {_GD_Q}) // n AS BIGINT) AS acc_ppm "
            f"FROM w{k} CROSS JOIN a{k} CROSS JOIN n"
        )
    return (
        "WITH " + ",\n".join(stages) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY step"
    )


# 8 full-batch gradient-descent steps of a linear classifier (hard-sigmoid
# logistic link) DISTILLING the tokenizer-based corpus gate `token_count >= 50`
# into two byte-level features readable without tokenizing (chars / 1000,
# whitespace fraction) — the "train a tiny filter on the cluster, deploy it as
# a scan predicate upstream of the tokenizer" loop a 100 TB corpus pipeline
# actually runs. The determinism problem with distributed GD is the GRADIENT
# SUM: a float sum over a shuffled corpus is partition-order-dependent, so two
# engines (or two runs of the same engine) drift in the last ULPs and the
# trained weights diverge. Here every per-row gradient component — a
# fixed-shape rational double over integer counts and broadcast weights, no
# exp/log anywhere (the hard-sigmoid clamp(z/4 + 1/2, 0, 1) replaces the
# logistic link precisely because exp is the op two libms disagree on) — is
# QUANTIZED to integer micro-units per row (the events_value_anova_f ANOVA discipline), so
# only BIGINTs cross partition boundaries; weight updates are then single
# deterministic double expressions over exact sums. The oracle unrolls the
# steps as generated CTE stages carrying the weight vector as a 1-row relation;
# Spark carries it as a broadcast scalar join — same dataflow, zero driver-side
# collect in the lineage, so the whole training run is ONE lazy plan.
@query("ml_gate_distill_gd", _gd_oracle_sql())
def ml_gate_distill_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_GD_STEPS} full-batch GD steps distilling the token-count gate
    (y = token_count >= {_GD_GATE}) into a hard-sigmoid linear scorer
    over byte-level features (chars/1000, whitespace fraction) —
    emitting per step the updated weight vector (rounded to micro-units)
    and its training accuracy in ppm (which climbs from the majority-
    class floor as the boundary is learned; tests pin the monotone
    improvement). Scale shape: the feature relation is computed ONCE
    (persisted; Catalyst token exprs, no UDF) and each step is two
    partial-aggregated scans over it — the three quantized gradient
    sums, then the accuracy count — with the weight vector flowing as a
    BROADCAST 1-row relation, never a driver collect, so the K-step
    training is one lazy plan a 1000-executor cluster runs with
    2K small shuffles of 1-row aggregates. Per-row floats are
    fixed-shape rationals (no exp/log), per-row contributions quantize
    to integer micro-units BEFORE the cross-partition sum (order-free
    BIGINT addition), and weight updates are single double expressions
    over exact operands — so the trained weights are bit-identical
    across engines, partitionings, and re-runs: the reproducibility
    property distributed training pipelines usually give up."""
    docs = table(spark, sf_dir, "documents")
    t = texts.tokens("text")
    y = F.when(F.size(t) >= _GD_GATE, 1).otherwise(0)
    ws_frac = (
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).cast(
            "double"
        )
        / F.length("text")
    )
    feat = caches.track(
        docs.where(F.length("text") > 0)
        .select(
            y.alias("y"),
            (F.col("n_chars").cast("double") / 1000).alias("x1"),
            ws_frac.alias("x2"),
        )
        .persist()
    )
    n = feat.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = None  # None encodes the all-zero w0 (literals fold into exprs)
    out = []
    lrq = F.lit(float(_GD_Q))
    for k in range(1, _GD_STEPS + 1):
        if w is None:
            z = F.lit(0.0)
        else:
            z = F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        r = F.least(F.greatest(z / 4 + 0.5, F.lit(0.0)), F.lit(1.0)) - F.col("y")
        src = feat if w is None else feat.crossJoin(F.broadcast(w))
        g = src.agg(
            F.sum(F.round(r * _GD_Q).cast("long")).cast("long").alias("q0"),
            F.sum(F.round(r * F.col("x1") * _GD_Q).cast("long"))
            .cast("long")
            .alias("q1"),
            F.sum(F.round(r * F.col("x2") * _GD_Q).cast("long"))
            .cast("long")
            .alias("q2"),
        )
        base = g.crossJoin(F.broadcast(n))
        prev = [F.lit(0.0)] * 3 if w is None else [F.col(f"w{j}") for j in range(3)]
        cols = [
            (prev[j] - _GD_LR * (F.col(f"q{j}").cast("double") / (lrq * F.col("n"))))
            .alias(f"w{j}")
            for j in range(3)
        ]
        w = (base if w is None else base.crossJoin(F.broadcast(w))).select(*cols)
        # truncate lineage per step (the connected-components pattern):
        # without this the weight row re-expands its whole history into
        # every consumer and the plan grows EXPONENTIALLY in K (measured:
        # StackOverflow in AQE at K=8). eager=False truncates the LOGICAL
        # plan just the same (the LogicalRDD replaces the lineage at call
        # time) but defers the tiny per-step materialization jobs into the
        # consuming action — 8 fewer driver job round-trips (guide §1.2:
        # fewer passes), still no driver-side value in the dataflow.
        w = w.localCheckpoint(eager=False)
        zc = F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        acc = feat.crossJoin(F.broadcast(w)).agg(
            F.sum(F.when((zc > 0) == (F.col("y") == 1), 1).otherwise(0))
            .cast("long")
            .alias("n_correct")
        )
        out.append(
            w.crossJoin(F.broadcast(acc))
            .crossJoin(F.broadcast(n))
            .select(
                F.lit(k).cast("long").alias("step"),
                (F.round(F.col("w0") * _GD_Q) / _GD_Q).alias("w0"),
                (F.round(F.col("w1") * _GD_Q) / _GD_Q).alias("w1"),
                (F.round(F.col("w2") * _GD_Q) / _GD_Q).alias("w2"),
                F.expr(f"CAST((n_correct * {_GD_Q}) div n AS BIGINT)").alias(
                    "acc_ppm"
                ),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.orderBy("step")
