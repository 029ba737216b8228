"""Structured Streaming jobs over the `events` table.

The aggregation logic is built once against a generic DataFrame, so the
SAME plan runs (a) in batch mode for the DuckDB oracle gate and (b) under
`readStream` with a watermark for the streaming tests — the recommended
Spark pattern for keeping batch and streaming semantics provably aligned.

Scale notes: tumbling-window counts are a streaming state store keyed by
(window, event_type) — bounded by watermark expiry. Eight CUSTOM stateful
operators run on `applyInPandasWithState` with event-time timeouts, each
with a batch twin it is equivalence-tested against (several oracle-
registered): the 30-min-gap sessionizer (user_id key; batch twin
queries/events.py:events_sessionize), funnel detection, CEP pattern
completions, trailing-hour rate alerts, exactly-once windowed top-k
trending, the per-type CUSUM control chart, the per-type Holt
linear-trend forecaster, and its seasonal Holt-Winters upgrade (period-7
weekday slots). The ninth stateful surface — the foreachBatch IVM counts
view (streaming/ivm.py) — is state-as-a-table rather than
applyInPandasWithState. All keep state to a watermark-horizon working
set (or O(keys) constants), the property that makes them run forever;
checkpoint kill-restart recovery is pinned in tests/test_streaming.py.
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import EVENTS_SCHEMA

WINDOW = "5 minutes"
WATERMARK = "10 minutes"


def _run_to_memory(stream: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Drain `stream` into a memory sink named `query_name` with one
    availableNow trigger, wait for it, and return the sink's table."""
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(query_name)


def tumbling_counts(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Per-(5-min window, event_type) count + exact decimal value sum.

    Works unchanged on batch and streaming inputs. The window start is
    emitted as epoch seconds (a BIGINT) so results are timezone-agnostic;
    the value sum aggregates DECIMAL(18,4) internally (exact, order-free —
    double summation would be partition-order dependent) and casts to
    double at the end.
    """
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    with_watermark: bool = False,
) -> DataFrame:
    """Sliding-window per-type counts: each event lands in window/slide
    overlapping buckets. Same batch/streaming duality as tumbling_counts;
    state per open (window, type) pair, expired by the watermark."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )


ATTRIBUTION_HORIZON = "2 hours"


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    with_watermark: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: every click attributed to the same-user
    purchase whose 2-hour follow-window contains it (the streaming twin of
    the batch range join in queries/events.py:events_range_join).
    how="left_outer" additionally null-extends unconverted clicks once the
    watermark passes their window close — withheld until provably
    unmatched, never emitted early (pinned by
    tests/test_streaming.py::test_stream_stream_left_outer_null_extends_after_watermark);
    outer stream-stream joins REQUIRE the watermark, since unbounded state
    could otherwise never declare a click unmatched.

    Works unchanged on batch and streaming inputs. In streaming mode both
    sides carry event-time watermarks AND the join predicate bounds
    click_ts to [p_ts, p_ts + 2 h), so Spark derives state-expiry for both
    buffers: a buffered purchase can be dropped once the click watermark
    passes its window end, a buffered click once the purchase watermark
    passes its timestamp — bounded state on an unbounded stream. Output is
    the raw attributed pairs; downstream aggregation composes as a second
    stateful operator (supported since Spark 3.5's multi-stateful-operator
    pipelines) or as a batch rollup over the sink.
    """
    c = clicks.select("user_id", F.col("ts").alias("click_ts"))
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("p_ts"),
    )
    if with_watermark:
        c = c.withWatermark("click_ts", WATERMARK)
        p = p.withWatermark("p_ts", WATERMARK)
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") <= F.col("click_ts"))
        & (F.col("click_ts") < F.col("p_ts") + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")),
        how,
    ).select("purchase_event", "user_id", "click_ts")


def run_attribution_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_attribution"
) -> DataFrame:
    """Drive the stream-stream attribution join over the directory stream
    (both sides read from the same source, filtered by event type) into a
    memory sink; returns the attributed pairs."""
    ev = read_events_stream(spark, events_dir)
    stream = attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        with_watermark=True,
    )
    return _run_to_memory(stream, query_name, "append")


def enrich_users(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment: every event left-joined to its user's
    dimension attributes (market segment, nation) — the standard "enrich
    the stream against a slowly-changing dimension" front of a streaming
    pipeline.

    The SAME plan runs batch and streaming: a stream-static LEFT join with
    the static side explicitly broadcast is stateless (no watermark
    needed — each micro-batch joins against the current dimension
    snapshot), so the stream side never buffers and the dimension never
    shuffles. At 100 TB/day of events the dimension broadcast is the whole
    cost model: the fact stream stays partition-local.
    """
    dim = customers.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return events.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "event_type", "segment", "nationkey"
    )


def run_enrich_available_now(
    spark: SparkSession,
    events_dir: str,
    customers: DataFrame,
    query_name: str = "stream_enrich",
) -> DataFrame:
    """Drive the stream-static enrichment over the directory stream into a
    memory sink; returns the enriched events."""
    stream = enrich_users(read_events_stream(spark, events_dir), customers)
    return _run_to_memory(stream, query_name, "append")


def dedup_events(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Exactly-once restoration over at-least-once delivery: drop
    redelivered copies of an event by its id.

    Streaming mode uses `dropDuplicatesWithinWatermark` — the dedup state
    holds one key only while the watermark can still admit a duplicate
    (event ts + watermark delay), so state is bounded on an unbounded
    stream; a plain streaming dropDuplicates would grow its key set
    forever. Batch mode is the same logical dedup via dropDuplicates
    (duplicates carry identical payloads, so which copy survives is
    immaterial). This is the idempotent-ingest front every pipeline
    reading a redelivering source (Kafka, Kinesis, retried file loads)
    puts before stateful consumers.
    """
    if with_watermark:
        return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def run_dedup_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_dedup"
) -> DataFrame:
    """Drive the watermarked dedup over the directory stream (append mode)
    into a memory sink; returns the deduplicated events."""
    stream = dedup_events(read_events_stream(spark, events_dir), with_watermark=True)
    return _run_to_memory(stream, query_name, "append")


SESSION_GAP_S = 1800  # 30 min, matches queries/events.py:events_sessionize

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
# open session (start, last-event, count) in integer micros + the
# watermark buffer (r8 — see docstring)
_SESSION_STATE_SCHEMA = "start long, end long, n long, pending array<long>"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: 30-minute-gap sessionization via
    `applyInPandasWithState` keyed by user_id.

    WATERMARK-BUFFERED FOLD (r8, same contract as rate_alert_stream):
    gap splits are order-sensitive, so arriving events buffer in state
    (`pending`) until the watermark passes them and fold into the open
    session in GLOBAL event-time order — a late-but-within-watermark
    event can no longer split a session it belongs inside of, whatever
    micro-batch it rode in on. State per user = the open session
    (start, last-event, count) in integer microseconds plus the pending
    buffer (bounded by the user's event rate over one watermark delay).
    Event-time timeouts both flush pending once the watermark passes it
    and close idle sessions (watermark past last finalized event + gap:
    at that point every admissible future event exceeds the gap and
    would start a new session anyway) — state stays a watermark-horizon
    working set, the property that makes this run forever.
    """

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        out = []
        if state.exists:
            start, end, n, pending = state.get
            pending = list(pending)
        else:
            start, end, n, pending = 0, 0, 0, []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]  # a NULL event time cannot be
            # sessionized (and NaT would fold in as int64-min garbage)
            if len(rows):
                pending.extend(int(t) for t in (rows["ts"].astype("int64") // 1000))
        wm_us = state.getCurrentWatermarkMs() * 1000
        ready = sorted(t for t in pending if t < wm_us)
        pending = [t for t in pending if t >= wm_us]
        for t in ready:
            if n > 0 and t - end > SESSION_GAP_S * 1_000_000:
                out.append((user_id, start, end, n))
                n = 0
            if n == 0:
                start = t
            end = t
            n += 1
        gap_ms = SESSION_GAP_S * 1000
        wm_ms = state.getCurrentWatermarkMs()
        if n > 0 and wm_ms >= end // 1000 + gap_ms:
            # idle close: nothing admissible can land inside the gap
            # anymore — buffered events (all >= the watermark >= end+gap)
            # would start a NEW session, so they don't block the close
            out.append((user_id, start, end, n))
            start, end, n = 0, 0, 0
        if n == 0 and not pending:
            if state.exists:
                state.remove()
        else:
            state.update((start, end, n, pending))
            if pending:
                horizon_ms = min(pending) // 1000 + 1  # flush wake-up
                if n > 0:
                    # an idle close may become admissible BEFORE the next
                    # pending event's flush (min(pending) > end+gap): take
                    # the earlier of the two horizons, else a closable
                    # session is withheld until the watermark passes the
                    # pending event — and withheld forever if the stream
                    # ends in between (stream != batch-minus-withheld)
                    horizon_ms = min(horizon_ms, end // 1000 + gap_ms)
            else:
                horizon_ms = end // 1000 + gap_ms  # idle-close wake-up
            state.setTimeoutTimestamp(max(horizon_ms, wm_ms + 1))
        if out:  # one batched frame per group call, not one per session
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "session_start": pd.to_datetime([r[1] for r in out], unit="us"),
                    "session_end": pd.to_datetime([r[2] for r in out], unit="us"),
                    "n_events": [r[3] for r in out],
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_sessionize_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_sessions"
) -> DataFrame:
    """Drive the stateful sessionizer over the whole directory with
    availableNow into a memory sink; returns emitted (closed) sessions."""
    stream = sessionize_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet directory.

    `maxFilesPerTrigger=1` keeps micro-batches small; on a cluster this
    source is swapped for Kafka with identical downstream plan.
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )


def run_tumbling_counts_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "tumbling_counts"
) -> DataFrame:
    """Drive the streaming job to completion with the availableNow trigger
    into a memory sink; returns the final result as a batch DataFrame."""
    stream = tumbling_counts(read_events_stream(spark, events_dir), with_watermark=True)
    return _run_to_memory(stream, query_name, "complete")


SESSION_GAP = "30 minutes"


def session_window_counts(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Native session-window per-user counts — the SAME merge-on-overlap
    operator as the batch query events_session_window_native (see
    queries/events.py for the empirically-pinned exact-30:00 boundary
    semantics), here built once for both batch and streaming inputs.

    In streaming mode the watermark gives session state an expiry: a
    user's open session is emitted and dropped once the watermark passes
    its close (last event + gap), so state stays bounded by the active-
    session set instead of the full user history. This is Spark's managed
    twin of the applyInPandasWithState sessionizer in this module — same
    output shape, no custom state code; the custom operator remains for
    semantics session_window can't express (per-session value rollups
    emitted mid-session, cross-session features)."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_close_us"),
            "n_events",
        )
    )


def run_session_window_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_session_window"
) -> DataFrame:
    """Drive the native session-window job over the directory stream with
    availableNow into a memory sink; returns the closed sessions."""
    stream = session_window_counts(read_events_stream(spark, events_dir), with_watermark=True)
    return _run_to_memory(stream, query_name, "complete")


def upsert_batch_to_parquet(batch: DataFrame, batch_id: int, out_dir: str) -> None:
    """foreachBatch sink body: write one micro-batch to
    `{out_dir}/batch_id={batch_id}/` with dynamic partition OVERWRITE.

    This is the canonical idempotent-sink recipe for exactly-once file
    output: foreachBatch gives at-least-once delivery (a batch may be
    re-run after a failure between sink write and checkpoint commit), and
    keying the output directory by batch_id + overwriting makes the replay
    a no-op instead of a duplicate append. Executors write directly; the
    driver never sees rows."""
    (
        batch.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def run_events_to_parquet(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Stream the events source into an idempotent partitioned parquet sink
    via foreachBatch (availableNow, resumable from the checkpoint)."""
    q = (
        read_events_stream(spark, events_dir)
        .writeStream.foreachBatch(
            lambda batch, bid: upsert_batch_to_parquet(batch, bid, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


FUNNEL_OUT_SCHEMA = (
    "user_id long, view_us long, click_us long, purchase_us long"
)
# three stage micros (0 = unset) + the watermark buffer (r8 — see docstring)
_FUNNEL_STATE_SCHEMA = (
    "t1 long, t2 long, t3 long, "
    "pend_ts array<long>, pend_id array<long>, pend_type array<string>"
)


def funnel_detect_stream(events: DataFrame) -> DataFrame:
    """CEP-style stateful pattern detection: emit one row per user the
    moment their view -> later click -> later purchase funnel COMPLETES —
    the streaming twin of the batch events_funnel aggregate (identical
    first-view / first-click-after / first-purchase-after semantics;
    equivalence asserted in tests/test_streaming.py).

    WATERMARK-BUFFERED FOLD (r8, same contract as rate_alert_stream):
    the stage transitions are genuinely order-sensitive (an earlier view
    arriving late invalidates a provisional t2/t3), so arriving events
    buffer in state until the watermark passes them and fold in GLOBAL
    (ts, event_id) order — batch-twin equivalence holds for any
    within-watermark arrival order, with completions whose purchase is
    still inside the final watermark WITHHELD. The automaton state stays
    three longs; the pending buffer is bounded by the user's event rate
    over one watermark delay, and the event-time timeout exists only to
    flush it — completed or idle funnels otherwise keep state unbounded
    by design (a production deployment bounds lifetime with an
    event-time TTL, a documented trade because expiring state CHANGES
    the answer rather than just splitting a session)."""

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            t1, t2, t3, p_ts, p_id, p_ty = state.get
            p_ts, p_id, p_ty = list(p_ts), list(p_id), list(p_ty)
        else:
            t1, t2, t3, p_ts, p_id, p_ty = 0, 0, 0, [], [], []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]  # NaT would fold as garbage
            if len(rows):
                p_ts.extend(int(t) for t in (rows["ts"].astype("int64") // 1000))
                p_id.extend(int(i) for i in rows["event_id"].astype("int64"))
                p_ty.extend(str(x) for x in rows["event_type"])
        wm_us = state.getCurrentWatermarkMs() * 1000
        trips = sorted(zip(p_ts, p_id, p_ty))
        ready = [e for e in trips if e[0] < wm_us]
        pend = [e for e in trips if e[0] >= wm_us]
        had_t3 = t3 != 0
        for t, _eid, typ in ready:
            if typ == "view" and (t1 == 0 or t < t1):
                t1 = t
            elif typ == "click" and t1 != 0 and t > t1 and (t2 == 0 or t < t2):
                t2 = t
            elif typ == "purchase" and t2 != 0 and t > t2 and (t3 == 0 or t < t3):
                t3 = t
        state.update(
            (
                t1,
                t2,
                t3,
                [e[0] for e in pend],
                [e[1] for e in pend],
                [e[2] for e in pend],
            )
        )
        if pend:
            # wake as soon as the watermark passes the oldest pending event
            state.setTimeoutTimestamp(
                max(pend[0][0] // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if t3 != 0 and not had_t3:
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "view_us": [t1],
                    "click_us": [t2],
                    "purchase_us": [t3],
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_funnel_detect_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_funnels"
) -> DataFrame:
    """Drive the funnel detector over the directory stream with
    availableNow into a memory sink; returns completed funnels."""
    stream = funnel_detect_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


CEP_OUT_SCHEMA = "user_id long, view_us long, purchase_us long"
# started_us: the armed view's micros (0 = idle); pend_*: parallel arrays
# buffering (ts, event_id, event_type) until the watermark passes them
# (r8 watermark-buffered fold — see pattern_completions_stream docstring)
_CEP_STATE_SCHEMA = (
    "started_us long, pend_ts array<long>, pend_id array<long>, pend_type array<string>"
)


def pattern_completions_stream(events: DataFrame) -> DataFrame:
    """CEP regex automaton per user for the pattern view (click)* purchase
    — the FOURTH custom stateful operator, and the streaming twin of the
    declarative batch query events_cep_completions (equivalence asserted
    in tests/test_round6e.py).

    Automaton over the user's (ts, event_id)-ordered stream:
      view      -> (re)arm with this view's timestamp (a second view
                   restarts the attempt — 'view' is not 'click');
      click     -> keeps an armed attempt alive, ignored otherwise;
      purchase  -> if armed, EMIT (view_us, purchase_us) and disarm;
      anything else -> disarm.
    Automaton state is ONE long per user (the armed view's micros,
    0 = idle); emissions can happen repeatedly per user (each completion
    needs a fresh view). WATERMARK-BUFFERED FOLD (r8, same contract as
    rate_alert_stream): arriving events buffer in state until the
    watermark passes them, then run through the automaton in GLOBAL
    (ts, event_id) order — batch-twin equivalence holds for any
    within-watermark arrival order (shuffled-arrival test in
    tests/test_streaming.py), with completions whose purchase timestamp
    is still inside the final watermark WITHHELD. The pending buffer is
    bounded by the user's event rate over one watermark delay; the
    event-time timeout exists ONLY to flush it — the automaton long
    itself stays unbounded by design (same TTL note as the funnel;
    production adds an event-time TTL)."""

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            started, p_ts, p_id, p_ty = state.get
            p_ts, p_id, p_ty = list(p_ts), list(p_id), list(p_ty)
        else:
            started, p_ts, p_id, p_ty = 0, [], [], []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]  # NaT would fold as garbage
            if len(rows):
                p_ts.extend(int(t) for t in (rows["ts"].astype("int64") // 1000))
                p_id.extend(int(i) for i in rows["event_id"].astype("int64"))
                p_ty.extend(str(x) for x in rows["event_type"])
        wm_us = state.getCurrentWatermarkMs() * 1000
        trips = sorted(zip(p_ts, p_id, p_ty))
        ready = [e for e in trips if e[0] < wm_us]
        pend = [e for e in trips if e[0] >= wm_us]
        out_views: list[int] = []
        out_purch: list[int] = []
        for t, _eid, typ in ready:
            if typ == "view":
                started = t
            elif typ == "click":
                pass
            elif typ == "purchase":
                if started != 0:
                    out_views.append(started)
                    out_purch.append(t)
                started = 0
            else:
                started = 0
        state.update(
            (
                started,
                [e[0] for e in pend],
                [e[1] for e in pend],
                [e[2] for e in pend],
            )
        )
        if pend:
            # wake as soon as the watermark passes the oldest pending event
            state.setTimeoutTimestamp(
                max(pend[0][0] // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if out_views:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_views),
                    "view_us": out_views,
                    "purchase_us": out_purch,
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=CEP_OUT_SCHEMA,
            stateStructType=_CEP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_pattern_completions_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_cep"
) -> DataFrame:
    """Drive the CEP automaton over the directory stream with availableNow
    into a memory sink; returns the completion rows."""
    stream = pattern_completions_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


def daily_type_revenue(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Per-(day window, event_type) DECIMAL-exact revenue — the
    aggregation half of windowed top-k, built once for batch and
    streaming inputs (ranking is NOT streaming-legal in append/update
    modes, so it stays outside the stream — see run_daily_topk)."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("revenue")
        )
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "revenue")
    )


def rank_daily_topk(daily: DataFrame, k: int = 3) -> DataFrame:
    """Deterministic top-k per day (revenue desc, type asc) over the
    already-aggregated relation — |days x types| rows, so the rank
    window is cheap at any scale."""
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(F.col("revenue").desc(), "event_type")
    return (
        daily.select("day", "event_type", "revenue", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= k)
    )


def run_daily_topk_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "daily_topk"
) -> DataFrame:
    """Streaming windowed top-k, split at the streaming-legality line:
    the windowed DECIMAL aggregation runs INSIDE the stream, the rank
    runs as a batch query over the sink — the standard pattern for top-k
    dashboards fed by a stream, since ranking needs a total order no
    append-mode stream can provide.

    State note: complete output mode re-emits the FULL result each
    trigger and the watermark does NOT evict state in this mode — fine
    for this bounded availableNow replay, but a continuous deployment
    would grow state by one (day, type) group per day forever. The
    continuous-safe variant is append/update mode with a downstream
    merge into the serving table (run_tumbling_counts_available_now
    shows the append-mode shape); the watermark set upstream matters
    THERE."""
    stream = daily_type_revenue(read_events_stream(spark, events_dir), with_watermark=True)
    return rank_daily_topk(_run_to_memory(stream, query_name, "complete"))


RATE_ALERT_K = 3  # events within the trailing hour that trip the alert
_RATE_WINDOW_US = 3_600_000_000

RATE_ALERT_OUT_SCHEMA = "user_id long, alert_us long, n_in_hour long"
# recent: event micros inside the trailing window (already folded);
# pending: event micros buffered until the watermark passes them (r8
# watermark-buffered fold — see rate_alert_stream docstring)
_RATE_STATE_SCHEMA = "recent array<long>, pending array<long>"


def rate_alert_stream(events: DataFrame) -> DataFrame:
    """Sliding-window rate alerting — the third custom stateful operator
    (abuse/anomaly detection shape): emit (user, t, count) whenever a
    user's event count in the trailing hour (ts in (t-1h, t]) reaches
    EXACTLY RATE_ALERT_K — the upward threshold crossing, one row per
    distinct timestamp.

    Peer semantics match SQL's RANGE window: events sharing one
    timestamp enter the window TOGETHER, so a tie jumping the count from
    K-1 past K emits nothing — identical to the batch twin's
    count-over-RANGE == K predicate on both engines, which is what makes
    the contract deterministic under micro-batch ordering.

    WATERMARK-BUFFERED FOLD (r8, closing ADVICE r6 / VERDICT r7 item 5):
    arriving events are NOT folded immediately — they buffer in state
    (`pending`) until the watermark passes their timestamp, then fold in
    GLOBAL event-time order. Stream == batch-minus-withheld therefore
    holds for any arrival order the watermark admits (the shuffled-
    arrival test in tests/test_streaming.py), not just event-time-
    ordered feeds: a late-but-within-watermark event arriving a batch
    behind its peers still folds in its correct position, because
    nothing at or above the watermark has been folded yet. The trade is
    the aggregation-operator contract: emissions lag one watermark delay
    behind event time, and alerts whose trigger timestamp is still
    inside the final watermark are WITHHELD (exactly like append-mode
    window aggregates — see test_tumbling_dau_chain_matches_batch).

    State per user = the folded event timestamps inside the trailing
    hour (bounded by the user's max in-window rate, pruned every fold)
    plus the pending buffer (bounded by the user's event rate over ONE
    watermark delay — 10 min — the same bound every watermarked
    aggregation carries). Event-time timeouts both flush pending events
    once the watermark passes them and clear users idle past the window
    — state is a watermark-horizon working set, the property that lets
    this run forever. applyInPandasWithState because no built-in
    streaming operator gives per-event sliding counts: window() buckets
    are fixed grid, not trailing."""

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        out = []
        if state.exists:
            recent, pending = (list(v) for v in state.get)
        else:
            recent, pending = [], []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]  # NaT would fold as garbage
            if len(rows):
                # no sort needed here: arriving events only ever join the
                # pending buffer (they are >= the current watermark by the
                # late-row filter); ordering happens at fold time below
                pending.extend(int(t) for t in (rows["ts"].astype("int64") // 1000))
        wm_us = state.getCurrentWatermarkMs() * 1000
        ready = sorted(t for t in pending if t < wm_us)
        pending = [t for t in pending if t >= wm_us]
        # fold finalized events in event-time order; same-ts peers enter
        # the trailing window TOGETHER (RANGE-window semantics)
        i = 0
        while i < len(ready):
            t = ready[i]
            j = i
            while j < len(ready) and ready[j] == t:
                j += 1
            recent.extend([t] * (j - i))
            lo = t - _RATE_WINDOW_US  # (t-1h, t]
            recent = [x for x in recent if x > lo]
            if len(recent) == RATE_ALERT_K:
                out.append((user_id, t, len(recent)))
            i = j
        evict_ms = (max(recent) + _RATE_WINDOW_US) // 1000 if recent else 0
        if not pending and state.getCurrentWatermarkMs() >= evict_ms:
            # nothing buffered and every folded event is already outside
            # any future trailing window — drop the user entirely
            if state.exists:
                state.remove()
        else:
            state.update((recent, pending))
            if pending:
                # wake as soon as the watermark passes the oldest pending
                # event so it folds (and emits) promptly
                horizon_ms = min(pending) // 1000 + 1
            else:
                horizon_ms = evict_ms
            state.setTimeoutTimestamp(
                max(horizon_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "alert_us": [r[1] for r in out],
                    "n_in_hour": [r[2] for r in out],
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=RATE_ALERT_OUT_SCHEMA,
            stateStructType=_RATE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def batch_rate_alerts(events: DataFrame) -> DataFrame:
    """Batch twin of rate_alert_stream: RANGE-window trailing-hour counts,
    alert where the count equals RATE_ALERT_K exactly, one row per
    distinct (user, ts) — same peer semantics as the stream's
    group-by-timestamp fold."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-(_RATE_WINDOW_US - 1), 0)
    )
    return (
        events.select(
            "user_id",
            F.unix_micros("ts").alias("alert_us"),
            F.count(F.lit(1)).over(w).alias("n_in_hour"),
        )
        .where(F.col("n_in_hour") == RATE_ALERT_K)
        .groupBy("user_id", "alert_us")
        .agg(F.max("n_in_hour").cast("long").alias("n_in_hour"))
    )


def run_rate_alert_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_rate_alerts"
) -> DataFrame:
    """Drive the rate alerter over the directory stream with availableNow
    into a memory sink; returns emitted alerts."""
    stream = rate_alert_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


def tumbling_distinct_users(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Exact hourly DAU as a CHAINED stateful pipeline — streaming
    deduplication followed by a windowed aggregation in ONE query
    (multiple event-time stateful operators, supported since Spark 3.5):
    (window, user) pairs are deduplicated first (state = one row per
    distinct pair inside the watermark horizon), then counted per
    window. The two-operator chain is what makes DISTINCT counting
    possible in append-mode streaming at all — a single windowed
    count(DISTINCT) is not a supported streaming aggregate, and an
    approx sketch changes the answer. Batch runs of the SAME plan are
    the registered oracle query (stream_tumbling_dau).

    Append-mode emission contract: a window row is emitted once the
    watermark passes its END — windows still open when input is
    exhausted (end > max event time - WATERMARK) are WITHHELD, never
    emitted with a provisional count (pinned in tests/test_streaming.py:
    stream == batch minus exactly those trailing windows)."""
    e = events.withWatermark("ts", WATERMARK) if with_watermark else events
    bucketed = e.select(F.window("ts", "1 hour").alias("w"), "user_id")
    deduped = bucketed.dropDuplicates(["w", "user_id"])
    return deduped.groupBy("w").agg(F.count(F.lit(1)).alias("dau")).select(
        F.unix_seconds(F.col("w.start")).alias("bucket_start"), "dau"
    )


def run_tumbling_dau_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "tumbling_dau"
) -> DataFrame:
    """Drive the dedup->window-agg chain with the availableNow trigger in
    APPEND mode (windows emit once their watermark passes; availableNow's
    final batch flushes the remainder) and return the sink table."""
    stream = tumbling_distinct_users(
        read_events_stream(spark, events_dir), with_watermark=True
    )
    return _run_to_memory(stream, query_name, "append")


# --- windowed top-k trending (custom stateful operator #5) -------------------

TREND_WINDOW_US = 3_600_000_000  # 1-hour tumbling event-time windows
TREND_K = 3
TREND_OUT_SCHEMA = "window_us long, rank long, event_type string, n long"
# running per-type counts for one open window; counts are ORDER-FREE, so
# unlike the gap/automaton operators this one needs no watermark buffer —
# state is just the count table (bounded by |event types|, not volume)
_TREND_STATE_SCHEMA = "types array<string>, counts array<long>"


def topk_trending_stream(events: DataFrame, k: int = TREND_K) -> DataFrame:
    """Custom stateful streaming operator: per 1-hour tumbling event-time
    window, the top-k event types by count, emitted EXACTLY ONCE when the
    watermark finalizes the window (no retractions, no partial results —
    the contract a downstream trending feed needs).

    State per open window = the per-type count table. Counts commute, so
    arrival order never matters (no watermark buffer needed); the only
    event-time logic is finalization: the timeout fires once the
    watermark passes window end, the ranked top-k is emitted, and the
    window's state is dropped. A within-watermark event always arrives
    while wm < its window end (ts >= wm by the watermark contract), so
    every admissible event is counted before finalization — stream ==
    batch-minus-withheld (tests/test_streaming_shuffled.py).

    Scale note: keyed by window start, so one group per open window. At
    100 TB/hour the production layout salts the key to (window, shard)
    with a tiny downstream merge of shard-partial count tables (counts
    are mergeable); the fixture-scale operator keeps the single-level
    key so the oracle window formulation stays exactly equivalent."""

    def fold(key, pdfs, state: GroupState):
        (window_us,) = key
        if window_us is None or pd.isna(window_us):
            return  # NULL event time -> NULL window key: not countable
        window_us = int(window_us)  # numpy int64 breaks the JSON state codec
        end_ms = (window_us + TREND_WINDOW_US) // 1000
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            types, counts = state.get
            tally = dict(zip(types, (int(c) for c in counts)))
        else:
            tally = {}
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            if len(rows):
                if not state.exists and wm_ms >= end_ms:
                    # late-beyond-finalization arrivals for an already
                    # emitted window: never resurrect its state
                    return
                for typ, n in rows.groupby("event_type").size().items():
                    tally[str(typ)] = tally.get(str(typ), 0) + int(n)
        if wm_ms >= end_ms and tally:
            top = sorted(tally.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            if state.exists:
                state.remove()
            yield pd.DataFrame(
                {
                    "window_us": [window_us] * len(top),
                    "rank": list(range(1, len(top) + 1)),
                    "event_type": [t for t, _ in top],
                    "n": [n for _, n in top],
                }
            )
            return
        if tally:
            items = sorted(tally.items())
            state.update(([t for t, _ in items], [n for _, n in items]))
            state.setTimeoutTimestamp(max(end_ms + 1, wm_ms + 1))

    return (
        events.withWatermark("ts", WATERMARK)
        .withColumn(
            "window_us",
            (F.unix_micros("ts") - F.unix_micros("ts") % TREND_WINDOW_US).cast("long"),
        )
        .groupBy("window_us")
        .applyInPandasWithState(
            fold,
            outputStructType=TREND_OUT_SCHEMA,
            stateStructType=_TREND_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def batch_topk_trending(events: DataFrame, k: int = TREND_K) -> DataFrame:
    """Batch twin of topk_trending_stream: per 1-hour tumbling window,
    the top-k event types by (count desc, type asc)."""
    from pyspark.sql import Window as W

    g = (
        events.withColumn(
            "window_us",
            (F.unix_micros("ts") - F.unix_micros("ts") % TREND_WINDOW_US).cast("long"),
        )
        .groupBy("window_us", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("window_us").orderBy(F.col("n").desc(), "event_type")
    return (
        g.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("window_us", "rank", "event_type", "n")
    )


def run_topk_trending_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_topk_trending"
) -> DataFrame:
    """Drive the trending top-k over the directory stream with availableNow
    into a memory sink; returns the finalized-window emissions."""
    stream = topk_trending_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


# ===================== CUSUM control chart (streaming) ========================

CUSUM_OUT_SCHEMA = "event_type string, day date, day_count long, cusum long, alarm int"
# target/slack/cusum are -1/-1/0 until the baseline day finalizes; pending
# parallel arrays hold (epoch_day, count) for days the watermark hasn't
# passed yet — bounded by the per-key day fan-in over one watermark delay.
_CUSUM_STATE_SCHEMA = (
    "target long, slack long, cusum long, days array<long>, counts array<long>"
)

_DAY_MS = 86_400_000
_DAY_NS = 86_400_000_000_000


def cusum_control_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: one-sided upper CUSUM control
    chart over each event type's DAILY event counts — the classic SPC
    drift detector, run online. Per type, the first finalized day is the
    baseline: target = its count, slack = target div 10 (the standard
    k-allowance, integer). Every later finalized day folds
    cusum = max(0, cusum + x - target - slack) and emits
    (type, day, count, cusum, alarm = cusum > target) EXACTLY ONCE when
    the watermark passes the day boundary — append semantics, no
    retractions. All arithmetic is BIGINT; the fold order is day order,
    enforced by watermark finalization exactly like the sessionizer's
    pending buffer (same contract: a late-but-within-watermark event
    lands in its day before that day can finalize). State per key = 3
    longs + the pending (day, count) pairs inside one watermark horizon;
    keys are event types, so state is O(types) forever — the
    run-forever shape. Batch twin (oracle-checked, recursive-CTE SQL):
    queries/events.py:events_cusum_control."""

    def fold(key, pdfs, state: GroupState):
        (event_type,) = key
        if state.exists:
            target, slack, cusum, days, counts = state.get
            pending = dict(zip(days, counts))
        else:
            target, slack, cusum, pending = -1, -1, 0, {}
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]
            if len(rows):
                per_day = (
                    rows["ts"].astype("int64") // _DAY_NS
                ).value_counts()
                for day, n in per_day.items():
                    day = int(day)
                    pending[day] = pending.get(day, 0) + int(n)
        wm_ms = state.getCurrentWatermarkMs()
        ready = sorted(d for d in pending if (d + 1) * _DAY_MS <= wm_ms)
        out = []
        for d in ready:
            x = pending.pop(d)
            if target < 0:
                target = x  # baseline day: defines the chart, emits nothing
                slack = target // 10
                continue
            cusum = max(0, cusum + x - target - slack)
            out.append((d, x, cusum, 1 if cusum > target else 0))
        if pending or target >= 0:
            items = sorted(pending.items())
            state.update(
                (target, slack, cusum, [d for d, _ in items], [c for _, c in items])
            )
            if pending:
                # wake when the earliest pending day can finalize
                horizon = (min(pending) + 1) * _DAY_MS
                state.setTimeoutTimestamp(max(horizon, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out:
            epoch = datetime.date(1970, 1, 1)
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(out),
                    "day": [epoch + datetime.timedelta(days=d) for d, *_ in out],
                    "day_count": [x for _, x, *_ in out],
                    "cusum": [c for *_, c, _a in out],
                    "alarm": [a for *_, a in out],
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("event_type")
        .applyInPandasWithState(
            fold,
            outputStructType=CUSUM_OUT_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def batch_cusum_control(events: DataFrame) -> DataFrame:
    """Batch twin of cusum_control_stream: per event type, daily counts in
    day order, baseline = first present day, then the max(0, ...) CUSUM
    recursion. The recursion is inherently sequential per key, so it runs
    in ONE Arrow batch per event type over the DAY-GRAIN aggregate (types
    x days rows — constants; the corpus-sized work is the groupBy
    beneath), via applyInPandas."""
    daily = (
        events.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        target = int(pdf.loc[0, "x"])
        slack = target // 10
        cusum, rows = 0, []
        for i in range(1, len(pdf)):
            x = int(pdf.loc[i, "x"])
            cusum = max(0, cusum + x - target - slack)
            rows.append(
                (pdf.loc[i, "event_type"], pdf.loc[i, "day"], x, cusum,
                 1 if cusum > target else 0)
            )
        return pd.DataFrame(
            rows, columns=["event_type", "day", "day_count", "cusum", "alarm"]
        )

    return daily.groupBy("event_type").applyInPandas(fold, CUSUM_OUT_SCHEMA)


def run_cusum_control_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_cusum"
) -> DataFrame:
    """Drive the streaming CUSUM over the directory stream with
    availableNow into a memory sink; returns finalized-day emissions."""
    stream = cusum_control_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


# ================= Holt linear-trend forecaster (streaming) ====================

HOLT_OUT_SCHEMA = (
    "event_type string, day date, day_count long, forecast long, "
    "level long, trend long, alarm int"
)
# level/trend are the Holt smoothing state in 1/256 units (level < 0 is
# the "uninitialized" sentinel — counts are nonnegative so a real level
# never is); pending parallel arrays buffer (epoch_day, count) pairs the
# watermark hasn't finalized, the same horizon-bounded shape as CUSUM.
_HOLT_STATE_SCHEMA = "level long, trend long, days array<long>, counts array<long>"

#: fixed-point scale for the smoothing state — 8 fractional bits keep the
#: integer fold exact while divisions stay powers of two (floor(a/4),
#: floor(a/8)), which BOTH engines reproduce bit-for-bit: Python // is
#: floor, and the SQL twin uses floor(a / 4.0) (exact for any |a| < 2^53
#: because a power-of-two divide only shifts the exponent)
_HOLT_SCALE = 256


def _holt_step(level: int, trend: int, x: int) -> tuple[int, int, int, int]:
    """One Holt update on day count x: forecast-before-seeing, then
    level' = floor((s*x + 3*(level+trend)) / 4)        (alpha = 1/4)
    trend' = floor((level' - level + 7*trend) / 8)     (beta  = 1/8)
    alarm when the forecast missed by > 25% of the (floored-at-1) level:
    4*|s*x - forecast| > max(forecast, s). Returns
    (forecast, level', trend', alarm) — all Python ints, floor division,
    mirrored exactly by the recursive-CTE oracle."""
    forecast = level + trend
    new_level = (_HOLT_SCALE * x + 3 * forecast) // 4
    new_trend = (new_level - level + 7 * trend) // 8
    alarm = 1 if 4 * abs(_HOLT_SCALE * x - forecast) > max(forecast, _HOLT_SCALE) else 0
    return forecast, new_level, new_trend, alarm


def holt_forecast_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (the 7th): Holt DOUBLE
    exponential smoothing over each event type's daily counts — the
    trend-aware volume forecaster a pipeline pages on when today's
    ingest misses yesterday's trajectory (CUSUM catches level shifts;
    Holt catches a feed that keeps growing 10%/day suddenly going flat).
    Per type, the first finalized day initializes level = 256*x,
    trend = 0 and emits nothing; every later finalized day emits
    (type, day, count, forecast, level, trend, alarm) EXACTLY ONCE when
    the watermark passes the day boundary — append semantics, the same
    watermark-finalized-day contract as cusum_control_stream (a
    late-but-within-watermark event lands in its day before that day can
    finalize). The smoothing recursion is integer fixed-point (1/256
    units, power-of-two floor divisions) so the fold is bit-exact across
    the stream, the batch twin, and the recursive-CTE oracle
    (queries/events.py:events_holt_forecast). State per key = 2 longs
    + one watermark horizon of pending (day, count) pairs; keys are
    event types, so state is O(types) forever — the run-forever shape."""

    def fold(key, pdfs, state: GroupState):
        (event_type,) = key
        if state.exists:
            level, trend, days, counts = state.get
            pending = dict(zip(days, counts))
        else:
            level, trend, pending = -1, 0, {}
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]
            if len(rows):
                per_day = (rows["ts"].astype("int64") // _DAY_NS).value_counts()
                for day, n in per_day.items():
                    day = int(day)
                    pending[day] = pending.get(day, 0) + int(n)
        wm_ms = state.getCurrentWatermarkMs()
        ready = sorted(d for d in pending if (d + 1) * _DAY_MS <= wm_ms)
        out = []
        for d in ready:
            x = pending.pop(d)
            if level < 0:
                level = _HOLT_SCALE * x  # baseline day: seeds the state
                trend = 0
                continue
            forecast, level, trend, alarm = _holt_step(level, trend, x)
            out.append((d, x, forecast, level, trend, alarm))
        if pending or level >= 0:
            items = sorted(pending.items())
            state.update(
                (level, trend, [d for d, _ in items], [c for _, c in items])
            )
            if pending:
                horizon = (min(pending) + 1) * _DAY_MS
                state.setTimeoutTimestamp(max(horizon, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out:
            epoch = datetime.date(1970, 1, 1)
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(out),
                    "day": [epoch + datetime.timedelta(days=d) for d, *_ in out],
                    "day_count": [x for _, x, *_ in out],
                    "forecast": [f for _, _, f, *_ in out],
                    "level": [lv for _, _, _, lv, *_ in out],
                    "trend": [t for *_, t, _a in out],
                    "alarm": [a for *_, a in out],
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("event_type")
        .applyInPandasWithState(
            fold,
            outputStructType=HOLT_OUT_SCHEMA,
            stateStructType=_HOLT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def batch_holt_forecast(events: DataFrame) -> DataFrame:
    """Batch twin of holt_forecast_stream: day-grain aggregate (the only
    corpus-sized work), then the sequential Holt fold in ONE Arrow batch
    per event type via applyInPandas — same plan shape as
    batch_cusum_control."""
    daily = (
        events.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        level, trend = _HOLT_SCALE * int(pdf.loc[0, "x"]), 0
        rows = []
        for i in range(1, len(pdf)):
            x = int(pdf.loc[i, "x"])
            forecast, level, trend, alarm = _holt_step(level, trend, x)
            rows.append(
                (pdf.loc[i, "event_type"], pdf.loc[i, "day"], x,
                 forecast, level, trend, alarm)
            )
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "day", "day_count", "forecast",
                "level", "trend", "alarm",
            ],
        )

    return daily.groupBy("event_type").applyInPandas(fold, HOLT_OUT_SCHEMA)


def run_holt_forecast_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_holt"
) -> DataFrame:
    """Drive the streaming Holt forecaster over the directory stream with
    availableNow into a memory sink; returns finalized-day emissions."""
    stream = holt_forecast_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")


# ===================== Holt-Winters (additive, period 7) =====================

_HW_PERIOD = 7

HW_OUT_SCHEMA = (
    "event_type string, day date, day_count long, forecast long, "
    "level long, trend long, seasonal long, alarm int"
)


def _hw_step(
    level: int, trend: int, seas: list[int], i: int, x: int
) -> tuple[int, int, int, int, int]:
    """One additive Holt-Winters update on day count x at weekday slot i
    (0 = Monday), all integer fixed-point in 1/256 units with
    power-of-two FLOOR divisions (bit-exact vs floor(a/2^k.0) in SQL):
      forecast = level + trend + seas[i]              (before seeing x)
      level'   = floor((256*x - seas[i] + 3*(level + trend)) / 4)
      trend'   = floor((level' - level + 7*trend) / 8)
      seas[i]' = floor((256*x - level' + 15*seas[i]) / 16)
    (alpha = 1/4 on the deseasonalized observation, beta = 1/8,
    gamma = 1/16.) Alarm mirrors the Holt chart: the forecast missed by
    more than 25% of its own floored-at-one magnitude. Returns
    (forecast, level', trend', seas_i', alarm); the caller mutates the
    seasonal slot. Seasonals seed at 0, so early cycles behave like
    Holt and the weekday profile is learned online — the deterministic
    seeding both engines can replay without a seasonal-init pass."""
    s_i = seas[i]
    forecast = level + trend + s_i
    new_level = (_HOLT_SCALE * x - s_i + 3 * (level + trend)) // 4
    new_trend = (new_level - level + 7 * trend) // 8
    new_seas = (_HOLT_SCALE * x - new_level + 15 * s_i) // 16
    alarm = (
        1 if 4 * abs(_HOLT_SCALE * x - forecast) > max(forecast, _HOLT_SCALE) else 0
    )
    return forecast, new_level, new_trend, new_seas, alarm


def batch_holt_winters(events: DataFrame) -> DataFrame:
    """Additive Holt-Winters (period-7 weekday seasonality) over each
    event type's daily counts — the seasonality-aware upgrade of
    batch_holt_forecast for feeds with weekly shape (every real ingest
    pipeline): Holt pages every Monday when weekends dip; this chart
    learns the dip. Same plan as the Holt/CUSUM folds: ONE day-grain
    aggregate over the corpus, then the genuinely-sequential recursion
    in a single Arrow batch per event type (types x days rows — fold
    input is constants-sized, never the event stream). State per type =
    2 + 7 longs. Seeds on the first present day (level = 256*x, trend
    and all seasonals 0, nothing emitted); weekday slots come from the
    CALENDAR (Monday = 0), so day gaps skip slots instead of shifting
    the season — the property that keeps the fold mergeable across
    ingest backfills. Oracle: recursive CTE carrying the seasonal
    7-list (queries/events.py:events_holt_winters_daily)."""
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        level, trend = _HOLT_SCALE * int(pdf.loc[0, "x"]), 0
        seas = [0] * _HW_PERIOD
        rows = []
        for i in range(1, len(pdf)):
            x = int(pdf.loc[i, "x"])
            slot = pdf.loc[i, "day"].weekday()
            forecast, level, trend, s_new, alarm = _hw_step(
                level, trend, seas, slot, x
            )
            seas[slot] = s_new
            rows.append(
                (pdf.loc[i, "event_type"], pdf.loc[i, "day"], x,
                 forecast, level, trend, s_new, alarm)
            )
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "day", "day_count", "forecast",
                "level", "trend", "seasonal", "alarm",
            ],
        )

    return daily.groupBy("event_type").applyInPandas(fold, HW_OUT_SCHEMA)


_HW_STATE_SCHEMA = (
    "level long, trend long, seas array<long>, "
    "days array<long>, counts array<long>"
)


def holt_winters_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (the 9th): additive
    HOLT-WINTERS (period-7 weekday seasonality) over each event type's
    daily counts — holt_forecast_stream that has learned the weekly
    shape instead of paging on it. Same watermark-finalized-day append
    contract as the CUSUM/Holt charts: the first finalized day seeds
    level = 256*x (trend and all 7 seasonal slots 0) and emits nothing;
    every later finalized day emits EXACTLY ONCE. Weekday slots come
    from the CALENDAR (epoch day 0 = Thursday, slot = (d + 3) % 7 with
    Monday = 0 — matching date.weekday() in the batch twin), so day
    gaps skip slots rather than shift the season. Integer fixed-point
    fold (_hw_step) bit-exact across the stream, the batch twin
    (batch_holt_winters), and the list-state recursive-CTE oracle
    (queries/events.py:events_holt_winters_daily). State per key =
    9 longs + one watermark horizon of pending (day, count) pairs;
    keys are event types — O(types) forever, the run-forever shape."""

    def fold(key, pdfs, state: GroupState):
        (event_type,) = key
        if state.exists:
            level, trend, seas, days, counts = state.get
            seas = list(seas)
            pending = dict(zip(days, counts))
        else:
            level, trend, seas, pending = -1, 0, [0] * _HW_PERIOD, {}
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows["ts"].notna()]
            if len(rows):
                per_day = (rows["ts"].astype("int64") // _DAY_NS).value_counts()
                for day, n in per_day.items():
                    day = int(day)
                    pending[day] = pending.get(day, 0) + int(n)
        wm_ms = state.getCurrentWatermarkMs()
        ready = sorted(d for d in pending if (d + 1) * _DAY_MS <= wm_ms)
        out = []
        for d in ready:
            x = pending.pop(d)
            slot = (d + 3) % _HW_PERIOD  # 1970-01-01 was a Thursday
            if level < 0:
                level = _HOLT_SCALE * x  # baseline day: seeds the state
                trend = 0
                continue
            forecast, level, trend, s_new, alarm = _hw_step(
                level, trend, seas, slot, x
            )
            seas[slot] = s_new
            out.append((d, x, forecast, level, trend, s_new, alarm))
        if pending or level >= 0:
            items = sorted(pending.items())
            state.update(
                (level, trend, seas,
                 [d for d, _ in items], [c for _, c in items])
            )
            if pending:
                horizon = (min(pending) + 1) * _DAY_MS
                state.setTimeoutTimestamp(max(horizon, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out:
            epoch = datetime.date(1970, 1, 1)
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(out),
                    "day": [epoch + datetime.timedelta(days=d) for d, *_ in out],
                    "day_count": [x for _, x, *_ in out],
                    "forecast": [f for _, _, f, *_ in out],
                    "level": [lv for _, _, _, lv, *_ in out],
                    "trend": [t for _, _, _, _, t, _s, _a in out],
                    "seasonal": [s for *_, s, _a in out],
                    "alarm": [a for *_, a in out],
                }
            )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("event_type")
        .applyInPandasWithState(
            fold,
            outputStructType=HW_OUT_SCHEMA,
            stateStructType=_HW_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_holt_winters_available_now(
    spark: SparkSession, events_dir: str, query_name: str = "stream_hw"
) -> DataFrame:
    """Drive the streaming Holt-Winters chart over the directory stream
    with availableNow into a memory sink; returns finalized-day rows."""
    stream = holt_winters_stream(read_events_stream(spark, events_dir))
    return _run_to_memory(stream, query_name, "append")
