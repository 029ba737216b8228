"""Shuffled-arrival stream == batch equivalence (VERDICT r7 item 5).

The r8 watermark-buffered folds (rate_alert_stream,
pattern_completions_stream, funnel_detect_stream, sessionize_stream)
must produce EXACTLY the batch twin's output when events arrive out of
event-time order across micro-batches, as long as every arrival stays
inside the watermark — the contract the old per-batch-sort folds could
not honor (ADVICE r6).

Fixture: a planted dense-burst timeline sliced into 5-minute files where
every third event is DEFERRED one file (arriving up to 5 minutes late —
half the 10-minute watermark) and rows inside each file are written in
REVERSE timestamp order. A lone sentinel event 40 minutes past the
timeline pushes the final watermark past every planted event PLUS the
30-minute session gap, so nothing is withheld (sessions included) and
every assertion is plain multiset equality.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F  # noqa: F401  (plan debugging aid)

from laposte_data_engineering_jedha_spark.streaming import jobs

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)
SLICE_S = 300  # 5-minute arrival slices, deferral lag < the 10-min watermark


def _plant_rows():
    """Deterministic multi-user timeline over [T0, T0+50min): per user, a
    view -> click -> click -> purchase burst every ~9 min with second-level
    spacing — dense enough that trailing-hour counts and the CEP automaton
    both produce output, with every timestamp a whole second (no
    millisecond-truncation boundary cases against the watermark)."""
    rows = []
    eid = 0
    for u in range(1, 6):
        t = u * 37  # stagger users
        # keep every event strictly below T0+48min: the final watermark is
        # T0+80min (sentinel minus the 10-min delay), so nothing planted is
        # ever withheld — and every session's end + 30-min gap also sits
        # below the final watermark, so sessions all close
        while t + 40 < 48 * 60:
            for off, typ in ((0, "view"), (11, "click"), (23, "click"), (40, "purchase")):
                eid += 1
                rows.append(
                    (eid, T0 + dt.timedelta(seconds=t + off), u, typ, float(u), "{}")
                )
            t += 9 * 60 + u * 13
    # user 7: two bursts 40 min apart — a mid-stream session split (the
    # 30-min gap rule) that the shuffled arrival must not move
    for base in (120, 120 + 40 * 60):
        for off, typ in ((0, "view"), (9, "click"), (21, "purchase")):
            eid += 1
            rows.append((eid, T0 + dt.timedelta(seconds=base + off), 7, typ, 7.0, "{}"))
    # sentinel: advances the final watermark past every planted event + the
    # session gap, so even open sessions close before the stream ends
    rows.append((9999, T0 + dt.timedelta(seconds=90 * 60), 99, "noise", 0.0, "{}"))
    return rows


@pytest.fixture(scope="module")
def shuffled_dirs(spark, tmp_path_factory):
    """(stream_dir, batch_dir): batch_dir holds the full plant as one
    events.parquet; stream_dir holds the arrival slices with every third
    event deferred one slice and reverse-ordered rows inside each file."""
    import time

    root = tmp_path_factory.mktemp("shuffled_stream")
    batch_dir = str(root / "batch")
    stream_dir = str(root / "stream")
    rows = _plant_rows()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        f"{batch_dir}/events.parquet"
    )

    n_slices = (90 * 60) // SLICE_S + 1
    files: list[list] = [[] for _ in range(n_slices + 1)]
    for r in rows:
        k = int((r[1] - T0).total_seconds()) // SLICE_S
        if r[0] % 3 == 0:
            k += 1  # deferred: arrives one slice (<= 5 min) late
        files[min(k, n_slices)].append(r)
    for batch in files:
        if not batch:
            continue
        batch.sort(key=lambda r: r[1], reverse=True)  # shuffle inside the file
        spark.createDataFrame(batch, schema).coalesce(1).write.mode("append").parquet(
            stream_dir
        )
        time.sleep(0.05)  # distinct mod times -> deterministic file order
    return stream_dir, batch_dir


def test_rate_alert_stream_matches_batch_under_shuffled_arrival(spark, shuffled_dirs):
    stream_dir, batch_dir = shuffled_dirs
    batch = sorted(
        (r["user_id"], r["alert_us"], r["n_in_hour"])
        for r in jobs.batch_rate_alerts(
            spark.read.parquet(f"{batch_dir}/events.parquet")
        ).collect()
    )
    streamed = sorted(
        (r["user_id"], r["alert_us"], r["n_in_hour"])
        for r in jobs.run_rate_alert_available_now(
            spark, stream_dir, query_name="rate_alerts_shuffled"
        ).collect()
    )
    assert len(batch) > 0
    assert streamed == batch


def test_funnel_stream_matches_batch_under_shuffled_arrival(spark, shuffled_dirs):
    """The funnel automaton's transitions are order-sensitive (a late
    earlier view invalidates a provisional t2/t3) — the buffered fold
    must reproduce the batch first-view/first-click-after/first-purchase-
    after result under shuffled arrival, computed here independently in
    Python from the plant."""
    stream_dir, _ = shuffled_dirs
    want: dict[int, tuple[int, int, int]] = {}
    per_user: dict[int, list] = {}
    for eid, ts, u, typ, _v, _p in sorted(_plant_rows(), key=lambda r: (r[1], r[0])):
        per_user.setdefault(u, []).append((ts, typ))
    for u, evs in per_user.items():
        t1 = t2 = t3 = None
        for ts, typ in evs:
            if typ == "view" and t1 is None:
                t1 = ts
            elif typ == "click" and t1 is not None and ts > t1 and t2 is None:
                t2 = ts
            elif typ == "purchase" and t2 is not None and ts > t2 and t3 is None:
                t3 = ts
        if t3 is not None:
            us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
            want[u] = (us(t1), us(t2), us(t3))
    got = {
        r["user_id"]: (r["view_us"], r["click_us"], r["purchase_us"])
        for r in jobs.run_funnel_detect_available_now(
            spark, stream_dir, query_name="funnels_shuffled"
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_sessionize_stream_matches_batch_under_shuffled_arrival(spark, shuffled_dirs):
    """30-min-gap sessions computed independently from the plant (the
    user-7 40-min gap splits; everything closes under the final
    watermark) must equal the buffered stream's emissions exactly —
    a deferred event may no longer split the session it belongs to."""
    import datetime as _dt

    stream_dir, _ = shuffled_dirs
    per_user: dict[int, list] = {}
    for _eid, ts, u, _typ, _v, _p in sorted(_plant_rows(), key=lambda r: (r[1], r[0])):
        per_user.setdefault(u, []).append(ts)
    want = set()
    for u, tss in per_user.items():
        start = end = tss[0]
        n = 0
        for ts in tss:
            if n > 0 and (ts - end) > _dt.timedelta(seconds=jobs.SESSION_GAP_S):
                want.add((u, start, end, n))
                n = 0
            if n == 0:
                start = ts
            end = ts
            n += 1
        want.add((u, start, end, n))
    # the sentinel user's 1-event session ends AT the final watermark
    # horizon (wm = sentinel - 10 min < end + 30 min) -> stays open
    want = {s for s in want if s[0] != 99}
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in jobs.run_sessionize_available_now(
            spark, stream_dir, query_name="sessions_shuffled"
        ).collect()
    }
    assert len(want) > 2
    assert got == want


def test_topk_trending_stream_matches_batch_under_shuffled_arrival(spark, shuffled_dirs):
    """The windowed top-k trending operator (stateful #5): emissions for
    every window the final watermark FINALIZES must equal the batch
    twin's rows for those windows exactly; unfinalized windows (the
    sentinel's) are withheld — batch-minus-withheld. Counts commute, so
    shuffled arrival must be a non-event for this operator."""
    stream_dir, batch_dir = shuffled_dirs
    final_wm_us = (90 - 10) * 60 * 1_000_000  # sentinel - delay, past T0
    t0_us = int(T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    batch = sorted(
        (r["window_us"], r["rank"], r["event_type"], r["n"])
        for r in jobs.batch_topk_trending(
            spark.read.parquet(f"{batch_dir}/events.parquet")
        ).collect()
        if r["window_us"] + jobs.TREND_WINDOW_US <= t0_us + final_wm_us
    )
    streamed = sorted(
        (r["window_us"], r["rank"], r["event_type"], r["n"])
        for r in jobs.run_topk_trending_available_now(
            spark, stream_dir, query_name="trending_shuffled"
        ).collect()
    )
    assert len(batch) > 0
    assert streamed == batch


def test_sessionize_idle_close_not_deferred_past_pending_event(spark, tmp_path):
    """ADVICE r8: with a session closable at watermark end+gap but a
    buffered pending event FURTHER out (min(pending) > end+gap), the
    wake-up must fire at end+gap, not at the pending event — otherwise a
    final watermark landing between the two withholds a session the
    batch-minus-withheld twin emits.

    Plant: user 1 has one event at T0 and one at T0+100min; sentinels
    advance the watermark only to T0+5min while the T0 event folds, so
    the open session's idle close (T0+30min) is NOT yet admissible at the
    last data batch and must come from the timeout. Final watermark =
    T0+90min sits between end+gap (T0+30min) and the pending event
    (T0+100min): the session must be emitted, the future event withheld."""
    import time

    stream_dir = str(tmp_path / "stream")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    files = [
        # batch 1: the session event + a sentinel (wm after: T0+5min)
        [
            (1, T0, 1, "view", 1.0, "{}"),
            (2, T0 + dt.timedelta(minutes=15), 99, "noise", 0.0, "{}"),
        ],
        # batch 2 (wm during: T0+5min -> the T0 event folds, session opens,
        # idle close NOT yet admissible): the far-future pending event.
        # wm after: T0+90min — between end+gap (T0+30) and pending (T0+100).
        [
            (3, T0 + dt.timedelta(minutes=25), 99, "noise", 0.0, "{}"),
            (4, T0 + dt.timedelta(minutes=100), 1, "view", 1.0, "{}"),
        ],
    ]
    for batch in files:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode("append").parquet(
            stream_dir
        )
        time.sleep(0.05)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in jobs.run_sessionize_available_now(
            spark, stream_dir, query_name="sessions_idle_close"
        ).collect()
    }
    want = {
        (1, T0, T0, 1),  # the previously-withheld idle close
        # sentinel user's own pair folds + closes under the final watermark
        (99, T0 + dt.timedelta(minutes=15), T0 + dt.timedelta(minutes=25), 2),
    }
    assert got == want


def test_cep_stream_matches_batch_under_shuffled_arrival(spark, shuffled_dirs):
    from laposte_data_engineering_jedha_spark.queries import events

    stream_dir, batch_dir = shuffled_dirs
    batch = sorted(
        (r["user_id"], r["view_us"], r["purchase_us"])
        for r in events.events_cep_completions(spark, batch_dir).collect()
    )
    streamed = sorted(
        (r["user_id"], r["view_us"], r["purchase_us"])
        for r in jobs.run_pattern_completions_available_now(
            spark, stream_dir, query_name="cep_shuffled"
        ).collect()
    )
    assert len(batch) > 0
    assert streamed == batch
