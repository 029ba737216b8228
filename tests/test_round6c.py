"""Round-6 batch-3 semantics tests — planted-scenario invariants beyond
the oracle hash gate (debounce gaps, sequence-pattern truth table,
journey-credit conservation, MAD outlier detection)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.queries import dq, events

_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _write_events(spark, tmp_path, rows):
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    return d


def _ts(s: float):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_debounce_planted_gaps(spark, tmp_path):
    """4 clicks at t=0,2,6,30 for one user under the LAG formulation: the
    t=2 repeat (gap 2 s) and the t=6 one (gap 4 s from the previous RAW
    event — chain-debounce against last-KEPT would keep it) are dropped;
    t=30 is kept; another type is untouched."""
    rows = [
        (1, _ts(0), 7, "click", 0.0, "{}"),
        (2, _ts(2), 7, "click", 0.0, "{}"),
        (3, _ts(6), 7, "click", 0.0, "{}"),
        (4, _ts(30), 7, "click", 0.0, "{}"),
        (5, _ts(1), 7, "view", 0.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in events.events_debounce(spark, d).collect()}
    assert out["click"]["n_raw"] == 4 and out["click"]["n_kept"] == 2
    assert out["view"]["n_raw"] == 1 and out["view"]["n_kept"] == 1


def test_pattern_match_truth_table(spark, tmp_path):
    """Sessions: view>click>purchase matches; view>error>purchase does not
    (only clicks may intervene); purchase alone does not; a second
    session of the same user is split by the 30-min gap and judged
    independently."""
    rows = [
        # user 1, session 0: view > click > purchase  -> matched
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(10), 1, "click", 0.0, "{}"),
        (3, _ts(20), 1, "purchase", 5.0, "{}"),
        # user 1, session 1 (gap > 30 min): purchase alone -> not matched
        (4, _ts(20 + 3600), 1, "purchase", 5.0, "{}"),
        # user 2: view > error > purchase -> not matched
        (5, _ts(0), 2, "view", 0.0, "{}"),
        (6, _ts(5), 2, "error", 0.0, "{}"),
        (7, _ts(9), 2, "purchase", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {
        (r["user_id"], r["session_id"]): r["matched"]
        for r in events.events_pattern_match(spark, d).collect()
    }
    assert out == {(1, 1): True, (1, 2): False, (2, 1): False}


def test_attribution_journeys_conserve_credit(spark, sf_dir):
    """Every user's journey must sum to EXACTLY 1,000,000 millionths —
    recomputed per user (the registered query only exposes the per-channel
    rollup, which would hide compensating errors)."""
    from laposte_data_engineering_jedha_spark.queries import events_table
    from pyspark.sql import Window

    ev = events_table(spark, sf_dir)
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    touches = ev.join(fp, "user_id").where(
        F.col("event_type").isin("view", "click")
        & (F.col("ts") < F.col("first_purchase"))
        & (F.col("ts") >= F.col("first_purchase") - F.expr("INTERVAL 7 DAYS"))
    )
    n_users = touches.select("user_id").distinct().count()
    assert n_users > 0
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    r = touches.select(
        "user_id",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wall).alias("tt"),
    )
    credit = (
        F.when(F.col("tt") == 1, F.lit(1_000_000))
        .when(F.col("tt") == 2, F.lit(500_000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("tt")), F.lit(400_000))
        .otherwise(
            F.expr("200000 div (tt - 2)")
            + F.when(F.col("pos") - 1 <= F.lit(200_000) % (F.col("tt") - 2), 1).otherwise(0)
        )
    )
    per_user = r.select("user_id", credit.alias("c")).groupBy("user_id").agg(
        F.sum("c").alias("total")
    )
    assert per_user.where(F.col("total") != 1_000_000).count() == 0
    # and the registered rollup equals the sum over journeys
    total = events.events_attribution_position(spark, sf_dir).agg(
        F.sum("credit_millionths")
    ).first()[0]
    assert total == n_users * 1_000_000


def test_attribution_planted_five_touches(spark, tmp_path):
    """5 touches: 400k + 66667 + 66667 + 66666 + 400k (remainder 2 of
    200000//3 goes to the two EARLIEST middles)."""
    rows = [
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(10), 1, "click", 0.0, "{}"),
        (3, _ts(20), 1, "view", 0.0, "{}"),
        (4, _ts(30), 1, "click", 0.0, "{}"),
        (5, _ts(40), 1, "view", 0.0, "{}"),
        (6, _ts(50), 1, "purchase", 9.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r["credit_millionths"]
        for r in events.events_attribution_position(spark, d).collect()
    }
    # views: pos1 (400000) + pos3 mid-rank2 (66667) + pos5 last... pos5 is
    # a middle? tt=5: pos1 first, pos5 last -> view pos5 = 400000.
    # middles pos2,3,4 -> ranks 1,2,3 -> 66667, 66667, 66666
    assert out["view"] == 400_000 + 66_667 + 400_000
    assert out["click"] == 66_667 + 66_666
    assert out["view"] + out["click"] == 1_000_000


def test_anomaly_mad_flags_planted_spike(spark, tmp_path):
    """21 quiet days of 10 +/- 1 events and one 50-event spike day: the
    spike (and only the spike) is flagged."""
    rows = []
    eid = 0
    for day in range(21):
        n = 10 + (day % 3) - 1  # 9, 10, or 11
        for i in range(n):
            eid += 1
            rows.append((eid, _ts(day * 86400 + i * 60), 1, "click", 0.0, "{}"))
    for i in range(50):  # spike day 21
        eid += 1
        rows.append((eid, _ts(21 * 86400 + i * 60), 1, "click", 0.0, "{}"))
    d = _write_events(spark, tmp_path, rows)
    out = events.events_anomaly_mad(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 50 and out[0]["day"] == dt.date(2024, 1, 22)


def test_k_anonymity_reports_only_small_cells(spark, sf_dir):
    out = dq.dq_k_anonymity(spark, sf_dir).collect()
    assert all(r["n"] < 5 for r in out)
