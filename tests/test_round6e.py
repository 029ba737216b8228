"""Round-6 batch-5 tests: forward as-of semantics (planted) and the CEP
automaton's stream == batch equivalence."""

from __future__ import annotations

import datetime as dt

import pytest

import conftest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import joins
from laposte_data_engineering_jedha_spark.queries import events, events_table
from laposte_data_engineering_jedha_spark.streaming import jobs


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Same in-order sliced stream layout as tests/test_streaming.py."""
    import time

    out = str(tmp_path_factory.mktemp("events_stream6e") / "events")
    ev = events_table(spark, sf_dir)
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    total = (hi - lo).total_seconds()
    for i in range(4):
        a = lo + dt.timedelta(seconds=total * i / 4)
        b = (
            hi + dt.timedelta(seconds=1)
            if i == 3
            else lo + dt.timedelta(seconds=total * (i + 1) / 4)
        )
        sl = ev.where((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b)))
        sl.coalesce(1).write.mode("append").parquet(out)
        time.sleep(0.1)
    return out


def _ts(s: float):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_asof_forward_planted(spark):
    """Purchases at t=0 and t=100; errors at t=10, t=50 and one at t=0
    (equal timestamps must match forward). Purchase@0 -> error@0;
    purchase@100 -> none within tolerance 30 s."""
    left = spark.createDataFrame(
        [(1, 7, _ts(0)), (2, 7, _ts(100))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, _ts(0), 0), (7, _ts(10), 10), (7, _ts(50), 50)],
        "user_id long, ts timestamp, err_s long",
    )
    out = {
        r["event_id"]: r["asof_err_s"]
        for r in joins.asof_join(
            left, right, on="ts", by="user_id", value_cols=["err_s"],
            tolerance_s=30, direction="forward",
        ).collect()
    }
    assert out == {1: 0, 2: None}


def test_asof_forward_vs_backward_direction(spark):
    """One right row between two left rows: backward attaches it to the
    LATER left row, forward to the EARLIER one."""
    left = spark.createDataFrame(
        [(1, 5, _ts(0)), (2, 5, _ts(20))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(5, _ts(10), 99)], "user_id long, ts timestamp, v long"
    )
    fwd = {
        r["event_id"]: r["asof_v"]
        for r in joins.asof_join(
            left, right, on="ts", by="user_id", value_cols=["v"], direction="forward"
        ).collect()
    }
    bwd = {
        r["event_id"]: r["asof_v"]
        for r in joins.asof_join(
            left, right, on="ts", by="user_id", value_cols=["v"], direction="backward"
        ).collect()
    }
    assert fwd == {1: 99, 2: None}
    assert bwd == {1: None, 2: 99}


def test_asof_bad_direction_raises(spark):
    df = spark.range(1).select(F.col("id").alias("user_id"))
    with pytest.raises(ValueError):
        joins.asof_join(df, df, on="id", by="user_id", direction="nearest")


def test_cep_stream_matches_batch(spark, sf_dir, events_dir):
    """The stateful CEP automaton must emit EXACTLY the declarative batch
    query's completion rows — multiset equality on (user, view_us,
    purchase_us), repeats per user included — minus completions whose
    purchase timestamp is still inside the FINAL watermark, which the r8
    watermark-buffered fold correctly WITHHOLDS (an earlier view could
    still arrive and re-arm differently)."""
    streamed = sorted(
        (r["user_id"], r["view_us"], r["purchase_us"])
        for r in jobs.run_pattern_completions_available_now(spark, events_dir).collect()
    )
    batch = sorted(
        (r["user_id"], r["view_us"], r["purchase_us"])
        for r in events.events_cep_completions(spark, conftest.SF_SMOKE).collect()
    )
    max_us = spark.read.parquet(events_dir).agg(F.max(F.unix_micros("ts"))).first()[0]
    wm_us = (max_us // 1000 - 600_000) * 1000  # Spark tracks event time in ms
    closed = [c for c in batch if c[2] < wm_us]
    assert len(batch) > 0
    assert streamed == closed
    assert all(c[2] >= wm_us for c in set(batch) - set(streamed))


def test_cep_rearm_and_disarm_semantics(spark, tmp_path):
    """view > click > ERROR > purchase must NOT complete (error disarms);
    view > view > purchase completes with the SECOND view's timestamp
    (re-arm); purchase > purchase never double-emits."""
    rows = [
        # user 1: disarmed by error
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(1), 1, "click", 0.0, "{}"),
        (3, _ts(2), 1, "error", 0.0, "{}"),
        (4, _ts(3), 1, "purchase", 1.0, "{}"),
        # user 2: re-armed by second view, then two purchases
        (5, _ts(0), 2, "view", 0.0, "{}"),
        (6, _ts(5), 2, "view", 0.0, "{}"),
        (7, _ts(9), 2, "purchase", 1.0, "{}"),
        (8, _ts(10), 2, "purchase", 1.0, "{}"),
    ]
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = sorted(
        (r["user_id"], r["view_us"], r["purchase_us"])
        for r in events.events_cep_completions(spark, d).collect()
    )
    base = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    assert got == [(2, base + 5_000_000, base + 9_000_000)]
