"""Round-6 batch-17 semantics: planted bounce sessions and a planted
separable embedding space scoring perfect 1-NN accuracy."""

from __future__ import annotations

import datetime as dt

from laposte_data_engineering_jedha_spark.queries import events, similarity

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _ts(s: float):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_bounce_rate_planted(spark, tmp_path):
    """User 1: one lone event (bounce) then, 2 h later, a 2-event session
    (not a bounce). User 2: a single event next day (bounce). Day 1:
    2 sessions, 1 bounce; day 2: 1 session, 1 bounce."""
    rows = [
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(7200), 1, "view", 0.0, "{}"),
        (3, _ts(7210), 1, "click", 0.0, "{}"),
        (4, _ts(86400 + 10), 2, "view", 0.0, "{}"),
    ]
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _EV_SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    out = {r["day"]: r for r in events.events_session_bounce_rate(spark, d).collect()}
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    assert out[d1]["n_sessions"] == 2 and out[d1]["n_bounces"] == 1
    assert out[d1]["bounce_rate"] == 0.5
    assert out[d2]["n_sessions"] == 1 and out[d2]["bounce_rate"] == 1.0


def test_knn_accuracy_perfect_on_separable_space(spark, tmp_path):
    """Two tight clusters on different axes, labels matching the cluster:
    every probe's nearest neighbor shares its label -> accuracy 1.0.
    Uses 200 points so the 13% md5 sample yields probes from both."""
    rows = []
    for i in range(200):
        v = [0.0] * 64
        lab = i % 2
        v[lab] = 1.0 + (i % 7) * 0.001  # tiny within-cluster spread
        rows.append((i, v, lab))
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    r = similarity.embedding_knn_label_accuracy(spark, d).first()
    assert r["n_probes"] > 10
    assert r["knn1_accuracy"] == 1.0


def test_knn_accuracy_fixture_near_chance(spark, sf_dir):
    """The random fixture's labels carry no geometry: accuracy lands near
    chance, far below a trained space — and never above 0.5."""
    r = similarity.embedding_knn_label_accuracy(spark, sf_dir).first()
    assert 0 < r["n_probes"] <= 64
    assert 0.0 <= r["knn1_accuracy"] < 0.5
