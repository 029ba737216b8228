"""Round-6 batch-8 semantics: minhash calibration bounds, SRM detection
on a planted broken split, degenerate z-score guard."""

from __future__ import annotations

import datetime as dt

from laposte_data_engineering_jedha_spark.queries import dedup, events

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def test_minhash_calibration_bounds(spark, sf_dir):
    r = dedup.dedup_minhash_calibration(spark, sf_dir).first()
    assert r["n_candidates"] > 0
    assert 0 <= r["n_true"] <= r["n_candidates"]
    assert 0.0 <= r["precision_05"] <= 1.0
    # MAE is in basis points of Jaccard: bounded by the scale itself
    assert 0.0 <= r["mae_bp"] <= 10000.0
    assert r["abs_err_bp_total"] >= 0


def test_ab_health_detects_planted_srm(spark, tmp_path):
    """A split broken on purpose (only pick users whose md5 variant is 0,
    plus two variant-1 users) must light up srm_chi2 far beyond 3.84."""
    from laposte_data_engineering_jedha_spark.functions import texts
    from pyspark.sql import functions as F

    # find user ids by their md5 variant
    ids = spark.range(1, 400).select(
        F.col("id").alias("user_id"),
        (texts.md5int32(F.col("id").cast("string")) % 2).alias("v"),
    )
    v0 = [r["user_id"] for r in ids.where("v = 0").limit(60).collect()]
    v1 = [r["user_id"] for r in ids.where("v = 1").limit(2).collect()]
    rows = []
    eid = 0
    for u in v0 + v1:
        for i in range(20):  # 20 purchases -> every user converts? no:
            eid += 1
            # half the users get 20 purchases (convert), half get 10 (not)
            if i >= (10 if u % 2 == 0 else 20):
                break
            rows.append((eid, dt.datetime(2024, 1, 1 + i % 27), u, "purchase", 1.0, "{}"))
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _EV_SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    r = events.events_ab_health(spark, d).first()
    assert r["n_a"] + r["n_b"] == 62
    assert min(r["n_a"], r["n_b"]) == 2
    assert r["srm_chi2"] > 3.84  # flagrant sample-ratio mismatch


def test_ab_health_degenerate_conversion_yields_null_z(spark, tmp_path):
    """If EVERY user converts (or none), the pooled variance is zero and
    z_score must be NULL — by the explicit CASE, not an engine error."""
    rows = []
    eid = 0
    for u in range(1, 21):
        for i in range(16):  # 16 purchases each -> all convert (>15)
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, i), u, "purchase", 1.0, "{}"))
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _EV_SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    r = events.events_ab_health(spark, d).first()
    assert r["c_a"] == r["n_a"] and r["c_b"] == r["n_b"]
    assert r["z_score"] is None
    assert r["srm_chi2"] is not None
