"""Basket-affinity semantics: rule-metric bounds on the fixture, exact
metrics on a planted basket set."""

from __future__ import annotations

import datetime as dt

from laposte_data_engineering_jedha_spark.queries import olap


def test_affinity_metric_bounds(spark, sf_dir):
    out = olap.olap_basket_affinity(spark, sf_dir).collect()
    assert len(out) == 20
    ns = [r["n_ab"] for r in out]
    assert ns == sorted(ns, reverse=True)
    for r in out:
        assert 0 < r["support"] <= r["confidence"] <= 1.0
        assert r["lift"] > 0
        assert r["brand_a"] < r["brand_b"]


def test_affinity_planted_exact(spark, tmp_path):
    """4 orders: {X,Y} twice, {X} once, {Z} once ->
    support(X,Y)=2/4, confidence(Y|X)=2/3, lift=(2*4)/(3*2)=4/3."""
    li = []
    for ok_, parts in [(1, [10, 20]), (2, [10, 20]), (3, [10]), (4, [30])]:
        for i, pk in enumerate(parts):
            li.append((ok_, pk, i + 1, 1.0, 0.0, dt.datetime(2024, 1, 2)))
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_linenumber long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(10, "X"), (20, "Y"), (30, "Z")], "p_partkey long, p_brand string"
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    out = olap.olap_basket_affinity(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["brand_a"], r["brand_b"], r["n_ab"]) == ("X", "Y", 2)
    assert r["support"] == 0.5
    assert r["confidence"] == round(2 / 3, 6)
    assert r["lift"] == round(8 / 6, 6)
