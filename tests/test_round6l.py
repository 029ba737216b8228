"""Round-6 batch-13 semantics: SLA lag sanity, growth-accounting
conservation, planted orphan detection."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.queries import dq, events, events_table, olap


def test_ship_cycle_percentiles_ordered(spark, sf_dir):
    out = olap.olap_ship_cycle_percentiles(spark, sf_dir).collect()
    assert len(out) == 5  # TPC-H priorities
    for r in out:
        assert r["n_lines"] > 0
        assert r["p50_days"] <= r["p95_days"] <= r["max_days"]


def test_new_vs_returning_conserves_dau_and_totals(spark, sf_dir):
    out = events.events_new_vs_returning(spark, sf_dir).collect()
    ev = events_table(spark, sf_dir)
    # per-day: new + returning == distinct actives that day
    dau = {
        r["day"]: r["n"]
        for r in ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out:
        assert r["new_users"] + r["returning_users"] == dau[r["day"]]
    # lifetime: total new across days == total distinct users
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["new_users"] for r in out) == n_users


def test_referential_orphans_zero_on_fixture_and_detects_planted(spark, sf_dir, tmp_path):
    out = {r["relation"]: r for r in dq.dq_referential_orphans(spark, sf_dir).collect()}
    assert set(out) == {
        "lineitem->orders", "orders->customer", "customer->nation", "supplier->nation",
    }
    for r in out.values():
        assert r["n_orphans"] == 0  # the fixture is referentially clean
        assert r["n_child_rows"] > 0
    # planted: one lineitem pointing at a missing order
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        [(1, 1, 1, 10.0, 0.0, dt.datetime(2024, 1, 2)),
         (99, 1, 1, 10.0, 0.0, dt.datetime(2024, 1, 2))],
        "l_orderkey long, l_suppkey long, l_linenumber long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1, "O", 10.0, dt.datetime(2024, 1, 1), "1-URGENT", "c", 0, "x")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string, o_clerk string, o_shippriority long, o_comment string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(1, "c", "a", 0, "p", 0.0, "s", "x")],
        "c_custkey long, c_name string, c_address string, c_nationkey long, c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(0, "N", 0, "c")], "n_nationkey long, n_name string, n_regionkey long, n_comment string"
    ).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(1, "S", 0, "a", 0.0, "c")],
        "s_suppkey long, s_name string, s_nationkey long, s_address string, s_acctbal double, s_comment string",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got = {r["relation"]: r["n_orphans"] for r in dq.dq_referential_orphans(spark, d).collect()}
    assert got["lineitem->orders"] == 1  # the planted orphan
    assert got["orders->customer"] == 0
