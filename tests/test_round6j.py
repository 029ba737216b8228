"""Round-6 batch-11 semantics: cumulative-share monotonicity, HHI
extremes, rolling-feature exactness, Markov step bounds + planted chain."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.queries import events, olap

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _ts(s: float):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_cumulative_share_monotone_ends_at_one(spark, sf_dir):
    rows = olap.olap_cumulative_revenue_share(spark, sf_dir).collect()
    by_nation: dict[str, list] = {}
    for r in rows:
        by_nation.setdefault(r["n_name"], []).append(r)
    assert len(by_nation) > 0
    for n, rs in by_nation.items():
        rs.sort(key=lambda r: r["month"])
        shares = [r["cum_share"] for r in rs]
        assert all(a <= b + 1e-12 for a, b in zip(shares, shares[1:])), n
        assert abs(shares[-1] - 1.0) < 1e-9, (n, shares[-1])


def test_hhi_bounds_and_planted_monopoly(spark, sf_dir, tmp_path):
    out = olap.olap_supplier_hhi(spark, sf_dir).collect()
    for r in out:
        # HHI in (10000/n, 10000]
        assert 10000.0 / r["n_suppliers"] - 1e-6 <= r["hhi"] <= 10000.0 + 1e-6
    # planted monopoly: one nation, one supplier -> HHI exactly 10000
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        [(1, "ACME", 0, "x", 0.0, "c")],
        "s_suppkey long, s_name string, s_nationkey long, s_address string, s_acctbal double, s_comment string",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    spark.createDataFrame(
        [(0, "SOLO", 0, "c")], "n_nationkey long, n_name string, n_regionkey long, n_comment string"
    ).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(1, 1, 1, 100.0, 0.1, dt.datetime(2024, 1, 2)),
         (2, 1, 2, 50.0, 0.0, dt.datetime(2024, 2, 2))],
        "l_orderkey long, l_suppkey long, l_linenumber long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    r = olap.olap_supplier_hhi(spark, d).first()
    assert r["n_suppliers"] == 1 and r["hhi"] == 10000.0


def test_lag_features_planted_window(spark, tmp_path):
    """Six events of values 1..6: the 6th row's roll5 covers values 2..6
    (sum 2000 cents), lag1 = 500, gap = 10 s."""
    rows = [
        (i, _ts(10 * i), 1, "click", float(i), "{}") for i in range(1, 7)
    ]
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _EV_SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    out = {r["event_id"]: r for r in events.events_lag_features(spark, d).collect()}
    r6 = out[6]
    assert r6["lag1_cents"] == 500
    assert r6["gap_us"] == 10_000_000
    assert r6["roll5_cents"] == (2 + 3 + 4 + 5 + 6) * 100
    assert r6["roll5_avg"] == 2000 / 5
    assert out[1]["lag1_cents"] is None and out[1]["gap_us"] is None
    assert out[1]["roll5_cents"] == 100 and out[1]["roll5_avg"] == 100.0


def test_markov_absorb_bounds_and_planted_chain(spark, sf_dir, tmp_path):
    for r in events.events_markov_absorb2(spark, sf_dir).collect():
        assert 0.0 <= r["p_convert_1"] <= r["p_convert_2"] <= 1.0 + 1e-9
    # planted: view -> click always; click -> purchase half the time.
    # p1(view)=0, p2(view)=p(view->click)*p1(click)=1*0.5=0.5
    rows = []
    eid = 0
    for u in range(1, 5):
        eid += 1; rows.append((eid, _ts(0), u, "view", 0.0, "{}"))
        eid += 1; rows.append((eid, _ts(10), u, "click", 0.0, "{}"))
        nxt = "purchase" if u % 2 == 0 else "error"
        eid += 1; rows.append((eid, _ts(20), u, nxt, 0.0, "{}"))
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _EV_SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    out = {r["event_type"]: r for r in events.events_markov_absorb2(spark, d).collect()}
    assert out["view"]["p_convert_1"] == 0.0
    assert out["view"]["p_convert_2"] == 0.5
    assert out["click"]["p_convert_1"] == 0.5
