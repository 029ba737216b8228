"""Weather source: fake client payloads, native flatten, enrich paths."""

from __future__ import annotations

import datetime

from laposte_data_engineering_jedha_spark.operators.transform import (
    enrich_with_weather,
    transform_deliveries,
)
from laposte_data_engineering_jedha_spark.sources.generate import generate_deliveries
from laposte_data_engineering_jedha_spark.sources.weather import (
    FakeWeatherClient,
    distinct_pickup_dates,
    fetch_payloads,
    fetch_weather_table,
    flatten_weather,
)


def test_flatten_shape(spark):
    client = FakeWeatherClient()
    payloads = fetch_payloads(client, [datetime.date(2025, 9, 5), datetime.date(2025, 9, 6)])
    wx = flatten_weather(spark, payloads)
    rows = wx.collect()
    assert len(rows) == 48  # 2 days x 24 h
    assert {r.Hour for r in rows} == set(range(24))
    assert all(isinstance(r.date, datetime.date) for r in rows)
    assert all(r.Weather_Condition in client.conditions for r in rows)


def test_flatten_empty_returns_none(spark):
    assert flatten_weather(spark, []) is None


def test_failed_fetch_yields_null_column(spark):
    """API failure -> {} -> None table -> typed all-null Weather_Condition
    (reference core/transform.py:100-101, utils/api_client.py:39-42)."""
    df = generate_deliveries(spark, 20, seed=1)
    wx = fetch_weather_table(spark, df, FakeWeatherClient(fail=True))
    assert wx is None
    enriched = enrich_with_weather(df, wx)
    assert enriched.schema["Weather_Condition"].dataType.typeName() == "string"
    assert all(r.Weather_Condition is None for r in enriched.collect())


def test_enrich_joins_on_date_hour(spark):
    df = generate_deliveries(spark, 200, seed=3)
    client = FakeWeatherClient()
    wx = fetch_weather_table(spark, df, client)
    out = transform_deliveries(df, wx)
    rows = out.collect()
    assert len(rows) == 200
    # fake client covers every (date, hour) -> no unmatched rows
    assert all(r.Weather_Condition in client.conditions for r in rows)
    dates = distinct_pickup_dates(df)
    assert wx.count() == 24 * len(dates)

