"""Weather enrichment source — client + native JSON flatten.

The reference fetches hourly history from api.weatherapi.com per distinct
pickup date on a 10-worker thread pool (core/transform.py:67-92,
utils/api_client.py:10-42), then flattens the nested JSON in a Python
loop. Here:

- the HTTP client keeps the reference's retry contract (3 attempts, 2 s
  fixed wait, 10 s timeout, `{}` on request error) with a hand-rolled
  retry (tenacity is not in this sandbox),
- an injectable fake client (canned payloads, FIXTURES.md §2b) keeps the
  join path testable offline — mirroring how the reference's own e2e test
  leans on the failure fallback,
- flattening is Spark-NATIVE: `from_json` -> `explode` over
  `forecast.forecastday[0].hour` -> nested-field projection, i.e. what the
  reference does in a driver loop becomes a distributed plan
  (SURVEY.md §2.1 src_weather_flatten).

The fetch fans out on a driver-side thread pool, which is right at the
≤31 distinct dates a month of deliveries holds. The fetched
(date, payload) pairs enter Spark through `session.local_table`, a JVM
local relation, so the ≤744-row table the transform broadcasts never
starts a Python worker.
"""

from __future__ import annotations

import datetime
import json
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table

try:
    import requests
except ImportError:  # pragma: no cover - env-dependent
    requests = None

FORECAST_SCHEMA = (
    "forecast STRUCT<forecastday: ARRAY<STRUCT<"
    "hour: ARRAY<STRUCT<time: STRING, condition: STRUCT<text: STRING>>>>>>"
)


class WeatherAPIClient:
    """api.weatherapi.com history client (reference utils/api_client.py)."""

    BASE_URL = "http://api.weatherapi.com/v1/history.json"
    ATTEMPTS = 3
    WAIT_SECONDS = 2
    TIMEOUT = 10

    def __init__(self, api_key: str | None):
        self.api_key = api_key

    def get_historical_weather(self, location: str, date: str) -> dict:
        """GET with 3 fixed-wait retries; `{}` on request error (reference
        utils/api_client.py:17,39-42)."""
        if requests is None or not self.api_key:
            # no key configured -> the reference would burn 3 retries on a
            # 401 per date and fall back to {}; short-circuit to the same
            # result without the network round-trips
            return {}
        params = {"key": self.api_key, "q": location, "dt": date}
        last_exc = None
        for attempt in range(self.ATTEMPTS):
            try:
                resp = requests.get(self.BASE_URL, params=params, timeout=self.TIMEOUT)
                resp.raise_for_status()
                return resp.json()
            except requests.exceptions.RequestException as exc:
                last_exc = exc
                if attempt < self.ATTEMPTS - 1:
                    time.sleep(self.WAIT_SECONDS)
        del last_exc
        return {}


class FakeWeatherClient:
    """Injectable offline client: deterministic canned payloads shaped like
    the real API (FIXTURES.md §2b), or `{}` to exercise the failure path."""

    def __init__(self, conditions: list[str] | None = None, fail: bool = False):
        self.conditions = conditions or ["Clear", "Light rain", "Fog", "Heavy snow"]
        self.fail = fail

    def get_historical_weather(self, location: str, date: str) -> dict:
        if self.fail:
            return {}
        base = datetime.date.fromisoformat(date).toordinal()
        hours = [
            {
                "time": f"{date} {h:02d}:00",
                "condition": {"text": self.conditions[(base + h) % len(self.conditions)]},
            }
            for h in range(24)
        ]
        return {"forecast": {"forecastday": [{"hour": hours}]}}


def distinct_pickup_dates(df: DataFrame) -> list[datetime.date]:
    """Distinct pickup dates -> driver list (reference core/transform.py:96)
    — the fetch fan-out driver; one HTTP call per date, not per row."""
    rows = df.select(F.to_date("Pickup_DateTime").alias("d")).distinct().collect()
    return sorted(r.d for r in rows if r.d is not None)


def fetch_payloads(
    client, dates: list[datetime.date], location: str = "Paris", max_workers: int = 10
) -> list[tuple[str, str]]:
    """Concurrent fetch (reference core/transform.py:72-90) -> list of
    (date_iso, payload_json). Payloads without a forecast are dropped,
    matching the reference's `if weather_data and "forecast" in ...`."""
    out: list[tuple[str, str]] = []
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = {
            pool.submit(client.get_historical_weather, location, d.isoformat()): d
            for d in dates
        }
        for fut in as_completed(futures):
            d = futures[fut]
            payload = fut.result()
            if payload and "forecast" in payload:
                out.append((d.isoformat(), json.dumps(payload)))
    return out


def flatten_weather(spark: SparkSession, payloads: list[tuple[str, str]]) -> DataFrame | None:
    """Native flatten of the API JSON (reference core/transform.py:78-85):
    explode forecast.forecastday[0].hour -> {date, Hour, Weather_Condition}.
    Returns None when nothing was fetched (the all-null fallback path)."""
    if not payloads:
        return None
    raw = local_table(spark, payloads, "date STRING, payload STRING")
    parsed = raw.select("date", F.from_json("payload", FORECAST_SCHEMA).alias("p"))
    hours = parsed.select(
        "date", F.explode(F.col("p.forecast.forecastday")[0]["hour"]).alias("h")
    )
    return hours.select(
        F.to_date("date").alias("date"),
        F.hour(F.to_timestamp(F.col("h.time"), "yyyy-MM-dd HH:mm")).alias("Hour"),
        F.col("h.condition.text").alias("Weather_Condition"),
    )


def fetch_weather_table(
    spark: SparkSession, deliveries: DataFrame, client, location: str = "Paris"
) -> DataFrame | None:
    """distinct dates -> concurrent fetch on the driver pool -> native
    flatten."""
    dates = distinct_pickup_dates(deliveries)
    return flatten_weather(spark, fetch_payloads(client, dates, location))

