"""Round-6 batch-7 semantics: planted ground truths for the forecast
backtest, Gini extremes, and readability counts."""

from __future__ import annotations

import datetime as dt

from laposte_data_engineering_jedha_spark.queries import events, text

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def test_seasonal_naive_planted_series(spark, tmp_path):
    """14 days of counts [10,...,10] week one, [13,...]*7 week two:
    every scored day has |err| = 3, bias = +3, n_days = 7."""
    rows = []
    eid = 0
    for day in range(14):
        n = 10 if day < 7 else 13
        for i in range(n):
            eid += 1
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + day, 0, i), 1, "click", 0.0, "{}")
            )
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _EV_SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    out = events.events_forecast_seasonal_naive(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 7 and r["abs_err_total"] == 21
    assert r["mae"] == 3.0 and r["bias"] == 3.0


def test_gini_extremes(spark, tmp_path):
    """All-equal lengths -> gini 0; one doc owning ~everything -> gini
    close to (n-1)/n."""
    rows = [(i, "x", "eq", "s", 100) for i in range(10)]
    rows += [(100 + i, "x", "skew", "s", 1) for i in range(9)] + [
        (199, "x", "skew", "s", 1_000_000)
    ]
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["lang"]: r["gini"] for r in text.corpus_length_gini(spark, d).collect()}
    assert out["eq"] == 0.0
    assert 0.89 < out["skew"] < 0.9  # (n-1)/n = 0.9 minus the 9 tiny docs' mass


def test_readability_planted_counts(spark, tmp_path):
    """'The cat sat. The dog ran!' -> 6 words, 2 sentences, 6 vowel
    groups; flesch = 206.835 - 1.015*3 - 84.6*1 = 119.19."""
    rows = [(1, "The cat sat. The dog ran!", "en", "s", 25)]
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = text.text_readability(spark, d).first()
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    assert abs(r["flesch"] - (206.835 - 1.015 * 3 - 84.6 * 1)) < 1e-9
