"""Differential property test (SURVEY.md §5d): the Catalyst delay-status
kernel vs an independent pure-Python reimplementation of the reference
rules (core/transform.py:120-190) over randomized inputs.

Hypothesis drives the input space (including the categorical domains, the
regex arms, nulls, and boundary hours); one Spark job evaluates the whole
batch. Float comparison is exact — both sides compute in IEEE doubles with
the same association order."""

from __future__ import annotations

import datetime
import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from laposte_data_engineering_jedha_spark.functions import exprs
from laposte_data_engineering_jedha_spark.operators.transform import (
    calculate_delivery_duration,
    determine_delay_status,
)
from laposte_data_engineering_jedha_spark.schemas import DELIVERIES_RAW_SCHEMA

WEATHER_DOMAIN = [
    None, "Sunny", "Clear", "Light rain", "Patchy light drizzle",
    "Freezing drizzle", "Heavy snow", "Blizzard", "Sleet", "Fog", "Mist",
    "PARTLY CLOUDY", "torrential RAIN shower",
]


def py_reference(row: dict) -> dict:
    """Independent reimplementation of reference core/transform.py:120-190."""
    secs = int(
        (row["Delivery_Timestamp"] - row["Pickup_DateTime"]).total_seconds()
    )
    minutes = round(secs / 60 * 100) / 100  # library round2 convention
    display = f"{secs // 60}.{str(secs % 60).zfill(2)}"
    hour = row["Pickup_DateTime"].hour
    weekday = [
        "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
    ][row["Pickup_DateTime"].weekday()]
    pkg = {"Small": 1.0, "Medium": 1.2, "Large": 1.5, "Extra Large": 2.0, "Special": 2.5}.get(
        row["Package_Type"], 1.0
    )
    zone = {"Urban": 1.2, "Suburban": 1.0, "Rural": 1.3, "Industrial": 0.9,
            "Shopping Center": 1.4}.get(row["Delivery_Zone"], 1.0)
    peak = 1.3 if 7 <= hour <= 9 else (1.4 if 17 <= hour <= 19 else 1.0)
    day = 1.2 if weekday in ("Monday", "Friday") else (0.9 if weekday in ("Saturday", "Sunday") else 1.0)
    wx = row["Weather_Condition"]
    if wx is None:
        wf = 1.0
    elif re.search(r"(?i)rain|drizzle", wx):
        wf = 1.2
    elif re.search(r"(?i)snow|blizzard|sleet", wx):
        wf = 1.8
    elif re.search(r"(?i)fog|mist", wx):
        wf = 1.1
    else:
        wf = 1.0
    theo = (30.0 + row["Distance"] * 0.8) * pkg * zone * peak * day * wf
    status = "Delayed" if minutes > theo * 1.2 else "On-time"
    return {
        "Actual_Delivery_Time_Minutes": minutes,
        "Actual_Delivery_Time_Display": display,
        "Theoretical_Time_Minutes": round(theo * 100) / 100,
        "Status": status,
    }


row_strategy = st.fixed_dictionaries(
    {
        "pickup": st.datetimes(
            min_value=datetime.datetime(2020, 1, 1),
            max_value=datetime.datetime(2026, 1, 1),
        ).map(lambda d: d.replace(microsecond=0)),
        "duration_s": st.integers(min_value=0, max_value=400 * 60),
        "package": st.sampled_from(
            ["Small", "Medium", "Large", "Extra Large", "Special", "???"]
        ),
        "distance": st.floats(min_value=1.0, max_value=50.0, allow_nan=False),
        "zone": st.sampled_from(
            ["Urban", "Suburban", "Rural", "Industrial", "Shopping Center", "???"]
        ),
        "weather": st.sampled_from(WEATHER_DOMAIN),
    }
)


@settings(max_examples=20, deadline=None)
@given(st.lists(row_strategy, min_size=1, max_size=25))
def test_delay_status_kernel_differential(spark, batch):
    rows = []
    for i, r in enumerate(batch):
        rows.append(
            {
                "Delivery_ID": f"SC{1000 + i}",
                "Pickup_DateTime": r["pickup"],
                "Delivery_Timestamp": r["pickup"] + datetime.timedelta(seconds=r["duration_s"]),
                "Package_Type": r["package"],
                "Distance": r["distance"],
                "Delivery_Zone": r["zone"],
                "Weather_Condition": r["weather"],
                "Hour": r["pickup"].hour,
                "Weekday": None,  # recomputed below
            }
        )
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(DELIVERIES_RAW_SCHEMA.fields)
        + [StructField("Weather_Condition", StringType(), True)]
    )
    df = spark.createDataFrame(
        [
            (
                x["Delivery_ID"], x["Pickup_DateTime"], x["Delivery_Timestamp"],
                x["Package_Type"], x["Distance"], x["Delivery_Zone"], x["Weather_Condition"],
            )
            for x in rows
        ],
        schema,
    ).withColumn("Hour", exprs.hour_of("Pickup_DateTime")).withColumn(
        "Weekday", exprs.weekday_name("Pickup_DateTime")
    )
    got = {
        r["Delivery_ID"]: r.asDict()
        for r in determine_delay_status(calculate_delivery_duration(df)).collect()
    }
    for x in rows:
        expect = py_reference(x)
        g = got[x["Delivery_ID"]]
        for k, v in expect.items():
            if isinstance(v, float):
                assert g[k] == v or math.isclose(g[k], v, abs_tol=0.0), (k, x, g[k], v)
            else:
                assert g[k] == v, (k, x, g[k], v)


# --------------------- Holt fold vs recursive-CTE oracle ----------------------

_HOLT_DAILY_CTE = """RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2)"""


@given(
    counts=st.lists(st.integers(min_value=0, max_value=1_000_000), min_size=1, max_size=40)
)
@settings(max_examples=60, deadline=None)
def test_holt_fold_matches_recursive_cte(counts):
    """The integer fixed-point Holt recursion (streaming/jobs._holt_step,
    Python floor //) against the registered recursive-CTE oracle
    (floor(a / 4.0) in DuckDB) over HYPOTHESIS-random daily counts —
    including crashing series that drive level and trend NEGATIVE-
    intermediate, the exact regime where DuckDB's truncating integer //
    would silently diverge from Python's floor (the one-ULP trap the
    query docstring records). Day ranks stand in for real dates; the
    events aggregation is replaced by a VALUES relation so the fuzz
    needs no Spark session."""
    import duckdb as ddb
    import pandas as pd

    from laposte_data_engineering_jedha_spark import queries as q
    from laposte_data_engineering_jedha_spark.streaming import jobs

    sql = q.ORACLE_SQL["events_holt_forecast"]
    assert _HOLT_DAILY_CTE in sql  # surgical replacement must stay in sync
    sql = sql.replace(
        _HOLT_DAILY_CTE,
        "RECURSIVE daily AS (SELECT event_type, day, x FROM daily_src)",
    )
    daily_src = pd.DataFrame(
        {
            "event_type": ["t"] * len(counts),
            "day": pd.to_datetime(
                [f"2024-01-{i + 1:02d}" if i < 28 else f"2024-02-{i - 27:02d}"
                 for i in range(len(counts))]
            ).date,
            "x": counts,
        }
    )
    con = ddb.connect()
    try:
        con.register("daily_src", daily_src)
        got = [
            (r[1], r[2], r[3], r[4], r[5], r[6])
            for r in con.execute(sql).fetchall()
        ]
    finally:
        con.close()

    level, trend = jobs._HOLT_SCALE * counts[0], 0
    want = []
    for i, x in enumerate(counts[1:], start=1):
        forecast, level, trend, alarm = jobs._holt_step(level, trend, x)
        want.append((daily_src["day"][i], x, forecast, level, trend, alarm))
    assert got == want


@given(
    counts=st.lists(st.integers(min_value=0, max_value=1_000_000), min_size=2, max_size=40)
)
@settings(max_examples=60, deadline=None)
def test_cusum_fold_matches_recursive_cte(counts):
    """Same fuzz for the CUSUM chart (queries/events.py): the
    max(0, cusum + x - target - slack) fold in pure Python vs the
    recursive-CTE oracle over hypothesis-random daily counts — baselines
    of zero, flat series, and spike-then-crash shapes included."""
    import duckdb as ddb
    import pandas as pd

    from laposte_data_engineering_jedha_spark import queries as q

    sql = q.ORACLE_SQL["events_cusum_control"]
    sql = sql.replace(
        """WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),""",
        "WITH RECURSIVE daily AS (SELECT event_type, day, x FROM daily_src),",
    )
    assert "daily_src" in sql  # the surgical replacement must stay in sync
    daily_src = pd.DataFrame(
        {
            "event_type": ["t"] * len(counts),
            "day": pd.to_datetime(
                [f"2024-01-{i + 1:02d}" if i < 28 else f"2024-02-{i - 27:02d}"
                 for i in range(len(counts))]
            ).date,
            "x": counts,
        }
    )
    con = ddb.connect()
    try:
        con.register("daily_src", daily_src)
        got = [tuple(r[1:]) for r in con.execute(sql).fetchall()]
    finally:
        con.close()

    target = counts[0]
    slack = target // 10
    cusum = 0
    want = []
    for i, x in enumerate(counts[1:], start=1):
        cusum = max(0, cusum + x - target - slack)
        want.append((daily_src["day"][i], x, cusum, 1 if cusum > target else 0))
    assert got == want


# ---------------- Holt-Winters fold vs list-state recursive CTE ---------------


@given(
    counts=st.lists(st.integers(min_value=0, max_value=1_000_000), min_size=2, max_size=40)
)
@settings(max_examples=60, deadline=None)
def test_holt_winters_fold_matches_recursive_cte(counts):
    """The seasonal Holt-Winters recursion (streaming/jobs._hw_step) vs
    the registered recursive-CTE oracle whose state row carries the
    7-slot seasonal LIST (queries/events.py) over hypothesis-random
    daily counts on CONSECUTIVE calendar days — so every weekday slot is
    exercised, the isodow(1-based)/weekday(0-based) alignment is proven
    by value, and crashing series drive level/trend/seasonal negative
    (the floor-vs-truncate regime)."""
    import datetime as dt

    import duckdb as ddb
    import pandas as pd

    from laposte_data_engineering_jedha_spark import queries as q
    from laposte_data_engineering_jedha_spark.streaming import jobs

    sql = q.ORACLE_SQL["events_holt_winters_daily"]
    assert _HOLT_DAILY_CTE in sql  # surgical replacement must stay in sync
    sql = sql.replace(
        _HOLT_DAILY_CTE,
        "RECURSIVE daily AS (SELECT event_type, day, x FROM daily_src)",
    )
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(len(counts))]
    daily_src = pd.DataFrame(
        {"event_type": ["t"] * len(counts), "day": days, "x": counts}
    )
    con = ddb.connect()
    try:
        con.register("daily_src", daily_src)
        got = [tuple(r[1:]) for r in con.execute(sql).fetchall()]
    finally:
        con.close()

    level, trend = jobs._HOLT_SCALE * counts[0], 0
    seas = [0] * jobs._HW_PERIOD
    want = []
    for i, x in enumerate(counts[1:], start=1):
        slot = days[i].weekday()
        forecast, level, trend, s_new, alarm = jobs._hw_step(
            level, trend, seas, slot, x
        )
        seas[slot] = s_new
        want.append((days[i], x, forecast, level, trend, s_new, alarm))
    assert got == want


# ------------- BPE trainer oracle vs independent Python reference -------------


@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcde", min_size=1, max_size=8),
            min_size=1, max_size=8,
        ),
        min_size=1, max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_bpe_train_oracle_matches_python_reference(docs):
    """The 4-merge BPE trainer's generated oracle SQL vs an INDEPENDENT
    pure-Python BPE implementation (word counts -> repeat: count
    adjacent symbol pairs weighted by frequency, winner by (count desc,
    s1, s2), greedy left-to-right merge) over hypothesis-random
    corpora — including self-overlapping runs ('aaaa'), the case where
    the greedy application order is the whole semantics. Python
    str.replace is left-to-right non-overlapping, i.e. the same rule
    both engines' replace() implements."""
    import duckdb as ddb
    import pandas as pd

    from laposte_data_engineering_jedha_spark.queries import text
    from laposte_data_engineering_jedha_spark.queries.text import _CLAMP, _SEP

    texts_ = [" ".join(words) for words in docs]
    con = ddb.connect()
    try:
        con.register("documents", pd.DataFrame({"text": texts_}))
        got = con.execute(text._bpe_train_sql()).fetchall()
    finally:
        con.close()

    # independent reference
    wc: dict[str, int] = {}
    for t in texts_:
        for tok in re.split(r"\s+", t.strip().lower()):
            if tok:
                wc[tok] = wc.get(tok, 0) + 1
    syms = {_SEP.join(tok[:_CLAMP]): w for tok, w in wc.items()}
    # identical token strings collapse identically in both framings
    want = []
    for step in range(1, text._BPE_STEPS + 1):
        counts: dict[tuple[str, str], int] = {}
        for m, w in syms.items():
            a = m.split(_SEP)
            for i in range(min(len(a) - 1, _CLAMP - 1)):
                counts[(a[i], a[i + 1])] = counts.get((a[i], a[i + 1]), 0) + w
        if not counts:
            break
        (s1, s2), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((step, s1, s2, n))
        merged: dict[str, int] = {}
        for m, w in syms.items():
            m2 = m.replace(s1 + _SEP + s2, s1 + s2)
            merged[m2] = merged.get(m2, 0) + w
        syms = merged
    assert got == want


# --------------- GD trainer oracle vs independent Python loop -----------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=400),   # n_tokens
            st.integers(min_value=1, max_value=4000),  # n_chars
            st.integers(min_value=0, max_value=300),   # n_spaces (< chars)
        ),
        min_size=2, max_size=30,
    )
)
@settings(max_examples=40, deadline=None)
def test_gd_trainer_oracle_matches_python_loop(rows):
    """The 8-step GD oracle vs an independent Python training loop over
    synthetic documents with controlled token/char/whitespace counts.
    The loop re-derives features from the generated TEXT (not from the
    tuple) so the tokenize/length semantics are exercised too; the
    quantized-gradient arithmetic is replayed with Python floats —
    bit-identical by the query's determinism contract."""
    import duckdb as ddb
    import pandas as pd

    from laposte_data_engineering_jedha_spark.queries import stream

    texts_ = []
    for n_tok, n_chars, n_sp in rows:
        # n_tok 'x...x' words separated by single spaces; pad the last
        # word so lengths vary independently of token count
        words = ["x"] * n_tok
        texts_.append(" ".join(words) + "x" * (n_sp % 3))
    con = ddb.connect()
    try:
        con.register(
            "documents",
            pd.DataFrame({"text": texts_, "n_chars": [len(t) for t in texts_]}),
        )
        got = con.execute(stream._gd_oracle_sql()).fetchall()
    finally:
        con.close()

    feats = []
    for t in texts_:
        if len(t) == 0:
            continue
        toks = [w for w in re.split(r"\s+", t.strip().lower()) if w != ""]
        y = 1 if len(toks) >= stream._GD_GATE else 0
        x1 = len(t) / 1000
        x2 = (len(t) - len(t.replace(" ", ""))) / len(t)
        feats.append((y, x1, x2))
    n = len(feats)
    Q = stream._GD_Q
    w0 = w1 = w2 = 0.0
    want = []
    for k in range(1, stream._GD_STEPS + 1):
        q0 = q1 = q2 = 0
        for y, x1, x2 in feats:
            z = w0 + w1 * x1 + w2 * x2
            r = min(max(z / 4 + 0.5, 0.0), 1.0) - y
            q0 += int(_round_half_up(r * Q))
            q1 += int(_round_half_up(r * x1 * Q))
            q2 += int(_round_half_up(r * x2 * Q))
        w0 = w0 - stream._GD_LR * (q0 / (Q * n))
        w1 = w1 - stream._GD_LR * (q1 / (Q * n))
        w2 = w2 - stream._GD_LR * (q2 / (Q * n))
        n_correct = sum(
            1 for y, x1, x2 in feats
            if ((w0 + w1 * x1 + w2 * x2) > 0) == (y == 1)
        )
        want.append(
            (k,
             _round_half_up(w0 * Q) / Q,
             _round_half_up(w1 * Q) / Q,
             _round_half_up(w2 * Q) / Q,
             (n_correct * Q) // n)
        )
    assert got == want


def _round_half_up(x: float) -> float:
    """DuckDB/Spark round(): half away from zero, unlike Python's
    banker's rounding."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
