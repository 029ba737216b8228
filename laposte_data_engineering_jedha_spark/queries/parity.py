"""Reference-parity queries — one registry entry per SURVEY.md §2 Op-ID
(name prefixes agg, expr, join, limit, pipeline, proj, setop).

Each query phrases its operator over the driver's TPC-H-ish tables
(TESTDATA.md) through the deterministic deliveries view, with a DuckDB
oracle twin built from the shared SQL fragments in queries/__init__.py so
both sides stay in lockstep. Reference citations are in the wrapped library
functions (functions/exprs.py, operators/transform.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exprs
from ..operators import transform as tf
from ..schemas import ENRICHED_COLUMNS
from . import (
    SQL_DAY_FACTOR,
    SQL_PEAK_FACTOR,
    SQL_WEATHER_FACTOR,
    SQL_WEEKDAY_NAME,
    deliveries_from_orders,
    query,
    sql_num_case,
    sql_round,
    sql_theoretical,
    synthetic_weather,
    table,
    with_deliveries,
)


@query(
    "join_semi_open_orders",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00')
GROUP BY o_orderpriority""",
)
def join_semi_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (TPC-H Q4 shape): orders having >=1 late-shipped line.
    Semi joins never duplicate the left side, so no post-join distinct is
    needed — the probe side short-circuits on first match."""
    orders = table(spark, sf_dir, "orders")
    late = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "join_anti_customers_no_orders",
    """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
GROUP BY c_mktsegment""",
)
def join_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no order since 1997, by segment — the
    null-safe NOT EXISTS shape (anti join avoids NOT IN's null trap)."""
    cust = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "setop_intersect_repeat_buyers",
    """
SELECT o_custkey AS custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'""",
)
def setop_intersect_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): customers active in both 1996 and
    1997. Catalyst plans it as a left-semi join over pre-aggregated sides."""
    orders = table(spark, sf_dir, "orders")

    def active(year: int):
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp"))
        ).select(F.col("o_custkey").alias("custkey"))

    return active(1996).intersect(active(1997))


@query(
    "setop_except_lapsed_buyers",
    """
SELECT o_custkey AS custkey FROM orders
WHERE o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'""",
)
def setop_except_lapsed_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): customers who ordered before 1997 but
    never after — planned as a left-anti join."""
    orders = table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")
    before = orders.where(F.col("o_orderdate") < cutoff).select(
        F.col("o_custkey").alias("custkey")
    )
    after = orders.where(F.col("o_orderdate") >= cutoff).select(
        F.col("o_custkey").alias("custkey")
    )
    return before.subtract(after)


_SECS = "date_diff('second', Pickup_DateTime, Delivery_Timestamp)"

# --- flagship: the full pipeline ---------------------------------------------

FLAGSHIP_SQL = with_deliveries(
    f""", t1 AS (
  SELECT d.*,
         CAST(hour(Pickup_DateTime) AS INTEGER) AS Hour,
         {SQL_WEEKDAY_NAME.format(ts='Pickup_DateTime')} AS Weekday
  FROM deliveries d
),
t2 AS (
  SELECT t1.*, wx.Weather_Condition
  FROM t1 LEFT JOIN wx
    ON CAST(t1.Pickup_DateTime AS DATE) = wx.date AND t1.Hour = wx.Hour
),
t3 AS (
  SELECT t2.*,
         {sql_round(f"{_SECS} / 60", 2)} AS Actual_Delivery_Time_Minutes,
         CAST({_SECS} // 60 AS VARCHAR) || '.' ||
           lpad(CAST({_SECS} % 60 AS VARCHAR), 2, '0')
           AS Actual_Delivery_Time_Display,
         {sql_theoretical()} AS theo
  FROM t2
)
SELECT Delivery_ID, Pickup_DateTime, Delivery_Timestamp, Package_Type, Distance,
       Delivery_Zone, Hour, Weekday, Weather_Condition,
       Actual_Delivery_Time_Minutes, Actual_Delivery_Time_Display,
       {sql_round('theo', 2)} AS Theoretical_Time_Minutes,
       CASE WHEN Actual_Delivery_Time_Minutes > theo * CAST(1.2 AS DOUBLE)
            THEN 'Delayed' ELSE 'On-time' END AS Status
FROM t3
""",
    weather=True,
)


@query("pipeline_delay_status", oracle=FLAGSHIP_SQL)
def pipeline_delay_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's entire transform chain end-to-end
    (temporal features -> broadcast weather join -> duration -> rule-model
    status), recast onto the orders/customer tables."""
    deliveries = deliveries_from_orders(spark, sf_dir)
    weather = synthetic_weather(spark, deliveries)
    out = tf.transform_deliveries(deliveries, weather)
    return out.select(*ENRICHED_COLUMNS)


# --- §2.3 scalar expression ops ----------------------------------------------


@query(
    "expr_ts_diff",
    oracle=with_deliveries(
        f"SELECT Delivery_ID, {_SECS} AS duration_seconds FROM deliveries"
    ),
)
def expr_ts_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID",
        exprs.ts_diff_seconds("Delivery_Timestamp", "Pickup_DateTime").alias(
            "duration_seconds"
        ),
    )


@query(
    "expr_minutes",
    oracle=with_deliveries(
        f"SELECT Delivery_ID, {sql_round(f'{_SECS} / 60', 2)} AS actual_minutes FROM deliveries"
    ),
)
def expr_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    secs = exprs.ts_diff_seconds("Delivery_Timestamp", "Pickup_DateTime")
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.minutes_from_seconds(secs).alias("actual_minutes")
    )


@query(
    "expr_mmss_display",
    oracle=with_deliveries(
        f"""SELECT Delivery_ID,
        CAST({_SECS} // 60 AS VARCHAR) || '.' ||
        lpad(CAST({_SECS} % 60 AS VARCHAR), 2, '0') AS display FROM deliveries"""
    ),
)
def expr_mmss_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    secs = exprs.ts_diff_seconds("Delivery_Timestamp", "Pickup_DateTime")
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.mmss_display(secs).alias("display")
    )


@query(
    "expr_hour",
    oracle=with_deliveries(
        "SELECT Delivery_ID, CAST(hour(Pickup_DateTime) AS INTEGER) AS Hour FROM deliveries"
    ),
)
def expr_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.hour_of("Pickup_DateTime").alias("Hour")
    )


@query(
    "expr_weekday_name",
    oracle=with_deliveries(
        f"SELECT Delivery_ID, {SQL_WEEKDAY_NAME.format(ts='Pickup_DateTime')} AS Weekday FROM deliveries"
    ),
)
def expr_weekday_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.weekday_name("Pickup_DateTime").alias("Weekday")
    )


@query(
    "expr_date",
    oracle=with_deliveries(
        "SELECT Delivery_ID, CAST(Pickup_DateTime AS DATE) AS pickup_date FROM deliveries"
    ),
)
def expr_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.date_of("Pickup_DateTime").alias("pickup_date")
    )


@query(
    "expr_dict_map_strict",
    oracle=with_deliveries(
        f"""SELECT Delivery_ID,
        {sql_num_case('Package_Type', exprs.PACKAGE_FACTORS, 1.0)} AS package_factor,
        {sql_num_case('Delivery_Zone', exprs.ZONE_FACTORS, 1.0)} AS zone_factor
        FROM deliveries"""
    ),
)
def expr_dict_map_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID",
        exprs.package_factor().alias("package_factor"),
        exprs.zone_factor().alias("zone_factor"),
    )


@query(
    "expr_between",
    oracle=with_deliveries(
        f"""SELECT Delivery_ID,
        {SQL_PEAK_FACTOR.format(h='CAST(hour(Pickup_DateTime) AS INTEGER)')} AS peak_factor
        FROM deliveries"""
    ),
)
def expr_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID",
        exprs.peak_hour_factor(exprs.hour_of("Pickup_DateTime")).alias("peak_factor"),
    )


@query(
    "expr_isin",
    oracle=with_deliveries(
        f"""SELECT Delivery_ID,
        {SQL_DAY_FACTOR.format(w=SQL_WEEKDAY_NAME.format(ts='Pickup_DateTime'))} AS day_factor
        FROM deliveries"""
    ),
)
def expr_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID",
        exprs.day_factor(exprs.weekday_name("Pickup_DateTime")).alias("day_factor"),
    )


@query(
    "expr_regex_ci",
    oracle=with_deliveries(
        f"""SELECT date, Hour,
        NULLIF(Weather_Condition, 'Sunny') AS Weather_Condition,
        {SQL_WEATHER_FACTOR.format(c="NULLIF(Weather_Condition, 'Sunny')")} AS weather_factor,
        {SQL_WEATHER_FACTOR.format(c='upper(Weather_Condition)')} AS weather_factor_upper
        FROM wx""",
        weather=True,
    ),
)
def expr_regex_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive first-match regex CASE — exercised over the weather
    dim with NULLIF-injected nulls (null arm) and an uppercased variant
    (the `(?i)` flag)."""
    wx = synthetic_weather(spark, deliveries_from_orders(spark, sf_dir))
    cond = F.nullif(F.col("Weather_Condition"), F.lit("Sunny"))
    return wx.select(
        "date",
        "Hour",
        cond.alias("Weather_Condition"),
        exprs.weather_factor(cond).alias("weather_factor"),
        exprs.weather_factor(F.upper(F.col("Weather_Condition"))).alias(
            "weather_factor_upper"
        ),
    )


@query(
    "expr_theoretical",
    oracle=with_deliveries(
        f"""SELECT Delivery_ID,
        {sql_round(sql_theoretical(hour='CAST(hour(Pickup_DateTime) AS INTEGER)', weekday=SQL_WEEKDAY_NAME.format(ts='Pickup_DateTime'), weather='NULL'), 2)}
          AS Theoretical_Time_Minutes
        FROM deliveries"""
    ),
)
def expr_theoretical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative rule model (weather arm pinned to NULL -> factor 1.0;
    the weather-joined variant is covered by the flagship)."""
    theo = exprs.theoretical_time(
        hour=exprs.hour_of("Pickup_DateTime"),
        weekday=exprs.weekday_name("Pickup_DateTime"),
        weather=F.lit(None).cast("string"),
    )
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.round2(theo).alias("Theoretical_Time_Minutes")
    )


@query(
    "expr_status",
    oracle=with_deliveries(
        f"""SELECT Delivery_ID,
        CASE WHEN {sql_round(f'{_SECS} / 60', 2)} >
                  {sql_theoretical(hour='CAST(hour(Pickup_DateTime) AS INTEGER)', weekday=SQL_WEEKDAY_NAME.format(ts='Pickup_DateTime'), weather='NULL')} * CAST(1.2 AS DOUBLE)
             THEN 'Delayed' ELSE 'On-time' END AS Status
        FROM deliveries"""
    ),
)
def expr_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    secs = exprs.ts_diff_seconds("Delivery_Timestamp", "Pickup_DateTime")
    theo = exprs.theoretical_time(
        hour=exprs.hour_of("Pickup_DateTime"),
        weekday=exprs.weekday_name("Pickup_DateTime"),
        weather=F.lit(None).cast("string"),
    )
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID",
        exprs.delay_status(exprs.minutes_from_seconds(secs), theoretical=theo).alias(
            "Status"
        ),
    )


@query(
    "expr_null_lit",
    oracle=with_deliveries(
        "SELECT Delivery_ID, CAST(NULL AS VARCHAR) AS Weather_Condition FROM deliveries"
    ),
)
def expr_null_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weather-fetch-failed fallback: typed all-null column
    (core/transform.py:100-101)."""
    return deliveries_from_orders(spark, sf_dir).select(
        "Delivery_ID", exprs.null_string_lit()
    )


@query(
    "expr_str_id",
    oracle="SELECT 'SC' || CAST(o_orderkey + 1000 AS VARCHAR) AS Delivery_ID FROM orders",
)
def expr_str_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        exprs.sequential_string_id("o_orderkey").alias("Delivery_ID")
    )


# --- §2.3 projections ----------------------------------------------------------


@query(
    "proj_with_columns",
    oracle=with_deliveries(
        f"""SELECT deliveries.*,
        CAST(hour(Pickup_DateTime) AS INTEGER) AS Hour,
        {SQL_WEEKDAY_NAME.format(ts='Pickup_DateTime')} AS Weekday
        FROM deliveries"""
    ),
)
def proj_with_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive projection (`with_columns`) — the temporal-features stage."""
    return tf.add_temporal_features(deliveries_from_orders(spark, sf_dir))


@query(
    "proj_drop",
    oracle=with_deliveries(
        "SELECT Delivery_ID, Package_Type, Distance, Delivery_Zone FROM deliveries"
    ),
)
def proj_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add a transient join key then drop it (core/transform.py:105,109)."""
    df = deliveries_from_orders(spark, sf_dir)
    with_key = df.withColumn("date", exprs.date_of("Pickup_DateTime"))
    return with_key.drop("date").drop("Pickup_DateTime", "Delivery_Timestamp")


# --- §2.4 join -----------------------------------------------------------------


@query(
    "join_weather_left",
    oracle=with_deliveries(
        """SELECT d.Delivery_ID, CAST(d.Pickup_DateTime AS DATE) AS date,
        CAST(hour(d.Pickup_DateTime) AS INTEGER) AS Hour, wx.Weather_Condition
        FROM deliveries d LEFT JOIN wx
        ON CAST(d.Pickup_DateTime AS DATE) = wx.date
        AND CAST(hour(d.Pickup_DateTime) AS INTEGER) = wx.Hour""",
        weather=True,
    ),
)
def join_weather_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast left equi-join on the composite (date, Hour) key —
    unmatched rows keep null Weather_Condition."""
    deliveries = deliveries_from_orders(spark, sf_dir)
    wx = synthetic_weather(spark, deliveries)
    keyed = deliveries.select(
        "Delivery_ID",
        exprs.date_of("Pickup_DateTime").alias("date"),
        exprs.hour_of("Pickup_DateTime").alias("Hour"),
    )
    return keyed.join(F.broadcast(wx), on=["date", "Hour"], how="left").select(
        "Delivery_ID", "date", "Hour", "Weather_Condition"
    )


# --- §2.5 aggregations -----------------------------------------------------------


@query(
    "agg_ndistinct_dates",
    oracle=with_deliveries(
        "SELECT count(DISTINCT CAST(Pickup_DateTime AS DATE)) AS n_dates FROM deliveries"
    ),
)
def agg_ndistinct_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).select(
        F.countDistinct(exprs.date_of("Pickup_DateTime")).alias("n_dates")
    )


@query(
    "agg_distinct_collect",
    oracle=with_deliveries(
        "SELECT DISTINCT CAST(Pickup_DateTime AS DATE) AS pickup_date FROM deliveries"
    ),
)
def agg_distinct_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct pickup dates (drives the reference's API fan-out,
    core/transform.py:96)."""
    return (
        deliveries_from_orders(spark, sf_dir)
        .select(exprs.date_of("Pickup_DateTime").alias("pickup_date"))
        .distinct()
    )


@query(
    "agg_count_shape",
    oracle=with_deliveries(
        "SELECT count(*) AS n_rows, 6 AS n_cols FROM deliveries"
    ),
)
def agg_count_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest shape: row count action + driver-side column count
    (load.py:114 `df.height/df.width`)."""
    df = deliveries_from_orders(spark, sf_dir)
    return df.agg(
        F.count("*").alias("n_rows"), F.lit(len(df.columns)).alias("n_cols")
    )


@query(
    "agg_is_empty",
    oracle=with_deliveries("SELECT count(*) = 0 AS is_empty FROM deliveries"),
)
def agg_is_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deliveries_from_orders(spark, sf_dir).agg(
        (F.count("*") == 0).alias("is_empty")
    )


# --- §2.6 set ops / limits --------------------------------------------------------


@query(
    "setop_concat",
    oracle=with_deliveries(
        """SELECT Delivery_ID, 'low' AS part FROM deliveries WHERE Distance < 25
        UNION ALL
        SELECT Delivery_ID, 'high' AS part FROM deliveries WHERE Distance >= 25"""
    ),
)
def setop_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all of chunks (`pl.concat`, core/extract.py:119) — in Spark a
    `unionByName`, which Catalyst collapses into parallel scans."""
    df = deliveries_from_orders(spark, sf_dir)
    low = df.where(F.col("Distance") < 25).select("Delivery_ID", F.lit("low").alias("part"))
    high = df.where(F.col("Distance") >= 25).select(
        "Delivery_ID", F.lit("high").alias("part")
    )
    return low.unionByName(high)


@query(
    "limit_preview",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 5",
)
def limit_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.head()` console preview (load.py:52) — sorted on the unique key
    so the limit is deterministic across partitions."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(5)
    )
