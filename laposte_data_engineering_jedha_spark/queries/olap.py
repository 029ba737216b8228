"""OLAP queries over the TPC-H-shaped tables: aggregates, multi-way joins,
top-k, window ranking, concentration and trend reports.

Cross-engine float discipline: every SUM over row-dependent doubles runs
through DECIMAL(18,4) internally (`_dsum`: exact and order-free, where a
double sum would depend on partition order) and casts to double at the end;
AVG is the quotient of two exact decimal aggregates, divided in double;
every LIMIT sorts on a unique key. Where the driver's slimmer schema lacks a
TPC-H column (no partsupp; no commit/receipt dates or shipmode), the
adaptation is documented on the query and keeps the shape that makes the
original interesting.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exprs
from ..operators import caches, merge, ranking
from . import _HV52, query, sort_report, spread_table, sql_round, table

_DEC = "decimal(18,4)"


def _dsum(col) -> F.Column:
    return F.sum(col.cast(_DEC))


@query(
    "olap_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
         / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
)
def olap_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass multi-aggregate scan. One shuffle over
    (returnflag, linestatus) — 6 groups — after map-side partial
    aggregation; the scan prunes to 5 columns and pushes the shipdate
    predicate into parquet."""
    # 5 decimal multiply-aggregates over a single-task scan at bench scale:
    # spread across cores (guide §2.5); decimal sums + counts are order-free
    # exact, and the shipdate predicate still pushes through the exchange
    # into the parquet scan
    li = spread_table(spark, sf_dir, "lineitem", key="l_orderkey").where(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).cast("double").alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).cast("double").alias("sum_base_price"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        (_dsum(F.col("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "olap_revenue_filter",
    """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
  AND l_quantity < CAST(24.0 AS DOUBLE)""",
)
def olap_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective scan -> global aggregate. All four
    predicates push down to the parquet reader (PushedFilters); the
    aggregate is a two-phase partial/final with no group keys."""
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "olap_topk_customers",
    """
SELECT c_custkey, c_mktsegment,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY c_custkey, c_mktsegment
ORDER BY revenue DESC, c_custkey LIMIT 10""",
)
def olap_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact-to-dim joins + grouped revenue + deterministic
    top-k. customer and (filtered) orders both broadcast, so lineitem — the
    only big table — never shuffles for the joins; the single exchange is
    the group-by on custkey, and the top-k is a TakeOrderedAndProject (no
    global sort materialization)."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


@query(
    "olap_rollup_revenue",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def olap_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (flag, status) -> (flag) -> grand total in one
    pass — Spark expands grouping sets map-side, so the scan is still
    single. NULL grouping markers match ANSI semantics in both engines.
    Spread (guide §2.5): the 3x grouping-set expand + decimal sum is pure
    per-row CPU on a 1-task scan at bench scale; order-free exact."""
    li = spread_table(spark, sf_dir, "lineitem", key="l_orderkey")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "olap_cube_counts",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       count(*) AS n_lines
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def olap_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (flag, status) with GROUPING markers — all 2^2 grouping
    sets in one scan; the grouping() bits disambiguate real NULL data from
    subtotal rows (both engines use identical ANSI semantics)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").alias("g_flag"),
        F.grouping("l_linestatus").alias("g_status"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "olap_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       count(*) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the per-dimension marginals + grand total
    WITHOUT the cross products a CUBE would compute: ((flag), (status),
    ()). One scan, map-side grouping-set expansion, GROUPING() markers
    disambiguate subtotal rows from real NULLs (ANSI semantics in both
    engines). Completes the rollup/cube/grouping-sets family."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping("l_returnflag").alias("g_flag"),
        F.grouping("l_linestatus").alias("g_status"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "olap_nation_share",
    """
WITH rev AS (
  SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS yr,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2)
SELECT n_name, yr, revenue,
       round((revenue / sum(revenue) OVER (PARTITION BY yr)) * 10000) / 10000
         AS share
FROM rev""",
)
def olap_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue share per ship year: the windowed-ratio
    OLAP pattern. Both dimension joins broadcast (supplier + nation are
    small sides), revenue aggregates through DECIMAL (order-free exact),
    and the share window runs over the tiny (nation x year) aggregate —
    the fact table shuffles exactly once, for its own groupBy."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", F.year("l_shipdate").alias("yr"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("yr")
    return rev.select(
        "n_name",
        "yr",
        "revenue",
        (F.round((F.col("revenue") / F.sum("revenue").over(w)) * 10000) / 10000).alias(
            "share"
        ),
    )


@query(
    "olap_above_class_avg",
    """
WITH w AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(avg(CAST(o_totalprice AS DECIMAL(18,4)))
              OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS class_avg
  FROM orders)
SELECT o_orderpriority, count(*) AS n_above,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS max_price
FROM w WHERE o_totalprice > class_avg
GROUP BY o_orderpriority""",
)
def olap_above_class_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate filter (orders above their priority class's
    average) via a window aggregate — the DataFrame form of a correlated
    scalar subquery. The class average aggregates DECIMAL internally so
    the comparison boundary is identical across engines and partition
    orders."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    avg_price = (
        F.avg(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
    )
    return (
        orders.withColumn("class_avg", avg_price)
        .where(F.col("o_totalprice") > F.col("class_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.max(F.col("o_totalprice").cast(_DEC)).cast("double").alias("max_price"),
        )
    )


@query(
    "olap_monthly_top_supplier",
    """
WITH rev AS (
  SELECT date_trunc('month', l_shipdate) AS ship_month, l_suppkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
  FROM lineitem GROUP BY 1, 2),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY ship_month
                         ORDER BY revenue DESC, l_suppkey) AS rnk
  FROM rev)
SELECT ship_month, l_suppkey, revenue FROM ranked WHERE rnk = 1""",
)
def olap_monthly_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ranking: revenue per (month, supplier), keep each month's
    top supplier. Group-by shuffle on (month, suppkey), then a window
    shuffle on month; rank ties broken by suppkey for determinism."""
    li = table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy(
            F.date_trunc("month", "l_shipdate").alias("ship_month"), "l_suppkey"
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("ship_month").orderBy(F.col("revenue").desc(), "l_suppkey")
    return (
        rev.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") == 1)
        .select("ship_month", "l_suppkey", "revenue")
    )


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_SQL_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


@query(
    "olap_shipping_priority",
    f"""
SELECT l_orderkey,
       CAST(sum({_SQL_REV}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the unshipped-orders shipping-priority list. Segment
    filter prunes customer BEFORE its join (pushed to the parquet scan),
    the date filters prune orders and lineitem scans; orders meets lineitem
    on the orderkey shuffle, customer rides a stats-based join (broadcast
    at small SF, shuffle at 100 TB — customer scales, no hint). Group by
    orderkey then deterministic top-10 via TakeOrderedAndProject (revenue
    ties broken by orderkey). o_orderpriority stands in for the schema's
    missing o_shippriority."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(_rev()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "olap_nation_trade_volume",
    f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum({_SQL_REV}) AS DOUBLE) AS volume,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3""",
)
def olap_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The nation-pair disjunction CANNOT be pushed below the joins (it
    spans the supplier side and the customer side), so the plan filters
    each side to the two-nation universe first — supplier and customer each
    pre-join their 25-row broadcast nation slice, shrinking both SCALING
    tables before the big orderkey/custkey shuffles — and applies the pair
    predicate after, on already-minimal rows. Four output groups."""
    lo, hi = "1996-01-01 00:00:00", "1998-01-01 00:00:00"
    nations = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            _dsum(_rev()).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "olap_product_margin",
    """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * CAST(0.6 AS DOUBLE) * l_quantity
                AS DECIMAL(18,4))) AS DOUBLE) AS margin
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2""",
)
def olap_product_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year. With no partsupp table, unit supply cost is proxied as
    p_retailprice * 0.6 (a fixed deterministic margin assumption — the
    SHAPE is the point: a part-name LIKE filter that can only prune AFTER
    the part scan, a five-way join where part joins before the wide
    revenue expression is computable, and a (nation, year) rollup).

    Scale notes: the LIKE '%red%' filter lands in the part scan
    (PushedFilters StringContains), shrinking the partkey join's build
    side; part SCALES with data so no hint (AQE decides); nation is the
    only hinted broadcast. Margin arithmetic stays in one DECIMAL sum so
    the subtraction can't wobble between engines."""
    part = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").contains("red"))
        .select("p_partkey", "p_retailprice")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = _rev() - F.col("p_retailprice") * F.lit(0.6) * F.col("l_quantity")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(amount).cast("double").alias("margin"))
    )


@query(
    "olap_late_lines_by_priority",
    """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus""",
)
def olap_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional (pivoted) counts of late shipments.
    The schema has no shipmode/commitdate/receiptdate, so "late" is
    l_shipdate > o_orderdate + 60 days (a cross-table inequality that —
    like the original receipt/commit comparison — only evaluates AFTER the
    orderkey join, as a join residual) and l_linestatus stands in for
    shipmode. The CASE sums are the classic one-pass pivot: one aggregate,
    two conditional counters, no second scan. Timestamp + INTERVAL is
    exact integer math in both engines."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate", "l_linestatus")
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "olap_order_count_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",
)
def olap_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    INCLUDING zero-order customers — which forces a LEFT OUTER join (an
    inner join would drop them) with the status filter INSIDE the join
    condition (in a WHERE it would silently turn the outer join inner:
    the classic Q13 trap, o_comment in the original). count(o_orderkey)
    counts non-null matches only, so the null-extended rows land in the
    c_count=0 bucket. Two aggregates: per-customer (reuses the join's
    custkey partitioning — zero extra Exchange) then the tiny histogram."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") != "P")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "olap_promo_revenue_share",
    f"""
SELECT CAST(100.0 AS DOUBLE)
         * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_SQL_REV}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum({_SQL_REV}) AS DOUBLE) AS promo_share_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-02-01 00:00:00'""",
)
def olap_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the share of one month's revenue from promotional
    parts — a conditional sum over a join, emitted as a single-row ratio.
    Both the numerator and denominator come out of ONE aggregate pass
    (no second scan, no self-join); both sums are DECIMAL-exact and the
    division happens once in double, so the percentage is bit-stable
    across partitionings. The month filter prunes the lineitem scan before
    the partkey join (part scales — no broadcast hint)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-02-01 00:00:00").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev().cast(_DEC)).otherwise(
        F.lit(0).cast(_DEC)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / _dsum(_rev()).cast("double")
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "olap_top_supplier",
    f"""
WITH rev AS (
  SELECT l_suppkey, sum({_SQL_REV}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
  GROUP BY l_suppkey),
mx AS (SELECT max(total_rev) AS max_rev FROM rev)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
CROSS JOIN mx
WHERE total_rev = max_rev
ORDER BY s_suppkey""",
)
def olap_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the quarter's maximum
    revenue — an aggregated view compared against its own scalar max.
    The max is a one-row aggregate CROSS-JOINED back with an explicit
    broadcast (never a driver collect), and the equality compares
    DECIMAL against DECIMAL — both engines' decimal sums are exact, so
    the tie set is identical by construction (comparing post-cast doubles
    would be the cross-engine trap). Supplier joins after the aggregate —
    per-supplier rows, not per-line. Ties all surface, ordered by key."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-04-01 00:00:00").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(_dsum(_rev()).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
        .orderBy("s_suppkey")
    )


@query(
    "olap_part_supplier_counts",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 7, 14, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < CAST(0.0 AS DOUBLE))
GROUP BY p_brand, p_type, p_size""",
)
def olap_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many qualified suppliers can furnish each
    (brand, type, size) bucket. The part-supplier relation is derived as
    DISTINCT (l_partkey, l_suppkey) from lineitem (the schema has no
    partsupp); the excluded-supplier subquery (negative account balance
    standing in for Q16's complaint comment) becomes a LEFT ANTI join.

    Scale notes: the distinct collapses the big fact table to the far
    smaller relation FIRST (one shuffle on the pair), the anti join's
    build side is the filtered supplier key list, the part predicates
    (<>, IN) all push to the part scan, and count(DISTINCT) expands
    inside one aggregate. NOT IN's null trap doesn't apply (keys are
    non-null by construction) so anti join is semantics-exact."""
    ps = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#9")
            & (F.col("p_type") != "PROMO")
            & (F.col("p_size").isin(1, 7, 14, 23, 36, 45))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        ps.join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "olap_large_volume_customers",
    """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > CAST(250.0 AS DOUBLE))
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
)
def olap_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers who placed jumbo orders (sum of line
    quantities over a threshold). The IN-subquery-over-HAVING becomes an
    aggregate-then-join: group lineitem by orderkey FIRST (collapsing the
    fact table before any join — sum(l_quantity) is the driver's doubles,
    but each is a small exact integer-valued double, so the sum is exact
    in both engines), keep the HAVING survivors (~0.1%), and only then
    join orders and customer. Joining before aggregating would shuffle the
    full fact table against orders for rows that mostly get discarded.
    Deterministic top-25 (price ties broken by orderkey)."""
    big = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250.0)
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@query(
    "olap_brand_band_revenue",
    f"""
SELECT CAST(sum({_SQL_REV}) AS DOUBLE) AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= CAST(1.0 AS DOUBLE)  AND l_quantity <= CAST(15.0 AS DOUBLE))
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       AND l_quantity >= CAST(10.0 AS DOUBLE) AND l_quantity <= CAST(25.0 AS DOUBLE))
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity >= CAST(20.0 AS DOUBLE) AND l_quantity <= CAST(35.0 AS DOUBLE))""",
)
def olap_brand_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive brand/size/quantity
    bands — the classic OR-of-ANDs join predicate. Naively this is a join
    residual only; the rewrite that matters at scale (and that Catalyst
    derives itself from the CNF — verified in the plan) is that the
    PER-TABLE implications push down: p_brand IN (1,2,3) + size >= 1 prune
    the part scan and quantity BETWEEN 1 AND 35 prunes the lineitem scan
    BEFORE the join; only the cross-table band pairing evaluates as a
    residual. Single-row conditional aggregate output."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= 1.0) & (F.col("l_quantity") <= 15.0)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & (F.col("l_quantity") >= 10.0) & (F.col("l_quantity") <= 25.0)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & (F.col("l_quantity") >= 20.0) & (F.col("l_quantity") <= 35.0)
        )
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .where(band)
        .agg(
            _dsum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "olap_waiting_suppliers",
    """
WITH stats AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                             THEN l_suppkey END) AS n_late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey),
late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
SELECT s_name, count(*) AS numwait
FROM late
JOIN stats USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20""",
)
def olap_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order. The original's correlated EXISTS (some
    other supplier on the order) + NOT EXISTS (no other LATE supplier) is
    re-expressed as ONE aggregate over the order — count distinct
    suppliers and distinct late suppliers per orderkey — followed by a
    filter (n_supp >= 2, n_late_supp = 1). That turns two correlated
    self-joins of the biggest table into a single reduction plus a slim
    rejoin of the late pairs; at 100 TB both lineitem passes share the
    same orderkey shuffle shape. "Late" = shipped > 90 days after the
    order date (schema has no commit/receipt dates). Deterministic
    top-20."""
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    stats = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(is_late, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    late = joined.where(is_late).select("l_orderkey", "l_suppkey").distinct()
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late.join(stats, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "olap_regional_min_price_supplier",
    """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         round(min(l_extendedprice / l_quantity) * 10000) / 10000 AS unit_price
  FROM lineitem
  WHERE l_quantity > CAST(0.0 AS DOUBLE)
  GROUP BY 1, 2),
eu AS (
  SELECT o.l_partkey, o.l_suppkey, o.unit_price, s_name, n_name
  FROM offers o
  JOIN supplier ON o.l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
best AS (SELECT l_partkey, min(unit_price) AS best_price FROM eu GROUP BY 1)
SELECT p_partkey, p_name, s_name, n_name, unit_price
FROM eu
JOIN best USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE unit_price = best_price AND p_size = 15
ORDER BY p_partkey, s_name""",
)
def olap_regional_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each size-15 part, the European supplier(s)
    quoting the minimum unit price — the correlated-min-subquery pattern.
    The offer table is derived from lineitem (min observed unit price per
    part/supplier pair; no partsupp in this schema), restricted to the
    region BEFORE the min (the correlation in Q2 is region-scoped), and
    the correlated `= (SELECT min ...)` becomes a per-part min aggregate
    joined back on partkey. Unit prices quantize through the repo's
    round(x*10000)/10000 double convention (see queries/__init__ module
    docstring; CAST-to-DECIMAL rounds HALF_UP in Spark but not in DuckDB)
    so the min-equality tie set is engine-exact — raw double division
    would make `=` a cross-engine coin flip. Supplier/nation/region prune
    the offer side before the per-part min, part's size filter prunes the
    final join."""
    offers = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 0.0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 10000)
                / 10000
            ).alias("unit_price")
        )
    )
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation = table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    eu = offers.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    best = eu.groupBy("l_partkey").agg(F.min("unit_price").alias("best_price"))
    part = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    return (
        eu.join(best, "l_partkey")
        .where(F.col("unit_price") == F.col("best_price"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("unit_price").cast("double").alias("unit_price"),
        )
        .orderBy("p_partkey", "s_name")
    )


@query(
    "olap_important_parts",
    """
WITH vol AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4))
           AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey),
tot AS (SELECT CAST(sum(part_value) * CAST(0.001 AS DECIMAL(18,4)) AS DECIMAL(38,8))
          AS threshold FROM vol)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM vol CROSS JOIN tot
WHERE part_value > threshold
ORDER BY part_value DESC, l_partkey""",
)
def olap_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant fraction of one
    nation's total supplied value — a GROUP BY whose HAVING compares
    against a scalar aggregate OF THE SAME grouped view (sum-over-sum
    with a fraction). partsupp value is proxied by shipped revenue per
    part from that nation's suppliers.

    The grouped view computes once; the total re-aggregates the (already
    tiny) per-part rows — Spark evaluates the reused subtree twice, but
    the second pass runs over the aggregate's output, not the fact
    table. The threshold stays DECIMAL end-to-end (sum * 0.001 exact at
    scale 8), so the > comparison has no float ambiguity; the output cast
    to double happens after the filter. Nation filter prunes supplier
    BEFORE the big join."""
    nation = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(_dsum(_rev()).cast("decimal(38,4)").alias("part_value"))
    )
    tot = vol.agg(
        (F.sum("part_value") * F.lit(0.001).cast(_DEC))
        .cast("decimal(38,8)")
        .alias("threshold")
    )
    return (
        vol.crossJoin(F.broadcast(tot))
        .where(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@query(
    "olap_bulk_part_suppliers",
    """
WITH bulk AS (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > CAST(45.0 AS DOUBLE))
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM bulk)
ORDER BY s_suppkey""",
)
def olap_bulk_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved bulk volume of a part family
    in one year — an IN-subquery over a GROUP BY ... HAVING on the fact
    table (the original's availqty comparison, re-anchored to shipped
    quantity; same nesting: name-filtered parts -> per-(supplier, part)
    volume -> qualifying-supplier set -> supplier/nation projection).

    Plan: part's LIKE filter and lineitem's year filter prune their scans,
    the (suppkey, partkey) aggregate collapses the fact table, and the IN
    becomes a LEFT SEMI join of supplier against the distinct qualifying
    keys — supplier never joins the raw fact table. sum(l_quantity) is a
    sum of small integer-valued doubles (exact in IEEE), so the HAVING
    threshold is engine-stable."""
    part = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    bulk = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 45.0)
        .select("l_suppkey")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(bulk, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@query(
    "olap_yearly_growth",
    f"""
WITH yearly AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT o_year, revenue, n_orders,
       round(CASE WHEN lag(revenue) OVER (ORDER BY o_year) IS NULL THEN NULL
                  ELSE (revenue / lag(revenue) OVER (ORDER BY o_year)
                        - CAST(1.0 AS DOUBLE)) END * 10000) / 10000
         AS yoy_growth
FROM yearly""",
)
def olap_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth — the canonical reporting window
    (aggregate to one row per year, then lag over the year order). The
    window runs over a handful of pre-aggregated rows, so the global
    ordering costs nothing (the same reporting-scale trade as
    olap_customer_quartiles); the growth ratio divides two DECIMAL-exact
    sums post-cast and quantizes r4 — with lag NULL (first year) kept
    NULL, not zero."""
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    yearly = orders.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = W.orderBy("o_year")
    growth = F.col("revenue") / F.lag("revenue").over(w) - 1.0
    return yearly.select(
        "o_year",
        "revenue",
        "n_orders",
        (F.round(growth * 10000) / 10000).alias("yoy_growth"),
    )


@query(
    "olap_local_supplier_volume",
    """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name""",
)
def olap_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the six-way join — lineitem x orders x customer x
    supplier x nation x region with the 'local' c_nationkey = s_nationkey
    restriction — grouped into per-nation revenue.

    Plan at scale: lineitem and orders are the two big tables and meet on a
    shuffle (or pre-bucketed) equi-join on orderkey; customer joins on
    custkey. Only nation (25 rows) and region (5 rows) carry explicit
    broadcast hints — they are FIXED-size dimensions. supplier and customer
    SCALE with the data (TPC-H: SF x 10k / SF x 150k rows), so hinting them
    would OOM a 100 TB run the same way the round-3 tf-idf term broadcast
    would have; instead Catalyst's size estimate broadcasts them at small SF
    and AQE falls back to shuffle joins at scale. region's r_name filter
    still prunes nation->supplier transitively BEFORE the big join, and the
    c_nationkey = s_nationkey predicate rides the customer join as part of
    its key (no extra shuffle). One final 5-group aggregate."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp.select("s_suppkey", "s_nationkey", "n_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(cust, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "olap_returned_items",
    """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def olap_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last half-year.
    Returned lineitems (l_returnflag='R' pushed to the parquet scan) join
    date-filtered orders on orderkey, then customer (stats-based broadcast
    at small SF, shuffle join at scale — customer is SF x 150k rows, NOT
    hint-broadcastable at 100 TB) and nation (25 rows, hinted), grouped per
    customer, deterministic top-20 via TakeOrderedAndProject (ties on
    revenue broken by custkey)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-07-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "olap_order_priority",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority""",
)
def olap_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (one quarter) that have at least one lineitem
    shipped strictly after the order date, counted per priority. The EXISTS
    becomes a LEFT SEMI join whose equi-part (orderkey) hashes and whose
    inequality (l_shipdate > o_orderdate) rides as a residual join filter —
    no pair explosion, no distinct needed (semi join emits each order at
    most once)."""
    orders = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "olap_top_balance_no_orders",
    """
WITH thr AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > CAST(0.0 AS DOUBLE))
SELECT c_mktsegment, count(*) AS n_cust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer CROSS JOIN thr
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment""",
)
def olap_top_balance_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers who never ordered — a scalar
    aggregate subquery feeding a filter, plus a NOT EXISTS anti join.

    The scalar threshold is a one-row aggregate CROSS-JOINED with an
    explicit broadcast (one row is the one always-safe broadcast), NOT a
    driver collect — the value never leaves the cluster. The NOT EXISTS is
    a LEFT ANTI hash join on custkey against the orders key column only.
    The average is the quotient of a DECIMAL-exact sum and a count, so
    partition order can't move the threshold between engines."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    thr = cust.where(F.col("c_acctbal") > 0.0).agg(
        (_dsum(F.col("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _dsum(F.col("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


@query(
    "olap_cdc_merge",
    """
WITH changes AS (
  -- deterministic CDC batch derived from orders: delete keys = 0 mod 10,
  -- update keys = 1 or 2 mod 10 (price * 1.1, status 'U'), insert = key 7
  -- mod 10 re-keyed +10^9. Two seq rows for updates prove last-writer-wins.
  SELECT o_orderkey AS k, 'D' AS op, 1 AS seq, NULL AS price, NULL AS status
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'U', 1, o_totalprice, 'STALE'
  FROM orders WHERE o_orderkey % 10 IN (1, 2)
  UNION ALL
  SELECT o_orderkey, 'U', 2, round(o_totalprice * CAST(1.1 AS DOUBLE) * 100) / 100, 'U'
  FROM orders WHERE o_orderkey % 10 IN (1, 2)
  UNION ALL
  SELECT o_orderkey + 1000000000, 'I', 1, o_totalprice, 'I'
  FROM orders WHERE o_orderkey % 10 = 7),
latest AS (
  SELECT k, op, price, status FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op) AS rn
    FROM changes) WHERE rn = 1),
merged AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey NOT IN (SELECT k FROM latest)
  UNION ALL
  SELECT k, price, status FROM latest WHERE op <> 'D')
SELECT count(*) AS n_rows,
       CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
       count(DISTINCT status) AS n_statuses,
       min(k) AS min_key, max(k) AS max_key
FROM merged""",
)
def olap_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics end-to-end (operators/merge.py apply_changes):
    a deterministic CDC batch — deletes, two-generation updates (proving
    last-writer-wins inside the batch), and re-keyed inserts, all derived
    arithmetically from orders so the oracle can rebuild the identical
    batch — applied to the orders snapshot; the query emits the merged
    snapshot's checksum row (count + DECIMAL-exact price mass + key span).

    Shape at scale: one per-key window over the CHANGE batch (small), one
    anti join + unionByName on the snapshot (key-partitioned; zero
    Exchange when the snapshot is bucketed per operators/layout.py), one
    final aggregate for the checksum."""
    from ..operators import merge as m

    orders = table(spark, sf_dir, "orders")
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    mod = F.col("o_orderkey") % 10
    deletes = orders.where(mod == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(1).alias("seq"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("string").alias("status"),
    )
    upd1 = orders.where(mod.isin(1, 2)).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.lit("STALE").alias("status"),
    )
    upd2 = orders.where(mod.isin(1, 2)).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
        (F.round(F.col("o_totalprice") * 1.1 * 100) / 100).alias("price"),
        F.lit("U").alias("status"),
    )
    ins = orders.where(mod == 7).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("k"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.lit("I").alias("status"),
    )
    changes = deletes.unionByName(upd1).unionByName(upd2).unionByName(ins)
    merged = m.apply_changes(snap, changes.select("k", "price", "status", "op", "seq"), ["k"])
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,4)")).cast("double").alias("total_price"),
        F.countDistinct("status").alias("n_statuses"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


@query(
    "olap_customer_quartiles",
    """
WITH rev AS (
  SELECT c_custkey, c_mktsegment,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_mktsegment),
ranked AS (
  SELECT *, ntile(4) OVER (ORDER BY spend DESC, c_custkey) AS quartile
  FROM rev)
SELECT c_mktsegment, quartile, count(*) AS n_cust,
       CAST(sum(CAST(spend AS DECIMAL(18,4))) AS DOUBLE) AS segment_spend
FROM ranked
GROUP BY c_mktsegment, quartile""",
)
def olap_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend quartiles crossed with market segment — the
    ntile/percentile-band window shape (value-tier reporting, LTV-decile
    features). ntile over (spend DESC, custkey) is fully deterministic
    because the sort key is unique; DECIMAL-exact spend sums on both
    engines make the quartile boundaries identical.

    Scale note (r9): the tiles come from ranking.exact_ntile — two-pass
    partition-offset ranking, bit-identical to the oracle's global ntile
    but with no single-partition window: no task sorts more than ~N/P of
    the customer-grain relation, so the shape survives per-row feature
    generation grains too. For approximate banding with zero extra
    shuffle see ranking.percentile_bands."""
    from ..operators import ranking

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("spend")
        )
    )
    return (
        ranking.exact_ntile(
            rev, 4, F.col("spend").desc(), "c_custkey", band_col="quartile"
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("spend").cast("decimal(18,4)")).cast("double").alias("segment_spend"),
        )
    )


_SCD2_SQL = """
WITH keys AS (SELECT o_orderkey AS k, o_totalprice AS p0,
                     CAST(o_orderdate AS DATE) AS d0
              FROM orders WHERE o_orderkey % 20 = 3),
vers AS (SELECT k, CAST(v.range AS INT) AS version,
                CASE WHEN v.range = 0 THEN p0
                     ELSE round(p0 * (100 + 5 * CAST(v.range AS INT))) / 100
                END AS price,
                d0 + CAST(v.range AS INT) AS valid_from
         FROM keys CROSS JOIN range(0, 4) v)
SELECT k, version, price, valid_from,
       lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from) AS valid_to,
       lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from) IS NULL
         AS is_current
FROM vers"""


@query("olap_scd2_history", _SCD2_SQL)
def olap_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/merge.py scd2_history) from
    a deterministic version stream: every 20th order gets 4 price
    versions (base + 5%-step repricings effective on consecutive days);
    the operator emits half-open [valid_from, valid_to) validity
    intervals with `is_current` on the open one. The history build is ONE
    per-key window — each key's version list is bounded by change
    frequency, so the single key Exchange is the whole cost at any
    scale. Complements olap_cdc_merge (latest-snapshot MERGE) with the
    keep-history half of CDC ingestion."""
    orders = table(spark, sf_dir, "orders")
    keys = orders.where(F.col("o_orderkey") % 20 == 3).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p0"),
        F.col("o_orderdate").cast("date").alias("d0"),
    )
    vers = keys.select(
        "k", "p0", "d0", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("version")
    ).select(
        "k",
        "version",
        F.when(F.col("version") == 0, F.col("p0"))
        .otherwise(
            F.round(F.col("p0") * (F.lit(100) + F.lit(5) * F.col("version"))) / 100
        )
        .alias("price"),
        F.date_add("d0", F.col("version")).alias("valid_from"),
    )
    return merge.scd2_history(vers, ["k"], "valid_from")


_SCD2_JOIN_SQL = """
WITH keys AS (SELECT o_orderkey AS k, o_totalprice AS p0,
                     CAST(o_orderdate AS DATE) AS d0
              FROM orders WHERE o_orderkey % 20 = 3),
vers AS (SELECT k, CAST(v.range AS INT) AS version,
                CASE WHEN v.range = 0 THEN p0
                     ELSE round(p0 * (100 + 5 * CAST(v.range AS INT))) / 100
                END AS price,
                d0 + CAST(v.range AS INT) AS valid_from
         FROM keys CROSS JOIN range(0, 4) v),
dim AS (SELECT k, version, price, valid_from,
               lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from)
                 AS valid_to
        FROM vers)
SELECT l.l_orderkey AS k, l.l_linenumber, d.version,
       CAST(l.l_quantity AS BIGINT) AS qty,
       round(d.price * CAST(l.l_quantity AS BIGINT) * 100) / 100
         AS at_ship_value
FROM lineitem l JOIN dim d
  ON l.l_orderkey = d.k
 AND CAST(l.l_shipdate AS DATE) >= d.valid_from
 AND (d.valid_to IS NULL OR CAST(l.l_shipdate AS DATE) < d.valid_to)"""


@query("olap_scd2_at_ship_price", _SCD2_JOIN_SQL)
def olap_scd2_at_ship_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUMING half of SCD2: price each lineitem at the dimension
    version valid on its ship date — equi join on the dimension key with
    a half-open [valid_from, valid_to) containment residual, the standard
    warehouse fact-to-history join (at most ONE dim row matches per fact
    row by interval disjointness, proven by olap_scd2_history's
    partition-timeline test). Scale shape: a key-partitioned sort-merge
    join where the interval predicate is a cheap residual filter — never
    a range cross join — and the dimension side is versions-per-key
    small. Value math: price is 2-decimal by construction and quantity
    integral, so price*qty carries at most 2 decimals — the shared
    round(x*100)/100 convention is exact on it."""
    from ..operators import merge

    orders = table(spark, sf_dir, "orders")
    keys = orders.where(F.col("o_orderkey") % 20 == 3).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p0"),
        F.col("o_orderdate").cast("date").alias("d0"),
    )
    vers = keys.select(
        "k", "p0", "d0", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("version")
    ).select(
        "k",
        "version",
        F.when(F.col("version") == 0, F.col("p0"))
        .otherwise(
            F.round(F.col("p0") * (F.lit(100) + F.lit(5) * F.col("version"))) / 100
        )
        .alias("price"),
        F.date_add("d0", F.col("version")).alias("valid_from"),
    )
    dim = merge.scd2_history(vers.select("k", "version", "price", "valid_from"), ["k"]).drop(
        "is_current"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return (
        li.join(
            dim,
            (li["l_orderkey"] == dim["k"])
            & (li["ship"] >= dim["valid_from"])
            & (dim["valid_to"].isNull() | (li["ship"] < dim["valid_to"])),
        )
        .select(
            F.col("l_orderkey").alias("k"),
            "l_linenumber",
            "version",
            "qty",
            (F.round(F.col("price") * F.col("qty") * 100) / 100).alias(
                "at_ship_value"
            ),
        )
    )


_IVM_SQL = """
WITH changes AS (
  SELECT o_orderkey AS k, 'D' AS op, 1 AS seq, NULL AS price, NULL AS status
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'U', 1, o_totalprice, 'STALE'
  FROM orders WHERE o_orderkey % 10 IN (1, 2)
  UNION ALL
  SELECT o_orderkey, 'U', 2, round(o_totalprice * CAST(1.1 AS DOUBLE) * 100) / 100, 'U'
  FROM orders WHERE o_orderkey % 10 IN (1, 2)
  UNION ALL
  SELECT o_orderkey + 1000000000, 'I', 1, o_totalprice, 'I'
  FROM orders WHERE o_orderkey % 10 = 7),
latest AS (
  SELECT k, op, price, status FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op) AS rn
    FROM changes) WHERE rn = 1),
merged AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey NOT IN (SELECT k FROM latest)
  UNION ALL
  SELECT k, price, status FROM latest WHERE op <> 'D')
SELECT status, count(*) AS n_rows,
       CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM merged GROUP BY status"""


@query("olap_ivm_agg", _IVM_SQL)
def olap_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/merge.py
    incremental_agg_update): a materialized per-status (count, decimal
    revenue) aggregate is DELTA-MAINTAINED under the same deterministic
    CDC batch as olap_cdc_merge — old rows of touched keys contribute
    negatively (semi join on change keys; the snapshot is never
    re-scanned in full), surviving new rows positively, and the stored
    aggregate absorbs the delta through a tiny full-outer combine. The
    oracle RECOMPUTES the aggregate from the merged snapshot, so the
    hash row is the delta-apply == full-recompute proof — including
    groups that only exist after the batch ('U', 'I') and exact decimal
    totals."""
    from ..operators import merge as m

    orders = table(spark, sf_dir, "orders")
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    mod = F.col("o_orderkey") % 10
    deletes = orders.where(mod == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(1).alias("seq"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("string").alias("status"),
    )
    upd1 = orders.where(mod.isin(1, 2)).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.lit("STALE").alias("status"),
    )
    upd2 = orders.where(mod.isin(1, 2)).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
        (F.round(F.col("o_totalprice") * 1.1 * 100) / 100).alias("price"),
        F.lit("U").alias("status"),
    )
    ins = orders.where(mod == 7).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("k"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.lit("I").alias("status"),
    )
    changes = deletes.unionByName(upd1).unionByName(upd2).unionByName(ins)
    base_agg = snap.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,4)")).alias("total_dec"),
    )
    out = m.incremental_agg_update(
        base_agg, snap, changes, ["k"], "status", "price"
    )
    return out.select(
        "status", "n_rows", F.col("total_dec").cast("double").alias("total_price")
    )


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_tax
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_tax', sum_tax FROM wide"""


@query("olap_unpivot_metrics", _UNPIVOT_SQL)
def olap_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): a wide per-returnflag aggregate reshaped to long
    (flag, metric, value) rows via the native `DataFrame.unpivot`
    (Expand under the hood — each input row fans to |metrics| rows
    map-side, no shuffle beyond the aggregate that built the wide
    relation). The long form is what metric stores and plotting layers
    ingest; the oracle states the ANSI equivalent as stacked UNION ALL
    over the same wide CTE. Completes the reshape family next to
    events_pivot_type_counts (pivot/wide) — pivot and unpivot round-trip
    by construction."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_tax").cast("decimal(18,4)")).cast("double").alias("sum_tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# Per-nation monthly revenue with the running share of the nation's total —
# DECIMAL-exact cumulative window (partition-order-immune), ONE double division
# at the end.
@query(
    "olap_cumulative_revenue_share",
    """
WITH m AS (
  SELECT n_name,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('month', l_shipdate))
SELECT n_name, month,
       CAST(rev AS DOUBLE) AS revenue,
       round((CAST(sum(rev) OVER (PARTITION BY n_name ORDER BY month
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)
              / CAST(sum(rev) OVER (PARTITION BY n_name) AS DOUBLE)) * 10000)
         / 10000 AS cum_share
FROM m
""",
)
def olap_cumulative_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running share of each supplier nation's revenue by ship month —
    the 'how far through the year are we' finance view. Revenue
    accumulates as DECIMAL inside both windows (cumulative + total), so
    no partition or frame order can perturb low bits; the single
    decimal->double division is rounded at 4 decimals. One shuffle keyed
    on n_name serves both windows."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    m = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
            .alias("rev")
        )
    )
    wcum = (
        Window.partitionBy("n_name")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("n_name")
    return m.select(
        "n_name",
        "month",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.round(
                (
                    F.sum("rev").over(wcum).cast("double")
                    / F.sum("rev").over(wall).cast("double")
                )
                * 10000
            )
            / 10000
        ).alias("cum_share"),
    )


@query(
    "olap_supplier_hhi",
    """
WITH s AS (
  SELECT n_name, l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey)
SELECT n_name,
       count(*) AS n_suppliers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round((CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
              / (CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)))
             * 10000 * 10000) / 10000 AS hhi
FROM s GROUP BY n_name
""",
)
def olap_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    nation (0..10000 scale; >2500 = highly concentrated — the
    single-point-of-failure supply report). Per-supplier revenue is
    integer cents; the squared mass sums in DECIMAL(38,0) so it is exact
    and order-free; HHI is one final double expression rounded at 4
    decimals. Two map-side-combined aggregates over one (nation,
    supplier) shuffle."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    s = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    sq = F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
    tot = F.sum("cents")
    return s.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        tot.cast("long").alias("total_cents"),
        (
            F.round(
                (sq.cast("double") / (tot.cast("double") * tot.cast("double")))
                * 10000
                * 10000
            )
            / 10000
        ).alias("hhi"),
    )


# ABC / Pareto inventory bands (A = parts covering the first 80% of cumulative
# revenue, B to 95%, C the tail) — DECIMAL-exact cumulative shares, band cut on
# exact values (no rounding before the CASE), per-band rollup.
@query(
    "olap_abc_classification",
    """
WITH p AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY l_partkey),
r AS (
  SELECT l_partkey, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(sum(rev) OVER () AS DOUBLE) AS cum_share
  FROM p),
b AS (
  SELECT rev,
         CASE WHEN cum_share <= CAST(0.8 AS DOUBLE) THEN 'A'
              WHEN cum_share <= CAST(0.95 AS DOUBLE) THEN 'B'
              ELSE 'C' END AS band
  FROM r)
SELECT band, count(*) AS n_parts,
       CAST(sum(rev) AS DOUBLE) AS band_revenue
FROM b GROUP BY band
""",
)
def olap_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank parts by
    revenue (DECIMAL-exact, partkey tiebreak), take the running share of
    total, and band at 80% / 95% — the classic inventory-priority split
    ('A' parts get the warehouse slots). The cumulative window compares
    EXACT decimal-derived doubles, so the band cut can't flip on engine
    rounding. Scale shape (r9): the running sum comes from
    ranking.global_prefix_sum — partition-offset prefix sums over the
    range-partitioned part relation, bit-identical to the global window
    for DECIMAL (exact associative adds) with no single-partition sort;
    the total is a broadcast 1-row aggregate."""
    from ..operators import ranking

    li = table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)).alias(
            "rev"
        )
    )
    total = p.agg(F.sum("rev").alias("total"))
    r = (
        ranking.global_prefix_sum(
            p, "rev", F.col("rev").desc(), "l_partkey", out_col="cum_rev"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "rev",
            (F.col("cum_rev").cast("double") / F.col("total").cast("double")).alias(
                "cum_share"
            ),
        )
    )
    band = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        r.select("rev", band.alias("band"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").cast("double").alias("band_revenue"),
        )
    )


@query(
    "olap_ship_cycle_percentiles",
    """
WITH lag AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT priority, count(*) AS n_lines,
       quantile_cont(lag_days, 0.5) AS p50_days,
       quantile_cont(lag_days, 0.95) AS p95_days,
       CAST(max(lag_days) AS BIGINT) AS max_days
FROM lag GROUP BY priority
""",
)
def olap_ship_cycle_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle time (days between order date and line ship
    date) percentiles per order priority — the fulfillment SLA readout.
    Lags are integer days, so the exact interpolated percentiles are
    dyadic rationals both engines agree on bit-for-bit (the
    events_value_quantiles convention). The join shuffles on orderkey
    once; the percentile groups are |priorities|-sized."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    return lag.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("percentile(lag_days, 0.5)").alias("p50_days"),
        F.expr("percentile(lag_days, 0.95)").alias("p95_days"),
        F.max("lag_days").cast("long").alias("max_days"),
    )


_TOP = 20


# Olap_basket_affinity mines pairwise co-purchase rules over orders: support /
# confidence / lift for part-brand pairs appearing in the same order. Brands
# (not raw parts) keep the pair space dense enough to rank on the fixture AND
# bound the blow-up the same way at any scale: the per-order pair fan-out is
# C(brands_in_order, 2), and brands_in_order is small by construction of real
# baskets. All counts integral; the three ratios are final double expressions
# rounded at 6 decimals.
@query(
    "olap_basket_affinity",
    f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey),
n AS (SELECT count(DISTINCT o) AS n_orders FROM b),
s AS (SELECT brand, count(*) AS n FROM b GROUP BY brand),
pr AS (
  SELECT a.brand AS brand_a, c.brand AS brand_b, count(*) AS n_ab
  FROM b a JOIN b c ON a.o = c.o AND a.brand < c.brand
  GROUP BY a.brand, c.brand)
SELECT brand_a, brand_b, n_ab,
       round((CAST(n_ab AS DOUBLE) / n.n_orders) * 1000000) / 1000000 AS support,
       round((CAST(n_ab AS DOUBLE) / sa.n) * 1000000) / 1000000 AS confidence,
       round(((CAST(n_ab AS DOUBLE) * n.n_orders) / (CAST(sa.n AS DOUBLE) * sb.n))
             * 1000000) / 1000000 AS lift
FROM pr
JOIN s sa ON pr.brand_a = sa.brand
JOIN s sb ON pr.brand_b = sb.brand
CROSS JOIN n
ORDER BY n_ab DESC, brand_a, brand_b
LIMIT {_TOP}
""",
)
def olap_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOP} co-purchase association rules at brand grain: support
    P(a,b), confidence P(b|a), and lift P(a,b)/(P(a)P(b)) over distinct
    (order, brand) baskets, deterministic (count desc, brands asc)
    tie-break. The pair join is per-order self-join — fan-out bounded by
    the basket's own brand count squared, never by catalog size; the
    scalar order-total and the brand-count side are broadcast. Counts
    stay integral; each ratio is one final double expression rounded at
    6 decimals."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    # r13 optimization (guide §2.4): b feeds FOUR consumers (order total,
    # brand counts, both pair-join sides) — persist pre-partitioned on the
    # pair-join key. Stats-gated on the lineitem scan estimate; a 100 TB
    # fact table keeps the recompute plan.
    if caches.is_small(li):
        b = caches.track(b.repartition("o").persist())
    n = b.agg(F.count_distinct("o").alias("n_orders"))
    s = b.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    a2 = b.select(F.col("o"), F.col("brand").alias("brand_b"))
    pr = (
        b.join(a2, "o")
        .where(F.col("brand") < F.col("brand_b"))
        .groupBy(F.col("brand").alias("brand_a"), "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = s.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    r6 = lambda c: F.round(c * 1000000) / 1000000
    return (
        pr.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            r6(F.col("n_ab").cast("double") / F.col("n_orders")).alias("support"),
            r6(F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
            r6(
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(_TOP)
    )


# Per-brand Pearson correlation between discount (basis points) and quantity —
# the price-elasticity proxy, reusing the integer-exact grouped-moments recipe
# from corpus_length_vs_norm_corr (every moment integral in DECIMAL(38), one
# final double expression per group, degenerate groups NULL by explicit CASE).
@query(
    "olap_discount_quantity_corr",
    """
WITH j AS (
  SELECT p_brand AS brand,
         CAST(round(l_discount * 10000) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey),
m AS (
  SELECT brand,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM j GROUP BY brand)
SELECT brand, CAST(n AS BIGINT) AS n_lines,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
            ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
                        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000)
                 / 1000000 END AS pearson_r
FROM m
""",
)
def olap_discount_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation between discount (snapped to integer
    basis points) and quantity — the elasticity proxy a pricing team
    watches (positive r = discounts move volume for that brand). Grouped
    version of the integer-exact moments recipe: all five sums integral
    in DECIMAL(38,0), one final double expression per brand, zero-
    variance groups NULL by explicit CASE on both engines. One
    (brand)-keyed aggregate after a broadcast part join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_discount") * 10000).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"), "x", "y"
    )
    dec = "decimal(38,0)"
    m = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    num = (n * F.col("sxy") - sx * sy).cast("double")
    r = num / F.sqrt(vx.cast("double") * vy.cast("double"))
    return m.select(
        "brand",
        n.cast("long").alias("n_lines"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
        .otherwise(F.round(r * 1000000) / 1000000)
        .alias("pearson_r"),
    )


# ========================= one-pass correlation matrix =======================

_CORR_COLS = [
    ("quantity", "CAST(l_quantity AS BIGINT)"),
    ("extendedprice", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("discount", "CAST(round(l_discount * 10000) AS BIGINT)"),
    ("tax", "CAST(round(l_tax * 10000) AS BIGINT)"),
]

_CORR_PAIRS = [
    (i, j) for i in range(len(_CORR_COLS)) for j in range(len(_CORR_COLS)) if i < j
]


def _corr_matrix_sql() -> str:
    proj = ", ".join(f"{expr} AS x{i}" for i, (_, expr) in enumerate(_CORR_COLS))
    sums = ["CAST(count(*) AS DECIMAL(38,0)) AS n"]
    for i in range(len(_CORR_COLS)):
        sums.append(f"CAST(sum(x{i}) AS DECIMAL(38,0)) AS s{i}")
        sums.append(
            f"CAST(sum(CAST(x{i} AS DECIMAL(38,0)) * x{i}) AS DECIMAL(38,0)) AS s{i}{i}"
        )
    for i, j in _CORR_PAIRS:
        sums.append(
            f"CAST(sum(CAST(x{i} AS DECIMAL(38,0)) * x{j}) AS DECIMAL(38,0)) AS s{i}{j}"
        )
    arms = []
    for i, j in _CORR_PAIRS:
        vx, vy = f"(n * s{i}{i} - s{i} * s{i})", f"(n * s{j}{j} - s{j} * s{j})"
        num = f"(n * s{i}{j} - s{i} * s{j})"
        arms.append(
            f"SELECT '{_CORR_COLS[i][0]}' AS col_a, '{_CORR_COLS[j][0]}' AS col_b, "
            f"CASE WHEN {vx} = 0 OR {vy} = 0 THEN NULL "
            f"ELSE round(CAST({num} AS DOUBLE) / sqrt(CAST({vx} AS DOUBLE) "
            f"* CAST({vy} AS DOUBLE)) * 1000000) / 1000000 END AS pearson_r FROM m"
        )
    body = " UNION ALL ".join(arms)
    return f"WITH j AS (SELECT {proj} FROM lineitem),\nm AS (SELECT {', '.join(sums)} FROM j)\n{body}"


@query("olap_numeric_corr_matrix", _corr_matrix_sql())
def olap_numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's four numeric columns
    (quantity / extendedprice / discount / tax), all six pairs from ONE
    aggregate pass: the count, four sums, four squared sums, and six
    cross-products accumulate together in DECIMAL(38,0) over integer-
    snapped values (cents / basis points), then each pair is one final
    double expression. This is the profiling shape that matters at
    100 TB — the moment matrix costs one scan regardless of how many
    column pairs it answers, where a per-pair corr() would scan six
    times. Zero-variance guard by explicit CASE on both engines."""
    # the 15 DECIMAL(38,0) multiply-aggregates are pure per-row CPU on a
    # single-task scan at bench scale — spread across cores (guide §2.5);
    # integer-decimal sums are order-free exact, so the redistribution
    # cannot move the result
    li = spread_table(spark, sf_dir, "lineitem", key="l_orderkey")
    j = li.select(*[F.expr(expr).alias(f"x{i}") for i, (_, expr) in enumerate(_CORR_COLS)])
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    for i in range(len(_CORR_COLS)):
        aggs.append(F.sum(f"x{i}").cast(dec).alias(f"s{i}"))
        aggs.append(
            F.sum(F.col(f"x{i}").cast(dec) * F.col(f"x{i}")).cast(dec).alias(f"s{i}{i}")
        )
    for i, jx in _CORR_PAIRS:
        aggs.append(
            F.sum(F.col(f"x{i}").cast(dec) * F.col(f"x{jx}")).cast(dec).alias(f"s{i}{jx}")
        )
    m = j.agg(*aggs)
    n = F.col("n")
    # all six pairs in ONE projection over the single moment row — an
    # explode of a literal struct array. Six unionAll branches off the
    # un-persisted aggregate would each re-run the full lineitem scan
    # (measured 5.7 s at sf0.1; this shape is ~1 s).
    pair_structs = []
    for i, jx in _CORR_PAIRS:
        vx = n * F.col(f"s{i}{i}") - F.col(f"s{i}") * F.col(f"s{i}")
        vy = n * F.col(f"s{jx}{jx}") - F.col(f"s{jx}") * F.col(f"s{jx}")
        num = (n * F.col(f"s{i}{jx}") - F.col(f"s{i}") * F.col(f"s{jx}")).cast("double")
        pair_structs.append(
            F.struct(
                F.lit(_CORR_COLS[i][0]).alias("col_a"),
                F.lit(_CORR_COLS[jx][0]).alias("col_b"),
                F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
                .otherwise(
                    F.round(
                        num / F.sqrt(vx.cast("double") * vy.cast("double")) * 1000000
                    )
                    / 1000000
                )
                .alias("pearson_r"),
            )
        )
    return m.select(F.explode(F.array(*pair_structs)).alias("p")).select("p.*")


# =========================== open-order backlog ==============================


# How many orders are OPEN (placed, not yet fully shipped) at the end of each
# day — computed with the +1/-1 delta trick (every order contributes an open
# event at o_orderdate and a close event at its max ship date) and ONE
# cumulative window over the day grain. This is the canonical scale rewrite of
# "count intervals covering each point": the naive day x order range join is
# |days| * |orders|, the delta encoding is two narrow aggregates plus a
# calendar-bounded window.
@query(
    "olap_open_order_backlog",
    """
WITH ship AS (
  SELECT l_orderkey AS okey, max(CAST(l_shipdate AS DATE)) AS close_day
  FROM lineitem GROUP BY l_orderkey),
deltas AS (
  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT s.close_day AS day, -1 AS delta
  FROM orders o JOIN ship s ON o.o_orderkey = s.okey),
byday AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day)
SELECT day, net,
       CAST(sum(net) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM byday
""",
)
def olap_open_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-day open-order backlog via delta encoding: +1 on the order
    date, -1 on the order's final ship date (orders with no lineitem
    never close), summed per day and accumulated with one cumulative
    window over the calendar-bounded day grain. The naive formulation —
    join every day against every order whose interval covers it — is
    |days| x |orders|; the delta form is two narrow aggregates and a
    window whose input is bounded by the calendar no matter the corpus
    size. The global window is at the day grain (~365 rows/year), not a
    scale surface."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    ship = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.max(F.to_date("l_shipdate")).alias("close_day")
    )
    opens = orders.select(F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta"))
    closes = orders.join(ship, orders.o_orderkey == ship.okey).select(
        F.col("close_day").alias("day"), F.lit(-1).alias("delta")
    )
    byday = (
        opens.unionAll(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return byday.select(
        "day", "net", F.sum("net").over(w).cast("long").alias("open_orders")
    )


# ======================= monthly median order value ==========================


@query(
    "olap_monthly_median_order_value",
    """
WITH ov AS (
  SELECT l_orderkey,
         strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m') AS month,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_orderkey)
SELECT month, CAST(count(*) AS BIGINT) AS n_orders,
       quantile_cont(cents, 0.5) / 100 AS median_value,
       quantile_cont(cents, 0.9) / 100 AS p90_value
FROM ov GROUP BY month
""",
)
def olap_monthly_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median and p90 of order value per first-ship
    month. Order values are integer cents (one order-grain aggregate);
    the percentile groups are |months|-sized. Spark `percentile` and
    DuckDB `quantile_cont` share the same (n-1)*p interpolation rule —
    the olap_ship_cycle_percentiles pairing — and the final /100 is the
    only other float op."""
    li = table(spark, sf_dir, "lineitem")
    ov = li.groupBy("l_orderkey").agg(
        F.date_format(F.min(F.to_date("l_shipdate")), "yyyy-MM").alias("month"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("cents"),
    )
    return ov.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.expr("percentile(cents, 0.5)") / 100).alias("median_value"),
        (F.expr("percentile(cents, 0.9)") / 100).alias("p90_value"),
    )


# ======================== nation share momentum ==============================


@query(
    "olap_nation_share_momentum",
    """
WITH r AS (
  SELECT n_name, strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, month),
t AS (SELECT month, CAST(sum(cents) AS BIGINT) AS total FROM r GROUP BY month),
s AS (
  SELECT n_name, r.month AS month, cents,
         CAST((cents * 1000000) // total AS BIGINT) AS share_ppm
  FROM r JOIN t ON r.month = t.month)
SELECT n_name, month, cents AS revenue_cents, share_ppm,
       CAST(share_ppm - lag(share_ppm) OVER (PARTITION BY n_name ORDER BY month)
            AS BIGINT) AS delta_ppm
FROM s
""",
)
def olap_nation_share_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue share per nation in integer parts-per-million
    (BIGINT floor division — identical on both engines) plus the
    month-over-month share delta via one lag window at the
    (nation, month) grain. Momentum in market share is the report
    behind mixture rebalancing decisions; keeping shares integral means
    a +-1 ppm move is a real move, not float noise. Note the ppm
    numerator bounds BIGINT at ~9e12 total cents — beyond that scale
    the same expression runs in DECIMAL(38,0) (supplier_hhi precedent).
    One fact aggregate (dims broadcast), one tiny window."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.date_format(F.to_date("l_shipdate"), "yyyy-MM").alias("month"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    t = r.groupBy("month").agg(F.sum("cents").cast("long").alias("total"))
    # the totals side is |months| rows — broadcast it back into the
    # (nation, month) relation instead of letting the planner SMJ two
    # aggregate-grain relations (r8 plan pin)
    s = r.join(F.broadcast(t), "month").select(
        "n_name",
        "month",
        "cents",
        F.expr("(cents * 1000000) div total").cast("long").alias("share_ppm"),
    )
    w = Window.partitionBy("n_name").orderBy("month")
    return s.select(
        "n_name",
        "month",
        F.col("cents").alias("revenue_cents"),
        "share_ppm",
        (F.col("share_ppm") - F.lag("share_ppm").over(w)).cast("long").alias("delta_ppm"),
    )


# ========================= returns rate by brand =============================


# Per-brand return rate and its lift over the corpus baseline — integer
# cross-products, rate as one final division.
@query(
    "olap_returns_rate_by_brand",
    """
WITH j AS (
  SELECT p_brand AS brand,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey),
b AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS n_ret
      FROM j GROUP BY brand),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(sum(n_ret) AS BIGINT) AS tot_ret
      FROM b)
SELECT brand, n AS n_lines, n_ret AS n_returned,
       round(CAST(n_ret AS DOUBLE) / n * 1000000) / 1000000 AS return_rate,
       CASE WHEN tot_ret = 0 THEN NULL
            ELSE round((CAST(n_ret AS DOUBLE) * tot)
                       / (CAST(n AS DOUBLE) * tot_ret) * 1000000) / 1000000
       END AS lift
FROM b CROSS JOIN t
""",
)
def olap_returns_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per brand and its lift over the corpus baseline — the
    defect-concentration report (lift >> 1 = a brand quality problem,
    not general churn). Counts stay integral; rate and lift are single
    guarded divisions; the baseline is a broadcast 1-row aggregate over
    the brand rollup (never a second fact scan)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r").cast("long").alias("n_ret"),
        )
    )
    t = b.agg(
        F.sum("n").cast("long").alias("tot"), F.sum("n_ret").cast("long").alias("tot_ret")
    )
    return b.crossJoin(F.broadcast(t)).select(
        "brand",
        F.col("n").alias("n_lines"),
        F.col("n_ret").alias("n_returned"),
        (F.round(F.col("n_ret").cast("double") / F.col("n") * 1000000) / 1000000).alias(
            "return_rate"
        ),
        F.when(F.col("tot_ret") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("n_ret").cast("double") * F.col("tot"))
                / (F.col("n").cast("double") * F.col("tot_ret"))
                * 1000000
            )
            / 1000000
        )
        .alias("lift"),
    )


# ======================= supplier delay variance =============================


# Population variance of the order-to-ship day lag per supplier via the integer
# moments recipe (exact in BIGINT; n <= ~600 lines/supplier bounds the squared
# sums far under 2^63).
@query(
    "olap_supplier_delay_variance",
    """
WITH lag AS (
  SELECT l_suppkey,
         CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
              AS BIGINT) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
m AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS s, CAST(sum(d * d) AS BIGINT) AS ss
      FROM lag GROUP BY l_suppkey)
SELECT l_suppkey AS suppkey, n AS n_lines,
       round(CAST(s AS DOUBLE) / n * 1000000) / 1000000 AS mean_delay_days,
       round(CAST(n * ss - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * n) * 1000000)
         / 1000000 AS var_delay_days
FROM m
""",
)
def olap_supplier_delay_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay mean and population variance per supplier —
    the SLA-consistency screen (two suppliers with the same mean and 10x
    different variance are different risks). Integer day lags feed the
    exact BIGINT moments (n*ss - s^2); each statistic is one final
    double expression. One co-partitioned orderkey join + a supplier
    aggregate."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("d"),
    )
    m = lag.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("ss"),
    )
    n, s = F.col("n"), F.col("s")
    return m.select(
        F.col("l_suppkey").alias("suppkey"),
        n.alias("n_lines"),
        (F.round(s.cast("double") / n * 1000000) / 1000000).alias("mean_delay_days"),
        (
            F.round(
                (n * F.col("ss") - s * s).cast("double") / (n.cast("double") * n) * 1000000
            )
            / 1000000
        ).alias("var_delay_days"),
    )


# ====================== log2 order-value histogram ===========================


# Powers-of-two order-value histogram using length(bin(cents)) as the EXACT
# integer log2 bucket — both engines produce identical binary strings, so the
# bucketing never touches floating point (no libm log).
@query(
    "olap_order_value_log2_histogram",
    """
WITH ov AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_orderkey),
b AS (SELECT CAST(CASE WHEN cents <= 0 THEN 0
                       ELSE length(bin(cents)) END AS BIGINT) AS bucket
      FROM ov)
SELECT bucket, CAST(pow(CAST(2.0 AS DOUBLE), bucket - 1) AS BIGINT) AS lo_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM b GROUP BY bucket
""",
)
def olap_order_value_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value histogram with power-of-two bins, where the bin is the
    bit length of the integer cents — length(bin(cents)) — so the
    "log-scale" bucketing is EXACT integer work on both engines (no libm
    log whose last bits differ). Doubling bins are the standard latency/
    value histogram layout (HDR-style); one order-grain aggregate + a
    <=40-bucket rollup. lo_cents (2^(bucket-1)) is derived from the
    integer bucket, exact in double far past any order value."""
    li = table(spark, sf_dir, "lineitem")
    ov = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("cents")
    )
    b = ov.select(
        F.when(F.col("cents") <= 0, F.lit(0))
        .otherwise(F.length(F.bin("cents")))
        .cast("long")
        .alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    ).select(
        "bucket",
        F.pow(F.lit(2.0), F.col("bucket") - 1).cast("long").alias("lo_cents"),
        "n_orders",
    )


# ========================= reorder cadence percentiles =======================


# Per-customer consecutive-order gaps rolled up to exact p50/p90 cadence
# percentiles per market segment.
@query(
    "olap_reorder_interval",
    """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         lag(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_d
  FROM orders),
g AS (
  SELECT o_custkey, CAST(datediff('day', prev_d, d) AS BIGINT) AS gap_days
  FROM o WHERE prev_d IS NOT NULL)
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       quantile_cont(gap_days, 0.5) AS p50_gap_days,
       quantile_cont(gap_days, 0.9) AS p90_gap_days
FROM g JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def olap_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: exact p50/p90 of the days between a
    customer's consecutive orders, per market segment. One customer
    window pass (lag, ties broken by orderkey), integer day gaps, a
    broadcast customer-dim join, |segments| percentile groups — the
    dyadic/interpolated percentile pairing the family already pins."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.lag(F.to_date("o_orderdate")).over(w).alias("prev_d"),
        )
        .where(F.col("prev_d").isNotNull())
        .select("o_custkey", F.datediff("d", "prev_d").cast("long").alias("gap_days"))
    )
    return (
        g.join(F.broadcast(cust), g.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.expr("percentile(gap_days, 0.5)").alias("p50_gap_days"),
            F.expr("percentile(gap_days, 0.9)").alias("p90_gap_days"),
        )
    )


# ======================== customer concentration =============================

_TOP_K_CUST = 3


# Revenue share of each nation's top-3 customers — the key-account
# concentration risk readout.
@query(
    "olap_customer_concentration",
    f"""
WITH r AS (
  SELECT c_nationkey AS nk, o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey),
rk AS (
  SELECT nk, cents,
         row_number() OVER (PARTITION BY nk ORDER BY cents DESC, o_custkey) AS rnk
  FROM r)
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN rnk <= {_TOP_K_CUST} THEN cents ELSE 0 END) AS BIGINT)
         AS top{_TOP_K_CUST}_cents,
       round(CAST(sum(CASE WHEN rnk <= {_TOP_K_CUST} THEN cents ELSE 0 END) AS DOUBLE)
             / sum(cents) * 1000000) / 1000000 AS top{_TOP_K_CUST}_share
FROM rk JOIN nation ON nk = n_nationkey
GROUP BY n_name
""",
)
def olap_customer_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-account concentration: the revenue share of each nation's
    top-{_TOP_K_CUST} customers (by order totalprice cents,
    deterministic custkey tie-break) — the complement of supplier_hhi on
    the demand side. One customer-grain aggregate, a per-nation rank
    window at that grain, integer cents until the one share division;
    nation dim broadcast."""
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("nk").orderBy(F.col("cents").desc(), "o_custkey")
    rk = r.select("nk", "cents", F.row_number().over(w).alias("rnk"))
    return (
        rk.join(F.broadcast(nat), rk.nk == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(F.when(F.col("rnk") <= _TOP_K_CUST, F.col("cents")).otherwise(0))
            .cast("long")
            .alias(f"top{_TOP_K_CUST}_cents"),
            (
                F.round(
                    F.sum(
                        F.when(F.col("rnk") <= _TOP_K_CUST, F.col("cents")).otherwise(0)
                    ).cast("double")
                    / F.sum("cents")
                    * 1000000
                )
                / 1000000
            ).alias(f"top{_TOP_K_CUST}_share"),
        )
    )


_CENTS = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


# ========================= customer decile lift ==============================


# Customers bucketed into revenue deciles (ntile over deterministic order),
# each decile's revenue share and the cumulative lift curve — the
# whale-dependence report.
#
# All shares are integer ppm over BIGINT cents (floor division on both
# engines); window orders carry explicit key tie-breaks so ntile/cumsum are
# deterministic.
@query(
    "olap_customer_decile_lift",
    f"""
WITH c AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
d AS (SELECT o_custkey, cents,
             ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
      FROM c),
g AS (SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM d GROUP BY decile),
t AS (SELECT CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS total FROM g),
s AS (SELECT decile, n_customers, cents,
             CAST(CAST(cents AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm,
             CAST(CAST(sum(CAST(cents AS HUGEINT)) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
                  * 1000000 // total AS BIGINT) AS cum_share_ppm
      FROM g CROSS JOIN t)
SELECT decile, n_customers, cents AS revenue_cents, share_ppm, cum_share_ppm FROM s
""",
)
def olap_customer_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue deciles (1 = biggest spenders) with per-decile and
    cumulative revenue share — the lift/whale-dependence curve behind
    'top 10% of customers drive X% of revenue'. The ntile orders by
    (cents DESC, custkey) so ties are deterministic on both engines; the
    only unbounded window runs on the 10-row decile rollup. One customer
    aggregate, integer cents throughout. Scale note (r9): the deciles
    come from ranking.exact_ntile — two-pass partition-offset ranking,
    bit-identical to the oracle's global ntile with NO single-partition
    window (the r8 verdict's customer-grain fat-task shape); the
    approximate zero-shuffle alternative is ranking.percentile_bands."""
    from ..operators import ranking

    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    d = ranking.exact_ntile(
        c, 10, F.col("cents").desc(), "o_custkey", band_col="decile"
    ).select("cents", "decile")
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    # share math in DECIMAL(38,0) (== the oracle's HUGEINT): cum * 1e6
    # overflows BIGINT already at sf1 totals (found by the r8 sf1 sweep)
    t = g.agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("decimal(38,0)").alias("total")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_customers",
            F.col("cents").alias("revenue_cents"),
            F.expr("(CAST(cents AS DECIMAL(38,0)) * 1000000) div total")
            .cast("long")
            .alias("share_ppm"),
            (
                F.sum(F.col("cents").cast("decimal(38,0)")).over(w).cast("decimal(38,0)")
                * 1000000
            ).alias("_cum"),
            "total",
        )
        .select(
            "decile",
            "n_customers",
            "revenue_cents",
            "share_ppm",
            F.expr("_cum div total").cast("long").alias("cum_share_ppm"),
        )
    )


# ========================= supplier pareto-80 ================================


# Per nation, how many suppliers cover 80% of revenue — the Pareto
# concentration scalar.
@query(
    "olap_supplier_pareto_80",
    f"""
WITH r AS (
  SELECT n_name, s_suppkey, CAST(sum({_CENTS}) AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey),
c AS (SELECT n_name, s_suppkey, cents,
             CAST(sum(cents) OVER (PARTITION BY n_name
                     ORDER BY cents DESC, s_suppkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM r),
t AS (SELECT n_name, CAST(sum(cents) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM r GROUP BY n_name)
SELECT c.n_name AS n_name, t.n_suppliers AS n_suppliers,
       CAST(count(*) FILTER (WHERE (cum - cents) * 5 < total * 4) AS BIGINT)
         AS n_for_80pct,
       CAST(count(*) FILTER (WHERE (cum - cents) * 5 < total * 4)
            * 1000000 // t.n_suppliers AS BIGINT) AS pareto_ppm
FROM c JOIN t ON c.n_name = t.n_name
GROUP BY c.n_name, t.n_suppliers
""",
)
def olap_supplier_pareto_80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per nation: the number of top suppliers whose
    cumulative revenue first reaches 80% of the nation's total (counted
    as suppliers whose PRECEDING cumulative is still under 0.8*total —
    the integer-exact '5*cum < 4*total' form, no float thresholds) and
    that count as a ppm of the supplier base. Fact aggregates once with
    broadcast dims; the cumsum window runs at supplier grain partitioned
    by nation."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    r = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.col("cents").desc(), "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = r.select("n_name", "cents", F.sum("cents").over(w).cast("long").alias("cum"))
    t = r.groupBy("n_name").agg(
        F.sum("cents").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    hit = F.when((F.col("cum") - F.col("cents")) * 5 < F.col("total") * 4, 1)
    return (
        c.join(F.broadcast(t), "n_name")
        .groupBy("n_name", "n_suppliers")
        .agg(
            F.count(hit).cast("long").alias("n_for_80pct"),
            F.expr(
                "(count(CASE WHEN (cum - cents) * 5 < total * 4 THEN 1 END)"
                " * 1000000) div n_suppliers"
            )
            .cast("long")
            .alias("pareto_ppm"),
        )
        .select("n_name", "n_suppliers", "n_for_80pct", "pareto_ppm")
    )


# ======================= weekday x priority matrix ===========================


# Order volume by weekday x priority with within-weekday share — operational
# seasonality by urgency class.
@query(
    "olap_order_weekday_priority",
    """
WITH o AS (
  SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
         o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2),
t AS (SELECT dow, CAST(sum(n_orders) AS BIGINT) AS day_total FROM o GROUP BY dow)
SELECT o.dow AS dow, priority, n_orders,
       CAST(n_orders * 1000000 // day_total AS BIGINT) AS day_share_ppm
FROM o JOIN t ON o.dow = t.dow
""",
)
def olap_order_weekday_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume by weekday x priority plus each priority's share of
    its weekday — the 'do urgent orders cluster on Mondays' operational
    matrix. dow uses DuckDB's Sunday=0 convention (Spark's dayofweek is
    Sunday=1, shifted by one). Two bounded rollups (<=7x|priorities|
    rows); the share join broadcasts the 7-row day totals."""
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (F.dayofweek(F.to_date("o_orderdate")) - 1).cast("long").alias("dow"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    t = o.groupBy("dow").agg(F.sum("n_orders").cast("long").alias("day_total"))
    return o.join(F.broadcast(t), "dow").select(
        "dow",
        "priority",
        "n_orders",
        F.expr("(n_orders * 1000000) div day_total").cast("long").alias("day_share_ppm"),
    )


# ===================== monthly revenue anomaly ===============================


@query(
    "olap_monthly_revenue_anomaly",
    """
WITH m AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY month),
s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx
      FROM m),
z AS (SELECT month, cents,
             CAST(n * cents - sx AS DOUBLE) AS num,
             CAST(n * (n * sxx - sx * sx) AS DOUBLE) AS den2,
             (n * sxx = sx * sx) AS flat
      FROM m CROSS JOIN s)
SELECT month, cents AS revenue_cents,
       CASE WHEN flat THEN CAST(0.0 AS DOUBLE)
            ELSE round(num / sqrt(den2) * 10000) / 10000 END AS zscore,
       CASE WHEN NOT flat AND abs(num / sqrt(den2)) >= 2.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM z
""",
)
def olap_monthly_revenue_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain revenue z-scores from exact integer moments — z =
    (n*x - sx) / sqrt(n * (n*sxx - sx^2)), everything integer until the
    one final division, so the flag never depends on float accumulation
    order. Month cents^2 overflows BIGINT even at sf0.01, so the moments
    run in DECIMAL(38,0) on Spark / HUGEINT in DuckDB (the supplier_hhi
    precedent) — both exact, both cast to DOUBLE only inside the final
    expression. |z| >= 2 marks the months a revenue pager would fire on.
    One order-grain aggregate, a broadcast 1-row moment set."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = m.agg(
        dec(F.count(F.lit(1))).alias("n"),
        F.sum(dec(F.col("cents"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("cents")) * F.col("cents")).cast("decimal(38,0)").alias("sxx"),
    )
    j = m.crossJoin(F.broadcast(s))
    num = (F.col("n") * F.col("cents") - F.col("sx")).cast("double")
    var_int = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den2 = (F.col("n") * var_int).cast("double")
    flat = F.col("n") * F.col("sxx") == F.col("sx") * F.col("sx")
    z = num / F.sqrt(den2)
    return j.select(
        "month",
        F.col("cents").alias("revenue_cents"),
        F.when(flat, F.lit(0.0)).otherwise(F.round(z * 10000) / 10000).alias("zscore"),
        F.when(~flat & (F.abs(z) >= 2.0), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_anomaly"
        ),
    )


# ==================== fulfillment latency by order size ======================


# Order fulfillment latency (order date -> last line shipped) percentiles by
# power-of-two order-size band — 'do big orders ship slower'.
@query(
    "olap_fulfillment_latency_by_size",
    """
WITH o AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT CAST(length(bin(qty)) AS BIGINT) AS size_band,
         CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(last_ship AS DATE))
              AS BIGINT) AS latency_days
  FROM o JOIN orders ON l_orderkey = o_orderkey)
SELECT size_band, CAST(count(*) AS BIGINT) AS n_orders,
       quantile_cont(latency_days, 0.5) AS p50_days,
       quantile_cont(latency_days, 0.9) AS p90_days,
       CAST(max(latency_days) AS BIGINT) AS max_days
FROM j GROUP BY size_band
""",
)
def olap_fulfillment_latency_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order fulfillment latency (order placement -> LAST line shipped) by
    power-of-two total-quantity band (bit-length bucketing, no libm) —
    the 'do big orders ship slower' operations report. One line-grain
    reduce to order grain, a co-partitioned orderkey join, a <=|bands|
    percentile rollup on integer days."""
    li = table(spark, sf_dir, "lineitem")
    o = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.max("l_shipdate").alias("last_ship"),
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = o.join(orders, o.l_orderkey == orders.o_orderkey).select(
        F.length(F.bin("qty")).cast("long").alias("size_band"),
        F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("latency_days"),
    )
    return j.groupBy("size_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr("percentile(latency_days, 0.5)").alias("p50_days"),
        F.expr("percentile(latency_days, 0.9)").alias("p90_days"),
        F.max("latency_days").cast("long").alias("max_days"),
    )


# ======================== customer tercile migration =========================

_MIG_Y0, _MIG_Y1 = 1997, 1998


def _sql_terciles(year: int, alias: str) -> str:
    return f"""
{alias} AS (
  SELECT o_custkey,
         ntile(3) OVER (ORDER BY cents DESC, o_custkey) AS tercile
  FROM (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE year(CAST(o_orderdate AS DATE)) = {year}
    GROUP BY o_custkey))"""


# Year-over-year spend-tercile transition matrix (1997 -> 1998) — the
# segment-migration report behind churn/upsell planning; terciles via
# deterministic ntile, counts integral.
@query(
    "olap_customer_migration",
    f"""
WITH {_sql_terciles(_MIG_Y0, 'a')},
{_sql_terciles(_MIG_Y1, 'b')},
m AS (
  SELECT coalesce(CAST(a.tercile AS BIGINT), 0) AS from_tercile,
         coalesce(CAST(b.tercile AS BIGINT), 0) AS to_tercile
  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
SELECT from_tercile, to_tercile, CAST(count(*) AS BIGINT) AS n_customers
FROM m GROUP BY from_tercile, to_tercile
""",
)
def olap_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-tercile migration matrix ({_MIG_Y0} ->
    {_MIG_Y1}): customers ranked into terciles per year (deterministic
    ntile over (cents DESC, custkey)), full-outer-joined so tercile 0
    means 'absent that year' (churned in / out). The matrix is the
    segment-migration report behind retention planning. Two bounded
    customer-grain aggregates + one co-partitioned key join; the
    terciles come from ranking.exact_ntile (r9) — two-pass partition-
    offset ranking, bit-identical to the oracle's global ntile with NO
    single-partition customer-grain window."""
    from ..operators import ranking

    o = table(spark, sf_dir, "orders")

    def terciles(year: int) -> DataFrame:
        c = (
            o.where(F.year(F.to_date("o_orderdate")) == year)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("cents")
            )
        )
        return ranking.exact_ntile(
            c, 3, F.col("cents").desc(), "o_custkey", band_col="tercile"
        ).select("o_custkey", "tercile")

    a = terciles(_MIG_Y0).withColumnRenamed("tercile", "ta")
    b = terciles(_MIG_Y1).withColumnRenamed("tercile", "tb")
    m = a.join(b, "o_custkey", "full_outer").select(
        F.coalesce("ta", F.lit(0)).cast("long").alias("from_tercile"),
        F.coalesce("tb", F.lit(0)).cast("long").alias("to_tercile"),
    )
    return m.groupBy("from_tercile", "to_tercile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


# ========================= incremental aggregate merge =======================

_INC_CUT = "1999-01-01"  # base = orders strictly before; delta = on/after


# Incremental view maintenance — a base partial aggregate and a delta-day
# partial aggregate MERGED into the full result (count/sum/min/max are
# algebraic: merge-of-partials == aggregate-of-union, which the oracle proves
# by computing the single pass). This is the daily-refresh pattern that avoids
# rescanning the 100 TB history for every new partition.
@query(
    "olap_incremental_agg_merge",
    f"""
WITH src AS (
  SELECT o_orderpriority,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_INC_CUT}'
              THEN 'base' ELSE 'delta' END AS part,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
partials AS (
  SELECT o_orderpriority, part,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(min(cents) AS BIGINT) AS mn,
         CAST(max(cents) AS BIGINT) AS mx
  FROM src GROUP BY o_orderpriority, part),
merged AS (
  SELECT o_orderpriority,
         CAST(sum(n) AS BIGINT) AS n_orders,
         CAST(sum(s) AS BIGINT) AS sum_cents,
         CAST(min(mn) AS BIGINT) AS min_cents,
         CAST(max(mx) AS BIGINT) AS max_cents,
         CAST(count(*) AS BIGINT) AS n_partials
  FROM partials GROUP BY o_orderpriority)
SELECT o_orderpriority, n_orders, sum_cents, min_cents, max_cents,
       CAST(sum_cents // n_orders AS BIGINT) AS avg_cents, n_partials
FROM merged
""",
)
def olap_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the priority-level order aggregate
    maintained as MERGEABLE partials — a 'base' partial (history before
    {_INC_CUT}) and a 'delta' partial (the new arrivals) combined by the
    algebraic merge rules (n+=n, sum+=sum, min=min, max=max; avg derived
    at read). The oracle's merge-of-partials equals a single-pass
    aggregate BY ALGEBRA, so the hash row proves the merge operator is
    lossless — the contract that lets a daily pipeline fold one new
    partition into a stored aggregate instead of rescanning 100 TB.
    n_partials audits that both sides actually contributed. Two
    partial-aggregate passes over a one-scan source; integer cents."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.when(
            F.to_date("o_orderdate") < F.lit(_INC_CUT).cast("date"), "base"
        ).otherwise("delta").alias("part"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    partials = o.groupBy("o_orderpriority", "part").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.min("cents").cast("long").alias("mn"),
        F.max("cents").cast("long").alias("mx"),
    )
    merged = partials.groupBy("o_orderpriority").agg(
        F.sum("n").cast("long").alias("n_orders"),
        F.sum("s").cast("long").alias("sum_cents"),
        F.min("mn").cast("long").alias("min_cents"),
        F.max("mx").cast("long").alias("max_cents"),
        F.count(F.lit(1)).cast("long").alias("n_partials"),
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        "sum_cents",
        "min_cents",
        "max_cents",
        F.expr("sum_cents div n_orders").cast("long").alias("avg_cents"),
        "n_partials",
    )


# ========================= Poisson bootstrap ==================================

_BOOT_R = 16  # replicates

_BOOT_BITS = 1 << 52

# cumulative Poisson(1) thresholds scaled to the 52-bit md5 hash space:
# P(X <= k) for k = 0..5; a hash above the last threshold draws 6.
_BOOT_CUM = [
    math.floor(p * _BOOT_BITS)
    for p in (
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238462,
        0.9963401531726563,
        0.9994058151824183,
    )
]


def _sql_pois(hv: str) -> str:
    arms = " ".join(
        f"WHEN {hv} < {t} THEN {k}" for k, t in enumerate(_BOOT_CUM)
    )
    return f"CASE {arms} ELSE 6 END"


# The distributed POISSON BOOTSTRAP — each row's weight in replicate r is a
# Poisson(1) draw derived deterministically from md5(key, r), giving R
# independent resampled means in ONE pass with no per-replicate shuffle (the
# standard bootstrap-at-scale trick: sampling WITH replacement without
# materializing resamples). md5-based draws make the whole resampling
# oracle-expressible.
@query(
    "olap_bootstrap_mean_ci",
    f"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
rep AS (
  SELECT CAST(r.range AS BIGINT) AS replicate, o_orderkey, cents,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
              CAST(r.range AS VARCHAR)), 1, 13) AS BIGINT) AS hv
  FROM base CROSS JOIN range(0, {_BOOT_R}) r),
w AS (SELECT replicate, cents, CAST({_sql_pois('hv')} AS BIGINT) AS k FROM rep)
SELECT replicate,
       CAST(sum(k) AS BIGINT) AS n_eff,
       CAST(sum(k * cents) AS BIGINT) AS sum_cents,
       CAST(CASE WHEN sum(k) = 0 THEN NULL
                 ELSE sum(k * cents) // sum(k) END AS BIGINT) AS mean_cents
FROM w GROUP BY replicate
""",
)
def olap_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value, {_BOOT_R} replicates in
    ONE scan: row i's weight in replicate r ~ Poisson(1), drawn by
    mapping the 52-bit md5(o_orderkey, r) hash through the exact
    cumulative-Poisson thresholds (integer constants — both engines draw
    the identical weights). The replicate means' spread IS the sampling
    distribution of the mean (read the CI off their quantiles) — the
    bootstrap-at-scale pattern that never materializes a resample and
    never reshuffles per replicate: one map-side explode x R, one
    aggregate. Integer cents; one guarded integer division per
    replicate."""
    # The 16x md5 explode below is pure per-row CPU on a 1-task scan at bench
    # scale — spread it across cores (guide §2.5); everything downstream is
    # integer algebra, so the redistribution is order-free exact.
    o = spread_table(
        spark, sf_dir, "orders", min_bytes=2 << 20, key="o_orderkey"
    ).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    rep = o.select(
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("replicate"),
        "o_orderkey",
        "cents",
    ).withColumn("replicate", F.col("replicate").cast("long")).select(
        "replicate",
        "cents",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("replicate").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    k = F.lit(6)
    for kk, t in reversed(list(enumerate(_BOOT_CUM))):
        k = F.when(F.col("hv") < t, F.lit(kk)).otherwise(k)
    w = rep.select("replicate", "cents", k.cast("long").alias("k"))
    return w.groupBy("replicate").agg(
        F.sum("k").cast("long").alias("n_eff"),
        F.sum(F.col("k") * F.col("cents")).cast("long").alias("sum_cents"),
        F.when(
            F.sum("k") == 0, F.lit(None).cast("long")
        )
        .otherwise(F.expr("sum(k * cents) div sum(k)"))
        .cast("long")
        .alias("mean_cents"),
    )


# ========================= join size estimation ==============================

_JSE_RATE = 16  # hash-gate: keep keys with hv < 2^52 / RATE

_JSE_GATE = (1 << 52) // _JSE_RATE


# Sketch-based join-cardinality estimation — the exact |orders JOIN customer on
# custkey| computed from key-grain count products, next to a hash-gated 1/16
# key-sample estimate scaled back up (the optimizer primitive that prices a
# join before running it). Both paths integer-exact, so even the ESTIMATE
# hash-matches.
@query(
    "olap_join_size_estimate",
    f"""
WITH oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_o
            FROM orders GROUP BY o_custkey),
cc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS n_c
       FROM customer GROUP BY c_custkey),
j AS (SELECT oc.k AS k, n_o * n_c AS contrib,
             {_HV52.format(x="CAST(oc.k AS VARCHAR)")} AS hv
      FROM oc JOIN cc ON oc.k = cc.k)
SELECT CAST(sum(contrib) AS BIGINT) AS exact_rows,
       CAST(sum(CASE WHEN hv < {_JSE_GATE} THEN contrib ELSE 0 END)
            * {_JSE_RATE} AS BIGINT) AS estimated_rows,
       CAST(count(*) AS BIGINT) AS n_join_keys,
       CAST(sum(CASE WHEN hv < {_JSE_GATE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled_keys
FROM j
""",
)
def olap_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation, the optimizer primitive that prices
    a join before running it: |orders JOIN customer| = sum over join
    keys of n_orders(k) * n_customers(k), computed (a) exactly from the
    two key-grain count relations, and (b) from the 1/{_JSE_RATE}
    hash-gated key sample scaled back up — the estimator a planner runs
    on sketches when the key-grain relations are themselves too big to
    join (sample-by-KEY, not by row: per-key contributions stay intact,
    the estimator is unbiased over the hash choice). Deterministic md5
    gate -> even the estimate hash-matches. Aggregates at key grain, one
    co-partitioned join, a 1-row result."""
    o = table(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_o"))
    c = table(spark, sf_dir, "customer").groupBy(
        F.col("c_custkey").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_c"))
    j = o.join(c, "k").select(
        (F.col("n_o") * F.col("n_c")).alias("contrib"),
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    sampled = F.when(F.col("hv") < _JSE_GATE, F.col("contrib")).otherwise(0)
    return j.agg(
        F.sum("contrib").cast("long").alias("exact_rows"),
        (F.sum(sampled) * _JSE_RATE).cast("long").alias("estimated_rows"),
        F.count(F.lit(1)).cast("long").alias("n_join_keys"),
        F.sum(F.when(F.col("hv") < _JSE_GATE, 1).otherwise(0))
        .cast("long")
        .alias("n_sampled_keys"),
    )


# ===================== Bloom-filter join pruning ==============================

# m sized for the key population, not the fixture: ~15k dim keys at sf1
# put ~45k bits in 2^17 (fill 0.29, fp ~2.4%); the round-10 sf1 sweep
# caught the original m=4096 saturating at sf1 (fp -> 1, and the per-row
# array_contains probe scanning the whole bits array made the query
# superlinear — the probe is now a broadcast hash join, O(1) per bit).
_BLM_M = 1 << 17  # bits

_BLM_K = 3  # hash functions

_BLM_PRED_SQL = "c_acctbal > 9000"  # ~10% of customers: a selective dim


def _sql_bit(key: str, i: int) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || '#{i}'), 1, 13)"
        f" AS BIGINT) % {_BLM_M}"
    )


# Bloom-filter semi-join pruning — hash the selective dim side into a
# broadcastable m-bit filter and pre-filter the fact scan before any shuffle,
# reporting the filter's measured operating point (passes vs true matches vs
# false-positive rate). The runtime-filter primitive large engines apply at the
# 100 TB join. (A Benford first-digit query was built here first and then
# REMOVED as a near-duplicate of dq_value_first_digit.)
@query(
    "olap_bloom_join_prune",
    f"""
WITH dim AS (SELECT DISTINCT c_custkey AS k FROM customer
             WHERE {_BLM_PRED_SQL}),
bits AS ({" UNION ".join(f"SELECT DISTINCT {_sql_bit('k', i)} AS b FROM dim"
                          for i in range(1, _BLM_K + 1))}),
barr AS (SELECT list(b) AS arr FROM bits),
probe AS (
  SELECT CASE WHEN {" AND ".join(f"list_contains(arr, {_sql_bit('o_custkey', i)})"
                                  for i in range(1, _BLM_K + 1))}
              THEN 1 ELSE 0 END AS pass,
         CASE WHEN o_custkey IN (SELECT k FROM dim) THEN 1 ELSE 0 END AS hit
  FROM orders, barr)
SELECT CAST(count(*) AS BIGINT) AS n_fact,
       CAST(sum(pass) AS BIGINT) AS n_bloom_pass,
       CAST(sum(hit) AS BIGINT) AS n_true_match,
       {sql_round(
           "(sum(pass) - sum(hit)) * 1.0 / NULLIF(count(*) - sum(hit), 0)", 6
       )}
         AS false_positive_rate
FROM probe
""",
)
def olap_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, the 100 TB join-pushdown
    primitive: hash the SELECTIVE dim side's keys into an m={_BLM_M}-bit
    k={_BLM_K} Bloom filter (a KB-scale bit set), broadcast it, and
    pre-filter the fact scan before any shuffle — the runtime-filter
    trick engines apply when the dim predicate survives far fewer keys
    than the fact has rows. Reports the filter's real operating point:
    fact rows, Bloom passes, true matches, and the measured
    false-positive rate (never a false negative — asserted by
    n_bloom_pass >= n_true_match in the oracle equality itself).
    Deterministic md5 bit positions, so both engines build the identical
    filter. The Bloom set rides a broadcast; the fact side never
    shuffles."""
    dim = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )

    def bit(key: str, i: int):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(key).cast("string"), F.lit(f"#{i}"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(_BLM_M),
        )

    bits = None
    for i in range(1, _BLM_K + 1):
        sel = dim.select(bit("k", i).alias("b"))
        bits = sel if bits is None else bits.unionAll(sel)
    bloom = bits.distinct()
    fact = table(spark, sf_dir, "orders").select("o_custkey")
    # probe = one broadcast HASH-join lookup per hash function: O(1) per
    # probed bit and ZERO fact-side shuffle (array_contains would scan
    # the whole bits array per row — the sf1 sweep measured that
    # superlinear). AND of the k membership markers == the oracle's AND
    # of list_contains.
    probe = fact
    markers = []
    for i in range(1, _BLM_K + 1):
        side = F.broadcast(
            bloom.select(
                F.col("b").alias(f"__b{i}"), F.lit(1).alias(f"__m{i}")
            )
        )
        probe = probe.join(
            side, bit("o_custkey", i) == F.col(f"__b{i}"), "left"
        )
        markers.append(F.col(f"__m{i}") == 1)
    passed = markers[0]
    for m in markers[1:]:
        passed = passed & m
    probe = probe.join(
        F.broadcast(dim.withColumn("__hit", F.lit(1))),
        F.col("o_custkey") == F.col("k"),
        "left",
    ).select(
        F.when(passed, 1).otherwise(0).alias("pass"),
        F.coalesce(F.col("__hit"), F.lit(0)).alias("hit"),
    )
    return probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_fact"),
        F.sum("pass").cast("long").alias("n_bloom_pass"),
        F.sum("hit").cast("long").alias("n_true_match"),
        (
            # NULLIF-guarded denominator (ADVICE r10): if the dim
            # predicate ever covered EVERY fact key there are zero
            # true negatives and the FPR is undefined — both engines
            # must agree on NULL rather than DuckDB erroring while
            # Spark yields NULL-by-division.
            F.round(
                (F.sum("pass") - F.sum("hit"))
                * 1.0
                / F.nullif(
                    (F.count(F.lit(1)) - F.sum("hit")).cast("double"), F.lit(0.0)
                )
                * 1e6
            )
            / 1e6
        ).alias("false_positive_rate"),
    )


# ===================== exact grouped quantiles ================================

_EGQ_PROBS = [0.25, 0.5, 0.75]


# EXACT interpolated quartiles of order value per order priority (Spark
# `percentile`, DuckDB `quantile_cont` — the same type-7 interpolation)
# computed on integer cents so the interpolation arithmetic is exact in both
# engines. The exact-sort cousin of the approx sketch queries; per-group sorts
# are partitioned by the 5-value priority key, never global.
@query(
    "olap_exact_grouped_quantiles",
    f"""
WITH c AS (SELECT o_orderpriority AS priority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n,
       {", ".join(
           f"{sql_round(f'quantile_cont(cents, {p})', 2)} AS q{int(p * 100)}"
           for p in _EGQ_PROBS
       )}
FROM c GROUP BY priority
""",
)
def olap_exact_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quartiles of order value (integer cents) per
    order priority — Spark's `percentile` and DuckDB's `quantile_cont`
    share the type-7 linear interpolation, and on BIGINT cents the
    interpolation arithmetic (integer + fraction * integer gap) is
    exactly representable, so the values hash-match without an epsilon.
    The exact cousin of the sketch quantile queries: per-group sort
    partitioned by the 5-value priority key (never a global sort), one
    shuffle, 5-row output. At 100 TB this is the shape where exactness
    is still affordable BECAUSE the group key bounds the sort grain."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for p in _EGQ_PROBS:
        aggs.append(
            (F.round(F.expr(f"percentile(cents, {p})") * 100) / 100).alias(
                f"q{int(p * 100)}"
            )
        )
    return o.groupBy("priority").agg(*aggs)


_RT_DAY0 = "1992-01-01"  # epoch origin for x: keeps day numbers small


# Closed-form per-group OLS (slope / intercept / r^2) of daily revenue against
# time, one segment per group — the grouped-trend primitive behind growth
# dashboards and drift monitors. All five sufficient statistics (n, Sx, Sy,
# Sxy, Sxx, Syy) are EXACT integer sums (x = epoch day, y = integer cents), so
# the only floating-point steps are the final three divisions — both engines
# compute bit-identical numerators/denominators and the result hash-matches at
# 6 decimals without an epsilon. One partial-aggregated scan, |segments| output
# rows; the sufficient-statistic shape is the canonical map-side-combine
# regression at any scale (the same five sums merge associatively across 1000
# executors).
@query(
    "olap_revenue_trend_by_segment",
    f"""
WITH d AS (
  SELECT c_mktsegment AS segment,
         date_diff('day', DATE '{_RT_DAY0}', CAST(o_orderdate AS DATE)) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey),
s AS (
  SELECT segment,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS BIGINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS BIGINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM d GROUP BY segment),
t AS (
  SELECT segment, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den,
         n * syy - sy * sy AS sst,
         sx, sy
  FROM s)
SELECT segment, CAST(n AS BIGINT) AS n,
       {sql_round("num * 1.0 / den", 6)} AS slope_cents_per_day,
       {sql_round("(sy * 1.0 / n) - (num * 1.0 / den) * (sx * 1.0 / n)", 2)}
         AS intercept_cents,
       {sql_round("(num * 1.0 / den) * (num * 1.0 / sst)", 6)} AS r2
FROM t
""",
)
def olap_revenue_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment OLS trend of order value vs order date:
    slope (cents/day), intercept (cents at {_RT_DAY0}), and r^2, from
    the five exact integer sufficient statistics — the shape that
    map-side-combines: each executor folds its partition into (n, Sx,
    Sy, Sxy, Sxx, Syy), the merge is addition, and a 1000-executor
    cluster ships 6 numbers per (segment, partition). Cross-products
    exceed int64 already at sf0.1 (n * Sxy ~ 1e20 — the first closing
    bench caught the long overflow), so every product rides
    DECIMAL(38,0) (HUGEINT in the oracle); num^2 would exceed even 38
    digits, so r^2 is computed as the product of two exact-ratio
    doubles in the same expression order on both engines. customer is
    broadcast onto the orders scan."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    d = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(F.to_date("o_orderdate"), F.lit(_RT_DAY0).cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = d.groupBy("segment").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
    )
    # cross-products exceed int64 at sf0.1 (n * Sxy ~ 1e20): every product
    # rides DECIMAL(38,0) (HUGEINT in the oracle); num^2 would exceed even
    # decimal(38), so r^2 is the PRODUCT OF TWO EXACT-RATIO DOUBLES —
    # identical expression order both engines, hence identical doubles
    t = s.select(
        "segment",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("sst"),
    )
    slope = F.col("num") * 1.0 / F.col("den")
    return t.select(
        "segment",
        F.col("n").cast("long").alias("n"),
        (F.round(slope * 1e6) / 1e6).alias("slope_cents_per_day"),
        (
            F.round(
                (
                    (F.col("sy") * 1.0 / F.col("n"))
                    - slope * (F.col("sx") * 1.0 / F.col("n"))
                )
                * 100
            )
            / 100
        ).alias("intercept_cents"),
        (
            F.round(slope * (F.col("num") * 1.0 / F.col("sst")) * 1e6) / 1e6
        ).alias("r2"),
    )


# ========================= Pareto frontier (skyline) ==========================


# The 2-D skyline (non-dominated set) computed WITHOUT an all-pairs dominance
# join: per-price maxima (distributed agg) + the new strict-prefix
# global_prefix_max (operators/ranking.py) — the same gated offsets machinery
# as the ranking family, so no single-partition window above the gate.
@query(
    "olap_pareto_frontier",
    r"""
WITH pts AS (SELECT p_partkey, p_retailprice AS price,
                    CAST(p_size AS BIGINT) AS size
             FROM part),
gm AS (SELECT price, max(size) AS gmax FROM pts GROUP BY price),
rm AS (SELECT price, gmax,
              max(gmax) OVER (ORDER BY price
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS runmax
       FROM gm)
SELECT p.p_partkey AS p_partkey, round(p.price * 100) / 100 AS price,
       p.size AS size
FROM pts p JOIN rm ON p.price = rm.price
WHERE p.size = rm.gmax AND (rm.runmax IS NULL OR p.size > rm.runmax)
ORDER BY price, p_partkey
""",
)
def olap_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: parts not dominated on (minimize retail price,
    maximize size) — a part is dominated iff some part is no more
    expensive AND no smaller, with one strict. Computed in two
    distributed passes instead of the O(n^2) dominance self-join: (1)
    max size per distinct price (plain agg), (2) the STRICT-prefix
    running max of those maxima ordered by price
    (operators/ranking.global_prefix_max(inclusive=False) — the gated
    offsets form above 1M distinct prices, so no single fat sort task
    at 100 TB). A part survives iff it holds its price group's max size
    and strictly beats every cheaper group's max — exactly the
    dominance definition, including duplicate frontier points (neither
    of two identical points dominates the other: dominance needs one
    strict inequality). The oracle states the same two-pass form with a
    plain window, over compressed per-price cardinality."""
    pts = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    gm = pts.groupBy("price").agg(F.max("size").alias("gmax"))
    rm = ranking.global_prefix_max(
        gm, "gmax", "price", out_col="runmax", inclusive=False
    )
    return (
        pts.join(rm, "price")
        .where(
            (F.col("size") == F.col("gmax"))
            & (F.col("runmax").isNull() | (F.col("size") > F.col("runmax")))
        )
        .select(
            "p_partkey",
            (F.round(F.col("price") * 100) / 100).alias("price"),
            "size",
        )
        .orderBy("price", "p_partkey")
    )


# ======================== exact weighted median ===============================


# Exact quantity-weighted median of lineitem extended price per return flag —
# per-group cumulative-weight scan (window PARTITIONED by the group, bounded
# per-group sort, never a global window), first price where twice the
# cumulative weight reaches the group total. Cents-integer arithmetic end to
# end.
@query(
    "olap_weighted_median_price",
    """
WITH li AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem),
tot AS (SELECT flag, CAST(sum(w) AS BIGINT) AS total_w FROM li GROUP BY flag),
cum AS (
  SELECT flag, cents, w,
         CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents, w
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw
  FROM li),
med AS (
  SELECT c.flag AS flag, min(c.cents) AS med_cents
  FROM cum c JOIN tot t ON c.flag = t.flag
  WHERE 2 * c.cw >= t.total_w
  GROUP BY c.flag)
SELECT m.flag AS flag, t.total_w AS total_weight,
       round(m.med_cents * 1.0) / 100 AS weighted_median_price
FROM med m JOIN tot t ON m.flag = t.flag
ORDER BY flag
""",
)
def olap_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median extended price per return flag —
    the 'median price of a SOLD UNIT' (not of a line item), the robust
    center a pricing analyst actually wants when line sizes vary. Lower
    weighted median by the standard definition: the smallest price whose
    cumulative weight reaches half the total. Integer cents and integer
    weights end to end — the cumulative scan, the 2*cw >= total_w
    threshold, and the argmin are all exact, so both engines agree
    bit-for-bit. The cumulative window is PARTITIONED by the group (per
    group bounded sort, the scale-safe shape); the totals ride a
    broadcast join."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    tot = li.groupBy("flag").agg(F.sum("w").cast("long").alias("total_w"))
    w = (
        Window.partitionBy("flag")
        .orderBy("cents", "w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = li.withColumn("cw", F.sum("w").over(w).cast("long"))
    med = (
        cum.join(F.broadcast(tot), "flag")
        .where(2 * F.col("cw") >= F.col("total_w"))
        .groupBy("flag")
        .agg(F.min("cents").alias("med_cents"))
    )
    return (
        med.join(F.broadcast(tot), "flag")
        .select(
            "flag",
            F.col("total_w").alias("total_weight"),
            (F.round(F.col("med_cents") * 1.0) / 100).alias(
                "weighted_median_price"
            ),
        )
        .orderBy("flag")
    )


# ============================ RFM segmentation ================================


# RFM (recency/frequency/monetary) segmentation with mean splits — every
# above/below comparison runs on cross-multiplied BIGINTs (value * n vs total),
# so segment assignment is bit-deterministic and no float ever decides a
# boundary.
@query(
    "olap_rfm_segments",
    """
WITH cust AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                        (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
              AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(recency_days) AS BIGINT) AS tr,
         CAST(sum(frequency) AS BIGINT) AS tf,
         CAST(sum(monetary_cents) AS BIGINT) AS tm
  FROM cust),
seg AS (
  SELECT CASE WHEN recency_days * n < tr THEN 1 ELSE 0 END AS r_recent,
         CASE WHEN frequency * n > tf THEN 1 ELSE 0 END AS f_high,
         CASE WHEN CAST(monetary_cents AS DECIMAL(38,0)) * n
                   > CAST(tm AS DECIMAL(38,0)) THEN 1 ELSE 0 END AS m_high,
         monetary_cents
  FROM cust CROSS JOIN tot)
SELECT r_recent, f_high, m_high,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
FROM seg GROUP BY r_recent, f_high, m_high
ORDER BY r_recent, f_high, m_high
""",
)
def olap_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over the orders table: each customer lands in one
    of 8 segments by recency (days since last order, vs the corpus max
    order date), frequency (order count) and monetary (lifetime cents),
    each split at the population MEAN — evaluated as the exact integer
    comparison `value * n <?> total` so a boundary customer can never
    flip segments between engines. Two aggregates + one broadcast of a
    single totals row: the whole plan is two shuffles on custkey-sized
    data regardless of corpus scale. (Quartile-based RFM needs three
    global sorts; the mean split is the shuffle-free form and the
    standard first screen.)"""
    cust = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    maxday = cust.agg(F.max("last_day").alias("maxd"))
    cust = cust.crossJoin(F.broadcast(maxday)).select(
        "custkey",
        F.datediff(F.col("maxd"), F.col("last_day")).cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("recency_days").cast("long").alias("tr"),
        F.sum("frequency").cast("long").alias("tf"),
        F.sum("monetary_cents").cast("long").alias("tm"),
    )
    seg = cust.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("recency_days") * F.col("n") < F.col("tr"), 1)
        .otherwise(0)
        .alias("r_recent"),
        F.when(F.col("frequency") * F.col("n") > F.col("tf"), 1)
        .otherwise(0)
        .alias("f_high"),
        F.when(
            # cents * customer-count overflows BIGINT at 100 TB lifetimes:
            # the one comparison that needs the DECIMAL(38,0) widening
            F.col("monetary_cents").cast("decimal(38,0)") * F.col("n")
            > F.col("tm").cast("decimal(38,0)"),
            1,
        )
        .otherwise(0)
        .alias("m_high"),
        "monetary_cents",
    )
    return (
        seg.groupBy("r_recent", "f_high", "m_high")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
        .transform(sort_report, "r_recent", "f_high", "m_high")
    )


# ===================== price->quantity OLS slope per brand ====================


@query(
    "olap_price_quantity_slope_by_brand",
    """
WITH j AS (
  SELECT p_brand AS brand,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey),
m AS (
  SELECT brand,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM j GROUP BY brand)
SELECT brand, CAST(n AS BIGINT) AS n_lines,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)) * 1e12) / 1e12
       END AS slope_per_cent
FROM m
ORDER BY brand
""",
)
def olap_price_quantity_slope_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity on extended price (cents) — the
    raw screen behind a price-elasticity dashboard (a strongly negative
    slope = volume responds to price for that brand). Same integer-exact
    grouped-moments recipe as olap_discount_quantity_corr: all moments
    integral in DECIMAL(38,0) (price-cents squares at 100 TB row counts
    overflow BIGINT long before they overflow 38 digits), exactly ONE
    double division per group at the very end, zero-variance groups NULL
    by explicit CASE. One broadcast part join + one brand aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"), "x", "y"
    )
    dec = "decimal(38,0)"
    m = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    num = (n * F.col("sxy") - sx * sy).cast("double")
    return (
        m.select(
            "brand",
            n.cast("long").alias("n_lines"),
            F.when(vx == 0, F.lit(None).cast("double"))
            .otherwise(F.round(num / vx.cast("double") * 1e12) / 1e12)
            .alias("slope_per_cent"),
        )
        .transform(sort_report, "brand")
    )


# ============================ join skew report ================================

_SKEW_TOPK = 10


# Per-key frequency skew of the orders->customer join key — the number AQE's
# skew-join and manual salting decisions are made from. Top heavy keys by exact
# count with the max/mean skew ratio carried as one rounded division.
@query(
    "olap_join_skew_report",
    f"""
WITH oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(max(n) AS BIGINT) AS max_n
        FROM oc),
top AS (SELECT k, n, row_number() OVER (ORDER BY n DESC, k) AS r FROM oc)
SELECT k AS custkey, n AS n_orders, CAST(r AS BIGINT) AS heavy_rank,
       n_keys, n_rows,
       {sql_round("max_n * 1.0 * n_keys / n_rows", 6)} AS skew_ratio
FROM top CROSS JOIN tot
WHERE r <= {_SKEW_TOPK}
ORDER BY heavy_rank
""",
)
def olap_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey — the input to every
    skew mitigation decision (AQE skew-join thresholds, salting factor,
    broadcast cutoffs): the {_SKEW_TOPK} heaviest keys by exact count
    plus the max/mean skew ratio (max_n * n_keys / n_rows — 1.0 means
    perfectly uniform). One key-grain aggregate (map-side partials), a
    top-k TakeOrderedAndProject with (count desc, key) ties, one
    broadcast totals row; nothing scales worse than the key
    cardinality."""
    oc = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = oc.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
    )
    top = oc.orderBy(F.col("n").desc(), "k").limit(_SKEW_TOPK)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), "k")
    return (
        top.withColumn("heavy_rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("custkey"),
            F.col("n").alias("n_orders"),
            "heavy_rank",
            "n_keys",
            "n_rows",
            (
                F.round(
                    F.col("max_n") * 1.0 * F.col("n_keys") / F.col("n_rows") * 1e6
                )
                / 1e6
            ).alias("skew_ratio"),
        )
        .orderBy("heavy_rank")
    )


# ========================== IVM for a join ====================================

_IVM_O_MOD = 10  # orders with o_orderkey % 10 == 0 arrive as the delta

_IVM_C_MOD = 7  # customers with c_custkey % 7 == 0 arrive as the delta


# Incremental view maintenance for a JOIN — the delta-join identity (base JOIN
# base) + (base JOIN dC) + (dO JOIN base) + (dO JOIN dC), aggregated, must
# equal the full recompute (the oracle). olap_ivm_agg covers the aggregate
# case; this is the join case, the one that makes nightly full-join rebuilds
# unnecessary at 100 TB: only the three delta terms touch new data, and each
# delta side is broadcast-sized by definition of an increment.
@query(
    "olap_ivm_join_delta",
    f"""
SELECT c_mktsegment AS mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_round("sum(o_totalprice)", 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY mktsegment
""",
)
def olap_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment maintained INCREMENTALLY under the
    delta-join identity: with orders = O + dO and customer = C + dC,
    (O+dO) JOIN (C+dC) = O JOIN C  +  O JOIN dC  +  dO JOIN C
    + dO JOIN dC — the four terms are computed separately, unioned, and
    aggregated; the oracle is the plain full join, so the identity is
    hash-checked end to end. The fixture split is deterministic
    (o_orderkey % {_IVM_O_MOD} == 0 / c_custkey % {_IVM_C_MOD} == 0
    arrive as the increments). At 100 TB the O JOIN C term is the
    yesterday's materialization read back (here recomputed — the
    identity is what's under test); the three delta terms are the only
    work per refresh, each with one broadcast-sized side. Catalyst
    broadcasts dC/dO below the auto-broadcast threshold on its own;
    partial aggregation merges the four terms map-side before the one
    segment-grain shuffle."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o_base = o.where(F.col("o_orderkey") % _IVM_O_MOD != 0)
    o_delta = o.where(F.col("o_orderkey") % _IVM_O_MOD == 0)
    c_base = c.where(F.col("c_custkey") % _IVM_C_MOD != 0)
    c_delta = c.where(F.col("c_custkey") % _IVM_C_MOD == 0)
    terms = [
        o_base.join(c_base, o_base.o_custkey == c_base.c_custkey),
        o_base.join(c_delta, o_base.o_custkey == c_delta.c_custkey),
        o_delta.join(c_base, o_delta.o_custkey == c_base.c_custkey),
        o_delta.join(c_delta, o_delta.o_custkey == c_delta.c_custkey),
    ]
    unioned = terms[0]
    for t in terms[1:]:
        unioned = unioned.unionByName(t)
    return (
        unioned.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            exprs.round2(F.sum("o_totalprice")).alias("revenue"),
        )
        .transform(sort_report, "mktsegment")
    )


# Customers ranked into spend deciles (ntile with a deterministic tie-break),
# per-decile revenue share and cumulative share — the lift/concentration report
# behind "top decile = X% of revenue". Integer cents all the way; one division
# per output row. Reference parity note: the reference has no LM/eval/DQ
# surface; extension layer for the training-data-pipeline mandate.
@query(
    "olap_decile_lift",
    f"""
WITH spend AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
dec AS (
  SELECT custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, custkey) AS decile
  FROM spend),
agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM dec GROUP BY decile),
tot AS (SELECT sum(cents) AS total FROM agg),
cum AS (
  SELECT decile, n_customers, cents,
         CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents
  FROM agg)
SELECT decile, n_customers, cents,
       {sql_round('CAST(cents AS DOUBLE) / total', 6)} AS share,
       {sql_round('CAST(cum_cents AS DOUBLE) / total', 6)} AS cum_share
FROM cum CROSS JOIN tot ORDER BY decile""",
)
def olap_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend concentration by decile — the lift report behind
    "the top 10% of customers carry X% of revenue": per-customer
    lifetime cents (integer), ntile(10) with a deterministic
    (cents desc, custkey) tie-break, then per-decile revenue, share and
    cumulative share (integer sums, one division per output row). Scale
    shape: the per-customer rollup is the only corpus-sized shuffle;
    the ntile runs over customers (already 1/|orders-per-customer| the
    size) and the final relation is 10 rows. At true 100 TB the global
    ntile window would move to a two-pass quantile-cut assignment
    (approxQuantile cuts + a map-side bucket join, the
    write_zorder_clustered pattern); at warehouse scale the single
    window on the aggregated relation is the simpler correct plan."""
    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wdec = Window.orderBy(F.col("cents").desc(), "custkey")
    dec = spend.withColumn("decile", F.ntile(10).over(wdec))
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = agg.agg(F.sum("cents").alias("total"))
    wcum = Window.orderBy("decile")
    cum = agg.withColumn("cum_cents", F.sum("cents").over(wcum).cast("long"))
    share = F.round(F.col("cents").cast("double") / F.col("total") * 1e6) / 1e6
    cshare = F.round(F.col("cum_cents").cast("double") / F.col("total") * 1e6) / 1e6
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_customers", "cents",
            share.alias("share"), cshare.alias("cum_share"),
        )
        .orderBy("decile")
    )


_MB_MIN_SUPPORT = 3  # pair must co-occur in >= 3 baskets

_MB_TOP = 20


# Co-purchase association rules over order baskets (distinct parts per order):
# per part pair, support counts, confidence and LIFT = n * c_ab / (c_a * c_b),
# minimum-support filtered, top-20 by (lift, pair). The classic retail affinity
# query; every metric is a fixed-shape expression over integer counts.
@query(
    "olap_market_basket_lift",
    f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
n AS (SELECT count(DISTINCT okey) AS n_baskets FROM baskets),
item AS (SELECT part, count(*) AS c FROM baskets GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2
  HAVING count(*) >= {_MB_MIN_SUPPORT}),
scored AS (
  SELECT part_a, part_b, c_ab,
         {sql_round('CAST(c_ab AS DOUBLE) / ia.c', 6)} AS confidence,
         {sql_round('(CAST(n_baskets AS DOUBLE) * c_ab) / (ia.c * ib.c)', 6)}
           AS lift
  FROM pairs JOIN item ia ON part_a = ia.part
             JOIN item ib ON part_b = ib.part
             CROSS JOIN n)
SELECT part_a, part_b, CAST(c_ab AS BIGINT) AS c_ab, confidence, lift
FROM scored ORDER BY lift DESC, part_a, part_b LIMIT {_MB_TOP}""",
)
def olap_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for part pairs co-bought in
    >= {_MB_MIN_SUPPORT} orders, confidence P(b|a) and lift
    (observed co-rate over the independence baseline), top-{_MB_TOP} by
    (lift desc, pair). Scale shape: the pair build is a SELF-EQUI-JOIN
    on the order key — per-basket work is |basket|^2 with |basket|
    bounded by order size (single digits in any retail schema), so pair
    volume is ~linear in lineitem; item counts and the basket total are
    partial-aggregated; every rule metric is one fixed-shape expression
    over integer counts (no float accumulation). The min-support HAVING
    prunes the rule set before the top-k."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    # r13 optimization (guide §2.4): baskets feeds FOUR consumers (the
    # basket total, the per-item counts, both pair-join sides) — persist
    # pre-partitioned on the pair-join key so the self-join reads the
    # cache in the distribution it needs. Stats-gated on the lineitem
    # scan estimate; a 100 TB fact table keeps the recompute plan.
    if caches.is_small(li):
        baskets = caches.track(baskets.repartition("okey").persist())
    n = baskets.agg(F.count_distinct("okey").alias("n_baskets"))
    item = baskets.groupBy("part").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select("okey", F.col("part").alias("part_a"))
    b = baskets.select(F.col("okey").alias("okey2"), F.col("part").alias("part_b"))
    pairs = (
        a.join(b, (F.col("okey") == F.col("okey2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= _MB_MIN_SUPPORT)
    )
    ia = item.select(F.col("part").alias("part_a"), F.col("c").alias("ca"))
    ib = item.select(F.col("part").alias("part_b"), F.col("c").alias("cb"))
    conf = F.round(F.col("c_ab").cast("double") / F.col("ca") * 1e6) / 1e6
    lift = (
        F.round(
            (F.col("n_baskets").cast("double") * F.col("c_ab"))
            / (F.col("ca") * F.col("cb"))
            * 1e6
        )
        / 1e6
    )
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", F.col("c_ab").cast("long").alias("c_ab"),
            conf.alias("confidence"), lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(_MB_TOP)
    )
