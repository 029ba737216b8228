"""Round-6 session batch 14 — market-basket association rules with a full
DuckDB oracle twin.

olap_basket_affinity mines pairwise co-purchase rules over orders:
support / confidence / lift for part-brand pairs appearing in the same
order. Brands (not raw parts) keep the pair space dense enough to rank on
the fixture AND bound the blow-up the same way at any scale: the
per-order pair fan-out is C(brands_in_order, 2), and brands_in_order is
small by construction of real baskets. All counts integral; the three
ratios are final double expressions rounded at 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import caches
from . import query, table

_TOP = 20


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
