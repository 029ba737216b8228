"""Round-13 session batch 6 — market-basket association rules and the
near-dup audit sample:

- olap_market_basket_lift: co-purchase association rules over order
  baskets (distinct parts per order): per part pair, support counts,
  confidence and LIFT = n * c_ab / (c_a * c_b), minimum-support
  filtered, top-20 by (lift, pair). The classic retail affinity query;
  every metric is a fixed-shape expression over integer counts.
- corpus_dedup_audit_sample: a stratified, deterministic audit sample
  of the MinHash near-dup pairs — K pairs per Jaccard band picked by
  md5 rank — the fixed-size slice a labeling queue actually reviews to
  estimate dedup precision per similarity band. Rank windows partition
  by band (tiny), the pair relation is the registered LSH join's.

Reference parity note: the reference has no affinity/audit surface;
extension layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import caches, dedup
from . import query, table
from .llmops import sql_round

_MB_MIN_SUPPORT = 3  # pair must co-occur in >= 3 baskets
_MB_TOP = 20


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


_AUD_PER_BAND = 5  # audit pairs per 0.1-wide jaccard band

# the registered dedup_minhash_lsh statement, reused verbatim as a CTE
# body — the audit sample is OVER the exact pair relation the dedup
# join emits, not a re-derivation that could drift
from . import ORACLE_SQL as _REG  # noqa: E402

_MH_PAIRS_SQL = _REG["dedup_minhash_lsh"]


@query(
    "corpus_dedup_audit_sample",
    f"""
WITH mh AS ({_MH_PAIRS_SQL}),
banded AS (
  SELECT id_a, id_b, jaccard,
         CAST(least(floor(jaccard * 10), 9) AS BIGINT) AS band
  FROM mh),
rk AS (
  SELECT band, id_a, id_b, jaccard,
         row_number() OVER (
           PARTITION BY band
           ORDER BY md5(CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR)),
                    id_a, id_b) AS r
  FROM banded)
SELECT band, id_a, id_b, jaccard
FROM rk WHERE r <= {_AUD_PER_BAND} ORDER BY band, id_a, id_b""",
)
def corpus_dedup_audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified audit sample of the MinHash near-dup pairs: up to
    {_AUD_PER_BAND} pairs per 0.1-wide Jaccard band, picked by md5 rank
    over the pair key — the fixed-size, reproducible slice a labeling
    queue reviews to estimate DEDUP PRECISION PER BAND (precision near
    the 0.5 threshold is what tunes it; pairs at 0.9+ are
    rubber-stamps). The pair relation is the registered
    dedup_minhash_lsh join reused verbatim (operators/dedup), so the
    audit can never drift from what production deduplicates; the rank
    window partitions by band (10 partitions regardless of corpus
    size), and the md5 order makes the same pairs come up for review
    run after run — the property that lets two labeling vendors check
    each other. Scale: the LSH join dominates; the stratified pick adds
    one tiny band-keyed window over its output."""
    pairs = dedup.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5
    ).select("id_a", "id_b", "jaccard")
    band = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("long")
    w = Window.partitionBy("band").orderBy(
        F.md5(
            F.concat(
                F.col("id_a").cast("string"), F.lit("_"), F.col("id_b").cast("string")
            )
        ),
        "id_a",
        "id_b",
    )
    return (
        pairs.withColumn("band", band)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _AUD_PER_BAND)
        .select("band", "id_a", "id_b", "jaccard")
        .orderBy("band", "id_a", "id_b")
    )
