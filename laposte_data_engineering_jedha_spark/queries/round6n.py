"""Round-6 session batch 15 — cross-source contamination and grouped
correlation, each with a full DuckDB oracle twin:

- corpus_cross_source_dupes: the source-pair duplication matrix at the
  shared-8-token-passage grain — how many doc pairs share exact
  boilerplate, within vs across sources (the "source B republishes
  source A" detector; cross-source sharing means double-counted
  provenance and weight inflation in mixtures).
- olap_discount_quantity_corr: per-brand Pearson correlation between
  discount (basis points) and quantity — the price-elasticity proxy,
  reusing the integer-exact grouped-moments recipe from
  corpus_length_vs_norm_corr (every moment integral in DECIMAL(38),
  one final double expression per group, degenerate groups NULL by
  explicit CASE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import caches
from . import query, spread_table, table


_P = 8  # tokens per passage — the dedup_passage grain
_DF_CAP = 32  # boilerplate guard: keys shared by more docs are skipped


@query(
    "corpus_cross_source_dupes",
    """
WITH toks AS (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
pl AS (SELECT doc_id, source,
              [array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ')
               for i in range(0, CAST(ceil(len(t) / 8) AS INT))] AS ps
       FROM toks),
p AS (SELECT DISTINCT doc_id, source, md5(ps[CAST(r.range AS INT) + 1]) AS k
      FROM pl CROSS JOIN range(0, 4096) r
      WHERE CAST(r.range AS INT) < len(ps)),
keys AS (SELECT k FROM p GROUP BY k
         HAVING count(DISTINCT doc_id) BETWEEN 2 AND 32),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.source AS sa, b.source AS sb
  FROM p a JOIN keys ON a.k = keys.k
           JOIN p b ON a.k = b.k AND a.doc_id < b.doc_id)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       CAST(sum(CASE WHEN sa != sb THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_pairs,
       CAST(sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS n_within_pairs
FROM pairs GROUP BY least(sa, sb), greatest(sa, sb)
""",
)
def corpus_cross_source_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair SHARED-PASSAGE matrix: doc pairs sharing at least one
    exact 8-token passage (the dedup_passage grain — the fixture has no
    full-text exact dups, but passage-level boilerplate crosses docs),
    rolled up per unordered source pair and split within- vs
    cross-source. A hot CROSS row means one source republishes another's
    boilerplate — double-counted provenance in mixture weights. Pair
    volume is bounded by the df cap (keys shared by > 32 docs are
    boilerplate, skipped — same guard as dedup_ngram_jaccard's
    stop-shingle cap); pairs dedupe via DISTINCT before the rollup."""
    from ..functions import texts

    # r13 optimization (guide §2.4/§2.5): spread the single-row-group scan
    # ahead of tokenization, and stats-gate persist `p` — it feeds THREE
    # consumers (the df-cap aggregate and both pair-join sides), each of
    # which would otherwise re-run tokenize + passage-split + md5 +
    # distinct. Downstream algebra is integer pair counting. At 100 TB the
    # scan splits itself and the gate keeps recompute-per-consumer.
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    toks = docs.select("doc_id", "source", texts.tokens("text").alias("t"))
    pl = toks.select(
        "doc_id",
        "source",
        F.expr(
            f"transform(slice(sequence(0, greatest(cast(ceil(size(t) / {{p}}) as int) - 1, 0)), "
            f"1, cast(ceil(size(t) / {{p}}) as int)), "
            f"i -> array_join(slice(t, i * {{p}} + 1, {{p}}), ' '))".format(p=_P)
        ).alias("ps"),
    )
    p = (
        pl.select("doc_id", "source", F.explode("ps").alias("passage"))
        .select("doc_id", "source", F.md5("passage").alias("k"))
        .distinct()
    )
    p = caches.persist_if_small(p, docs)
    keys = (
        p.groupBy("k")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where((F.col("nd") >= 2) & (F.col("nd") <= _DF_CAP))
        .select("k")
    )
    a = p.join(keys, "k").select(
        "k", F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
    )
    b = p.select("k", F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    pairs = (
        a.join(b, "k")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    return pairs.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
        .cast("long")
        .alias("n_cross_pairs"),
        F.sum(F.when(F.col("sa") == F.col("sb"), 1).otherwise(0))
        .cast("long")
        .alias("n_within_pairs"),
    )


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
