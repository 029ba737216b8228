"""Round-4 registry extensions — deeper multi-way OLAP join shapes over the
TPC-H tables (Q4/Q5/Q10/Q22 analogues) plus LLM-pipeline operators:
winnowing substring-fingerprint dedup, per-document character entropy, a
unigram-LM perplexity proxy, per-label embedding centroids,
distance-to-centroid outliers, and event inter-arrival cadence features.
Each with a DuckDB oracle twin; same cross-engine float discipline as
queries/olap.py (DECIMAL-internal sums, left-to-right double folds,
md5-bottomed hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from ..functions import texts
from ..operators import caches, dedup
from .llmops import sql_dot
from . import events_table, query, spread_scan, table

_DEC = "decimal(18,4)"
_DEC9 = "decimal(18,9)"


def _dsum(col) -> F.Column:
    return F.sum(col.cast(_DEC))


# ============================ OLAP join shapes ===============================


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


# ========================== LLM-pipeline operators ===========================

_WIN_K = 3  # winnowing k-gram width (tokens)
_WIN_W = 4  # winnowing window (k-grams); guarantee threshold = w+k-1 tokens
_WIN_MAX_DF = 100  # stop-fingerprint document-frequency cap


@query(
    "dedup_winnow",
    rf"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
              FROM documents),
gr AS (SELECT doc_id,
              [{{'p': i - 1,
                 's': md5(array_to_string(t[i:i+{_WIN_K - 1}], ' ')) || '-' ||
                      lpad(CAST(i - 1 AS VARCHAR), 8, '0')}}
               for i in range(1, len(t) - {_WIN_K - 2})] AS gl
       FROM toks),
g AS (SELECT doc_id, u.p AS pos, u.s AS sel
      FROM (SELECT doc_id, unnest(gl) AS u FROM gr)),
m AS (SELECT doc_id, pos,
             min(sel) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS sel
      FROM g),
fp0 AS (SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp
        FROM m WHERE pos >= {_WIN_W - 1}),
freq AS (SELECT fp, count(*) AS df FROM fp0 GROUP BY 1),
fp AS (SELECT doc_id, f.fp FROM fp0 f JOIN freq USING (fp)
       WHERE df <= {_WIN_MAX_DF}),
sz AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) * 10000) / 10000
         AS overlap
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE n_shared >= 2""",
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing substring-fingerprint pairs (MOSS; Schleimer et al. 2003):
    every shared run of >= w+k-1 tokens is GUARANTEED to produce a shared
    fingerprint, so this catches copied passages the set-semantic shingle
    family dilutes away in long documents. See operators/dedup.py
    winnow_fingerprints for the single-window-min formulation and scale
    notes; the oracle regenerates the identical (hash, pos) selection
    strings, window minima, and stop-fingerprint cap."""
    return dedup.winnow_pairs(
        table(spark, sf_dir, "documents"),
        k=_WIN_K,
        w=_WIN_W,
        min_shared=2,
        max_fp_df=_WIN_MAX_DF,
    )


@query(
    "text_entropy",
    """
WITH cs AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM cs GROUP BY 1, 2),
lst AS (SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY ch) AS cl,
               CAST(sum(c) AS DOUBLE) AS n
        FROM cnt GROUP BY 1)
SELECT d.doc_id,
       coalesce(
         -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                   [(x / n) * log2(x / n) for x in cl]),
                      (a, b) -> a + b) + 0.0,
         CAST(0.0 AS DOUBLE)) AS entropy
FROM documents d LEFT JOIN lst USING (doc_id)""",
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    gibberish / encoding-junk / repetition detector next to text_quality.
    Arrow-batched single pass (functions/texts.py pd_char_entropy); the
    oracle rebuilds the same sorted-char left-to-right fold, and log2 is
    C-libm bit-identical on both engines, so the doubles hash-match
    without rounding."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", texts.pd_char_entropy("text").alias("entropy")
    )


_EMB_DIM = 64  # fixture embedding dimensionality (TESTDATA.md)


@query(
    "embedding_domain_centroids",
    f"""
SELECT label, i - 1 AS pos,
       CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
         / count(*) AS centroid,
       count(*) AS n_vecs
FROM embeddings, (SELECT unnest(range(1, {_EMB_DIM + 1})) AS i) dims
WHERE i <= len(embedding)
GROUP BY 1, 2""",
)
def embedding_domain_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in long (label, pos, centroid, n_vecs) form —
    the centroid table behind domain balancing, outlier filtering
    (distance-to-centroid) and IVF-style coarse quantization.

    posexplode fans each vector into (label, pos, value) rows — dim x n,
    narrow — and ONE hash aggregate on (label, pos) with map-side partial
    combine produces every centroid component; sums run through
    DECIMAL(18,9) so partition order cannot perturb low bits (same
    discipline as the OLAP money sums, at embedding precision). Long form
    keeps the oracle comparison element-wise exact and needs no
    order-sensitive array re-assembly."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("double").cast(_DEC9)).cast("double") / F.count(F.lit(1)))
        .alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@query(
    "text_perplexity_proxy",
    r"""
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
              FROM documents WHERE trim(text) <> ''),
tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
freq AS (SELECT tok, sum(c) AS tf FROM tc GROUP BY 1),
n_tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS nn FROM freq),
lst AS (SELECT doc_id,
               list(struct_pack(c := t.c, tf := f.tf) ORDER BY t.tok) AS terms,
               sum(t.c) AS n
        FROM tc t JOIN freq f USING (tok) GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(l.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN l.doc_id IS NULL THEN NULL ELSE
         -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            [CAST(x.c AS DOUBLE) * log2(CAST(x.tf AS DOUBLE) / nn) for x in terms]),
            (a, b) -> a + b) / l.n END AS xent_bits
FROM documents d
LEFT JOIN lst l USING (doc_id)
CROSS JOIN n_tot""",
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram-LM cross-entropy per document (bits/token) —
    the cheap perplexity proxy of corpus curation: documents whose tokens
    are rare in THIS corpus score high (junk, boilerplate-free rarities),
    formulaic/common text scores low. The standard
    quality-vs-diversity knob next to text_quality / text_rarity.

    Shape at 100 TB: explode -> (doc, tok) count (shuffle 1), token
    frequencies by a second aggregate on tok (shuffle 2), a SHUFFLE join
    back on tok (the vocabulary is unbounded — deliberately no broadcast
    hint, the same rule as text_tfidf_topterms), and one per-doc
    collect+fold (shuffle 3). All shuffled rows are narrow (ids + two
    longs). The corpus token total N is a single driver scalar (legitimate
    like the IDF doc count). Per-token log2 math runs in an Arrow kernel,
    not JVM — Spark's StrictMath log2 is NOT bit-identical to C libm, the
    kernel's Python log2 is (see functions/texts.py pd_unigram_xent), so
    the doubles hash-match the oracle unrounded."""
    docs = table(spark, sf_dir, "documents")
    # r13 optimization (guide §2.5): tokenize + explode over a
    # single-row-group file serialize on one task; downstream is integer
    # counting. spread_scan (not spread_table) so test fixtures that
    # substitute `table` keep working; at 100 TB the scan splits itself.
    path = os.path.join(sf_dir, "documents.parquet")
    spread = spread_scan(
        docs,
        spark,
        os.path.getsize(path) if os.path.isfile(path) else 0,
        min_bytes=256 << 10,
        key="doc_id",
    )
    toks = (
        spread.where(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode(texts.tokens("text")).alias("tok"))
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    # r13 optimization (guide §2.4): tc feeds THREE passes — the token
    # frequencies, the driver scalar N (freq.first() below), and the
    # per-doc join — each otherwise re-running tokenize + explode + the
    # first aggregate. Stats-gated on the INPUT scan estimate (post-explode
    # estimates inflate); 100 TB keeps the recompute plan.
    tc = caches.persist_if_small(tc, docs)
    freq = tc.groupBy("tok").agg(F.sum("c").alias("tf"))
    n_total = float(freq.agg(F.sum("tf").alias("n")).first()["n"])
    per_doc = (
        tc.join(freq, "tok")  # no broadcast hint: vocabulary is unbounded
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("tok", "c", "tf"))).alias("terms"),
            F.sum("c").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            texts.pd_unigram_xent("terms", F.lit(n_total)).alias("xent_bits"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "xent_bits",
        )
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
    "events_interarrival_stats",
    """
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events)
SELECT user_id, count(*) AS n_gaps,
       CAST(sum(gap_ms) AS DOUBLE) / count(*) AS mean_gap_ms,
       max(gap_ms) AS max_gap_ms, min(gap_ms) AS min_gap_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY user_id""",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event inter-arrival statistics — the activity-cadence
    feature behind bot filtering and engagement modeling. One window
    shuffle on user_id (lag over (ts, event_id) — the event_id tiebreak
    makes simultaneous events deterministic, the asof-join lesson), then a
    reuse of the SAME user_id partitioning for the aggregate: Catalyst
    plans zero additional Exchanges after the window. All gap math is
    integer milliseconds (epoch_ms in both engines), so sums are exact and
    the mean is a deterministic long/long->double quotient."""
    ev = events_table(spark, sf_dir)
    from pyspark.sql import Window as W

    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gaps = ev.select(
        "user_id", (ms - F.lag(ms).over(win)).alias("gap_ms")
    ).where(F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        (F.sum("gap_ms").cast("double") / F.count(F.lit(1))).alias("mean_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.min("gap_ms").alias("min_gap_ms"),
    )


@query(
    "embedding_outliers",
    f"""
WITH cent AS (
  SELECT label, i - 1 AS pos,
         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
           / count(*) AS centroid
  FROM embeddings, (SELECT unnest(range(1, {_EMB_DIM + 1})) AS i) dims
  WHERE i <= len(embedding)
  GROUP BY 1, 2),
terms AS (
  SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {_EMB_DIM + 1})) AS i) dims
  WHERE i <= len(embedding)),
diffs AS (
  SELECT t.vec_id, t.label,
         list((t.v - c.centroid) * (t.v - c.centroid) ORDER BY t.pos) AS ds
  FROM terms t JOIN cent c ON t.label = c.label AND t.pos = c.pos
  GROUP BY 1, 2),
d AS (SELECT vec_id, label,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ds),
                              (a, b) -> a + b)) AS dist
      FROM diffs)
SELECT vec_id, label, dist FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rn
  FROM d) WHERE rn <= 5""",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 farthest vectors from their own label centroid — the
    distance-to-centroid outlier filter of embedding curation (mislabeled
    or junk points sit far from their domain's center; SemDeDup's
    complementary 'keep the unusual' signal).

    Two phases sharing one scan shape: the centroid aggregate (posexplode
    -> decimal mean per (label, pos), same plan as
    embedding_domain_centroids) is assembled back into a per-label ARRAY
    and broadcast (labels are a bounded domain dimension — tens to
    thousands — unlike supplier/customer this broadcast is safe BY
    CONSTRUCTION at any corpus size); each vector then computes its
    distance in one zip_with/aggregate left-to-right fold (bit-identical
    to the oracle's pos-ordered list_reduce) and a per-label
    top-5 window (WindowGroupLimit prunes before the final sort). Ties on
    distance break by vec_id."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent_long = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("double").cast(_DEC9)).cast("double") / F.count(F.lit(1)))
        .alias("c")
    )
    cent_arr = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    diff = F.zip_with(
        F.col("embedding"),
        F.col("centroid"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist = F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))
    from pyspark.sql import Window as W

    win = W.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        emb.join(F.broadcast(cent_arr), "label")
        .select("vec_id", "label", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 5)
        .select("vec_id", "label", "dist")
    )


_TRUNC_DIM = 16


@query(
    "embedding_truncation_fidelity",
    f"""
WITH pairs AS (
  SELECT vec_id, label, embedding,
         lead(vec_id)    OVER (PARTITION BY label ORDER BY vec_id) AS next_id,
         lead(embedding) OVER (PARTITION BY label ORDER BY vec_id) AS next_emb
  FROM embeddings),
scored AS (
  SELECT vec_id, next_id, label,
         {{dot_full}} AS df_, {{naa_full}} AS na_f, {{nbb_full}} AS nb_f,
         {{dot_t}} AS dt_, {{naa_t}} AS na_t, {{nbb_t}} AS nb_t
  FROM pairs WHERE next_id IS NOT NULL)
SELECT vec_id, next_id, label,
       round(df_ / (sqrt(na_f) * sqrt(nb_f)) * 1000000) / 1000000 AS cos_full,
       round(dt_ / (sqrt(na_t) * sqrt(nb_t)) * 1000000) / 1000000 AS cos_trunc
FROM scored
WHERE na_f > 0 AND nb_f > 0 AND na_t > 0 AND nb_t > 0""".format(
        dot_full=sql_dot("embedding", "next_emb", _EMB_DIM),
        naa_full=sql_dot("embedding", "embedding", _EMB_DIM),
        nbb_full=sql_dot("next_emb", "next_emb", _EMB_DIM),
        dot_t=sql_dot("embedding", "next_emb", _TRUNC_DIM),
        naa_t=sql_dot("embedding", "embedding", _TRUNC_DIM),
        nbb_t=sql_dot("next_emb", "next_emb", _TRUNC_DIM),
    ),
)
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: for a deterministic chain of
    within-label vector pairs (each vector vs the next vec_id in its
    label), the cosine computed on the full {64} dims NEXT TO the cosine
    on the first {16} dims. The downstream decision — can ANN recall /
    dedup run on a 4x-cheaper prefix? — reads directly off the
    cos_trunc-vs-cos_full spread, and the pairing is a window `lead`, not
    a sampled join, so the audit is reproducible run-to-run and engine-
    to-engine.

    One window shuffle on label (the pairing), then pure map-side
    arithmetic: both cosines are strict left-to-right `aggregate` folds
    (slice() for the prefix) matching the twin's list comprehensions
    term-for-term; sqrt is IEEE-exact on both engines; zero-norm pairs
    are filtered (the knn_graph lesson) and the r6 quantization matches
    the similarity family's pair convention."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    w = W.partitionBy("label").orderBy("vec_id")
    pairs = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.lead("vec_id").over(w).alias("next_id"),
        F.lead("embedding").over(w).alias("next_emb"),
    ).where(F.col("next_id").isNotNull())

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    full_a, full_b = F.col("embedding"), F.col("next_emb")
    tr_a = F.slice(full_a, 1, _TRUNC_DIM)
    tr_b = F.slice(full_b, 1, _TRUNC_DIM)
    scored = pairs.select(
        "vec_id",
        "next_id",
        "label",
        fold_dot(full_a, full_b).alias("df_"),
        fold_dot(full_a, full_a).alias("na_f"),
        fold_dot(full_b, full_b).alias("nb_f"),
        fold_dot(tr_a, tr_b).alias("dt_"),
        fold_dot(tr_a, tr_a).alias("na_t"),
        fold_dot(tr_b, tr_b).alias("nb_t"),
    )
    r6 = lambda c: F.round(c * 1000000) / 1000000  # noqa: E731
    return (
        scored.where(
            (F.col("na_f") > 0) & (F.col("nb_f") > 0)
            & (F.col("na_t") > 0) & (F.col("nb_t") > 0)
        )
        .select(
            "vec_id",
            "next_id",
            "label",
            r6(F.col("df_") / (F.sqrt("na_f") * F.sqrt("nb_f"))).alias("cos_full"),
            r6(F.col("dt_") / (F.sqrt("na_t") * F.sqrt("nb_t"))).alias("cos_trunc"),
        )
    )


_PQ_M = 4
_PQ_K = 16
_PQ_SUB = _EMB_DIM // _PQ_M
_PQ_ITERS = 2
_PQ_OFF = 1_048_576  # == operators.similarity.PQ_PIN_SCALE (2^20)


def _sql_pin_d2(j: int, cent: str) -> str:
    """Fold d2 between the j-th subvector and a centroid row of CTE
    `cent` (vals = list of sub doubles) — same left-to-right fold as the
    Arrow kernel (vectors._fold_d2)."""
    base = j * _PQ_SUB
    diff = f"(CAST(e.embedding[{base} + d + 1] AS DOUBLE) - vals[d + 1])"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {_PQ_SUB}), d -> {diff} * {diff})), "
        f"(a, b) -> a + b)"
    )


def _sql_lloyd_ctes(j: int) -> str:
    """CTE chain for one subspace: seeded init (k lowest-vec_id
    subvectors) + `_PQ_ITERS` quantized Lloyd steps + final codes — the
    SQL twin of similarity.pq_fit_lloyd_pinned (see its docstring for the
    exactness argument)."""
    base = j * _PQ_SUB
    parts = [
        f"""cent_{j}_0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
         [CAST(embedding[{base} + d + 1] AS DOUBLE) for d in range(0, {_PQ_SUB})] AS vals
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}))"""
    ]
    q = (
        f"CAST(floor(CAST(e.embedding[{base} + r.range + 1] AS DOUBLE)"
        f" * {_PQ_OFF} + 0.5) AS BIGINT)"
    )
    for i in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""asg_{j}_{i} AS (
  SELECT e.vec_id, min({{'d': {_sql_pin_d2(j, f'cent_{j}_{i-1}')}, 'c': c}})['c'] AS cen
  FROM embeddings e CROSS JOIN cent_{j}_{i-1}
  GROUP BY e.vec_id)"""
        )
        parts.append(
            f"""upd_{j}_{i} AS (
  SELECT cen AS c, list(cv ORDER BY d) AS vals
  FROM (
    SELECT cen, r.range AS d,
           CAST(((sum({q}) + count(*) * {_PQ_OFF}) // count(*)) - {_PQ_OFF}
                AS DOUBLE) / {_PQ_OFF} AS cv
    FROM asg_{j}_{i} a JOIN embeddings e ON a.vec_id = e.vec_id
    CROSS JOIN range(0, {_PQ_SUB}) r
    GROUP BY cen, r.range
  ) GROUP BY cen)"""
        )
        parts.append(
            f"""cent_{j}_{i} AS (
  SELECT p.c, coalesce(u.vals, p.vals) AS vals
  FROM cent_{j}_{i-1} p LEFT JOIN upd_{j}_{i} u ON p.c = u.c)"""
        )
    parts.append(
        f"""codes_{j} AS (
  SELECT e.vec_id,
         CAST(min({{'d': {_sql_pin_d2(j, f'cent_{j}_{_PQ_ITERS}')}, 'c': c}})['c']
              AS INTEGER) AS code{j}
  FROM embeddings e CROSS JOIN cent_{j}_{_PQ_ITERS}
  GROUP BY e.vec_id)"""
    )
    return ",\n".join(parts)


_PQ_LLOYD_SQL = (
    "WITH "
    + ",\n".join(_sql_lloyd_ctes(j) for j in range(_PQ_M))
    + "\nSELECT vec_id, "
    + ", ".join(f"code{j}" for j in range(_PQ_M))
    + "\nFROM codes_0"
    + "".join(f" JOIN codes_{j} USING (vec_id)" for j in range(1, _PQ_M))
)


@query("embedding_pq_codes", _PQ_LLOYD_SQL)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding corpus: 4 subspaces
    x 16 centroids = 2 bytes per 64-dim vector, with the codebook FIT in
    the query — graduated from rows-only to a full hash row in round 8 by
    pinning the fit (VERDICT r7 item 2): seeded init (k lowest-vec_id
    subvectors) + 2 quantized Lloyd steps, reproduced bit-for-bit by the
    generated DuckDB twin (similarity.pq_fit_lloyd_pinned has the
    exactness argument: assignments are the fold-faithful Arrow kernel,
    centroid updates are BIGINT sums of 2^20-quantized coordinates and
    exact-dyadic floor-means, so neither engine ever accumulates floats).
    The production fit keeps the seeded-sample MLlib path
    (pq_fit_codebooks, recall/reconstruction-tested in
    tests/test_llmops.py); this registered query exercises the identical
    assign/update/encode dataflow with a verifiable fit.

    The registered projection unpacks one IntegerType column per
    subspace — external drivers canonicalize output in pandas, and a
    list-typed column is unsortable/unhashable there (the one red row in
    CORRECTNESS_r06); atomic columns enforced registry-wide by
    tests/test_plans.py::test_registry_returns_atomic_columns_only."""
    from ..functions import vectors
    from ..operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit_lloyd_pinned(
        emb, m=_PQ_M, k=_PQ_K, dim=_EMB_DIM, iters=_PQ_ITERS
    )
    return emb.select(
        "vec_id", vectors.pd_fold_codes("embedding", books).alias("codes")
    ).select(
        "vec_id",
        *[F.element_at("codes", j + 1).alias(f"code{j}") for j in range(_PQ_M)],
    )
