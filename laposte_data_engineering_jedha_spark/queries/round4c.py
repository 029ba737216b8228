"""Round-4c extensions: graph analytics over the event stream (type
affinity lift, an integer-exact unrolled PageRank) and content-defined
chunking for storage-level dedup. The PageRank is the template for
iterative algorithms under the cross-engine gate: every iteration runs in
BIGINT micro-units (floor divisions, no floats), so three unrolled rounds
hash-match the SQL twin bit-for-bit — the same trick that made the
rank-stable weighted sample and the bloom bitmap oracle-able."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts
from . import events_table, query, table, table_rowcount
from .llmops import sql_md5i, sql_round, sql_toks


@query(
    "events_type_affinity",
    """
WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT count(DISTINCT user_id) AS n_users FROM pairs),
marg AS (SELECT event_type, count(*) AS n FROM pairs GROUP BY 1),
co AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_both, ma.n AS n_a, mb.n AS n_b,
       round(CAST(n_both AS DOUBLE) * n_users / (ma.n * mb.n) * 10000) / 10000
         AS lift
FROM co
JOIN marg ma ON type_a = ma.event_type
JOIN marg mb ON type_b = mb.event_type
CROSS JOIN tot""",
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types over the user dimension:
    P(a,b) / (P(a) P(b)) — lift > 1 marks behaviors that travel together
    (the co-occurrence statistic behind item-item recommenders and
    feature-cross pruning).

    Shape: the event stream collapses to DISTINCT (user, type) support
    FIRST (the only fact-sized shuffle); the co-occurrence self-join is
    then user-keyed with per-user fan-out bounded by |types|^2 (types are
    a bounded domain — at 100 TB this join grows linearly with users, not
    events); marginals broadcast. Counts are integers; one r4-quantized
    double ratio at the end."""
    ev = events_table(spark, sf_dir)
    pairs = ev.select("user_id", "event_type").distinct()
    tot = pairs.agg(F.countDistinct("user_id").alias("n_users"))
    marg = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = pairs.select("user_id", F.col("event_type").alias("type_a"))
    b = pairs.select("user_id", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        co.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.round(
                    F.col("n_both").cast("double")
                    * F.col("n_users")
                    / (F.col("n_a") * F.col("n_b"))
                    * 10000
                )
                / 10000
            ).alias("lift"),
        )
    )


_PR_SCALE = 1_000_000_000_000  # rank micro-units: 1.0 == 10^12
_PR_ITERS = 3


def _sql_pr_iter(prev: str, it: int) -> str:
    """One unrolled integer PageRank round as a SQL CTE pair."""
    return f"""
c{it} AS (
  SELECT e.dst AS event_type,
         sum((r.rank_u * 85 // 100) * e.n // e.w_out) AS contrib
  FROM {prev} r JOIN edges e ON r.event_type = e.src
  GROUP BY 1),
r{it} AS (
  SELECT n.event_type,
         base_u + coalesce(c.contrib, 0) AS rank_u
  FROM nodes n
  LEFT JOIN c{it} c USING (event_type)
  CROSS JOIN consts)"""


@query(
    "events_type_pagerank",
    f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
edges0 AS (
  SELECT event_type AS src, next_type AS dst, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
edges AS (
  SELECT src, dst, n, sum(n) OVER (PARTITION BY src) AS w_out FROM edges0),
nodes AS (SELECT DISTINCT event_type FROM events),
consts AS (
  SELECT CAST({_PR_SCALE} AS BIGINT) * 15 // (100 * count(*)) AS base_u,
         CAST({_PR_SCALE} AS BIGINT) // count(*) AS init_u,
         count(*) AS n_nodes
  FROM nodes),
r0 AS (SELECT event_type, init_u AS rank_u FROM nodes CROSS JOIN consts),
{",".join(_sql_pr_iter("r" + str(i), i + 1).strip() for i in range(_PR_ITERS))}
SELECT event_type, CAST(rank_u AS BIGINT) AS rank_u FROM r{_PR_ITERS}""",
)
def events_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph (edges = the
    markov-transition counts), {_PR_ITERS} unrolled power iterations with
    damping 0.85 — the iterative-algorithm template under the exact
    cross-engine gate.

    The determinism trick: ranks live in BIGINT micro-units (1.0 = 10^12)
    and every step is integer multiply + floor division — `(rank * 85 //
    100) * n // w_out` — so the per-node contribution sums are exact
    BIGINTs in ANY aggregation order; a float formulation would make each
    shuffle a coin flip in the low bits. Dangling-node mass leaks (the
    standard simplification; no type is a sink in the fixture, and leak
    only rescales). Each iteration is one (src-keyed join -> dst-keyed
    aggregate) pair over a |types|^2-bounded edge table; at 100 TB the
    expensive part is the ONE windowed pass deriving the edges, shared
    with events_markov_transitions, and iterations cost nothing because
    the graph is domain-sized. For billion-node graphs the same loop runs
    with edges as the big table and localCheckpoint between rounds (see
    operators/dedup.py connected components)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    edges0 = (
        seq.groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    edges = edges0.withColumn(
        "w_out", F.sum("n").over(Window.partitionBy("src"))
    ).cache()
    nodes = ev.select("event_type").distinct()
    n_nodes = nodes.count()  # domain-sized scalar (like the IDF doc count)
    base_u = _PR_SCALE * 15 // (100 * n_nodes)
    init_u = _PR_SCALE // n_nodes

    ranks = nodes.select("event_type", F.lit(init_u).cast("long").alias("rank_u"))
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(edges, ranks["event_type"] == edges["src"])
            .select(
                F.col("dst").alias("event_type"),
                F.expr("(rank_u * 85 div 100) * n div w_out").alias("c"),
            )
            .groupBy("event_type")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "event_type", "left")
            .select(
                "event_type",
                (F.lit(base_u) + F.coalesce("contrib", F.lit(0)))
                .cast("long")
                .alias("rank_u"),
            )
        )
    return ranks


_CDC_MOD = 16  # boundary when md5int32(tok) % 16 == 0 -> ~16-token chunks


@query(
    "corpus_cdc_chunks",
    f"""
WITH toks AS (
  SELECT doc_id, u.tok AS tok, u.pos AS pos
  FROM (SELECT doc_id,
               unnest([{{'pos': i, 'tok': t[i]}} for i in range(1, len(t) + 1)]) AS u
        FROM (SELECT doc_id, {sql_toks('text')} AS t FROM documents
              WHERE trim(text) <> ''))),
flagged AS (
  SELECT doc_id, tok, pos,
         CASE WHEN {sql_md5i('tok')} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END AS b
  FROM toks),
assigned AS (
  SELECT doc_id, tok, pos,
         CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS chunk_idx
  FROM flagged)
SELECT doc_id, chunk_idx,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
       count(*) AS n_tokens
FROM assigned
GROUP BY doc_id, chunk_idx""",
)
def corpus_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking at token granularity: a chunk boundary
    falls AFTER every token whose md5 is 0 mod {_CDC_MOD} (expected chunk
    ~{_CDC_MOD} tokens). Because boundaries depend on CONTENT, not
    position, an insertion early in a document only re-chunks its local
    neighborhood — the property that makes CDC the storage-dedup
    complement to winnowing (which fingerprints for SIMILARITY; CDC
    chunks for byte-identical reuse, rsync/LBFS-style).

    Shape: posexplode -> map-side boundary flag (md5 mod) -> one
    windowed cumulative sum per doc assigns chunk ids -> one (doc, chunk)
    aggregate rebuilds each chunk's hash from pos-ordered tokens. The
    only shuffle is the doc-keyed window+aggregate (they share
    partitioning); chunk hashes bottom out in md5 so the dedup join
    downstream is engine-portable."""
    docs = table(spark, sf_dir, "documents").where(F.trim(F.col("text")) != "")
    toks = docs.select(
        "doc_id", F.posexplode(texts.tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    flagged = toks.withColumn(
        "b", F.when(texts.md5int32("tok") % _CDC_MOD == 0, 1).otherwise(0)
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("b").over(w), F.lit(0)).cast("long")
    )
    return (
        assigned.groupBy("doc_id", "chunk_idx")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@query(
    "events_stickiness_hll",
    """
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
contrib AS (
  SELECT d + CAST(r AS INTEGER) AS day, user_id
  FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS r) offsets),
wau AS (SELECT day, count(DISTINCT user_id) AS wau_exact FROM contrib GROUP BY 1),
dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau_exact FROM pairs GROUP BY 1)
SELECT dau.day AS day, dau_exact, wau_exact,
       TRUE AS dau_within_bounds, TRUE AS wau_within_bounds
FROM dau JOIN wau ON dau.day = wau.day""",
)
def events_stickiness_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of events_daily_stickiness: DAU and trailing-7-day
    WAU via HLL++ (approx_count_distinct, 2% rsd) instead of exact
    distincts — at billions of users/day the exact two-level distinct is
    a full shuffle of the activity support per window, while the HLL
    buffers are KBs per day and merge associatively (partial aggregation
    does almost all the work map-side; this is also the form that keeps
    running under Structured Streaming, where exact distinct state is
    unbounded).

    Same oracle discipline as events_sketch_aggregates: sketch values are
    engine-specific, so the query emits EXACT anchors (hash-matched
    against DuckDB) plus booleans asserting each HLL estimate landed
    within 5x its rsd (+1 absolute for tiny days); the oracle states the
    booleans as TRUE literals, so a gross sketch regression flips the
    value hash."""
    ev = events_table(spark, sf_dir)
    # NOT persisted (guide §2.4 boundary, measured r13: same-process A/B of
    # a gated persist of `pairs` was within noise both ways — the exact
    # two-level countDistinct aggregates dominate, not the scan+distinct)
    pairs = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    contrib = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    # ONE aggregate per granularity carrying both the exact distinct and the
    # HLL buffer: a SINGLE countDistinct mixes with non-distinct aggregates
    # via the planner's two-level rewrite WITHOUT the Expand blow-up (that
    # trap needs multiple distinct columns — cf. events_sketch_aggregates,
    # which separates because it also carries percentile buffers). Measured:
    # 6 Exchanges vs 12 for the split four-aggregate form.
    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("dau_approx"),
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("wau_approx"),
    )

    def within(approx, exact):
        return F.abs(approx - exact) <= (0.10 * exact + 1)

    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau_exact",
            "wau_exact",
            within(F.col("dau_approx"), F.col("dau_exact")).alias("dau_within_bounds"),
            within(F.col("wau_approx"), F.col("wau_exact")).alias("wau_within_bounds"),
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


@query(
    "events_gap_fill_ffill",
    """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS hour_value
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2),
spans AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM spans),
joined AS (
  SELECT g.user_id, g.h, hour_value FROM grid g
  LEFT JOIN hourly USING (user_id, h))
SELECT user_id, epoch_us(h) AS hour_us,
       last_value(hour_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING)
         AS filled_value,
       hour_value IS NULL AS was_gap
FROM joined""",
)
def events_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: each user's hourly value totals on a
    DENSE hourly grid (from their first to last active hour), gaps
    forward-filled with the last observation — the resample+ffill step
    every feature pipeline runs before windowed models, plus a was_gap
    flag so imputed points stay distinguishable.

    Shape: hourly totals are one decimal-exact aggregate; the grid is a
    map-side sequence() explode off the per-user [min, max] span (never a
    calendar cross join — grid size is sum of user spans, not
    users x global range); the fill is one last(ignorenulls) running
    window per user. Measured plan: THREE Exchanges total — the
    (user_id, hour) hourly aggregate, the user_id span aggregate, and
    the user_id window (the grid join rides the window's partitioning) —
    each carrying narrow rows. Forward-fill copies doubles bit-exactly,
    so the filled series hash-matches."""
    from pyspark.sql import Window as W

    ev = events_table(spark, sf_dir)
    hourly = (
        ev.where(F.col("value").isNotNull())
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("hour_value")
        )
    )
    spans = hourly.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    return joined.select(
        "user_id",
        F.unix_micros("h").alias("hour_us"),
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("hour_value").isNull().alias("was_gap"),
    )


_PATH_TOP = 20


@query(
    "events_path_trigrams",
    f"""
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT a || '>' || b || '>' || c AS path, count(*) AS n
FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path LIMIT {_PATH_TOP}""",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} three-step behavior paths (a>b>c) across all user
    journeys — second-order sequence mining next to the first-order
    markov matrix (a funnel 'view>click>purchase' dominating here but
    absent from pairwise transitions is the classic insight this view
    adds).

    One window pass (both leads share the same user/ts frame — Spark
    evaluates them in a single Window operator over one user_id
    Exchange), a path-keyed count with map-side partials, deterministic
    TakeOrderedAndProject top-{20}."""
    from pyspark.sql import Window as W

    ev = events_table(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).where(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOP)
    )


@query(
    "multimodal_dedup_bytes",
    """
WITH media AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
         md5(text) AS payload_md5,
         octet_length(encode(text)) AS n_bytes
  FROM documents)
SELECT payload_md5, n_bytes,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies,
       min(media_type) AS media_type
FROM media GROUP BY payload_md5, n_bytes""",
)
def multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical media dedup over the binary payload column
    (operators/multimodal.py dedup_payloads): md5 computed map-side,
    only (hash, size, id) ever shuffles, min-id canonical copy. The
    oracle recomputes md5 over the same UTF-8 bytes (fixture corpus is
    pure ASCII, verified — same byte-exactness note as
    multimodal_frame_sample)."""
    from ..operators import multimodal

    media = multimodal.media_table(table(spark, sf_dir, "documents"))
    return multimodal.dedup_payloads(media)


_TRI_MIN_W = 5  # co-activity support threshold: >= 5 shared (hour, type) buckets

# scale gate (VERDICT r12 item 2): above this many input events
# the exact all-pairs bucket join is no longer the plan a 100 TB run
# should execute — the query takes the deterministically capped
# co_activity_triangles plan (generous production caps) automatically.
# The threshold sits where the quadratic term overtakes the capped
# plan's constant overhead (two extra row_number windows + the gate
# count), measured warm at both decades: exact 2.9 s vs capped 5.6 s at
# 100k events (sf0.1 — exact is still the better plan), capped 16 s vs
# exact 72 s at 1M (sf1). Oracle scales (1k / 10k events) stay far
# below it, so the hash rows remain exact evidence.
_TRI_EXACT_MAX_EVENTS = 400_000


@query(
    "events_user_triangles",
    f"""
WITH support AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, event_type AS t, user_id AS u
  FROM events),
co AS (
  SELECT a.u AS x, b.u AS y, count(*) AS w
  FROM support a JOIN support b ON a.h = b.h AND a.t = b.t AND a.u < b.u
  GROUP BY 1, 2),
edges AS (SELECT x, y FROM co WHERE w >= {_TRI_MIN_W}),
deg AS (
  SELECT u, count(*) AS dg FROM (
    SELECT x AS u FROM edges UNION ALL SELECT y AS u FROM edges) GROUP BY 1),
oriented AS (
  SELECT CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND e.x < e.y)
              THEN e.x ELSE e.y END AS src,
         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND e.x < e.y)
              THEN e.y ELSE e.x END AS dst
  FROM edges e JOIN deg dx ON e.x = dx.u JOIN deg dy ON e.y = dy.u),
o2 AS (SELECT src, dst, dg AS dst_dg FROM oriented JOIN deg ON dst = u),
wedges AS (
  SELECT w1.dst AS lo, w2.dst AS hi
  FROM o2 w1 JOIN o2 w2
    ON w1.src = w2.src
   AND ((w1.dst_dg < w2.dst_dg) OR (w1.dst_dg = w2.dst_dg AND w1.dst < w2.dst))),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN oriented o ON w.lo = o.src AND w.hi = o.dst)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM deg) AS n_nodes,
       n_triangles
FROM tri""",
)
def events_user_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the user co-activity graph (edge = two users
    sharing >= {_TRI_MIN_W} distinct (hour, event-type) buckets) via the
    DEGREE-ORDERED wedge join — the classic distributed triangle
    algorithm (Cohen / Suri-Vassilvitskii): orient every edge from its
    lower-(degree, id) endpoint, enumerate wedges only at each edge's
    tail, and close them against oriented edges. Orientation bounds
    per-node wedge fan-out by out-degree (<= sqrt(2m) per node on any
    graph), which is what keeps the wedge table near-linear instead of
    sum-of-squared-degrees — the difference between feasible and
    quadratic on a power-law graph at 100 TB. Triangle density is the
    community-structure signal behind social-graph features and
    bot-ring detection.

    Every join here is EQUI-keyed (the wedge closing pair is
    canonicalized by the same (degree, id) comparator the orientation
    uses, so the closing edge matches on equality — no OR-join/BNLJ);
    counts are integers; one three-scalar output row assembled from
    one-row broadcast aggregates.

    SCALE GATE (r12 verdict item 2 — the ranking-family size-gate
    pattern): the exact form's bucket self-join volume is
    sum-of-squared bucket occupancy and wedge volume is out-degree^2
    (measured sf0.1→sf1 exponent 1.40-1.53 across rounds), so the query
    counts the events input (one metadata-backed parquet count) and,
    above _TRI_EXACT_MAX_EVENTS, executes the deterministically capped
    co_activity_triangles plan instead (generous production caps
    bucket_cap=128 / max_out_deg=64, (md5,id)-ordered — undercounts
    only, O(edges) at any scale; the tighter-capped twin is registered
    as events_user_triangles_capped, exponent 0.41 at the third decade).
    The oracle scales (1k / 10k events) stay on the exact branch, so the
    hash rows remain exact evidence; the threshold, read at call time,
    is the only switch (the branch-parity test sets it to -1)."""
    from ..operators import graphs

    ev = events_table(spark, sf_dir)
    if table_rowcount(spark, sf_dir, "events") > _TRI_EXACT_MAX_EVENTS:
        return graphs.co_activity_triangles(ev, min_w=_TRI_MIN_W)
    # the exact form IS the operator with both caps disabled (the former
    # inline copy of the same stages was removed in the r13 optimization
    # round so the exact branch shares the operator's driver fast path:
    # thresholded edge lists under graphs.DRIVER_MAX_EDGES orient/close in
    # one collect instead of the 6-join wedge pipeline)
    return graphs.co_activity_triangles(
        ev, min_w=_TRI_MIN_W, bucket_cap=None, max_out_deg=None
    )


@query(
    "stream_funnel_detect",
    """
WITH b AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
c AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM b),
d AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM c),
g AS (SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2,
             any_value(t3) AS t3
      FROM d GROUP BY user_id)
SELECT user_id, epoch_us(t1) AS view_us, epoch_us(t2) AS click_us,
       epoch_us(t3) AS purchase_us
FROM g WHERE t3 IS NOT NULL""",
)
def stream_funnel_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode run of the CEP funnel detector's SEMANTICS (the batch
    window formulation whose equivalence to the applyInPandasWithState
    operator is pinned in tests/test_streaming.py::
    test_stateful_funnel_matches_batch): completed view->click->purchase
    funnels with stage timestamps. Was registered rows-only through
    round 4; since the REGISTERED callable is this deterministic window
    formulation (the stateful operator itself remains non-SQL, linked
    via the equivalence test), it now carries a full DuckDB oracle —
    chained CTEs because a window result cannot be referenced inside a
    sibling window's CASE in the same SELECT."""
    from pyspark.sql import Window as W

    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    w = W.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = ev.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn("t2", F.min(F.when((typ == "click") & (t > F.col("t1")), t)).over(w))
    df = df.withColumn("t3", F.min(F.when((typ == "purchase") & (t > F.col("t2")), t)).over(w))
    return (
        df.groupBy("user_id")
        .agg(F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3"))
        .where(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.unix_micros("t1").alias("view_us"),
            F.unix_micros("t2").alias("click_us"),
            F.unix_micros("t3").alias("purchase_us"),
        )
    )
