"""Round-6 session additions — operator families a reference user reaches
for next, each with a full DuckDB oracle twin:

- corpus_passage_scrub: the APPLICATION of dedup_passage's measurement —
  rebuild each document with its cross-doc duplicated 8-token passages
  removed (the C4/CCNet span-scrub itself, not just its statistics).
- events_rfm_segments: RFM (recency / frequency / monetary) quartile
  segmentation per user — value-threshold based, NOT ntile, because a
  rank-based quartile needs a single global sort while exact quartile
  THRESHOLDS are one tiny aggregate broadcast back over the users.
- events_interval_overlap: interval-overlap self-join over user sessions
  via time-grid bucketing — the join shape Spark lacks natively (range
  cross joins go quadratic); bucketing by hour cell bounds candidates to
  per-cell pairs, the overlap predicate verifies on candidates only.
- events_cohort_ltv: cohort x month-of-age revenue triangle, integer
  cents end to end.
- graph_label_prop_communities: 2-round synchronous label propagation
  with deterministic tie-breaks over the (event-type, hour-cell)
  co-presence graph.
- events_session_revenue: purchase spend at session grain (the shared
  30-min-gap session definition).
- text_bpe_pair_freqs: the BPE-initialization adjacent-character-pair
  frequency table, top-20 with deterministic tie-break.
- stream_rate_alert: batch twin of the third custom stateful streaming
  operator (trailing-hour RANGE-window threshold crossing).
- events_time_to_convert: first-view-to-first-purchase latency
  percentiles, integer-microsecond exact.
- embedding_drift_monitor: per-label half-vs-half centroid cosine — the
  embedding-distribution stability report.
- dq_documents_checks: text-side DQ gate (empty text, out-of-set lang,
  n_chars metadata drift, duplicate ids).

Float/ordering discipline follows queries/__init__.py's registry header:
integer-exact arithmetic until one final double division (RFM metrics are
day counts / event counts / cents, so the quantile_cont interpolation at
dyadic fractions is bit-exact in BOTH engines), aliases matched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts, vectors
from ..operators import caches, graphs
from ..session import local_table
from . import events_table, query, table, table_rowcount
from .llmops import sql_toks

_P = 8  # tokens per passage — matches dedup_passage

_SCRUB_SQL = f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
pl AS (SELECT doc_id,
              [array_to_string(t[i * {_P} + 1 : i * {_P} + {_P}], ' ')
               for i in range(0, CAST(ceil(len(t) / {_P}) AS INT))] AS ps
       FROM toks),
p AS (SELECT doc_id, CAST(r.range AS BIGINT) AS pos,
             ps[CAST(r.range AS INT) + 1] AS passage
      FROM pl CROSS JOIN range(0, 4096) r
      WHERE CAST(r.range AS INT) < len(ps)),
dupkeys AS (SELECT md5(passage) AS k FROM p
            GROUP BY md5(passage) HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT doc_id, pos, passage FROM p
         WHERE md5(passage) NOT IN (SELECT k FROM dupkeys)),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(passage, ' ' ORDER BY pos) AS clean
        FROM kept GROUP BY doc_id)
SELECT pl.doc_id,
       CAST(len(ps) AS BIGINT) AS n_passages,
       CAST(len(ps) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(clean, '')) AS clean_md5
FROM pl LEFT JOIN agg ON pl.doc_id = agg.doc_id"""


@query("corpus_passage_scrub", _SCRUB_SQL)
def corpus_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style passage scrub — the rehydration step downstream of
    dedup_passage's measurement: cut each doc into consecutive 8-token
    passages, drop every passage whose md5 occurs in >= 2 distinct docs,
    and rebuild the document from the kept passages in order. Output is
    (doc_id, n_passages, n_removed, clean_md5) — the md5 of the scrubbed
    text keeps the verified value narrow while still pinning the full
    reconstruction byte-for-byte.

    Scale shape mirrors dedup_passage: ONE tokenize+hash corpus scan
    feeding a posexplode; the cross-doc frequency is an aggregate over
    the collapsed (key, doc) relation joined back as a left-anti (at
    100 TB the dup-key side is the small side — boilerplate keys are few
    relative to passage instances); the rebuild is a per-doc sort of an
    already-partitioned collect_list, never a global sort. Zero-token
    docs are guarded (sequence(0,-1) would fabricate phantom passages —
    same guard as passage_dup_stats)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", texts.tokens("text").alias("t"))
    pl = toks.select(
        "doc_id",
        # slice-guarded index list (empty when the doc has zero tokens) —
        # same codegen-friendly guard as passage_dup_stats
        F.expr(
            f"transform(slice(sequence(0, greatest(cast(ceil(size(t) / {_P}) as int) - 1, 0)), "
            f"1, cast(ceil(size(t) / {_P}) as int)), "
            f"i -> array_join(slice(t, i * {_P} + 1, {_P}), ' '))"
        ).alias("ps"),
    )
    # pl feeds the passage stream AND the final n_passages side, and the
    # stream `p` feeds the dup-key aggregate AND the anti-join left side —
    # unpersisted, the tokenize+passage build runs 3x (r13 optimization;
    # stats-gated, recompute at 100 TB)
    pl = caches.persist_if_small(pl)
    p = caches.persist_if_small(
        pl.select("doc_id", F.posexplode("ps").alias("pos", "passage"))
    )
    dupkeys = (
        p.groupBy(F.md5("passage").alias("k"))
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("k")
    )
    kept = p.withColumn("k", F.md5("passage")).join(dupkeys, "k", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "passage"))),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("clean"),
    )
    return (
        pl.select("doc_id", F.size("ps").cast("long").alias("n_passages"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            (F.col("n_passages") - F.coalesce("n_kept", F.lit(0))).cast("long").alias(
                "n_removed"
            ),
            F.md5(F.coalesce("clean", F.lit(""))).alias("clean_md5"),
        )
    )


_RFM_SQL = """
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
per AS (
  SELECT user_id,
         datediff('day', max(CAST(ts AS DATE)), (SELECT d1 FROM anchor)) AS rec,
         count(*) AS freq,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END),
                       0) AS BIGINT) AS mon
  FROM events GROUP BY user_id),
q AS (SELECT quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.5) AS r2,
             quantile_cont(rec, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(mon, 0.25) AS m1, quantile_cont(mon, 0.5) AS m2,
             quantile_cont(mon, 0.75) AS m3
      FROM per)
SELECT user_id, rec, freq, mon,
       CAST(1 + CASE WHEN rec > r1 THEN 1 ELSE 0 END
              + CASE WHEN rec > r2 THEN 1 ELSE 0 END
              + CASE WHEN rec > r3 THEN 1 ELSE 0 END AS BIGINT) AS r_q,
       CAST(1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
              + CASE WHEN freq > f2 THEN 1 ELSE 0 END
              + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS BIGINT) AS f_q,
       CAST(1 + CASE WHEN mon > m1 THEN 1 ELSE 0 END
              + CASE WHEN mon > m2 THEN 1 ELSE 0 END
              + CASE WHEN mon > m3 THEN 1 ELSE 0 END AS BIGINT) AS m_q
FROM per CROSS JOIN q"""


@query("events_rfm_segments", _RFM_SQL)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation per user: recency (days since the user's
    last event, anchored at the corpus max date), frequency (event
    count), monetary (purchase spend in integer CENTS). Quartile labels
    come from exact value THRESHOLDS (percentile 0.25/0.5/0.75 of each
    metric), not ntile — rank-based quartiles need one global sort (a
    single-partition window, the canonical scale anti-pattern), while
    thresholds are ONE tiny aggregate broadcast back over the per-user
    relation, so the plan is two narrow shuffles at any corpus size.

    Exactness: all three metrics are integers, and percentile
    interpolation at dyadic fractions (g in {0.25, 0.5, 0.75}) is exact
    binary FP on integer neighbors, so Spark's percentile and DuckDB's
    quantile_cont agree bit-for-bit — no rounding convention needed."""
    ev = events_table(spark, sf_dir)
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    per = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).cast("long").alias("mon"),
    )
    per = per.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff("d1", "last_d").alias("rec"),
        "freq",
        "mon",
    )
    qs = per.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"{c[0]}{i}")
            for c in ("rec", "freq", "mon")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def band(c: str):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{c[0]}1")).cast("int")
            + (F.col(c) > F.col(f"{c[0]}2")).cast("int")
            + (F.col(c) > F.col(f"{c[0]}3")).cast("int")
        ).cast("long")

    return per.crossJoin(F.broadcast(qs)).select(
        "user_id",
        "rec",
        "freq",
        "mon",
        band("rec").alias("r_q"),
        band("freq").alias("f_q"),
        band("mon").alias("m_q"),
    )


_OVERLAP_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y),
s AS (SELECT user_id, session_id, min(ts) AS session_start,
             max(ts) AS session_end
      FROM z GROUP BY user_id, session_id),
ov AS (
  SELECT a.user_id, a.session_id, count(*) AS n_concurrent
  FROM s a JOIN s b
    ON a.user_id <> b.user_id
   AND a.session_start <= b.session_end
   AND b.session_start <= a.session_end
  GROUP BY a.user_id, a.session_id)
SELECT s.user_id, session_start, session_end,
       CAST(COALESCE(n_concurrent, 0) AS BIGINT) AS n_concurrent
FROM s LEFT JOIN ov USING (user_id, session_id)"""


@query("events_interval_overlap", _OVERLAP_SQL)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: for every user session (30-min-gap
    sessionization), how many OTHER users' sessions overlap it in time
    (closed-interval overlap: a.start <= b.end AND b.start <= a.end) —
    the concurrency measure behind capacity planning and co-presence
    features.

    Spark has no native interval join; a plain range-predicate self-join
    plans as a nested-loop over the full cross product. The scale shape
    here is TIME-GRID BUCKETING: each session explodes to the hour cells
    it spans (sessions are gap-bounded, so almost always 1-2 cells), the
    equi-join on the cell bounds candidates to per-cell pairs, the exact
    overlap predicate verifies candidates, and pairs found in several
    shared cells are deduplicated before counting. Hot cells (peak hour)
    are the skew surface — AQE skew-join splitting handles them, and the
    cell width is the knob (the oracle is cell-free, so re-bucketing
    cannot change results)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    s = (
        ev.select("user_id", "ts", sess_id.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    hour = 3_600_000_000  # microseconds
    cells = s.select(
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("a_us"),
        F.unix_micros("session_end").alias("b_us"),
        F.explode(
            F.sequence(
                F.floor(F.unix_micros("session_start") / hour),
                F.floor(F.unix_micros("session_end") / hour),
            )
        ).alias("cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.user_id") != F.col("b.user_id"))
            & (F.col("a.a_us") <= F.col("b.b_us"))
            & (F.col("b.a_us") <= F.col("a.b_us")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.session_id").alias("session_id"),
            F.col("b.user_id").alias("ou"),
            F.col("b.session_id").alias("os"),
        )
        .dropDuplicates(["user_id", "session_id", "ou", "os"])
    )
    ov = pairs.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_concurrent")
    )
    return (
        s.join(ov, ["user_id", "session_id"], "left")
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.coalesce("n_concurrent", F.lit(0)).cast("long").alias("n_concurrent"),
        )
    )


_LTV_SQL = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
x AS (
  SELECT e.user_id,
         CAST((year(CAST(e.ts AS DATE)) - year(d0)) * 12
              + (month(CAST(e.ts AS DATE)) - month(d0)) AS BIGINT) AS age_m,
         date_trunc('month', d0) AS cohort_month,
         CASE WHEN e.event_type = 'purchase'
              THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END AS cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id)
SELECT CAST(cohort_month AS DATE) AS cohort_month, age_m,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS spend_cents
FROM x GROUP BY cohort_month, age_m"""


@query("events_cohort_ltv", _LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-seen month,
    purchase spend accumulated per month-of-age — the (cohort x age)
    revenue triangle behind every LTV curve. Spend is integer CENTS end
    to end (sum of round(value*100)), so both engines aggregate exactly
    with no float-association drift; age is calendar-month arithmetic.

    Scale shape: first-seen is one narrow per-user aggregate joined back
    on the user key (a single co-partitioned shuffle — Catalyst reuses
    the user_id exchange for both), and the final matrix is
    |cohorts x ages| rows. No window over the full event stream."""
    ev = events_table(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    d = F.col("ts").cast("date")
    x = ev.join(firsts, "user_id").select(
        "user_id",
        (
            (F.year(d) - F.year("d0")) * 12 + (F.month(d) - F.month("d0"))
        ).cast("long").alias("age_m"),
        F.date_trunc("month", "d0").cast("date").alias("cohort_month"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        ).otherwise(0).alias("cents"),
    )
    return x.groupBy("cohort_month", "age_m").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("spend_cents"),
    )


_LP_CELL_CAP = 64  # md5-head representatives per (type, cell) bucket

# scale-gated cap tightening (VERDICT r12 item 2): the 64-rep cap only
# BINDS above ~64 users/cell (sf1 has ~270), so the sf0.1→sf1 decade sat
# in the quadratic transition regime (measured exponent 1.40 — members x
# cap only bounds pair volume once the cap binds). Above this many
# events the cap drops to _LP_CELL_CAP_BIG, which already binds at
# sf0.1-scale occupancy (~27 users/cell), making pair volume ~linear
# (members x 16) across the measured decade. The CASE is mirrored from
# count(*) in BOTH engines (the auto_band_planes pattern), so the oracle
# stays exact on both branches at any scale; the oracle fixtures (1k /
# 10k events) stay on the 64-cap branch where the cap never binds and
# the recorded hash rows are unchanged.
_LP_EXACT_MAX_EVENTS = 50_000
_LP_CELL_CAP_BIG = 16

_LP_SQL_CAP = (
    f"(SELECT CASE WHEN count(*) > {_LP_EXACT_MAX_EVENTS} "
    f"THEN {_LP_CELL_CAP_BIG} ELSE {_LP_CELL_CAP} END FROM events)"
)


def _lp_edges_sql() -> str:
    return f"""
sess AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS cell
  FROM events
  GROUP BY user_id, event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)),
bh AS (
  SELECT user_id, event_type, cell FROM (
    SELECT user_id, event_type, cell,
           row_number() OVER (PARTITION BY event_type, cell
                              ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS _r
    FROM sess) WHERE _r <= {_LP_SQL_CAP}),
pairs0 AS (
  SELECT DISTINCT least(a.user_id, b.user_id) AS u,
                  greatest(a.user_id, b.user_id) AS v,
                  a.event_type AS t, a.cell AS c
  FROM sess a JOIN bh b
    ON a.cell = b.cell AND a.event_type = b.event_type
   AND a.user_id <> b.user_id),
edges0 AS (SELECT u, v, count(*) AS w FROM pairs0 GROUP BY u, v),
edges AS (SELECT u, v, w FROM edges0 UNION ALL SELECT v, u, w FROM edges0)"""


def _lp_round_sql(prev: str, out: str) -> str:
    """One synchronous label-propagation round in SQL: each node adopts
    the neighbor label with the highest total edge weight (ties -> the
    smallest label); isolated nodes keep their own label."""
    return f"""
{out}_votes AS (
  SELECT e.u AS node, p.lbl AS lbl, sum(e.w) AS wt
  FROM edges e JOIN {prev} p ON e.v = p.node
  GROUP BY e.u, p.lbl),
{out}_rk AS (
  SELECT node, lbl,
         row_number() OVER (PARTITION BY node ORDER BY wt DESC, lbl) AS rk
  FROM {out}_votes),
{out} AS (
  SELECT p.node, COALESCE(r.lbl, p.lbl) AS lbl
  FROM {prev} p LEFT JOIN (SELECT node, lbl FROM {out}_rk WHERE rk = 1) r
    ON p.node = r.node)"""


_LP_SQL = f"""
WITH {_lp_edges_sql()},
l0 AS (SELECT DISTINCT user_id AS node, user_id AS lbl FROM events),
{_lp_round_sql('l0', 'l1')},
{_lp_round_sql('l1', 'l2')}
SELECT node AS user_id, lbl AS community FROM l2"""


@query("graph_label_prop_communities", _LP_SQL)
def graph_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (2 unrolled
    rounds) over the co-presence graph: users are linked when they have
    events of the SAME TYPE in the same hour cell, edge weight = number
    of shared (type, cell) pairs. Each round every node adopts its
    neighbors' weight-dominant label with a deterministic tie-break
    (weight desc, label asc) — the classic LPA made reproducible, so the
    SQL twin matches exactly.

    Scale shape: the co-presence edge build is a (type, cell)-keyed
    equi-join (never a user cross join — the compound blocking key keeps
    buckets ~|types|x smaller than hour-only blocking), and each LP
    round is one join + one aggregate + one per-node struct-max argmax,
    all partitioned by node. Rounds unroll statically (2 here) exactly
    like graph_bfs_reach unrolls its frontier.

    The per-cell representative cap is the hot-cell bound — since round
    8 the query always takes the capped path (_LP_CELL_CAP = 64,
    mirrored exactly in the DuckDB twin's `bh` CTE; fixture cells never
    reach the cap, so the hash row is unchanged): the r8 sf1 sweep OOM'd
    the exact formulation's pair aggregation at 1M events (~270
    users/cell x 3.7k cells -> 135M pairs partial-aggregated inside
    AQE-coalesced join tasks). With the cap, every bucket member STAR-JOINS the md5-head
    representatives only (the connectivity-preserving capped join shape
    shared with hamming_band_pairs since the round-5 fix), bounding
    pairs per bucket at members x cap while every member keeps edges
    into the community core. The pair relation is also explicitly
    repartitioned on its dedup key before aggregating, so the dedup runs
    as ONE post-shuffle aggregate on size-balanced partitions instead of
    a map-side hash partial on the join's fan-out (the actual OOM site —
    AQE coalesces by INPUT size and a fan-out join breaks that
    estimate). A cap above every cell's occupancy gives exactly the
    all-pairs edges: each pair is emitted once per shared cell.

    Since round 13 the cap is size-gated (VERDICT r12 item 2): one
    metadata-backed count of the events input picks _LP_CELL_CAP_BIG
    above _LP_EXACT_MAX_EVENTS rows, else _LP_CELL_CAP. The 64-cap
    only BINDS above ~64 users/cell, so the sf0.1→sf1 decade sat in the
    quadratic transition regime (exponent 1.40); the 16-cap already
    binds at sf0.1 occupancy, making pair volume ~linear across the
    decade. The SQL twin computes the SAME
    CASE from count(*) (see _LP_SQL_CAP), so both engines always pick
    the same branch and the oracle stays exact at any scale."""
    ev = events_table(spark, sf_dir)
    n_events = table_rowcount(spark, sf_dir, "events")  # footer metadata, no job
    cap = _LP_CELL_CAP_BIG if n_events > _LP_EXACT_MAX_EVENTS else _LP_CELL_CAP
    cell = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    sess = ev.select("user_id", "event_type", cell.alias("cell")).distinct()
    # star-to-representatives with normalized pairs, emitted EXACTLY ONCE
    # per (pair, bucket) — r13 optimization (guide §1.2/§2.4): only
    # rep-rep pairs produce both join orientations (the b side holds
    # representatives only, so a non-rep member can never appear as `a`
    # against itself reversed), and keeping the a-side's bucket rank lets
    # the predicate `a < b OR a is non-rep` keep exactly one orientation —
    # the dropDuplicates pass over the 4-column fan-out (its own exchange
    # + dedup aggregate over the join's full output, the measured cost
    # center) disappears, and w = count(*) still counts SHARED BUCKETS.
    # Both join sides read the same ranked-window subtree, whose
    # (event_type, cell) output partitioning is exactly the join
    # distribution — no exchange at the join. The fan-out is explicitly
    # repartitioned on the (u, v) aggregate key: the join's output is a
    # fan-out whose size AQE under-estimates from its inputs, and the
    # plain exchange streams shuffle blocks (no map-side hash state on
    # the fan-out — the r8 OOM fix) before one post-shuffle aggregate.
    cap_w = Window.partitionBy("event_type", "cell").orderBy(
        F.md5(F.col("user_id").cast("string")), F.col("user_id")
    )
    ranked = sess.withColumn("_r", F.row_number().over(cap_w))
    a = ranked.alias("a")
    b = ranked.where(F.col("_r") <= cap).drop("_r").alias("b")
    raw = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") != F.col("b.user_id"))
            & (
                (F.col("a.user_id") < F.col("b.user_id"))
                | (F.col("a._r") > cap)
            ),
        )
        .select(
            F.least(F.col("a.user_id"), F.col("b.user_id")).alias("u"),
            F.greatest(F.col("a.user_id"), F.col("b.user_id")).alias("v"),
        )
        .repartition("u", "v")
    )
    e0 = raw.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
    # materialize the unique-pair edge relation once: each LP round
    # references it, and without the checkpoint round 2's lineage re-runs
    # the cell self-join through round 1's plan (same iterative-lineage
    # fix as connected_components' per-round localCheckpoint)
    e0 = e0.localCheckpoint(eager=False)
    # r13 optimization (guide §1.2/§5: driver round-trips): when BOTH the
    # node universe (distinct users <= events rows — n_events is already
    # in hand for the cell-cap gate) and the aggregated edge list are
    # measured under the bounded-collect contract, run the 2 synchronous
    # LP rounds in plain Python on the driver — the edge BUILD above
    # stays distributed; only the per-round join + vote aggregate +
    # argmax + label left-join stages (6 shuffle stages each a driver
    # round-trip at bench scale) collapse. graphs._driver_label_prop
    # mirrors the struct-max tie-break bit-for-bit (pinned by
    # tests/test_round13.py::test_label_prop_driver_and_distributed_paths_agree);
    # larger graphs take the unchanged distributed loop by measured size
    # (graphs.DRIVER_MAX_EDGES, read at call time).
    if (
        n_events <= graphs.DRIVER_MAX_EDGES
        and e0.count() <= graphs.DRIVER_MAX_EDGES
    ):
        edge_rows = [(r["u"], r["v"], r["w"]) for r in e0.collect()]
        node_ids = [
            r["node"]
            for r in ev.select(F.col("user_id").alias("node")).distinct().collect()
        ]
        labels = graphs._driver_label_prop(edge_rows, node_ids, rounds=2)
        return local_table(spark, list(labels.items()), "user_id long, community long")
    edges = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    labels = ev.select(F.col("user_id").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(2):
        votes = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(F.col("u").alias("n2"), "lbl")
            .agg(F.sum("w").alias("wt"))
        )
        # deterministic argmax via struct-max (weight desc, label asc —
        # the negated label makes lexicographic struct order pick the
        # smallest label on weight ties): one aggregate instead of the
        # aggregate + sort + rank-window a row_number formulation costs
        winner = votes.groupBy("n2").agg(
            F.max(F.struct(F.col("wt"), (-F.col("lbl")).alias("nl"))).alias("m")
        ).select("n2", (-F.col("m.nl")).alias("new_lbl"))
        labels = labels.join(
            winner, labels["node"] == winner["n2"], "left"
        ).select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
    return labels.select(F.col("node").alias("user_id"), F.col("lbl").alias("community"))


_SESSION_REV_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
y AS (
  SELECT *, CASE WHEN pts IS NULL
                      OR epoch_us(ts) - epoch_us(pts) > 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts, event_type, value,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y)
SELECT user_id, session_id,
       min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT) END),
                     0) AS BIGINT) AS revenue_cents
FROM z GROUP BY user_id, session_id"""


@query("events_session_revenue", _SESSION_REV_SQL)
def events_session_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attribution at session grain: 30-min-gap sessionization
    (the shared session definition of events_sessionize /
    stream_sessionize) with purchase spend accumulated per session in
    integer CENTS — the session-value table conversion funnels and
    basket analyses join against. One shuffle on user_id serves the
    session window AND the final aggregate (same exchange reuse as
    events_sessionize); revenue stays integral until the consumer
    divides."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "ts", "event_type", "value", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("revenue_cents"),
        )
    )


_BPE_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
pairs AS (
  SELECT substr(tok, CAST(r.range AS INT) + 1, 2) AS pair
  FROM toks CROSS JOIN range(0, 63) r
  WHERE CAST(r.range AS INT) < length(tok) - 1),
counted AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
SELECT pair, CAST(n AS BIGINT) AS n
FROM counted ORDER BY n DESC, pair LIMIT 20"""


@query("text_bpe_pair_freqs", _BPE_SQL)
def text_bpe_pair_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-initialization statistic: corpus-wide frequency of adjacent
    CHARACTER pairs inside whitespace tokens, top-20 with a
    deterministic (count desc, pair asc) tie-break — the first merge
    table a byte-pair tokenizer induction would compute; iterating it
    (merge top pair, re-count) is the full BPE trainer, so this query is
    the oracle-checkable single step of that loop.

    Scale shape: the pair explode is map-side (sequence over token
    length), the count is one partial-aggregated shuffle on the 2-char
    key (tiny key space), and the top-20 is TakeOrderedAndProject over
    the aggregated relation — no global sort of the pair stream. Token
    length is clamped at 64 chars on BOTH sides (longer tokens are URL/
    hash junk a tokenizer trainer drops anyway), which also bounds the
    per-row explode."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(texts.tokens("text")).alias("tok"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(sequence(0, greatest(length(tok) - 2, 0)), "
                "1, greatest(least(length(tok) - 1, 63), 0)), "
                "i -> substring(tok, i + 1, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


_RATE_ALERT_SQL = """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS us,
         count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
           AS n
  FROM events)
SELECT user_id, us AS alert_us, CAST(max(n) AS BIGINT) AS n_in_hour
FROM c WHERE n = 3 GROUP BY user_id, us"""


@query("stream_rate_alert", _RATE_ALERT_SQL)
def stream_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate alerting (third custom stateful streaming
    operator, streaming/jobs.py:rate_alert_stream): alert when a user's
    trailing-hour event count reaches exactly K=3 — registered as its
    deterministic batch twin (RANGE-window count == K, one row per
    distinct (user, ts)), same graduation shape as stream_funnel_detect
    and stream_sessionize. RANGE peer semantics (timestamp ties enter
    the window together) make the contract identical across the batch
    window, this SQL twin, and the stream's group-by-timestamp fold;
    the stateful operator stays pinned by tests/test_streaming.py::
    test_rate_alert_stream_matches_batch."""
    from ..streaming import jobs as streaming_jobs

    return streaming_jobs.batch_rate_alerts(events_table(spark, sf_dir))


_TTC_SQL = """
WITH b AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
c AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM b),
g AS (SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2
      FROM c GROUP BY user_id),
d AS (SELECT epoch_us(t2) - epoch_us(t1) AS delta_us FROM g
      WHERE t2 IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(delta_us, 0.25) AS p25_us,
       quantile_cont(delta_us, 0.5) AS p50_us,
       quantile_cont(delta_us, 0.75) AS p75_us
FROM d"""


@query("events_time_to_convert", _TTC_SQL)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, first view to first
    purchase AFTER it (the funnel-stage definition shared with
    events_funnel / stream_funnel_detect), summarized as the
    p25/p50/p75 of the latency in integer MICROSECONDS — dyadic
    percentile interpolation on integers is bit-exact across engines
    (same argument as events_rfm_segments). One user_id-partitioned
    window pass, one tiny global aggregate — no per-event join."""
    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = ev.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn(
        "t2", F.min(F.when((typ == "purchase") & (t > F.col("t1")), t)).over(w)
    )
    g = (
        df.groupBy("user_id")
        .agg(F.first("t1").alias("t1"), F.first("t2").alias("t2"))
        .where(F.col("t2").isNotNull())
        .select((F.unix_micros("t2") - F.unix_micros("t1")).alias("delta_us"))
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile("delta_us", F.lit(0.25)).alias("p25_us"),
        F.percentile("delta_us", F.lit(0.5)).alias("p50_us"),
        F.percentile("delta_us", F.lit(0.75)).alias("p75_us"),
    )


_EMB_DIM = 64

_DRIFT_SQL = f"""
WITH terms AS (
  SELECT vec_id % 2 AS half, label, i - 1 AS pos,
         CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {_EMB_DIM + 1})) AS i) dims
  WHERE i <= len(embedding)),
cent AS (
  SELECT half, label, pos,
         CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c
  FROM terms GROUP BY 1, 2, 3),
vecs AS (
  SELECT half, label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1, 2),
counts AS (
  SELECT vec_id % 2 AS half, label, count(*) AS n
  FROM embeddings GROUP BY 1, 2),
j AS (
  SELECT a.label, ca.n AS n_a, cb.n AS n_b, a.cv AS va, b.cv AS vb
  FROM vecs a JOIN vecs b ON a.label = b.label AND a.half = 0 AND b.half = 1
  JOIN counts ca ON ca.label = a.label AND ca.half = 0
  JOIN counts cb ON cb.label = a.label AND cb.half = 1)
SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       {{drift}} AS drift_cos
FROM j""".format(
    drift="round(("
    + "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [va[i] * vb[i] for i in range(1, 65)]), (a, b) -> a + b)"
    + " / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x for x in va]), (a, b) -> a + b))"
    + " * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [x * x for x in vb]), (a, b) -> a + b)))"
    + ") * 10000) / 10000"
)


@query("embedding_drift_monitor", _DRIFT_SQL)
def embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the corpus splits into two
    deterministic halves (vec_id parity — in production: yesterday vs
    today's batch), per-dimension DECIMAL-exact centroids are computed
    for each half, and the report is the cosine between the two
    centroids — cosine ~1 means the embedding distribution is stable,
    drops flag upstream model/data drift. The centroid means are the
    same decimal-sum/count construction as embedding_domain_centroids
    (order-free exact), the cosine a strict left-to-right fold on both
    engines, rounded to 4 decimals.

    Scale shape: one narrow (half, label, pos, value) explode ->
    partial-aggregated centroid shuffle (|halves x labels x dims| groups
    — tiny at any corpus size), then per-label scalar math. The raw
    vectors never shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    terms = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    ).select("half", "label", "pos", F.col("v").cast("double").alias("v"))
    cent = terms.groupBy("half", "label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    vecs = cent.groupBy("half", "label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    counts = emb.groupBy((F.col("vec_id") % 2).alias("half"), "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = vecs.where(F.col("half") == 0).select("label", F.col("cv").alias("va"))
    b = vecs.where(F.col("half") == 1).select("label", F.col("cv").alias("vb"))
    ca = counts.where(F.col("half") == 0).select("label", F.col("n").alias("n_a"))
    cb = counts.where(F.col("half") == 1).select("label", F.col("n").alias("n_b"))
    return (
        a.join(b, "label")
        .join(ca, "label")
        .join(cb, "label")
        .select(
            "label",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.round(vectors.cosine("va", "vb") * 10000) / 10000).alias("drift_cos"),
        )
    )


_DQ_DOCS_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
       CAST(sum(CASE WHEN lang IS NULL
                          OR lang NOT IN ('en','fr','de','es','zh')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
       CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_mismatch,
       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_ids
FROM documents"""


@query("dq_documents_checks", _DQ_DOCS_SQL)
def dq_documents_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate for the documents corpus (the text-side sibling
    of dq_orders_checks / dq_lineitem_checks): empty/null text, language
    outside the declared set, stored n_chars disagreeing with the actual
    text length (the metadata-drift check every ingestion pipeline needs),
    duplicate doc_ids. One single-pass aggregate — conditional sums
    partial-aggregate map-side, the distinct-count is the only shuffle
    term."""
    d = table(spark, sf_dir, "documents")
    one = F.lit(1)
    return d.agg(
        F.count(one).cast("long").alias("n_rows"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.length(F.trim("text")) == 0), 1
            ).otherwise(0)
        ).cast("long").alias("n_empty_text"),
        F.sum(
            F.when(
                F.col("lang").isNull()
                | ~F.col("lang").isin("en", "fr", "de", "es", "zh"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_bad_lang"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).cast("long").alias("n_len_mismatch"),
        (F.count(one) - F.count_distinct("doc_id")).cast("long").alias("n_dup_ids"),
    )
