"""Round-13 session batch 2 — a second EXACT set-similarity join family,
the LSH health report that sizes it, and a ranking-quality eval:

- dedup_prefix_filter_jaccard: exact Jaccard >= 0.5 pairs over distinct
  SHINGLE sets (the sets dedup_minhash_lsh verifies) via PREFIX
  FILTERING (Bayardo/Chaudhuri AllPairs): order every doc's shingles by
  global rarity, index only each doc's first |d| // 2 + 1, candidate
  pairs must share a PREFIX shingle and pass the length filter
  2*min(|a|,|b|) >= max(|a|,|b|). Unlike the MinHash family this has
  ZERO false negatives by construction — the candidate set provably
  contains every qualifying pair — at the cost of candidate mass that
  tracks shingle-frequency skew instead of a tunable band collision
  rate. Rarity ordering is exactly why it scales: the indexed prefix is
  each doc's RAREST shingles, so the inverted-index buckets the join
  explodes are the smallest ones.
- corpus_band_occupancy_stats: per MinHash band, the bucket-occupancy
  profile (buckets, docs, max occupancy, collision buckets, candidate
  pair mass sum n_b*(n_b-1)/2) — the observability query that tells an
  operator whether banding is sized right BEFORE running the join; at
  100 TB you run this nightly and alert on pair-mass growth, because
  pair mass IS the next join's cost.
- eval_langid_auc: ROC AUC of the English stopword-ratio signal
  against the ground-truth lang label, via the Mann-Whitney U
  statistic with average-rank tie handling — computed in INTEGERS
  (U2 = sum cp * (2*cum_neg_below + cn), AUC = U2 / (2*P*N), one
  division at the end) so both engines agree bit-for-bit with no
  float-summation-order hazard.

Reference parity note: the reference (supercourier_etl) has no dedup /
eval surface; extension layer for the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts
from ..operators import dedup
from . import query, spread_table, table
from .llmops import (
    _SQL_SHINGLE_CTES,
    _SQL_SIG,
    _ROWS,
    sql_md5i,
    sql_round,
    sql_stop_hits,
    sql_toks,
)

_PFJ_T = 0.5  # Jaccard threshold; prefix size = n - ceil(t*n) + 1 = n//2 + 1


# Shared front of the PPJoin oracle family (the SQL twin of
# operators/dedup._ppjoin_prefix): md5-hashed shingle sets, global
# document frequency, per-doc rarity ranks, and the n//2 + 1 prefix.
_PFJ_PREFIX_CTES = f"""{_SQL_SHINGLE_CTES},
tl AS (SELECT doc_id, [{sql_md5i('x')} for x in s] AS hs FROM sh
       WHERE len(s) > 0),
tk AS (SELECT doc_id, unnest(hs) AS tok FROM tl),
fr AS (SELECT tok, count(*) AS f FROM tk GROUP BY tok),
rk AS (
  SELECT t.doc_id, t.tok,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY f.f, t.tok) AS r
  FROM tk t JOIN fr f USING (tok)),
pf AS (
  SELECT rk.doc_id, rk.tok, rk.r, len(tl.hs) AS n
  FROM rk JOIN tl USING (doc_id)
  WHERE rk.r <= len(tl.hs) // 2 + 1)"""


@query(
    "dedup_prefix_filter_jaccard",
    f"""
WITH {_PFJ_PREFIX_CTES},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         max(least(a.n - a.r, b.n - b.r)) AS ub0
  FROM pf a JOIN pf b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
   AND 2 * least(a.n, b.n) >= greatest(a.n, b.n)
  GROUP BY 1, 2, 3, 4
  HAVING 1 + max(least(a.n - a.r, b.n - b.r)) >= (na + nb + 2) // 3),
sc AS (
  SELECT id_a, id_b,
         len(list_intersect(ta.hs, tb.hs)) AS inter, na, nb
  FROM cand JOIN tl ta ON id_a = ta.doc_id JOIN tl tb ON id_b = tb.doc_id)
SELECT id_a, id_b,
       {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} AS jaccard
FROM sc WHERE {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)}
              >= CAST({_PFJ_T} AS DOUBLE)""",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= {_PFJ_T} near-dup pairs over distinct SHINGLE
    sets (the identical md5-hashed sets dedup_minhash_lsh verifies —
    this is its zero-false-negative twin) via PREFIX FILTERING
    (Bayardo/Chaudhuri AllPairs) with the PPJoin POSITIONAL filter.
    Shingle hashes are globally ranked by (document frequency asc, hash
    asc); each doc indexes only its n//2 + 1 RAREST shingles (the
    prefix bound for t = {_PFJ_T}: two sets with J >= t must share an
    element inside both prefixes — the pigeonhole that makes recall
    exact, where MinHash banding only makes it probable); candidates
    equi-join on the prefix shingle with the length filter
    2*min >= max pushed into the join, then the positional bound prunes
    BEFORE any array work: a pair can only reach overlap alpha =
    ceil((na+nb)/3) if some shared token leaves suffixes of at least
    alpha-1 on both sides — 1 + max(min(na-ra, nb-rb)) >= alpha, an
    admissible bound, so still zero false negatives. Survivors verify
    exact Jaccard by int64-hash array intersection (the string-array
    verify was the measured cost center: 30 s -> seconds at sf0.1).
    Scale shape: the document-frequency relation is one
    partial-aggregated shuffle; the rank window partitions by doc (the
    explode's natural key); the candidate join's buckets are per-shingle
    inverted lists, smallest for exactly the shingles the prefix keeps —
    frequency-skewed corpora (the 100 TB reality) self-mitigate because
    boilerplate shingles fall outside every prefix."""
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    return dedup.ppjoin_pairs(docs, threshold=_PFJ_T)


@query(
    "corpus_band_occupancy_stats",
    f"""
WITH {_SQL_SHINGLE_CTES},
sigs AS (
  SELECT doc_id, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, {texts.MINHASH_BANDS}) r),
occ AS (
  SELECT band, key, count(*) AS n_b
  FROM bands GROUP BY band, key)
SELECT CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n_b) AS BIGINT) AS n_docs,
       CAST(max(n_b) AS BIGINT) AS max_occupancy,
       CAST(sum(CASE WHEN n_b >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_collision_buckets,
       CAST(sum(n_b * (n_b - 1) // 2) AS BIGINT) AS pair_mass
FROM occ GROUP BY band ORDER BY band""",
)
def corpus_band_occupancy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy profile of the MinHash-LSH banding (the SAME
    signature/band relation dedup_minhash_lsh joins on): per band, the
    bucket count, doc mass, peak occupancy, collision-bucket count, and
    candidate PAIR MASS sum n_b*(n_b-1)/2 — which is, exactly, the
    row count the LSH candidate self-join will produce. This is the
    observability query a 100 TB dedup deployment runs BEFORE the join:
    pair mass growing super-linearly means the banding needs more rows
    per band (the auto_band_planes knob on the embedding side), and the
    per-band max flags a hot bucket (all-identical boilerplate) that
    wants a cap. All integer; one shuffle to bucket counts (map-side
    partials on (band, key)), one tiny per-band rollup."""
    # NOT spread (guide §2.5 boundary, measured r13: 1.67 -> 1.73 s with
    # the scan spread — consistent with _minhash_sigs' own sf1 finding
    # that the extra full-text exchange outweighs the kernel win for the
    # minhash family, whose downstream shuffles overlap the kernel anyway)
    sigs = dedup._minhash_sigs(table(spark, sf_dir, "documents"), "text", "doc_id")
    bands = dedup._minhash_bands(sigs, "doc_id")
    occ = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n_b"))
    return (
        occ.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("n_b").cast("long").alias("n_docs"),
            F.max("n_b").cast("long").alias("max_occupancy"),
            F.sum(F.when(F.col("n_b") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_collision_buckets"),
            F.sum(F.expr("n_b * (n_b - 1) div 2")).cast("long").alias("pair_mass"),
        )
        .withColumn("band", F.col("band").cast("long"))
        .select(
            "band", "n_buckets", "n_docs", "max_occupancy",
            "n_collision_buckets", "pair_mass",
        )
        .orderBy("band")
    )


@query(
    "eval_langid_auc",
    f"""
WITH lab AS (
  SELECT doc_id,
         {sql_round(f"CAST({sql_stop_hits('en')} AS DOUBLE)"
                    " / greatest(len(t), 1)", 6)} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM (SELECT doc_id, lang, {sql_toks('text')} AS t FROM documents)),
grp AS (
  SELECT score, CAST(sum(pos) AS BIGINT) AS cp,
         CAST(sum(1 - pos) AS BIGINT) AS cn
  FROM lab GROUP BY score),
cum AS (
  SELECT score, cp, cn,
         CAST(coalesce(sum(cn) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_below
  FROM grp),
u AS (SELECT sum(cp * (2 * cum_below + cn)) AS u2,
             sum(cp) AS p, sum(cn) AS n
      FROM cum)
SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
       {sql_round('CAST(u2 AS DOUBLE) / (2 * p * n)', 6)} AS auc
FROM u""",
)
def eval_langid_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the English stopword-ratio signal (the lang_id
    feature) against the documents table's ground-truth `lang` label —
    the calibration check before a language gate filters a corpus. AUC
    is the Mann-Whitney U with average-rank tie handling, computed
    WITHOUT float accumulation: per distinct score, U2 += cp *
    (2 * cum_neg_below + cn) in BIGINTs, then the one division
    U2 / (2*P*N) at the end — float summation order across engines can
    never diverge because there is no float sum. (The fixture assigns
    `lang` independently of the text, so ~0.5 is the CORRECT answer
    here — the null-calibration case the harness must get right; a real
    multilingual corpus moves it.) Scale shape: scores collapse to
    their distinct values in one partial-aggregated shuffle and the
    cumulative window runs over distinct scores only — corpus-sized
    work is exactly one scan + one aggregate."""
    docs = table(spark, sf_dir, "documents")
    score = F.round(
        texts.stopword_hits("text", "en").cast("double")
        / F.greatest(texts.token_count("text"), F.lit(1))
        * 1e6
    ) / 1e6
    lab = docs.select(
        "doc_id",
        score.alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    grp = lab.groupBy("score").agg(
        F.sum("pos").cast("long").alias("cp"),
        F.sum(1 - F.col("pos")).cast("long").alias("cn"),
    )
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.withColumn(
        "cum_below", F.coalesce(F.sum("cn").over(wcum), F.lit(0)).cast("long")
    )
    u = cum.agg(
        F.sum(F.col("cp") * (2 * F.col("cum_below") + F.col("cn"))).alias("u2"),
        F.sum("cp").alias("p"),
        F.sum("cn").alias("n"),
    )
    auc = F.round(
        F.col("u2").cast("double") / (2 * F.col("p") * F.col("n")) * 1e6
    ) / 1e6
    return u.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


@query(
    "dedup_ppjoin_pair_mass",
    f"""
WITH {_PFJ_PREFIX_CTES},
occ AS (SELECT tok, count(*) AS f FROM pf GROUP BY tok)
SELECT CAST(sum(f) AS BIGINT) AS n_prefix_postings,
       CAST(count(*) AS BIGINT) AS n_distinct_prefix_toks,
       CAST(max(f) AS BIGINT) AS max_posting_list,
       CAST(sum(f * (f - 1) // 2) AS BIGINT) AS pair_mass
FROM occ""",
)
def dedup_ppjoin_pair_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-FLIGHT cost report for the exact prefix-filter join
    (operators/dedup.ppjoin_pair_mass): the candidate pair mass
    sum_p C(f_p, 2) over prefix-indexed shingles — exactly the row
    count dedup_prefix_filter_jaccard's equi-join would generate before
    its length/positional filters — plus posting totals and the peak
    list. One aggregate pass, NO join: the number that routes dense
    corpora (tiny shingle vocabularies, boilerplate floods, where
    AllPairs is ~n^2/|shingle space| by construction) to MinHash
    banding before the join cost is paid. Measured teeth in
    .scale/ppjoin_decade.json: 2.64M for a Heaps-consistent 550k-doc
    corpus vs 6.18B for the same size at fixture vocabulary — a 2,345x
    gap knowable for one scan (the naive run of the dense join spilled
    >65 GB and died). Same observability contract as
    corpus_band_occupancy_stats on the LSH side; admissibility
    (mass >= emitted pairs) pinned in tests/test_round13.py."""
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    return dedup.ppjoin_pair_mass(docs)
