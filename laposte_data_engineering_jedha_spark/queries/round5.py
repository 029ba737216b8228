"""Round-5 registry extensions.

Pinned-codebook verification twins for the vector-quantization operators:
the per-row assignment / encode math is deterministic given a codebook,
so these twins run it against the closed-form
`similarity.pinned_codebook` and earn full DuckDB hash rows. (Since then
the fits themselves graduated too: ivf_knn in round 7, embedding_pq_codes
in round 8 via the pinned Lloyd fit — these twins remain as the
closed-form-codebook variants.)

Cross-engine float discipline: every distance is a left-to-right fold
(`F.aggregate` with 0.0 init == DuckDB `list_reduce` with 0.0 prepend) over
terms built from exact-in-binary codebook values (multiples of 1/8), so the
doubles are bit-identical across engines and the argmin needs no tolerance.
Ties (impossible with these codebooks, but pinned anyway) resolve to the
lowest centroid id via lexicographic struct min on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts
from ..operators import caches, dedup, similarity
from . import query, spread_table, table
from .llmops import (
    _EMB_BANDS,
    _ROWS,
    _SQL_SIG,
    _sql_band_key,
    SQL_NORM,
    SQL_SHINGLES,
    sql_dot,
    sql_lang_pred,
    sql_md5i,
    sql_minhash_dup_ids,
    sql_quality,
    sql_round,
    sql_toks,
)

_EMB_DIM = 64  # fixture embedding dimensionality (TESTDATA.md)


def _spark_d2(j: int, c: int, sub: int) -> F.Column:
    """Left-to-right fold of squared diffs between the j-th subvector and
    pinned centroid c: sum_d (emb[j*sub+d] - val(j,c,d))^2 with
    val = (((c*sub + d + j*31) % 17) - 8) / 8.

    Deliberately an `F.aggregate` HOF fold, NOT unrolled arithmetic: the
    unrolled variant (1024+ expression nodes per projection once 4x16
    centroids multiply out) was measured 4x SLOWER (pq_adc_topk_pinned
    4.8 s -> 20 s at sf0.1) — Catalyst analysis and codegen choke on the
    tree long before row throughput matters at gate scale. The compact
    fold keeps the plan small; the production encode path is the Arrow
    kernel (similarity.pq_encode) either way."""
    base = c * sub + j * 31

    def step(acc: F.Column, d: F.Column) -> F.Column:
        val = ((F.lit(base) + d) % 17 - 8) / F.lit(8.0)
        diff = F.element_at("embedding", (F.lit(j * sub) + d + 1).cast("int")).cast(
            "double"
        ) - val
        return acc + diff * diff

    return F.aggregate(F.sequence(F.lit(0), F.lit(sub - 1)), F.lit(0.0), step)


def _sql_d2(j: int, c: int, sub: int) -> str:
    base = c * sub + j * 31
    diff = (
        f"(CAST(embedding[{j * sub} + d + 1] AS DOUBLE)"
        f" - ((({base} + d) % 17 - 8) / CAST(8.0 AS DOUBLE)))"
    )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {sub}), d -> {diff} * {diff})), "
        f"(a, b) -> a + b)"
    )


def _spark_argmin(j: int, k: int, sub: int) -> F.Column:
    """Lowest-distance centroid id (ties -> lowest id) via lexicographic
    struct min — Spark and DuckDB both order structs field-by-field."""
    return F.array_min(
        F.array(
            *[
                F.struct(_spark_d2(j, c, sub).alias("d"), F.lit(c).alias("c"))
                for c in range(k)
            ]
        )
    )["c"]


def _sql_argmin(j: int, k: int, sub: int) -> str:
    items = ", ".join(f"{{'d': {_sql_d2(j, c, sub)}, 'c': {c}}}" for c in range(k))
    return f"list_min([{items}])['c']"


_PQ_M, _PQ_K = 4, 16
_PQ_SUB = _EMB_DIM // _PQ_M

_PQ_SQL = "SELECT vec_id, " + ", ".join(
    f"CAST({_sql_argmin(j, _PQ_K, _PQ_SUB)} AS INTEGER) AS code{j}" for j in range(_PQ_M)
) + " FROM embeddings"


@query("embedding_pq_encode_pinned", _PQ_SQL)
def embedding_pq_encode_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode (4 subspaces x 16 centroids) against the closed-form
    pinned codebook — the hash-checkable twin of embedding_pq_codes'
    encode stage. The per-row math runs in the fold-faithful Arrow kernel
    (vectors.pd_fold_codes): bit-identical to the Catalyst `_spark_argmin`
    fold by construction (same left-to-right per-dimension IEEE adds, same
    lowest-id tiebreak — pinned equal in tests/test_round5.py) but ~10x
    faster, because the HOF fold is interpreted per (row, centroid, dim)
    on the JVM while the kernel fuses each dimension step across the whole
    Arrow batch. Map-side only, no shuffle at any scale."""
    from ..operators import similarity as sim
    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    return emb.select(
        "vec_id", vectors.pd_fold_codes("embedding", books).alias("codes")
    ).select(
        "vec_id",
        *[F.element_at("codes", j + 1).cast("int").alias(f"code{j}") for j in range(_PQ_M)],
    )


_IVF_K = 16

_IVF_SQL = (
    "SELECT vec_id, "
    f"CAST({_sql_argmin(0, _IVF_K, _EMB_DIM)} AS INTEGER) AS centroid, "
    f"round(least({', '.join(_sql_d2(0, c, _EMB_DIM) for c in range(_IVF_K))})"
    " * 1000000) / 1000000 AS d2"
    " FROM embeddings"
)


@query("ivf_assign_pinned", _IVF_SQL)
def ivf_assign_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment against 16 pinned 64-dim centroids —
    the hash-checkable twin of ivf_knn's assignment stage (its k-means fit
    is iterative, hence rows-only). Map-side only: at 100 TB this is the
    exact shape of the index build — one narrow pass, codebook shipped in
    the kernel closure, no shuffle. Runs the fold-faithful Arrow kernel
    (vectors.pd_fold_assign_d2), bit-identical to the `_spark_argmin` /
    `F.least`-over-folds Catalyst formulation but batch-fused."""
    from ..operators import similarity as sim
    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(1, _IVF_K, _EMB_DIM)[0]
    return emb.select(
        "vec_id", vectors.pd_fold_assign_d2("embedding", books).alias("a")
    ).select(
        "vec_id",
        F.col("a.centroid").alias("centroid"),
        (F.round(F.col("a.d2") * 1000000) / 1000000).alias("d2"),
    )


# =========================== incremental dedup ================================

_INCR_SQL = f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM toks),
sigs AS (
  SELECT doc_id, h, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, sig, h, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, {texts.MINHASH_BANDS}) r),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS base_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
scored AS (
  SELECT new_id, base_id,
    len(list_intersect(sa.h, sb.h)) AS inter, len(sa.h) AS na, len(sb.h) AS nb
  FROM cand JOIN sigs sa ON new_id = sa.doc_id JOIN sigs sb ON base_id = sb.doc_id)
SELECT new_id, base_id,
       {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} AS jaccard
FROM scored
WHERE {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} >= CAST(0.5 AS DOUBLE)"""


@query("dedup_incremental", _INCR_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: the 'new batch' (doc_id % 5 == 0)
    near-dup-checked against the 'historical corpus' (the rest) via the
    batch-vs-index banded join (operators/dedup.py:minhash_lsh_pairs_cross)
    instead of a corpus-wide self-join — at 100 TB the index side is a
    precomputed (id, band, key) relation stored bucketed on key, so daily
    ingestion costs O(batch), not O(corpus)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.minhash_lsh_pairs_cross(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        threshold=0.5,
    )


# ===================== full-chain corpus clean (3 stages) =====================

_SEM_CHAIN_SQL = f"""
WITH base AS (
  SELECT d.doc_id, d.text, q.quality
  FROM documents d
  JOIN {sql_quality()} q USING (doc_id)
  JOIN {sql_lang_pred()} l USING (doc_id)
  WHERE q.quality >= CAST(0.75 AS DOUBLE) AND l.lang_pred = 'en'),
ex AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(trim(lower(text)))),
kept AS (SELECT b.doc_id, b.text, b.quality FROM base b JOIN ex USING (doc_id)),
kept2 AS (
  SELECT doc_id, quality FROM kept
  WHERE doc_id NOT IN (SELECT doc_id FROM {sql_minhash_dup_ids('kept')} dups)),
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm
      FROM embeddings JOIN kept2 ON vec_id = kept2.doc_id
      WHERE {SQL_NORM} > 0),
keyed AS (
  SELECT vec_id, band, {_sql_band_key('e')} AS key
  FROM (SELECT vec_id, e, CAST(r.range AS BIGINT) AS band
        FROM n CROSS JOIN range(0, {_EMB_BANDS}) r)),
semcand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
semdrop AS (
  SELECT DISTINCT id_b FROM semcand
  JOIN n va ON id_a = va.vec_id JOIN n vb ON id_b = vb.vec_id
  WHERE {sql_round(f"{sql_dot('va.e', 'vb.e')} / (va.nrm * vb.nrm)", 4)}
        >= CAST(0.4 AS DOUBLE))
SELECT doc_id, quality FROM kept2
WHERE doc_id NOT IN (SELECT id_b FROM semdrop)"""


@query("corpus_clean_pipeline_sem", _SEM_CHAIN_SQL)
def corpus_clean_pipeline_sem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_clean_pipeline extended with the third dedup tier: quality +
    language filter -> exact dedup -> MinHash-LSH near-dup removal ->
    embedding-cosine semantic dedup (banded hyperplane LSH, keep-earliest
    on each verified pair, cosine >= 0.4 on the survivors' vectors,
    vec_id == doc_id in the fixtures). The hash-gated twin of the full
    1M-doc chain measured in SCALE.md ("full dedup chain") — every stage
    is the registered operator itself, so the exact -> near -> semantic
    composition is value-checked end to end."""
    docs = table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "text",
        (F.round(texts.quality_score("text") * 10000) / 10000).alias("quality"),
        texts.lang_id("text").alias("lang_pred"),
    )
    base = enriched.where(
        (F.col("quality") >= 0.75) & (F.col("lang_pred") == "en")
    ).select("doc_id", "text", "quality")
    # exact dedup as ONE window pass (keep rank 1 == keep min id per md5
    # key) — same round-6 stage-count fix as corpus_clean_pipeline; the
    # minhash stage always persists its signature relation
    # so this prefix executes twice total, not 4x.
    w = Window.partitionBy(F.md5(F.trim(F.lower("text")))).orderBy("doc_id")
    # kept feeds the minhash signature build AND the anti-join left side —
    # persist collapses the quality+lang Arrow kernels + exact-dedup window
    # to one execution (r13 optimization; stats-gated, recompute at 100 TB)
    kept = caches.persist_if_small(
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    near = (
        dedup.minhash_lsh_pairs(kept.select("doc_id", "text"), threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    # kept2 feeds BOTH the semantic stage and the final anti-join; Python-UDF
    # subtrees never canonicalize equal (SCALE.md finding 11), so without a
    # persist the whole quality+minhash pipeline above recomputes per
    # reference (measured 6.7 s -> ~4 s at sf0.1). The persisted projection
    # is the slim survivor set (id, quality) — ~1% of corpus bytes at scale.
    kept2 = caches.track(
        kept.join(near, "doc_id", "left_anti").select("doc_id", "quality").persist()
    )
    emb = table(spark, sf_dir, "embeddings").join(
        kept2.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    semdrop = (
        # persist_src: the LSH operator references its (id, vec, norm)
        # projection 4x; the upstream here is the survivors join, so
        # without the persist that join (and the kept2 cache read) would
        # re-execute per reference.
        dedup.embedding_dup_pairs_lsh(
            emb, threshold=0.4, bands=_EMB_BANDS, persist_src=True
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return kept2.join(semdrop, "doc_id", "left_anti")


# ======================= semantic decontamination =============================

_DECON_SEM_SQL = f"""
WITH n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
           WHERE {SQL_NORM} > 0),
keyed AS (
  SELECT vec_id, band, {_sql_band_key('e')} AS key
  FROM (SELECT vec_id, e, CAST(r.range AS BIGINT) AS band
        FROM n CROSS JOIN range(0, {_EMB_BANDS}) r)),
cand AS (
  SELECT DISTINCT a.vec_id AS new_id, b.vec_id AS base_id
  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id % 10 <> 7 AND b.vec_id % 10 = 7),
hit AS (
  SELECT DISTINCT new_id FROM cand
  JOIN n va ON new_id = va.vec_id JOIN n vb ON base_id = vb.vec_id
  WHERE {sql_round(f"{sql_dot('va.e', 'vb.e')} / (va.nrm * vb.nrm)", 4)}
        >= CAST(0.4 AS DOUBLE))
SELECT d.doc_id FROM documents d
WHERE d.doc_id % 10 <> 7 AND d.doc_id NOT IN (SELECT new_id FROM hit)"""


@query("corpus_decontaminate_sem", _DECON_SEM_SQL)
def corpus_decontaminate_sem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: drop training docs whose EMBEDDING is
    within cosine 0.4 of any held-out eval doc (vec_id % 10 == 7 plays
    the benchmark set) — the embedding-level counterpart of the 13-gram
    `corpus_decontaminate`, catching paraphrased contamination n-gram
    overlap misses. Cross-corpus banded hyperplane LSH
    (operators/dedup.py:embedding_dup_pairs_lsh_cross): train-vs-eval
    bucket join, exact-cosine verify on candidates only — the eval side
    is tiny and precomputable, so at 100 TB this is one narrow
    broadcast-size join per batch, never a corpus self-join."""
    emb = table(spark, sf_dir, "embeddings")
    hits = (
        dedup.embedding_dup_pairs_lsh_cross(
            emb.where(F.col("vec_id") % 10 != 7),
            emb.where(F.col("vec_id") % 10 == 7),
            threshold=0.4,
            bands=_EMB_BANDS,
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 7)
    return docs.select("doc_id").join(hits, "doc_id", "left_anti")


# =========================== corpus health report =============================

_HEALTH_SQL = f"""
WITH t AS (
  SELECT d.doc_id, md5(trim(lower(d.text))) AS k,
         CAST(len(regexp_extract_all(d.text, '{texts.BPE_TOKEN_RE}')) AS BIGINT)
           AS n_tokens,
         CAST(round(q.quality * 10000) AS BIGINT) AS q4,
         CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END AS is_en
  FROM documents d
  JOIN {sql_quality()} q USING (doc_id)
  JOIN {sql_lang_pred()} l USING (doc_id))
SELECT count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(sum(q4) AS DOUBLE) / count(*)) / 10000 AS mean_quality,
       round(CAST(10000 * sum(is_en) AS DOUBLE) / count(*)) / 10000 AS en_share,
       round(CAST(10000 * (count(*) - count(DISTINCT k)) AS DOUBLE) / count(*))
         / 10000 AS exact_dup_ratio,
       quantile_cont(n_tokens, 0.5) AS median_tokens
FROM t"""


@query("corpus_health_report", _HEALTH_SQL)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health summary — the dashboard number a curation run
    starts and ends with: doc/token volume, mean quality, language share,
    exact-dup ratio, median doc length. Float discipline: every ratio is
    an integer-exact sum with ONE final IEEE division + round (both
    engines bit-agree), quality enters pre-rounded to 1e-4 as an integer;
    median is the exact interpolated percentile (Spark `percentile` ==
    DuckDB `quantile_cont`, same pinned pattern as
    events_value_quantiles). One map-side pass + a single one-row
    aggregate at any scale (count DISTINCT is the only extra shuffle;
    swap in approx_count_distinct at 100 TB if 1e-4 error is fine)."""
    # r13 optimization (guide §2.5): three regex-heavy per-doc expressions
    # over a single-row-group file serialize on one task — spread the scan
    # across the session cores. Every downstream aggregate is
    # partitioning-independent (BIGINT sums/counts, count_distinct, exact
    # percentile over the value multiset); at 100 TB the scan splits
    # itself and the spread is a no-op.
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    t = docs.select(
        F.md5(F.trim(F.lower("text"))).alias("k"),
        texts.bpe_token_count("text").cast("long").alias("n_tokens"),
        F.round(
            F.round(texts.quality_score("text") * 10000) / 10000 * 10000
        ).cast("long").alias("q4"),
        (texts.lang_id("text") == "en").cast("long").alias("is_en"),
    )
    n = F.count(F.lit(1))
    return t.agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.round(F.sum("q4").cast("double") / n) / 10000).alias("mean_quality"),
        (F.round((F.lit(10000) * F.sum("is_en")).cast("double") / n) / 10000).alias(
            "en_share"
        ),
        (
            F.round((F.lit(10000) * (n - F.count_distinct(F.col("k")))).cast("double") / n)
            / 10000
        ).alias("exact_dup_ratio"),
        F.expr("percentile(n_tokens, 0.5)").alias("median_tokens"),
    )


# ===================== PQ/ADC top-k search, pinned twin =======================

_ADC_QMOD = 61  # queries = vec_id % 61 == 0 (~n/61 rows, broadcast side)


def _sql_tab(j: int) -> str:
    return "[" + ", ".join(_sql_d2(j, c, _PQ_SUB) for c in range(_PQ_K)) + "]"


_ADC_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         {", ".join(f"{_sql_tab(j)} AS tab{j}" for j in range(_PQ_M))}
  FROM embeddings WHERE vec_id % {_ADC_QMOD} = 0),
codes AS (
  SELECT vec_id AS cand_id,
         {", ".join(f"CAST({_sql_argmin(j, _PQ_K, _PQ_SUB)} AS INTEGER) AS code{j}" for j in range(_PQ_M))}
  FROM embeddings),
pairs AS (
  SELECT q.query_id, c.cand_id,
         round(((((tab0[code0 + 1] + tab1[code1 + 1]) + tab2[code2 + 1])
                 + tab3[code3 + 1])) * 1000000) / 1000000 AS adc
  FROM codes c CROSS JOIN q
  WHERE q.query_id <> c.cand_id),
r AS (SELECT query_id, cand_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id)
               AS rank
      FROM pairs)
SELECT query_id, cand_id, adc, rank FROM r WHERE rank <= 5"""


@query("pq_adc_topk_pinned", _ADC_SQL)
def pq_adc_topk_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full PQ asymmetric-distance (ADC) top-k search as a
    hash-checkable twin of similarity.pq_knn on the pinned codebook:
    per-query distance TABLES (4 subspaces x 16 centroids, each a
    left-to-right fold — bit-identical across engines), corpus scanned as
    codes only (the pinned encode), a candidate's distance = 4 table
    lookups + 3 adds in pinned association order, per-query top-5 with
    cand_id tie-break. Scale shape identical to the production kernel
    path: the corpus side carries (id, 4 codes) — ~100x below float-scan
    cost — and the query-table side broadcasts (BroadcastNestedLoopJoin
    with broadcast build, the sanctioned many-row variant); the only
    exchange is the per-query top-k window. pq_knn's numpy kernel ranks
    are pinned >= 0.9-recall-equal to this relation in
    tests/test_round5.py.

    Both sides run the fold-faithful Arrow kernels (vectors.pd_fold_codes
    / pd_fold_d2_tables): bit-identical to the Catalyst `_spark_d2` /
    `_spark_argmin` folds the oracle mirrors, but batch-fused — the
    interpreted HOF fold was this query's whole 5.6 s cost at sf0.1."""
    from ..operators import similarity as sim
    from ..functions import vectors

    emb = table(spark, sf_dir, "embeddings")
    books = sim.pinned_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    q = (
        emb.where(F.col("vec_id") % _ADC_QMOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            vectors.pd_fold_d2_tables("embedding", books).alias("tabs"),
        )
        .select(
            "query_id",
            *[F.element_at("tabs", j + 1).alias(f"tab{j}") for j in range(_PQ_M)],
        )
    )
    codes = emb.select(
        F.col("vec_id").alias("cand_id"),
        vectors.pd_fold_codes("embedding", books).alias("codes"),
    ).select(
        "cand_id",
        *[F.element_at("codes", j + 1).cast("int").alias(f"code{j}") for j in range(_PQ_M)],
    )
    adc = (
        (
            F.element_at("tab0", F.col("code0") + 1)
            + F.element_at("tab1", F.col("code1") + 1)
        )
        + F.element_at("tab2", F.col("code2") + 1)
    ) + F.element_at("tab3", F.col("code3") + 1)
    pairs = (
        codes.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(adc * 1000000) / 1000000).alias("adc"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "cand_id", "adc", "rank")
    )
