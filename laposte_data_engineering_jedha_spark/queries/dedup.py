"""Deduplication queries: exact, MinHash/SimHash near-duplicate,
winnowing, passage, fuzzy and embedding-cosine dedup, and their audits.

Every hash bottoms out in md5 (bit-identical across engines), and every
candidate pair is verified exactly, so the oracle can recompute the same
pair set by brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texts
from ..operators import dedup, similarity
from . import (
    SQL_NORM,
    SQL_SHINGLES,
    _EMB_BANDS,
    _EMB_BAND_PLANES,
    _GRAPH_BANDS,
    _GRAPH_BAND_PLANES,
    _PASSAGE_TOKENS,
    _ROWS,
    _SQL_AUTO_PLANES,
    _SQL_KNN_AUTO_CTES,
    _SQL_KNN_GRAPH_CTES,
    _SQL_SHINGLE_CTES,
    _SQL_SIG,
    _SQL_SIMHASH,
    _W,
    _auto_graph,
    _sql_band_key,
    query,
    spread_table,
    sql_dot,
    sql_md5i,
    sql_round,
    sql_toks,
    table,
    table_rowcount,
)


@query(
    "dedup_exact",
    """
WITH d2 AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 10000, text FROM documents)
SELECT md5(trim(lower(text))) AS dup_key, min(doc_id) AS keep_id,
       count(*) AS copies
FROM d2 GROUP BY 1""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus unioned with a shifted copy of itself, so
    every text has >= 2 copies and the keep-lowest-id policy is exercised."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    return dedup.exact_dedup(doubled)


_NGRAM_MAX_DF = 100  # stop-shingle guard measured in SCALE.md (90 s -> 9 s at 100k docs)


@query(
    "dedup_ngram_jaccard",
    f"""
WITH {_SQL_SHINGLE_CTES},
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
freq AS (SELECT shingle, count(*) AS df FROM inv0 GROUP BY 1),
inv AS (SELECT doc_id, i.shingle FROM inv0 i JOIN freq USING (shingle)
        WHERE df <= {_NGRAM_MAX_DF}),
sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       {sql_round('CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)', 4)} AS jaccard
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE jaccard >= CAST(0.5 AS DOUBLE)""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle inverted index, WITH
    the stop-shingle document-frequency cap active (max_shingle_df=100) —
    the guard that keeps the self-join linear on real corpora (SCALE.md
    finding 6). The oracle applies the identical cap and sizes docs over
    the capped shingle universe, so the capped semantics are what the
    driver hash-checks (round-2 verdict: the registered query must pass a
    cap for real corpora, not just the library op)."""
    return dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5, max_shingle_df=_NGRAM_MAX_DF
    )


@query(
    "dedup_containment",
    f"""
WITH {_SQL_SHINGLE_CTES},
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
freq AS (SELECT shingle, count(*) AS df FROM inv0 GROUP BY 1),
inv AS (SELECT doc_id, i.shingle FROM inv0 i JOIN freq USING (shingle)
        WHERE df <= {_NGRAM_MAX_DF}),
sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       {sql_round('CAST(inter AS DOUBLE) / least(sa.n, sb.n)', 4)} AS containment,
       sa.n AS n_a, sb.n AS n_b
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE containment >= CAST(0.8 AS DOUBLE)""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment pairs (|A∩B| / min(|A|,|B|) >= 0.8) — the
    quote/inclusion detector Jaccard misses when a short doc is embedded
    in a much longer one (operators/dedup.py ngram_containment_pairs).
    Same capped inverted-index shape as dedup_ngram_jaccard; only the
    denominator differs."""
    return dedup.ngram_containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.8, max_shingle_df=_NGRAM_MAX_DF
    )


@query(
    "dedup_minhash_lsh",
    f"""
WITH {_SQL_SHINGLE_CTES},
sigs AS (
  SELECT doc_id, h, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, sig, h, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, {texts.MINHASH_BANDS}) r),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
scored AS (
  SELECT id_a, id_b,
    len([i for i in range(1, {texts.MINHASH_PERMS + 1}) if sa.sig[i] = sb.sig[i]]) AS agree,
    len(list_intersect(sa.h, sb.h)) AS inter, len(sa.h) AS na, len(sb.h) AS nb
  FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id)
SELECT id_a, id_b,
       {sql_round(f'CAST(agree AS DOUBLE) / {texts.MINHASH_PERMS}', 4)} AS est_jaccard,
       {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} AS jaccard
FROM scored WHERE jaccard >= CAST(0.5 AS DOUBLE)""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded-LSH candidate join, exact-Jaccard verified."""
    return dedup.minhash_lsh_pairs(table(spark, sf_dir, "documents"), threshold=0.5)


@query(
    "dedup_simhash",
    f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
sims AS (
  SELECT doc_id, {_SQL_SIMHASH} AS sim
  FROM (SELECT doc_id,
               [CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) for x in t] AS h
        FROM toks)),
bands AS (
  SELECT doc_id, sim, r.range AS band,
         (sim >> (CAST(r.range AS INTEGER) * {_W})) & {(1 << _W) - 1} AS key
  FROM sims CROSS JOIN range(0, 4) r),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sim, b.sim)) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidates + Hamming <= 3 over 60-bit
    simhashes (32 bits is too small a space for short same-domain docs —
    vocabulary correlation floods the candidate set at scale; SCALE.md)."""
    return dedup.simhash_pairs(table(spark, sf_dir, "documents"), max_hamming=3)


# scale gate (VERDICT r12 item 2): above this corpus size the
# fixture-pinned 4-plane banding is no longer the plan a production run
# should execute (constant bucket count -> candidate mass ~n^2/2^planes,
# measured exponent 1.32-1.72 across rounds); the query switches to
# auto_band_planes(count(*)) — and the CASE is mirrored inside the SQL
# twin from the same count(*), so the oracle stays exact on BOTH
# branches at any scale. The threshold sits where the quadratic
# candidate mass overtakes auto-banding's constant overhead (finer keys
# + the gate count), measured warm: pinned 2.5 s vs scaled 3.8 s at 2k
# vectors (sf0.1 — pinned is still the better plan), scaled 7.2 s vs
# pinned 65.9 s at 20k (sf1). Oracle fixtures (500 vectors) stay far
# below it, so the recorded hash rows are unchanged.
_EMB_PINNED_MAX_N = 5_000


def _emb_cosine_sql() -> str:
    """The dedup_embedding_cosine DuckDB twin. The count(*) CASE reads
    _EMB_PINNED_MAX_N when the text is built, so a twin built under a
    patched threshold mirrors the query's branch under the same patch."""
    scaled = "GREATEST(4, CAST(ceil(log2(count(*) / 64.0)) AS BIGINT))"
    np_expr = (
        f"CASE WHEN count(*) > {_EMB_PINNED_MAX_N} THEN {scaled} "
        f"ELSE {_EMB_BAND_PLANES} END"
    )
    return f"""
WITH np AS (SELECT {np_expr} AS planes FROM embeddings),
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
           WHERE {SQL_NORM} > 0),
keyed AS (
  SELECT vec_id, band, {_sql_band_key('e', 'planes')} AS key
  FROM (SELECT vec_id, e, CAST(r.range AS BIGINT) AS band, planes
        FROM n CROSS JOIN np CROSS JOIN range(0, {_EMB_BANDS}) r)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       {sql_round(f"{sql_dot('va.e', 'vb.e')} / (va.nrm * vb.nrm)", 4)} AS cosine
FROM cand JOIN n va ON id_a = va.vec_id JOIN n vb ON id_b = vb.vec_id
WHERE cosine >= CAST(0.4 AS DOUBLE)"""


@query("dedup_embedding_cosine", _emb_cosine_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via banded hyperplane LSH — the
    scale path (no driver collect; candidates from a (band, bucket)
    equi-join, exact cosine verify). The oracle regenerates the identical
    LCG hyperplane buckets, so band semantics AND the verify kernel are
    both hash-checked. Exact-recall block-NL baseline:
    dedup.embedding_dup_pairs (sub-driver-memory corpora only).

    SCALE GATE (r12 verdict item 2): a corpus above _EMB_PINNED_MAX_N
    vectors takes auto_band_planes(count(*)) instead of the
    fixture-pinned {_EMB_BAND_PLANES} planes (the production banding,
    dedup_embedding_cosine_auto's configuration — exponent 0.417 vs 1.32
    pinned). The SQL twin computes the SAME CASE from the same count(*),
    so the two engines can never disagree about the branch and the
    oracle is exact on both. The threshold, read at call time, is the
    only switch: the branch-parity test lowers it to reach auto-banding
    at fixture sizes."""
    emb = table(spark, sf_dir, "embeddings")
    planes = _EMB_BAND_PLANES
    n = table_rowcount(spark, sf_dir, "embeddings")
    if n > _EMB_PINNED_MAX_N:
        planes = dedup.auto_band_planes(n)
    return dedup.embedding_dup_pairs_lsh(
        emb,
        threshold=0.4,
        bands=_EMB_BANDS,
        band_planes=planes,
    )


# MinHash-LSH pairs -> connected components, shared by the cluster
# assignment and survivor queries (comp = (doc_id, cluster_id = component
# min)).
_SQL_CC_CTES = f"""{_SQL_SHINGLE_CTES},
sigs AS (
  SELECT doc_id, h, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, sig, h, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, {texts.MINHASH_BANDS}) r),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
verified AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, len(list_intersect(sa.h, sb.h)) AS inter,
           len(sa.h) AS na, len(sb.h) AS nb
    FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id)
  WHERE {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} >= CAST(0.5 AS DOUBLE)),
edges AS (SELECT id_a AS u, id_b AS v FROM verified
          UNION SELECT id_b, id_a FROM verified),
reach(node, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)"""


@query(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_SQL_CC_CTES}
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM comp c
JOIN (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1) s
USING (cluster_id)""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: MinHash-LSH verified pairs -> connected
    components -> (doc_id, cluster_id, cluster_size), cluster_id = min doc
    id in the component. This is the step a real dedup pipeline needs after
    pair generation — pair-wise keep-earliest is chain-sensitive (A~B, B~C,
    A!~C must still collapse to one survivor). Spark side is iterative
    min-label propagation over DataFrame joins (operators/dedup.py
    connected_components — lineage-truncated per round, scalar-only driver
    sync); the oracle reaches the same fixpoint with a recursive CTE over
    the identical verified-pair set."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@query(
    "dedup_survivors",
    f"""
WITH RECURSIVE {_SQL_CC_CTES}
SELECT d.doc_id, CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
LEFT JOIN (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1) s
  ON c.cluster_id = s.cluster_id
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id""",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept set after component-level near-dup dedup: every doc that is
    either untouched by any near-dup pair or the MINIMUM id of its
    connected component, with the size of the cluster it represents.
    This is semantically stronger than pair-wise keep-earliest (drop every
    id_b): a node that is minimal among its DIRECT neighbors but not its
    component — e.g. edges (1,5),(3,5): pair-wise keeps {1,3}, components
    keep {1} — survives pair-wise but is correctly dropped here. One
    broadcast-able (survivor set is small relative to the corpus at real
    dup rates) left join against the cluster labels; corpus never
    reshuffles."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    cc = dedup.connected_components(pairs).withColumnRenamed("node", "doc_id")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        docs.join(cc, "doc_id", "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .join(sizes, "component", "left")
        .select("doc_id", F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"))
    )


@query(
    "dedup_semantic",
    f"""
WITH RECURSIVE {_SQL_KNN_GRAPH_CTES},
sedges0 AS (
  SELECT DISTINCT least(query_id, cand_id) AS id_a,
                  greatest(query_id, cand_id) AS id_b
  FROM knn WHERE cosine >= CAST(0.4 AS DOUBLE)),
sedges AS (SELECT id_a AS u, id_b AS v FROM sedges0
           UNION SELECT id_b, id_a FROM sedges0),
sreach(node, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sedges) s
  UNION
  SELECT sreach.node, e.v FROM sreach JOIN sedges e ON sreach.r = e.u),
scomp AS (SELECT node AS vec_id, min(r) AS cluster_id FROM sreach GROUP BY node)
SELECT emb.vec_id, CAST(coalesce(sz.cluster_size, 1) AS BIGINT) AS cluster_size
FROM embeddings emb
LEFT JOIN scomp c ON emb.vec_id = c.vec_id
LEFT JOIN (SELECT cluster_id, count(*) AS cluster_size FROM scomp GROUP BY 1) sz
  ON c.cluster_id = sz.cluster_id
WHERE c.vec_id IS NULL OR c.cluster_id = emb.vec_id""",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over embeddings: edges are kNN-graph
    neighbors with cosine >= 0.4, clusters are connected components, and
    the kept set is each component's minimum vec_id plus every untouched
    vector (with the size of the cluster it represents). Pure composition
    of verified pieces — knn_graph (bucketed, candidate-capped) +
    connected_components (iterative min-label) + the survivor selection of
    dedup_survivors — so the whole semantic-dedup pipeline is one
    hash-gated query."""
    emb = table(spark, sf_dir, "embeddings")
    g = similarity.knn_graph(
        emb, k=3, dim=64, bands=_GRAPH_BANDS, band_planes=_GRAPH_BAND_PLANES
    )
    pairs = (
        g.where(F.col("cosine") >= 0.4)
        .select(
            F.least("query_id", "cand_id").alias("id_a"),
            F.greatest("query_id", "cand_id").alias("id_b"),
        )
        .distinct()
    )
    cc = dedup.connected_components(pairs).withColumnRenamed("node", "vec_id")
    # the component loop checkpointed the edge set, so the banded
    # projection knn_graph persisted (one-exchange self-join, SCALE.md
    # finding 11 fix) is only needed until here; it is registered with
    # caches.track, so the per-query caches.release_all() in bench.py /
    # the replica gate (and LRU eviction otherwise) reclaims it.
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        emb.select("vec_id")
        .join(cc, "vec_id", "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("vec_id")))
        .join(sizes, "component", "left")
        .select("vec_id", F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"))
    )


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
    "dedup_savings_report",
    rf"""
WITH sized AS (
  SELECT doc_id, source, md5(text) AS content_md5,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({sql_toks('text')}) END AS n_tokens
  FROM documents),
grouped AS (
  SELECT content_md5, min(source) AS source, count(*) AS n_copies,
         min(doc_id) AS keep_doc, any_value(n_tokens) AS n_tokens
  FROM sized GROUP BY content_md5)
SELECT source,
       count(*) AS n_groups,
       CAST(sum(n_copies) AS BIGINT) AS n_docs,
       CAST(sum(n_copies - 1) AS BIGINT) AS n_removed,
       CAST(sum(n_tokens * (n_copies - 1)) AS BIGINT) AS tokens_saved,
       CAST(sum(n_tokens * n_copies) AS BIGINT) AS tokens_before
FROM grouped GROUP BY source""",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executive number behind exact dedup: per source, how many
    byte-identical copies get removed and how many TOKENS that saves —
    what justifies (or kills) a dedup stage in the corpus budget.
    (Copies of one group share a token count by construction, so savings
    = tokens x (copies - 1); group source = min() for determinism when
    copies span sources.) One md5-keyed aggregate over map-side hashes +
    a per-source rollup — integer-exact end to end."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("content_md5"),
        texts.token_count("text").alias("n_tokens"),
    )
    grouped = sized.groupBy("content_md5").agg(
        F.min("source").alias("source"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return grouped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_copies").alias("n_docs"),
        F.sum(F.col("n_copies") - 1).alias("n_removed"),
        F.sum(F.col("n_tokens") * (F.col("n_copies") - 1)).alias("tokens_saved"),
        F.sum(F.col("n_tokens") * F.col("n_copies")).alias("tokens_before"),
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


_PASSAGE_SQL = f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
pl AS (SELECT doc_id, CAST(ceil(len(t) / {_PASSAGE_TOKENS}) AS BIGINT) AS n_passages,
              [md5(array_to_string(t[i * {_PASSAGE_TOKENS} + 1 : i * {_PASSAGE_TOKENS} + {_PASSAGE_TOKENS}], ' '))
               for i in range(0, CAST(ceil(len(t) / {_PASSAGE_TOKENS}) AS INT))] AS ps
       FROM toks),
p AS (SELECT doc_id, unnest(ps) AS key FROM pl),
dupkeys AS (SELECT key FROM p GROUP BY key HAVING count(DISTINCT doc_id) >= 2),
dd AS (SELECT doc_id, count(*) AS n_dup FROM p JOIN dupkeys USING (key)
       GROUP BY doc_id)
SELECT doc_id, n_passages,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_passages,
       CASE WHEN n_passages = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_passages * 10000)
                 / 10000
       END AS dup_ratio
FROM pl LEFT JOIN dd USING (doc_id)"""


# Passage-level exact dedup stats (the C4/CCNet span-scrub measure) — cross-doc
# duplicated 8-token passages per doc.
@query("dedup_passage", _PASSAGE_SQL)
def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup stats (operators/dedup.py
    passage_dup_stats): consecutive 8-token passages hashed map-side; a
    passage counts as duplicated when its hash occurs in >= 2 distinct
    docs. Two narrow-key shuffles total (passage-frequency aggregate +
    per-doc re-aggregate); the dup-key join is co-partitioned with the
    aggregate that produced it. The per-doc dup_ratio is what a C4-style
    boilerplate scrub thresholds on."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.passage_dup_stats(docs, passage_tokens=_PASSAGE_TOKENS)


_PERMS = texts.MINHASH_PERMS


# How good is the MinHash estimator on THIS corpus — candidate count, precision
# at the 0.5 Jaccard threshold, and the integer-exact mean absolute error
# between the signature estimate and exact Jaccard (both first rounded to basis
# points, so the error mass sums as integers — no order-dependent double
# accumulation). The report that justifies (or indicts) the LSH band/row
# configuration.
@query(
    "dedup_minhash_calibration",
    f"""
WITH {_SQL_SHINGLE_CTES},
sigs AS (
  SELECT doc_id, h, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, sig, h, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, {texts.MINHASH_BANDS}) r),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
scored AS (
  SELECT id_a, id_b,
    len([i for i in range(1, {_PERMS + 1}) if sa.sig[i] = sb.sig[i]]) AS agree,
    len(list_intersect(sa.h, sb.h)) AS inter, len(sa.h) AS na, len(sb.h) AS nb
  FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id),
p AS (
  SELECT CAST(round({sql_round(f'CAST(agree AS DOUBLE) / {_PERMS}', 4)} * 10000) AS BIGINT) AS est_bp,
         CAST(round({sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} * 10000) AS BIGINT) AS j_bp
  FROM scored)
SELECT count(*) AS n_candidates,
       CAST(sum(CASE WHEN j_bp >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       {sql_round('CAST(sum(CASE WHEN j_bp >= 5000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 4)}
         AS precision_05,
       CAST(sum(abs(est_bp - j_bp)) AS BIGINT) AS abs_err_bp_total,
       CAST(sum(abs(est_bp - j_bp)) AS DOUBLE) / count(*) AS mae_bp
FROM p
""",
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality calibration for the MinHash-LSH dedup path: over ALL
    banded candidates (threshold 0 — the unfiltered candidate stream),
    report how many are true near-dups at Jaccard >= 0.5 (precision of
    the band configuration) and the mean absolute error of the
    {_PERMS}-perm signature estimator vs exact Jaccard. Both quantities
    are first snapped to integer basis points so the aggregation is
    exact-integer (no engine-order float drift); MAE in bp is ONE final
    division. This is the report you re-run after changing bands/rows or
    shingle size — an estimator drifting from exact Jaccard silently
    changes who gets deduplicated at 100 TB."""
    pairs = dedup.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), threshold=0.0
    )
    est_bp = F.round(F.col("est_jaccard") * 10000).cast("long")
    j_bp = F.round(F.col("jaccard") * 10000).cast("long")
    p = pairs.select(est_bp.alias("est_bp"), j_bp.alias("j_bp"))
    n = F.count(F.lit(1))
    n_true = F.sum(F.when(F.col("j_bp") >= 5000, 1).otherwise(0))
    err = F.sum(F.abs(F.col("est_bp") - F.col("j_bp")))
    return p.agg(
        n.alias("n_candidates"),
        n_true.cast("long").alias("n_true"),
        (F.round(n_true.cast("double") / n * 10000) / 10000).alias("precision_05"),
        err.cast("long").alias("abs_err_bp_total"),
        (err.cast("double") / n).alias("mae_bp"),
    )


# ========================== dedup threshold sweep ============================


# The Jaccard histogram of every LSH-candidate pair, bucketed in integer basis
# points — ONE candidate pass answers "what would each dedup threshold
# keep/drop", the tuning table behind the 0.5 default every minhash query uses.
@query(
    "dedup_threshold_sweep",
    f"""
WITH {_SQL_SHINGLE_CTES},
sigs AS (
  SELECT doc_id, h, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, sig, h, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, {texts.MINHASH_BANDS}) r),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
scored AS (
  SELECT CAST(round(CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE)
              / (len(sa.h) + len(sb.h) - len(list_intersect(sa.h, sb.h)))
              * 10000) AS BIGINT) AS bp
  FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id)
SELECT bp // 1000 AS bucket,
       round(CAST(bp // 1000 AS DOUBLE) / 10 * 1000000) / 1000000
         AS jaccard_lo,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM scored GROUP BY bp // 1000
""",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning table for MinHash dedup: EVERY LSH-candidate pair
    verified once, bucketed by exact Jaccard into 0.1-wide bins (integer
    basis points, so binning is integer division — no float boundary
    risk). Reading the histogram answers "what does moving the threshold
    from 0.5 to 0.6 drop" WITHOUT re-running the pipeline per threshold
    — one candidate pass serves every threshold decision, which at
    100 TB is the difference between one dedup job and five. Same
    signature/banding fragments as dedup_minhash_lsh (threshold=0 keeps
    all verified candidates)."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.0)
    return (
        pairs.select(F.expr("CAST(round(jaccard * 10000) AS BIGINT) div 1000").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "bucket",
            (F.round(F.col("bucket").cast("double") / 10 * 1000000) / 1000000).alias(
                "jaccard_lo"
            ),
            "n_pairs",
        )
    )


# ======================== dedup transitivity audit ===========================

_SQL_VERIFIED_PAIRS = f"""
sigs AS (
  SELECT doc_id, h, {_SQL_SIG} AS sig
  FROM (SELECT doc_id, [{sql_md5i('x')} for x in s] AS h FROM sh)
  WHERE len(h) > 0),
bands AS (
  SELECT doc_id, sig, h, r.range AS band,
         array_to_string(sig[r.range * {_ROWS} + 1 : r.range * {_ROWS} + {_ROWS}], '_') AS key
  FROM sigs CROSS JOIN range(0, 4) r),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id
  WHERE round(CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE)
        / (len(sa.h) + len(sb.h) - len(list_intersect(sa.h, sb.h))) * 10000) / 10000
        >= CAST(0.5 AS DOUBLE))"""


# Of all (a,b),(b,c) chains in the verified MinHash pair set, how many are NOT
# closed by a direct (a,c) pair — the measured justification for running
# connected components instead of pairwise keep-earliest (a gap of zero would
# mean pairs alone partition the corpus; a positive gap is exactly the mass
# only the component view deduplicates correctly).
@query(
    "dedup_transitivity_gap",
    f"""
WITH {_SQL_SHINGLE_CTES},
{_SQL_VERIFIED_PAIRS},
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b AS u, id_a AS v FROM pairs),
chains AS (
  SELECT DISTINCT least(x.u, y.v) AS a, greatest(x.u, y.v) AS c
  FROM und x JOIN und y ON x.v = y.u AND x.u <> y.v),
closed AS (
  SELECT a, c, CASE WHEN p.id_a IS NULL THEN 0 ELSE 1 END AS is_closed
  FROM chains LEFT JOIN pairs p ON p.id_a = a AND p.id_b = c)
SELECT CAST(count(*) AS BIGINT) AS n_chains,
       CAST(sum(is_closed) AS BIGINT) AS n_closed,
       CAST(count(*) - sum(is_closed) AS BIGINT) AS n_open,
       round(CAST(count(*) - sum(is_closed) AS DOUBLE) / count(*) * 1000000)
         / 1000000 AS gap_rate
FROM closed
""",
)
def dedup_transitivity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the verified MinHash near-dup pairs: count
    two-hop chains a~b~c (a != c) and how many lack the direct a~c pair.
    A positive gap is the exact reason dedup_clusters/survivors run
    CONNECTED COMPONENTS instead of pairwise keep-earliest — every open
    chain is a doc pair the pair view would treat as unrelated. The
    chain join is bounded by the pair set's degree (already df-capped by
    banding), not the corpus; all joins are id-keyed equi-joins over the
    (small) verified pair relation."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    und = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    x = und.alias("x")
    y = und.select(F.col("u").alias("v2"), F.col("v").alias("w")).alias("y")
    chains = (
        x.join(y, F.col("x.v") == F.col("y.v2"))
        .where(F.col("x.u") != F.col("y.w"))
        .select(
            F.least(F.col("x.u"), F.col("y.w")).alias("a"),
            F.greatest(F.col("x.u"), F.col("y.w")).alias("c"),
        )
        .distinct()
    )
    p = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"), F.lit(1).alias("hit"))
    closed = chains.join(p, ["a", "c"], "left").select(
        F.coalesce("hit", F.lit(0)).alias("is_closed")
    )
    return closed.agg(
        F.count(F.lit(1)).cast("long").alias("n_chains"),
        F.sum("is_closed").cast("long").alias("n_closed"),
        (F.count(F.lit(1)) - F.sum("is_closed")).cast("long").alias("n_open"),
        (
            F.round(
                (F.count(F.lit(1)) - F.sum("is_closed")).cast("double")
                / F.count(F.lit(1))
                * 1000000
            )
            / 1000000
        ).alias("gap_rate"),
    )


# ==================== blocked Levenshtein fuzzy dedup =========================

_FZ_MAX_DIST = 4


@query(
    "dedup_fuzzy_blocked",
    rf"""
WITH p AS (SELECT p_partkey, p_name,
                  regexp_extract(p_name, '(\S+)$', 1) AS noun
           FROM part),
names AS (SELECT noun, p_name, CAST(count(*) AS BIGINT) AS cnt
          FROM p GROUP BY noun, p_name),
blocks AS (SELECT noun, CAST(sum(cnt) AS BIGINT) AS n_parts
           FROM names GROUP BY noun),
near AS (
  SELECT a.noun AS noun, a.cnt * b.cnt AS n_id_pairs,
         levenshtein(a.p_name, b.p_name) AS d
  FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= {_FZ_MAX_DIST}
  UNION ALL
  SELECT noun, cnt * (cnt - 1) // 2 AS n_id_pairs, 0 AS d
  FROM names WHERE cnt > 1)
SELECT b.noun AS noun, b.n_parts AS n_parts,
       CAST(coalesce(sum(nr.n_id_pairs), 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(CASE WHEN nr.d = 0 THEN nr.n_id_pairs ELSE 0 END), 0)
            AS BIGINT) AS n_exact,
       CAST(min(nr.d) AS BIGINT) AS min_dist,
       CAST(max(nr.d) AS BIGINT) AS max_dist
FROM blocks b LEFT JOIN near nr ON b.noun = nr.noun
GROUP BY b.noun, b.n_parts
ORDER BY noun
""",
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy dedup over part names: block on the final
    token (the noun — a cheap deterministic key), compute Levenshtein
    edit distance ONLY between DISTINCT names within a block, and
    report per-block near-dup structure over part-ID pairs (pair count
    at distance <= {_FZ_MAX_DIST}, exact-dup pairs, min/max distance).
    Two scale levers, both essential at 100 TB: (1) blocking bounds
    candidates by block size instead of n^2 (hot blocks salt like any
    skewed join key — operators/skew.py patterns); (2) the edit
    distance runs on the DISTINCT-NAME grain with multiplicity counts —
    a corpus where names repeat heavily (the common entity-resolution
    case) pays Levenshtein on the vocabulary, CONSTANT as the corpus
    grows, while the ID-pair counts come from exact multiplicity
    arithmetic (cnt_a*cnt_b across names, C(cnt,2) within a name — the
    dist-0 exact-dup pairs). The naive id-level self-join was measured
    quadratic (19k pairs/block at sf0.01) and rejected. Levenshtein is
    JVM-side (F.levenshtein), never a Python UDF. Blocks with no close
    pair report zero pairs with NULL distances (LEFT join in both
    engines)."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r"(\S+)$", 1).alias("noun"),
    )
    names = p.groupBy("noun", "p_name").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    blocks = names.groupBy("noun").agg(
        F.sum("cnt").cast("long").alias("n_parts")
    )
    a = names.select(
        "noun", F.col("p_name").alias("na"), F.col("cnt").alias("ca")
    )
    b = names.select(
        "noun", F.col("p_name").alias("nb"), F.col("cnt").alias("cb")
    )
    cross = (
        a.join(b, "noun")
        .where(F.col("na") < F.col("nb"))
        .withColumn("d", F.levenshtein("na", "nb"))
        .where(F.col("d") <= _FZ_MAX_DIST)
        .select("noun", (F.col("ca") * F.col("cb")).alias("n_id_pairs"), "d")
    )
    within = names.where(F.col("cnt") > 1).select(
        "noun",
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("n_id_pairs"),
        F.lit(0).alias("d"),
    )
    near = cross.unionByName(within)
    return (
        blocks.join(near, "noun", "left")
        .groupBy("noun", "n_parts")
        .agg(
            F.coalesce(F.sum("n_id_pairs"), F.lit(0))
            .cast("long")
            .alias("n_pairs"),
            F.coalesce(
                F.sum(F.when(F.col("d") == 0, F.col("n_id_pairs")).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_exact"),
            F.min("d").cast("long").alias("min_dist"),
            F.max("d").cast("long").alias("max_dist"),
        )
        .orderBy("noun")
    )


# The same banded-hyperplane near-dup operator as dedup_embedding_cosine, but
# with the plane count sized by `auto_band_planes(count(*))` — the PRODUCTION
# configuration — instead of the fixture-pinned 4 planes. The pinned query was
# the registry's one scale outlier (exponent 1.72 sf0.1→sf1: constant bucket
# count, so candidate mass grows ~n²/2^planes); production auto-banding
# measured 0.80. The DuckDB twin computes the SAME planes = max(4,
# ceil(log2(n/64))) from count(*) inside the SQL (the band-key list
# comprehension takes dynamic bounds), so the externally hash-checked plan is
# exactly the plan a 100 TB run executes. The pinned query stays registered as
# the fixed-parameter regression row.
@query(
    "dedup_embedding_cosine_auto",
    f"""
WITH np AS ({_SQL_AUTO_PLANES}),
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
      WHERE {SQL_NORM} > 0),
keyed AS (
  SELECT vec_id, band, {_sql_band_key('e', 'planes')} AS key
  FROM (SELECT vec_id, e, CAST(r.range AS BIGINT) AS band, planes
        FROM n CROSS JOIN np CROSS JOIN range(0, {_EMB_BANDS}) r)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       {sql_round(f"{sql_dot('va.e', 'vb.e')} / (va.nrm * vb.nrm)", 4)} AS cosine
FROM cand JOIN n va ON id_a = va.vec_id JOIN n vb ON id_b = vb.vec_id
WHERE cosine >= CAST(0.4 AS DOUBLE)""",
)
def dedup_embedding_cosine_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via banded hyperplane LSH with
    CORPUS-SIZED banding: planes = auto_band_planes(count(*)) keeps
    expected bucket occupancy (and therefore per-bucket candidate mass)
    constant as the corpus grows — the ~linear scale path
    (operators/dedup.py:508; measured exponent 0.80 sf0.1→sf1 vs 1.72
    for fixture-pinned planes). Candidates from a (band, bucket)
    equi-join, exact cosine verify, no driver collect; the occupancy
    gate (CARRY_MAX_OCCUPANCY) selects the carried-vector plan in this
    regime — auto-banding's design point. The count() action that sizes
    the planes is one column-pruned scan, amortized across the 8-band
    key generation."""
    emb = table(spark, sf_dir, "embeddings")
    planes = dedup.auto_band_planes(table_rowcount(spark, sf_dir, "embeddings"))
    return dedup.embedding_dup_pairs_lsh(
        emb, threshold=0.4, bands=_EMB_BANDS, band_planes=planes
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


# Exact Jaccard >= 0.5 pairs over distinct SHINGLE sets (the sets
# dedup_minhash_lsh verifies) via PREFIX FILTERING (Bayardo/Chaudhuri
# AllPairs): order every doc's shingles by global rarity, index only each doc's
# first |d| // 2 + 1, candidate pairs must share a PREFIX shingle and pass the
# length filter 2*min(|a|,|b|) >= max(|a|,|b|). Unlike the MinHash family this
# has ZERO false negatives by construction — the candidate set provably
# contains every qualifying pair — at the cost of candidate mass that tracks
# shingle-frequency skew instead of a tunable band collision rate. Rarity
# ordering is exactly why it scales: the indexed prefix is each doc's RAREST
# shingles, so the inverted-index buckets the join explodes are the smallest
# ones.
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


@query(
    "dedup_semantic_auto",
    f"""
WITH RECURSIVE {_SQL_KNN_AUTO_CTES},
sedges0 AS (
  SELECT DISTINCT least(query_id, cand_id) AS id_a,
                  greatest(query_id, cand_id) AS id_b
  FROM knn WHERE cosine >= CAST(0.4 AS DOUBLE)),
sedges AS (SELECT id_a AS u, id_b AS v FROM sedges0
           UNION SELECT id_b, id_a FROM sedges0),
sreach(node, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sedges) s
  UNION
  SELECT sreach.node, e.v FROM sreach JOIN sedges e ON sreach.r = e.u),
scomp AS (SELECT node AS vec_id, min(r) AS cluster_id FROM sreach GROUP BY node)
SELECT emb.vec_id, CAST(coalesce(sz.cluster_size, 1) AS BIGINT) AS cluster_size
FROM embeddings emb
LEFT JOIN scomp c ON emb.vec_id = c.vec_id
LEFT JOIN (SELECT cluster_id, count(*) AS cluster_size FROM scomp GROUP BY 1) sz
  ON c.cluster_id = sz.cluster_id
WHERE c.vec_id IS NULL OR c.cluster_id = emb.vec_id""",
)
def dedup_semantic_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the auto-banded graph — the production semantic
    dedup surface (the pinned dedup_semantic stays as the fixture-scale
    regression row). Composition unchanged: cosine >= 0.4 kNN edges ->
    connected components (pointer jumping, localCheckpoint per round)
    -> one survivor per cluster with its cluster size. Decade evidence
    for this exact configuration: scripts/semdedup_decade.py (capture
    recovered vs the pinned twin's 0.82 at 200k vectors)."""
    g = _auto_graph(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    pairs = (
        g.where(F.col("cosine") >= 0.4)
        .select(
            F.least("query_id", "cand_id").alias("id_a"),
            F.greatest("query_id", "cand_id").alias("id_b"),
        )
        .distinct()
    )
    cc = dedup.connected_components(pairs).withColumnRenamed("node", "vec_id")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        emb.select("vec_id")
        .join(cc, "vec_id", "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("vec_id")))
        .join(sizes, "component", "left")
        .select("vec_id", F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"))
    )
