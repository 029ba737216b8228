"""100 TB training-data pipeline queries — dedup, similarity search, text
analysis, events analytics, multimodal, streaming — each registered with a
DuckDB oracle twin (SURVEY.md §7.2 M6).

Every hash bottoms out in md5 (bit-identical across engines); every double
reduction is strict left-to-right on both sides (Spark `aggregate` with 0.0
init == DuckDB `list_reduce` over a 0.0-prepended list); money-style sums
aggregate DECIMAL internally so partition order can't perturb low bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts, vectors
from ..operators import caches, corpus, dedup, joins, multimodal, similarity
from ..streaming import jobs as streaming_jobs
from . import events_table, query, table, table_rowcount

# --- DuckDB SQL fragments mirroring functions/texts.py + vectors.py ----------


def sql_md5i(x: str) -> str:
    """Twin of texts.md5int32."""
    return f"CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"


def sql_toks(c: str) -> str:
    """Twin of texts.tokens."""
    return rf"string_split_regex(trim(lower({c})), '\s+')"


def sql_reduce_sum(products: str) -> str:
    """Strict left-to-right double sum — twin of F.aggregate(_, 0.0, +)."""
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {products}), (a, x) -> a + x)"


def sql_round(x: str, scale: int) -> str:
    m = 10**scale
    return f"round(({x}) * {m}) / {m}"


SQL_SHINGLES = "list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])"
SQL_STOP = {lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]" for lang, ws in texts.STOPWORDS.items()}


def sql_stop_hits(lang: str) -> str:
    return f"len([x for x in t if list_contains({SQL_STOP[lang]}, x)])"


SQL_NORM = (
    "sqrt(" + sql_reduce_sum("[CAST(x AS DOUBLE) * x for x in embedding]") + ")"
)


def sql_dot(a: str, b: str, dim: int = 64) -> str:
    return sql_reduce_sum(f"[CAST({a}[i] AS DOUBLE) * {b}[i] for i in range(1, {dim + 1})]")


def _sql_hp_weight() -> str:
    """Twin of vectors.py_hyperplane_weights: md5("p_i") -> [-1000, 1000]."""
    h = "CAST('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)"
    return f"({h} % {vectors.HP_MOD} - {vectors.HP_SHIFT})"


# =============================== text analysis ===============================


@query(
    "text_token_count",
    rf"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '{texts.BPE_TOKEN_RE}')) AS n_bpe
FROM documents""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-style pre-token counts per document — the unit of
    corpus budgeting. Pure codegen'd string ops; no shuffle at all."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        texts.token_count("text").alias("n_tokens"),
        texts.bpe_token_count("text").alias("n_bpe"),
    )


_LANG_HITS = ",\n       ".join(f"{sql_stop_hits(lang)} AS h_{lang}" for lang in texts.LANG_TIEBREAK)
_LANG_BEST = "greatest(" + ", ".join(f"h_{lang}" for lang in texts.LANG_TIEBREAK) + ")"
_LANG_CASE = (
    "CASE WHEN best <= 0 THEN 'und' "
    + " ".join(f"WHEN h_{lang} = best THEN '{lang}'" for lang in texts.LANG_TIEBREAK)
    + " ELSE 'und' END"
)


def sql_lang_pred(src: str = "documents", extra_cols: str = "") -> str:
    """Nested-subquery twin of texts.lang_id: (doc_id[, extra], lang_pred)."""
    return f"""(
SELECT doc_id{extra_cols}, {_LANG_CASE} AS lang_pred FROM (
  SELECT *, {_LANG_BEST} AS best FROM (
    SELECT doc_id{extra_cols}, {_LANG_HITS}
    FROM (SELECT doc_id{extra_cols}, {sql_toks('text')} AS t FROM {src}))))"""


@query(
    "text_lang_id",
    f"SELECT doc_id, lang, lang_pred FROM {sql_lang_pred(extra_cols=', lang')} q",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID next to the labeled lang column."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", "lang", texts.lang_id("text").alias("lang_pred")
    )


def sql_quality(src: str = "documents") -> str:
    """Nested-subquery twin of texts.quality_score (round4): (doc_id, quality)."""
    score = (
        "CAST(0.25 AS DOUBLE) * (CASE WHEN n_chars >= 100 AND n_chars <= 5000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
        " + CAST(0.25 AS DOUBLE) * (CASE WHEN mean_word >= CAST(3.0 AS DOUBLE) AND mean_word <= CAST(10.0 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
        " + CAST(0.25 AS DOUBLE) * (CASE WHEN sym_ratio <= CAST(0.1 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
        " + CAST(0.25 AS DOUBLE) * least(stop_ratio * 4, CAST(1.0 AS DOUBLE))"
    )
    return rf"""(
SELECT doc_id, {sql_round(score, 4)} AS quality FROM (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1) AS mean_word,
         CAST(n_sym AS DOUBLE) / greatest(n_chars, 1) AS sym_ratio,
         CAST({sql_stop_hits('en')} AS DOUBLE) / greatest(n_tokens, 1) AS stop_ratio,
         n_chars
  FROM (
    SELECT doc_id, text, {sql_toks('text')} AS t, length(text) AS n_chars,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_sym
    FROM {src})))"""


@query("text_quality", f"SELECT doc_id, quality FROM {sql_quality()} q")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style heuristic quality score per document."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", (F.round(texts.quality_score("text") * 10000) / 10000).alias("quality")
    )


@query(
    "text_fingerprint",
    f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), [{sql_md5i('x')} for x in t]),
                   (a, b) -> (a * 31 + b) % {texts.FINGERPRINT_MOD}) AS fingerprint
FROM toks""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", texts.rolling_fingerprint("text").alias("fingerprint")
    )


# ================================== dedup ====================================


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


_SQL_SHINGLE_CTES = f"""
toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM toks)"""


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


_P = texts.MERSENNE31
_SQL_SIG = (
    f"[coalesce(list_min([(x * (j * 2 + 3) + (j * j + 7)) % {_P} for x in h]), {_P}) "
    f"for j in range(0, {texts.MINHASH_PERMS})]"
)
_ROWS = texts.MINHASH_PERMS // texts.MINHASH_BANDS


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


_W = texts.SIMHASH_BITS // 4
_SQL_SIMHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    f"[CASE WHEN list_sum([((x >> b) & 1) * 2 - 1 for x in h]) >= 0 THEN 1 ELSE 0 END "
    f"for b in range(0, {texts.SIMHASH_BITS})]), (a, x) -> a * 2 + x)"
)


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


_EMB_BANDS, _EMB_BAND_PLANES = 8, 4


def _sql_band_key(e: str, band_planes: int = _EMB_BAND_PLANES) -> str:
    """Bucket id of band `band` (a column in scope): sign bits of planes
    [band*band_planes, (band+1)*band_planes) packed MSB-first — the SQL twin
    of vectors.pd_lsh_buckets_banded, same md5 hyperplanes."""
    w = _sql_hp_weight()
    d = sql_reduce_sum(f"[CAST({e}[i + 1] AS DOUBLE) * CAST({w} AS DOUBLE) for i in range(0, 64)]")
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CASE WHEN {d} >= 0 THEN 1 ELSE 0 END "
        f"for p in range(band * {band_planes}, (band + 1) * {band_planes})]), "
        "(a, x) -> a * 2 + x)"
    )


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


def sql_minhash_dup_ids(src: str, threshold: str = "0.5") -> str:
    """Subquery of doc_ids to DROP under the keep-earliest near-dup policy:
    every id that appears as the higher member (id_b) of a verified
    MinHash-LSH pair within `src`. Same fragments as dedup_minhash_lsh."""
    return f"""(
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM {src}),
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
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
scored AS (
  SELECT id_b,
    len(list_intersect(sa.h, sb.h)) AS inter, len(sa.h) AS na, len(sb.h) AS nb
  FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id)
SELECT DISTINCT id_b AS doc_id FROM scored
WHERE {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} >= CAST({threshold} AS DOUBLE))"""


@query(
    "corpus_clean_pipeline",
    f"""
WITH base AS (
  SELECT d.doc_id, d.text, q.quality
  FROM documents d
  JOIN {sql_quality()} q USING (doc_id)
  JOIN {sql_lang_pred()} l USING (doc_id)
  WHERE q.quality >= CAST(0.75 AS DOUBLE) AND l.lang_pred = 'en'),
ex AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(trim(lower(text)))),
kept AS (SELECT b.doc_id, b.text, b.quality FROM base b JOIN ex USING (doc_id))
SELECT doc_id, quality FROM kept
WHERE doc_id NOT IN (SELECT doc_id FROM {sql_minhash_dup_ids('kept')} dups)""",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-cleaning composition a training-data pipeline
    actually runs: quality filter (round4 >= 0.75) -> language filter
    (predicted 'en') -> exact dedup (keep lowest id per normalized text)
    -> MinHash-LSH near-dup removal (drop the higher id of each verified
    pair — keep-earliest policy, chain-insensitive). Returns the surviving
    (doc_id, quality). Every stage is the already-oracled operator, so the
    whole composition is value-checked end to end."""
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
    # exact dedup as ONE window pass (row_number over the md5 key, ordered
    # by doc_id, keep rank 1 == keep min id): same result as the oracle's
    # groupBy-min + join-back, one exchange instead of two plus a join —
    # round-6 stage-count fix for this chain (each stage turnaround costs
    # ~0.2 s on the bench host; at scale it is simply one fewer shuffle).
    w = Window.partitionBy(F.md5(F.trim(F.lower("text")))).orderBy("doc_id")
    # minhash always persists its signature relation, and
    # since r13 `kept` itself is stats-gated persisted too: the
    # quality+lang kernels + exact-dedup window execute ONCE (signature
    # build) instead of twice (again for the anti-join left side);
    # recompute at 100 TB by the same gate.
    kept = caches.persist_if_small(
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    dups = (
        dedup.minhash_lsh_pairs(kept.select("doc_id", "text"), threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(dups, "doc_id", "left_anti").select("doc_id", "quality")


@query(
    "corpus_pack_sequences",
    rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{texts.BPE_TOKEN_RE}')) AS BIGINT)
           AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
              AS BIGINT) AS start_offset
  FROM t)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 2048 AS BIGINT) AS seq_id
FROM c""",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: docs concatenate in doc_id order into a
    token stream cut into 2048-token blocks; each doc gets its first
    token's block id. The cumulative sum is the scale-safe split-combine
    prefix sum (operators/corpus.py global_running_sum — range shards +
    per-shard window + broadcast offsets), NOT the naive
    Window.orderBy-with-no-partition global window that executes as a
    single partition holding the whole table. The oracle IS that naive
    global window, which DuckDB (single-node) runs happily — same values,
    opposite scalability."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", texts.bpe_token_count("text").cast("long").alias("n_tokens")
    )
    return corpus.pack_sequences(docs, budget=2048).select(
        "doc_id", "n_tokens", "start_offset", "seq_id"
    )


@query(
    "corpus_seq_manifest",
    rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{texts.BPE_TOKEN_RE}')) AS BIGINT)
           AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
              AS BIGINT) AS start_offset
  FROM t)
SELECT CAST(start_offset // 2048 AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       min(doc_id) AS first_doc,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM c GROUP BY 1""",
)
def corpus_seq_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence manifest — the loader-facing inverse of
    corpus_pack_sequences: for each 2048-token training block, how many
    docs START in it, the first doc id, and their total token mass (a
    block's mass can exceed 2048 when its last doc straddles the
    boundary — the straddle is cut at training time). One extra
    seq_id-keyed aggregate on top of the scale-safe prefix sum."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", texts.bpe_token_count("text").cast("long").alias("n_tokens")
    )
    return (
        corpus.pack_sequences(docs, budget=2048)
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


@query(
    "corpus_hash_sample",
    f"""
SELECT doc_id, lang
FROM documents
WHERE {sql_md5i("CAST(doc_id AS VARCHAR)")} % 100 < 10""",
)
def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample of the corpus (md5-bucket mod 100) —
    reproducible across runs, engines, partitionings, and appends, unlike
    rand()-based df.sample. Pure map-side filter; everything downstream
    keeps pushdown."""
    return corpus.hash_sample(
        table(spark, sf_dir, "documents"), percent=10
    ).select("doc_id", "lang")


_STRAT_RATES = {"en": 50, "fr": 20, "de": 10}
_SQL_STRAT_RATE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in _STRAT_RATES.items())
    + " ELSE 5 END"
)


@query(
    "corpus_stratified_sample",
    f"""
SELECT doc_id, lang
FROM documents
WHERE {sql_md5i("CAST(doc_id AS VARCHAR)")} % 100 < {_SQL_STRAT_RATE}""",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: keep 50% of en, 20% of fr, 10% of de,
    5% of everything else — deterministic per-stratum hash rates (the
    corpus-mixture step of training-data assembly). Map-side filter only;
    unlike df.sampleBy the kept set is stable across runs and engines."""
    return corpus.stratified_hash_sample(
        table(spark, sf_dir, "documents"), "lang", _STRAT_RATES, default_percent=5
    ).select("doc_id", "lang")


_MIX_WEIGHTS = {"src0": 4000, "src1": 2500, "src2": 1500, "src3": 1000, "src4": 1000}
_MIX_BUDGET = 2000  # tokens; sized so the big weights land at partial rates
_SQL_MIX_WBP = (
    "CASE source "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())
    + " ELSE 0 END"
)


@query(
    "corpus_mix_domains",
    rf"""
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents),
rates AS (
  SELECT source,
         least(10000, floor({_MIX_BUDGET} * ({_SQL_MIX_WBP}) / sum(n_tokens))) AS rate_bp
  FROM toks GROUP BY source)
SELECT t.doc_id, t.source, t.n_tokens
FROM toks t JOIN rates r USING (source)
WHERE {sql_md5i("CAST(t.doc_id AS VARCHAR)")} % 10000 < r.rate_bp""",
)
def corpus_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining domain mixture: sample each source to its target share
    of a total token budget (40/25/15/10/10% across src0..src4, other
    sources dropped) via per-domain deterministic hash rates computed from
    the domains' measured token totals (operators/corpus.py
    mix_to_token_budget). One |domains|-row aggregate broadcast back, then
    a pure map-side filter — the corpus never shuffles."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", texts.token_count("text").alias("n_tokens")
    )
    return corpus.mix_to_token_budget(
        docs, "source", _MIX_WEIGHTS, _MIX_BUDGET
    ).select("doc_id", "source", "n_tokens")


_CHUNK, _OVERLAP = 32, 8
_CHUNK_STRIDE = _CHUNK - _OVERLAP
# Oracle-only explode bound. The Spark side is unbounded; the fixture max is
# ~100 tokens/doc, and tests/test_llmops.py::
# test_chunk_overlap_oracle_cap_covers_fixture asserts the headroom at every
# sf so a fixture change fails loudly instead of as a hash mismatch.
_CHUNK_CAP = 64


@query(
    "corpus_chunk_overlap",
    rf"""
WITH t AS (
  SELECT doc_id, {sql_toks('text')} AS t FROM documents),
n AS (
  SELECT doc_id, t,
         greatest(1, CAST(ceil((len(t) - {_OVERLAP}) / CAST({_CHUNK_STRIDE} AS DOUBLE))
                          AS INTEGER)) AS n_chunks
  FROM t)
SELECT doc_id, CAST(r.range AS INTEGER) AS chunk_idx,
       array_to_string(t[CAST(r.range AS INTEGER) * {_CHUNK_STRIDE} + 1 :
                         CAST(r.range AS INTEGER) * {_CHUNK_STRIDE} + {_CHUNK}], ' ')
         AS chunk_text,
       len(t[CAST(r.range AS INTEGER) * {_CHUNK_STRIDE} + 1 :
             CAST(r.range AS INTEGER) * {_CHUNK_STRIDE} + {_CHUNK}]) AS n_chunk_tokens
FROM n CROSS JOIN range(0, {_CHUNK_CAP}) r
WHERE CAST(r.range AS INTEGER) < n_chunks""",
)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap (32-token windows, 8-token
    overlap) — the RAG / context-window splitter. Pure per-row
    sequence+explode+slice JVM exprs (operators/corpus.py
    chunk_with_overlap): zero shuffle, linear output amplification. The
    oracle reproduces the windows with list slicing over a bounded range
    explode."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus.chunk_with_overlap(
        docs, chunk_tokens=_CHUNK, overlap_tokens=_OVERLAP
    )


@query(
    "corpus_weighted_sample",
    f"""
SELECT doc_id, n_chars,
       round((CAST(n_chars AS DOUBLE) * CAST(4294967296.0 AS DOUBLE)
              / ({sql_md5i("CAST(doc_id AS VARCHAR)")} + 1)) * 1000000) / 1000000
         AS priority
FROM documents
ORDER BY priority DESC, doc_id
LIMIT 100""",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted top-100 sample with n_chars as the weight
    (operators/corpus.py weighted_priority_sample): priority =
    w * 2^32 / (md5(id)+1), global top-n via TakeOrderedAndProject — the
    reproducible quality-weighted curation pick, no RNG, no global
    sort."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return corpus.weighted_priority_sample(docs, "n_chars", 100)


_N_SHARDS = 16


@query(
    "corpus_shard_shuffle",
    f"""
WITH h AS (
  SELECT doc_id, {sql_md5i("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
SELECT doc_id, CAST(h % {_N_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY h % {_N_SHARDS} ORDER BY h, doc_id)
            AS INTEGER) AS pos
FROM h""",
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 16 training shards
    (operators/corpus.py shard_layout): shard = md5(id) % n, pos = rank
    inside the shard by (hash, id). Reading shards 0..n-1 in pos order is
    a reproducible pseudo-random permutation — the shuffle-once layout a
    pretraining loader streams; the only shuffle is the n_shards-way
    window exchange, never a single-partition global sort."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return corpus.shard_layout(docs, n_shards=_N_SHARDS)


@query(
    "events_funnel",
    """
WITH u1 AS (
  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t1
  FROM events GROUP BY 1),
u2 AS (
  SELECT e.user_id, any_value(u1.t1) AS t1,
         min(e.ts) FILTER (WHERE e.event_type = 'click' AND e.ts > u1.t1) AS t2
  FROM events e JOIN u1 USING (user_id) GROUP BY 1),
u3 AS (
  SELECT e.user_id, any_value(u2.t1) AS t1, any_value(u2.t2) AS t2,
         min(e.ts) FILTER (WHERE e.event_type = 'purchase' AND e.ts > u2.t2) AS t3
  FROM events e JOIN u2 USING (user_id) GROUP BY 1)
SELECT count(t1) AS n_view, count(t2) AS n_click_after_view,
       count(t3) AS n_purchase_after_click
FROM u3""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> later click -> later purchase)
    per user, counted across the user base — the product-analytics shape
    that needs per-user ordered-event state. One hash exchange on user_id
    feeds three chained unordered window aggregates (each stage's min
    timestamp conditions on the previous stage's), then a tiny global
    count — no per-event self-join, no sessionized state store."""
    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = ev.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn(
        "t2", F.min(F.when((typ == "click") & (t > F.col("t1")), t)).over(w)
    )
    df = df.withColumn(
        "t3", F.min(F.when((typ == "purchase") & (t > F.col("t2")), t)).over(w)
    )
    per_user = df.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    )


@query(
    "embedding_quantize",
    """
WITH m AS (
  SELECT vec_id, embedding AS e,
         CAST(127.0 AS DOUBLE)
           / nullif(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]),
                    CAST(0.0 AS DOUBLE)) AS s
  FROM embeddings)
SELECT vec_id,
       round(coalesce(s, CAST(0.0 AS DOUBLE)) * 1000000) / 1000000 AS scale,
       CASE WHEN s IS NULL THEN array_to_string([0 for x in e], ',')
            ELSE array_to_string(
              [CAST(greatest(-127, least(127,
                 floor(CAST(x AS DOUBLE) * s + CAST(0.5 AS DOUBLE)))) AS INTEGER)
               for x in e], ',') END AS qvec,
       CASE WHEN s IS NULL THEN 0
            ELSE len([x for x in e if abs(greatest(-127, least(127,
                 floor(CAST(x AS DOUBLE) * s + CAST(0.5 AS DOUBLE))))) = 127]) END
         AS n_sat
FROM m""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage /
    ANN-memory compression step (4x smaller than float32): per-vector
    scale = 127 / max|x|, q_i = clamp(floor(x_i * scale + 0.5), ±127).
    All per-row JVM transforms (functions/vectors.py quantize_int8), zero
    shuffle; floor(x+0.5) instead of round() because half-up vs half-even
    round() modes are the one place int8 grids can diverge across
    engines. qvec is emitted CSV-joined so the driver's value-hash sees a
    scalar column."""
    emb = table(spark, sf_dir, "embeddings")
    ma = vectors.max_abs("embedding")
    # Materialize the per-row scale as a column FIRST: referencing the
    # max_abs subtree from inside the quantize transform lambda would
    # re-evaluate it per array element (64x per use — measured ~4x query
    # cost). A multi-referenced non-trivial column blocks CollapseProject,
    # so the staged projection survives optimization.
    staged = emb.select(
        "vec_id",
        "embedding",
        (F.lit(127.0) / F.when(ma == 0.0, F.lit(None)).otherwise(ma)).alias("_s"),
    )
    # JVM HOF transform, staged off the _s column. An Arrow/numpy kernel
    # twin measured SLOWER here (11.7s vs 8.5s @400k vectors): per-element
    # compute is one multiply+floor+clamp, so the nested-array Arrow
    # round-trip dominates — the opposite trade from pd_dot, where the
    # kernel fuses a 64-term reduction per pair (see SCALE.md findings).
    staged = staged.withColumn("_q", vectors.quantize_int8("embedding", F.col("_s")))
    q = F.col("_q")
    return staged.select(
        "vec_id",
        (F.round(F.coalesce(F.col("_s"), F.lit(0.0)) * 1000000) / 1000000).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("qvec"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127)).alias("n_sat"),
    )


@query(
    "text_rarity",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({sql_toks('text')}) AS tok FROM documents),
freq AS (
  SELECT tok, count(*) AS gc FROM tok GROUP BY 1),
j AS (
  SELECT doc_id, gc FROM tok JOIN freq USING (tok))
SELECT doc_id, count(*) AS n_tokens,
       {sql_round('CAST(sum(gc) AS DOUBLE) / count(*)', 4)} AS mean_token_df,
       {sql_round('CAST(sum(CASE WHEN gc <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 4)}
         AS rare_token_ratio
FROM j GROUP BY 1""",
)
def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signals: per doc, the mean corpus-wide
    occurrence count of its tokens and the fraction of tokens that are
    corpus-rare (global count <= 2) — the deterministic integer-statistics
    stand-in for a unigram-LM perplexity filter (log-prob scoring needs
    ln(), which is not bit-portable across engines; summed BIGINT counts
    are). Shape: one token-keyed partial-aggregated groupBy for the
    vocabulary, a token-keyed equi-join (AQE skew split absorbs
    stop-token heat), one doc-keyed aggregate — all sums integer-exact,
    division happens once at the end."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(texts.tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("gc"))
    r4 = lambda c: F.round(c * 10000) / 10000  # noqa: E731 - round4 convention
    return (
        tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("gc").alias("_sum_gc"),
            F.sum(F.when(F.col("gc") <= 2, 1).otherwise(0)).alias("_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            r4(F.col("_sum_gc").cast("double") / F.col("n_tokens")).alias("mean_token_df"),
            r4(F.col("_rare").cast("double") / F.col("n_tokens")).alias("rare_token_ratio"),
        )
    )


@query(
    "events_anomaly_zscore",
    """
WITH base AS (
  SELECT event_id, event_type, CAST(hour(ts) AS INTEGER) AS hr, value
  FROM events WHERE value IS NOT NULL),
stats AS (
  SELECT event_type, hr, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
         CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS svv
  FROM base GROUP BY 1, 2),
z AS (
  SELECT event_id, b.event_type, hr,
         (value - sv / n)
           / nullif(sqrt(greatest(svv / n - (sv / n) * (sv / n),
                                  CAST(0.0 AS DOUBLE))), CAST(0.0 AS DOUBLE)) AS z
  FROM base b JOIN stats USING (event_type, hr))
SELECT event_id, event_type, hr, round(z * 10000) / 10000 AS zscore
FROM z WHERE abs(z) >= CAST(3.0 AS DOUBLE)""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour-of-day) z-score outliers (|z| >= 3) — the
    monitoring/anomaly shape over event streams. The group moments
    aggregate through DECIMAL(18,4) (exact, partition-order-free — a
    double sum would make low bits nondeterministic), convert to double
    once, and broadcast back onto the events; the z-score itself is
    map-side. Zero-variance groups yield NULL std -> no row (nullif)."""
    ev = events_table(spark, sf_dir)
    base = ev.where(F.col("value").isNotNull()).select(
        "event_id", "event_type", F.hour("ts").alias("hr"), "value"
    )
    dec = "decimal(18,4)"
    stats = base.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).cast("double").alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double").alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    var = F.col("svv") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.nullif(
        F.sqrt(F.greatest(var, F.lit(0.0))), F.lit(0.0)
    )
    return (
        base.join(F.broadcast(stats), ["event_type", "hr"])
        .select("event_id", "event_type", "hr", z.alias("z"))
        .where(F.abs(F.col("z")) >= 3.0)
        .select(
            "event_id", "event_type", "hr", (F.round(F.col("z") * 10000) / 10000).alias("zscore")
        )
    )


_DECON_MAX_DF = 50  # stop-shingle cap by TRAIN doc frequency


@query(
    "corpus_decontaminate",
    f"""
WITH split AS (
  SELECT doc_id, text,
         {sql_md5i("CAST(doc_id AS VARCHAR)")} % 100 AS b
  FROM documents),
ttoks AS (SELECT doc_id, {sql_toks('text')} AS t FROM split WHERE b < 10),
tsh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM ttoks),
tinv AS (SELECT doc_id, unnest(s) AS shingle FROM tsh),
rtoks AS (SELECT doc_id AS _tid, {sql_toks('text')} AS t FROM split WHERE b >= 10),
rsh AS (SELECT _tid, {SQL_SHINGLES} AS s FROM rtoks),
rinv0 AS (SELECT _tid, unnest(s) AS shingle FROM rsh),
freq AS (SELECT shingle, count(*) AS df FROM rinv0 GROUP BY 1),
rinv AS (SELECT _tid, r.shingle FROM rinv0 r JOIN freq USING (shingle)
         WHERE df <= {_DECON_MAX_DF}),
sz AS (SELECT doc_id, count(*) AS n_grams FROM tinv GROUP BY 1),
hits AS (
  SELECT doc_id, count(DISTINCT shingle) AS shared_grams,
         count(DISTINCT _tid) AS train_docs
  FROM tinv JOIN rinv USING (shingle) GROUP BY 1)
SELECT doc_id, n_grams, shared_grams, train_docs
FROM hits JOIN sz USING (doc_id)""",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination report: the 10% hash-sample fold plays the
    eval set, the remaining 90% the training corpus; a fold doc is flagged
    with how many of its distinct 3-gram shingles occur anywhere in train
    (GPT-3 appendix-C style n-gram overlap). Stop-shingles above train
    df=50 are excluded on BOTH engines. All shuffles carry (shingle, id)
    pairs only — see operators/corpus.py:decontaminate."""
    docs = table(spark, sf_dir, "documents")
    bucket = texts.md5int32(F.col("doc_id").cast("string")) % 100
    return corpus.decontaminate(
        train=docs.where(bucket >= 10),
        test=docs.where(bucket < 10),
        max_shingle_df=_DECON_MAX_DF,
    )


@query(
    "corpus_bloom_contains",
    f"""
WITH split AS (
  SELECT doc_id, text,
         {sql_md5i("CAST(doc_id AS VARCHAR)")} % 100 AS b
  FROM documents),
ttoks AS (SELECT doc_id, {sql_toks('text')} AS t FROM split WHERE b < 10),
tsh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM ttoks),
tinv AS (SELECT doc_id, unnest(s) AS shingle FROM tsh),
rtoks AS (SELECT {sql_toks('text')} AS t FROM split WHERE b >= 10),
rsh AS (SELECT {SQL_SHINGLES} AS s FROM rtoks),
rinv AS (SELECT DISTINCT unnest(s) AS shingle FROM rsh),
rpos AS (
  SELECT ({sql_md5i("shingle || '#' || CAST(i.range AS VARCHAR)")}) % 1024 AS pos
  FROM rinv CROSS JOIN range(0, 4) i),
bloom AS (
  SELECT CAST(pos // 32 AS INTEGER) AS word,
         bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bits
  FROM rpos GROUP BY 1),
tpos AS (
  SELECT doc_id, shingle,
         ({sql_md5i("shingle || '#' || CAST(i.range AS VARCHAR)")}) % 1024 AS pos
  FROM tinv CROSS JOIN range(0, 4) i),
hitper AS (
  SELECT doc_id, shingle,
         bool_and(coalesce((bits & (1::BIGINT << CAST(pos % 32 AS INTEGER))) <> 0,
                           false)) AS hit
  FROM tpos LEFT JOIN bloom ON CAST(pos // 32 AS INTEGER) = word
  GROUP BY 1, 2),
bl AS (
  SELECT doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits
  FROM hitper GROUP BY 1),
ex AS (
  SELECT doc_id, count(*) AS exact_hits
  FROM tinv JOIN rinv USING (shingle) GROUP BY 1)
SELECT bl.doc_id, bl.n_grams, bl.bloom_hits,
       CAST(coalesce(ex.exact_hits, 0) AS BIGINT) AS exact_hits
FROM bl LEFT JOIN ex ON bl.doc_id = ex.doc_id""",
)
def corpus_bloom_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sketch decontamination probe: the 90% train fold's distinct
    shingles fold into a 1024-bit, 4-hash Bloom bitmap (32 BIGINT words,
    map-side bit_or merge — a mergeable sketch); the 10% eval fold probes
    it via a <=32-row BROADCAST join. Per eval doc: distinct grams, how
    many the bloom claims seen, how many train really contains
    (bloom_hits >= exact_hits always — no false negatives). The O(bits)
    answer to corpus_decontaminate's O(shingle-join) — the train corpus
    is never joined against. All hashes md5 -> the oracle rebuilds the
    exact bitmap (operators/corpus.py bloom_contamination)."""
    docs = table(spark, sf_dir, "documents")
    bucket = texts.md5int32(F.col("doc_id").cast("string")) % 100
    return corpus.bloom_contamination(
        train=docs.where(bucket >= 10), test=docs.where(bucket < 10)
    )


@query(
    "text_repetition",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({sql_toks('text')}) AS tok FROM documents),
c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_types, CAST(max(c) AS BIGINT) AS top_count
  FROM c GROUP BY 1)
SELECT doc_id, n_tokens, n_types,
       {sql_round('CAST(n_types AS DOUBLE) / n_tokens', 4)} AS ttr,
       {sql_round('CAST(top_count AS DOUBLE) / n_tokens', 4)} AS top_token_ratio
FROM agg""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-repetition signals per doc (type-token ratio + top-token
    coverage) — the Gopher-style repetition filter inputs, computed with
    partial-aggregated explode+groupBy rather than a per-row quadratic
    scan. See operators/corpus.py:repetition_stats."""
    return corpus.repetition_stats(table(spark, sf_dir, "documents"))


_SQL_PII_TEXT = (
    "'reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example.com "
    "or +33 6 ' || CAST(doc_id % 90 + 10 AS VARCHAR) || ' 44 55, host 10.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || '.7 :: ' || text"
)


@query(
    "text_pii_scrub",
    f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         {_SQL_PII_TEXT},
         '{texts.PII_EMAIL_RE}', '<EMAIL>', 'g'),
         '{texts.PII_IP_RE}', '<IP>', 'g'),
         '{texts.PII_PHONE_RE}', '<PHONE>', 'g') AS clean
FROM documents""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: seed each doc with a deterministic email / phone /
    IPv4 preamble (the fixture corpus is PII-free), then redact with the
    chained regexp_replace rules of texts.redact_pii. The oracle applies
    the same patterns with RE2 'g' (Spark regexp_replace is global by
    default), pinning the cross-engine regex semantics."""
    pii = F.concat(
        F.lit("reach me at user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +33 6 "),
        (F.col("doc_id") % 90 + 10).cast("string"),
        F.lit(" 44 55, host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 :: "),
        F.col("text"),
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id", texts.redact_pii(pii).alias("clean")
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


# ============================= similarity search =============================

_SQL_KNN_BASE = f"""
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings
      WHERE {SQL_NORM} > 0),
q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 8)"""


@query(
    "knn_brute_force",
    f"""
WITH {_SQL_KNN_BASE},
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
  FROM n c CROSS JOIN q WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM pairs)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5""",
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 8."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.brute_force_knn(emb, emb.where(F.col("vec_id") < 8), k=5)


def _sql_bucket(e: str, planes: int = 8) -> str:
    w = _sql_hp_weight()
    d = sql_reduce_sum(f"[CAST({e}[i + 1] AS DOUBLE) * CAST({w} AS DOUBLE) for i in range(0, 64)]")
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CASE WHEN {d} >= 0 THEN 1 ELSE 0 END for p in range(0, {planes})]), (a, x) -> a * 2 + x)"
    )


@query(
    "knn_lsh",
    f"""
WITH {_SQL_KNN_BASE},
cb AS (SELECT vec_id, e, nrm, {_sql_bucket('e')} AS bucket FROM n),
qb AS (SELECT query_id, qe, qn, {_sql_bucket('qe')} AS bucket FROM q),
pairs AS (
  SELECT query_id, c.vec_id AS cand_id,
         {sql_round(f"{sql_dot('qe', 'c.e')} / (qn * c.nrm)", 6)} AS cosine
  FROM cb c JOIN qb USING (bucket) WHERE c.vec_id <> query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM pairs)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5""",
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-5 (recall < 1 by design)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_knn(emb, emb.where(F.col("vec_id") < 8), k=5, dim=64, planes=8)


# Banded-LSH corpus-wide top-3 graph CTEs, shared by knn_graph and the
# SemDeDup-style dedup_semantic composition. 4 bands x 6 planes
# (OR-amplification — round-4 fix: the single-band shape measured
# recall@3 = 0.0871, the one-band collision probability itself; banding
# lifts recall to 1-(1-p)^4 for ~4x candidate compute, SCALE.md table).
_GRAPH_BANDS, _GRAPH_BAND_PLANES = 4, 6
_SQL_KNN_GRAPH_CTES = f"""n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings),
nb AS (SELECT vec_id, e, nrm, CAST(r.range AS BIGINT) AS band
       FROM n CROSS JOIN range(0, {_GRAPH_BANDS}) r WHERE nrm > 0),
cb AS (SELECT vec_id, e, nrm, band, {_sql_band_key('e', _GRAPH_BAND_PLANES)} AS key FROM nb),
capped AS (
  SELECT *, row_number() OVER (
    PARTITION BY band, key ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS _r
  FROM cb),
gpairs AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id,
         {sql_round(f"{sql_dot('a.e', 'b.e')} / (a.nrm * b.nrm)", 6)} AS cosine
  FROM cb a JOIN capped b ON a.band = b.band AND a.key = b.key
  WHERE b._r <= 256 AND a.vec_id <> b.vec_id),
granked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM gpairs),
knn AS (SELECT query_id, cand_id, cosine, rank FROM granked WHERE rank <= 3)"""


@query(
    "knn_graph",
    f"""
WITH {_SQL_KNN_GRAPH_CTES}
SELECT query_id, cand_id, cosine, rank FROM knn""",
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate top-3 neighbor graph (SemDeDup / embedding
    clustering input): banded-LSH (band, key) self-join with no broadcast
    side (operators/similarity.py knn_graph)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(
        emb, k=3, dim=64, bands=_GRAPH_BANDS, band_planes=_GRAPH_BAND_PLANES
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


# `ivf_knn` graduated to a full DuckDB hash row in round 7: the registered
# query (queries/round7.py) runs the complete retrieval path against the
# pinned codebook. The fitted-quantizer operator
# (operators/similarity.py:ivf_knn) stays recall-tested in
# tests/test_llmops.py.


# ============================== events analytics =============================


@query(
    "events_sessionize",
    """
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
  SELECT user_id, ts, event_id,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM z GROUP BY user_id, session_id""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via window functions (batch twin of a
    `applyInPandasWithState` streaming sessionizer). Single shuffle on
    user_id serves both windows and the final group-by; gap math in integer
    microseconds so both engines compare exactly."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "ts", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "events_session_window_native",
    """
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
  FROM y)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_close,
       count(*) AS n_events
FROM z GROUP BY user_id, session_id""",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (one groupBy, merge-on-overlap
    sessionization — no window functions). Boundary semantics, verified
    EMPIRICALLY at the exact 30:00 gap
    (tests/test_boundary_fixtures.py::test_session_window_native_exact_boundary):
    a new event merges while its start <= previous end (end = prev ts +
    gap, INCLUSIVE), so an exactly-30:00 gap still merges and a session
    splits only when the gap EXCEEDS 30 min — identical to
    events_sessionize's lag/cumsum formulation, hence the same
    `> 1800000000` µs oracle split condition. The emitted window end is
    last event + gap = max(ts) + 30 min. The same operator runs under
    Structured Streaming with a watermark unchanged."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),
            "n_events",
        )
    )


@query(
    "stream_tumbling_counts",
    """
SELECT (epoch_us(ts) // 300000000) * 300 AS bucket_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2""",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window counts — the batch run of the SAME plan the
    Structured Streaming job executes (streaming/jobs.py; the streaming
    equivalence itself is asserted in tests/test_streaming.py)."""
    return streaming_jobs.tumbling_counts(events_table(spark, sf_dir))


@query(
    "stream_sliding_counts",
    """
SELECT bucket_start, event_type, count(*) AS n_events
FROM (
  SELECT ((epoch_us(ts) // 300000000) - r.range) * 300 AS bucket_start,
         event_type
  FROM events CROSS JOIN range(0, 2) r)
GROUP BY 1, 2""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly two
    buckets. The oracle enumerates the two slide-aligned window starts per
    event; Spark's window(ts, '10 minutes', '5 minutes') produces the same
    starts. Batch run of the streaming-capable plan (streaming/jobs.py)."""
    return streaming_jobs.sliding_counts(events_table(spark, sf_dir))


@query(
    "stream_enrich_users",
    """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_mktsegment AS segment, c.c_nationkey AS nationkey
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
)
def stream_enrich_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (batch run of the identical
    streaming plan, streaming/jobs.py:enrich_users): events left-joined to
    the broadcast customer dimension — stateless per micro-batch, the
    fact stream never shuffles. Streaming==batch equivalence asserted in
    tests/test_streaming.py."""
    return streaming_jobs.enrich_users(
        events_table(spark, sf_dir), table(spark, sf_dir, "customer")
    )


@query(
    "events_rolling_1h",
    """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""",
)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour activity at every event: event count and
    exact spend over the last hour — the feature-engineering shape behind
    rate limits, burst detection, and session features. A RANGE frame on
    integer microseconds (not ROWS) makes the frame a pure function of the
    timestamps, so ties can't reorder across engines; the sum aggregates
    DECIMAL internally (order-free) and casts to double at the edge. One
    shuffle on user_id; each partition sorts locally — no global sort, no
    single-partition window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_599_999_999, Window.currentRow)
    )
    return events_table(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("value_1h"),
    )


@query(
    "stream_click_attribution",
    """
SELECT p.event_id AS purchase_event, c.user_id, c.ts AS click_ts
FROM events c JOIN events p
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND p.ts <= c.ts
 AND epoch_us(c.ts) < epoch_us(p.ts) + 7200000000""",
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click -> purchase attribution pairs (same-user click inside the
    purchase's 2-hour follow-window) — the batch run of the SAME plan the
    stream-stream join executes under watermarks (streaming/jobs.py
    attribution_join; streaming==batch equivalence asserted in
    tests/test_streaming.py). The watermark-bounded two-buffer join is the
    canonical Structured Streaming shape Spark gives for free where the
    reference engine would need a custom symmetric hash join."""
    ev = events_table(spark, sf_dir)
    return streaming_jobs.attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@query(
    "stream_dedup_events",
    "SELECT event_id, event_type FROM events",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restoration: the events table unioned with itself
    simulates at-least-once redelivery (every event arrives twice); the
    dedup collapses it back to one row per event_id. Batch run of the
    plan whose streaming form is `dropDuplicatesWithinWatermark`
    (streaming/jobs.py:dedup_events — watermark-bounded key state;
    streaming==batch equivalence asserted in tests/test_streaming.py)."""
    ev = events_table(spark, sf_dir)
    redelivered = ev.unionByName(ev)
    return streaming_jobs.dedup_events(redelivered).select("event_id", "event_type")


@query(
    "events_topk_spenders",
    """
SELECT user_id,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS spend,
       count(*) AS n_purchases
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY spend DESC, user_id LIMIT 10""",
)
def events_topk_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 purchasers by exact decimal spend (deterministic ordering)."""
    return (
        events_table(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("spend"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
        .orderBy(F.col("spend").desc(), "user_id")
        .limit(10)
    )


@query(
    "events_value_quantiles",
    """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       count(*) AS n_events
FROM events GROUP BY event_type""",
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per event type (Spark `percentile` == DuckDB
    `quantile_cont`: same sort + linear interpolation, verified bit-equal).
    Exact percentile is a full-sort aggregate; the 100 TB path swaps in
    `approx_percentile` (t-digest sketch, mergeable map-side) at the cost
    of leaving the oracle gate."""
    return (
        events_table(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def sketch_aggregates_raw(ev: DataFrame) -> DataFrame:
    """Raw sketch estimates per event type — HyperLogLog++ distinct
    (rsd 2%) and the approximate-percentile digest (accuracy 1000, i.e.
    guaranteed rank error <= 0.1%). Both are mergeable map-side-combining
    sketches — the 100 TB replacements for exact distinct / full-sort
    percentile. Values are engine-specific (no SQL twin)."""
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_sketch_aggregates",
    """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS users_within_bounds,
       TRUE AS p50_within_bounds
FROM events GROUP BY event_type""",
)
def events_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates with a driver-checkable oracle (VERDICT r2 item 5):
    sketch VALUES are engine-specific, so the query emits exact anchor
    columns (n_events, exact_users — hash-matched against DuckDB) plus
    booleans asserting each sketch landed within its documented error —
    HLL++ within 5x its 2% rsd (+1 absolute slack for tiny groups), the
    percentile digest inside the exact p45..p55 envelope (50x its 0.1%
    guaranteed rank error). The oracle states the booleans as TRUE
    literals: any gross sketch regression flips a boolean and fails the
    value hash. Tight accuracy stays in
    tests/test_llmops.py::test_sketch_accuracy."""
    ev = events_table(spark, sf_dir)
    # Sketches and the exact distinct run as SEPARATE aggregations joined on
    # the (tiny) group key: mixing countDistinct with other aggregates makes
    # Catalyst plan an Expand (every input row duplicated per grouping-set),
    # pushing 2x rows through the HLL/digest buffers — measured 2.4x slower
    # at sf0.1. The exact count itself is the two-level shape (groupBy
    # (type, user) then count), which partial-aggregates map-side on both
    # levels — the same reason it scales past the Expand plan at 100 TB.
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
        # one sort pass for both exact envelope bounds
        F.expr("percentile(value, array(0.45, 0.55))").alias("p_env"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    agg = sketches.join(exact, "event_type").withColumns(
        {"p45": F.col("p_env")[0], "p55": F.col("p_env")[1]}
    )
    users_ok = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.greatest(F.lit(1.0), F.col("exact_users") * 0.10)
    )
    p50_ok = (F.col("approx_p50") >= F.col("p45")) & (F.col("approx_p50") <= F.col("p55"))
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        F.coalesce(users_ok, F.lit(True)).alias("users_within_bounds"),
        # all-null value groups sketch to null: vacuously in bounds
        F.coalesce(p50_ok, F.lit(True)).alias("p50_within_bounds"),
    )


@query(
    "events_json_extract",
    """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       count(*) AS n_events
FROM events GROUP BY 1""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + group count (semi-structured props)."""
    return (
        events_table(spark, sf_dir)
        .select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "text_tfidf_topterms",
    f"""
WITH toks AS (SELECT doc_id, unnest({sql_toks('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
docfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         tf * (CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS score
  FROM tf JOIN docfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, score, rnk FROM ranked WHERE rnk <= 3""",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by TF x rational-IDF.

    idf is the RATIONAL form (N+1)/(df+1) rather than its log: the ranking
    is order-isomorphic (log is monotone) and the score is a single IEEE
    division+multiply, exactly reproducible across engines — ln() is only
    ulp-accurate and engine-dependent. Plan: explode -> two hash aggs
    (term-frequency, doc-frequency) -> term-keyed join -> per-doc top-k
    window.

    The term-dim join is deliberately NOT broadcast-hinted (round-3
    verdict item 3): at web-corpus scale the distinct-term set (URLs,
    typos, code tokens) grows with the corpus and an unconditional
    broadcast OOMs the driver. A shuffle join on `term` is the scale-safe
    shape — both inputs are already hash-partitioned on compatible keys
    from their aggregations, and AQE still converts to broadcast at
    runtime whenever the measured docfreq side is genuinely small."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(texts.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = table_rowcount(spark, sf_dir, "documents")
    scored = tf.join(docfreq, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * (F.lit(float(n_docs + 1)) / (F.col("df") + 1))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "score", "rnk")
    )


@query(
    "stream_sessionize",
    """
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
  SELECT user_id, ts, event_id,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM y),
s AS (
  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events
  FROM z GROUP BY user_id, session_id),
m AS (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid FROM s)
SELECT user_id, session_start, session_end, n_events
FROM m WHERE session_id < last_sid""",
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode emission contract of the applyInPandasWithState
    sessionizer (streaming/jobs.py:sessionize_stream), as its deterministic
    batch window formulation: the sessions CLOSED BY A SUBSEQUENT EVENT —
    every session except each user's final one. Those are exactly the rows
    the stream emits independent of micro-batch/watermark timing (the final
    session per user closes only via event-time timeout, which depends on
    how far the bounded run's watermark advances). Was registered rows-only
    through round 5 as the end-to-end streaming run; the stateful operator
    itself remains non-SQL and stays pinned by tests/test_streaming.py::
    test_stateful_sessionizer_matches_batch (stream output sandwiched
    between this closed set and the full session set). Same graduation
    shape as stream_funnel_detect (round 5). Output columns match the
    stream's SESSION_OUT_SCHEMA."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    per = (
        ev.select("user_id", "ts", sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    last = F.max("session_id").over(Window.partitionBy("user_id"))
    return (
        per.withColumn("_last", last)
        .where(F.col("session_id") < F.col("_last"))
        .select("user_id", "session_start", "session_end", "n_events")
    )


@query(
    "events_asof_last_purchase",
    """
WITH tagged AS (
  SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS pval, 1 AS side
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, event_id, value, 0
  FROM events WHERE event_type = 'purchase'),
w AS (
  SELECT user_id, ts, event_id, side,
         last_value(pval IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side, pval
                 ROWS UNBOUNDED PRECEDING) AS asof_value
  FROM tagged)
SELECT user_id, event_id, ts, asof_value FROM w WHERE side = 1""",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (operators/joins.py): every click event annotated with the
    value of that user's latest purchase at or before it — the time-series
    join Spark lacks natively, in its scalable union+window formulation
    (one shuffle on the key; neither side needs to broadcast). The oracle
    is the same formulation in SQL."""
    ev = events_table(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = joins.asof_join(clicks, purchases, on="ts", by="user_id", value_cols=["value"])
    return out.select("user_id", "event_id", "ts", F.col("asof_value").cast("double"))


@query(
    "events_range_join",
    """
SELECT p.event_id AS purchase_event, count(*) AS n_clicks
FROM events c JOIN events p
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND p.ts <= c.ts
 AND epoch_us(c.ts) < epoch_us(p.ts) + 7200000000
GROUP BY 1""",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment via the time-bucketed range join
    (operators/joins.py range_join): each purchase opens a 2-hour window;
    count same-user clicks inside it. The bucket explode turns the
    inequality join into a hash-partitionable equi-join on bucket id with
    the exact range predicate re-applied — the scale-correct shape for
    interval joins Spark lacks natively. The oracle is the plain
    inequality join."""
    ev = events_table(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    windows = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("w_start"),
        F.timestamp_add("HOUR", F.lit(2), F.col("ts")).alias("w_end"),
    )
    joined = joins.range_join(clicks, windows, "ts", "w_start", "w_end", bucket_s=3600)
    return (
        joined.where(F.col("user_id") == F.col("p_user"))
        .groupBy("purchase_event")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@query(
    "events_markov_transitions",
    """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
c AS (
  SELECT event_type, next_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT event_type, next_type, n,
       round((CAST(n AS DOUBLE)
              / sum(n) OVER (PARTITION BY event_type)) * 10000) / 10000 AS p
FROM c""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix across user sessions —
    the sequence-analytics primitive (what follows a click?). One
    user_id exchange feeds the lead() window (ordered by (ts, event_id)
    so ties are deterministic), the pair counts partial-aggregate, and
    the row-probability normalization windows over the |types|^2-row
    matrix — trivially bounded."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        (F.round((F.col("n").cast("double") / F.sum("n").over(total)) * 10000) / 10000).alias("p"),
    )


# ================================ multimodal =================================


@query(
    "multimodal_frame_sample",
    f"""
WITH b AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
         text AS payload
  FROM documents),
f AS (
  SELECT doc_id, media_type, CAST(r.range AS BIGINT) AS frame_idx,
         substr(payload, 1 + CAST(r.range AS INTEGER) * {multimodal.FRAME_SIZE},
                {multimodal.FRAME_SIZE}) AS chunk
  FROM b CROSS JOIN range(0, {multimodal.MAX_FRAMES}) r
  WHERE CAST(r.range AS INTEGER) * {multimodal.FRAME_SIZE} < length(payload))
SELECT doc_id, media_type, frame_idx, length(chunk) AS n_bytes,
       {sql_md5i('chunk')} AS frame_hash
FROM f""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1 -> N mapInPandas shape): each payload expands to
    <=4 fixed-size frames, md5-hashed. The oracle chunks with VARCHAR
    substr — byte-exact here because the corpus is pure ASCII (verified:
    octet_length(text) == length(text) for every fixture row)."""
    media = multimodal.media_table(table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media)


@query(
    "multimodal_features",
    f"""
SELECT doc_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
       octet_length(encode(text)) AS n_bytes,
       {sql_md5i('text')} AS content_hash,
       {", ".join(
           f"CAST('0x' || substr(md5(text), {1 + 8 * i}, 8) AS BIGINT)"
           f" / 4294967296 AS f{i}"
           for i in range(multimodal.FEATURE_DIM)
       )}
FROM documents""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media payload -> Arrow-batched mapInPandas feature extraction
    (deterministic md5 fake behind the stubbed codec boundary).

    The library operator (operators/multimodal.py:extract_features) keeps
    its array<double> `features` column; the registered query projects the
    array into scalar f0..f{FEATURE_DIM-1} columns because the driver's
    order-insensitive value-hash canonicalizes with a pandas sort, which
    cannot hash Python lists (CORRECTNESS_r01: TypeError unhashable type
    'list')."""
    media = multimodal.media_table(table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "content_hash",
        *[
            F.col("features")[i].alias(f"f{i}")
            for i in range(multimodal.FEATURE_DIM)
        ],
    )
