"""Text and corpus-curation queries (name prefixes text, corpus):
tokenization statistics, quality and repetition gates, mixing weights,
passage scrubbing and language-model statistics.

Token lists come from the shared tokenizer twins (`sql_toks` here,
functions/texts.py in Spark); hashes bottom out in md5 so both engines
agree bit-for-bit; ratios stay integer until one final division.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texts
from ..functions.texts import BPE_TOKEN_RE as texts_BPE
from ..operators import caches, corpus, dedup, ranking
from ..session import local_table
from . import (
    SQL_NORM,
    SQL_SHINGLES,
    _EMB_BANDS,
    _PASSAGE_TOKENS,
    _ROWS,
    _SQL_SHINGLE_CTES,
    _SQL_SIG,
    _r4,
    _sql_band_key,
    query,
    sort_report,
    spread_scan,
    spread_table,
    sql_dot,
    sql_md5i,
    sql_round,
    sql_stop_hits,
    sql_toks,
    table,
    table_rowcount,
)
from . import ORACLE_SQL as _REG


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
    "text_lang_confusion",
    f"""
SELECT lang, lang_pred, count(*) AS n
FROM {sql_lang_pred(extra_cols=', lang')} q
GROUP BY lang, lang_pred""",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language confusion matrix — the calibration
    view over the stopword-voting language ID (how often does the cheap
    classifier disagree with the upstream label, and toward which
    languages?). Per-doc prediction is the same single-pass JVM aggregate
    as text_lang_id; the matrix is one small hash aggregate on the two
    label columns (map-side partial combine; at 100 TB the shuffle carries
    |langs|^2 partial rows per task, i.e. nothing)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", texts.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_gopher_rules",
    rf"""
WITH sig AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0 ELSE len(t) END AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_sym,
         {sql_stop_hits('en')} AS stop_hits
  FROM (SELECT source, text, {sql_toks('text')} AS t FROM documents)),
flags AS (
  SELECT source,
         CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1)
                   BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
              THEN 1 ELSE 0 END AS word_ok,
         CASE WHEN CAST(n_sym AS DOUBLE) / greatest(n_chars, 1)
                   <= CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END AS sym_ok,
         CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS stop_ok
  FROM sig)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
       CAST(sum(word_ok) AS BIGINT) AS n_word_ok,
       CAST(sum(sym_ok) AS BIGINT) AS n_sym_ok,
       CAST(sum(stop_ok) AS BIGINT) AS n_stop_ok,
       CAST(sum(len_ok * word_ok * sym_ok * stop_ok) AS BIGINT) AS n_keep,
       {sql_round('CAST(sum(len_ok * word_ok * sym_ok * stop_ok) AS DOUBLE) / count(*)', 4)}
         AS keep_rate
FROM flags GROUP BY source""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021) rule-filter funnel per source: how
    many documents pass each individual heuristic — token-count band,
    mean-word-length band, symbol ratio, minimum stopword evidence — and
    how many survive all of them. Where text_quality scores documents,
    this is the PIPELINE view: per-source keep rates are what decide
    which crawl snapshots are worth the compute.

    One pass: every signal is a codegen'd string expression computed
    map-side (the tokenization subtree is shared via a projected alias, so
    it runs once per row), then a single per-source aggregate of 0/1
    flags — integer-exact across engines; the only double is the final
    keep_rate quotient, quantized r4 on both sides."""
    docs = table(spark, sf_dir, "documents")
    toks = texts.tokens("text")
    n_tokens = texts.token_count("text")
    n_chars = F.length("text")
    n_sym = F.size(F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9\s]"), 0))
    stop_hits = texts.stopword_hits("text", "en")
    sig = docs.select(
        "source",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_sym.alias("n_sym"),
        stop_hits.alias("stop_hits"),
    )
    mean_word = F.col("n_chars").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
    sym_ratio = F.col("n_sym").cast("double") / F.greatest(F.col("n_chars"), F.lit(1))
    flags = sig.select(
        "source",
        F.when(F.col("n_tokens").between(10, 2000), 1).otherwise(0).alias("len_ok"),
        F.when((mean_word >= 3.0) & (mean_word <= 10.0), 1).otherwise(0).alias("word_ok"),
        F.when(sym_ratio <= 0.1, 1).otherwise(0).alias("sym_ok"),
        F.when(F.col("stop_hits") >= 2, 1).otherwise(0).alias("stop_ok"),
    )
    keep = F.col("len_ok") * F.col("word_ok") * F.col("sym_ok") * F.col("stop_ok")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len_ok").alias("n_len_ok"),
        F.sum("word_ok").alias("n_word_ok"),
        F.sum("sym_ok").alias("n_sym_ok"),
        F.sum("stop_ok").alias("n_stop_ok"),
        F.sum(keep).alias("n_keep"),
        _r4(F.sum(keep).cast("double") / F.count(F.lit(1))).alias("keep_rate"),
    )


_TOP_BIGRAMS = 50


@query(
    "corpus_token_bigrams",
    f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       FROM toks)
SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {_TOP_BIGRAMS}""",
)
def corpus_token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-{50} token bigrams with occurrence and document
    frequency — the phrase-level boilerplate detector (a bigram whose
    count dwarfs its document frequency is a within-doc repetition; one
    that appears in most documents is template text to strip).

    Bigram construction is a map-side array transform (adjacent-pair
    concat, no self-join of the token table); then one hash aggregate on
    the bigram key (count + distinct-doc expansion) and a deterministic
    TakeOrderedAndProject top-{50} (count ties broken by bigram). The
    shuffle carries (bigram, doc_id) pairs — at 100 TB this is the
    standard n-gram count job, and the top-k is per-partition-pruned
    before the single-reducer merge."""
    docs = table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "filter(transform(t, (x, i) -> "
        "IF(i < size(t) - 1, concat(x, ' ', element_at(t, i + 2)), NULL)), "
        "x -> x IS NOT NULL)"
    )
    bg = (
        docs.select("doc_id", texts.tokens("text").alias("t"))
        .select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    return (
        bg.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n").desc(), "bigram")
        .limit(_TOP_BIGRAMS)
    )


_ZIPF_TOP = 64


@query(
    "text_zipf_fit",
    f"""
WITH toks AS (SELECT doc_id, unnest({sql_toks('text')}) AS tok
              FROM documents WHERE trim(text) <> ''),
tf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
top AS (SELECT f, tok FROM (
          SELECT f, tok, row_number() OVER (ORDER BY f DESC, tok) AS r FROM tf)
        WHERE r <= {_ZIPF_TOP}),
l AS (SELECT list(f ORDER BY f DESC, tok) AS fs,
             len(list(f)) AS n FROM top),
sums AS (
  SELECT n,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [ln(CAST(i AS DOUBLE)) for i in range(1, n + 1)]), (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [ln(CAST(fs[i] AS DOUBLE)) for i in range(1, n + 1)]), (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [ln(CAST(i AS DOUBLE)) * ln(CAST(fs[i] AS DOUBLE)) for i in range(1, n + 1)]),
           (a, x) -> a + x) AS sxy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)) for i in range(1, n + 1)]),
           (a, x) -> a + x) AS sxx
  FROM l)
SELECT n AS n_ranks,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
FROM sums""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of the corpus Zipf curve over the top-{64} token ranks:
    ln(freq) ~ slope * ln(rank) + intercept. Natural language sits near
    slope -1; a flattened slope flags templated/machine text, and the
    before/after-dedup slope delta is the classic over-dedup check.

    Shape: one token-count aggregate (the same shuffle as every n-gram
    job), a top-{64} TakeOrderedAndProject (freq ties broken by token, so
    the rank assignment is engine-identical), then ONE driver-sized row:
    the frequencies collapse to a rank-ordered array and the four OLS
    sums fold left-to-right inside an Arrow kernel (C libm ln — Spark's
    StrictMath diverges from DuckDB in the low bits; the kernel's doubles
    hash-match the twin's list_reduce folds unrounded, same rule as
    text_perplexity_proxy)."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode(texts.tokens("text")).alias("tok"))
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    top = tf.orderBy(F.col("f").desc(), "tok").limit(_ZIPF_TOP)
    # rank order == (f desc, tok asc): sort on (-f, tok), then project f.
    arr = top.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct((-F.col("f")).alias("nf"), "tok", "f"))
            ),
            lambda s: s["f"],
        ).alias("fs")
    )
    fit = texts.pd_zipf_fit("fs")
    return arr.select(
        F.size("fs").alias("n_ranks"),
        fit["slope"].alias("slope"),
        fit["intercept"].alias("intercept"),
    )


@query(
    "corpus_trigram_novelty",
    f"""
WITH {_SQL_SHINGLE_CTES},
inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
freq AS (SELECT shingle, count(*) AS df FROM inv GROUP BY 1),
per_doc AS (
  SELECT doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM inv JOIN freq USING (shingle)
  GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(n_shingles, 0) AS n_shingles,
       coalesce(n_novel, 0) AS n_novel,
       {sql_round('CAST(n_novel AS DOUBLE) / n_shingles', 4)} AS novelty_ratio
FROM documents d LEFT JOIN per_doc USING (doc_id)""",
)
def corpus_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty: of a document's DISTINCT 3-gram
    shingles, what fraction occurs in no other document? The type-level
    complement of text_rarity's token statistics — high novelty marks
    genuinely original passages worth up-weighting; near-zero novelty
    marks template text even when no single duplicate pair exists.

    Reuses the exact shingle universe of the dedup family — including its
    Arrow shingle kernel (pd_shingles; the codegen'd slice/concat HOF
    chain measured 10x slower at 500k docs, scripts/scale_smoke.py) —
    then one df aggregate on the shingle key, a shingle-keyed join back
    (narrow (doc_id, shingle) rows; AQE absorbs stop-shingle skew), one
    per-doc aggregate, and a LEFT join from documents so sub-3-token docs
    surface with zero shingles and a NULL ratio instead of vanishing."""
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(texts.pd_shingles(texts.tokens("text"))).alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            _r4(F.col("n_novel").cast("double") / F.col("n_shingles")).alias(
                "novelty_ratio"
            ),
        )
    )


@query(
    "corpus_length_histogram",
    rf"""
WITH n AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len({sql_toks('text')}) END AS n_tokens
  FROM documents)
SELECT source, length(CAST(n_tokens AS VARCHAR)) AS magnitude,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
FROM n GROUP BY source, magnitude""",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram per source in order-of-magnitude buckets —
    the budgeting view behind sequence packing and per-source sampling
    quotas (how much of each source's token mass sits in short-tail vs
    long-tail documents?).

    The bucket is the DIGIT COUNT of the token count (1-9, 10-99, ... —
    an exact string-length op, deliberately not floor(log2/log10): float
    log of an integer near a bucket edge is exactly the kind of
    cross-engine coin flip the registry bans). Map-side expression, one
    tiny (source x magnitude) aggregate, integer-exact everywhere."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = texts.token_count("text")
    return (
        docs.select(
            "source",
            n_tokens.alias("n_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            F.length(F.col("n_tokens").cast("string")).alias("magnitude"),
        )
        .groupBy("source", "magnitude")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


@query(
    "text_tokenizer_fertility",
    rf"""
WITH n AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len({sql_toks('text')}) END AS n_ws,
         len(regexp_extract_all(text, '{texts.BPE_TOKEN_RE}')) AS n_bpe
  FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       {sql_round('CAST(sum(n_bpe) AS DOUBLE) / greatest(sum(n_ws), 1)', 4)}
         AS fertility
FROM n GROUP BY lang""",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-style pre-tokens per
    whitespace word — THE metric for how fairly a tokenizer treats each
    language (high fertility = more sequence positions per word = higher
    effective cost and shorter context for that language). Pure map-side
    counting expressions shared with text_token_count, one |langs|-row
    aggregate; the ratio is the only double, r4 on both sides."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            texts.token_count("text").alias("n_ws"),
            texts.bpe_token_count("text").alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_bpe").alias("bpe_tokens"),
            (
                F.round(
                    F.sum("n_bpe").cast("double") / F.greatest(F.sum("n_ws"), F.lit(1)) * 10000
                )
                / 10000
            ).alias("fertility"),
        )
    )


@query(
    "corpus_curriculum_order",
    f"""
SELECT doc_id, quality,
       ntile(4) OVER (ORDER BY quality DESC, doc_id) AS phase,
       CAST({sql_md5i('CAST(doc_id AS VARCHAR)')} % 8 AS BIGINT) AS shard
FROM {sql_quality()} q""",
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum layout: documents ranked into 4 quality phases (phase 1
    = highest-quality quartile — where curriculum schedules start) and a
    deterministic md5 shard within each phase, so the training loader can
    stream phase 1 shard-by-shard, then phase 2, with no global sort at
    read time. ntile over (quality desc, doc_id) is deterministic because
    the tie-break key is unique; the shard gate is the same hash-mod
    discipline as corpus_shard_shuffle. Global ntile is one single-
    partition window over per-doc rows — the reporting-scale trade
    documented on olap_customer_quartiles; the 100 TB variant swaps in
    approx quantile cut-points on the quality score."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    quality = F.round(texts.quality_score("text") * 10000) / 10000
    scored = docs.select("doc_id", quality.alias("quality"))
    w = W.orderBy(F.col("quality").desc(), "doc_id")
    return scored.select(
        "doc_id",
        "quality",
        F.ntile(4).over(w).alias("phase"),
        (texts.md5int32(F.col("doc_id").cast("string")) % 8).alias("shard"),
    )


_SQL_QUALITY_VIEW = sql_quality()


@query(
    "corpus_quality_calibration",
    rf"""
WITH flags AS (
  SELECT doc_id,
         CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len(t) END)
                   BETWEEN 10 AND 2000 THEN 1 ELSE 0 END
         * (CASE WHEN CAST(length(text) AS DOUBLE)
                      / greatest(CASE WHEN trim(text) = '' THEN 0 ELSE len(t) END, 1)
                   BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
                 THEN 1 ELSE 0 END)
         * (CASE WHEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                      / greatest(length(text), 1) <= CAST(0.1 AS DOUBLE)
                 THEN 1 ELSE 0 END)
         * (CASE WHEN {sql_stop_hits('en')} >= 2 THEN 1 ELSE 0 END) AS keep
  FROM (SELECT doc_id, text, {sql_toks('text')} AS t FROM documents)),
scored AS (
  SELECT q.doc_id, quality, keep,
         ntile(10) OVER (ORDER BY quality, q.doc_id) AS decile
  FROM {_SQL_QUALITY_VIEW} q JOIN flags USING (doc_id))
SELECT decile, count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_keep,
       {sql_round('CAST(sum(keep) AS DOUBLE) / count(*)', 4)} AS keep_rate,
       min(quality) AS min_quality, max(quality) AS max_quality
FROM scored GROUP BY decile""",
)
def corpus_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the scalar quality score against the Gopher rule
    filter: per score decile, what fraction of documents the rules keep.
    A well-calibrated score shows keep_rate rising monotonically with
    decile — the check run before replacing a rule cascade with a learned
    quality classifier threshold (and the shape fastText-style filters
    are validated with).

    Both signals are map-side expressions over one shared tokenization;
    the decile is a global ntile over (quality, doc_id) — unique tie-break,
    single-partition reporting window (the olap_customer_quartiles trade);
    the final aggregate is 10 rows. Integer keep counts; r4 rate."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    quality = F.round(texts.quality_score("text") * 10000) / 10000
    n_tokens = texts.token_count("text")
    n_chars = F.length("text")
    n_sym = F.size(F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9\s]"), 0))
    mean_word = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    sym_ratio = n_sym.cast("double") / F.greatest(n_chars, F.lit(1))
    keep = (
        F.when(n_tokens.between(10, 2000), 1).otherwise(0)
        * F.when((mean_word >= 3.0) & (mean_word <= 10.0), 1).otherwise(0)
        * F.when(sym_ratio <= 0.1, 1).otherwise(0)
        * F.when(texts.stopword_hits("text", "en") >= 2, 1).otherwise(0)
    )
    scored = docs.select("doc_id", quality.alias("quality"), keep.alias("keep"))
    w = W.orderBy("quality", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_keep"),
            (F.round(F.sum("keep").cast("double") / F.count(F.lit(1)) * 10000) / 10000).alias("keep_rate"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


@query(
    "corpus_source_overlap",
    rf"""
WITH vocab AS (
  SELECT DISTINCT source, unnest({sql_toks('text')}) AS tok
  FROM documents WHERE trim(text) <> ''),
sz AS (SELECT source, count(*) AS n FROM vocab GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       {sql_round('CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared)', 4)}
         AS vocab_jaccard
FROM inter
JOIN sz sa ON src_a = sa.source
JOIN sz sb ON src_b = sb.source""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the domain-similarity
    matrix consulted when merging crawl sources (near-identical
    vocabularies = redundant source worth down-weighting; disjoint =
    genuine diversity). Same inverted-index shape as the dedup family,
    one level up: distinct (source, token) support, token-keyed
    self-join producing source PAIRS (fan-out bounded by |sources|^2 per
    token — the same bounded-domain argument as events_type_affinity; a
    web-scale run caps stop-token df first, exactly like
    dedup_ngram_jaccard), intersection counts + size join, one r4 ratio."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.where(F.trim(F.col("text")) != "")
        .select("source", F.explode(texts.tokens("text")).alias("tok"))
        .distinct()
    )
    sz = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "n_shared", "n_a", "n_b",
            _r4(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("vocab_jaccard"),
        )
    )


@query(
    "corpus_split_assign",
    f"""
WITH assigned AS (
  SELECT doc_id, source,
         CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id, source,
               {sql_md5i("CAST(doc_id AS VARCHAR) || '_split'")} % 100 AS h
        FROM documents))
SELECT source, split, count(*) AS n_docs
FROM assigned GROUP BY source, split""",
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by salted id hash,
    reported as the per-(source, split) manifest. The hash gate (not
    rand()) means membership is a pure function of doc_id — stable across
    runs, engines, partitionings, and INCREMENTAL INGESTION (a re-crawled
    doc lands in the same split forever, the property that keeps eval
    sets uncontaminated as the corpus grows; the same salt discipline as
    corpus_hash_sample). Map-side assignment, one tiny aggregate."""
    docs = table(spark, sf_dir, "documents")
    h = texts.md5int32(F.concat(F.col("doc_id").cast("string"), F.lit("_split"))) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


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


_BINS = [16, 32, 64, 128, 256, 512]

_BIN_CASE = (
    "CASE "
    + " ".join(f"WHEN n <= {b} THEN {b}" for b in _BINS)
    + " ELSE 1024 END"
)

_PACK_BINS_SQL = f"""
WITH t AS (SELECT CAST(len(regexp_extract_all(text, '{texts.BPE_TOKEN_RE}'))
                  AS BIGINT) AS n
           FROM documents),
b AS (SELECT {_BIN_CASE} AS bin, n FROM t),
g AS (SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
             CAST(sum(n) AS BIGINT) AS sum_tokens
      FROM b GROUP BY bin)
SELECT bin, n_docs, sum_tokens, bin * n_docs AS capacity,
       round(CAST(bin * n_docs - sum_tokens AS DOUBLE) / (bin * n_docs) * 10000)
         / 10000 AS pad_ratio
FROM g"""


@query("corpus_pack_bins", _PACK_BINS_SQL)
def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length-bucket packing report: docs binned by BPE-ish
    token count into [16..512, 1024+] capacity buckets; per bucket the
    doc count, token mass, padded capacity, and padding-waste ratio —
    the number that justifies pack_sequences over pad-to-bucket. One
    map-side pass + one tiny aggregate (<= 7 groups) at any scale; the
    ratio is one IEEE division over integer-exact sums."""
    docs = table(spark, sf_dir, "documents")
    n = texts.bpe_token_count("text").cast("long")
    bin_col = F.lit(1024)
    for b in reversed(_BINS):
        bin_col = F.when(n <= b, F.lit(b)).otherwise(bin_col)
    g = (
        docs.select(bin_col.cast("long").alias("bin"), n.alias("n"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("sum_tokens"))
    )
    cap = F.col("bin") * F.col("n_docs")
    return g.select(
        "bin",
        "n_docs",
        "sum_tokens",
        cap.alias("capacity"),
        (
            F.round((cap - F.col("sum_tokens")).cast("double") / cap * 10000) / 10000
        ).alias("pad_ratio"),
    )


_VOCAB_K = 20

_OOV_SQL = f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
tf AS (SELECT term, count(*) AS c
       FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term),
vocab AS (SELECT term FROM tf ORDER BY c DESC, term LIMIT {_VOCAB_K}),
oov AS (SELECT doc_id, count(*) AS n_oov
        FROM (SELECT doc_id, unnest(t) AS term FROM toks) p
        WHERE NOT EXISTS (SELECT 1 FROM vocab v WHERE v.term = p.term)
        GROUP BY doc_id)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
       round(CAST(COALESCE(n_oov, 0) AS DOUBLE) / len(t) * 10000) / 10000
         AS oov_rate
FROM toks LEFT JOIN oov USING (doc_id)"""


@query("text_oov_rate", _OOV_SQL)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus top-20 vocabulary
    (count desc, term asc tie-break) — the tokenizer-coverage check run
    before committing a vocab. Build-small-broadcast-wide: the term
    frequency aggregate reduces to a 20-row dim (TakeOrderedAndProject —
    no global sort materializes), collapsed to a ONE-ROW array that
    broadcasts under every doc; the per-doc OOV count is then a map-side
    higher-order `filter` over the token array — no explode of the big
    side, no per-token shuffle, no re-aggregation. Measured at 1M docs /
    60M tokens: 56 s as explode+anti-join+regroup, 27 s in this shape
    (SCALE.md) — the remainder is the vocab build's one irreducible
    token-grain pass, which at 100 TB is the only stage that touches a
    token-grain relation (score pass is map-side against the broadcast
    array)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", texts.tokens("text").alias("t"))
    vocab = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(_VOCAB_K)
    )
    varr = vocab.agg(F.collect_list("term").alias("v"))  # 1 row x 20 terms
    n_oov = F.size(
        F.filter("t", lambda x: ~F.array_contains("v", x))
    ).cast("long")
    return toks.crossJoin(F.broadcast(varr)).select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        n_oov.alias("n_oov"),
        (F.round(n_oov.cast("double") / F.size("t").cast("long") * 10000) / 10000).alias(
            "oov_rate"
        ),
    )


_TYPO_SQL = r"""
WITH base AS (
  SELECT CASE WHEN doc_id % 7 = 0 THEN
           text || ' ' || substr(t1, 1, 1) || substr(t1, 3, len(t1))
         ELSE text END AS text
  FROM (SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\s+')[1] AS t1
        FROM documents)),
toks AS (
  SELECT tok, count(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM base)
  WHERE len(tok) <= 24 GROUP BY tok),
keys AS (
  SELECT tok, n, unnest(list_distinct(list_append(
    [substr(tok, 1, i - 1) || substr(tok, i + 1, len(tok))
     for i in range(1, len(tok) + 1)],
    tok))) AS k
  FROM toks),
cand AS (
  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b, a.n AS n_a, b.n AS n_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.tok < b.tok)
SELECT tok_a, tok_b, n_a, n_b FROM cand WHERE levenshtein(tok_a, tok_b) = 1"""


@query("text_typo_pairs", _TYPO_SQL)
def text_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 token pairs via SymSpell deletion neighborhoods
    (operators/dedup.py typo_pairs) — the query-log / entity-name
    normalization primitive: a low-count token keyed next to a high-count
    one is a probable typo. The fixture vocabulary is typo-free, so every
    doc with doc_id % 7 == 0 gets a deterministic planted typo (its first
    token with the 2nd char deleted) appended — arithmetic the oracle
    reproduces — making the check verify REAL pairs (26 at sf0.01,
    including genuine neighborhood collisions like row~sow) rather than
    an empty set. Scale shape per the operator: deletion keys explode
    map-side over the DISTINCT vocabulary (not the corpus), the self-join
    shuffles (key, token) pairs, and `levenshtein == 1` verifies
    candidates only — never an all-pairs compare."""
    from ..functions import texts

    docs = table(spark, sf_dir, "documents")
    t1 = F.element_at(texts.tokens("text"), 1)
    typo = F.concat(
        F.expr("substring(t1, 1, 1)"), F.expr("substring(t1, 3, length(t1))")
    )
    base = docs.select("doc_id", "text", t1.alias("t1")).select(
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" "), typo)
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    from ..operators import dedup

    return dedup.typo_pairs(base)


# pinned logistic weights: exact multiples of 1/8 in [-6/8, 6/8]
_CLF_W = [((i * 7) % 13 - 6) / 8.0 for i in range(4)]

_CLF_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) / 1000 AS f1,
         CAST(len(regexp_extract_all(text, '{{BPE}}')) AS BIGINT) / 100.0 AS f2,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
           / 100.0 AS f3
  FROM documents),
z AS (SELECT doc_id,
             CAST({_CLF_W[0]!r} AS DOUBLE)
               + CAST({_CLF_W[1]!r} AS DOUBLE) * f1
               + CAST({_CLF_W[2]!r} AS DOUBLE) * f2
               + CAST({_CLF_W[3]!r} AS DOUBLE) * f3 AS z
      FROM f)
SELECT doc_id, round((1 / (1 + exp(-z))) * 1000000) / 1000000 AS score,
       (1 / (1 + exp(-z))) >= CAST(0.5 AS DOUBLE) AS keep
FROM z"""

_CLF_SQL = _CLF_SQL.replace("{BPE}", texts_BPE)


@query("text_quality_model_score", _CLF_SQL)
def text_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring inference pass — the fastText-style learned quality
    filter's RUNTIME shape (training is offline; serving is what runs
    over 100 TB): a pinned logistic model over cheap integer-derived
    features, linear part in Catalyst (weights are constant-folded
    literals — the 'broadcast the model' pattern at its smallest), the
    sigmoid in an Arrow kernel because numpy's exp == DuckDB's exp
    (both host libm) while Spark's JVM exp is not bit-identical
    (functions/texts.py pd_sigmoid). Zero shuffle: pure map-side
    scoring, exactly how a learned filter deploys."""
    from ..functions import texts

    docs = table(spark, sf_dir, "documents")
    f1 = F.col("n_chars").cast("double") / 1000
    f2 = texts.bpe_token_count("text").cast("long") / F.lit(100.0)
    f3 = F.size(texts.tokens("text")).cast("long") / F.lit(100.0)
    z = (
        F.lit(_CLF_W[0])
        + F.lit(_CLF_W[1]) * f1
        + F.lit(_CLF_W[2]) * f2
        + F.lit(_CLF_W[3]) * f3
    )
    s = texts.pd_sigmoid(z)
    return docs.select(
        "doc_id",
        (F.round(s * 1000000) / 1000000).alias("score"),
        (s >= 0.5).alias("keep"),
    )


_SCRUB_SQL = f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
pl AS (SELECT doc_id,
              [array_to_string(t[i * {_PASSAGE_TOKENS} + 1 : i * {_PASSAGE_TOKENS} + {_PASSAGE_TOKENS}], ' ')
               for i in range(0, CAST(ceil(len(t) / {_PASSAGE_TOKENS}) AS INT))] AS ps
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


# The APPLICATION of dedup_passage's measurement — rebuild each document with
# its cross-doc duplicated 8-token passages removed (the C4/CCNet span-scrub
# itself, not just its statistics).
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
            f"transform(slice(sequence(0, greatest(cast(ceil(size(t) / {_PASSAGE_TOKENS}) as int) - 1, 0)), "
            f"1, cast(ceil(size(t) / {_PASSAGE_TOKENS}) as int)), "
            f"i -> array_join(slice(t, i * {_PASSAGE_TOKENS} + 1, {_PASSAGE_TOKENS}), ' '))"
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


# --- deterministic negative sampling ------------------------------------------

_NEG_BUCKETS = 64

_NEG_PER_ANCHOR = 3


@query(
    "corpus_negative_pairs",
    f"""
WITH d AS (SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                      % {_NEG_BUCKETS} AS bucket,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM documents),
reps AS (SELECT bucket, doc_id AS rep_id
         FROM (SELECT bucket, doc_id,
                      row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
               FROM d)
         WHERE rn = 1),
a AS (SELECT doc_id, bucket, j
      FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS j))
SELECT a.doc_id AS doc_id, a.j AS j, reps.rep_id AS neg_id
FROM a JOIN reps ON (a.bucket + a.j) % {_NEG_BUCKETS} = reps.bucket
WHERE reps.rep_id != a.doc_id
""",
)
def corpus_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive pairs: every doc
    draws {_NEG_PER_ANCHOR} negatives by hopping to the next 3 buckets on
    a 64-bucket md5 hash ring and taking each bucket's canonical
    representative (min md5, doc_id tiebreak). Reproducible across runs /
    engines / partitionings (no rand()), and the scale shape is a
    BROADCAST join against a 64-row rep table — no per-anchor top-k sort,
    no cross join, unlike 'rank all candidates per anchor' sampling."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    d = docs.select(
        "doc_id",
        F.pmod(texts.md5int32(sid), F.lit(_NEG_BUCKETS)).alias("bucket"),
        texts.md5int60(sid).alias("h"),
    )
    rn = Window.partitionBy("bucket").orderBy("h", "doc_id")
    reps = (
        d.withColumn("_rn", F.row_number().over(rn))
        .where(F.col("_rn") == 1)
        .select(F.col("bucket").alias("rep_bucket"), F.col("doc_id").alias("rep_id"))
    )
    anchors = d.select(
        "doc_id",
        "bucket",
        F.explode(F.array(*[F.lit(j) for j in range(1, _NEG_PER_ANCHOR + 1)])).alias("j"),
    )
    return (
        anchors.join(
            F.broadcast(reps),
            F.pmod(F.col("bucket") + F.col("j"), F.lit(_NEG_BUCKETS))
            == F.col("rep_bucket"),
        )
        .where(F.col("rep_id") != F.col("doc_id"))
        .select("doc_id", "j", F.col("rep_id").alias("neg_id"))
    )


# Gini coefficient of document lengths per language — the corpus-balance
# inequality report (a handful of giant documents dominating a language's token
# budget is a curation smell).
@query(
    "corpus_length_gini",
    """
WITH r AS (SELECT lang, n_chars,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY n_chars, doc_id) AS i
           FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(2 * sum(i * n_chars) - (count(*) + 1) * sum(n_chars) AS DOUBLE)
         / (count(*) * sum(n_chars)) AS gini
FROM r GROUP BY lang
""",
)
def corpus_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document lengths per language via the exact
    rank formula G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)) over
    ascending-sorted lengths — every term integral, one final division.
    Within-tie ordering cannot change the statistic (equal x across a tie
    block contributes x * sum(ranks) either way), but the (n_chars,
    doc_id) sort is pinned anyway. The rank window partitions by lang;
    the 100 TB variant of per-GROUP inequality would bucket the sort
    exactly like events_kmv_distinct's salted two-level rank."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = docs.select("lang", "n_chars", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    sx = F.sum("n_chars")
    six = F.sum(F.col("i") * F.col("n_chars"))
    return r.groupBy("lang").agg(
        n.alias("n_docs"),
        sx.cast("long").alias("total_chars"),
        ((2 * six - (n + 1) * sx).cast("double") / (n * sx)).alias("gini"),
    )


_VOWEL_RE = "[aeiouy]+"

_SENT_RE = "[.!?]"


# Flesch reading-ease per document from portable regexp counts (sentences,
# words, vowel-group syllable proxy) — the classic quality-filter feature next
# to the Gopher rules.
#
# Flesch is a single final expression over integer inputs, additionally rounded
# at 4 decimals by the shared round(x*10^k)/10^k convention because its
# constant multiplies are chained.
@query(
    "text_readability",
    f"""
WITH m AS (
  SELECT doc_id,
         len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
         greatest(1, len(regexp_extract_all(text, '{_SENT_RE}'))) AS n_sentences,
         len(regexp_extract_all(lower(text), '{_VOWEL_RE}')) AS n_syllables
  FROM documents WHERE trim(text) != '')
SELECT doc_id, n_words, n_sentences, n_syllables,
       round((CAST(206.835 AS DOUBLE)
              - CAST(1.015 AS DOUBLE) * n_words / n_sentences
              - CAST(84.6 AS DOUBLE) * n_syllables / n_words) * 10000) / 10000
         AS flesch
FROM m WHERE n_words > 0
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from engine-portable counts:
    whitespace words, [.!?] sentence enders (min 1), and vowel-group
    syllable proxy — the classic readability feature for quality
    filtering (very negative = run-on garbage, ~60-80 = plain prose).
    Pure map-side regexp work, no shuffle at all; constants CAST to
    DOUBLE and the chained expression rounded at 4 decimals per the
    shared convention."""
    docs = table(spark, sf_dir, "documents").where(F.trim("text") != "")
    n_words = texts.token_count("text")
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit(_SENT_RE), 0))
    )
    n_syl = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_VOWEL_RE), 0))
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("n_words") / F.col("n_sentences")
        - F.lit(84.6) * F.col("n_syllables") / F.col("n_words")
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.round(flesch * 10000) / 10000).alias("flesch"),
    )


_SQL_NORM2 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "[CAST(floor(CAST(x AS DOUBLE) * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " * CAST(floor(CAST(x AS DOUBLE) * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " for x in embedding]), (s, x) -> s + x)"
)


@query(
    "corpus_length_vs_norm_corr",
    f"""
WITH j AS (
  SELECT d.n_chars AS x, {_SQL_NORM2} AS y
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
m AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM j)
SELECT CAST(n AS BIGINT) AS n_rows,
       round((CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) / 1000000
         AS pearson_r
FROM m
""",
)
def corpus_length_vs_norm_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Pearson correlation between document length and the
    grid-quantized embedding norm^2 over the documents-embeddings join —
    the 'does my embedding magnitude leak document length' diagnostic
    (strong correlation means cosine vs dot-product choices matter).
    Every moment (sum x, y, x^2, y^2, xy) is integral, carried in
    DECIMAL(38,0) where squares exceed BIGINT; the Pearson formula is
    ONE final double expression rounded at 6 decimals. The shape
    generalizes: any two integral features get an oracle-checkable
    correlation this way."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = table(spark, sf_dir, "embeddings")
    qn = F.aggregate(
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * 1000 + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda s, v: s + v * v,
    )
    j = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), qn.alias("y")), "doc_id"
    ).select(F.col("n_chars").alias("x"), "y")
    dec = "decimal(38,0)"
    m = j.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx).cast("double")
        * (n * F.col("syy") - sy * sy).cast("double")
    )
    return m.select(
        n.cast("long").alias("n_rows"),
        (F.round((num / den) * 1000000) / 1000000).alias("pearson_r"),
    )


_DF_CAP = 32  # boilerplate guard: keys shared by more docs are skipped


# The source-pair duplication matrix at the shared-8-token-passage grain — how
# many doc pairs share exact boilerplate, within vs across sources (the "source
# B republishes source A" detector; cross-source sharing means double-counted
# provenance and weight inflation in mixtures).
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
            f"i -> array_join(slice(t, i * {{p}} + 1, {{p}}), ' '))".format(p=_PASSAGE_TOKENS)
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


_TOPK = 64


# Corpus_source_tv_distance: total-variation distance between each source's
# unigram distribution and the whole-corpus distribution, over the global
# top-64 vocabulary plus an OTHER bucket. TV = 1/2 * sum_i |p_i - q_i| is the
# one divergence that needs NO logarithms, so it can be computed EXACTLY in
# integers: |c_i/M - g_i/N| = |c_i*N - g_i*M| / (M*N) puts every term over the
# common denominator M*N — integer numerators sum exactly, and the single final
# division is the only float op. (KL/JS would drag in log, whose JVM-vs-libm
# last bits are exactly what this registry avoids.) The report ranks sources by
# how far their vocabulary drifts from the corpus mixture — the
# distribution-shift gate before a source's weight is raised.
@query(
    "corpus_source_tv_distance",
    f"""
WITH tok AS (
  SELECT source, unnest({sql_toks('text')}) AS term FROM documents),
g AS (SELECT term, count(*) AS gc FROM tok GROUP BY term),
vocab AS (SELECT term, gc FROM g ORDER BY gc DESC, term LIMIT {_TOPK}),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
m AS (SELECT source, CAST(count(*) AS BIGINT) AS m_total FROM tok GROUP BY source),
sv AS (SELECT t.source AS source, v.term AS term, count(*) AS sc
       FROM tok t JOIN vocab v ON t.term = v.term
       GROUP BY t.source, v.term),
grid AS (
  SELECT m.source AS source, v.term AS term, v.gc AS gc,
         COALESCE(sv.sc, 0) AS sc, m.m_total AS m_total
  FROM m CROSS JOIN vocab v
  LEFT JOIN sv ON sv.source = m.source AND sv.term = v.term),
terms AS (
  SELECT source, m_total,
         CAST(sum(abs(sc * n.total - gc * m_total)) AS BIGINT) AS vnum,
         CAST(sum(sc) AS BIGINT) AS sc_vocab,
         CAST(sum(gc) AS BIGINT) AS gc_vocab
  FROM grid CROSS JOIN n GROUP BY source, m_total),
o AS (
  SELECT t.source AS source, t.m_total AS m_total,
         t.vnum + abs((t.m_total - t.sc_vocab) * n.total
                      - (n.total - t.gc_vocab) * t.m_total) AS num,
         n.total AS total
  FROM terms t CROSS JOIN n)
SELECT source, m_total AS n_tokens,
       CAST(num AS DOUBLE) / (2 * CAST(m_total AS DOUBLE) * total) AS tv_distance
FROM o
""",
)
def corpus_source_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus-wide unigram
    distribution (top-{_TOPK} vocabulary + OTHER bucket). All mass terms
    are integer counts over the common denominator M*N, so the summed
    numerator is exact and order-free; the one division at the end is
    the only float op — a distribution divergence with NO logarithm and
    therefore no cross-engine libm risk. Plan: one tokenize scan feeds
    the global and per-source counts; the {_TOPK}-row vocabulary
    broadcasts into the sparse per-source grid."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(texts.tokens("text")).alias("term"))
    g = tok.groupBy("term").agg(F.count(F.lit(1)).alias("gc"))
    vocab = g.orderBy(F.col("gc").desc(), "term").limit(_TOPK)
    n = tok.agg(F.count(F.lit(1)).cast("long").alias("total"))
    m = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("m_total"))
    sv = (
        tok.join(F.broadcast(vocab.select("term")), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("sc"))
    )
    grid = (
        m.crossJoin(F.broadcast(vocab))
        .join(sv, ["source", "term"], "left")
        .select(
            "source",
            "m_total",
            "term",
            "gc",
            F.coalesce("sc", F.lit(0)).alias("sc"),
        )
    )
    terms = (
        grid.crossJoin(F.broadcast(n))
        .groupBy("source", "m_total")
        .agg(
            F.sum(F.abs(F.col("sc") * F.col("total") - F.col("gc") * F.col("m_total")))
            .cast("long")
            .alias("vnum"),
            F.sum("sc").cast("long").alias("sc_vocab"),
            F.sum("gc").cast("long").alias("gc_vocab"),
        )
    )
    o = terms.crossJoin(F.broadcast(n)).select(
        "source",
        "m_total",
        (
            F.col("vnum")
            + F.abs(
                (F.col("m_total") - F.col("sc_vocab")) * F.col("total")
                - (F.col("total") - F.col("gc_vocab")) * F.col("m_total")
            )
        ).alias("num"),
        "total",
    )
    return o.select(
        "source",
        F.col("m_total").alias("n_tokens"),
        (
            F.col("num").cast("double")
            / (2 * F.col("m_total").cast("double") * F.col("total"))
        ).alias("tv_distance"),
    )


_SEP = ""  # unit separator: never appears in tokenized text

_CLAMP = 64  # max token chars considered (matches text_bpe_pair_freqs)

# --- shared fragments: unit-separated symbol strings + winning pair ----------

_SQL_SYMS = (
    f"rtrim(regexp_replace(substr(tok, 1, {_CLAMP}), '(.)', '\\1{_SEP}', 'g'), '{_SEP}')"
)

_BPE_MERGE_SQL = f"""
WITH toks AS (
  SELECT {sql_toks('text')} AS t FROM documents),
wc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS w
  FROM (SELECT unnest(t) AS tok FROM toks WHERE len(t) > 0)
  WHERE length(tok) > 0 GROUP BY tok),
p0 AS (
  SELECT substr(tok, CAST(r.range AS INT) + 1, 2) AS pair, w
  FROM wc CROSS JOIN range(0, {_CLAMP - 1}) r
  WHERE CAST(r.range AS INT) < length(tok) - 1),
win AS (
  SELECT pair, substr(pair, 1, 1) || '{_SEP}' || substr(pair, 2, 1) AS seppair
  FROM (SELECT pair, CAST(sum(w) AS BIGINT) AS n FROM p0 GROUP BY pair)
  ORDER BY n DESC, pair LIMIT 1),
merged AS (
  SELECT replace({_SQL_SYMS}, win.seppair, win.pair) AS m, w,
         win.pair AS merged_pair
  FROM wc CROSS JOIN win),
syms AS (
  SELECT merged_pair, string_split(m, '{_SEP}') AS a, w FROM merged),
p1 AS (
  SELECT merged_pair,
         a[CAST(r.range AS INT) + 1] || '+' || a[CAST(r.range AS INT) + 2] AS sympair,
         w
  FROM syms CROSS JOIN range(0, {_CLAMP - 1}) r
  WHERE CAST(r.range AS INT) < len(a) - 1)
SELECT merged_pair, sympair, CAST(sum(w) AS BIGINT) AS n
FROM p1 GROUP BY merged_pair, sympair
ORDER BY n DESC, sympair LIMIT 10
"""


# ONE full step of BPE training — find the winning adjacent-symbol pair, apply
# the merge greedily left-to-right across the corpus, re-count symbol pairs.
# The merge itself runs as a plain `replace()` over a unit-separated symbol
# string (both engines replace non-overlapping occurrences left-to-right, which
# IS the BPE greedy rule), so the whole trainer step is oracle-checkable;
# iterating it is the full tokenizer induction.
@query("text_bpe_merge_step", _BPE_MERGE_SQL)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One complete BPE training step, corpus-wide: (1) count adjacent
    character pairs (the text_bpe_pair_freqs statistic), (2) pick the
    winner with the deterministic (count desc, pair asc) tie-break,
    (3) MERGE it greedily left-to-right in every token, (4) re-count
    adjacent SYMBOL pairs and report the new top-10 (the next merge
    candidates, now including 2-char symbols).

    The merge is `replace()` over a unit-separated symbol string —
    replace scans left-to-right over non-overlapping occurrences in both
    engines, which is exactly BPE's greedy application order (verified
    on the self-overlapping 'aaa' + merge 'aa' case in tests).

    Scale shape — the Sennrich BPE-trainer layout: the corpus reduces
    ONCE to the word-frequency table (one token shuffle), and every
    expensive step (pair explode, winner selection, merge, recount) runs
    at the DISTINCT-TOKEN grain weighted by the counts — bounded by the
    vocabulary, not the corpus (the naive per-occurrence formulation
    measured 367 s at 1M docs; this one is tokenize + one count). The
    1-row winner broadcasts into a map-side replace over the vocab.
    Iterating this step IS the BPE trainer; one step is the
    hash-checkable unit."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(texts.tokens("text")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    p0 = wc.select(
        F.explode(
            F.expr(
                f"transform(slice(sequence(0, greatest(length(tok) - 2, 0)), "
                f"1, greatest(least(length(tok) - 1, {_CLAMP - 1}), 0)), "
                "i -> substring(tok, i + 1, 2))"
            )
        ).alias("pair"),
        "w",
    )
    win = (
        p0.groupBy("pair")
        .agg(F.sum("w").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(1)
        .select(
            F.col("pair").alias("merged_pair"),
            F.concat(
                F.substring("pair", 1, 1), F.lit(_SEP), F.substring("pair", 2, 1)
            ).alias("seppair"),
        )
    )
    merged = wc.crossJoin(F.broadcast(win)).select(
        "merged_pair",
        "w",
        F.expr(
            f"replace(rtrim('{_SEP}', regexp_replace(substring(tok, 1, {_CLAMP}),"
            f" '(.)', '$1{_SEP}')), seppair, merged_pair)"
        ).alias("m"),
    )
    syms = merged.select("merged_pair", "w", F.split("m", _SEP).alias("a"))
    p1 = syms.select(
        "merged_pair",
        "w",
        F.explode(
            F.expr(
                f"transform(slice(sequence(0, greatest(size(a) - 2, 0)), "
                f"1, greatest(least(size(a) - 1, {_CLAMP - 1}), 0)), "
                "i -> concat(a[i], '+', a[i + 1]))"
            )
        ).alias("sympair"),
    )
    return (
        p1.groupBy("merged_pair", "sympair")
        .agg(F.sum("w").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "sympair")
        .limit(10)
    )


# ============================ vocab coverage curve ===========================

_COVERAGE_KS = [4, 8, 16]


# What fraction of token OCCURRENCES the top-K vocabulary covers, at K = 4/8/16
# — the vocabulary-size/OOV trade curve every tokenizer budget decision reads.
# Pure integer counts; ranking at the vocabulary grain.
@query(
    "corpus_ngram_coverage",
    f"""
WITH tok AS (
  SELECT unnest({sql_toks('text')}) AS term FROM documents
  WHERE trim(text) <> ''),
g AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY term),
r AS (SELECT term, n,
             row_number() OVER (ORDER BY n DESC, term) AS rnk
      FROM g),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
SELECT k, CAST(sum(CASE WHEN rnk <= k THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN rnk <= k THEN n ELSE 0 END) AS BIGINT) AS covered_tokens,
       max(total) AS total_tokens,
       round(CAST(sum(CASE WHEN rnk <= k THEN n ELSE 0 END) AS DOUBLE)
             / max(total) * 1000000) / 1000000 AS coverage
FROM r CROSS JOIN t CROSS JOIN (VALUES ({'), ('.join(str(k) for k in _COVERAGE_KS)})) AS ks(k)
GROUP BY k
""",
)
def corpus_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of the top-K vocabulary at K =
    {_COVERAGE_KS}: the curve that sizes a tokenizer's vocab budget (the
    uncovered tail is the OOV/byte-fallback rate). One tokenize scan,
    ranking + cumulative mass at the VOCABULARY grain, the 3-row K
    relation broadcast. Integer counts with one final division; ties
    rank (count desc, term asc) on both engines. r9: the vocabulary
    rank uses ranking.global_ranks (partition-offset, no
    single-partition window) — a 100 TB corpus's distinct-term relation
    is itself large enough to kill a global sort task."""
    from ..operators import ranking

    docs = table(spark, sf_dir, "documents").where(F.trim("text") != "")
    tok = docs.select(F.explode(texts.tokens("text")).alias("term"))
    g = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r, _ = ranking.global_ranks(g, F.col("n").desc(), "term", rank_col="rnk")
    t = g.agg(F.sum("n").cast("long").alias("total"))
    ks = local_table(spark, [(k,) for k in _COVERAGE_KS], "k int")
    return (
        r.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("vocab_size"),
            F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.max("total").alias("total_tokens"),
            (
                F.round(
                    F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("n")).otherwise(0))
                    .cast("double")
                    / F.max("total")
                    * 1000000
                )
                / 1000000
            ).alias("coverage"),
        )
    )


# ============================ Heaps vocabulary growth ========================

_VOCAB_CHECKPOINTS = [1, 5, 25, 100]  # percent of docs, by doc_id order


@query(
    "corpus_vocab_first_seen",
    f"""
WITH d AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
cp AS (
  SELECT pct, CAST(greatest((pct * n_docs + 99) // 100, 1) AS BIGINT) AS n_prefix
  FROM (VALUES ({'), ('.join(str(p) for p in _VOCAB_CHECKPOINTS)})) AS p(pct)
  CROSS JOIN n),
fs AS (
  SELECT term, CAST(min(rn) AS BIGINT) AS first_rn
  FROM (SELECT d.rn AS rn, unnest({sql_toks('text')}) AS term
        FROM documents JOIN d USING (doc_id)
        WHERE trim(text) <> '')
  GROUP BY term)
SELECT pct, n_prefix AS n_docs,
       CAST(sum(CASE WHEN first_rn <= n_prefix THEN 1 ELSE 0 END) AS BIGINT)
         AS vocab_size
FROM fs CROSS JOIN cp
GROUP BY pct, n_prefix
""",
)
def corpus_vocab_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: distinct terms first seen within the
    first {_VOCAB_CHECKPOINTS}% of documents (id order, ceil prefix
    sizes). doc_id is unique, so "first seen within the n-th prefix"
    reduces to min(doc_id) per term <= the n-th smallest doc_id — the 4
    checkpoint THRESHOLDS are order statistics: the rows of
    ranking.global_ranks over doc_id whose rank is a prefix size,
    collected at build time (the gated exact ranking: no single task
    sorts the corpus once it is past the window gate), not a doc-grain
    global sort in the returned plan. Each term then costs one
    min(doc_id) aggregate off a single tokenize scan; the curve itself
    is a vocabulary-grain rollup against a broadcast 4-row threshold
    relation. A flattening curve says the corpus has stopped
    contributing new vocabulary — the signal mixture designers read
    before adding more of a source."""
    from ..operators import ranking

    docs = table(spark, sf_dir, "documents")
    ranked, n_docs = ranking.global_ranks(docs.select("doc_id"), "doc_id")
    prefixes = {
        p: max((p * n_docs + 99) // 100, 1) for p in _VOCAB_CHECKPOINTS
    }
    by_rank = {
        r["rank"]: r["doc_id"]
        for r in ranked.where(F.col("rank").isin(sorted(set(prefixes.values())))).collect()
    }
    # empty corpus: no ranked rows, threshold 0 (fs is empty anyway)
    thresholds = {p: by_rank.get(prefixes[p], 0) for p in _VOCAB_CHECKPOINTS}
    cp = F.broadcast(
        local_table(
            spark,
            [(p, prefixes[p], thresholds[p]) for p in _VOCAB_CHECKPOINTS],
            "pct int, n_prefix long, threshold long",
        )
    )
    fs = (
        docs.where(F.trim("text") != "")
        .select("doc_id", F.explode(texts.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").cast("long").alias("first_doc"))
    )
    return (
        fs.crossJoin(cp)
        .groupBy("pct", F.col("n_prefix").alias("n_docs"))
        .agg(
            F.sum(F.when(F.col("first_doc") <= F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("vocab_size")
        )
    )


# ========================= shingle DF boilerplate profile ====================


@query(
    "corpus_shingle_df_profile",
    f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM toks),
df AS (
  SELECT h, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest([{sql_md5i('x')} for x in s]) AS h
        FROM sh WHERE len(s) > 0)
  GROUP BY h)
SELECT CAST(length(bin(df)) AS BIGINT) AS df_bucket,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(min(df) AS BIGINT) AS min_df,
       CAST(max(df) AS BIGINT) AS max_df
FROM df GROUP BY df_bucket
""",
)
def corpus_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of the dedup family's 2-token
    shingles, in exact power-of-two bins (length(bin(df))): the
    boilerplate evidence behind every df-cap — a key shared by 2^k docs
    fans out 4^k candidate pairs, so the mass sitting in high buckets is
    exactly the quadratic risk the caps (dedup_ngram_jaccard's
    stop-shingle cap, corpus_cross_source_dupes' df-cap) remove.

    Runs over the SAME md5 shingle-hash relation minhash uses
    (texts.pd_shingle_hashes, the Arrow kernel — the JVM string-shingle
    expression measured 123 s at 100k docs, the kernel seconds; the
    hashes are already per-doc-distinct, so df is a plain count). One
    explode + one hash-keyed count shuffle + a <=40-bucket rollup."""
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", texts.pd_shingle_hashes(texts.tokens("text")).alias("hs")
    ).where(F.size("hs") > 0)
    df = (
        sh.select(F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    return df.groupBy(F.length(F.bin("df")).cast("long").alias("df_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.min("df").cast("long").alias("min_df"),
        F.max("df").cast("long").alias("max_df"),
    )


# ===================== lang x source contingency chi2 ========================


# The (lang x source) contingency table with each cell's Pearson chi-square
# contribution. Expected counts are rational (row_total * col_total /
# grand_total); the contribution is computed from INTEGER cross-products —
# (n*obs - rt*ct)^2 / (n * rt * ct) — so the statistic is exact-to-rounding on
# both engines. The sum of contributions is the chi-square statistic a
# distribution-shift monitor thresholds.
@query(
    "corpus_lang_source_contingency",
    """
WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
  FROM documents GROUP BY lang, source),
r AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS rt FROM c GROUP BY lang),
k AS (SELECT source, CAST(sum(obs) AS BIGINT) AS ct FROM c GROUP BY source),
t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c),
grid AS (
  SELECT r.lang AS lang, k.source AS source, rt, ct, n,
         COALESCE(obs, 0) AS obs
  FROM r CROSS JOIN k CROSS JOIN t
  LEFT JOIN c ON c.lang = r.lang AND c.source = k.source)
SELECT lang, source, obs,
       round(CAST(rt * ct AS DOUBLE) / n * 1000000) / 1000000 AS expected,
       round(CAST((n * obs - rt * ct) AS DOUBLE)
             * (n * obs - rt * ct)
             / (CAST(n AS DOUBLE) * rt * ct) * 1000000) / 1000000
         AS chi2_term
FROM grid
""",
)
def corpus_lang_source_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lang x source) contingency grid with expected counts and each
    cell's Pearson chi-square contribution — summing chi2_term gives the
    independence statistic a corpus-composition monitor thresholds (a
    source suddenly skewing toward one language shows up as that cell's
    term exploding). All counts integral; each cell's term is computed
    from the integer cross-product (n*obs - rt*ct) so the only float is
    the final scaled division. Marginals are tiny broadcast relations;
    the fact table aggregates once."""
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("obs"))
    r = c.groupBy("lang").agg(F.sum("obs").cast("long").alias("rt"))
    kk = c.groupBy("source").agg(F.sum("obs").cast("long").alias("ct"))
    t = c.agg(F.sum("obs").cast("long").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(t))
        .join(c, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "rt",
            "ct",
            "n",
            F.coalesce("obs", F.lit(0)).alias("obs"),
        )
    )
    diff = F.col("n") * F.col("obs") - F.col("rt") * F.col("ct")
    return grid.select(
        "lang",
        "source",
        "obs",
        (
            F.round((F.col("rt") * F.col("ct")).cast("double") / F.col("n") * 1000000)
            / 1000000
        ).alias("expected"),
        (
            F.round(
                diff.cast("double")
                * diff
                / (F.col("n").cast("double") * F.col("rt") * F.col("ct"))
                * 1000000
            )
            / 1000000
        ).alias("chi2_term"),
    )


# ======================= packing efficiency curve ============================

_PACK_LENGTHS = [512, 1024, 2048, 4096]


# Padding waste at sequence lengths 512/1024/2048/4096 from ONE doc-length
# aggregate — the context-length budget table (corpus_pack_bins reports one
# configuration; this sweeps the whole decision). Pure integer arithmetic
# (ceil-division in BIGINT).
@query(
    "corpus_packing_efficiency_curve",
    f"""
WITH d AS (
  SELECT CAST(len({sql_toks('text')}) AS BIGINT) AS n_tok
  FROM documents WHERE trim(text) <> ''),
g AS (
  SELECT L, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(((n_tok + L - 1) // L) * L - n_tok) AS BIGINT) AS padding_tokens,
         CAST(sum((n_tok + L - 1) // L) AS BIGINT) AS n_sequences
  FROM d CROSS JOIN (VALUES ({'), ('.join(str(k) for k in _PACK_LENGTHS)})) AS ls(L)
  GROUP BY L)
SELECT CAST(L AS BIGINT) AS seq_len, n_docs, total_tokens, n_sequences,
       padding_tokens,
       round(CAST(padding_tokens AS DOUBLE)
             / (total_tokens + padding_tokens) * 1000000) / 1000000
         AS waste_fraction
FROM g
""",
)
def corpus_packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of document-boundary packing at sequence lengths
    {_PACK_LENGTHS}: one token-length scan, then each candidate length
    is pure integer ceil-division over the broadcast 4-row length
    relation — the table that sizes a training context budget (longer
    sequences waste more padding per doc but fewer boundaries; the
    crossover is corpus-specific and this reads it off directly).
    Compare corpus_pack_bins (one configuration's bin report) — this is
    the sweep that picks the configuration."""
    docs = table(spark, sf_dir, "documents").where(F.trim("text") != "")
    from ..functions import texts

    d = docs.select(F.size(texts.tokens("text")).cast("long").alias("n_tok"))
    ls = local_table(spark, [(k,) for k in _PACK_LENGTHS], "L int")
    g = (
        d.crossJoin(F.broadcast(ls))
        .groupBy("L")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(
                F.expr("((n_tok + L - 1) div L) * L - n_tok")
            )
            .cast("long")
            .alias("padding_tokens"),
            F.sum(F.expr("(n_tok + L - 1) div L")).cast("long").alias("n_sequences"),
        )
    )
    return g.select(
        F.col("L").cast("long").alias("seq_len"),
        "n_docs",
        "total_tokens",
        "n_sequences",
        "padding_tokens",
        (
            F.round(
                F.col("padding_tokens").cast("double")
                / (F.col("total_tokens") + F.col("padding_tokens"))
                * 1000000
            )
            / 1000000
        ).alias("waste_fraction"),
    )


# ==================== quality percentiles by source ==========================


# P25/p50/p75 of the shared heuristic quality score per source — the
# mixture-balance view behind per-source quality thresholds (a global cutoff
# deletes whole sources when their quality distributions differ; this report
# shows by how much).
@query(
    "corpus_quality_percentiles_by_source",
    f"""
WITH q AS (
  SELECT d.source AS source, qq.quality AS quality
  FROM documents d JOIN {sql_quality()} qq USING (doc_id))
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       quantile_cont(quality, 0.25) AS p25,
       quantile_cont(quality, 0.5) AS p50,
       quantile_cont(quality, 0.75) AS p75
FROM q GROUP BY source
""",
)
def corpus_quality_percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score quartiles per source (the shared heuristic score,
    rounded at 4 decimals like every quality query): the view that
    justifies per-source thresholds — if web p50 sits where book p25
    does, a single global cutoff silently deletes most of one source.
    One quality pass (pure Catalyst signals) + |sources| percentile
    groups; the dyadic-fraction interpolation over 4dp-stable doubles
    is the established cross-engine pairing."""
    docs = table(spark, sf_dir, "documents")
    q = docs.select(
        "source",
        (F.round(texts.quality_score("text") * 10000) / 10000).alias("quality"),
    )
    return q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("percentile(quality, 0.25)").alias("p25"),
        F.expr("percentile(quality, 0.5)").alias("p50"),
        F.expr("percentile(quality, 0.75)").alias("p75"),
    )


# Shared non-empty-text predicate: Spark's split and DuckDB's
# string_split_regex both turn '' into [''], which would count 1 token —
# filter identically on both engines instead of special-casing.
_NONEMPTY = "trim(lower(text)) <> ''"


def _toks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .where(F.expr(_NONEMPTY))
        .select("doc_id", "source", texts.tokens("text").alias("t"))
    )


# ============================ type-token ratio ===============================


# Per-source distribution of the type-token ratio (distinct tokens / tokens) —
# the repetition screen that catches keyword-stuffed and template docs.
#
# Like every Gopher/C4-style gate here, all ratios are integer
# parts-per-million (BIGINT floor division), so no cross-group float
# accumulation exists anywhere; percentiles run on the integer ppm values
# (Spark `percentile` == DuckDB `quantile_cont` on integer inputs).
@query(
    "corpus_type_token_ratio",
    f"""
WITH t AS (
  SELECT doc_id, source, {sql_toks('text')} AS t
  FROM documents WHERE {_NONEMPTY}),
r AS (
  SELECT source,
         CAST(len(list_distinct(t)) * 1000000 AS BIGINT) // len(t) AS ttr_ppm
  FROM t)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       quantile_cont(ttr_ppm, 0.25) AS p25_ttr_ppm,
       quantile_cont(ttr_ppm, 0.5) AS p50_ttr_ppm,
       quantile_cont(ttr_ppm, 0.75) AS p75_ttr_ppm,
       CAST(count(*) FILTER (WHERE ttr_ppm < 300000) AS BIGINT) AS n_low_ttr
FROM r GROUP BY source
""",
)
def corpus_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token-ratio profile (distinct/total tokens, ppm):
    quartiles plus the count under a 30% repetition threshold — the
    filter-calibration view for the TTR screen. Map-side array math per
    doc, one |sources|-row percentile rollup; integers end to end."""
    r = _toks_df(spark, sf_dir).select(
        "source",
        (F.size(F.array_distinct("t")) * F.lit(1000000))
        .cast("long")
        .alias("num"),
        F.size("t").alias("den"),
    ).select("source", F.expr("num div den").alias("ttr_ppm"))
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("percentile(ttr_ppm, 0.25)").alias("p25_ttr_ppm"),
        F.expr("percentile(ttr_ppm, 0.5)").alias("p50_ttr_ppm"),
        F.expr("percentile(ttr_ppm, 0.75)").alias("p75_ttr_ppm"),
        F.count(F.when(F.col("ttr_ppm") < 300000, 1)).cast("long").alias("n_low_ttr"),
    )


# ============================ top-bigram share ===============================


@query(
    "corpus_top_bigram_share",
    f"""
WITH t AS (
  SELECT doc_id, source, {sql_toks('text')} AS t
  FROM documents WHERE {_NONEMPTY}),
b AS (
  SELECT doc_id, source, len(t) AS n,
         unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS gram
  FROM t WHERE len(t) >= 2),
c AS (SELECT doc_id, source, n, gram, count(*) AS cnt
      FROM b GROUP BY doc_id, source, n, gram),
m AS (SELECT doc_id, source,
             CAST(max(cnt) * 1000000 AS BIGINT) // (n - 1) AS share_ppm
      FROM c GROUP BY doc_id, source, n)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       quantile_cont(share_ppm, 0.5) AS p50_share_ppm,
       CAST(count(*) FILTER (WHERE share_ppm >= 200000) AS BIGINT)
         AS n_repetitive
FROM m GROUP BY source
""",
)
def corpus_top_bigram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-2-gram rule: per doc, the fraction of its bigram slots
    covered by the single most frequent bigram (ppm); per source, the
    median and the count at/over the 20% repetition flag. The bigram
    explode is doc-bounded fan-out (n-1 rows per doc) and the count/max
    chain aggregates at (doc, gram) then doc grain — both partial-agg
    friendly; nothing global beyond the |sources| rollup."""
    t = _toks_df(spark, sf_dir).where(F.size("t") >= 2)
    b = t.select(
        "doc_id",
        "source",
        F.size("t").alias("n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(" ", F.slice("t", i, 2)),
            )
        ).alias("gram"),
    )
    c = b.groupBy("doc_id", "source", "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    m = c.groupBy("doc_id", "source", "n").agg(F.max("cnt").alias("max_cnt")).select(
        "source",
        F.expr("(max_cnt * 1000000) div (n - 1)").cast("long").alias("share_ppm"),
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("percentile(share_ppm, 0.5)").alias("p50_share_ppm"),
        F.count(F.when(F.col("share_ppm") >= 200000, 1))
        .cast("long")
        .alias("n_repetitive"),
    )


# ============================ token-count gate ===============================

_MIN_TOKENS, _MAX_TOKENS = 10, 60  # fixture-scaled Gopher length window


# Per-source pass rates of the token-count window rule (docs too short to carry
# signal / long-tail outliers).
@query(
    "corpus_token_count_gate",
    f"""
WITH t AS (
  SELECT source, len({sql_toks('text')}) AS n
  FROM documents WHERE {_NONEMPTY})
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE n < {_MIN_TOKENS}) AS BIGINT) AS n_too_short,
       CAST(count(*) FILTER (WHERE n > {_MAX_TOKENS}) AS BIGINT) AS n_too_long,
       CAST(count(*) FILTER (WHERE n BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS})
            * 1000000 AS BIGINT) // count(*) AS pass_ppm
FROM t GROUP BY source
""",
)
def corpus_token_count_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count window rule (the first Gopher gate): per source, docs
    under/over the [10, 60] fixture-scaled window and the integer ppm
    pass rate. One map-side token count + a |sources|-row rollup."""
    t = _toks_df(spark, sf_dir).select("source", F.size("t").alias("n"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("n") < _MIN_TOKENS, 1)).cast("long").alias("n_too_short"),
        F.count(F.when(F.col("n") > _MAX_TOKENS, 1)).cast("long").alias("n_too_long"),
        F.expr(
            f"(count(CASE WHEN n BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS} THEN 1 END)"
            " * 1000000) div count(*)"
        )
        .cast("long")
        .alias("pass_ppm"),
    )


# ========================== repeated-token runs ==============================


# Histogram of each doc's longest immediate token repeat run ("batch batch
# batch") — a pure expression-level fold, no shuffle beyond the histogram
# rollup.
@query(
    "corpus_repeated_token_runs",
    f"""
WITH t AS (
  SELECT {sql_toks('text')} AS t
  FROM documents WHERE {_NONEMPTY}),
b AS (
  -- break positions: 1-based indices where a new run starts (i = 1 or
  -- token differs from its predecessor; t[0] is NULL in DuckDB's 1-based
  -- indexing, so IS DISTINCT FROM handles the first position)
  SELECT t, [i for i in range(1, len(t) + 1) if t[i] IS DISTINCT FROM t[i-1]] AS bp
  FROM t),
r AS (
  SELECT CAST(list_max(
           [coalesce(bp[j+1], len(t) + 1) - bp[j] for j in range(1, len(bp) + 1)]
         ) AS BIGINT) AS max_run
  FROM b)
SELECT CAST(max_run AS BIGINT) AS max_run, CAST(count(*) AS BIGINT) AS n_docs
FROM r GROUP BY max_run
""",
)
def corpus_repeated_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of each doc's longest IMMEDIATE token repeat run — the
    stutter/template screen ("batch batch batch" -> run 3). Run lengths
    come from the BREAK-POSITIONS formulation (indices where the token
    differs from its predecessor; run = distance to the next break), all
    array comprehensions/codegen — deliberately NOT a struct fold:
    DuckDB 1.0's list_reduce miscomputes struct lambdas whose fields
    share a subexpression (measured best=4 on a run of 3), so the twin
    avoids stateful folds entirely. Map-side per doc; the only shuffle
    is the <=max-run-row histogram."""
    t = _toks_df(spark, sf_dir)
    # null-safe inequality against the predecessor: F.get is 0-based and
    # returns NULL out of range, so position 1 (predecessor NULL) breaks.
    b = t.select(
        "t",
        F.filter(
            F.sequence(F.lit(1), F.size("t")),
            lambda i: ~(F.get("t", i - 1).eqNullSafe(F.get("t", i - 2))),
        ).alias("bp"),
    )
    r = b.select(
        F.array_max(
            F.transform(
                F.sequence(F.lit(1), F.size("bp")),
                lambda j: F.coalesce(F.get("bp", j), F.size("t") + 1)
                - F.element_at("bp", j),
            )
        )
        .cast("long")
        .alias("max_run")
    )
    return r.groupBy("max_run").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


# ========================= sqrt sampling weights =============================


# Temperature-scaled (alpha = 0.5) source sampling weights — the multinomial
# upsampling math every multi-source pretraining mix runs (rare sources
# upweighted, dominant ones damped). alpha = 0.5 deliberately: sqrt is IEEE
# correctly-rounded on BOTH engines (pow(x, 0.7) is libm-dependent), and the
# weights quantize to integers BEFORE the normalizing sum, so nothing float
# ever crosses a group boundary.
@query(
    "corpus_sampling_weights_sqrt",
    """
WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
q AS (SELECT source, n_docs,
             CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq
      FROM s),
t AS (SELECT CAST(sum(sq) AS BIGINT) AS total FROM q)
SELECT source, n_docs,
       CAST(sq * 1000000 // total AS BIGINT) AS weight_ppm
FROM q CROSS JOIN t
""",
)
def corpus_sampling_weights_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source multinomial sampling weights at temperature alpha = 0.5:
    weight ∝ sqrt(n_docs), normalized to integer ppm. sqrt of an integer
    is correctly rounded (IEEE) on both engines and each term quantizes
    to a BIGINT before the normalizing sum, so the denominator is an
    exact integer regardless of aggregation order. One |sources|-row
    aggregate + a broadcast 1-row total."""
    s = table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    q = s.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000000)
        .cast("long")
        .alias("sq"),
    )
    t = q.agg(F.sum("sq").cast("long").alias("total"))
    return q.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr("(sq * 1000000) div total").cast("long").alias("weight_ppm"),
    )


# ===================== dedup cluster-size histogram ==========================

_PAIRS_CTES = f"""toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
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
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
      len(list_intersect(sa.h, sb.h)) AS inter, len(sa.h) AS na, len(sb.h) AS nb
    FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id)
  WHERE {sql_round('CAST(inter AS DOUBLE) / (na + nb - inter)', 4)} >= CAST(0.5 AS DOUBLE))"""


# The size distribution of MinHash near-dup clusters (connected components over
# verified pairs) — the topology view behind dedup savings estimates: many
# 2-clusters means pair-wise drops suffice, a fat tail means template families
# where keep-one-per-component is the only correct policy.
@query(
    "corpus_dedup_cluster_size_histogram",
    f"""
WITH RECURSIVE {_PAIRS_CTES},
sedges AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
sreach(node, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sedges) s
  UNION
  SELECT sreach.node, e.v FROM sreach JOIN sedges e ON sreach.r = e.u),
scomp AS (SELECT node, min(r) AS cluster_id FROM sreach GROUP BY node),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM scomp GROUP BY cluster_id)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
""",
)
def corpus_dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components over the verified MinHash near-dup pairs,
    rolled up to a (cluster_size, n_clusters) histogram — singleton docs
    (no pair) are by definition absent. Composition of two already-
    oracled operators (minhash_lsh_pairs' banded candidate+verify pass +
    connected_components' bounded label propagation); the histogram adds
    two tiny rollups. The DuckDB twin walks the same edges with a
    recursive CTE — exact reachability, no approximation on either
    side."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


# ===================== token-budget batch packing =============================

_TBB_BUDGET = 4096  # tokens per training batch


# Sequential first-fit packing of documents into training batches under a token
# budget — the data-loader step between a cleaned corpus and the trainer. The
# running token total over doc_id order comes from the gated
# ranking.global_prefix_sum (window form under the gate at fixture scale,
# partition-offset above), so the batch boundary is exact at any corpus size;
# batch id is pure arithmetic on the running sum.
@query(
    "corpus_token_budget_batches",
    f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t),
b AS (SELECT doc_id, n_tokens, (cum - 1) // {_TBB_BUDGET} AS batch_id FROM c)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM b GROUP BY batch_id
""",
)
def corpus_token_budget_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into training batches of <= {_TBB_BUDGET} tokens
    (whitespace tokens; the generator's texts are single-space joined)
    by doc_id order: batch_id = (running_total - 1) div budget — the
    deterministic first-fit packing a distributed data loader applies
    before sharding batches to trainers. The running total is the gated
    global prefix sum (operators/ranking.py): exact at any scale, no
    single fat sort task above the gate. Report at batch grain with doc
    spans, so a repacking regression shows as a hash change."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    cum = ranking.global_prefix_sum(docs, "n_tokens", "doc_id", out_col="cum")
    b = cum.withColumn(
        "batch_id", F.expr(f"(cum - 1) div {_TBB_BUDGET}").cast("long")
    )
    return b.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ===================== priority sampling (weighted top-k) =====================

_PS_K = 100

_PS_SCALE = float(1 << 52)


# Duffield-Lund-Thorup priority sampling — a deterministic weighted sample of
# documents where the priority w/u uses ONLY exactly-rounded IEEE division on
# an md5-derived uniform, so both engines produce bit-identical keys (no libm
# pow/ln whose last ulp could differ across engines).
@query(
    "corpus_priority_sample",
    f"""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
               AS BIGINT) + 1) / {_PS_SCALE!r} AS u
  FROM documents),
pri AS (SELECT doc_id, weight, weight / u AS q FROM w)
SELECT doc_id, weight, {sql_round("q", 4)} AS priority
FROM pri
ORDER BY q DESC, doc_id
LIMIT {_PS_K}
""",
)
def corpus_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted document sample via PRIORITY SAMPLING
    (Duffield-Lund-Thorup): each document gets priority q = w/u with
    w = n_chars and u an md5-derived uniform in (0,1]; the sample is
    the top-{_PS_K} by priority. Inclusion probability ~ min(1, w/tau)
    — long documents are proportionally favored, which is the
    length-weighted sampling a token-budgeted corpus builder wants.
    Cross-engine determinism by construction: u and q involve ONLY
    IEEE-exact operations (integer-valued doubles and two divisions,
    both correctly rounded by the standard) — no pow/ln whose last ulp
    is libm-dependent, so DuckDB and the JVM produce bit-identical
    priorities. At scale this is a global top-k (TakeOrdered — a
    per-partition heap + driver merge of k rows), never a global
    sort."""
    w = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                    16,
                    10,
                ).cast("long")
                + 1
            )
            / F.lit(_PS_SCALE)
        ).alias("u"),
    )
    pri = w.select(
        "doc_id", "weight", (F.col("weight") / F.col("u")).alias("q")
    )
    return (
        pri.orderBy(F.desc("q"), "doc_id")
        .limit(_PS_K)
        .select(
            "doc_id",
            "weight",
            (F.round(F.col("q") * 1e4) / 1e4).alias("priority"),
        )
    )


# ============================ corpus token Gini ===============================


@query(
    "corpus_token_gini",
    r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         END AS x
  FROM documents),
r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS rk
      FROM d),
s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(rk AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS srx
      FROM r)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(sx AS BIGINT) AS total_tokens,
       round(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) * 1e6) / 1e6 AS gini
FROM s
""",
)
def corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-document token-count distribution —
    the one-number answer to "is the corpus a few giant documents plus
    dust?" that sizes packing/sharding strategy (corpus_pack_bins) and
    flags scrape pathologies. Exact rank formulation
    G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)) with ranks ordered
    (x, doc_id): numerator/denominator are BIGINT-exact, one final
    division. The global rank comes from the gated offsets machinery
    (operators/ranking.py — range buckets + per-bucket offsets
    above the stats gate), never a naked single-partition window, so the
    plan holds at any document count."""
    from ..functions import texts

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(texts.tokens("text")))
        .cast("long")
        .alias("x"),
    )
    ranked, _n = ranking.global_ranks(d, "x", "doc_id", rank_col="rk")
    dec = "decimal(38,0)"
    s = ranked.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum(F.col("rk").cast(dec) * F.col("x")).cast(dec).alias("srx"),
    )
    n, sx, srx = F.col("n"), F.col("sx"), F.col("srx")
    return s.select(
        n.cast("long").alias("n_docs"),
        sx.cast("long").alias("total_tokens"),
        (
            F.round(
                (2 * srx - (n + 1) * sx).cast("double")
                / (n * sx).cast("double")
                * 1e6
            )
            / 1e6
        ).alias("gini"),
    )


# ======================== exactly-N hash sample ===============================

_FIX_N = 64


# EXACTLY-N deterministic corpus sample by md5 rank (rate-based hash sampling —
# corpus_hash_sample — returns a binomially-varying count; audits and eval
# panels need exactly N). Rank over (md5(doc_id), doc_id) via the gated offsets
# machinery, so the sample is stable under any partitioning and the plan never
# sorts a single partition at scale.
@query(
    "corpus_fixed_n_hash_sample",
    f"""
WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hv FROM documents),
r AS (SELECT doc_id, hv, row_number() OVER (ORDER BY hv, doc_id) AS rk FROM h)
SELECT doc_id, CAST(rk AS BIGINT) AS sample_rank
FROM r WHERE rk <= {_FIX_N}
ORDER BY sample_rank
""",
)
def corpus_fixed_n_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-{_FIX_N} deterministic document sample: rank by
    (md5(doc_id), doc_id) and keep the first {_FIX_N} — the fixed-size
    eval-panel / audit-sample primitive (rate-based corpus_hash_sample
    gives a binomially-varying count; a human-review queue or a paired
    A/B eval needs exactly N, stable across runs and partitionings).
    The global rank comes from the gated offsets machinery
    (operators/ranking.py): a plain bounded window at fixture scale, a
    range-bucket + per-bucket-offset plan above the stats gate
    — never a naked single-partition sort over the corpus. The md5 key
    makes the sample uniform and immune to doc_id assignment order."""
    h = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hv")
    )
    ranked, _n = ranking.global_ranks(h, "hv", "doc_id", rank_col="rk")
    return (
        ranked.where(F.col("rk") <= _FIX_N)
        .select("doc_id", F.col("rk").cast("long").alias("sample_rank"))
        .orderBy("sample_rank")
    )


# Per MinHash band, the bucket-occupancy profile (buckets, docs, max occupancy,
# collision buckets, candidate pair mass sum n_b*(n_b-1)/2) — the observability
# query that tells an operator whether banding is sized right BEFORE running
# the join; at 100 TB you run this nightly and alert on pair-mass growth,
# because pair mass IS the next join's cost.
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


_KN_D = 0.75

_KN_TOP = 20


# Kneser-Ney smoothed bigram probabilities (the n-gram LM estimator actually
# used for corpus quality scoring and decontamination perplexity baselines) —
# absolute discount D=0.75, continuation probabilities from
# distinct-predecessor counts, top-20. Every probability is a FIXED-SHAPE float
# expression over integer counts (two divisions, one multiply, one add,
# parenthesized the same way in both engines) — no float accumulation, so
# cross-engine determinism needs no tricks.
@query(
    "text_bigram_kn_probs",
    f"""
WITH toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
bg0 AS (
  SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bg
  FROM toks WHERE len(t) >= 2),
bg AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         count(*) AS c
  FROM bg0 GROUP BY 1, 2),
lhs AS (
  SELECT w1, sum(c) AS cw1, count(*) AS n1p_w1
  FROM bg GROUP BY w1),
rhs AS (SELECT w2, count(*) AS n1p_w2 FROM bg GROUP BY w2),
tot AS (SELECT count(*) AS n1p_all FROM bg),
p AS (
  SELECT bg.w1, bg.w2, bg.c,
         {sql_round(
             f"(greatest(CAST(bg.c AS DOUBLE) - {_KN_D}, 0) / cw1)"
             f" + (({_KN_D} * n1p_w1 / cw1)"
             " * (CAST(n1p_w2 AS DOUBLE) / n1p_all))", 6)} AS p_kn
  FROM bg JOIN lhs USING (w1) JOIN rhs USING (w2) CROSS JOIN tot)
SELECT w1, w2, CAST(c AS BIGINT) AS c, p_kn
FROM p ORDER BY p_kn DESC, w1, w2 LIMIT {_KN_TOP}""",
)
def text_bigram_kn_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the corpus
    token stream (adjacent within-document pairs, repeats counted):
    P(w2|w1) = max(c - D, 0)/c(w1) + (D * N1+(w1,.)/c(w1)) *
    (N1+(.,w2)/N1+(.,.)) with D = {_KN_D} — the smoothing that scores
    a word by how many DISTINCT contexts it follows, not how often (the
    "San Francisco" correction every n-gram LM needs). Top-{_KN_TOP}
    with a total (p desc, w1, w2) tie-break. Scale shape: the bigram
    explode is map-side (one sequence per doc), the three count
    relations are partial-aggregated shuffles keyed by w1 / w2 /
    nothing, the continuation total broadcasts, and every probability
    is a fixed-shape scalar expression over integer counts — no float
    summation anywhere, so the 1e-6 rounding is bit-stable across
    engines."""
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    t = texts.tokens("text")
    bg0 = docs.where(F.size(t) >= 2).select(F.explode(texts.bigrams(t)).alias("bgs"))
    bg = caches.track(
        bg0.select(
            F.substring_index("bgs", " ", 1).alias("w1"),
            F.substring_index("bgs", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        # bigram-TYPE grain (vocab-bounded, far smaller than the token
        # stream) feeding four consumers — lhs, rhs, tot, and the final
        # join. Without the persist each consumer re-runs the tokenize +
        # explode + first aggregate over documents (measured 4 scans,
        # 4.4 s at sf0.1; persisted: 1 scan).
        .persist()
    )
    lhs = bg.groupBy("w1").agg(
        F.sum("c").alias("cw1"), F.count(F.lit(1)).alias("n1p_w1")
    )
    rhs = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_w2"))
    tot = bg.agg(F.count(F.lit(1)).alias("n1p_all"))
    p_kn = (
        F.greatest(F.col("c").cast("double") - _KN_D, F.lit(0.0)) / F.col("cw1")
    ) + (
        (F.lit(_KN_D) * F.col("n1p_w1") / F.col("cw1"))
        * (F.col("n1p_w2").cast("double") / F.col("n1p_all"))
    )
    return (
        bg.join(lhs, "w1")
        .join(rhs, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            (F.round(p_kn * 1e6) / 1e6).alias("p_kn"),
        )
        .orderBy(F.col("p_kn").desc(), "w1", "w2")
        .limit(_KN_TOP)
    )


_IS_K = 100  # expected sample size

_IS_SCALE = 10_000  # quality -> integer weight scale

_TWO52 = float(1 << 52)


# Weight-proportional Poisson sampling with a deterministic md5 coin — include
# doc i iff u_i < k*w_i/W, with INTEGER weight mass (quality rounded to 1e-4,
# scaled to ints, summed as BIGINT) so the normalizer is exact in both engines.
# The quality- weighted downsampling step of a data-mixing pipeline,
# reproducible run-to-run (the property grid-search sweeps need).
@query(
    "corpus_importance_sample",
    f"""
WITH q AS (
  SELECT doc_id,
         CAST(round(quality * {_IS_SCALE}) AS BIGINT) AS w
  FROM {sql_quality()} qq),
tot AS (SELECT sum(w) AS big_w FROM q),
coin AS (
  SELECT doc_id, w,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_is'), 1, 13)
              AS BIGINT) AS h
  FROM q)
SELECT doc_id, CAST(w AS BIGINT) AS weight
FROM coin CROSS JOIN tot
WHERE (CAST(h AS DOUBLE) / {_TWO52!r})
      < (CAST({_IS_K} * w AS DOUBLE) / CAST(big_w AS DOUBLE))
ORDER BY doc_id""",
)
def corpus_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional (Poisson) importance sample:
    document i is kept iff u_i < k*w_i/W where u_i is a 52-bit md5 coin
    in [0,1), w_i = round(quality * 1e4) is an INTEGER weight and W is
    their exact BIGINT sum — expected sample size {_IS_K}, inclusion
    probability proportional to quality, and bit-reproducible across
    runs and engines (no RNG state, no float weight accumulation; the
    only floats are two single divisions of exact integers). This is
    the quality-weighted downsampling stage of a data-mixing pipeline —
    at 100 TB it is one scan with a map-side coin, the weight total
    being the only (tiny) aggregate."""
    # r13 optimization (guide §2.4/§2.5): q is consumed TWICE (the weight
    # total + the coin pass) and the regex-heavy quality expression over a
    # single-row-group file evaluated serially on one task per reference —
    # spread the scan (order-free: BIGINT weight sum) and stats-gate
    # persist the narrow (doc_id, w) projection so the expression runs
    # once, in parallel. At 100 TB the scan splits itself (spread no-op)
    # and the gate keeps the recompute plan.
    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    w = F.round(texts.quality_score("text") * _IS_SCALE).cast("long")
    q = docs.select("doc_id", w.alias("w"))
    q = caches.persist_if_small(q, docs)
    tot = q.agg(F.sum("w").alias("big_w"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("_is"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    coin = q.select("doc_id", "w", h.alias("h"))
    return (
        coin.crossJoin(F.broadcast(tot))
        .where(
            (F.col("h").cast("double") / F.lit(_TWO52))
            < ((F.lit(_IS_K) * F.col("w")).cast("double")
               / F.col("big_w").cast("double"))
        )
        .select("doc_id", F.col("w").cast("long").alias("weight"))
        .orderBy("doc_id")
    )


_EP_BUDGET = 1_000_000  # total token budget for the plan

_EP_CAP_BP = 40_000  # max epochs in basis points (4.00x)

# target mix shares in basis points, summing to 10000 (sources beyond
# these get share 0) — the corpus_mix_domains weights, reused so the two
# reports describe the same recipe
_EP_SHARES = {"src0": 4000, "src1": 2500, "src2": 1500, "src3": 1000, "src4": 1000}

_EP_SHARE_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _EP_SHARES.items())
    + " ELSE 0 END"
)


# Per-source EPOCH plan for a token budget — where corpus_mix_domains
# downsamples rich sources, this reports the other half of the recipe: how many
# passes (epochs, capped) each source needs to fill its target share, and the
# unfilled deficit. The 5-row report a data-mixing run prints before training.
@query(
    "corpus_mix_epoch_plan",
    f"""
WITH toks AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents),
dom AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS have,
         CAST({_EP_SHARE_CASE} AS BIGINT) AS share_bp
  FROM toks GROUP BY source),
plan AS (
  SELECT source, have, share_bp,
         CAST({_EP_BUDGET} AS BIGINT) * share_bp // 10000 AS want,
         least(CAST({_EP_CAP_BP} AS BIGINT),
               (CAST({_EP_BUDGET} AS BIGINT) * share_bp // 10000) * 10000
                 // greatest(have, 1)) AS epochs_bp
  FROM dom WHERE share_bp > 0)
SELECT source, have AS have_tokens, want AS want_tokens,
       epochs_bp,
       CAST(least(want, epochs_bp * have // 10000) AS BIGINT) AS planned_tokens,
       CAST(greatest(want - epochs_bp * have // 10000, 0) AS BIGINT)
         AS deficit_tokens
FROM plan ORDER BY source""",
)
def corpus_mix_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EPOCH side of a pretraining data recipe: for each source with
    a target share of a {_EP_BUDGET}-token budget, how many passes over
    the source fill it (epochs in basis points, capped at
    {_EP_CAP_BP / 10000}x — the repeat-data ceiling after which quality
    degrades), how many tokens that actually yields, and the deficit
    the mixer must reallocate. corpus_mix_domains implements the
    DOWNSAMPLING half (rich sources); this is the UPSAMPLING half
    (poor sources) — together they are the printed plan of a data-mix
    run. All integer basis-point arithmetic (floor division, mirrored
    `//` vs `div` on nonnegative operands), one |sources|-row
    aggregate; the corpus is scanned once for token totals."""
    docs = table(spark, sf_dir, "documents")
    dom = (
        docs.select("source", texts.token_count("text").alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("have"))
        .withColumn(
            "share_bp",
            F.coalesce(
                *[
                    F.when(F.col("source") == k, F.lit(v))
                    for k, v in _EP_SHARES.items()
                ],
                F.lit(0),
            ).cast("long"),
        )
        .where(F.col("share_bp") > 0)
    )
    want = F.expr(f"CAST({_EP_BUDGET} AS BIGINT) * share_bp div 10000")
    plan = dom.withColumn("want", want).withColumn(
        "epochs_bp",
        F.least(
            F.lit(_EP_CAP_BP).cast("long"),
            F.expr("want * 10000 div greatest(have, 1)"),
        ),
    )
    return plan.select(
        "source",
        F.col("have").alias("have_tokens"),
        F.col("want").alias("want_tokens"),
        "epochs_bp",
        F.least("want", F.expr("epochs_bp * have div 10000"))
        .cast("long")
        .alias("planned_tokens"),
        F.greatest(
            F.col("want") - F.expr("epochs_bp * have div 10000"), F.lit(0)
        )
        .cast("long")
        .alias("deficit_tokens"),
    ).transform(sort_report, "source")


_AUD_PER_BAND = 5  # audit pairs per 0.1-wide jaccard band

# the registered dedup_minhash_lsh statement, reused verbatim as a CTE
# body — the audit sample is OVER the exact pair relation the dedup
# join emits, not a re-derivation that could drift
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


# ========================== PMI-ranked word pairs ============================

_PMI_MIN_C = 5

_PMI_TOP = 20


# Word-association mining over adjacent token pairs: lift(w1,w2) = P(w1 w2) /
# (P(w1) P(w2)) = c_bg * N / (c_w1 * c_w2), min-count filtered, top-20 by (lift
# desc, pair). Lift is exp2(PMI) — the SAME ranking as pointwise mutual
# information without a cross-engine log (all-integer products in
# DECIMAL(38,0), one exactly-rounded double division at the end; log2's
# last-ULP is the only part of PMI two engines can disagree on, so it is the
# part this query deliberately does not compute).
@query(
    "text_pmi_lift_pairs",
    f"""
WITH toks AS (SELECT {sql_toks('text')} AS t FROM documents),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cu
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
n AS (SELECT CAST(sum(cu) AS BIGINT) AS nn FROM uni),
bg AS (
  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS b
        FROM toks WHERE len(t) >= 2)
  GROUP BY 1, 2
  HAVING count(*) >= {_PMI_MIN_C})
SELECT w1, w2, c,
       {sql_round(
           "CAST(CAST(c AS DECIMAL(38,0)) * nn AS DOUBLE)"
           " / CAST(CAST(u1.cu AS DECIMAL(38,0)) * u2.cu AS DOUBLE)", 6)} AS lift
FROM bg JOIN uni u1 ON w1 = u1.tok JOIN uni u2 ON w2 = u2.tok CROSS JOIN n
ORDER BY lift DESC, w1, w2 LIMIT {_PMI_TOP}""",
)
def text_pmi_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOP} collocations by LIFT over adjacent token pairs
    (count >= {_PMI_MIN_C}): lift = c(w1,w2) * N / (c(w1) * c(w2)), the
    exp2 of PMI — identical ranking, but every factor is an exact
    integer so the single double division is bit-stable across engines
    (PMI's log2 is where two engines' math libraries can drift a ULP;
    the lift form never computes it). The collocation miner behind
    tokenizer-vocabulary candidates and multi-word-expression detection.
    Scale shape: unigram and bigram counts are two partial-aggregated
    shuffles over the map-side token/pair explodes (the n-gram count
    job); the unigram relation joins back twice by token — at corpus
    scale those are the vocabulary-sized sides, and the total-token
    scalar broadcasts. Products run in DECIMAL(38,0): c*N reaches
    int64's edge near a trillion tokens, exactly the regime the query
    targets; the decimal-to-double conversions are value-exact below
    2^53 and the final division is IEEE exactly-rounded — the same
    discipline as olap_numeric_corr_matrix.

    Cite: reference repo has no text-statistics surface (extension)."""
    from ..functions import texts

    docs = spread_table(spark, sf_dir, "documents", min_bytes=256 << 10, key="doc_id")
    t = texts.tokens("text")
    toks = docs.select(t.alias("t"))
    uni = caches.track(
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
        # vocabulary-grain relation consumed three times (the total
        # scalar + both join sides) — persist so the token explode and
        # first aggregate run once
        .persist()
    )
    n = uni.agg(F.sum("cu").cast("long").alias("nn"))
    bg = (
        toks.where(F.size("t") >= 2)
        .select(F.explode(texts.bigrams(F.col("t"))).alias("b"))
        .select(
            F.substring_index("b", " ", 1).alias("w1"),
            F.substring_index("b", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .where(F.col("c") >= _PMI_MIN_C)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2"))
    lift = (
        (F.col("c").cast("decimal(38,0)") * F.col("nn")).cast("double")
        / (F.col("cu1").cast("decimal(38,0)") * F.col("cu2")).cast("double")
    )
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "c", (F.round(lift * 1e6) / 1e6).alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


_BPE_STEPS = 4


def _bpe_train_sql() -> str:
    base = f"""toks AS (
  SELECT {sql_toks('text')} AS t FROM documents),
wc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS w
  FROM (SELECT unnest(t) AS tok FROM toks WHERE len(t) > 0)
  WHERE length(tok) > 0 GROUP BY tok),
m0 AS (SELECT {_SQL_SYMS} AS m, w FROM wc)"""
    stages, selects = [base], []
    for k in range(1, _BPE_STEPS + 1):
        p = f"m{k - 1}"
        stages.append(f"""a{k} AS (
  SELECT string_split(m, '{_SEP}') AS a, w, m FROM {p}),
p{k} AS (
  SELECT a[CAST(r.range AS INT) + 1] AS s1,
         a[CAST(r.range AS INT) + 2] AS s2, w
  FROM a{k} CROSS JOIN range(0, {_CLAMP - 1}) r
  WHERE CAST(r.range AS INT) < len(a) - 1),
win{k} AS (
  SELECT s1, s2, n FROM (
    SELECT s1, s2, CAST(sum(w) AS BIGINT) AS n FROM p{k} GROUP BY s1, s2)
  ORDER BY n DESC, s1, s2 LIMIT 1),
m{k} AS (
  SELECT replace(m, win{k}.s1 || '{_SEP}' || win{k}.s2,
                 win{k}.s1 || win{k}.s2) AS m, w
  FROM {p} CROSS JOIN win{k})""")
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS step, s1, s2, n AS pair_count "
            f"FROM win{k}"
        )
    return (
        "WITH " + ",\n".join(stages) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY step"
    )


# FOUR consecutive BPE merges learned corpus-wide — the iterated form of
# text_bpe_merge_step, which established the single hash-checkable
# step. Each round splits the unit-separated symbol strings, counts adjacent
# SYMBOL pairs weighted by word frequency, picks the winner with the
# deterministic (count desc, s1, s2) tie-break, and applies the merge as a
# greedy left-to-right replace; later rounds merge MULTI-character symbols (the
# part a single step cannot exercise). Output is the learned merge table —
# (step, s1, s2, pair_count) — i.e. the actual artifact a BPE tokenizer ships.
# The oracle unrolls the four rounds as generated CTE stages, exactly the
# GD-trainer pattern applied to tokenizer induction.
#
# Scale shape: the corpus reduces ONCE to the word-frequency table (one token
# shuffle); every round runs at the DISTINCT-TOKEN grain weighted by counts —
# bounded by vocabulary, not corpus — with the 1-row winner broadcast into a
# map-side replace and the vocab relation localCheckpoint'ed per round (linear
# plan in K, the ml_gate_distill_gd lesson).
@query("text_bpe_train_merges", _bpe_train_sql())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_BPE_STEPS} consecutive corpus-wide BPE merges (the learned
    merge table a tokenizer ships): per round, adjacent-symbol pair
    counts at the weighted vocab grain, deterministic winner
    (count desc, s1, s2), greedy left-to-right merge via replace over
    the unit-separated symbol string — replace's non-overlapping
    left-to-right scan IS the BPE application rule in both engines
    (pinned on the self-overlap case in tests/test_round7e). Rounds 2+
    merge multi-character symbols — the winner of round k becomes a
    single symbol in round k+1's pair statistics, which is what makes
    this a TRAINER rather than a repeated first step. Plan: one token
    shuffle to word frequencies, then K rounds of vocab-grain work
    with 1-row broadcast winners and per-round localCheckpoint
    (lineage linear in K — the ml_gate_distill_gd lesson)."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(texts.tokens("text")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # Spark rtrim(trimStr, str) argument order (text_bpe_merge_step precedent)
    sep_syms = F.expr(
        f"rtrim('{_SEP}', regexp_replace(substring(tok, 1, {_CLAMP}), "
        f"'(.)', '$1{_SEP}'))"
    )
    m = wc.select(sep_syms.alias("m"), "w").localCheckpoint(eager=True)
    out = []
    for k in range(1, _BPE_STEPS + 1):
        a = m.select(F.split("m", _SEP).alias("a"), "w", "m")
        pairs = a.select(
            F.explode(
                F.expr(
                    f"transform(slice(sequence(0, greatest(size(a) - 2, 0)), "
                    f"1, greatest(least(size(a) - 1, {_CLAMP - 1}), 0)), "
                    "i -> struct(a[i] AS s1, a[i + 1] AS s2))"
                )
            ).alias("pr"),
            "w",
        ).select(F.col("pr.s1").alias("s1"), F.col("pr.s2").alias("s2"), "w")
        win = (
            pairs.groupBy("s1", "s2")
            .agg(F.sum("w").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "s1", "s2")
            .limit(1)
        )
        m = (
            m.crossJoin(F.broadcast(win.select(
                F.col("s1").alias("_ws1"), F.col("s2").alias("_ws2"))))
            .select(
                F.expr(f"replace(m, _ws1 || '{_SEP}' || _ws2, _ws1 || _ws2)").alias("m"),
                "w",
            )
            .localCheckpoint(eager=True)
        )
        out.append(
            win.select(
                F.lit(k).cast("long").alias("step"),
                "s1",
                "s2",
                F.col("n").alias("pair_count"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.orderBy("step")
