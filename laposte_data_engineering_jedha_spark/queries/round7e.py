"""Round-7 session batch 5 — tokenizer-induction and vocabulary-curve
operators, all with full DuckDB oracle twins.

- text_bpe_merge_step: ONE full step of BPE training — find the winning
  adjacent-symbol pair, apply the merge greedily left-to-right across
  the corpus, re-count symbol pairs. The merge itself runs as a plain
  `replace()` over a unit-separated symbol string (both engines replace
  non-overlapping occurrences left-to-right, which IS the BPE greedy
  rule), so the whole trainer step is oracle-checkable; iterating it is
  the full tokenizer induction.
- corpus_ngram_coverage: what fraction of token OCCURRENCES the top-K
  vocabulary covers, at K = 4/8/16 — the vocabulary-size/OOV trade curve
  every tokenizer budget decision reads. Pure integer counts; ranking at
  the vocabulary grain.
- corpus_vocab_first_seen: Heaps-law vocabulary growth — distinct terms
  seen within the first 1%/5%/25%/100% of docs (by id order). Each
  term's first occurrence is a min(doc_id) aggregate, so the whole curve
  costs one tokenize pass + a vocabulary-grain rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texts
from ..session import local_table
from . import query, table
from .llmops import sql_toks

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
