"""Corpus-assembly operators for LLM training-data pipelines: global
running sums without a single-partition window, offset-based sequence
packing, and deterministic hash sampling.

The classic Spark trap for "global cumulative sum" is
`Window.orderBy(col)` with no partitionBy — Catalyst executes it as ONE
partition holding the entire dataset (it even warns), which caps the op
at one executor's memory and serializes the whole job. The scale-safe
shape (same as Beam/Flink's split-combine prefix sum) is implemented in
`global_running_sum`: shard by order-range, cumsum within shards, then a
tiny per-shard-offset cumsum (shards-many rows) broadcast back.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import texts
from . import caches


def global_running_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "running_sum",
    shards: int = 256,
) -> DataFrame:
    """Inclusive running sum of `val_col` in global `order_col` order
    (order_col must be unique), scale-safely:

    1. order-preserving shard id from the order column's range (the bounds
       row is a broadcast 1-row join, not a driver collect),
    2. per-shard window cumsum — `shards` independent partitions,
    3. per-shard totals -> offset cumsum over `shards` rows (the ONLY
       single-partition window, bounded at `shards` rows by construction),
    4. broadcast the offsets back.

    Shuffles: one hash exchange on _shard for the window, one tiny
    aggregate, one broadcast join — vs. the naive global window's
    single-partition sort of the entire table.
    """
    o, v = F.col(order_col), F.col(val_col)
    bounds = df.agg(F.min(o).alias("_lo"), F.max(o).alias("_hi"))
    span = F.col("_hi") - F.col("_lo") + 1
    sharded = (
        df.join(F.broadcast(bounds))
        .withColumn("_shard", ((o - F.col("_lo")) * shards / span).cast("long"))
        .drop("_lo", "_hi")
    )
    w = Window.partitionBy("_shard").orderBy(order_col)
    local = sharded.withColumn("_local", F.sum(v).over(w))
    totals = local.groupBy("_shard").agg(F.sum(v).alias("_total"))
    # offset for shard s = sum of totals of shards < s; `shards` rows total
    off_w = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_shard", F.coalesce(F.sum("_total").over(off_w), F.lit(0)).alias("_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_shard")
        .withColumn(out_col, (F.col("_local") + F.col("_offset")).cast("long"))
        .drop("_shard", "_local", "_offset")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
) -> DataFrame:
    """Offset-based contiguous sequence packing — the GPT-style pretraining
    layout where documents concatenate in `id_col` order into one token
    stream that is then cut into `budget`-token blocks. Each doc gets the
    block containing its FIRST token (docs may straddle a boundary; the
    cut, like the tokenizer's, happens mid-doc at training time).

    Adds `start_offset` (position of the doc's first token in the stream)
    and `seq_id` (= start_offset // budget). Built on `global_running_sum`,
    so no single-partition window anywhere.
    """
    cum = global_running_sum(df, id_col, tokens_col, out_col="_cum")
    start = F.col("_cum") - F.col(tokens_col)
    return (
        cum.withColumn("start_offset", start.cast("long"))
        .withColumn("seq_id", (start / budget).cast("long"))
        .drop("_cum")
    )


def hash_sample(
    df: DataFrame, id_col: str = "doc_id", percent: int = 10, salt: str = ""
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose md5(id || salt) bucket
    (mod 100) falls under `percent`. The standard reproducible corpus
    split — unlike `df.sample`, the kept set is stable across runs,
    engines, partitionings, and appends, and disjoint salts give
    disjoint-ish folds. Map-side filter only; fully pushdown-friendly
    for everything downstream."""
    bucket = texts.md5int32(F.concat(F.col(id_col).cast("string"), F.lit(salt))) % 100
    return df.where(bucket < percent)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    percents: Mapping[str, int],
    default_percent: int = 0,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic hash sampling — the language/source
    rebalancing step of corpus assembly (e.g. keep 50% of en, 20% of fr,
    5% of everything else). Same md5-bucket mechanics as `hash_sample`,
    with the rate resolved per row by a CASE over `strata_col`; still a
    pure map-side filter, so no shuffle and full pushdown downstream.

    Unlike `df.sampleBy`, membership is a pure function of (id, salt), so
    the kept set is reproducible across runs, engines, and partitionings,
    and per-stratum rates can be re-tuned without resampling the rest."""
    bucket = texts.md5int32(F.concat(F.col(id_col).cast("string"), F.lit(salt))) % 100
    rate: F.Column = F.lit(default_percent)
    for stratum, pct in percents.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.where(bucket < rate)


def mix_to_token_budget(
    df: DataFrame,
    domain_col: str,
    weights_bp: Mapping[str, int],
    token_budget: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Domain-mixture sampling to a token budget — the pretraining-mix
    step: given target mixture weights per domain (basis points of the
    total budget, e.g. {"web": 5000, "wiki": 3000, "code": 2000}) and a
    total token budget, keep a deterministic hash sample of each domain
    sized so its kept tokens approximate `token_budget * weight`.

    Per domain, keep-rate (in basis points) =
    min(10000, budget * weight_bp // domain_tokens) — a domain with fewer
    tokens than its target is kept whole (rate caps at 100%; epoch
    up-weighting is a training-loader concern, not a filter's). Domains
    without a weight are dropped. All arithmetic is integer and membership
    is md5(id || salt), so the kept set is reproducible across engines,
    partitionings, and appends, and any domain's weight can be retuned
    without resampling the others.

    Scale shape: one partial-aggregated groupBy for the per-domain token
    totals (|domains| rows), broadcast back, then a pure map-side filter —
    the corpus itself never shuffles, and everything downstream keeps
    pushdown through the filter.
    """
    d, t = F.col(domain_col), F.col(tokens_col)
    totals = df.groupBy(domain_col).agg(F.sum(t).alias("_domain_tokens"))
    w_bp: F.Column = F.lit(0)
    for domain, bp in weights_bp.items():
        w_bp = F.when(d == domain, F.lit(bp)).otherwise(w_bp)
    rates = totals.select(
        d.alias("_mix_domain"),
        F.least(
            F.lit(10000),
            F.floor(F.lit(token_budget) * w_bp / F.col("_domain_tokens")),
        ).alias("_rate_bp"),
    )
    bucket = texts.md5int32(F.concat(F.col(id_col).cast("string"), F.lit(salt))) % 10000
    return (
        df.join(F.broadcast(rates), d == F.col("_mix_domain"))
        .where(bucket < F.col("_rate_bp"))
        .drop("_mix_domain", "_rate_bp")
    )


def chunk_with_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap_tokens: int = 8,
) -> DataFrame:
    """Token-window chunking with overlap — the RAG/context-window splitter:
    cut each document's token stream into windows of `chunk_tokens` tokens
    advancing by `chunk_tokens - overlap_tokens` (so consecutive chunks
    share `overlap_tokens` tokens), re-joined to text per chunk.

    Returns (doc_id, chunk_idx, chunk_text, n_chunk_tokens). A chunk is
    emitted only if it contributes at least one NEW token (the trailing
    window is dropped when it would be a pure suffix of its predecessor):
    n_chunks = max(1, ceil((n_tokens - overlap) / stride)).

    Scale shape: sequence + explode + slice are all per-row JVM exprs —
    zero shuffle, pushdown-transparent; output size is a documented
    ~n/stride amplification, never quadratic.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    toks = texts.tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap_tokens)) / F.lit(stride)).cast("int")
    )
    out = df.select(
        F.col(id_col),
        toks.alias("_t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    sl = F.slice(F.col("_t"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).alias("n_chunk_tokens"),
    )


def weighted_priority_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "",
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted top-n sample: each row gets priority
    w * 2^32 / (h + 1) with h = md5int32(id || salt), and the global
    top-n by (priority desc, id) is kept. Higher weight -> higher
    priority for the same hash draw, and membership is a pure function of
    (id, salt, weight), so the sample is reproducible across runs,
    engines, and partitionings — the corpus-curation upsampling step
    (quality-weighted selection) without an RNG.

    Exact Efraimidis–Spirakis sampling would key on u^(1/w); `pow`/`ln`
    are transcendental and not bit-portable across engines, so this uses
    the rational key (one IEEE multiply + divide, bit-identical
    everywhere) and documents the semantics as monotone-weighted priority
    sampling rather than exactly-proportional inclusion.

    Scale shape: priority is map-side; orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-n, then a single n-row merge
    on the driver) — no global sort, no single-partition window.

    Magnitude caveat: for small h the raw priority can exceed 2^53 / 1e6,
    where doubles lack the resolution to represent 6 decimal places —
    there `round(p * 1e6) / 1e6` is a lossy no-op and the emitted
    `priority` column is NOT actually quantized to 6 decimals. Cross-engine
    parity is unaffected (both engines run the identical IEEE multiply,
    divide, and round on the same inputs); only the human-readable
    quantization guarantee weakens at the top of the range.
    """
    h = texts.md5int32(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    priority = F.col(weight_col).cast("double") * F.lit(4294967296.0) / (h + 1)
    return (
        df.withColumn(priority_col, F.round(priority * 1000000) / 1000000)
        .orderBy(F.col(priority_col).desc(), F.col(id_col))
        .limit(n)
    )


def shard_layout(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets
    (shard, pos) with shard = md5int32(id || salt) % n_shards and pos =
    rank of the row inside its shard by (hash, id). Reading shards in
    order 0..n-1, each in pos order, yields a reproducible pseudo-random
    permutation of the corpus — the "shuffle once, stream forever"
    layout pretraining loaders expect; re-salting gives an independent
    epoch order without touching the data.

    Scale shape: the hash is map-side; the ONLY shuffle is the window's
    hash exchange on shard (n_shards-way), and each per-shard sort is
    1/n_shards of the data — never the single-partition global-window
    trap (see global_running_sum).
    """
    h = texts.md5int32(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", (F.col("_h") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .drop("_h")
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = texts.SHINGLE_WIDTH,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Train/test contamination report via shared word n-grams — the
    standard eval-decontamination primitive (GPT-3 appx. C / PaLM-style
    n-gram overlap): a test doc is contaminated when it shares at least
    one n-gram shingle with any training doc.

    Returns one row per CONTAMINATED test doc:
      (doc_id, n_grams, shared_grams, train_docs)
    where n_grams = the doc's distinct shingle count, shared_grams = how
    many of those occur anywhere in train, train_docs = distinct training
    docs sharing >= 1 gram.

    Scale shape: both corpora become (id, shingle) inverted indexes
    (map-side Arrow shingling), the contamination join is a hash equi-join
    on the shingle key, and both aggregates are partial-aggregated
    map-side. The shuffle carries only (shingle, id) pairs — never text.
    `max_shingle_df` drops stop-shingles by TRAIN document frequency (the
    same guard as ngram dedup): ubiquitous grams ("of the same") otherwise
    dominate the join output at corpus scale while signalling nothing
    about leakage.
    """
    sh_test = test.select(
        F.col(id_col), F.explode(texts.pd_shingles(texts.tokens(text_col), n)).alias("shingle")
    )
    sh_train = train.select(
        F.col(id_col).alias("_tid"),
        F.explode(texts.pd_shingles(texts.tokens(text_col), n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        freq = sh_train.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh_train = sh_train.join(
            freq.where(F.col("df") <= max_shingle_df), "shingle"
        ).select("_tid", "shingle")
    sizes = sh_test.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        sh_test.join(sh_train, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("shared_grams"),
            F.countDistinct("_tid").alias("train_docs"),
        )
    )
    return hits.join(sizes, id_col).select(
        id_col, "n_grams", "shared_grams", "train_docs"
    )


def bloom_contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 1024,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter shingle membership — the O(bits) alternative to the
    decontaminate join: the training corpus's distinct shingles are folded
    into a `bits`-wide Bloom bitmap (k md5-derived positions each, 32 bits
    per BIGINT word, OR-merged by a partial-aggregated `bit_or` — the
    bitmap is a mergeable sketch, so executors combine map-side), and the
    eval fold probes it with a BROADCAST join of <= bits/32 rows. The
    training corpus is never joined against — at 100 TB that's the whole
    point: one aggregate pass builds a constant-size filter.

    Returns one row per test doc: (doc_id, n_grams, bloom_hits,
    exact_hits). Bloom guarantees bloom_hits >= exact_hits (no false
    negatives); the gap is the false-positive count, bounded by the
    standard (1 - e^{-kn/m})^k rate. Every hash is md5 — the DuckDB twin
    reproduces the exact bitmap, so even the sketch is value-checked.
    """
    word_bits = 32
    # r13 optimization (guide §2.4): each fold's shingle relation is
    # referenced TWICE (its bloom/probe positions + the exact-hits join),
    # and the tokenize -> shingle kernel is a PythonUDF subtree that never
    # canonicalizes equal — unpersisted it ran twice per fold per query.
    # Stats-gated on each fold's INPUT estimate; a 100 TB train fold keeps
    # the recompute plan (its bitmap fold is one pass either way).
    sh_test = caches.persist_if_small(
        test.select(
            F.col(id_col),
            F.explode(texts.pd_shingles(texts.tokens(text_col))).alias("shingle"),
        ),
        test,
    )
    sh_train = caches.persist_if_small(
        train.select(
            F.explode(texts.pd_shingles(texts.tokens(text_col))).alias("shingle")
        ).distinct(),
        train,
    )

    def positions(df: DataFrame) -> DataFrame:
        pos = texts.md5int32(
            F.concat(F.col("shingle"), F.lit("#"), F.col("i").cast("string"))
        ) % bits
        return (
            df.crossJoin(spark_range_i(df, k))
            .withColumn("pos", pos)
            .withColumn("word", (F.col("pos") / word_bits).cast("int"))
            # F.shiftleft takes a literal shift amount; the SQL form accepts
            # a column
            .withColumn(
                "mask",
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {word_bits} AS INT))"),
            )
        )

    def spark_range_i(df: DataFrame, n: int) -> DataFrame:
        return df.sparkSession.range(n).select(F.col("id").cast("int").alias("i"))

    bloom = (
        positions(sh_train)
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probe = positions(sh_test).join(F.broadcast(bloom), "word", "left")
    per_shingle = (
        probe.groupBy(id_col, "shingle")
        .agg(
            F.bool_and(
                F.coalesce(F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False))
            ).alias("hit")
        )
    )
    exact = (
        sh_test.join(sh_train, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("exact_hits"))
    )
    return (
        per_shingle.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("hit").cast("int")).alias("bloom_hits"),
        )
        .join(exact, id_col, "left")
        .select(
            id_col,
            "n_grams",
            "bloom_hits",
            F.coalesce("exact_hits", F.lit(0)).alias("exact_hits"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token-repetition signals — the Gopher/C4-style
    repetition filter inputs: type-token ratio and the fraction of the doc
    covered by its single most frequent token.

    Returns (doc_id, n_tokens, n_types, ttr, top_token_ratio), ratios
    rounded to 4 decimals with the cross-engine convention. Empty docs are
    excluded (no tokens -> no rows after the explode).

    Shape: explode tokens -> two-level partial-aggregated groupBy keyed on
    doc id. The shuffle is keyed by (doc_id, token) then doc_id — heavy
    keys never leave the executor un-combined, and nothing is quadratic in
    document length (unlike a per-row HOF max-frequency scan).
    """
    tok = df.select(F.col(id_col), F.explode(texts.tokens(text_col)).alias("tok"))
    counts = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    r4 = lambda c: F.round(c * 10000) / 10000  # noqa: E731 - round4 convention
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.max("c").alias("top_count"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_types",
            r4(F.col("n_types") / F.col("n_tokens")).alias("ttr"),
            r4(F.col("top_count") / F.col("n_tokens")).alias("top_token_ratio"),
        )
    )
