#!/usr/bin/env python
"""Scale smoke: run the heavy extension operators on corpora 20-200x the
test fixtures to verify the plans hold beyond toy sizes (no OOM, sane
scaling). Results recorded in SCALE.md.

    python scripts/scale_smoke.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.functions import texts
from laposte_data_engineering_jedha_spark.operators import corpus, dedup, similarity
from laposte_data_engineering_jedha_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def blown_up_docs(spark, times: int):
    """documents replicated `times`x with a deterministic per-copy token
    appended, so copies are near-dups (jaccard just under 1) of the
    original — the worst case for LSH candidate volume."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    reps = spark.range(times).select(F.col("id").alias("rep"))
    return docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
    )


def blown_up_vecs(spark, times: int):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    reps = spark.range(times).select(F.col("id").alias("rep"))
    return emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"), "embedding"
    )


def timed(label, df):
    t0 = time.perf_counter()
    n = df.count()
    print(f"{label:<44} rows={n:>10,}  {time.perf_counter() - t0:7.1f}s", flush=True)
    return n


def planted_dup_vecs(spark, n_base: int, n_dups: int, dim: int = 64):
    """n_base random-normal vectors + a perturbed near-copy (cos ~0.995) of
    the first n_dups — the realistic dedup workload (few-percent true dups
    in a near-orthogonal cloud). Copy of base id k gets vec_id k + 10^9."""
    base = spark.range(n_base).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.randn(seed=1000 + i) for i in range(dim)]).alias("embedding"),
    )
    dups = base.where(F.col("vec_id") < n_dups).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"),
        F.zip_with(
            "embedding",
            F.array(*[F.randn(seed=9000 + i) for i in range(dim)]),
            lambda x, y: x + 0.1 * y,
        ).alias("embedding"),
    )
    return base.unionByName(dups)


def emb_dedup_scale(spark, n_base=400_000, n_dups=20_000):
    """embedding_dup_pairs_lsh at 200x the sf0.1 embeddings corpus.

    Band geometry note: at near-orthogonal random corpora the random
    bucket-collision rate per band is 2^-band_planes, so band width must
    grow with log2(n) — 16-plane bands keep the candidate set ~10M at
    400k vectors while planted cos~0.995 dups still collide in >=1 of 8
    bands with p > 0.999 (amplification curve in the operator docstring).
    """
    vecs = planted_dup_vecs(spark, n_base, n_dups).cache()
    timed(f"corpus: {n_base // 1000}k randn + {n_dups // 1000}k planted dups", vecs)
    pairs = dedup.embedding_dup_pairs_lsh(
        vecs, threshold=0.9, bands=8, band_planes=16
    ).cache()
    timed(f"embedding_dup_pairs_lsh @{(n_base + n_dups) // 1000}k vectors", pairs)
    found = pairs.where(F.col("id_b") - F.col("id_a") == 1_000_000_000).count()
    print(f"planted-dup recall: {found}/{n_dups} = {found / n_dups:.4f}", flush=True)
    pairs.unpersist()
    vecs.unpersist()


def cc_scale(spark, n_clusters=200_000, cluster_size=5, chain_len=64):
    """connected_components on a 1M-edge synthetic graph: n_clusters
    star-shaped dup clusters (the realistic shape — copies of one template)
    plus a few worst-case long chains that force `chain_len`-hop label
    propagation. Verifies component count exactly."""
    hub = F.floor(F.col("id") / (cluster_size - 1)) * cluster_size
    stars = (
        spark.range(n_clusters * (cluster_size - 1))
        .select(
            hub.alias("id_a"),
            (hub + F.col("id") % (cluster_size - 1) + 1).alias("id_b"),
        )
    )
    base = 10_000_000_000
    chains = spark.range(chain_len).select(
        (base + F.col("id")).alias("id_a"), (base + F.col("id") + 1).alias("id_b")
    )
    pairs = stars.unionByName(chains).cache()
    timed(f"cc corpus: {n_clusters // 1000}k stars + {chain_len}-hop chain", pairs)
    cc = dedup.connected_components(pairs, max_iter=chain_len + 2).cache()
    timed(f"connected_components @{n_clusters * (cluster_size - 1) + chain_len} edges", cc)
    n_comp = cc.select("component").distinct().count()
    expect = n_clusters + 1
    print(f"components: {n_comp} (expect {expect}) {'OK' if n_comp == expect else 'WRONG'}",
          flush=True)
    cc.unpersist()
    pairs.unpersist()


def decon_scale(spark, times=20, cap=50):
    """decontaminate over the blown-up corpus with a 10% hash-sample eval
    fold — the worst case for the contamination join (every replica shares
    virtually all shingles with ~`times` train replicas, so without the
    train-df cap the join output is quadratic in the replication factor)."""
    docs = blown_up_docs(spark, times).cache()
    n = timed(f"decon corpus: documents x{times}", docs)
    bucket = texts.md5int32(F.col("doc_id").cast("string")) % 100
    report = corpus.decontaminate(
        docs.where(bucket >= 10), docs.where(bucket < 10), max_shingle_df=cap
    )
    timed(f"decontaminate (train df cap {cap}) @{n // 1000}k docs", report)
    report_uncapped = corpus.decontaminate(
        docs.where(bucket >= 10), docs.where(bucket < 10)
    )
    timed(f"decontaminate (uncapped) @{n // 1000}k docs", report_uncapped)
    docs.unpersist()


def pack_scale(spark, n=10_000_000):
    """pack_sequences on 10M docs — the op the naive global-window prefix
    sum executes in ONE partition (it would sort 10M rows on a single
    thread and cap at one executor's memory). Exactness check: the last
    block boundary must equal the total token count."""
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 997 + 1).alias("n_tokens")
    )
    packed = corpus.pack_sequences(docs, budget=2048).cache()
    timed(f"pack_sequences @{n // 1_000_000}M docs", packed)
    chk = packed.agg(
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("end"),
        F.sum("n_tokens").alias("total"),
    ).first()
    ok = chk["end"] == chk["total"]
    print(f"stream end {chk['end']:,} == total tokens {chk['total']:,}: "
          f"{'OK' if ok else 'WRONG'}", flush=True)
    packed.unpersist()


def repetition_scale(spark, times=200):
    docs = blown_up_docs(spark, times)
    timed(f"repetition_stats @{times * 5}k docs", corpus.repetition_stats(docs))


def clustered_vecs(spark, n: int, n_clusters: int = 32, spread: float = 0.3, dim: int = 64):
    """Mixture-of-Gaussians corpus — the realistic embedding shape (text
    embeddings cluster by topic). Row i belongs to cluster i % n_clusters;
    vector = center + spread * noise."""
    centers = spark.range(n_clusters).select(
        F.col("id").alias("_cl"),
        F.array(*[F.randn(seed=2000 + i) for i in range(dim)]).alias("_center"),
    )
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % n_clusters).alias("_cl"),
        F.array(*[F.randn(seed=5000 + i) for i in range(dim)]).alias("_noise"),
    )
    return base.join(F.broadcast(centers), "_cl").select(
        "vec_id",
        F.zip_with("_center", "_noise", lambda c, x: c + spread * x).alias("embedding"),
    )


def ivf_scale(spark, n_base=400_000, n_queries=16):
    """Stored IVF index at 200x the sf0.1 embeddings corpus: a data-fitted
    64-centroid quantizer (the m=1 pinned Lloyd fit), one fold-kernel
    assignment pass writing centroid-partitioned postings, and a search
    that only touches ~n_probe/n_centroids of the postings per query.
    Recall is judged against brute force on the same corpus, on BOTH
    corpus shapes: structureless randn (IVF's worst case — no clusters
    to exploit, recall ~= probe fraction) and a 32-cluster Gaussian
    mixture (the realistic embedding distribution)."""
    import shutil
    import tempfile

    for label, vecs in (
        ("randn", planted_dup_vecs(spark, n_base, 0)),
        ("32-cluster", clustered_vecs(spark, n_base)),
    ):
        vecs = vecs.cache()
        timed(f"corpus: {n_base // 1000}k {label} vectors", vecs)
        q = vecs.where(F.col("vec_id") < n_queries).cache()
        exact = similarity.brute_force_knn(vecs, q, k=5).cache()
        timed(f"brute_force_knn @{n_base // 1000}k {label}", exact)
        idx = tempfile.mkdtemp(prefix="scale_ivf_")
        t0 = time.perf_counter()
        centers = similarity.pq_fit_lloyd_pinned(vecs, m=1, k=64, dim=64)[0]
        similarity.ivf_index_write(vecs, f"{idx}/index", centers)
        print(f"ivf build (64 Lloyd lists) @{n_base // 1000}k {label}: "
              f"{time.perf_counter() - t0:.1f}s", flush=True)
        approx = similarity.ivf_index_search(
            spark, f"{idx}/index", q, k=5, n_probe=8
        ).cache()
        timed(f"ivf_index_search (probe 8) @{n_base // 1000}k {label}", approx)
        hit = exact.join(approx, ["query_id", "cand_id"], "inner").count()
        total = exact.count()
        print(f"{label} recall@5 vs brute force: {hit}/{total} = {hit / total:.3f}",
              flush=True)
        for d in (exact, approx, q, vecs):
            d.unpersist()
        shutil.rmtree(idx, ignore_errors=True)


def layout_scale(spark, n=10_000_000):
    """weighted_priority_sample + shard_layout at 10M rows — both must stay
    free of any global sort (TakeOrderedAndProject / per-shard windows)."""
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 977 + 1).cast("double").alias("w")
    )
    timed(
        f"weighted_priority_sample top-1000 @{n//10**6}M rows",
        corpus.weighted_priority_sample(rows, "w", 1000),
    )
    # aggregate over pos so ColumnPruning can't drop the window itself
    timed(
        f"shard_layout 256 shards @{n//10**6}M rows",
        corpus.shard_layout(rows, n_shards=256).groupBy("shard").agg(F.max("pos")),
    )


def chunk_scale(spark, times=200):
    """chunk_with_overlap at 1M docs (~60 tokens each): pure map-side
    explode — output amplification is the only cost."""
    docs = blown_up_docs(spark, times)
    timed(
        f"chunk_with_overlap @{times//2}0k docs",
        corpus.chunk_with_overlap(docs, chunk_tokens=32, overlap_tokens=8),
    )


def quantize_scale(spark, times=200):
    """int8 quantization at 400k vectors — per-row transforms only."""
    from laposte_data_engineering_jedha_spark.functions import vectors as V

    vecs = blown_up_vecs(spark, times)
    ma = V.max_abs("embedding")
    staged = vecs.select(
        "vec_id",
        "embedding",
        (F.lit(127.0) / F.when(ma == 0.0, F.lit(None)).otherwise(ma)).alias("_s"),
    )
    # noop write fully materializes q without count()'s column pruning
    out = staged.select("vec_id", V.quantize_int8("embedding", F.col("_s")).alias("q"))
    t0 = time.perf_counter()
    out.write.format("noop").mode("overwrite").save()
    print(
        f"{'quantize_int8 @' + str(times * 2) + 'k vectors':<44} "
        f"rows={times * 2000:>10,}  {time.perf_counter() - t0:7.1f}s",
        flush=True,
    )


def funnel_scale(spark, times=100):
    """events funnel at 10M events (events x100): one user_id exchange
    feeding three chained window aggregates."""
    from laposte_data_engineering_jedha_spark.queries import events_table
    from pyspark.sql import Window

    ev = events_table(spark, SF_DIR).select("user_id", "ts", "event_type")
    copies = spark.range(times).select(F.col("id").alias("_copy"))
    big = ev.crossJoin(copies).withColumn(
        "user_id", F.col("user_id") + F.col("_copy") * 1_000_000
    )
    w = Window.partitionBy("user_id")
    t, typ = F.col("ts"), F.col("event_type")
    df = big.withColumn("t1", F.min(F.when(typ == "view", t)).over(w))
    df = df.withColumn("t2", F.min(F.when((typ == "click") & (t > F.col("t1")), t)).over(w))
    df = df.withColumn("t3", F.min(F.when((typ == "purchase") & (t > F.col("t2")), t)).over(w))
    per_user = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.first("t3").alias("t3")
    )
    timed(f"events funnel @{times}x events", per_user)


def events_round5_scale(spark, times=100):
    """The round-5 events-family operators at 10M events (x100 blow-up
    with disjoint user_id spaces per copy): windowed top-k (map-side
    combine before the rank window), skew profiling, salted aggregation,
    and the mergeable HLL day->week rollup."""
    from pyspark.sql import Window
    from laposte_data_engineering_jedha_spark.operators import skew
    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, SF_DIR)
    copies = spark.range(times).select(F.col("id").alias("_copy"))
    big = ev.crossJoin(copies).withColumn(
        "user_id", F.col("user_id") + F.col("_copy") * 1_000_000
    ).select("user_id", "ts", "event_type", "value")

    agg = (
        big.select(F.col("ts").cast("date").alias("day"), "event_type",
                   F.col("value").cast("decimal(18,4)").alias("v"))
        .groupBy("day", "event_type")
        .agg(F.sum("v").cast("double").alias("revenue"))
    )
    w = Window.partitionBy("day").orderBy(F.col("revenue").desc(), "event_type")
    timed(
        f"windowed_topk @{times / 10:.0f}M events",
        agg.select("*", F.row_number().over(w).alias("rnk")).where(F.col("rnk") <= 3),
    )

    c = big.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    timed(
        f"skew_report @{times / 10:.0f}M events",
        c.agg(F.count(F.lit(1)).alias("n_keys"),
              F.expr("percentile(cnt, 0.99)").alias("p99")),
    )

    timed(
        f"salted_sum @{times / 10:.0f}M events",
        skew.salted_sum(big.where(F.col("event_type") == "purchase"), "user_id", "value"),
    )

    day = F.to_date("ts")
    week = F.floor(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    daily = big.select(day.alias("d"), "user_id").groupBy("d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    timed(
        f"hll day->week rollup @{times / 10:.0f}M events",
        daily.select(week.alias("week_idx"), "sk")
        .groupBy("week_idx")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")),
    )


def rarity_scale(spark, times=200):
    """text_rarity at 1M docs: explode -> vocab aggregate -> token-keyed
    join -> doc aggregate; all counts integer-exact."""
    docs = blown_up_docs(spark, times)
    tok = docs.select("doc_id", F.explode(texts.tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("gc"))
    out = (
        tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("gc").alias("sum_gc"))
    )
    timed(f"text_rarity @{times * 5}k docs", out)


def zscore_scale(spark, times=100):
    """per-(type, hour) z-score outliers at 10M events."""
    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, SF_DIR).select("event_type", "ts", "value")
    copies = spark.range(times).select(F.col("id").alias("_c"))
    big = ev.crossJoin(copies).withColumn(
        "value", F.col("value") + F.col("_c") * 0.001
    )
    base = big.where(F.col("value").isNotNull()).select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    dec = "decimal(18,4)"
    stats = base.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).cast("double").alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double").alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    var = F.col("svv") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.nullif(F.sqrt(F.greatest(var, F.lit(0.0))), F.lit(0.0))
    out = base.join(F.broadcast(stats), ["event_type", "hr"]).where(F.abs(z) >= 3.0)
    timed(f"events zscore outliers @{times}x events", out)


def graph_scale(spark, n=400_000):
    """knn_graph at 400k clustered vectors: bucket self-join; candidate
    volume ~ n * bucket_size. More planes keep buckets bounded."""
    vecs = clustered_vecs(spark, n).cache()
    timed(f"corpus: {n // 1000}k clustered vectors", vecs)
    g = similarity.knn_graph(vecs, k=3, dim=64, band_planes=12)
    timed(f"knn_graph (12 planes per band) @{n // 1000}k vectors", g)
    vecs.unpersist()


def bloom_scale(spark, times=20):
    """bloom_contamination at the decon_scale corpus (500k docs): the
    O(bits) membership sketch vs decontaminate's shingle join."""
    docs = blown_up_docs(spark, times).cache()
    n = timed(f"bloom corpus: documents x{times}", docs)
    bucket = texts.md5int32(F.col("doc_id").cast("string")) % 100
    report = corpus.bloom_contamination(
        docs.where(bucket >= 10), docs.where(bucket < 10)
    )
    timed(f"bloom_contamination @{n // 1000}k docs", report)
    docs.unpersist()


def curation_scale(spark, times=200):
    """Round-4b corpus-curation aggregates at 1M docs / 10M events: the
    bigram count job, trigram novelty (shingle df join), the Gopher rule
    funnel (pure map-side + tiny agg), the Zipf top-k fit, and exact
    DAU/WAU stickiness."""
    docs1m = blown_up_docs(spark, times).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
    ).cache()
    timed(f"corpus: documents x{times}", docs1m)

    bigrams = F.expr(
        "filter(transform(t, (x, i) -> "
        "IF(i < size(t) - 1, concat(x, ' ', element_at(t, i + 2)), NULL)), "
        "x -> x IS NOT NULL)"
    )
    bg = docs1m.select("doc_id", texts.tokens("text").alias("t")).select(
        "doc_id", F.explode(bigrams).alias("bigram")
    )
    top = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )
    timed(f"token_bigrams top-50 @{times * 5}k docs", top)

    sh = docs1m.select(
        "doc_id", F.explode(texts.pd_shingles(texts.tokens("text"))).alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    nov = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    timed(f"trigram_novelty @{times * 5}k docs", nov)

    n_tokens = texts.token_count("text")
    n_chars = F.length("text")
    stop_hits = texts.stopword_hits("text", "en")
    flags = docs1m.select(
        "source",
        F.when(n_tokens.between(10, 2000), 1).otherwise(0).alias("len_ok"),
        F.when(stop_hits >= 2, 1).otherwise(0).alias("stop_ok"),
        F.when(
            (n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)) >= 3.0), 1
        ).otherwise(0).alias("word_ok"),
    )
    funnel = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len_ok").alias("n_len"),
        F.sum("stop_ok").alias("n_stop"),
        F.sum("word_ok").alias("n_word"),
    )
    timed(f"gopher_rules funnel @{times * 5}k docs", funnel)

    tf = (
        docs1m.select(F.explode(texts.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    zipf = tf.orderBy(F.col("f").desc(), "tok").limit(64).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct((-F.col("f")).alias("nf"), "tok", "f"))),
            lambda s: s["f"],
        ).alias("fs")
    ).select(texts.pd_zipf_fit("fs").alias("fit"))
    timed(f"zipf_fit (top 64) @{times * 5}k docs", zipf)
    docs1m.unpersist()

    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, SF_DIR).select("ts", "user_id")
    copies = spark.range(100).select(F.col("id").alias("_c"))
    big = ev.crossJoin(copies).select(
        F.to_date("ts").alias("d"),
        (F.col("user_id") + F.col("_c") * 1000).alias("user_id"),
    )
    pairs = big.distinct()
    contrib = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    timed("daily_stickiness @10M events (15k users)", dau.join(wau, "day"))


def graph_chunk_scale(spark, times=200, ev_times=100):
    """Round-4c ops at 1M docs / 10M events: CDC chunking (windowed cumsum
    + per-chunk rebuild), type-affinity self-join, integer PageRank
    (edge derivation dominates; iterations are domain-sized)."""
    from laposte_data_engineering_jedha_spark.queries import events_table
    from pyspark.sql import Window

    docs1m = blown_up_docs(spark, times).cache()
    timed(f"corpus: documents x{times}", docs1m)
    toks = docs1m.select(
        "doc_id", F.posexplode(texts.tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    flagged = toks.withColumn(
        "b", F.when(texts.md5int32("tok") % 16 == 0, 1).otherwise(0)
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    assigned = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("b").over(w), F.lit(0)).cast("long")
    )
    chunks = assigned.groupBy("doc_id", "chunk_idx").agg(
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
    timed(f"cdc_chunks @{times * 5}k docs", chunks)
    docs1m.unpersist()

    ev = events_table(spark, SF_DIR).select("ts", "user_id", "event_type", "event_id")
    copies = spark.range(ev_times).select(F.col("id").alias("_c"))
    big = ev.crossJoin(copies).select(
        "ts", "event_type",
        (F.col("user_id") + F.col("_c") * 1000).alias("user_id"),
        (F.col("event_id") + F.col("_c") * 10_000_000).alias("event_id"),
    ).cache()
    timed(f"events x{ev_times}", big)

    pairs = big.select("user_id", "event_type").distinct()
    a = pairs.select("user_id", F.col("event_type").alias("ta"))
    b = pairs.select("user_id", F.col("event_type").alias("tb"))
    co = (
        a.join(b, "user_id").where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("n"))
    )
    timed(f"type_affinity @{ev_times * 100}k events", co)

    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = big.select(
        "event_type", F.lead("event_type").over(wseq).alias("nt")
    ).where(F.col("nt").isNotNull())
    edges = (
        seq.groupBy(F.col("event_type").alias("src"), F.col("nt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w_out", F.sum("n").over(Window.partitionBy("src")))
    )
    timed(f"pagerank edge derivation @{ev_times * 100}k events", edges)
    big.unpersist()


def skew_scale(spark, n=20_000_000, hot_frac=0.5):
    """Measured salting evidence: 20M-row aggregate where one key holds
    half the rows. Three variants: plain groupBy WITH AQE (the default
    path), plain groupBy with AQE skew handling off (what a naive engine
    does), salted two-phase (operators/skew.py). Also the skewed join
    against a 10k-row non-broadcastable side, salted vs not."""
    from laposte_data_engineering_jedha_spark.operators import skew

    rows = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise((F.col("id") % 100_000).cast("long"))
        .alias("k"),
        (F.col("id") % 977).cast("double").alias("v"),
    ).cache()
    timed(f"skew corpus: {n//10**6}M rows, key 0 = {int(hot_frac*100)}%", rows)

    plain = rows.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    timed("plain groupBy (AQE on)", plain)
    timed("salted_sum (8 salts)", skew.salted_sum(rows, "k", "v", salt=8))

    dim = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("attr")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        timed("plain skewed join (no broadcast)", rows.join(dim, "k").groupBy("attr").count())
        timed(
            "salted_join (8 salts, no broadcast)",
            skew.salted_join(rows, dim, "k", salt=8).groupBy("attr").count(),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    rows.unpersist()


def zorder_scale(spark, n=10_000_000):
    """Z-order write at 10M rows: quantile fit + codegen'd morton code +
    range shuffle; footer locality ratios printed for both dims."""
    import shutil
    import tempfile
    import time as _t

    from laposte_data_engineering_jedha_spark.operators import layout

    rows = spark.range(n).select(
        (F.col("id") % 100_000).cast("double").alias("a"),
        ((F.col("id") * 2654435761) % 1_000_000).cast("double").alias("b"),
    )
    tmp = tempfile.mkdtemp(prefix="zorder_scale_")
    try:
        t0 = _t.perf_counter()
        layout.write_zorder_clustered(rows, tmp, ["a", "b"], n_files=64)
        wall = _t.perf_counter() - t0
        ratios = {}
        for c in ("a", "b"):
            rg = layout.parquet_file_ranges(tmp, c)
            glo = min(lo for _, lo, _ in rg)
            ghi = max(hi for _, _, hi in rg)
            ratios[c] = sum(hi - lo for _, lo, hi in rg) / (len(rg) * (ghi - glo))
        print(
            f"zorder write @{n//10**6}M rows, 64 files: {wall:.1f}s  "
            f"span-ratios a={ratios['a']:.3f} b={ratios['b']:.3f}",
            flush=True,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def chain_scale(spark, n=1_000_000, n_exact=60_000, n_near=60_000, n_sem=60_000):
    """VERDICT r04 item 5: the FULL dedup chain exact -> minhash-LSH ->
    semantic, end-to-end on one >=1M-doc corpus (previously each stage was
    measured in isolation). Planted duplicates, one tier per stage:

      - base: `n` docs of 40 hash-derived tokens (5M-word vocab) -> all
        pairwise-unique texts AND near-orthogonal hash-derived vectors.
      - exact tier: verbatim copies of base ids [0, n_exact).
      - near tier: base ids [n_exact, n_exact+n_near) with 3 tokens
        appended (3-shingle Jaccard 38/41 = 0.927 >= 0.5 threshold).
      - semantic tier: fresh unique text (different hash salt -> zero
        shingle overlap) but a perturbed copy (cos ~ 0.9988) of the source
        doc's vector, for base ids [n_exact+n_near, ... + n_sem).

    Copies carry ids +2e9/+3e9/+4e9, so keep-earliest retains every base
    doc; a clean run removes exactly n_exact, then n_near, then n_sem, and
    the final survivor count is n + leakage (any tier's misses surface as
    excess survivors). Every stage is the registered operator itself."""
    vocab, n_tok = 5_000_000, 40

    def toks(idc, salt):
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_tok - 1)),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(idc, i, F.lit(salt)), F.lit(vocab))
            ),
        )

    base = spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(toks(F.col("id"), 1), " ").alias("text")
    )
    exact = base.where(F.col("doc_id") < n_exact).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text"
    )
    near = base.where(F.col("doc_id").between(n_exact, n_exact + n_near - 1)).select(
        (F.col("doc_id") + 3_000_000_000).alias("doc_id"),
        F.concat("text", F.lit(" za zb zc")).alias("text"),
    )
    sem_lo, sem_hi = n_exact + n_near, n_exact + n_near + n_sem
    sem = spark.range(sem_lo, sem_hi).select(
        (F.col("id") + 4_000_000_000).alias("doc_id"),
        F.array_join(toks(F.col("id"), 2), " ").alias("text"),
    )
    docs = base.unionByName(exact).unionByName(near).unionByName(sem)

    t_start = time.perf_counter()
    # stage 1: exact (hash-groupBy, keep lowest id)
    kept1 = dedup.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    sv1 = docs.join(kept1, "doc_id").persist()
    c1 = timed(f"chain stage 1/3 exact_dedup @{docs.count():,} docs", sv1)
    # stage 2: MinHash-LSH near-dup, keep-earliest (corpus_clean_pipeline policy)
    drop2 = (
        dedup.minhash_lsh_pairs(sv1, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    sv2 = sv1.join(drop2, "doc_id", "left_anti").persist()
    c2 = timed("chain stage 2/3 minhash_lsh", sv2)
    sv1.unpersist()
    # stage 3: semantic — hash-derived vector per surviving doc (semantic-tier
    # ids reuse their source doc's vector + 5% perturbation), banded
    # hyperplane LSH pairs, keep-earliest. 20-plane bands: random-pair
    # collision 2^-20/band (near-orthogonal corpus), planted cos 0.9988
    # recall 1-(1-0.9844^20)^8 > 0.9999.
    src_id = F.when(
        F.col("doc_id") >= 4_000_000_000, F.col("doc_id") - 4_000_000_000
    ).otherwise(F.col("doc_id"))
    unit = lambda idc, i, salt: (
        (F.pmod(F.xxhash64(idc, F.lit(i), F.lit(salt)), F.lit(2001)) - 1000) / 1000.0
    )
    vec = F.array(
        *[
            unit(src_id, i, 7)
            + F.when(
                F.col("doc_id") >= 4_000_000_000, 0.05 * unit(F.col("doc_id"), i, 8)
            ).otherwise(F.lit(0.0))
            for i in range(64)
        ]
    )
    emb = sv2.select(F.col("doc_id").alias("vec_id"), vec.alias("embedding"))
    drop3 = (
        dedup.embedding_dup_pairs_lsh(
            emb, threshold=0.99, dim=64, bands=8, band_planes=20
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    sv3 = sv2.join(drop3, "doc_id", "left_anti")
    c3 = timed("chain stage 3/3 semantic_lsh", sv3)
    total = time.perf_counter() - t_start
    sv2.unpersist()
    print(
        f"chain TOTAL {docs.count():,} -> {c1:,} -> {c2:,} -> {c3:,} "
        f"(target {n:,}; leakage {c3 - n:+,})  {total:7.1f}s",
        flush=True,
    )


def incr_scale(spark, n_base=1_000_000, n_batch=100_000, n_dups=5_000):
    """Incremental (batch-vs-index) dedup at corpus scale: a 100k-doc daily
    batch screened against a 1M-doc historical corpus with
    minhash_lsh_pairs_cross — the O(batch) amortized path. 5k batch docs
    are planted near-dups (3 tokens appended, Jaccard 0.927) of corpus
    docs; the rest are unique. Compare against SCALE.md's corpus-wide
    self-join numbers to see what ingestion saves."""
    vocab, n_tok = 5_000_000, 40

    def toks(idc, salt):
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_tok - 1)),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(idc, i, F.lit(salt)), F.lit(vocab))
            ),
        )

    base = spark.range(n_base).select(
        F.col("id").alias("doc_id"), F.array_join(toks(F.col("id"), 1), " ").alias("text")
    )
    dup_part = base.where(F.col("doc_id") < n_dups).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
        F.concat("text", F.lit(" za zb zc")).alias("text"),
    )
    fresh = spark.range(n_batch - n_dups).select(
        (F.col("id") + 3_000_000_000).alias("doc_id"),
        F.array_join(toks(F.col("id"), 2), " ").alias("text"),
    )
    batch = dup_part.unionByName(fresh)
    t0 = time.perf_counter()
    hits = dedup.minhash_lsh_pairs_cross(batch, base, threshold=0.5)
    flagged = hits.select("new_id").distinct().count()
    print(
        f"incr dedup (inline): {n_batch:,}-doc batch vs {n_base:,}-doc corpus -> "
        f"{flagged:,}/{n_dups:,} planted dups flagged  "
        f"{time.perf_counter() - t0:7.1f}s",
        flush=True,
    )
    # persisted-index variant: sign the corpus ONCE (the amortized cost),
    # then screening reads the bucketed index with no corpus-side Exchange
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="mh_idx_")
    try:
        t0 = time.perf_counter()
        dedup.write_minhash_index(base, "mh_idx_scale", tmp, n_buckets=64)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        flagged2 = (
            dedup.screen_against_minhash_index(spark, batch, "mh_idx_scale")
            .select("new_id")
            .distinct()
            .count()
        )
        t_screen = time.perf_counter() - t0
        print(
            f"incr dedup (index): build {t_build:6.1f}s once, screen "
            f"{t_screen:6.1f}s/batch -> {flagged2:,}/{n_dups:,} flagged",
            flush=True,
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_idx_scale_bands")
        spark.sql("DROP TABLE IF EXISTS mh_idx_scale_hashes")
        shutil.rmtree(tmp, ignore_errors=True)


def round5b_scale(spark) -> None:
    """The round-5 batch-2 operators at 20-200x fixture scale.

    - passage_dup_stats @1M docs: the blown-up corpus is the worst case —
      every 200-copy family shares ALL its full 8-token passages, so the
      dup-key join re-touches nearly every passage instance.
    - phash_pairs @100k media: 20-copy families of near-identical
      payloads — every family is a Hamming-0 clique, so candidate volume
      is the quadratic-in-family-size ceiling the band cap discussion in
      operators/dedup.py is about (bounded here by family size, not by
      corpus size).
    - text_oov_rate @1M docs: the explode is ~60M token rows; the vocab
      build must stay TakeOrderedAndProject (no global sort) and the
      anti join must broadcast.
    """
    from laposte_data_engineering_jedha_spark.operators import multimodal

    docs1m = blown_up_docs(spark, 200)
    timed("passage_dup_stats @1M docs", dedup.passage_dup_stats(docs1m))

    docs1m_full = blown_up_docs(spark, 200)
    t0 = time.perf_counter()
    # drive the same plan as the registered text_oov_rate, blown-up corpus
    toks = docs1m_full.select("doc_id", texts.tokens("text").alias("t"))
    vocab = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term").limit(20)
    )
    varr = vocab.agg(F.collect_list("term").alias("v"))
    n = (
        toks.crossJoin(F.broadcast(varr))
        .select(
            "doc_id",
            F.size(F.filter("t", lambda x: ~F.array_contains("v", x))).alias("n_oov"),
        )
        .count()
    )
    print(f"{'text_oov_rate @1M docs':<44} rows={n:>10,}  {time.perf_counter() - t0:7.1f}s", flush=True)

    docs100k = blown_up_docs(spark, 20).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    media = multimodal.media_table(docs100k)
    timed("phash_pairs @100k media", multimodal.phash_pairs(media, max_hamming=3))

    # 1M media with 200-copy families: the uncapped pair output would be
    # ~100M rows (quadratic in family size); the per-bucket cap bounds the
    # join while keeping every family connected (tests/test_round5b.py)
    docs1m_media = blown_up_docs(spark, 200).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    sims1m = multimodal.phash_media(multimodal.media_table(docs1m_media)).select(
        "doc_id", F.col("phash").alias("sim")
    )
    timed(
        "phash capped pairs (max_bucket=8) @1M media",
        dedup.hamming_band_pairs(sims1m, bits=60, max_hamming=3, max_bucket=8),
    )


def round5c_scale(spark) -> None:
    """Round-5 batch-3 operators at 100x-shape scale (VERDICT r05 item 5):

    - SCD2 fact-to-history join @10M facts / 8M dim versions: the
      warehouse fact pricing join as a key-partitioned sort-merge join
      with the [valid_from, valid_to) containment as a cheap residual —
      proving it never degenerates into a range cross join when both
      sides are large (2M keys x 4 versions; each fact matches exactly
      one version by interval disjointness).
    - dedup_incremental @5M-doc corpus / 200k-doc batch: the O(batch)
      banded screen at 5x the SCALE.md 1M-corpus row (both inline and
      persisted-index variants via incr_scale).
    """
    from laposte_data_engineering_jedha_spark.operators import merge

    n_keys, n_facts = 2_000_000, 10_000_000
    base_day = F.lit("2024-01-01").cast("date")
    vers = (
        spark.range(n_keys)
        .select(F.col("id").alias("k"), F.explode(F.sequence(F.lit(0), F.lit(3))).alias("version"))
        .select(
            "k",
            "version",
            (F.lit(100.0) + F.col("version") * 5).alias("price"),
            # versions 30 days apart per key, offset by a per-key phase
            F.date_add(base_day, (F.pmod(F.col("k"), F.lit(30)) + F.col("version") * 30).cast("int")).alias("valid_from"),
        )
    )
    dim = merge.scd2_history(vers, ["k"]).drop("is_current")
    facts = spark.range(n_facts).select(
        F.col("id").alias("fact_id"),
        F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("k"),
        F.date_add(base_day, F.pmod(F.xxhash64("id", F.lit(7)), F.lit(150)).cast("int")).alias("ship"),
    )
    joined = facts.join(
        dim,
        (facts["k"] == dim["k"])
        & (facts["ship"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (facts["ship"] < dim["valid_to"])),
    )
    timed("scd2 interval join @10M facts/8M versions", joined)
    incr_scale(spark, n_base=5_000_000, n_batch=200_000, n_dups=10_000)


def e2e100m_scale(spark) -> None:
    """The reference's benchmark scenario at 10x its own ceiling: 100M
    generated deliveries through the FULL E->T->L pipeline into
    all_but_xlsx (csv/json/parquet/sqlite). Above SINGLE_FILE_MAX_ROWS
    the auto single-file mode must switch csv/json/parquet to parallel
    multi-part directories (plans/load.py:29) — this run proves the
    switchover at scale: no coalesce(1) bottleneck, no OOM. SQLite stays
    a single file by nature (driver streams Arrow batches); its wall time
    is the expected serial tail, reported separately via stage prints."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.plans.pipeline import Pipeline
    from laposte_data_engineering_jedha_spark.sources.weather import FakeWeatherClient

    out = tempfile.mkdtemp(prefix="e2e100m_")
    try:
        config = {
            "source": {"type": "generate", "rows": 100_000_000, "seed": 7},
            "output": {"path": out, "format": "all_but_xlsx"},
        }
        t0 = time.perf_counter()
        Pipeline(config, spark, weather_client=FakeWeatherClient()).run()
        wall = time.perf_counter() - t0
        multi = {
            f: os.path.isdir(os.path.join(out, f"deliveries.{f}"))
            for f in ("csv", "json", "parquet")
        }
        print(
            f"e2e 100M rows -> all_but_xlsx: {wall:7.1f}s  "
            f"multi-part dirs: {multi}  "
            f"sqlite file: {os.path.isfile(os.path.join(out, 'deliveries.db'))}",
            flush=True,
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def round6_scale(spark) -> None:
    """Round-6 operators at 100x-shape scale: the blown-up events table
    (events x100 with shifted users ~ 10M events / 150k users) drives the
    interval-overlap join, label propagation, and session revenue; the
    1M-doc corpus drives the passage scrub."""
    from laposte_data_engineering_jedha_spark.queries import events, graph

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    reps = spark.range(100).select(F.col("id").alias("rep"))
    big = ev.crossJoin(reps).select(
        (F.col("event_id") + F.col("rep") * 10_000_000).alias("event_id"),
        # shift each replica by 1 minute so sessions/windows differ
        F.timestamp_add("MINUTE", F.col("rep").cast("int"), F.col("ts")).alias("ts"),
        (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    tmp = f"/tmp/round6_events_{os.getpid()}"
    big.write.mode("overwrite").parquet(tmp)
    try:
        # drive the registered queries against the blown-up table by
        # pointing events_table at the temp parquet via a shim sf_dir
        shim_dir = tmp + "_dir"
        os.makedirs(shim_dir, exist_ok=True)
        if not os.path.exists(f"{shim_dir}/events.parquet"):
            os.symlink(tmp, f"{shim_dir}/events.parquet")
        timed(
            "events_interval_overlap @10M events",
            events.events_interval_overlap(spark, shim_dir),
        )
        # label prop: an uncapped edge build is quadratic in hot-cell
        # membership by construction (this synthetic 100x peak puts every
        # replica's users in the same hour cells -> measured OOM); run the
        # capped star-to-representatives build at 20x (2M events,
        # ~2.6k-member peak cells), where the size gate picks the
        # _LP_CELL_CAP_BIG representatives per cell.
        sub = spark.read.parquet(tmp).where(F.col("event_id") < 200_000_000 + 10_000_000 * 20)
        tmp20 = tmp + "_20"
        sub.write.mode("overwrite").parquet(tmp20)
        shim20 = tmp20 + "_dir"
        os.makedirs(shim20, exist_ok=True)
        if not os.path.exists(f"{shim20}/events.parquet"):
            os.symlink(tmp20, f"{shim20}/events.parquet")
        timed(
            f"label_prop (cap {graph._LP_CELL_CAP_BIG}) @2M events",
            graph.graph_label_prop_communities(spark, shim20),
        )
        timed(
            "events_session_revenue @10M events",
            events.events_session_revenue(spark, shim_dir),
        )
        docs1m = blown_up_docs(spark, 200)
        toks = docs1m.select("doc_id", texts.tokens("text").alias("t"))
        pl = toks.select(
            "doc_id",
            F.expr(
                "transform(slice(sequence(0, greatest(cast(ceil(size(t) / 8) as int) - 1, 0)), "
                "1, cast(ceil(size(t) / 8) as int)), "
                "i -> array_join(slice(t, i * 8 + 1, 8), ' '))"
            ).alias("ps"),
        )
        p = pl.select("doc_id", F.posexplode("ps").alias("pos", "passage"))
        dupkeys = (
            p.groupBy(F.md5("passage").alias("k"))
            .agg(F.count_distinct("doc_id").alias("nd"))
            .where(F.col("nd") >= 2)
            .select("k")
        )
        kept = p.withColumn("k", F.md5("passage")).join(dupkeys, "k", "left_anti")
        scrub = kept.groupBy("doc_id").agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "passage"))),
                        lambda s: s["passage"],
                    ),
                    " ",
                )
            ).alias("clean_md5")
        )
        timed("corpus_passage_scrub @1M docs", scrub)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp + "_dir", ignore_errors=True)
        shutil.rmtree(tmp + "_20", ignore_errors=True)
        shutil.rmtree(tmp + "_20_dir", ignore_errors=True)


def round6b_scale(spark) -> None:
    """Round-6 batch 2-4 operators at 20-200x fixtures, exercised through
    the REAL registered query functions by staging blown-up tables into a
    temp sf_dir (so the measured plan is the registered plan):

    - events_heavy_hitters at ~21M events / 30k distinct users with a
      planted hot key (~5%% of traffic): the MG budget (128) is far below
      the distinct count, so per-partition evictions are constant-memory
      real; result asserted equal to the plain groupBy/HAVING.
    - events_kmv_distinct at 21M events / 30k distinct: the salted
      two-level window path.
    - events_pattern_match / events_attribution_position at 10M events.
    - embedding_kmedoid_step at 400k vectors.
    """
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import (
        events,
        events_table,
        similarity as q_similarity,
    )

    tmp = tempfile.mkdtemp(prefix="scale_round6b_")
    try:
        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        big = ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        hot = ev.crossJoin(spark.range(10).select(F.col("id").alias("_h"))).select(
            (F.col("event_id") + F.col("_h") * 1_000_000_000 + 500_000_000).alias(
                "event_id"
            ),
            "ts",
            F.lit(424_242).cast("long").alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        big.unionByName(hot).write.mode("overwrite").parquet(f"{tmp}/events.parquet")

        timed("heavy_hitters (MG 2-pass) @21M events",
              events.events_heavy_hitters(spark, tmp))
        got = {
            (r["user_id"], r["n_events"])
            for r in events.events_heavy_hitters(spark, tmp).collect()
        }
        plain = events_table(spark, tmp).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        n_total = events_table(spark, tmp).count()
        want = {
            (r["user_id"], r["n_events"])
            for r in plain.where(F.col("n_events") * 120 > n_total).collect()
        }
        assert got == want, (got, want)
        print(f"  MG result == plain GROUP BY/HAVING: {sorted(got)}")
        timed("kmv_distinct @21M events / 30k users",
              events.events_kmv_distinct(spark, tmp))
        timed("pattern_match @21M events",
              events.events_pattern_match(spark, tmp))
        timed("attribution_position @21M events",
              events.events_attribution_position(spark, tmp))

        vecs = blown_up_vecs(spark, 80)
        vecs.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        timed("kmedoid_step @400k vectors",
              q_similarity.embedding_kmedoid_step(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round6c_scale(spark) -> None:
    """Round-6 batch 5-9 operators at 20-200x fixtures through the real
    registered query functions (staged temp sf_dir, disjoint user spaces
    per copy): forward as-of, CEP completions, audience overlap,
    seasonal-naive forecast, table checksums, minhash calibration."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import (
        dedup as q_dedup,
        events,
        events_table,
        text,
    )

    tmp = tempfile.mkdtemp(prefix="scale_round6c_")
    try:
        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        big = ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        big.write.mode("overwrite").parquet(f"{tmp}/events.parquet")

        timed("asof_next_error (forward) @21M events",
              events.events_asof_next_error(spark, tmp))
        timed("cep_completions @21M events",
              events.events_cep_completions(spark, tmp))
        timed("audience_overlap @21M events",
              events.events_audience_overlap(spark, tmp))
        timed("forecast_seasonal_naive @21M events",
              events.events_forecast_seasonal_naive(spark, tmp))

        docs = blown_up_docs(spark, 200)
        docs.select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("web").alias("source"), F.length("text").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("length_gini @1M docs", text.corpus_length_gini(spark, tmp))
        docs100k = blown_up_docs(spark, 20)
        docs100k.select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("web").alias("source"), F.length("text").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("minhash_calibration @100k docs",
              q_dedup.dedup_minhash_calibration(spark, tmp))

        from laposte_data_engineering_jedha_spark.queries import similarity as q_similarity

        vecs = blown_up_vecs(spark, 80)
        vecs.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        timed("power_iteration @400k vectors",
              q_similarity.embedding_power_iteration(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round6d_scale(spark) -> None:
    """Round-6 batch 11-14 at 10-200x fixtures through the registered
    query functions: events features/journeys at 21M events, lineitem
    economics (HHI, ABC, cumulative share, SLA percentiles, basket
    rules) at ~6M lines (10x, disjoint order/part key spaces)."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import events, events_table, olap

    tmp = tempfile.mkdtemp(prefix="scale_round6d_")
    try:
        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        big = ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        big.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        # count() alone would let ColumnPruning drop the window exprs —
        # aggregate a produced column so the windows actually execute
        timed(
            "lag_features @21M events",
            events.events_lag_features(spark, tmp).agg(
                F.sum("roll5_cents").alias("_chk")
            ),
        )
        timed("markov_absorb2 @21M events", events.events_markov_absorb2(spark, tmp))
        timed("sankey_edges @21M events", events.events_sankey_edges(spark, tmp))
        timed("new_vs_returning @21M events",
              events.events_new_vs_returning(spark, tmp))

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        lcopies = spark.range(10).select(F.col("id").alias("_c"))
        li_rest = [c for c in li.columns if c != "l_orderkey"]
        bigli = li.crossJoin(lcopies).select(
            (F.col("l_orderkey") + F.col("_c") * 100_000_000).alias("l_orderkey"),
            *li_rest,
        )
        bigli.write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        for t in ["orders", "supplier", "nation", "part"]:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{t}.parquet")
        # orders also 10x so the lineitem->orders join keys resolve
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        rest = [c for c in o.columns if c != "o_orderkey"]
        o.crossJoin(lcopies).select(
            (F.col("o_orderkey") + F.col("_c") * 100_000_000).alias("o_orderkey"),
            *rest,
        ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")

        timed("supplier_hhi @6M lines", olap.olap_supplier_hhi(spark, tmp))
        timed("cumulative_share @6M lines",
              olap.olap_cumulative_revenue_share(spark, tmp))
        timed("abc_classification @6M lines",
              olap.olap_abc_classification(spark, tmp))
        timed("ship_cycle_percentiles @6M lines",
              olap.olap_ship_cycle_percentiles(spark, tmp))
        timed("basket_affinity @6M lines", olap.olap_basket_affinity(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round6e_scale(spark) -> None:
    """Round-6 batch 15-17 at 200x fixtures through the registered query
    functions (matches the SCALE.md 'batch 15-17' rows): TV distance +
    cross-source passage matrix at 1M docs, bounce rate at 21M events,
    and the gemm-kernel 1-NN probe at 400k vectors."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import (
        events,
        events_table,
        similarity as q_similarity,
        text,
    )

    tmp = tempfile.mkdtemp(prefix="scale_round6e_")
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        reps = spark.range(200).select(F.col("id").alias("rep"))
        docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
            "lang", "source", "n_chars",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("tv_distance @1M docs", text.corpus_source_tv_distance(spark, tmp))
        timed("cross_source_dupes @1M docs (worst case)",
              text.corpus_cross_source_dupes(spark, tmp))

        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        timed("bounce_rate @21M events",
              events.events_session_bounce_rate(spark, tmp))

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            "embedding", "label",
        ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        timed("knn_label_accuracy (gemm) @400k vectors",
              q_similarity.embedding_knn_label_accuracy(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round7_scale(spark) -> None:
    """The four round-6 families VERDICT r6 item 7 flagged as lacking
    SCALE.md rows, through the registered query functions: RFM segments +
    cohort LTV at 21M events (200x), discount/quantity correlation and
    the FK orphan report at ~6M lineitem / 150k orders (10x, key spaces
    kept disjoint so the FK edges stay resolvable)."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import (
        dq,
        events,
        events_table,
        olap,
    )

    tmp = tempfile.mkdtemp(prefix="scale_round7_")
    try:
        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        timed("rfm_segments @21M events", events.events_rfm_segments(spark, tmp))
        timed("cohort_ltv @21M events", events.events_cohort_ltv(spark, tmp))

        lcopies = spark.range(10).select(F.col("id").alias("_c"))
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        li_rest = [c for c in li.columns if c != "l_orderkey"]
        li.crossJoin(lcopies).select(
            (F.col("l_orderkey") + F.col("_c") * 100_000_000).alias("l_orderkey"),
            *li_rest,
        ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        o_rest = [c for c in o.columns if c != "o_orderkey"]
        o.crossJoin(lcopies).select(
            (F.col("o_orderkey") + F.col("_c") * 100_000_000).alias("o_orderkey"),
            *o_rest,
        ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        for t in ["customer", "nation", "supplier", "part"]:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{t}.parquet")
        timed("discount_quantity_corr @6M lines",
              olap.olap_discount_quantity_corr(spark, tmp))
        timed("referential_orphans @6M lines",
              dq.dq_referential_orphans(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round7b_scale(spark) -> None:
    """Round-7 session additions at 10-200x fixtures through the
    registered query functions: ML-feature/eval + time-series + ER/DQ at
    21M events / 6M lineitem / 1M docs / 400k vectors. Measures every
    new family (dedup_threshold_sweep runs at 100k docs like the minhash
    calibration — its cost IS the dedup pass it tunes)."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import (
        dedup as q_dedup,
        dq,
        events,
        events_table,
        io,
        olap,
        similarity as q_similarity,
        text,
    )

    tmp = tempfile.mkdtemp(prefix="scale_round7b_")
    try:
        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        timed("target_encoding @21M events",
              events.events_target_encoding(spark, tmp)
              .agg(F.sum("te_value").alias("_chk")))
        timed("value_auc @21M events", q_similarity.eval_value_auc(spark, tmp))
        timed("bot_detection @21M events", events.events_bot_detection(spark, tmp))
        timed("dau_wau @21M events", events.events_dau_wau_ratio(spark, tmp))
        timed("holt_linear @21M events", events.events_holt_linear(spark, tmp))
        timed("weekday_seasonality @21M events",
              events.events_weekday_seasonality(spark, tmp))
        timed("error_burn_rate @21M events",
              events.events_error_burn_rate(spark, tmp))
        timed("transition_timing @21M events",
              events.events_transition_timing(spark, tmp))
        timed("asof_nearest @21M events",
              events.events_asof_nearest_error(spark, tmp))

        lcopies = spark.range(10).select(F.col("id").alias("_c"))
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        li_rest = [c for c in li.columns if c != "l_orderkey"]
        li.crossJoin(lcopies).select(
            (F.col("l_orderkey") + F.col("_c") * 100_000_000).alias("l_orderkey"),
            *li_rest,
        ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        o_rest = [c for c in o.columns if c != "o_orderkey"]
        o.crossJoin(lcopies).select(
            (F.col("o_orderkey") + F.col("_c") * 100_000_000).alias("o_orderkey"),
            *o_rest,
        ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        for t in ["customer", "nation", "supplier", "part", "documents",
                  "embeddings"]:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{t}.parquet")
        timed("corr_matrix @6M lines", olap.olap_numeric_corr_matrix(spark, tmp))
        timed("open_order_backlog @6M lines",
              olap.olap_open_order_backlog(spark, tmp))
        timed("monthly_median @6M lines",
              olap.olap_monthly_median_order_value(spark, tmp))
        timed("share_momentum @6M lines",
              olap.olap_nation_share_momentum(spark, tmp))
        timed("uniqueness_report @6M lines (7 tables)",
              dq.dq_uniqueness_report(spark, tmp))
        timed("snapshot_rowdiff @1.5M orders",
              dq.dq_snapshot_rowdiff(spark, tmp))
        timed("freshness_report @27M rows", dq.dq_freshness_report(spark, tmp))

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        reps = spark.range(200).select(F.col("id").alias("rep"))
        docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
            "lang", "source", "n_chars",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("bpe_merge_step @1M docs", text.text_bpe_merge_step(spark, tmp))
        timed("ngram_coverage @1M docs", text.corpus_ngram_coverage(spark, tmp))
        timed("vocab_first_seen @1M docs",
              text.corpus_vocab_first_seen(spark, tmp))
        timed("chunk_windows @1M docs",
              io.multimodal_chunk_windows(spark, tmp)
              .agg(F.sum("end_ms").alias("_chk")))
        timed("part_name_links @20k parts (distinct-name grain)",
              dq.dq_part_name_links(spark, tmp))

        docs.crossJoin(spark.range(20).select(F.col("id").alias("rep"))).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
            "lang", "source", "n_chars",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("threshold_sweep @100k docs", q_dedup.dedup_threshold_sweep(spark, tmp))

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            "embedding", "label",
        ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        timed("bucket_skew @400k vectors", q_similarity.embedding_bucket_skew(spark, tmp))
        timed("norm_profile @400k vectors",
              q_similarity.embedding_norm_profile(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round7c_scale(spark) -> None:
    """Round-7 batches 10-12 at 10-200x fixtures through the registered
    query functions."""
    import shutil
    import tempfile

    from laposte_data_engineering_jedha_spark.queries import (
        dedup as q_dedup,
        dq,
        events,
        events_table,
        olap,
        similarity as q_similarity,
        stream,
        text,
    )

    tmp = tempfile.mkdtemp(prefix="scale_round7c_")
    try:
        ev = events_table(spark, SF_DIR)
        copies = spark.range(200).select(F.col("id").alias("_copy"))
        ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("_copy") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        timed("tumbling_dau chain @21M events", stream.stream_tumbling_dau(spark, tmp))
        timed("engagement_breadth @21M events",
              events.events_engagement_breadth(spark, tmp))
        timed("first_digit @21M events", dq.dq_value_first_digit(spark, tmp))
        timed("weekday_hour_heatmap @21M events",
              events.events_weekday_hour_heatmap(spark, tmp))

        lcopies = spark.range(10).select(F.col("id").alias("_c"))
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        li_rest = [c for c in li.columns if c != "l_orderkey"]
        li.crossJoin(lcopies).select(
            (F.col("l_orderkey") + F.col("_c") * 100_000_000).alias("l_orderkey"),
            *li_rest,
        ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        o_rest = [c for c in o.columns if c != "o_orderkey"]
        o.crossJoin(lcopies).select(
            (F.col("o_orderkey") + F.col("_c") * 100_000_000).alias("o_orderkey"),
            *o_rest,
        ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        for t in ["customer", "nation", "supplier", "part", "embeddings"]:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{t}.parquet")
        timed("returns_rate @6M lines", olap.olap_returns_rate_by_brand(spark, tmp))
        timed("delay_variance @6M lines",
              olap.olap_supplier_delay_variance(spark, tmp))
        timed("log2_histogram @6M lines",
              olap.olap_order_value_log2_histogram(spark, tmp))
        timed("reorder_interval @1.5M orders", olap.olap_reorder_interval(spark, tmp))
        timed("customer_concentration @1.5M orders",
              olap.olap_customer_concentration(spark, tmp))

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        reps = spark.range(200).select(F.col("id").alias("rep"))
        docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
            "lang", "source", "n_chars",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("shingle_df_profile @1M docs",
              text.corpus_shingle_df_profile(spark, tmp))
        docs.crossJoin(spark.range(20).select(F.col("id").alias("rep"))).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
            "lang", "source", "n_chars",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        timed("transitivity_gap @100k docs", q_dedup.dedup_transitivity_gap(spark, tmp))

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            "embedding", "label",
        ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        timed("triplet_violation_rate @400k vectors",
              q_similarity.embedding_triplet_violation_rate(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SECTIONS = {
    "round7": round7_scale,
    "round7b": round7b_scale,
    "round7c": round7c_scale,
    "round6b": round6b_scale,
    "round6c": round6c_scale,
    "round6d": round6d_scale,
    "round6e": round6e_scale,
    "chain": chain_scale,
    "incr": incr_scale,
    "round5b": round5b_scale,
    "round5c": round5c_scale,
    "e2e100m": e2e100m_scale,
    "round6": round6_scale,
    "events5": events_round5_scale,
    "curation": curation_scale,
    "graphchunk": graph_chunk_scale,
    "skew": skew_scale,
    "zorder": zorder_scale,
    "dedup": lambda spark: _dedup_section(spark),
    "vecs": lambda spark: _vec_section(spark),
    "ivf": ivf_scale,
    "embdedup": emb_dedup_scale,
    "cc": cc_scale,
    "decon": decon_scale,
    "pack": pack_scale,
    "repetition": repetition_scale,
    "layout": layout_scale,
    "chunk": chunk_scale,
    "quantize": quantize_scale,
    "funnel": funnel_scale,
    "rarity": rarity_scale,
    "zscore": zscore_scale,
    "graph": graph_scale,
    "bloom": bloom_scale,
}


def _dedup_section(spark) -> None:
    docs100k = blown_up_docs(spark, 20).cache()
    timed("corpus: documents x20", docs100k)
    timed("exact_dedup @100k docs", dedup.exact_dedup(docs100k))
    timed("minhash_lsh_pairs @100k docs", dedup.minhash_lsh_pairs(docs100k))
    timed("simhash_pairs @100k docs", dedup.simhash_pairs(docs100k, max_hamming=1))
    timed(
        "ngram_jaccard (df cap 100) @100k docs",
        dedup.ngram_jaccard_pairs(docs100k, threshold=0.5, max_shingle_df=100),
    )
    docs100k.unpersist()
    docs1m = blown_up_docs(spark, 200)
    timed("exact_dedup @1M docs", dedup.exact_dedup(docs1m))


def _vec_section(spark) -> None:
    vecs40k = blown_up_vecs(spark, 20).cache()
    timed("corpus: embeddings x20", vecs40k)
    q = vecs40k.where(F.col("vec_id") < 8)
    timed("brute_force_knn @40k vectors", similarity.brute_force_knn(vecs40k, q, k=5))
    timed("lsh_knn @40k vectors", similarity.lsh_knn(vecs40k, q, k=5, dim=64, planes=8))
    vecs40k.unpersist()


def main() -> None:
    spark = get_spark(app_name="scale_smoke")
    wanted = sys.argv[1:] or ["dedup", "vecs"]
    for name in wanted:
        SECTIONS[name](spark)


if __name__ == "__main__":
    main()
