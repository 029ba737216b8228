"""Semantic unit tests for the 100 TB extension operators (dedup,
similarity, text analysis) on hand-built micro-corpora — complements the
DuckDB oracle gate (tests/test_oracle_parity.py covers cross-engine value
parity; these assert the *behavior* is right on known inputs)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import conftest
from laposte_data_engineering_jedha_spark.functions import texts, vectors
from laposte_data_engineering_jedha_spark.operators import dedup, graphs, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "tiny"),  # < shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1 and 4 collapse, lowest id kept
    assert out[2] == 1 and out[3] == 1 and out[5] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_agrees_with_exact_jaccard(docs):
    rows = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 4) in got and got[(1, 4)]["jaccard"] == 1.0
    assert got[(1, 4)]["est_jaccard"] == 1.0  # identical sigs
    assert (1, 2) in got  # near-dup must band-collide at j~0.7
    # doc 5 (no shingles) must not appear anywhere
    assert not any(5 in p for p in got)


def test_simhash_exact_dup_distance_zero(docs):
    rows = dedup.simhash_pairs(docs, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert got[(1, 4)] == 0


def test_simhash_value_is_deterministic(spark):
    df = spark.createDataFrame([("a b c",)], "text string")
    hashes = F.transform(texts.tokens("text"), texts.md5int60)
    v1 = df.select(texts.simhash(hashes).alias("s")).first()["s"]
    v2 = df.select(texts.simhash(hashes).alias("s")).first()["s"]
    assert v1 == v2 and 0 <= v1 < 2**texts.SIMHASH_BITS


def test_simhash_hof_spec_equals_arrow_kernel(spark):
    """The interpreted HOF builder is the executable spec; the Arrow kernel
    must compute the identical 60-bit value."""
    df = spark.createDataFrame(
        [("the quick brown fox",), ("jumps over lazy dogs today",)], "text string"
    )
    spec = df.select(
        texts.simhash(F.transform(texts.tokens("text"), texts.md5int60)).alias("s")
    ).collect()
    kernel = df.select(
        texts.pd_simhash(texts.pd_token_hashes(texts.tokens("text"), hex_chars=15)).alias("s")
    ).collect()
    assert [r["s"] for r in spec] == [r["s"] for r in kernel]


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [1.0, 0.05, 0.0, 0.0]),  # closest to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_expression(vecs):
    row = vecs.where("vec_id = 0").crossJoin(
        vecs.where("vec_id = 3").select(F.col("embedding").alias("other"))
    ).select(vectors.cosine("embedding", "other").alias("c")).first()
    assert abs(row["c"] + 1.0) < 1e-12


def test_brute_force_knn_ordering(vecs):
    out = similarity.brute_force_knn(vecs, vecs.where("vec_id = 0"), k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["cand_id"] for r in ranked] == [4, 1]  # nearest first
    assert ranked[0]["cosine"] > ranked[1]["cosine"] > 0


def test_lsh_knn_subset_of_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    exact = similarity.brute_force_knn(emb, q, k=5).collect()
    approx = similarity.lsh_knn(emb, q, k=5, dim=64, planes=8).collect()
    exact_set = {(r["query_id"], r["cand_id"]): r["cosine"] for r in exact}
    # every LSH cosine must equal the exact cosine for that pair (same kernel)
    for r in approx:
        key = (r["query_id"], r["cand_id"])
        if key in exact_set:
            assert exact_set[key] == r["cosine"]
    # buckets cannot return more than k per query
    from collections import Counter
    per_q = Counter(r["query_id"] for r in approx)
    assert all(n <= 5 for n in per_q.values())


def test_ivf_knn_recall_and_exactness(spark, sf_dir, tmp_path):
    """IVF search over a DATA-FITTED quantizer (the m=1 pinned Lloyd fit,
    stored by ivf_index_write) must use the exact cosine kernel (values
    equal to brute force for the same pair) and reach reasonable recall
    with 4/16 probes."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_knn(emb, q, k=5).collect()
    idx = str(tmp_path / "ivf_idx")
    centers = similarity.pq_fit_lloyd_pinned(emb, m=1, k=16, dim=64)[0]
    similarity.ivf_index_write(emb, idx, centers)
    ivf = similarity.ivf_index_search(spark, idx, q, k=5, n_probe=4).collect()
    exact_cos = {(r["query_id"], r["cand_id"]): r["cosine"] for r in exact}
    for r in ivf:
        key = (r["query_id"], r["cand_id"])
        if key in exact_cos:
            assert exact_cos[key] == r["cosine"]
    hits = sum(1 for r in ivf if (r["query_id"], r["cand_id"]) in exact_cos)
    assert hits / len(exact) >= 0.2  # 4/16 probes on clusterless vectors


def test_embedding_lsh_pairs_subset_of_brute_force(spark, sf_dir):
    """Banded-LSH near-dup pairs must be a subset of the exact block-NL
    pairs with IDENTICAL cosines (same bit-deterministic kernel), and the
    LSH plan must not collect the corpus to the driver."""
    from laposte_data_engineering_jedha_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    lsh = dedup.embedding_dup_pairs_lsh(emb, threshold=0.4).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert exact[(r["id_a"], r["id_b"])] == r["cosine"]


def test_knn_zero_norm_vectors_excluded(spark):
    """Cosine is undefined for the zero vector: Spark yields NULL (0/0)
    while DuckDB yields NaN/inf, so a zero embedding would break the
    cross-engine hash gate and corrupt top-k ranking. All kNN entry
    points must silently drop zero-norm rows on both sides (round-3
    advice item)."""
    rows = [(0, [0.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i), 1.0, 0.5, float(i % 3)]) for i in range(1, 8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    graph = similarity.knn_graph(df, k=3, dim=4, bands=1, band_planes=2).collect()
    brute = similarity.brute_force_knn(df, df, k=3).collect()
    for out in (graph, brute):
        assert len(out) > 0
        ids = {r["query_id"] for r in out} | {r["cand_id"] for r in out}
        assert 0 not in ids
        assert all(r["cosine"] is not None for r in out)


def test_embedding_block_nl_fails_fast_over_cap(spark, sf_dir):
    """The exact block-NL baseline collects the corpus driver-side; a
    too-large corpus must raise BEFORE toPandas() with a pointer to the
    LSH scale path, instead of OOMing mid-collect (round-3 verdict item
    4)."""
    from laposte_data_engineering_jedha_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="embedding_dup_pairs_lsh"):
        dedup.embedding_dup_pairs(emb, threshold=0.4, max_rows=5)


def test_sketch_accuracy(spark, sf_dir):
    """Sketch estimates must land within their documented error of exact."""
    from laposte_data_engineering_jedha_spark.queries.sketch import (
        sketch_aggregates_raw,
    )
    from laposte_data_engineering_jedha_spark.queries import events_table

    approx = {
        r["event_type"]: r
        for r in sketch_aggregates_raw(events_table(spark, sf_dir)).collect()
    }
    exact = {
        r["event_type"]: r
        for r in events_table(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for et, e in exact.items():
        a = approx[et]
        assert abs(a["approx_users"] - e["users"]) <= max(2, 0.1 * e["users"])
        assert abs(a["approx_p50"] - e["p50"]) <= 0.15 * abs(e["p50"]) + 1e-9


def test_lang_id_and_tokens(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a hat"),
            (2, "le chat est sur le tapis avec un chapeau"),
            (3, "xyzzy plugh"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        texts.lang_id("text").alias("lang"),
        texts.token_count("text").alias("n"),
    ).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "fr"
    assert out[3]["lang"] == "und"
    assert out[4]["n"] == 0
    assert out[1]["n"] == 9


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([(1, "alpha beta"), (2, "beta alpha")], "id long, text string")
    fps = [r["fp"] for r in df.select(texts.rolling_fingerprint("text").alias("fp")).collect()]
    assert fps[0] != fps[1]  # same tokens, different order -> different prints


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 (transitive: 1~2, 2~3 but no 1~3 edge), island 7-8,
    # plus a cycle 10-11-12-10 — all must collapse to min-id components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path is the worst diameter case for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs)
    assert {r["component"] for r in out.collect()} == {100}
    assert out.count() == 13


def test_connected_components_driver_and_distributed_paths_agree(spark, monkeypatch):
    # r13 optimization: small edge sets take a driver union-find fast path
    # (graphs.DRIVER_MAX_EDGES gate); both paths must emit identical (node,
    # component) sets on a graph mixing chains, a cycle, islands and
    # out-of-order ids — and the distributed loop stays covered by forcing
    # the gate off.
    raw = (
        [(i, i + 1) for i in range(200, 230)]  # 31-node chain (deep diameter)
        + [(500, 400), (400, 300)]  # reversed-id chain
        + [(900, 901), (901, 902), (900, 902)]  # cycle
        + [(777, 778)]  # island
    )
    pairs = spark.createDataFrame(raw, "id_a long, id_b long")
    fast = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(graphs, "DRIVER_MAX_EDGES", -1)
    dist = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert fast == dist
    assert {c for _, c in fast} == {200, 300, 900, 777}


def test_global_running_sum_matches_naive(spark):
    from pyspark.sql import Window

    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.createDataFrame(
        [(i * 7 % 101, (i % 13) + 1) for i in range(101)], "k long, v long"
    )  # non-contiguous, shuffled order column
    got = {
        r["k"]: r["running_sum"]
        for r in corpus.global_running_sum(df, "k", "v", shards=8).collect()
    }
    naive = {
        r["k"]: r["c"]
        for r in df.withColumn(
            "c", F.sum("v").over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0))
        ).collect()
    }
    assert got == naive


def test_pack_sequences_blocks(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, 100), (2, 500), (3, 700), (4, 900), (5, 50)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: (r["start_offset"], r["seq_id"])
           for r in corpus.pack_sequences(df, budget=1000).collect()}
    # stream offsets: 0, 100, 600, 1300, 2200
    assert out == {1: (0, 0), 2: (100, 0), 3: (600, 0), 4: (1300, 1), 5: (2200, 2)}


def test_hash_sample_deterministic_and_disjoint(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in corpus.hash_sample(df, percent=10).collect()}
    b = {r["doc_id"] for r in corpus.hash_sample(df, percent=10).collect()}
    assert a == b  # reproducible
    assert 100 <= len(a) <= 300  # ~10% of 2000
    other = {r["doc_id"] for r in corpus.hash_sample(df, percent=10, salt="fold2").collect()}
    assert other != a  # salted fold differs


def test_stratified_hash_sample_rates(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    out = corpus.stratified_hash_sample(
        df, "lang", {"en": 50, "fr": 10}, default_percent=0
    ).groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in out}
    assert 600 <= counts["en"] <= 900  # ~50% of 1500
    assert 75 <= counts["fr"] <= 250  # ~10% of 1500
    # members of each stratum are a subset of the flat sample at the same rate
    en_50 = {r["doc_id"] for r in corpus.hash_sample(df, percent=50).collect()}
    got_en = {
        r["doc_id"]
        for r in corpus.stratified_hash_sample(
            df, "lang", {"en": 50}, default_percent=0
        ).collect()
    }
    assert got_en <= en_50


def test_mix_to_token_budget_rates_and_caps(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    # big: 4000 docs x 10 tokens = 40k tokens; small: 200 x 10 = 2k tokens
    df = spark.range(4200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 4000, "big").otherwise("small").alias("source"),
        F.lit(10).alias("n_tokens"),
    )
    # budget 8000 tokens: big target 50% -> 4000 of 40k = 10% rate;
    # small target 50% -> 4000 of 2k = capped at 100%
    out = corpus.mix_to_token_budget(
        df, "source", {"big": 5000, "small": 5000}, token_budget=8000
    )
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert counts["small"] == 200  # under-target domain kept whole
    assert 250 <= counts["big"] <= 550  # ~10% of 4000
    # unweighted domains are dropped entirely
    none_kept = corpus.mix_to_token_budget(df, "source", {"big": 10000}, 8000)
    assert none_kept.where(F.col("source") == "small").isEmpty()
    # deterministic: same kept set on re-run
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in out.collect()}
    assert a == b


def test_decontaminate_flags_overlap(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta nine"),  # shares 3-grams with 10
            (2, "totally novel sentence with unseen words"),
            (3, "three four five and alpha beta gamma"),  # hits both
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus.decontaminate(train, test).collect()}
    assert 2 not in out  # clean doc emits no row
    # doc 1: shingles {a b g, b g d, g d n? no - 'gamma delta nine'} ->
    # shared = {alpha beta gamma, beta gamma delta}
    assert out[1]["shared_grams"] == 2 and out[1]["train_docs"] == 1
    assert out[3]["shared_grams"] == 2 and out[3]["train_docs"] == 2
    # stop-shingle cap: df cap of 0 drops everything -> empty report
    assert corpus.decontaminate(train, test, max_shingle_df=0).isEmpty()


def test_repetition_stats_values(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in corpus.repetition_stats(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_types"] == 2
    assert out[1]["ttr"] == 0.5 and out[1]["top_token_ratio"] == 0.75
    assert out[2]["ttr"] == 1.0 and out[2]["top_token_ratio"] == 0.25


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1 (555) 123-4567 asap"),
            (3, "server at 192.168.0.17 responded"),
            (4, "no pii here at all"),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["c"] for r in df.select("id", texts.redact_pii("text").alias("c")).collect()
    }
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "call <PHONE> asap"
    assert got[3] == "server at <IP> responded"
    assert got[4] == "no pii here at all"


def test_chunk_with_overlap_boundaries(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    # 40 tokens, chunk=32 overlap=8 stride=24 -> chunks at 0 and 24
    text40 = " ".join(f"t{i}" for i in range(40))
    text10 = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text40), (2, text10)], "doc_id long, text string")
    out = corpus.chunk_with_overlap(df, chunk_tokens=32, overlap_tokens=8)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert {(1, 0), (1, 1), (2, 0)} == set(rows)
    assert rows[(1, 0)]["n_chunk_tokens"] == 32
    assert rows[(1, 1)]["n_chunk_tokens"] == 16  # tokens 24..39
    assert rows[(1, 1)]["chunk_text"].split()[:8] == [f"t{i}" for i in range(24, 32)]
    assert rows[(2, 0)]["chunk_text"] == text10
    with pytest.raises(ValueError):
        corpus.chunk_with_overlap(df, chunk_tokens=8, overlap_tokens=8)


@pytest.mark.parametrize(
    "sf",
    [
        p
        for p in (
            conftest.SF_SMOKE,
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
        )
        if os.path.isdir(p)
    ],
)
def test_chunk_overlap_oracle_cap_covers_fixture(sf):
    """The corpus_chunk_overlap SQL oracle bounds its chunk explode with
    _CHUNK_CAP while the Spark side is unbounded. If a fixture doc ever
    grew past the cap (~1,544 tokens) the oracle would silently emit fewer
    rows and the gate would fail as a confusing hash mismatch — assert the
    headroom explicitly so a fixture change surfaces here as a clear
    assertion instead (round-3 advice item)."""
    import duckdb

    from laposte_data_engineering_jedha_spark.queries import sql_toks, text as q_text

    max_chunks = duckdb.sql(
        f"""SELECT max(greatest(1, CAST(ceil(
                (len({sql_toks('text')}) - {q_text._OVERLAP})
                / CAST({q_text._CHUNK_STRIDE} AS DOUBLE)) AS INTEGER)))
            FROM read_parquet('{sf}/documents.parquet')"""
    ).fetchone()[0]
    assert max_chunks <= q_text._CHUNK_CAP, (
        f"{sf}: fixture needs {max_chunks} chunks > oracle cap "
        f"{q_text._CHUNK_CAP} — raise _CHUNK_CAP in queries/text.py"
    )


def test_weighted_priority_sample_monotone_and_stable(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, float(i % 7 + 1)) for i in range(200)], "doc_id long, w double"
    )
    top = corpus.weighted_priority_sample(df, "w", 20)
    got = [r["doc_id"] for r in top.collect()]
    assert len(got) == 20
    # deterministic across partitionings
    got2 = [r["doc_id"] for r in corpus.weighted_priority_sample(df.repartition(7), "w", 20).collect()]
    assert got == got2
    # same id -> same hash draw: scaling every weight up cannot change the set
    got3 = {r["doc_id"] for r in corpus.weighted_priority_sample(
        df.withColumn("w", F.col("w") * 10), "w", 20).collect()}
    assert set(got) == got3


def test_shard_layout_partitions_and_positions(spark):
    from laposte_data_engineering_jedha_spark.operators import corpus

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = corpus.shard_layout(df, n_shards=8).collect()
    assert len(out) == 500
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense 1..k
    # re-salting permutes: same rows, different order assignment
    out2 = corpus.shard_layout(df, n_shards=8, salt="epoch1").collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in out2
    }


def test_quantize_int8_values(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    ma = vectors.max_abs("embedding")
    scale = F.lit(127.0) / F.when(ma == 0.0, F.lit(None)).otherwise(ma)
    out = {
        r["vec_id"]: r["q"]
        for r in df.select(
            "vec_id", vectors.quantize_int8("embedding", scale).alias("q")
        ).collect()
    }
    # scale = 127 / 1.0; floor(x*127 + 0.5)
    assert out[1] == [64, -127, 32, 0]
    assert out[2] == [0, 0, 0, 0]  # zero vector -> all zeros, no NULLs


def test_events_funnel_ordering(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.events import events_funnel

    # sanity on the fixture: funnel counts are monotone non-increasing
    row = events_funnel(spark, sf_dir).collect()[0]
    assert row["n_view"] >= row["n_click_after_view"] >= row["n_purchase_after_click"]
    assert row["n_view"] > 0


def test_chunk_with_overlap_reconstructs_every_doc(spark):
    """Property: taking chunk 0 whole and the non-overlap tail (tokens
    after the first `overlap`) of every later chunk reconstructs the
    original token stream exactly — nothing dropped, nothing duplicated."""
    import random

    from laposte_data_engineering_jedha_spark.operators import corpus

    rng = random.Random(7)
    docs = [
        (i, " ".join(f"w{rng.randrange(50)}" for _ in range(rng.randrange(1, 120))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = corpus.chunk_with_overlap(df, chunk_tokens=32, overlap_tokens=8).collect()
    by_doc: dict[int, dict[int, str]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    for doc_id, text in docs:
        chunks = by_doc[doc_id]
        assert sorted(chunks) == list(range(len(chunks)))
        rebuilt = chunks[0].split(" ")
        for i in range(1, len(chunks)):
            rebuilt += chunks[i].split(" ")[8:]
        assert rebuilt == text.split(" "), doc_id


def test_survivors_component_min_not_local_min(spark):
    """Edges (1,5),(3,5): pair-wise keep-earliest keeps {1,3}; component
    dedup must keep only {1} (component min) plus untouched docs."""
    pairs = spark.createDataFrame([(1, 5), (3, 5)], "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 5]], "doc_id long")
    cc = dedup.connected_components(pairs).withColumnRenamed("node", "doc_id")
    survivors = sorted(
        r["doc_id"]
        for r in docs.join(cc, "doc_id", "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .collect()
    )
    assert survivors == [1, 2]  # 2 untouched, 1 = component min; 3 and 5 dropped


def test_quantize_error_bound_property(spark, sf_dir):
    """Dequantized values stay within half a quantization step of the
    original, and every non-zero vector hits +/-127 at its max |x|."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ma = vectors.max_abs("embedding")
    staged = emb.select(
        "vec_id",
        "embedding",
        (F.lit(127.0) / F.when(ma == 0.0, F.lit(None)).otherwise(ma)).alias("_s"),
    ).withColumn("_q", vectors.quantize_int8("embedding", F.col("_s")))
    err = F.aggregate(
        F.zip_with(
            "embedding", "_q", lambda x, q: F.abs(x.cast("double") - q / F.col("_s"))
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    checked = staged.where(F.col("_s").isNotNull()).select(
        "vec_id",
        (err <= 0.5 / F.col("_s") + 1e-12).alias("within_half_step"),
        F.array_contains(F.transform("_q", lambda q: F.abs(q)), 127).alias("hits_127"),
    )
    bad = checked.where(~F.col("within_half_step") | ~F.col("hits_127"))
    assert bad.isEmpty()


def test_bloom_no_false_negatives(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.text import corpus_bloom_contains

    out = corpus_bloom_contains(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r["bloom_hits"] >= r["exact_hits"], r  # bloom never misses
        assert r["n_grams"] >= r["bloom_hits"]


def test_containment_catches_superset_jaccard_misses(spark):
    from laposte_data_engineering_jedha_spark.operators import dedup as D

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words entirely different here")],
        "doc_id long, text string",
    )
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in D.ngram_containment_pairs(df, threshold=0.8).collect()}
    assert cont.get((1, 2)) == 1.0  # short doc fully contained
    jac = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) not in jac  # jaccard never fires on the superset pair
    assert not any(3 in p for p in cont)


def test_pq_codes_shape_and_range(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = similarity.pq_fit_lloyd_pinned(emb, m=4, k=16, dim=64)
    assert books.shape == (4, 16, 16)
    codes = emb.select(vectors.pd_fold_codes("embedding", books).alias("codes")).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 16 for c in r["codes"])


def test_pq_reconstruction_beats_mismatched_codebook(spark, sf_dir):
    """The fitted codebook must reconstruct the corpus it was fitted on
    better than a codebook fitted to a shifted copy — the basic 'the
    quantizer learned THIS density' check; and more subspaces must not
    reconstruct worse."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = similarity.pq_fit_lloyd_pinned(emb, m=4, k=16, dim=64)
    mse = conftest.pq_mse(emb, books)
    assert mse >= 0.0

    shifted = emb.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(7.5)).alias("embedding")
    )
    books_wrong = similarity.pq_fit_lloyd_pinned(shifted, m=4, k=16, dim=64)
    assert mse < conftest.pq_mse(emb, books_wrong)

    books8 = similarity.pq_fit_lloyd_pinned(emb, m=8, k=16, dim=64)
    assert conftest.pq_mse(emb, books8) <= mse * 1.05


def test_zipf_kernel_matches_numpy_polyfit(spark):
    """The Arrow OLS kernel must agree with numpy's lstsq-based polyfit on
    diverse frequency profiles (power-law, uniform, two-point, geometric)
    to float tolerance — the kernel exists for cross-engine BIT exactness
    vs DuckDB, this guards its math against silent formula drift."""
    import numpy as np

    profiles = [
        [int(1000 / r) for r in range(1, 65)],          # zipf-ish
        [50] * 30,                                       # uniform (slope 0)
        [1000, 1],                                       # two-point
        [2 ** i for i in range(20, 0, -1)],              # geometric
    ]
    df = spark.createDataFrame([(p,) for p in profiles], "fs array<long>")
    got = df.select(texts.pd_zipf_fit("fs").alias("fit")).collect()
    for p, row in zip(profiles, got):
        xs = np.log(np.arange(1, len(p) + 1))
        ys = np.log(np.array(p, dtype="float64"))
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(row["fit"]["slope"] - slope) < 1e-9, p
        assert abs(row["fit"]["intercept"] - intercept) < 1e-9, p


def test_typo_pairs_deletion_neighborhood(spark):
    """Planted typos: every true edit-distance-1 pair (substitution,
    deletion, insertion — all three edit kinds) surfaces exactly once;
    distance-2 decoys don't."""
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark sprak"),      # transposition = distance 2: NOT emitted
            (2, "table tible tables"),           # substitution + insertion
            (3, "join jon join"),                # deletion
            (4, "window windw window"),          # deletion
            (5, "value xylophone"),              # unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        (r["tok_a"], r["tok_b"])
        for r in dedup.typo_pairs(docs).collect()
    }
    assert ("table", "tible") in got
    assert ("table", "tables") in got
    assert ("join", "jon") in got
    assert ("window", "windw") in got
    assert ("spark", "sprak") not in got          # distance 2 (transposition)
    assert all(a < b for a, b in got)
    # and counts ride along for the fix-direction heuristic
    row = [r for r in dedup.typo_pairs(docs).collect() if r["tok_a"] == "join"][0]
    assert row["n_a"] == 2 and row["n_b"] == 1
