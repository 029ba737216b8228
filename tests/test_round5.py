"""Round-5 additions: pinned-codebook PQ/IVF verification twins.

The DuckDB hash parity of the pinned-codebook twins (queries/similarity.py) is covered by the oracle gate
(tests/test_oracle_parity.py runs every registered oracle); these tests pin
the OTHER equivalences — the registered queries (fold Arrow kernels) must
agree with the pure-Catalyst folds and with an independent numpy
reference on the same pinned codebook, so a kernel regression can't hide
behind a green SQL gate."""

from __future__ import annotations

import conftest
import numpy as np
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.functions import vectors
from laposte_data_engineering_jedha_spark.operators import similarity
from laposte_data_engineering_jedha_spark.queries import similarity as q_similarity, table


def test_pinned_codebook_shape_and_values():
    cb = similarity.pinned_codebook(4, 16, 16)
    assert cb.shape == (4, 16, 16)
    assert cb.min() >= -1.0 and cb.max() <= 1.0
    # exact multiples of 1/8 (binary-exact across engines)
    assert np.all(cb * 8 == np.round(cb * 8))
    # centroids within a subspace are pairwise distinct
    for j in range(4):
        assert len({tuple(c) for c in cb[j]}) == 16


def test_pq_pinned_catalyst_equals_arrow_kernel(spark, sf_dir):
    """The registered pinned encode (fold Arrow kernel) must emit exactly
    the per-subspace Catalyst fold argmin codes."""
    emb = table(spark, sf_dir, "embeddings")
    catalyst = {
        r["vec_id"]: r["codes"]
        for r in emb.select(
            "vec_id",
            F.array(
                *[q_similarity._spark_argmin(j, 16, 16).cast("int") for j in range(4)]
            ).alias("codes"),
        ).collect()
    }
    kernel = q_similarity.embedding_pq_encode_pinned(spark, sf_dir).collect()
    assert len(kernel) == len(catalyst) > 0
    for r in kernel:
        assert [r[f"code{j}"] for j in range(4)] == catalyst[r["vec_id"]]


def test_ivf_pinned_catalyst_equals_arrow_kernel(spark, sf_dir):
    """The registered pinned IVF assignment (fold Arrow kernel) must pick
    exactly the Catalyst fold argmin centroid."""
    emb = table(spark, sf_dir, "embeddings")
    catalyst = {
        r["vec_id"]: r["cent"]
        for r in emb.select(
            "vec_id", q_similarity._spark_argmin(0, 16, 64).cast("int").alias("cent")
        ).collect()
    }
    rows = q_similarity.ivf_assign_pinned(spark, sf_dir).collect()
    assert len(rows) == len(catalyst) > 0
    for r in rows:
        assert r["centroid"] == catalyst[r["vec_id"]]
        assert r["d2"] >= 0.0


def test_ivf_pinned_d2_is_true_min_distance(spark, sf_dir):
    """d2 must be the distance to the reported centroid (not some other
    list element) — recompute in numpy."""
    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in emb.collect()}
    for r in q_similarity.ivf_assign_pinned(spark, sf_dir).limit(50).collect():
        d2 = ((vecs[r["vec_id"]] - centers[r["centroid"]]) ** 2).sum()
        assert abs(d2 - r["d2"]) < 1e-6


def test_fold_kernels_bit_identical_to_catalyst_folds(spark, sf_dir):
    """The registered pinned twins now run vectors.pd_fold_* Arrow kernels;
    the DuckDB oracles still mirror the Catalyst `_spark_d2` fold. This
    pins the replaced equivalence at zero tolerance: kernel doubles must
    be BIT-identical to the HOF fold (same left-to-right IEEE adds), ids
    and probe orders exactly equal — any drift here would surface as an
    oracle hash mismatch one gate later."""
    emb = table(spark, sf_dir, "embeddings")
    cb = similarity.pinned_codebook(4, 16, 16)
    centers = similarity.pinned_codebook(1, 16, 64)[0]

    rows = emb.select(
        "vec_id",
        vectors.pd_fold_codes("embedding", cb).alias("k_codes"),
        F.array(
            *[q_similarity._spark_argmin(j, 16, 16).cast("int") for j in range(4)]
        ).alias("c_codes"),
        vectors.pd_fold_assign_d2("embedding", centers).alias("k_assign"),
        q_similarity._spark_argmin(0, 16, 64).cast("int").alias("c_centroid"),
        F.least(*[q_similarity._spark_d2(0, c, 64) for c in range(16)]).alias("c_d2"),
        vectors.pd_fold_topn_centroids("embedding", centers, 4).alias("k_probes"),
        vectors.pd_fold_d2_tables("embedding", cb).alias("k_tabs"),
        F.array(
            *[
                F.array(*[q_similarity._spark_d2(j, c, 16) for c in range(16)])
                for j in range(4)
            ]
        ).alias("c_tabs"),
    ).collect()
    assert len(rows) > 0

    probe_rows = emb.select(
        "vec_id", q_similarity._probe_array().alias("c_probes")
    ).collect()
    c_probes = {r["vec_id"]: r["c_probes"] for r in probe_rows}

    for r in rows:
        assert r["k_codes"] == r["c_codes"], r["vec_id"]
        assert r["k_assign"]["centroid"] == r["c_centroid"], r["vec_id"]
        assert r["k_assign"]["d2"] == r["c_d2"], r["vec_id"]  # bitwise
        assert r["k_probes"] == c_probes[r["vec_id"]], r["vec_id"]
        assert r["k_tabs"] == r["c_tabs"], r["vec_id"]  # bitwise, 64 doubles


def test_fold_d2_equals_per_centroid_loop():
    """`vectors._fold_d2` does one (rows, k) array step per dimension; the
    reference is the per-centroid, per-dimension loop it replaced. Each
    (row, centroid) pair adds the same float64 terms in the same order,
    so the results must be bit-identical; an empty batch yields (0, k)."""

    def reference(m, centers):
        d2 = np.empty((len(m), len(centers)), dtype="float64")
        for ci, cv in enumerate(centers):
            acc = np.zeros(len(m), dtype="float64")
            for d in range(centers.shape[1]):
                diff = m[:, d] - cv[d]
                acc = acc + diff * diff
            d2[:, ci] = acc
        return d2

    rng = np.random.default_rng(7)
    m = rng.standard_normal((300, 64)).astype("float32").astype("float64")
    for k in (1, 16, 256):
        centers = rng.standard_normal((k, 64))
        got = vectors._fold_d2(m, centers)
        assert got.view("int64").tolist() == reference(m, centers).view("int64").tolist()
    assert vectors._fold_d2(np.array([]), np.zeros((16, 64))).shape == (0, 16)


def test_pq_fit_lloyd_pinned_exact_dyadic_and_improving(spark, sf_dir):
    """The r8 pinned Lloyd fit (embedding_pq_codes' graduated codebook):
    every centroid coordinate must be an exact multiple of 2^-20 (the
    quantized floor-mean — what makes the DuckDB twin bit-reproducible),
    the fit must be deterministic across runs, and two Lloyd steps must
    not WORSEN reconstruction error vs the raw seeded init."""
    from laposte_data_engineering_jedha_spark.queries import table as qtable

    emb = qtable(spark, sf_dir, "embeddings")
    books = similarity.pq_fit_lloyd_pinned(emb, m=4, k=16, dim=64, iters=2)
    assert books.shape == (4, 16, 16)
    scaled = books * similarity.PQ_PIN_SCALE
    assert np.all(scaled == np.round(scaled))  # exact dyadic rationals
    again = similarity.pq_fit_lloyd_pinned(emb, m=4, k=16, dim=64, iters=2)
    assert np.array_equal(books, again)
    init = similarity.pq_fit_lloyd_pinned(emb, m=4, k=16, dim=64, iters=0)
    assert conftest.pq_mse(emb, books) <= conftest.pq_mse(emb, init)


# --------------------- incremental (batch-vs-index) dedup ---------------------


def test_minhash_cross_planted(spark):
    from laposte_data_engineering_jedha_spark.operators import dedup

    base_text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (10, base_text),                        # historical
        (11, "completely different words about spark shuffles and parquet files"),
        (20, base_text + " extra"),             # new batch: near-dup of 10
        (21, "unrelated fresh content that shares nothing with the corpus at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["new_id"], r["base_id"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs_cross(
            docs.where(F.col("doc_id") >= 20), docs.where(F.col("doc_id") < 20)
        ).collect()
    }
    assert set(got) == {(20, 10)}
    assert got[(20, 10)] >= 0.5


def test_minhash_cross_consistent_with_self_join(spark, sf_dir):
    """Cross pairs over the %5 split == the self-join pairs with exactly one
    endpoint on each side (same signatures, banding, verify kernel)."""
    from laposte_data_engineering_jedha_spark.operators import dedup
    from laposte_data_engineering_jedha_spark.queries import dedup as q_dedup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    selfp = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    expect = {
        (r["id_a"], r["id_b"]) if r["id_a"] % 5 == 0 else (r["id_b"], r["id_a"]): r["jaccard"]
        for r in selfp
        if (r["id_a"] % 5 == 0) != (r["id_b"] % 5 == 0)
    }
    got = {
        (r["new_id"], r["base_id"]): r["jaccard"]
        for r in q_dedup.dedup_incremental(spark, sf_dir).collect()
    }
    assert got == expect


def test_clean_pipeline_sem_is_clean_pipeline_minus_semantic_drops(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries import text

    two_stage = {r["doc_id"] for r in text.corpus_clean_pipeline(spark, sf_dir).collect()}
    three_stage = {
        r["doc_id"] for r in text.corpus_clean_pipeline_sem(spark, sf_dir).collect()
    }
    assert three_stage <= two_stage
    assert three_stage  # survivors remain
    # every doc dropped by stage 3 has a verified cosine>=0.4 pair with a
    # LOWER-id survivor of stage 2 (keep-earliest over the survivor set)
    from laposte_data_engineering_jedha_spark.operators import dedup
    from laposte_data_engineering_jedha_spark.queries import _EMB_BANDS

    emb = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isin([int(x) for x in two_stage])
    )
    pairs = dedup.embedding_dup_pairs_lsh(emb, threshold=0.4, bands=_EMB_BANDS).collect()
    dropped_expected = {r["id_b"] for r in pairs}
    assert two_stage - three_stage == dropped_expected


def test_embedding_cross_consistent_with_self_join(spark, sf_dir):
    """Cross pairs over the %10==7 split == self-join pairs with exactly one
    endpoint on each side (same hyperplanes, banding, cosine kernel)."""
    from laposte_data_engineering_jedha_spark.operators import dedup
    from laposte_data_engineering_jedha_spark.queries import _EMB_BANDS

    emb = table(spark, sf_dir, "embeddings")
    selfp = dedup.embedding_dup_pairs_lsh(emb, threshold=0.4, bands=_EMB_BANDS).collect()
    expect = {
        (r["id_a"], r["id_b"]) if r["id_a"] % 10 != 7 else (r["id_b"], r["id_a"]): r["cosine"]
        for r in selfp
        if (r["id_a"] % 10 == 7) != (r["id_b"] % 10 == 7)
    }
    got = {
        (r["new_id"], r["base_id"]): r["cosine"]
        for r in dedup.embedding_dup_pairs_lsh_cross(
            emb.where(F.col("vec_id") % 10 != 7),
            emb.where(F.col("vec_id") % 10 == 7),
            threshold=0.4,
            bands=_EMB_BANDS,
        ).collect()
    }
    assert got == expect
    assert got  # the split crosses at least one verified pair


def test_minhash_index_screen_matches_cross_and_skips_corpus_exchange(
    spark, sf_dir, tmp_path
):
    """Persisted-index screening == the inline cross operator, and the
    candidate join reads the bucketed index pre-partitioned: exactly ONE
    Exchange on (band, key) — the batch side — appears in the plan."""
    from laposte_data_engineering_jedha_spark.operators import dedup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    new, base = docs.where(F.col("doc_id") % 5 == 0), docs.where(F.col("doc_id") % 5 != 0)
    dedup.write_minhash_index(base, "mh_idx_t", str(tmp_path / "idx"), n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at real scale neither side broadcasts; force the shuffle planner
        # to show which sides exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got_df = dedup.screen_against_minhash_index(spark, new, "mh_idx_t")
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(band") == 1, plan
        assert "Bucketed: true" in plan, plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        got = {(r["new_id"], r["base_id"]): r["jaccard"] for r in got_df.collect()}
        expect = {
            (r["new_id"], r["base_id"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs_cross(new, base).collect()
        }
        assert got == expect
        assert got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS mh_idx_t_bands")
        spark.sql("DROP TABLE IF EXISTS mh_idx_t_hashes")


def test_pq_adc_pinned_recall_vs_kernel(spark, sf_dir):
    """The registered ADC search (fold Arrow kernels) and an independent
    numpy ADC over the same pinned codebook must agree on (query,
    candidate) top-5 sets at >= 0.9 overlap — fp association differs
    (numpy pairwise sums vs the left-to-right fold), so exact rank
    equality is not required, but wholesale divergence means one of the
    two ADC implementations is wrong."""
    from laposte_data_engineering_jedha_spark.queries.similarity import (
        _ADC_QMOD,
        pq_adc_topk_pinned,
    )

    cb = similarity.pinned_codebook(4, 16, 16)
    rows = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype="float64")
    # (n, m, k) squared distance of every subvector to every centroid
    d2 = ((mat.reshape(len(rows), 4, 1, 16) - cb[None]) ** 2).sum(axis=3)
    codes = d2.argmin(axis=2)
    kernel = set()
    for qi in np.flatnonzero(ids % _ADC_QMOD == 0):
        adc = d2[qi][np.arange(4)[None, :], codes].sum(axis=1)
        order = [i for i in np.lexsort((ids, adc)) if ids[i] != ids[qi]][:5]
        kernel |= {(int(ids[qi]), int(ids[i])) for i in order}
    twin = {
        (r["query_id"], r["cand_id"])
        for r in pq_adc_topk_pinned(spark, sf_dir).collect()
    }
    assert len(twin) > 0 and len(kernel) > 0
    assert len(twin & kernel) / len(twin | kernel) >= 0.9
