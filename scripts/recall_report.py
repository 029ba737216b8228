#!/usr/bin/env python
"""Cross-engine recall report for the approximate dedup/similarity family.

Round-3 verdict item 8: one table consolidating recall / false-positive
behavior for every approximate operator, measured on a COMMON corpus so the
approximation trades are auditable at a glance (SCALE.md "Approximation
quality at a common corpus" carries the committed output).

Corpus construction (deterministic, seeded):
  text ops      — sf0.1 documents (5,000 docs) + 500 planted near-dups
                  (every 10th doc re-emitted under id+1_000_000 with one
                  sentinel token appended — a genuine near-dup of its
                  original).
  embedding ops — sf0.1 embeddings (2,000 x 64 float) + 200 planted
                  near-dups (seeded gaussian nudge, sigma=0.05, under
                  id+1_000_000).

Ground truths are the EXACT in-repo twins, not the planted lists alone:
  jaccard/minhash/simhash -> uncapped inverted-index ngram_jaccard_pairs
  containment             -> uncapped ngram_containment_pairs
  embedding-LSH           -> block-NL embedding_dup_pairs (exact, full recall)
  knn_graph / ivf         -> brute_force_knn exact top-k

recall    = |approx ∩ exact| / |exact|
false_pos = |approx - exact|   (for same-metric operators this is a hard
            wrong-answer count; for cross-metric ops — simhash vs jaccard —
            it measures metric disagreement, flagged in the notes column).

Usage: python scripts/recall_report.py [sf_dir]   (default /root/testdata/sf0.1)
Prints the markdown table on stdout; everything else goes to stderr.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from laposte_data_engineering_jedha_spark.operators import dedup, similarity  # noqa: E402
from laposte_data_engineering_jedha_spark.session import get_spark  # noqa: E402

PLANT_OFFSET = 1_000_000


def build_text_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
            F.concat("text", F.lit(" neardupsentinel")).alias("text"),
        )
    )
    return docs.unionByName(planted)


def build_embedding_corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 == 0).toPandas()
    rng = np.random.default_rng(42)
    rows = [
        (
            int(r.vec_id) + PLANT_OFFSET,
            [float(x) for x in (np.asarray(r.embedding, dtype="float64")
                                + rng.normal(0.0, 0.05, len(r.embedding)))],
        )
        for r in base.itertuples()
    ]
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(planted)


def pairs(df, cols=("id_a", "id_b")):
    return {(r[cols[0]], r[cols[1]]) for r in df.collect()}


def topk_edges(df, k):
    return {(r["query_id"], r["cand_id"]) for r in df.collect() if r["rank"] <= k}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="recall_report")
    rows = []

    def add(op, corpus, n_exact, approx, exact, wall, note):
        inter = len(approx & exact)
        rows.append(
            dict(
                op=op,
                corpus=corpus,
                exact=n_exact,
                emitted=len(approx),
                recall=(inter / len(exact)) if exact else 1.0,
                false_pos=len(approx - exact),
                wall=wall,
                note=note,
            )
        )

    # ---- text family --------------------------------------------------------
    docs = build_text_corpus(spark, sf_dir).cache()
    n_docs = docs.count()
    print(f"text corpus: {n_docs} docs", file=sys.stderr)

    t0 = time.perf_counter()
    exact_j = pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.5))
    print(f"exact jaccard: {len(exact_j)} pairs {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    t0 = time.perf_counter()
    mh = pairs(dedup.minhash_lsh_pairs(docs, threshold=0.5))
    add("dedup_minhash_lsh (j>=0.5)", f"{n_docs} docs", len(exact_j), mh, exact_j,
        time.perf_counter() - t0, "exact-Jaccard verify on candidates -> FP must be 0")

    t0 = time.perf_counter()
    sh = pairs(dedup.simhash_pairs(docs), cols=("id_a", "id_b"))
    add("dedup_simhash (d<=6)", f"{n_docs} docs", len(exact_j), sh, exact_j,
        time.perf_counter() - t0,
        "cross-metric: hamming-ball vs jaccard — 'false_pos' = metric disagreement, not wrong answers")

    t0 = time.perf_counter()
    capped = pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=100))
    add("dedup_ngram_jaccard (df cap 100)", f"{n_docs} docs", len(exact_j), capped, exact_j,
        time.perf_counter() - t0, "stop-shingle cap: jaccard over the capped shingle universe")

    t0 = time.perf_counter()
    exact_c = pairs(dedup.ngram_containment_pairs(docs, threshold=0.8))
    wall_exact_c = time.perf_counter() - t0
    t0 = time.perf_counter()
    capped_c = pairs(dedup.ngram_containment_pairs(docs, threshold=0.8, max_shingle_df=100))
    add("dedup_containment (df cap 100)", f"{n_docs} docs", len(exact_c), capped_c, exact_c,
        time.perf_counter() - t0, f"vs uncapped containment ({wall_exact_c:.1f}s exact pass)")

    # ---- embedding family ---------------------------------------------------
    emb = build_embedding_corpus(spark, sf_dir).cache()
    n_vec = emb.count()
    print(f"embedding corpus: {n_vec} vectors", file=sys.stderr)

    t0 = time.perf_counter()
    exact_e = pairs(dedup.embedding_dup_pairs(emb, threshold=0.9, max_rows=n_vec))
    print(f"exact cosine pairs: {len(exact_e)} {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    t0 = time.perf_counter()
    lsh_e = pairs(dedup.embedding_dup_pairs_lsh(emb, threshold=0.9))
    add("dedup_embedding_lsh (cos>=0.9, 8x4 bands)", f"{n_vec} vecs", len(exact_e), lsh_e,
        exact_e, time.perf_counter() - t0, "exact-cosine verify on candidates -> FP must be 0")

    t0 = time.perf_counter()
    exact_g = topk_edges(similarity.brute_force_knn(emb, emb, k=3), 3)
    wall_g = time.perf_counter() - t0
    t0 = time.perf_counter()
    graph = topk_edges(similarity.knn_graph(emb, k=3), 3)
    add("knn_graph (k=3, 4x6-plane bands, cap 256)", f"{n_vec} vecs", len(exact_g), graph, exact_g,
        time.perf_counter() - t0,
        f"recall@3 vs brute-force graph ({wall_g:.1f}s exact pass); "
        "'false_pos' = bucket-local substitutes, cosine-valid but not global top-3")

    qry = emb.where((F.col("vec_id") < 16) & (F.col("vec_id") < PLANT_OFFSET))
    t0 = time.perf_counter()
    exact_k = topk_edges(similarity.brute_force_knn(emb, qry, k=5), 5)
    wall_k = time.perf_counter() - t0
    t0 = time.perf_counter()
    idx = tempfile.mkdtemp(prefix="recall_ivf_")
    try:
        # data-fitted coarse quantizer: the m=1 pinned Lloyd fit
        centers = similarity.pq_fit_lloyd_pinned(emb, m=1, k=16, dim=64)[0]
        similarity.ivf_index_write(emb, f"{idx}/index", centers)
        ivf = topk_edges(
            similarity.ivf_index_search(spark, f"{idx}/index", qry, k=5, n_probe=4), 5
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    add("ivf_index_search (k=5, 16 Lloyd lists, probe 4)", f"{n_vec} vecs, 16 queries",
        len(exact_k), ivf, exact_k, time.perf_counter() - t0,
        f"recall@5 vs brute force ({wall_k:.1f}s exact pass); "
        "'false_pos' = in-list substitutes for unprobed-list neighbors")

    # ---- table --------------------------------------------------------------
    print("| operator | corpus | exact pairs | emitted | recall | false-pos | wall | notes |")
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['op']} | {r['corpus']} | {r['exact']} | {r['emitted']} "
            f"| {r['recall']:.4f} | {r['false_pos']} | {r['wall']:.1f} s | {r['note']} |"
        )


if __name__ == "__main__":
    main()
