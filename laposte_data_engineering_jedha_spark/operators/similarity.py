"""Similarity search over embedding columns (`array<float>`).

Two paths:

- `brute_force_knn` — exact top-k by cosine: the small-query-set pattern.
  The query side is broadcast, so the big side streams through one
  narrow map stage + a per-query top-k window; no all-pairs shuffle.
- `lsh_knn` — sign-random-projection (hyperplane) LSH: both sides get a
  deterministic bucket id (`vectors.lsh_bucket`), candidates come from a
  bucket equi-join, exact cosine re-ranks. The 100 TB path: bucket ids are
  per-row map-side compute, the join hash-partitions on bucket, and recall
  is tuned by the number of hyperplanes (fewer bits -> bigger buckets ->
  higher recall, more compute).

`ivf_knn` is the IVF variant: a k-means coarse quantizer
(pyspark.ml.clustering.KMeans, seeded) assigns every corpus vector to a
centroid list; queries probe their `n_probe` nearest centroids and re-rank
exactly within those lists. Same join shape as LSH (equi-join on a
map-side-computed bucket id); recall/cost is tuned by n_probe/n_centroids
instead of hyperplane count. LSH remains the oracle-checked variant
(closed-form bucketing); IVF's k-means fit is seeded-deterministic but not
SQL-expressible, so its guarantees are covered by tests
(tests/test_llmops.py) rather than the DuckDB gate.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from ..functions import vectors
from ..session import local_table
from . import caches


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k per query by (cosine desc, cand_id asc) — deterministic ties."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _ranked_topk_dedup(pairs: DataFrame, k: int) -> DataFrame:
    """`_ranked_topk` over a pair stream that may repeat (query_id,
    cand_id) rows — the multi-band/multi-probe candidate shape, where the
    same pair collides in several buckets and each copy carries the SAME
    cosine (a deterministic function of the two vectors).

    r14 optimization (guide §2.4: remove shuffles outright): the previous
    `dropDuplicates(["query_id", "cand_id"])` + rank-window form paid an
    exchange on (query_id, cand_id) + two hash aggregates BEFORE the
    window's own (query_id) exchange — and because multi-band copies of a
    pair are emitted in DIFFERENT bucket partitions, the dedup's map-side
    partial removed almost nothing, so the extra exchange carried the full
    candidate fan-out. Here the dedup rides the ranking window instead:
    within (query_id ORDER BY cosine DESC, cand_id) every copy of a pair
    sorts to the same key, so copies are adjacent and `lag(cand_id)`
    flags all but the first; the row_number over the SAME window spec then
    ranks the deduped stream with no new exchange and no new sort
    (Filter preserves both). One exchange total where there were two.

    Identical output to dropDuplicates + _ranked_topk by construction:
    same survivor per duplicate group (copies are indistinguishable), same
    ordering, same rank values."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("_dup", F.col("cand_id") == F.lag("cand_id").over(w))
        .where(~F.coalesce(F.col("_dup"), F.lit(False)))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _sides(
    df: DataFrame, queries: DataFrame, vec_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Corpus + query sides with Arrow-kernel norms precomputed per row.

    Zero-norm vectors are dropped on both sides: cosine is undefined for
    them, and the engines disagree on 0/0 (Spark NULL, DuckDB NaN/inf) —
    the same guard knn_graph and embedding_dup_pairs_lsh carry."""
    cand = df.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        vectors.pd_norm(vec_col).alias("cn"),
    ).where(F.col("cn") > 0)
    qry = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        vectors.pd_norm(vec_col).alias("qn"),
    ).where(F.col("qn") > 0)
    return cand, qry


def brute_force_knn(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self excluded).

    `queries` is broadcast (the typical ANN shape: few queries, huge corpus)
    so the corpus never shuffles; the only exchange is the per-query top-k
    window, keyed by query_id. Cosine math runs in the Arrow-batched numpy
    kernel (vectors.pd_dot), vectorized across the candidate batch.
    """
    cand, qry = _sides(df, queries, vec_col, id_col)
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    pairs = (
        cand.crossJoin(F.broadcast(qry))
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", (F.round(cos * 1000000) / 1000000).alias("cosine"))
    )
    return _ranked_topk(pairs, k)


def lsh_knn(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucket join, exact cosine re-rank.

    With `planes` bits, two vectors at angle theta share a bucket with
    probability (1 - theta/pi)^planes — 8 bits keeps ~1/256 of the corpus
    per bucket in expectation. Queries may return < k rows (recall < 1);
    that is the documented ANN trade-off, not a bug.
    """
    cand, qry = _sides(df, queries, vec_col, id_col)
    cand = cand.withColumn("bucket", vectors.pd_lsh_bucket("cv", dim, planes))
    qry = qry.withColumn("bucket", vectors.pd_lsh_bucket("qv", dim, planes))
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    pairs = (
        cand.join(F.broadcast(qry), "bucket")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", (F.round(cos * 1000000) / 1000000).alias("cosine"))
    )
    return _ranked_topk(pairs, k)


def knn_graph(
    df: DataFrame,
    k: int = 3,
    dim: int = 64,
    bands: int = 4,
    band_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 256,
) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus — every vector's top-k
    band-local neighbors. The building block of SemDeDup-style semantic
    dedup and embedding clustering, where the query set IS the corpus, so
    neither side can broadcast (unlike `lsh_knn`): both sides are the same
    banded relation, hash-partitioned on the (band, key) LSH bucket id,
    joined with a sort-merge join on it. Spark cannot merge the two join
    aliases into a ReusedExchange because PythonUDF subtrees never
    canonicalize equal (SCALE.md finding 11), so the banded projection is
    always persisted MEMORY_AND_DISK after its repartition: the Arrow
    kernels (norm + banded bucket ids) and the (band, key) exchange run
    ONCE, both aliases read the cache, and the join inherits the cached
    hashpartitioning — one exchange total where
    round 4 measured two, plus a duplicated kernel pass (round-5 fix;
    measured plans in tests/test_plans.py pin the single-Exchange shape).
    The cache is the narrow (id, vec, norm, band, key) projection — at
    1B x 64-dim that is ~bands x 300 GB spread across the cluster, far
    cheaper than recomputing + reshuffling it. Lifecycle: the persist is
    registered with caches.track (no DataFrame-attribute handles — those
    are lost on any transform, ADVICE r6); callers release via
    caches.release_all once their downstream is materialized, and Spark's
    LRU eviction bounds the cost if a caller never does. Exact cosine
    re-ranks within the bucket; per-vector top-k is a window over the
    deduped candidate edges.

    BANDED OR-amplification (round-4 fix): the original single-band shape
    had recall == the one-band collision probability — measured 0.0871
    recall@3 at 6 planes on a structureless corpus (SCALE.md round-4
    table), because a theta-degree true neighbor collides with
    p = (1 - theta/pi)^planes and there was exactly one chance. With
    `bands` independent 6-plane bands a pair is a candidate if it collides
    in ANY band: recall = 1 - (1 - p)^bands (~4x at mid-range cosine,
    ~1.0 for near-dup edges) for ~bands-x candidate compute — the same
    AND/OR construction as `embedding_dup_pairs_lsh`. Pairs colliding in
    several bands are deduplicated on (query_id, cand_id) BEFORE ranking
    (cosine is identical per collision), on a narrow 3-column shuffle.

    `max_bucket` caps the CANDIDATE side per (band, key) bucket
    (deterministic md5-ordered head) — the LSH twin of the stop-shingle
    df cap. On clustered corpora (the realistic embedding shape) a whole
    topic cluster collapses into a handful of buckets and the uncapped
    self-join goes quadratic in cluster size (measured: 400k clustered
    vectors did not finish uncapped; capped at 256 it is bounded by
    bands * n * max_bucket comparisons). Every vector still gets ranked
    against a bounded, deterministic sample of its bucket-mates per band.
    """
    src = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            vectors.pd_norm(vec_col).alias("_n"),
        )
        # zero-norm guard: cosine is undefined for the zero vector — Spark
        # would emit NULL (0/0) while DuckDB emits NaN/inf, breaking the
        # cross-engine gate and corrupting top-k ranking. Same filter as
        # embedding_dup_pairs_lsh; SQL twin carries WHERE nrm > 0.
        .where(F.col("_n") > 0)
        .select(
            "_id",
            "_v",
            "_n",
            F.posexplode(vectors.pd_lsh_buckets_banded("_v", dim, bands, band_planes)).alias(
                "band", "key"
            ),
        )
        .repartition("band", "key")
    )
    src = caches.track(src.persist(StorageLevel.MEMORY_AND_DISK))
    a = src.select(
        "band",
        "key",
        F.col("_id").alias("query_id"),
        F.col("_v").alias("qv"),
        F.col("_n").alias("qn"),
    )
    cap_w = Window.partitionBy("band", "key").orderBy(
        F.md5(F.col("_id").cast("string")), F.col("_id")
    )
    b = (
        src.withColumn("_r", F.row_number().over(cap_w))
        .where(F.col("_r") <= max_bucket)
        .select(
            "band",
            "key",
            F.col("_id").alias("cand_id"),
            F.col("_v").alias("cv"),
            F.col("_n").alias("cn"),
        )
    )
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", (F.round(cos * 1000000) / 1000000).alias("cosine"))
    )
    # multi-band copies of a pair dedup inside the ranking window (one
    # exchange; the dropDuplicates form paid a second one — see
    # _ranked_topk_dedup)
    return _ranked_topk_dedup(pairs, k)


def pinned_codebook(m: int, k: int, sub: int) -> np.ndarray:
    """Closed-form (m, k, sub) codebook for verification twins: entry
    (j, c, d) = (((c*sub + d + j*31) mod 17) - 8) / 8.

    Every value is an exact multiple of 1/8 (exact in binary floating
    point), each centroid is a distinct cyclic shift of a 17-periodic
    pattern over [-1, 1] — the same range as the unit-norm fixture
    embeddings. Because the formula is integer arithmetic + one exact
    division, a DuckDB oracle can reproduce the codebook bit-for-bit,
    which turns the otherwise iterative-fit-only PQ/IVF *encode and
    assignment* math into hash-checkable queries
    (queries/similarity.py: embedding_pq_encode_pinned, ivf_assign_pinned)."""
    j, c, d = np.ogrid[:m, :k, :sub]
    return (((c * sub + d + j * 31) % 17) - 8) / 8.0


def kmeans_fit_sample(df: DataFrame, fit_max_rows: int, seed: int) -> DataFrame:
    """Bound the k-means fit input to ~fit_max_rows via a seeded Bernoulli
    sample — the coarse quantizer only needs a sketch of the density, so
    fitting on the full corpus is pure waste at scale (and an iterative
    full-corpus job at 100 TB). Small corpora pass through unchanged, which
    keeps centroid determinism for the fixture-scale tests."""
    n = df.count()
    if n <= fit_max_rows:
        return df
    return df.sample(fraction=fit_max_rows / n, seed=seed)


def ivf_knn(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    fit_max_rows: int = 4096,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantization,
    probe the query's `n_probe` nearest centroid lists, exact cosine
    re-rank inside them.

    At 100 TB the fit runs on a seeded sample (kmeans_fit_sample, capped at
    `fit_max_rows`), the assignment is one map-side `transform`, and the
    probe join hash-partitions on centroid id — the index "build" is an
    embarrassingly parallel assignment pass, unlike graph indexes (HNSW)
    that need sequential construction.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # The sample is bounded (<= fit_max_rows rows), so caching it is safe at
    # any corpus size and removes the dominant cost: uncached input gets
    # re-materialized on every init pass + Lloyd iteration (MLlib itself
    # warns about this). Random init + 10 iterations is plenty for a COARSE
    # quantizer — the quantizer only partitions space, n_probe absorbs
    # boundary error; measured same training cost as k-means||x20 at 4x the
    # fit time (sf0.01: 6.4s -> 1.6s).
    train = kmeans_fit_sample(
        df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")),
        fit_max_rows,
        seed,
    ).cache()
    try:
        model = KMeans(
            k=n_centroids, seed=seed, featuresCol="features", maxIter=10, initMode="random"
        ).fit(train)
    finally:
        train.unpersist()

    import numpy as np

    centers = np.array([c for c in model.clusterCenters()], dtype="float64")

    def assign(side: DataFrame, id_alias: str, v_alias: str, n: int) -> DataFrame:
        # nearest-n centroid ids per row via the Arrow-batched numpy kernel
        # (vectors.pd_nearest_centroids) — map-side only, no shuffle; the
        # codebook ships in the UDF closure. A per-centroid expression tree
        # works at 16 centroids but blows up Catalyst canonicalization at
        # the thousands a real 100 TB IVF index needs.
        return side.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(v_alias),
            F.explode(vectors.pd_nearest_centroids(vec_col, centers, n)).alias("centroid"),
        )

    # zero-norm guard: cosine undefined for the zero vector (same filter as
    # _sides / knn_graph)
    cand = (
        assign(df, "cand_id", "cv", 1)
        .withColumn("cn", vectors.pd_norm("cv"))
        .where(F.col("cn") > 0)
    )
    qry = (
        assign(queries, "query_id", "qv", n_probe)
        .withColumn("qn", vectors.pd_norm("qv"))
        .where(F.col("qn") > 0)
    )
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    pairs = (
        cand.join(F.broadcast(qry), "centroid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", (F.round(cos * 1000000) / 1000000).alias("cosine"))
    )
    # each candidate posts under ONE centroid here, but the dedup stays
    # (as the windowed form — no extra exchange) so the operator contract
    # is unchanged if a caller ever feeds multi-posted candidates
    return _ranked_topk_dedup(pairs, k)


def ivf_index_write(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    fit_max_rows: int = 4096,
    centers: "np.ndarray | None" = None,
    fold_faithful: bool = False,
) -> None:
    """Build and PERSIST an IVF index: `{path}/centroids.parquet` (the
    coarse quantizer, centroid id + vals) and `{path}/postings.parquet`
    partitioned BY CENTROID — the stored-index half of the ANN lifecycle
    that `ivf_knn` (fit-per-query) skips. At 100 TB the index is built
    once (one bounded-sample fit + one map-side assignment pass, writing
    hive-partitioned postings) and every search afterwards reads ONLY the
    probed centroid directories via partition pruning — gigabytes per
    query instead of the corpus (ivf_index_search asserts PartitionFilters
    in tests/test_round8.py). Same shape as minhash's stored (id, band,
    key) relation for incremental dedup.

    `centers` pins an explicit codebook (skipping the KMeans fit) and
    `fold_faithful=True` assigns via the bit-exact Arrow fold kernel
    (`pd_fold_assign_d2`, left-to-right IEEE adds == the Catalyst/DuckDB
    folds) instead of the gemm kernel — the combination that makes a
    stored index hash-reproducible in SQL (the registered
    `ivf_index_search` query's oracle contract)."""
    if centers is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = kmeans_fit_sample(
            df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")),
            fit_max_rows,
            seed,
        ).cache()
        try:
            model = KMeans(
                k=n_centroids, seed=seed, featuresCol="features", maxIter=10, initMode="random"
            ).fit(train)
        finally:
            train.unpersist()
        centers = np.array([c for c in model.clusterCenters()], dtype="float64")
    else:
        centers = np.asarray(centers, dtype="float64")
    if fold_faithful:
        assign = vectors.pd_fold_assign_d2(vec_col, centers)["centroid"]
    else:
        assign = F.element_at(vectors.pd_nearest_centroids(vec_col, centers, 1), 1)
    local_table(
        df.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "centroid int, vals array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    df.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        assign.alias("centroid"),
    ).write.mode("overwrite").partitionBy("centroid").parquet(f"{path}/postings.parquet")


#: names of delta tags already folded into the base by a compaction —
#: kept so a RETRIED append with a consumed tag stays idempotent after
#: the delta dir it would have early-returned on is gone (ADVICE r12:
#: without this, the retry re-published the batch and silently
#: duplicated vectors in the postings / drift accounting)
_CONSUMED_MANIFEST = "consumed_deltas.json"
#: per-delta row-count manifest, written at publish time so the drift
#: ratio never has to re-read delta parquet (ADVICE r12)
_ROWCOUNT_FILE = "n_rows.json"


def _consumed_tags(path: str) -> set[str]:
    f = os.path.join(path, _CONSUMED_MANIFEST)
    if not os.path.exists(f):
        return set()
    with open(f) as fh:
        return set(json.load(fh))


def _delta_rowcount(spark, delta_dir: str) -> int:
    """Rows in a published delta: from its publish-time manifest when
    present, else one metadata-backed parquet count (pre-manifest
    deltas)."""
    f = os.path.join(delta_dir, _ROWCOUNT_FILE)
    if os.path.exists(f):
        with open(f) as fh:
            return int(json.load(fh))
    return spark.read.parquet(f"{delta_dir}/postings.parquet").count()


def _index_delta_dirs(path: str) -> list[str]:
    """Published (complete) delta posting sets under `{path}/deltas/`, in
    name order. A delta is visible only once its postings carry a
    _SUCCESS marker AND the delta dir itself was atomically renamed into
    place — a torn build can never be read."""
    root = os.path.join(path, "deltas")
    if not os.path.isdir(root):
        return []
    out = []
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if os.path.exists(os.path.join(d, "postings.parquet", "_SUCCESS")):
            out.append(d)
    return out


def _index_postings(spark, path: str) -> DataFrame:
    """The index's logical postings relation: the base posting set plus
    every published delta (ivf_index_append), unioned by name. Each
    source is its own hive-partitioned parquet root, so a centroid
    filter prunes partitions in EVERY branch independently — the
    LSM-style layout costs no pruning."""
    posts = spark.read.parquet(f"{path}/postings.parquet")
    for d in _index_delta_dirs(path):
        posts = posts.unionByName(spark.read.parquet(f"{d}/postings.parquet"))
    return posts


def ivf_index_append(
    spark,
    path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fold_faithful: bool = False,
    rebuild_fraction: float = 0.5,
    delta_tag: str | None = None,
) -> str:
    """INCREMENTAL append to a persisted IVF index (r11 verdict item 8:
    re-keying on the corpus fingerprint forced a full rebuild on any
    append). The delta path assigns the new vectors to the EXISTING
    coarse quantizer (one map-side pass — centroids are never moved by
    an append, so base postings are untouched) and publishes them as an
    immutable hive-partitioned delta under `{path}/deltas/`, made
    visible by an atomic rename: readers see the old index or the new
    one, never a torn write. Search unions base + deltas
    (`_index_postings`); each delta prunes on centroid independently.

    Past the drift threshold — accumulated delta rows (including this
    append) exceeding `rebuild_fraction` of the base — the probe lists
    have grown enough that the LSM stack is worth compacting: base +
    deltas + new vectors are re-assigned against the current centroids
    into a fresh single-base index, published by the same
    scratch-then-rename protocol, and the consumed deltas are dropped.
    (Re-FITTING the quantizer is the caller's call — pinned codebooks,
    the oracle-checked configuration, keep their centers by contract;
    unpinned deployments rebuild via ivf_index_write when recall decays.)

    Returns 'delta' or 'rebuild'. `delta_tag` names the delta dir
    deterministically so a concurrent duplicate append (two processes
    racing the same logical batch) converges: the rename loser discards
    its build and the winner's identical delta serves. Idempotency
    SURVIVES compaction: the compacted index carries a manifest of every
    folded tag (_CONSUMED_MANIFEST, published atomically with the new
    base), so a retried append whose delta dir was consumed is still a
    no-op. Each delta also publishes its row count (_ROWCOUNT_FILE), so
    the drift ratio is bookkeeping reads, not delta parquet re-scans.

    Cite: reference repo has no ANN/index surface (extension layer)."""
    tag = delta_tag or f"delta-{uuid.uuid4().hex[:12]}"
    final = os.path.join(path, "deltas", tag)
    if os.path.exists(os.path.join(final, "postings.parquet", "_SUCCESS")):
        # idempotent duplicate of an already-published logical batch:
        # it is not new data, so it must not advance the drift counter
        return "delta"
    if tag in _consumed_tags(path):
        # the batch was already folded into the base by a compaction —
        # its delta dir is gone, but a retry must still be a no-op
        # (ADVICE r12: re-publishing would silently duplicate vectors)
        return "delta"
    centers_rows = spark.read.parquet(f"{path}/centroids.parquet").collect()
    if not centers_rows:
        raise ValueError(f"IVF index at {path!r} has no centroids to append to")
    centers = np.zeros(
        (max(r["centroid"] for r in centers_rows) + 1, len(centers_rows[0]["vals"])),
        dtype="float64",
    )
    for r in centers_rows:
        centers[r["centroid"]] = r["vals"]
    if fold_faithful:
        assign = vectors.pd_fold_assign_d2(vec_col, centers)["centroid"]
    else:
        assign = F.element_at(vectors.pd_nearest_centroids(vec_col, centers, 1), 1)
    new_postings = new_df.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        assign.alias("centroid"),
    )

    base = spark.read.parquet(f"{path}/postings.parquet")
    deltas = _index_delta_dirs(path)
    n_base = base.count()
    # persist before the drift count so the pandas-UDF centroid
    # assignment runs ONCE (the count and the delta/compaction write
    # both reuse it); per-delta counts come from their publish-time
    # manifests, not a re-read of every delta (ADVICE r12)
    new_postings = new_postings.persist()
    # search drops a repeated cand_id only when its copies carry the same
    # vector (equal copies rank next to each other in _ranked_topk_dedup),
    # so an id may be republished only with the vector it is stored with
    changed = (
        _index_postings(spark, path)
        .select("cand_id", F.col("cv").alias("stored_cv"))
        .join(new_postings.select("cand_id", "cv"), "cand_id")
        .where(~F.col("cv").eqNullSafe(F.col("stored_cv")))
        .select("cand_id")
        .distinct()
        .orderBy("cand_id")
        .limit(20)
        .collect()
    )
    if changed:
        new_postings.unpersist()
        ids = [r["cand_id"] for r in changed]
        raise ValueError(
            f"ivf_index_append: {id_col} {ids} already indexed at {path!r} "
            "with a different vector; rebuild the index with ivf_index_write "
            "to change a stored vector"
        )
    n_new = new_postings.count()
    n_delta = sum(_delta_rowcount(spark, d) for d in deltas) + n_new

    if n_base > 0 and n_delta / n_base > rebuild_fraction:
        # compact: one full re-assignment pass over base + deltas + new
        # against the CURRENT centers, fresh single-base index
        all_vecs = (
            _index_postings(spark, path)
            .select("cand_id", "cv")
            .unionByName(new_postings.select("cand_id", "cv"))
        )
        scratch = f"{path}.compact-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        ivf_index_write(
            all_vecs.withColumnRenamed("cand_id", id_col).withColumnRenamed(
                "cv", vec_col
            ),
            scratch,
            n_centroids=centers.shape[0],
            vec_col=vec_col,
            id_col=id_col,
            centers=centers,
            fold_faithful=fold_faithful,
        )
        new_postings.unpersist()
        # record every tag this compaction folds into the base — the
        # consumed deltas AND this append's own batch — so retries of
        # any of them stay idempotent after their dirs are gone. Written
        # inside the scratch, so the manifest publishes atomically with
        # the compacted index itself.
        consumed = (
            _consumed_tags(path)
            | {os.path.basename(d) for d in deltas}
            | {tag}
        )
        with open(os.path.join(scratch, _CONSUMED_MANIFEST), "w") as fh:
            json.dump(sorted(consumed), fh)
        # single-writer swap (documented contract, same as the layout
        # queries' scratch paths in queries/io.py): tear down the old root,
        # move the compacted index into place. Concurrent READERS of the
        # same path during a compaction are outside the single-writer
        # contract.
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(scratch, path)
        shutil.rmtree(old, ignore_errors=True)
        return "rebuild"

    os.makedirs(os.path.join(path, "deltas"), exist_ok=True)
    scratch = f"{path}.delta-build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    new_postings.write.mode("overwrite").partitionBy("centroid").parquet(
        f"{scratch}/postings.parquet"
    )
    new_postings.unpersist()
    # publish-time row count: the drift ratio of every FUTURE append
    # reads this instead of re-scanning the delta's parquet
    with open(os.path.join(scratch, _ROWCOUNT_FILE), "w") as fh:
        json.dump(n_new, fh)
    try:
        os.rename(scratch, final)
    except OSError:
        if os.path.exists(os.path.join(final, "postings.parquet", "_SUCCESS")):
            shutil.rmtree(scratch, ignore_errors=True)  # race loser
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.rename(scratch, final)
    return "delta"


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fold_faithful: bool = False,
) -> DataFrame:
    """Search a persisted IVF index (see ivf_index_write): route each
    query to its `n_probe` nearest stored centroids, STATICALLY filter
    the partitioned postings to the union of probed centroid ids (the
    probe set is driver-side tiny — centroids are the index's coarse
    grain — so the IN-list prunes partitions at plan time, no dynamic
    pruning needed), then exact-cosine re-rank and take top-k. Returns
    (query_id, cand_id, cosine, rank) like every knn operator."""
    centers_rows = spark.read.parquet(f"{path}/centroids.parquet").collect()
    if not centers_rows:
        raise ValueError(
            f"IVF index at {path!r} not found or empty: centroids.parquet "
            "has no rows (was ivf_index_write run?)"
        )
    # size by max id, not len(): a centroid-id gap would otherwise route
    # queries to a silently-zero center and return zero rows for it
    centers = np.zeros(
        (max(r["centroid"] for r in centers_rows) + 1, len(centers_rows[0]["vals"])),
        dtype="float64",
    )
    seen = set()
    for r in centers_rows:
        centers[r["centroid"]] = r["vals"]
        seen.add(r["centroid"])
    if len(seen) != centers.shape[0]:
        missing = sorted(set(range(centers.shape[0])) - seen)[:5]
        raise ValueError(
            f"IVF index at {path!r} has centroid-id gaps (e.g. {missing}); "
            "the index is corrupt — rebuild with ivf_index_write"
        )
    if fold_faithful:
        probe = vectors.pd_fold_topn_centroids(vec_col, centers, n_probe)
    else:
        probe = vectors.pd_nearest_centroids(vec_col, centers, n_probe)
    qry = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probe).alias("centroid"),
        )
        .withColumn("qn", vectors.pd_norm("qv"))
        .where(F.col("qn") > 0)
    )
    # r13 optimization (guide §2.4/§4): qry is consumed TWICE — the probed-
    # centroid collect below and the broadcast side of the candidate join —
    # and its probe/norm Arrow kernels (plus whatever plan produced
    # `queries`) would re-run per reference. The query panel is the SMALL
    # side of an ANN search by contract (it broadcasts two lines down).
    # Stats-gated on the queries input estimate (ADVICE r13: an
    # out-of-contract large panel would otherwise silently cache without
    # bound before the broadcast even failed) — consistent with every
    # other r13 persist gate.
    qry = caches.persist_if_small(qry, queries)
    probed = sorted({r["centroid"] for r in qry.select("centroid").distinct().collect()})
    postings = (
        _index_postings(spark, path)
        .where(F.col("centroid").isin(probed))
        .withColumn("cn", vectors.pd_norm("cv"))
        .where(F.col("cn") > 0)
    )
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    pairs = (
        postings.join(F.broadcast(qry), "centroid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", (F.round(cos * 1000000) / 1000000).alias("cosine"))
    )
    # base + delta postings carry one centroid per posting row; a cand_id
    # re-published across segments (same vector — the append idempotency
    # contract) still dedups, inside the ranking window now instead of a
    # dedicated (query, cand) exchange
    return _ranked_topk_dedup(pairs, k)


#: quantization scale for the pinned Lloyd fit: embedding components live
#: in [-1, 1], so floor(x * 2^20 + 0.5) is an exact integer in
#: [-2^20, 2^20] — x (float32 widened to double) times a power of two is
#: an exponent shift (exact), +0.5 and floor are exact, and BIGINT sums
#: of the quantized coordinates are order-independent across engines.
PQ_PIN_SCALE = 1_048_576  # 2^20


def pq_fit_lloyd_pinned(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """DETERMINISTIC product-quantization fit — seeded init + quantized
    Lloyd steps, bit-reproducible in plain SQL (the DuckDB twin in
    queries/similarity.py runs the identical procedure), which is what turns
    the otherwise iterative-fit-only `embedding_pq_codes` into a full
    hash row:

    - init: per subspace, the k lowest-`id_col` rows' subvectors
      (TakeOrderedAndProject — k bounded rows to the driver, the same
      bounded collect every iterative k-means needs for its centroids);
    - assign: the fold-faithful Arrow kernel (vectors.pd_fold_codes),
      bit-identical to the oracle's per-centroid left-to-right fold,
      ties -> lowest centroid id;
    - update: per (centroid, dimension), the BIGINT sum of
      floor(x * 2^20 + 0.5) quantized coordinates; the new coordinate is
      the offset floor-mean ((sum + n*2^20) div n - 2^20) / 2^20 — every
      step integer or exact-dyadic, so no float accumulation order can
      diverge between engines. Empty cells keep their previous centroid.

    The sums aggregate map-side (k*sub BIGINT partials per subspace) and
    only k rows per subspace ever reach the driver per iteration — the
    same scale shape as MLlib's own Lloyd loop. Production fits stay on
    `pq_fit_codebooks` (seeded-sample MLlib k-means); this variant exists
    so the REGISTERED end-to-end PQ query is value-checkable to the last
    bit (VERDICT r7 item 2)."""
    sub = dim // m
    head = df.orderBy(id_col).limit(k).select(vec_col).collect()
    books = np.array(
        [[list(r[vec_col])[j * sub : (j + 1) * sub] for r in head] for j in range(m)],
        dtype="float64",
    )
    quant = lambda c: F.floor(c.cast("double") * PQ_PIN_SCALE + F.lit(0.5)).cast("long")  # noqa: E731
    for _ in range(iters):
        # ONE job per iteration: posexplode the m codes to (j, c) keys and
        # index the subvector by the exploded j, so all m subspaces' sums
        # ride one m*k-group aggregate (map-side partials) and one <= m*k
        # row collect.
        ex = df.select(
            F.col(vec_col).alias("v"),
            F.posexplode(vectors.pd_fold_codes(vec_col, books)).alias("j", "c"),
        )
        rows = (
            ex.groupBy("j", "c")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(
                        quant(F.element_at("v", F.col("j") * sub + d + 1))
                    ).alias(f"q{d}")
                    for d in range(sub)
                ],
            )
            .collect()
        )
        for r in rows:
            books[r["j"]][r["c"]] = [
                ((r[f"q{d}"] + r["n"] * PQ_PIN_SCALE) // r["n"] - PQ_PIN_SCALE)
                / PQ_PIN_SCALE
                for d in range(sub)
            ]
    return books


def pq_fit_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    fit_max_rows: int = 4096,
):
    """Product-quantization codebooks: split each vector into `m` subvectors
    of dim/m and k-means each subspace independently (Jégou et al. 2011).
    Returns an (m, k, dim/m) float64 numpy codebook.

    PQ is the storage side of billion-scale ANN: m=4, k=16 encodes a
    64-dim float vector in 4x4 bits = 2 bytes (128x smaller), and
    asymmetric distance scans run over code tables instead of floats.
    Like ivf_knn, every fit runs on ONE seeded bounded sample (cached,
    m small k-means over the same few thousand rows); the full corpus is
    never iterated by the trainer."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub = dim // m
    sample = kmeans_fit_sample(
        df.select(F.col(vec_col).cast("array<double>").alias("v")), fit_max_rows, seed
    ).cache()
    try:
        books = []
        for j in range(m):
            train = sample.select(
                array_to_vector(F.slice("v", j * sub + 1, sub)).alias("features")
            )
            model = KMeans(
                k=k, seed=seed + j, featuresCol="features", maxIter=10, initMode="random"
            ).fit(train)
            books.append(np.array(model.clusterCenters(), dtype="float64"))
    finally:
        sample.unpersist()
    return np.stack(books)


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) PQ encoding — one Arrow map-side pass, the
    codebook ships in the kernel closure (m*k*sub doubles; bytes, not a
    join). No shuffle: encoding 100 TB is embarrassingly parallel."""
    m, k, sub = codebooks.shape

    @pandas_udf("array<int>")
    def kernel(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype="float64")
        out = np.empty((mat.shape[0], m), dtype="int32")
        for j in range(m):
            block = mat[:, j * sub : (j + 1) * sub]
            # (n, k) squared distances to this subspace's centroids
            d = ((block[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    return df.select(F.col(id_col), kernel(F.col(vec_col)).alias("codes"))


def pq_reconstruction_mse(
    df: DataFrame, codebooks, vec_col: str = "embedding"
) -> float:
    """Mean squared reconstruction error of the PQ encoding over the corpus
    — the quantizer-quality scalar (compare against a mismatched codebook
    or a higher m/k to size the recall/storage trade). One Arrow pass +
    one tiny aggregate."""
    m, k, sub = codebooks.shape

    @pandas_udf("double")
    def kernel(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype="float64")
        err = np.zeros(mat.shape[0], dtype="float64")
        for j in range(m):
            block = mat[:, j * sub : (j + 1) * sub]
            d = ((block[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
            err += d.min(axis=1)
        return pd.Series(err / (m * sub))

    row = df.select(kernel(F.col(vec_col)).alias("e")).agg(
        F.avg("e").alias("mse")
    ).first()
    return float(row["mse"])


def pq_knn(
    df: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) approximate top-k: the corpus is
    scanned as 2-byte codes, never as float vectors — for each query, a
    per-subspace lookup table of squared distances to every centroid is
    precomputed (m x k doubles), and a candidate's distance is just m
    table lookups + adds (Jégou et al. 2011, Eq. 13).

    Scale shape: the corpus side carries only (id, codes) — at 100 TB
    this is the layout whose scan cost is ~100x below the float corpus —
    and the query side (id, distance tables) broadcasts into an Arrow
    kernel; one map pass scores every (query, candidate) pair inside the
    kernel loop, then the standard per-query top-k window. Scores are
    approximate by construction (quantization error), so this returns
    distances for ranking, not oracle-exact cosines — recall against
    brute force is the quality gate (tests + scripts/recall_report.py)."""
    m, kk, sub = codebooks.shape
    codes = pq_encode(df, codebooks, vec_col=vec_col, id_col=id_col)
    qrows = queries.select(id_col, vec_col).collect()  # few query rows by contract
    q_ids = [r[id_col] for r in qrows]
    qmat = np.array([list(r[vec_col]) for r in qrows], dtype="float64")
    # (n_q, m, k) lookup tables: squared distance from each query subvector
    # to every centroid of that subspace.
    tables = np.stack(
        [
            ((qmat[:, j * sub : (j + 1) * sub][:, None, :] - codebooks[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )

    @pandas_udf("array<double>")
    def score(codes_s: pd.Series) -> pd.Series:
        cm = np.array(codes_s.tolist(), dtype="int64")  # (n, m)
        n = cm.shape[0]
        out = np.zeros((n, tables.shape[0]), dtype="float64")
        for j in range(m):
            # tables[:, j, :] is (n_q, k); fancy-index by this batch's codes
            out += tables[:, j, :][:, cm[:, j]].T
        return pd.Series(list(out))

    scored = codes.select(F.col(id_col).alias("cand_id"), score("codes").alias("d"))
    ids = F.array(*[F.lit(i) for i in q_ids])
    pairs = scored.select(
        "cand_id", F.explode(F.arrays_zip(ids.alias("query_id"), F.col("d").alias("dist"))).alias("z")
    ).select(F.col("z.query_id"), "cand_id", F.col("z.dist").alias("dist")).where(
        F.col("query_id") != F.col("cand_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cand_id"))
    shortlist = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (k * rerank if rerank else k))
        .select("query_id", "cand_id", "dist", "rank")
    )
    if not rerank:
        return shortlist
    # Exact re-rank of the ADC shortlist (the canonical two-stage PQ
    # pipeline): only k*rerank candidates per query ever touch float
    # vectors — the corpus scan stayed 2 bytes/vector; the shortlist join
    # is id-keyed and tiny.
    qside = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        vectors.pd_norm(vec_col).alias("qn"),
    )
    cside = df.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        vectors.pd_norm(vec_col).alias("cn"),
    )
    cos = vectors.pd_dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    exact = (
        shortlist.select("query_id", "cand_id")
        .join(cside, "cand_id")
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id", "cand_id", (F.round(cos * 1000000) / 1000000).alias("cosine")
        )
    )
    return _ranked_topk(exact, k)


def l2_normalized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-normalize the vector column (zero vectors dropped — cosine is
    undefined for them; same guard as every cosine path here). For
    cosine-semantics ANN over PQ/IVF, quantize NORMALIZED vectors: on the
    unit sphere L2 and cosine induce the same ranking
    (||a-b||^2 = 2 - 2cos), so the ADC scan's distances order candidates
    exactly as cosine would."""
    nrm = vectors.pd_norm(vec_col)
    return (
        df.withColumn("_nrm", nrm)
        .where(F.col("_nrm") > 0)
        .withColumn(vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_nrm")))
        .drop("_nrm")
    )
