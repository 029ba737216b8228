"""Vector expression layer — embedding math over `array<float>` columns.

Dot products / norms / cosine are built from `zip_with` + `aggregate`
(JVM-side, codegen'd) in DOUBLE precision with strict left-to-right
accumulation, so the DuckDB oracle (same accumulation order via
`list_reduce`) matches bit-for-bit. For 100 TB this is the per-row kernel
of both brute-force and LSH-bucketed similarity search; swapping in an
Arrow-batched Pandas UDF (numpy BLAS) is a drop-in if profiling demands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

# Random-hyperplane LSH (Charikar 2002 SimHash for angles): deterministic
# integer "pseudo-random" weights so both engines regenerate them exactly:
# w(p, i) = md5int32(f"{p}_{i}") % 2001 - 1000. md5, not an LCG: an LCG
# over the flat (p*dim + i) index makes consecutive hyperplanes strongly
# CORRELATED (nearly parallel), which collapses the bucket space — measured
# 57M candidate pairs at 105k random vectors where ~1M was expected, and a
# disk-filling spill at 420k (SCALE.md). md5 decorrelates the planes and is
# identically computable in Spark (conv(substring(md5,1,8),16,10)), numpy
# (hashlib), and DuckDB (CAST('0x'||substr(md5,1,8) AS BIGINT)).
HYPERPLANES = 16
HP_MOD = 2_001
HP_SHIFT = 1_000


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double-precision dot product."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 for a zero vector on either side."""
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def max_abs(a: Column | str) -> Column:
    """max_i |a_i| in double precision."""
    return F.array_max(F.transform(_c(a), lambda x: F.abs(x.cast("double"))))


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """Symmetric int8 quantization of a float vector: q_i =
    clamp(floor(a_i * scale + 0.5), -127, 127). `floor(x + 0.5)`
    (round-half-toward-+inf) is used instead of engine round() because it
    is exact integer math on IEEE doubles in BOTH Spark and DuckDB —
    half-even vs half-away round() modes can't diverge. A zero vector
    (scale NULL via 127/nullif(max_abs,0)) quantizes to all zeros."""
    q = F.transform(
        _c(a),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int")),
        ),
    )
    return F.when(scale.isNull(), F.transform(_c(a), lambda x: F.lit(0))).otherwise(q)


# --- Arrow-batched numpy kernels ---------------------------------------------
#
# The HOF expressions above are the pure-JVM reference semantics, but they
# are interpreted (no codegen) — evaluating them per PAIR in an O(n^2)
# near-dup join is ~100x too slow, and unrolling the math into flat 64-term
# expression trees trips a quadratic Catalyst canonicalization blowup.
# The scale path is a vectorized Pandas UDF: Arrow moves the vectors in
# columnar batches, numpy does one fused (n_pairs x dim) pass. Accumulation
# is an explicit left-to-right loop over dimensions (vectorized across
# rows), so every add/mul happens in IEEE float64 in the SAME order as the
# HOF version and the DuckDB oracle — bit-identical results, 100x faster.


def _to_matrix(s) -> "object":

    return np.array([np.asarray(v, dtype="float64") for v in s], dtype="float64")


def _ltr_dot(ma, mb):
    """Left-to-right accumulated row-wise dot of two (n, dim) matrices."""

    acc = np.zeros(len(ma), dtype="float64")
    for i in range(ma.shape[1]):
        acc += ma[:, i] * mb[:, i]
    return acc


def pd_dot(a: Column | str, b: Column | str) -> Column:
    """Arrow-batched twin of `dot` (bit-identical, vectorized)."""

    @pandas_udf("double")
    def kernel(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series(_ltr_dot(_to_matrix(sa), _to_matrix(sb)))

    return kernel(_c(a), _c(b))


def pd_norm(a: Column | str) -> Column:
    """Arrow-batched twin of `norm` (bit-identical, vectorized)."""

    @pandas_udf("double")
    def kernel(sa: pd.Series) -> pd.Series:
        m = _to_matrix(sa)
        return pd.Series(np.sqrt(_ltr_dot(m, m)))

    return kernel(_c(a))


def py_hyperplane_weights(plane: int, dim: int) -> list[int]:
    """The md5 weight vector computed Python-side — same closed form as
    `hyperplane_weights`."""
    import hashlib

    return [
        int(hashlib.md5(f"{plane}_{i}".encode()).hexdigest()[:8], 16) % HP_MOD
        - HP_SHIFT
        for i in range(dim)
    ]


def pd_lsh_bucket(vec: Column | str, dim: int, planes: int = HYPERPLANES) -> Column:
    """Arrow-batched twin of `lsh_bucket`: per plane, a left-to-right
    float64 projection against the literal md5 weights, sign bit packed
    MSB-first."""

    weights = [
        np.array(py_hyperplane_weights(p, dim), dtype="float64") for p in range(planes)
    ]

    @pandas_udf("long")
    def kernel(sa: pd.Series) -> pd.Series:
        m = _to_matrix(sa)
        bucket = np.zeros(len(m), dtype="int64")
        for w in weights:
            acc = np.zeros(len(m), dtype="float64")
            for i in range(dim):
                acc += m[:, i] * w[i]
            bucket = bucket * 2 + (acc >= 0)
        return pd.Series(bucket)

    return kernel(_c(vec))


def pd_lsh_buckets_banded(
    vec: Column | str, dim: int, bands: int, band_planes: int
) -> Column:
    """Banded hyperplane-LSH bucket ids (OR-amplification): one bucket per
    band, band `b` packing the sign bits of planes [b*band_planes,
    (b+1)*band_planes) MSB-first — the SimHash-style AND/OR construction
    (Charikar 2002; MMDS ch.3) where two vectors are candidates if they
    collide in ANY band. Same md5 closed form as `lsh_bucket`, so a SQL
    oracle regenerates every bucket exactly. Returns array<long> of length
    `bands`; posexplode it to (band, key) join keys."""

    n_planes = bands * band_planes
    # (dim, n_planes) weight matrix — one row broadcast per dimension step
    w_matrix = np.array(
        [py_hyperplane_weights(p, dim) for p in range(n_planes)], dtype="float64"
    ).T
    pack = np.array(
        [1 << (band_planes - 1 - j) for j in range(band_planes)], dtype="int64"
    )

    @pandas_udf("array<long>")
    def kernel(sa: pd.Series) -> pd.Series:
        m = _to_matrix(sa)
        # accumulate ALL planes per dimension step: same left-to-right
        # per-plane order as the SQL oracle's list_reduce, one numpy op
        # per dimension instead of one per (plane, dimension)
        acc = np.zeros((len(m), n_planes), dtype="float64")
        for i in range(dim):
            acc += m[:, i][:, None] * w_matrix[i][None, :]
        bits = (acc >= 0).astype("int64").reshape(len(m), bands, band_planes)
        buckets = (bits * pack[None, None, :]).sum(axis=2)
        return pd.Series([row.tolist() for row in buckets])

    return kernel(_c(vec))


def pd_nearest_centroids(vec: Column | str, centers: "np.ndarray", n: int) -> Column:
    """`n` nearest centroid ids (ascending distance, centroid id as the
    deterministic tiebreak) for each vector — the IVF coarse-quantizer
    assignment. `centers` is a (k, dim) matrix closure-shipped to every
    task (an IVF codebook is small even at 100 TB: 64k centroids x 64 dims
    x 8 B = 32 MB, the size class Spark broadcasts anyway). One fused
    numpy pass per Arrow batch: ||x-c||^2 = ||x||^2 - 2 x.C^T + ||c||^2,
    argpartition for the top-n — scales to thousands of centroids where a
    per-centroid expression tree would trip Catalyst's canonicalization
    blowup (see the Arrow-kernels note above)."""

    c = np.asarray(centers, dtype="float64")
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("array<int>")
    def kernel(sa: pd.Series) -> pd.Series:
        m = _to_matrix(sa)
        # (rows, k) squared distances; ||x||^2 omitted (constant per row,
        # does not change the per-row ordering)
        d = c_sq[None, :] - 2.0 * (m @ c.T)
        if n == 1:
            return pd.Series([[int(i)] for i in np.argmin(d, axis=1)])
        idx = np.argpartition(d, min(n, d.shape[1] - 1), axis=1)[:, :n]
        rows = np.arange(len(m))[:, None]
        order = np.lexsort((idx, d[rows, idx]), axis=1)
        return pd.Series([r.tolist() for r in np.take_along_axis(idx, order, axis=1)])

    return kernel(_c(vec))


def _fold_d2(m: "np.ndarray", centers: "np.ndarray") -> "np.ndarray":
    """(n, k) squared distances of each row of `m` to each centroid with
    the SAME left-to-right per-dimension fold as the Catalyst/DuckDB twin
    expressions (queries/similarity.py:_spark_d2 / _sql_d2): acc = acc +
    diff*diff per dimension in IEEE float64, vectorized across rows — NOT
    a gemm or numpy axis-sum (pairwise summation reorders additions), so
    results are bit-identical to the HOF fold and the oracle."""
    d2 = np.empty((len(m), len(centers)), dtype="float64")
    if len(m) == 0:  # Arrow may hand the kernel an empty batch
        return d2
    for ci in range(len(centers)):
        cv = centers[ci]
        acc = np.zeros(len(m), dtype="float64")
        for d in range(centers.shape[1]):
            diff = m[:, d] - cv[d]
            acc = acc + diff * diff
        d2[:, ci] = acc
    return d2


def pd_fold_codes(vec: Column | str, codebooks: "np.ndarray") -> Column:
    """Per-subspace nearest-centroid codes (`array<int>`, ties -> lowest
    id) against an (m, k, sub) codebook — the Arrow-batched twin of the
    per-centroid Catalyst fold argmin (queries/similarity.py:_spark_argmin),
    bit-identical by construction (see _fold_d2) and ~20x faster: the
    fold is interpreted per (row, centroid, dim) on the JVM, while here
    each dimension step is one fused numpy op across the whole batch.
    np.argmin's first-occurrence rule == the struct-min lowest-id
    tiebreak. Map-side only; the codebook ships in the closure."""
    books = np.asarray(codebooks, dtype="float64")
    m, k, sub = books.shape

    @pandas_udf("array<int>")
    def kernel(sa: pd.Series) -> pd.Series:
        mat = _to_matrix(sa)
        out = np.empty((len(mat), m), dtype="int32")
        for j in range(m):
            out[:, j] = _fold_d2(mat[:, j * sub : (j + 1) * sub], books[j]).argmin(axis=1)
        return pd.Series([r.tolist() for r in out])

    return kernel(_c(vec))


def pd_fold_assign_d2(vec: Column | str, centers: "np.ndarray") -> Column:
    """`struct<centroid:int, d2:double>` nearest-centroid assignment with
    the exact min distance — fold-faithful twin of
    `F.array_min(struct(d2, c))` over per-centroid folds (ties -> lowest
    id via argmin first-occurrence). The d2 value is the selected
    centroid's fold result, bit-identical to `F.least` over the folds."""
    c = np.asarray(centers, dtype="float64")

    @pandas_udf("centroid int, d2 double")
    def kernel(sa: pd.Series) -> pd.DataFrame:
        mat = _to_matrix(sa)
        d2 = _fold_d2(mat, c)
        arg = d2.argmin(axis=1)
        return pd.DataFrame(
            {"centroid": arg.astype("int32"), "d2": d2[np.arange(len(mat)), arg]}
        )

    return kernel(_c(vec))


def pd_fold_topn_centroids(vec: Column | str, centers: "np.ndarray", n: int) -> Column:
    """The `n` nearest centroid ids ordered by (d2, id) — fold-faithful
    twin of the struct array_sort slice (queries/similarity.py:_probe_array):
    np.argsort(kind='stable') keeps ties in index order, matching the
    lexicographic (d, c) struct sort on both engines."""
    c = np.asarray(centers, dtype="float64")

    @pandas_udf("array<int>")
    def kernel(sa: pd.Series) -> pd.Series:
        mat = _to_matrix(sa)
        d2 = _fold_d2(mat, c)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n].astype("int32")
        return pd.Series([r.tolist() for r in idx])

    return kernel(_c(vec))


def pd_fold_d2_tables(vec: Column | str, codebooks: "np.ndarray") -> Column:
    """Per-subspace ADC lookup tables (`array<array<double>>`, m arrays of
    k squared distances) against an (m, k, sub) codebook — fold-faithful
    twin of the per-centroid Catalyst d2 folds that build the query-side
    tables in pq_adc_topk_pinned (queries/similarity.py). Each table value is
    the exact _fold_d2 result, so downstream `element_at` lookups and the
    pinned left-to-right adds stay bit-identical to the oracle."""
    books = np.asarray(codebooks, dtype="float64")
    m, k, sub = books.shape

    @pandas_udf("array<array<double>>")
    def kernel(sa: pd.Series) -> pd.Series:
        mat = _to_matrix(sa)
        tabs = np.empty((len(mat), m, k), dtype="float64")
        for j in range(m):
            tabs[:, j, :] = _fold_d2(mat[:, j * sub : (j + 1) * sub], books[j])
        return pd.Series([[row.tolist() for row in r] for r in tabs])

    return kernel(_c(vec))


def hyperplane_weights(plane: Column, dim: int) -> Column:
    """Deterministic integer weight vector of hyperplane `plane` (0-based):
    md5 of "plane_i" per dimension (see module docstring for why md5)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat(plane.cast("string"), F.lit("_"), i.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % HP_MOD
        - HP_SHIFT,
    )


def lsh_bucket(vec: Column | str, dim: int, planes: int = HYPERPLANES) -> Column:
    """Sign-random-projection bucket id: bit p = [dot(vec, w_p) >= 0], packed
    MSB-first into a BIGINT. Cosine-similar vectors collide with probability
    1 - theta/pi per bit, so bucketing the self-join turns O(n^2) candidate
    generation into an equi-join keyed by bucket — the scale path for ANN."""
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    _c(vec),
                    hyperplane_weights(p, dim),
                    lambda x, w: x.cast("double") * w.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc * 2 + x)
