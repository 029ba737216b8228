"""Power-iteration semantics: on planted correlated data the iteration
must rotate off the start basis toward the dominant eigen-direction —
the property the isotropic fixture (where e_1 stays dominant) can't show."""

from __future__ import annotations

from laposte_data_engineering_jedha_spark.queries import similarity


def test_power_iteration_rotates_to_planted_direction(spark, tmp_path):
    """Rows with x5 = 2*x1 (all other dims 0): the covariance's only
    eigenvector is along (1, 2) on dims (1, 5), so after two steps from
    e_1 the dim-5 component must lead dim 1 by EXACTLY the factor 2
    (all-integer arithmetic, no tolerance)."""
    rows = []
    for i in range(100):
        v = [0.0] * 64
        sign = 1.0 if i % 2 == 0 else -1.0
        v[0] = 0.5 * sign
        v[4] = 1.0 * sign
        rows.append((i, v, 0))
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = similarity.embedding_power_iteration(spark, d).collect()
    top = out[0]
    second = out[1]
    assert top["dim"] == 5 and second["dim"] == 1
    assert top["component"] == 2 * second["component"]
    # every other dimension is exactly zero -> only 2 nonzero rows survive
    # in the top-8 (the rest are zero-magnitude ties on dim order)
    assert all(r["magnitude"] == 0 for r in out[2:])


def test_power_iteration_fixture_shape(spark, sf_dir):
    out = similarity.embedding_power_iteration(spark, sf_dir).collect()
    assert len(out) == 8
    mags = [r["magnitude"] for r in out]
    assert mags == sorted(mags, reverse=True)
    assert all(1 <= r["dim"] <= 64 for r in out)
