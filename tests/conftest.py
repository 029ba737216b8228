from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from laposte_data_engineering_jedha_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


def _ensure_smoke_dir() -> str:
    """Outside the round driver's container /root/testdata doesn't exist;
    synthesize schema-compatible fixtures once per checkout (CI path)."""
    global SF_SMOKE
    if not os.path.isdir(SF_SMOKE):
        fallback = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".testdata", "sf0.001"
        )
        if not os.path.exists(os.path.join(fallback, "embeddings.parquet")):
            from laposte_data_engineering_jedha_spark.sources.testdata import generate

            generate(fallback, sf=0.001, seed=42)
        SF_SMOKE = fallback
    return SF_SMOKE


_ensure_smoke_dir()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="laposte_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def pq_mse(emb, books) -> float:
    """Mean squared reconstruction error per coordinate of `emb`'s
    vectors encoded against the (m, k, sub) codebook `books` by the fold
    kernel (vectors.pd_fold_codes): each subvector is replaced by its
    nearest centroid."""
    import numpy as np

    from laposte_data_engineering_jedha_spark.functions import vectors

    m, _, sub = books.shape
    rows = emb.select(
        "embedding", vectors.pd_fold_codes("embedding", books).alias("codes")
    ).collect()
    err = 0.0
    for r in rows:
        recon = np.concatenate([books[j][c] for j, c in enumerate(r["codes"])])
        err += float(((np.asarray(r["embedding"], dtype="float64") - recon) ** 2).sum())
    return err / (len(rows) * m * sub)
