"""Round-8 additions: invariants the oracle hash can't express by itself
(error bounds, one-sidedness, cap semantics) + planted edge cases."""

from __future__ import annotations

import conftest
import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark import queries as q

SF = conftest.SF_SMOKE


def _rows(spark, name):
    return q.queries()[name](spark, SF).collect()


def test_histogram_quantile_error_bounded_by_bucket(spark):
    """The sketch estimate is the bucket's LOWER edge of a type-1
    (first-cum-crossing) quantile, while the exact side interpolates
    (type-7) and may cross one bucket boundary — so the estimate sits at
    most TWO bucket widths below the exact percentile and never above
    it."""
    from laposte_data_engineering_jedha_spark.queries.sketch import _HBUCKET

    rows = _rows(spark, "sketch_histogram_quantiles")
    assert {r["p_label"] for r in rows} == {"p50", "p95", "p99"}
    for r in rows:
        assert r["est_cents"] <= r["exact_cents"] + 1e-9
        assert r["exact_cents"] - r["est_cents"] <= 2 * _HBUCKET


def test_count_min_is_one_sided_and_covers_all_keys(spark):
    """CM estimates never undercount; every event type gets a row; the
    estimates sum to >= the table size."""
    rows = _rows(spark, "events_count_min_estimate")
    types = {r["event_type"] for r in rows}
    assert len(types) == len(rows) >= 3
    total = 0
    for r in rows:
        assert r["overcount"] >= 0
        assert r["cm_estimate"] == r["true_n"] + r["overcount"]
        total += r["true_n"]
    from laposte_data_engineering_jedha_spark.queries import events_table

    assert total == events_table(spark, SF).count()


def test_decile_lift_monotone_and_complete(spark):
    """Deciles 1..10, cumulative share monotone to ~1e6 ppm, decile-1
    (biggest spenders) share >= decile-10 share."""
    rows = sorted(_rows(spark, "olap_customer_decile_lift"), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    cums = [r["cum_share_ppm"] for r in rows]
    assert all(a <= b for a, b in zip(cums, cums[1:]))
    assert 999_990 <= cums[-1] <= 1_000_000  # floor division loses < 10 ppm
    assert rows[0]["share_ppm"] >= rows[-1]["share_ppm"]


def test_pareto_80_within_supplier_count(spark):
    for r in _rows(spark, "olap_supplier_pareto_80"):
        assert 1 <= r["n_for_80pct"] <= r["n_suppliers"]
        assert 0 < r["pareto_ppm"] <= 1_000_000


def test_sampling_weights_sum_and_ordering(spark):
    """sqrt temperature damps dominance: weights sum to ~1e6 and a source
    with more docs never gets a smaller weight."""
    rows = _rows(spark, "corpus_sampling_weights_sqrt")
    total = sum(r["weight_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= total <= 1_000_000
    by_docs = sorted(rows, key=lambda r: (r["n_docs"], r["source"]))
    for a, b in zip(by_docs, by_docs[1:]):
        if a["n_docs"] < b["n_docs"]:
            assert a["weight_ppm"] <= b["weight_ppm"]


def test_repeated_token_runs_planted(spark, tmp_path):
    """Planted docs with known longest runs, including the single-token
    and the all-same-token edge cases."""
    d = str(tmp_path / "runs")
    spark.createDataFrame(
        [
            (1, "a b b b c", "en", "s", 9),
            (2, "x", "en", "s", 1),
            (3, "z z z z", "en", "s", 7),
            (4, "p q p q p", "en", "s", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["max_run"]: r["n_docs"]
        for r in q.queries()["corpus_repeated_token_runs"](spark, d).collect()
    }
    assert got == {3: 1, 1: 2, 4: 1}


def test_label_prop_cap_preserves_fixture_exactness(spark, monkeypatch):
    """The round-8 capped default must equal the exact all-pairs edges
    on the fixture (no cell reaches the cap there) — the same contract
    the unchanged oracle hash asserts, pinned here against a cap above
    every cell's occupancy, which emits each pair once per shared cell
    exactly as the all-pairs join does."""
    from laposte_data_engineering_jedha_spark.queries import graph

    capped = {
        (r["user_id"], r["community"])
        for r in graph.graph_label_prop_communities(spark, SF).collect()
    }
    monkeypatch.setattr(graph, "_LP_CELL_CAP", 10**9)
    exact = {
        (r["user_id"], r["community"])
        for r in graph.graph_label_prop_communities(spark, SF).collect()
    }
    assert capped == exact and len(capped) > 0


def test_winsorized_stats_clamp_semantics(spark):
    """Means sit inside the clamp bounds and n_clamped < n_events."""
    for r in _rows(spark, "events_value_winsorized_stats"):
        assert r["lo_centicents"] <= r["winsor_mean_centicents"] <= r["hi_centicents"]
        assert 0 <= r["n_clamped"] < r["n_events"]


def test_auto_band_planes_bounds_bucket_occupancy(spark):
    """auto_band_planes keeps EXPECTED LSH bucket occupancy ~constant as
    the corpus grows (the r8 sf1 finding: fixed planes -> n^2/2^planes
    candidate mass). On random vectors, a 4x corpus with fixed planes
    ~4x-es mean occupancy; with auto planes it stays within 2x of the
    target."""
    import numpy as np

    from laposte_data_engineering_jedha_spark.functions import vectors
    from laposte_data_engineering_jedha_spark.operators import dedup
    from pyspark.sql import functions as F

    assert dedup.auto_band_planes(50) == 4  # floored
    assert dedup.auto_band_planes(64 * 2**5) == 5
    assert dedup.auto_band_planes(64 * 2**10) == 10

    rng = np.random.default_rng(7)

    def occupancy(n: int, planes: int) -> float:
        mat = rng.standard_normal((n, 16)).astype("float32")
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(mat)],
            "vec_id long, embedding array<float>",
        )
        b = df.select(
            F.posexplode(
                vectors.pd_lsh_buckets_banded("embedding", 16, 2, planes)
            ).alias("band", "key")
        )
        row = (
            b.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.avg("n").alias("m"))
            .first()
        )
        return float(row["m"])

    small_fixed = occupancy(1000, 4)
    big_fixed = occupancy(4000, 4)
    big_auto = occupancy(4000, dedup.auto_band_planes(4000, target_bucket=64))
    assert big_fixed > 2.5 * small_fixed  # fixed planes: occupancy tracks n
    assert big_auto < 0.5 * big_fixed  # auto planes pull it back down


def test_ivf_persistent_index_matches_in_memory_and_prunes(spark, tmp_path):
    """The persisted IVF index (build once, search later) must return
    EXACTLY what the fit-per-query ivf_knn returns under the same seed
    (same quantizer -> same probes -> same candidates -> same top-k),
    and the postings scan must carry a centroid PartitionFilter — the
    property that makes a stored 100 TB index readable per-query."""
    import contextlib
    import io

    from laposte_data_engineering_jedha_spark.operators import similarity
    from laposte_data_engineering_jedha_spark.queries import table as qtable

    emb = qtable(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    idx = str(tmp_path / "ivf_idx")
    similarity.ivf_index_write(emb, idx, n_centroids=16, seed=42)
    got = similarity.ivf_index_search(spark, idx, queries, k=5, n_probe=4)
    want = similarity.ivf_knn(emb, queries, k=5, n_centroids=16, n_probe=4, seed=42)
    canon = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"]) for r in df.collect()
    )
    assert canon(got) == canon(want)
    assert len(canon(got)) > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    assert "centroid IN" in plan or "centroid#" in plan.split("PartitionFilters")[1][:200]


def test_ivf_index_search_missing_and_corrupt_index_raise(spark, tmp_path):
    """ADVICE r8: an absent/empty centroids.parquet must raise a clear
    'not found/empty' error (was IndexError on centers_rows[0]), and a
    centroid-id GAP must raise instead of silently returning zero rows
    for queries routed to the missing centroid."""
    from laposte_data_engineering_jedha_spark.operators import similarity
    from laposte_data_engineering_jedha_spark.queries import table as qtable

    emb = qtable(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)

    empty = str(tmp_path / "empty_idx")
    spark.createDataFrame([], "centroid int, vals array<double>").write.parquet(
        f"{empty}/centroids.parquet"
    )
    with pytest.raises(ValueError, match="not found or empty"):
        similarity.ivf_index_search(spark, empty, queries)

    gappy = str(tmp_path / "gappy_idx")
    similarity.ivf_index_write(emb, gappy, n_centroids=8, seed=42)
    cents = spark.read.parquet(f"{gappy}/centroids.parquet").where(
        F.col("centroid") != 3
    )
    cents.write.mode("overwrite").parquet(f"{gappy}/centroids2.parquet")
    import shutil

    shutil.rmtree(f"{gappy}/centroids.parquet")
    shutil.move(f"{gappy}/centroids2.parquet", f"{gappy}/centroids.parquet")
    with pytest.raises(ValueError, match="centroid-id gaps"):
        similarity.ivf_index_search(spark, gappy, queries)


def test_load_sweeps_stale_stage_dirs(spark, tmp_path):
    """ADVICE r8: .laposte_stage_* dirs leaked by a hard-killed run must
    be swept on the next delivery into the same out_path."""
    import os

    from laposte_data_engineering_jedha_spark.plans import load as load_mod

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, ".laposte_stage_stale123"))
    with open(
        os.path.join(out, ".laposte_stage_stale123", "leftover.parquet"), "w"
    ) as fh:
        fh.write("junk")
    df = spark.range(5).select(F.col("id").alias("delivery_id"))
    load_mod.load_data(df, {"output": {"path": out, "format": "csv"}})
    assert not [d for d in os.listdir(out) if d.startswith(".laposte_stage_")]
    assert os.path.exists(os.path.join(out, "deliveries.csv"))


def test_hourly_autocorr_shape(spark):
    rows = {r["lag_hours"]: r for r in _rows(spark, "events_hourly_autocorr")}
    assert set(rows) == {1, 24}
    for r in rows.values():
        assert -1.0 <= r["r"] <= 1.0
        assert r["n_pairs"] > 0
    assert rows[1]["n_pairs"] > rows[24]["n_pairs"]
