"""Round-12 session tests: the IVF incremental-append lifecycle (r11
verdict item 8) and the auto-banded embedding-LSH oracle surface (item 6).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import dedup, similarity
from laposte_data_engineering_jedha_spark.queries import table


def _canon(df):
    return sorted(
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"]) for r in df.collect()
    )


def _search(spark, path, queries_df):
    return similarity.ivf_index_search(spark, path, queries_df, k=5, n_probe=4)


def test_ivf_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """The delta path's contract: build-base-then-append must answer every
    search exactly like a from-scratch build over the full corpus —
    append assigns against the same pinned centroids, so the union of
    base + delta postings IS the full posting set."""
    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    grown = str(tmp_path / "grown")
    full = str(tmp_path / "full")
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 4 != 0), grown, centers)
    outcome = similarity.ivf_index_append(
        spark, grown, emb.where(F.col("vec_id") % 4 == 0), delta_tag="t1"
    )
    assert outcome == "delta"  # 1/4 of the corpus: under rebuild_fraction
    similarity.ivf_index_write(emb, full, centers)
    queries_df = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding")
    got = _canon(_search(spark, grown, queries_df))
    want = _canon(_search(spark, full, queries_df))
    assert len(got) > 0
    assert got == want


def test_ivf_append_delta_is_idempotent(spark, sf_dir, tmp_path):
    """A duplicate logical append (same delta_tag — the converging-race
    protocol) publishes exactly one delta; search sees no duplicates."""
    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    idx = str(tmp_path / "idx")
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 4 != 0), idx, centers)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    assert similarity.ivf_index_append(
        spark, idx, batch, delta_tag="b1"
    ) == "delta"
    assert similarity.ivf_index_append(
        spark, idx, batch, delta_tag="b1"
    ) == "delta"
    assert similarity._index_delta_dirs(idx) == [os.path.join(idx, "deltas", "b1")]
    assert similarity._index_postings(spark, idx).count() == emb.count()


def test_ivf_append_rejects_changed_vector_for_indexed_id(spark, sf_dir, tmp_path):
    """An id already in the base or a delta may not come back with a
    different vector: search would rank both copies and return the id
    twice. The append raises, names the id, and publishes nothing."""
    import pytest

    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    idx = str(tmp_path / "idx")
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 4 != 0), idx, centers)
    assert similarity.ivf_index_append(
        spark, idx, emb.where(F.col("vec_id") % 4 == 0),
        rebuild_fraction=5.0, delta_tag="d1",
    ) == "delta"
    n_before = similarity._index_postings(spark, idx).count()
    negated = F.transform("embedding", lambda x: -x).alias("embedding")
    for vec_id in (1, 4):  # 1 is in the base, 4 in delta d1
        moved = emb.where(F.col("vec_id") == vec_id).select("vec_id", negated)
        with pytest.raises(ValueError, match=rf"\[{vec_id}\]"):
            similarity.ivf_index_append(
                spark, idx, moved, rebuild_fraction=5.0,
                delta_tag=f"moved{vec_id}",
            )
    assert similarity._index_delta_dirs(idx) == [os.path.join(idx, "deltas", "d1")]
    assert similarity._index_postings(spark, idx).count() == n_before


def test_ivf_append_accepts_same_vector_republish(spark, sf_dir, tmp_path):
    """Republishing an indexed id with its stored vector is accepted: the
    copies carry equal cosines, so search returns the id once."""
    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    idx = str(tmp_path / "idx")
    similarity.ivf_index_write(emb, idx, centers)
    again = emb.where(F.col("vec_id") < 8)
    assert similarity.ivf_index_append(
        spark, idx, again, delta_tag="again"
    ) == "delta"
    queries_df = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding")
    got = _canon(_search(spark, idx, queries_df))
    pairs = [(q, c) for q, c, _, _ in got]
    assert len(got) > 0
    assert len(pairs) == len(set(pairs))


def test_ivf_append_drift_triggers_compaction(spark, sf_dir, tmp_path):
    """Past rebuild_fraction the LSM stack compacts: one fresh single-base
    index (no deltas left), same search answers as the full build."""
    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    grown = str(tmp_path / "grown")
    full = str(tmp_path / "full")
    # base = 1/4 of the corpus, appended batch = 3/4 -> ratio 3 > 0.5
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 4 == 0), grown, centers)
    outcome = similarity.ivf_index_append(
        spark, grown, emb.where(F.col("vec_id") % 4 != 0)
    )
    assert outcome == "rebuild"
    assert similarity._index_delta_dirs(grown) == []  # consumed by compaction
    similarity.ivf_index_write(emb, full, centers)
    queries_df = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding")
    got = _canon(_search(spark, grown, queries_df))
    want = _canon(_search(spark, full, queries_df))
    assert len(got) > 0
    assert got == want


def test_auto_banding_spark_side_planes_match_sql_formula():
    """dedup_embedding_cosine_auto's two engines derive `planes` from the
    same count(*): the Python twin (auto_band_planes) and the SQL
    GREATEST/ceil/log2 formula must agree at every corpus size, the
    fixture sizes (500 and 2,000 vectors) included (the hash row would
    catch a drift only after the mismatch corrupted keys — this pins the
    formula directly). Literal sizes, so it checks the same cases in
    every checkout."""
    import duckdb

    for n in (1, 64, 500, 2_000, 5_000, 20_000, 10**6):
        sql_planes = duckdb.sql(
            f"SELECT GREATEST(4, CAST(ceil(log2({n} / 64.0)) AS BIGINT))"
        ).fetchone()[0]
        assert dedup.auto_band_planes(n) == sql_planes, n


def test_cosine_histogram_plan_is_equi_join(spark, sf_dir):
    """The r12 sf1 sweep caught the first registered form of
    embedding_cosine_histogram at the 300 s watchdog: a pair-level hash
    gate on an id_a < id_b theta-join is a nested-loop cartesian
    evaluating n^2/2 md5s regardless of output size. The rewritten
    per-vector-bucket form must plan as a HASH equi-join — pin that no
    nested-loop/cartesian node ever reappears."""
    from laposte_data_engineering_jedha_spark import queries as q

    df = q.queries()["embedding_cosine_histogram"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hamming_filter_runs_below_pair_dedup(spark, sf_dir):
    """hamming_band_pairs must filter `hamming <= d` BEFORE the pair
    dropDuplicates (r12: the old order shuffled the full banded
    candidate flood through the dedup Exchange — 36.9 -> 11.5 s at sf1).
    The two orders are result-identical, and Catalyst cannot push a
    non-key predicate through the dedup aggregate itself, so the order
    is pinned structurally: in the optimized logical plan the
    Deduplicate node sits ABOVE the hamming filter."""
    from laposte_data_engineering_jedha_spark import queries as q

    df = q.queries()["dedup_simhash"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # with the filter below the dedup, Catalyst goes one further and
    # folds `bit_count(xor) <= 3` INTO the band join's condition — the
    # flood dies inside the join, never reaching the dedup Aggregate.
    join_line = next(ln for ln in plan.splitlines() if "Join Inner" in ln)
    assert "<= 3" in join_line, join_line
    # and the pair-dedup aggregate sits ABOVE the join in the tree
    assert plan.index("Aggregate") < plan.index("Join Inner"), plan[:2000]
