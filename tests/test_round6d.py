"""k-medoid step semantics — planted geometry the oracle hash can't
express (on the isotropic random fixture the seeds happen to BE their
clusters' medoids, so the fixture alone never exercises a moving
recenter)."""

from __future__ import annotations

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.queries import similarity


def _emb(vec_id: int, x: float):
    v = [0.0] * 64
    v[0] = x
    return (vec_id, v, 0)


def test_kmedoid_recenter_moves_off_seed(spark, tmp_path):
    """Seeds (ids 0..3) at x = 0, .1, .2, .3; five members at x = .04 pull
    cluster 1's mean to ~.033, so the medoid must move to id 10 (x=.04),
    NOT stay on the seed."""
    rows = [_emb(0, 0.0), _emb(1, 0.1), _emb(2, 0.2), _emb(3, 0.3)]
    rows += [_emb(10 + i, 0.04) for i in range(5)]
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["cluster"]: r for r in similarity.embedding_kmedoid_step(spark, d).collect()}
    c1 = out[1]
    assert c1["medoid_id"] == 10, c1  # moved off seed 0
    assert c1["n_before"] == 6  # seed + 5 members
    # re-assignment against the moved medoid (x=.04 vs next at .1):
    # boundary is .07 — all six original members stay
    assert c1["n_after"] == 6
    # every vector is assigned somewhere in pass 2
    assert sum(r["n_after"] for r in out.values()) == len(rows)


def test_kmedoid_fixture_partitions_everything(spark, sf_dir):
    out = similarity.embedding_kmedoid_step(spark, sf_dir).collect()
    from laposte_data_engineering_jedha_spark.queries import table

    n = table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_after"] for r in out) == n
    assert sum(r["n_before"] for r in out) == n
    assert len({r["medoid_id"] for r in out}) == len(out)  # distinct medoids


def test_kmedoid_plan_broadcasts_both_assignment_passes(spark, sf_dir):
    plan = similarity.embedding_kmedoid_step(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    # two k-row sides broadcast (seeds + medoids); no SortMergeJoin on the
    # point side
    assert plan.count("BroadcastNestedLoopJoin") >= 2 or plan.count("BroadcastHashJoin") >= 2
