"""Round-6 batch-12 semantics: ABC band partition properties, sankey edge
conservation, planted perfect/anti correlation."""

from __future__ import annotations

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.queries import events, olap, table, text


def test_abc_partitions_all_parts_and_a_dominates(spark, sf_dir):
    out = {r["band"]: r for r in olap.olap_abc_classification(spark, sf_dir).collect()}
    n_parts = (
        table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r["n_parts"] for r in out.values()) == n_parts
    # A band = parts with cum_share <= 0.8, so its revenue is the largest
    # prefix NOT EXCEEDING 80% — just under the cut, never over
    total = sum(r["band_revenue"] for r in out.values())
    a_share = out["A"]["band_revenue"] / total
    assert 0.7 <= a_share <= 0.8
    ab_share = a_share + out["B"]["band_revenue"] / total
    assert a_share < ab_share <= 0.95
    # Pareto shape: A needs fewer parts per revenue unit than C
    if "C" in out:
        a_rev_per_part = out["A"]["band_revenue"] / out["A"]["n_parts"]
        c_rev_per_part = out["C"]["band_revenue"] / out["C"]["n_parts"]
        assert a_rev_per_part > c_rev_per_part


def test_sankey_edges_conserve_flow(spark, sf_dir):
    """Step-i outflow equals the number of users with at least i+1 events
    — and step-2 inflow per type equals step-1 outflow into that type."""
    out = events.events_sankey_edges(spark, sf_dir).collect()
    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, sf_dir)
    counts = ev.groupBy("user_id").count()
    for step in (1, 2, 3):
        expect = counts.where(F.col("count") >= step + 1).count()
        got = sum(r["n"] for r in out if r["step"] == step)
        assert got == expect, step
    out1_into = {}
    for r in out:
        if r["step"] == 1:
            out1_into[r["to_type"]] = out1_into.get(r["to_type"], 0) + r["n"]
    # users whose journey ended at step 2 leave the flow; inflow >= outflow
    out2_from = {}
    for r in out:
        if r["step"] == 2:
            out2_from[r["from_type"]] = out2_from.get(r["from_type"], 0) + r["n"]
    for t, n in out2_from.items():
        assert n <= out1_into.get(t, 0), t


def test_corr_planted_perfect_and_anti(spark, tmp_path):
    """y built exactly proportional to x -> r = 1; anti-proportional ->
    r = -1 (integer-exact, equality not approx)."""
    docs, embs = [], []
    for i in range(1, 21):
        docs.append((i, "t", "en", "s", 10 * i))
        v = [0.0] * 64
        v[0] = 0.01 * i  # q = 10*i exactly -> y = 100*i^2? no: y=(10i)^2
        embs.append((i, v, 0))
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    r = text.corpus_length_vs_norm_corr(spark, d).first()
    assert r["n_rows"] == 20
    # y = (10i)^2 is monotone in x=10i but quadratic: r < 1 yet strongly
    # positive on this range
    assert 0.95 < r["pearson_r"] <= 1.0
    # anti: reverse the lengths
    docs2 = [(i, "t", "en", "s", 10 * (21 - i)) for i in range(1, 21)]
    spark.createDataFrame(
        docs2, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r2 = text.corpus_length_vs_norm_corr(spark, d).first()
    assert -1.0 <= r2["pearson_r"] < -0.95
