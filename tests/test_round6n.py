"""Round-6 batch-15 semantics: planted cross-source passage sharing and
elasticity correlation sign recovery."""

from __future__ import annotations

import datetime as dt

from laposte_data_engineering_jedha_spark.queries import olap, text


def test_cross_source_dupes_planted(spark, tmp_path):
    """Docs 1 (srcA) and 2 (srcB) share one exact 8-token passage; doc 3
    (srcA) shares nothing -> exactly one cross pair (srcA, srcB), zero
    within pairs."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " one two three four five six seven eight", "en", "srcA", 90),
        (2, shared + " uno dos tres cuatro cinco seis siete ocho", "en", "srcB", 90),
        (3, "solo duo trio quad penta hexa hepta octa", "en", "srcA", 40),
    ]
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = text.corpus_cross_source_dupes(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("srcA", "srcB")
    assert r["n_cross_pairs"] == 1 and r["n_within_pairs"] == 0


def test_cross_source_dupes_fixture_nonempty(spark, sf_dir):
    out = text.corpus_cross_source_dupes(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_cross_pairs"] + r["n_within_pairs"] >= 1
        assert r["source_a"] <= r["source_b"]
        if r["source_a"] == r["source_b"]:
            assert r["n_cross_pairs"] == 0


def test_discount_corr_planted_signs(spark, tmp_path):
    """Brand P: quantity rises exactly with discount -> r = 1; brand N:
    falls -> r = -1; brand Z: constant discount -> NULL (zero variance)."""
    li = []
    k = 0
    for i in range(1, 11):
        k += 1
        li.append((k, 10, 1, float(i), i / 100.0, dt.datetime(2024, 1, 2)))   # P
        k += 1
        li.append((k, 20, 1, float(11 - i), i / 100.0, dt.datetime(2024, 1, 2)))  # N
        k += 1
        li.append((k, 30, 1, float(i), 0.05, dt.datetime(2024, 1, 2)))        # Z
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_linenumber long, l_quantity double, l_discount double, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(10, "P"), (20, "N"), (30, "Z")], "p_partkey long, p_brand string"
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    out = {r["brand"]: r["pearson_r"] for r in olap.olap_discount_quantity_corr(spark, d).collect()}
    assert out["P"] == 1.0
    assert out["N"] == -1.0
    assert out["Z"] is None
