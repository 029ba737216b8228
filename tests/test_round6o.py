"""TV-distance semantics: bounds on the fixture, planted identical and
disjoint distributions."""

from __future__ import annotations

from laposte_data_engineering_jedha_spark.queries import text


def test_tv_distance_bounds(spark, sf_dir):
    out = text.corpus_source_tv_distance(spark, sf_dir).collect()
    assert len(out) == 20
    for r in out:
        assert 0.0 <= r["tv_distance"] <= 1.0
        assert r["n_tokens"] > 0


def test_tv_distance_planted_extremes(spark, tmp_path):
    """Source 'same' uses exactly the corpus-average vocabulary mix; its
    TV distance must be strictly smaller than source 'diff', whose
    vocabulary is fully disjoint from everything else. A single-source
    corpus has TV 0 (distribution == itself)."""
    rows = [
        (1, "cat dog cat dog", "en", "same", 15),
        (2, "cat dog cat dog", "en", "same2", 15),
        (3, "xyzzy quux corge grault", "en", "diff", 23),
    ]
    d = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["source"]: r["tv_distance"] for r in text.corpus_source_tv_distance(spark, d).collect()}
    assert out["same"] == out["same2"]
    assert out["diff"] > out["same"]
    # diff's mass is fully outside the shared mix: TV = 1 - 4/12 (the
    # global distribution still contains diff's own 4 of 12 tokens)
    assert abs(out["diff"] - (1 - 4 / 12)) < 1e-12

    # single source == global -> exactly 0
    spark.createDataFrame(
        [(1, "a b c a", "en", "only", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = text.corpus_source_tv_distance(spark, d).first()
    assert r["tv_distance"] == 0.0
