"""Semantic unit tests for the round-4 operators: winnowing fingerprints
(substring-guarantee property), character entropy (closed-form values),
embedding centroids, and the multi-way OLAP join plans. Cross-engine value
parity is covered by tests/test_oracle_parity.py; these pin behavior and
physical-plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import conftest

from laposte_data_engineering_jedha_spark.functions import texts
from laposte_data_engineering_jedha_spark.operators import dedup
from laposte_data_engineering_jedha_spark.queries import dedup as q_dedup, events, olap

_K, _W = 3, 4
_GUARANTEE = _W + _K - 1  # shared token run length that MUST share a fingerprint


@pytest.fixture(scope="module")
def winnow_docs(spark):
    # docs 1/2: different prefixes/suffixes around an identical 8-token
    # passage (> guarantee length); doc 3: unrelated; doc 4: too short for
    # any complete window (< w+k-1 tokens -> zero fingerprints).
    passage = "pack my box with five dozen liquor jugs"
    rows = [
        (1, "alpha beta gamma " + passage + " delta epsilon"),
        (2, "one two three four " + passage + " five six"),
        (3, "totally unrelated words about spark adaptive query execution plans"),
        (4, "only five tokens right here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_guarantee_shared_passage(winnow_docs):
    """Schleimer et al. 2003 guarantee: any shared run of >= w+k-1 tokens
    yields at least one shared fingerprint, regardless of surroundings."""
    fp = dedup.winnow_fingerprints(winnow_docs, k=_K, w=_W)
    by_doc = {
        r["doc_id"]: set(r["fps"])
        for r in fp.groupBy("doc_id").agg(F.collect_set("fp").alias("fps")).collect()
    }
    assert by_doc[1] & by_doc[2], "8-token shared passage must share a fingerprint"
    assert not by_doc.get(3, set()) & (by_doc[1] | by_doc[2])
    assert 4 not in by_doc  # no complete window -> no fingerprints


def test_winnow_density_below_gram_count(winnow_docs):
    """Winnowing SELECTS from the grams — fingerprints per doc must be
    strictly fewer than complete-window gram count (expected density
    2/(w+1)) and positive for docs with at least one full window."""
    fp_counts = {
        r["doc_id"]: r["n"]
        for r in dedup.winnow_fingerprints(winnow_docs, k=_K, w=_W)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    toks = {r["doc_id"]: len(r["t"]) for r in winnow_docs.select("doc_id", texts.tokens("text").alias("t")).collect()}
    for doc_id, n_fp in fp_counts.items():
        n_windows = toks[doc_id] - _K + 1 - (_W - 1)
        assert 0 < n_fp < toks[doc_id] - _K + 1
        assert n_fp <= n_windows


def test_winnow_pairs_scores(winnow_docs):
    rows = dedup.winnow_pairs(winnow_docs, k=_K, w=_W, min_shared=1, max_fp_df=None).collect()
    got = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 2) in got and got[(1, 2)]["n_shared"] >= 1
    assert 0 < got[(1, 2)]["overlap"] <= 1.0
    assert not any(3 in p or 4 in p for p in got)


def test_winnow_exact_dup_full_overlap(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    rows = dedup.winnow_pairs(df, k=_K, w=_W, min_shared=1, max_fp_df=None).collect()
    assert len(rows) == 1 and rows[0]["overlap"] == 1.0


def test_char_entropy_closed_forms(spark):
    """Exactly-representable entropies: uniform 2^k alphabets hit integer
    bits; single-char and empty docs are 0.0 (and +0.0, not -0.0)."""
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, "aabb" * 8)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["e"] for r in df.select("doc_id", texts.pd_char_entropy("text").alias("e")).collect()}
    assert out[1] == 0.0 and str(out[1]) == "0.0"  # not -0.0
    assert out[2] == 1.0
    assert out[3] == 2.0
    assert out[4] == 0.0
    assert out[5] == 1.0
    import math

    assert math.copysign(1.0, out[1]) == 1.0


def test_embedding_centroids_known_means(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 6.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    ex = df.select("label", F.posexplode("embedding").alias("pos", "v"))
    out = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("double").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1))).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    got = {(r["label"], r["pos"]): (r["c"], r["n"]) for r in out.collect()}
    assert got[(0, 0)] == (2.0, 2) and got[(0, 1)] == (4.0, 2)
    assert got[(1, 0)] == (10.0, 1) and got[(1, 1)] == (20.0, 1)


# ---------------------------- physical plan shape ----------------------------


@pytest.fixture(scope="module")
def sf_dir_small() -> str:
    return conftest.SF_SMOKE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q5_plan_broadcasts_dims_no_cartesian(spark, sf_dir_small):
    """Q5's supplier/nation/region side must broadcast (lineitem never
    shuffles for the dim join) and nothing degrades to a cartesian/BNL
    product."""
    plan = _plan(olap.olap_local_supplier_volume(spark, sf_dir_small))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_plan_is_semi_join_with_residual(spark, sf_dir_small):
    """The EXISTS must compile to a LEFT SEMI hash join on orderkey with the
    shipdate inequality as a residual condition — not an inner join +
    distinct."""
    plan = _plan(olap.olap_order_priority(spark, sf_dir_small))
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan


def test_winnow_plan_mapside_selection_no_self_cartesian(spark, sf_dir_small):
    """Fingerprint selection is map-side array ops — no PER-DOC
    window/shuffle for selection — and candidate generation is an
    equi-join on fp with no cartesian anywhere. (Since the r13
    optimization the stop-fingerprint DF cap is a count window keyed on
    fp — the join key, so its exchange is the one the self-join needs
    anyway, replacing the former groupBy+join's two exchanges; a window
    partitioned by doc_id would be the selection-shuffle regression this
    test exists to catch.)"""
    import re as _re

    plan = _plan(q_dedup.dedup_winnow(spark, sf_dir_small))
    assert not _re.search(r"windowspecdefinition\(doc_id", plan)
    for spec in _re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec == "fp", plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_fingerprints_zero_shuffle(spark, sf_dir_small):
    """The fingerprint index itself must come straight out of the scan
    stage: no Exchange of any kind in its plan."""
    from laposte_data_engineering_jedha_spark.queries import table

    fp = dedup.winnow_fingerprints(table(spark, sf_dir_small, "documents"))
    plan = _plan(fp)
    assert "Exchange" not in plan


def test_perplexity_proxy_known_corpus(spark, monkeypatch):
    """4-doc corpus with hand-computable unigram stats: 'common common' is
    all high-frequency tokens -> lowest cross-entropy; the doc holding the
    two singleton tokens scores highest; empty doc -> (0, NULL)."""
    import math

    from laposte_data_engineering_jedha_spark.queries import text

    rows = [
        (1, "common common"),
        (2, "common rare1 rare2"),
        (3, "common common common"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(text, "table", lambda s, d, n: df)
    out = {r["doc_id"]: r for r in text.text_perplexity_proxy(spark, "unused").collect()}
    # corpus: common x6, rare1 x1, rare2 x1 -> N=8
    p_common, p_rare = 6 / 8, 1 / 8
    assert out[4]["n_tokens"] == 0 and out[4]["xent_bits"] is None
    assert out[1]["n_tokens"] == 2
    assert abs(out[1]["xent_bits"] - (-math.log2(p_common))) < 1e-12
    expect2 = -(math.log2(p_common) + 2 * math.log2(p_rare)) / 3
    assert abs(out[2]["xent_bits"] - expect2) < 1e-12
    # docs 1 and 3 are both all-'common' but fold 2 vs 3 terms — equal only
    # to within an ulp ((x+x)/2 is exact, ((x+x)+x)/3 rounds)
    assert out[2]["xent_bits"] > out[1]["xent_bits"]
    assert abs(out[1]["xent_bits"] - out[3]["xent_bits"]) < 1e-12


def test_q22_plan_anti_join_one_row_broadcast(spark, sf_dir_small):
    """The NOT EXISTS must be a LEFT ANTI join and the scalar threshold a
    broadcast of a one-row aggregate — no driver collect in the plan
    path, no cartesian of anything bigger than one row."""
    plan = _plan(olap.olap_top_balance_no_orders(spark, sf_dir_small))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row threshold cross join
    assert "CartesianProduct" not in plan


def test_interarrival_reuses_user_partitioning(spark, sf_dir_small):
    """lag window and the per-user aggregate share the user_id hash
    partitioning: exactly ONE user_id Exchange in the whole plan."""
    plan = _plan(events.events_interarrival_stats(spark, sf_dir_small))
    import re

    exchanges = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(exchanges) <= 1
    assert "Window" in plan


def test_embedding_outliers_values_and_plan(spark):
    """Synthetic 1-label corpus with one planted far point: it must rank
    first; centroid side must broadcast."""
    rows = [(i, [0.0, 0.0], 0) for i in range(1, 7)] + [(99, [12.0, 16.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    from laposte_data_engineering_jedha_spark.queries import similarity

    orig = similarity.table
    try:
        similarity.table = lambda s, d, n: df
        out = similarity.embedding_outliers(spark, "unused").collect()
    finally:
        similarity.table = orig
    top = max(out, key=lambda r: r["dist"])
    assert top["vec_id"] == 99
    # centroid of 7 vecs: (12/7, 16/7); dist of planted point = sqrt((12-12/7)^2+(16-16/7)^2) = 20*6/7
    assert abs(top["dist"] - 20 * 6 / 7) < 1e-9
    assert len(out) == 5  # top-5 per label
