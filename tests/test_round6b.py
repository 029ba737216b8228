"""Round-6 batch-2 semantics tests — bounded-memory-summary invariants the
oracle hash gate cannot express (summary size bounds, guarantee coverage,
EWMA exactness, plan shapes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import sketches
from laposte_data_engineering_jedha_spark.queries import dq, events, events_table, text


def test_mg_merge_never_exceeds_budget_and_bounds_error():
    """The in-task Misra-Gries summary obeys its two contracts on an
    adversarial stream: <= budget counters at all times, and estimate
    error <= n_seen/(budget+1) for every surviving key."""
    budget = 4
    summary: dict[str, int] = {}
    # skewed stream: 'hot' 40x, 'warm' 10x, 20 singletons
    stream = ["hot"] * 40 + ["warm"] * 10 + [f"cold{i}" for i in range(20)]
    n = len(stream)
    truth: dict[str, int] = {}
    for i in range(0, n, 7):  # merge in ragged batches
        batch = stream[i : i + 7]
        counts: dict[str, int] = {}
        for x in batch:
            counts[x] = counts.get(x, 0) + 1
            truth[x] = truth.get(x, 0) + 1
        sketches._mg_merge(summary, counts, budget)
        assert len(summary) <= budget
    # keys above n/(budget+1) = 14 must survive; estimates never overshoot
    assert "hot" in summary
    for k, est in summary.items():
        assert est <= truth[k]
        assert truth[k] - est <= n / (budget + 1)


def test_mg_candidates_cover_all_true_heavy_hitters(spark, sf_dir):
    """Union of per-partition MG summaries must contain every key whose
    GLOBAL count clears n/(budget+1) — the property that makes the
    two-pass recount exact. Tiny budget forces real evictions."""
    ev = events_table(spark, sf_dir).select(F.col("user_id").cast("string").alias("user_id"))
    budget = 8
    n = ev.count()
    cands = {
        r["user_id"]
        for r in sketches.mg_candidates(ev, "user_id", budget=budget).collect()
    }
    truth = ev.groupBy("user_id").count().collect()
    must_have = {r["user_id"] for r in truth if r["count"] * (budget + 1) > n}
    assert must_have <= cands, must_have - cands


def test_heavy_hitters_budget_below_k_raises(spark, sf_dir):
    ev = events_table(spark, sf_dir)
    with pytest.raises(ValueError):
        sketches.heavy_hitters(ev, "user_id", k=64, budget=32)


def test_heavy_hitters_nulls_excluded_from_total(spark):
    """NULL keys must not inflate the threshold: 4 'a' rows + 4 NULL rows,
    k=2 — with NULLs wrongly counted in n, 'a' (4 of 8) fails 4*2 > 8; with
    the NULL-free total (ADVICE r6 fix) 'a' (4 of 4) passes. A plain
    GROUP BY/HAVING oracle over `key IS NOT NULL` agrees."""
    df = spark.createDataFrame(
        [("a",)] * 4 + [(None,)] * 4, schema="user_id string"
    )
    got = {
        (r["user_id"], r["n_events"])
        for r in sketches.heavy_hitters(df, "user_id", k=2, budget=8).collect()
    }
    assert got == {("a", 4)}


def test_kmv_estimate_within_theory_bounds(spark, sf_dir):
    """KMV with k=16 has relative stddev ~ 1/sqrt(k-2) ~ 27%; assert the
    estimate lands within 4 sigma of exact (deterministic given the data,
    so this never flakes) and the <k fallback returns exact counts."""
    out = events.events_kmv_distinct(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        if r["n_exact"] < 16:
            assert r["kmv_est"] == r["n_exact"]
        else:
            assert abs(r["kmv_est"] - r["n_exact"]) <= 4 * r["n_exact"] * 0.27 + 2


def test_ewma_matches_direct_convolution(spark, sf_dir):
    """Recompute ewma_t = sum_{j=0..19} x_{t-j} * 0.5^(j+1) directly from
    the daily counts in Python (exact dyadic floats) and require EXACT
    equality — no tolerance, per the dyadic-exactness design claim."""
    rows = events.events_ewma_daily(spark, sf_dir).collect()
    by_type: dict[str, dict] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], {})[r["day"]] = r
    for et, days in by_type.items():
        idx = {d: i for i, d in enumerate(sorted(days))}
        # day ordinal distance, not rank: use real calendar deltas
        for d, r in days.items():
            expect = 0.0
            for d2, r2 in days.items():
                j = (d - d2).days
                if 0 <= j <= 19:
                    expect += r2["n_events"] * 0.5 ** (j + 1)
            assert r["ewma"] == expect, (et, d, r["ewma"], expect)


def test_negative_pairs_exactly_three_distinct_nonself(spark, sf_dir):
    out = text.corpus_negative_pairs(spark, sf_dir)
    n_docs = out.select("doc_id").distinct().count()
    assert n_docs > 0
    # every anchor draws at most 3; no self pairs; js in {1,2,3}
    per = out.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert per <= 3
    assert out.where(F.col("neg_id") == F.col("doc_id")).count() == 0
    assert out.select("j").distinct().count() <= 3


def test_negative_pairs_plan_broadcasts_reps(spark, sf_dir):
    plan = text.corpus_negative_pairs(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_schema_profile_single_scan_plan(spark, sf_dir):
    """The profile must stay one logical scan of documents (the oracle
    UNION ALL scans 5x; the Spark side's whole point is the single pass)."""
    plan = dq.dq_schema_profile(
        spark, sf_dir
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1
