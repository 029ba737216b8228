"""Round-13 tests — the size-gated scale plans (VERDICT r12 item 2).

The three >1-exponent regression rows (events_user_triangles 1.40,
graph_label_prop_communities 1.40, dedup_embedding_cosine 1.32) now gate
on input size: estimated-big inputs take the capped/auto scale plan
automatically (the ranking-family size-gate pattern), while the
oracle fixtures (1k/10k events, 500 vectors) stay on the exact/pinned
branch so the recorded driver hash rows are unchanged. These tests prove
(a) both branches agree where the caps don't bind, (b) the Python gate
and the SQL twin's count(*) CASE can never pick different parameters,
and (c) the binding-regime branch still matches DuckDB cross-engine at
sf0.1 for the two queries whose SQL mirrors the gate. Each gate's
threshold is its only switch, so the tests reach the other branch by
patching it.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from laposte_data_engineering_jedha_spark import queries as q
from laposte_data_engineering_jedha_spark.operators import dedup
from laposte_data_engineering_jedha_spark.queries import (
    _EMB_BAND_PLANES,
    _EMB_BANDS,
    dedup as q_dedup,
    events,
    graph,
)

from tests.test_oracle_parity import TABLES, canon_rows

SF01 = "/root/testdata/sf0.1"


def _duck_on(sf: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


# --------------------------- events_user_triangles ---------------------------


def test_triangles_branches_agree_at_fixture_scale(spark, sf_dir, monkeypatch):
    """The generous production caps (bucket_cap=128, max_out_deg=64)
    never bind at fixture occupancy, so the capped branch must equal the
    exact branch bit-for-bit — same schema, same one-row counts."""
    exact = events.events_user_triangles(spark, sf_dir)
    monkeypatch.setattr(events, "_TRI_EXACT_MAX_EVENTS", -1)
    capped = events.events_user_triangles(spark, sf_dir)
    assert exact.columns == capped.columns == ["n_edges", "n_nodes", "n_triangles"]
    assert exact.collect() == capped.collect()


def test_triangles_auto_gate_picks_branch(spark, sf_dir, monkeypatch):
    """Below the threshold the gate runs the operator with both caps off
    (exact); with the threshold forced to -1 it runs the capped plan
    with the production caps."""
    from laposte_data_engineering_jedha_spark.operators import graphs

    calls = []
    real = graphs.co_activity_triangles

    def spy(ev, min_w, **caps):
        calls.append(caps)
        return real(ev, min_w, **caps)

    monkeypatch.setattr(graphs, "co_activity_triangles", spy)
    events.events_user_triangles(spark, sf_dir)
    monkeypatch.setattr(events, "_TRI_EXACT_MAX_EVENTS", -1)
    events.events_user_triangles(spark, sf_dir)
    assert calls == [{"bucket_cap": None, "max_out_deg": None}, {}]


# --------------------------- dedup_embedding_cosine --------------------------


@pytest.mark.parametrize("n", [1, 64, 500, 5_000, 5_001, 8_000, 20_000, 10**6, 10**9])
def test_embedding_planes_gate_formula_parity(n):
    """The Python branch (pinned 4 below the threshold, auto_band_planes
    above) and the SQL twin's CASE must agree for every corpus size —
    the two engines derive the parameter from the same count(*), so a
    formula drift here would surface as a hash mismatch at exactly one
    scale. Checked across the gate boundary and both regimes."""
    if n > q_dedup._EMB_PINNED_MAX_N:
        py = dedup.auto_band_planes(n)
    else:
        py = _EMB_BAND_PLANES
    sql = duckdb.sql(
        f"SELECT CASE WHEN {n} > {q_dedup._EMB_PINNED_MAX_N} "
        f"THEN GREATEST(4, CAST(ceil(log2({n} / 64.0)) AS BIGINT)) "
        f"ELSE {_EMB_BAND_PLANES} END"
    ).fetchone()[0]
    assert py == sql, (n, py, sql)


def test_embedding_cosine_pinned_branch_unchanged(spark, sf_dir):
    """At fixture size (500 vectors) the gate stays pinned, so the
    registered result must equal the operator run with the fixed
    fixture banding — the recorded driver hash rows are untouched by
    the gate."""
    auto = q_dedup.dedup_embedding_cosine(spark, sf_dir)
    pinned = dedup.embedding_dup_pairs_lsh(
        q.table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        bands=_EMB_BANDS,
        band_planes=_EMB_BAND_PLANES,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, pinned.collect()))


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver fixtures absent")
def test_embedding_cosine_scaled_branch_oracle_sf01(spark, monkeypatch):
    """Cross-engine check of the SCALED branch at a size where it is
    genuinely different: at sf0.1 (2,000 vectors) auto_band_planes gives
    5 planes != the pinned 4, so lowering the threshold to -1 — in the
    query and in the SQL twin built under the same patch — proves the
    auto-banding branch matches DuckDB, the branch the fixture hash rows
    never exercise. (The registered CASE leaves 2,000 vectors pinned —
    the gate threshold sits at the measured plan crossover, not at the
    fixture boundary.)"""
    assert dedup.auto_band_planes(2_000) == 5  # genuinely != the pinned 4
    monkeypatch.setattr(q_dedup, "_EMB_PINNED_MAX_N", -1)
    sdf = q_dedup.dedup_embedding_cosine(spark, SF01).toPandas()
    con = _duck_on(SF01)
    try:
        odf = con.execute(q_dedup._emb_cosine_sql()).df()
    finally:
        con.close()
    assert canon_rows(sdf) == canon_rows(odf)


def test_embedding_cosine_registered_sql_is_case_gated():
    """The registered oracle must carry the count(*) CASE (both-branch
    mirror)."""
    assert f"CASE WHEN count(*) > {q_dedup._EMB_PINNED_MAX_N}" in q.ORACLE_SQL[
        "dedup_embedding_cosine"
    ]


# ------------------------ graph_label_prop_communities -----------------------


@pytest.mark.parametrize("n", [1, 1_000, 10_000, 50_000, 50_001, 100_000, 10**6])
def test_label_prop_cap_gate_formula_parity(n):
    py = (
        graph._LP_CELL_CAP_BIG
        if n > graph._LP_EXACT_MAX_EVENTS
        else graph._LP_CELL_CAP
    )
    sql = duckdb.sql(
        f"SELECT CASE WHEN {n} > {graph._LP_EXACT_MAX_EVENTS} "
        f"THEN {graph._LP_CELL_CAP_BIG} ELSE {graph._LP_CELL_CAP} END"
    ).fetchone()[0]
    assert py == sql, (n, py, sql)


def test_label_prop_auto_equals_exact_cap_at_fixture_scale(spark, sf_dir, monkeypatch):
    """Below the gate the default is the 64-cap branch, and at fixture
    occupancy (max well under 16 users/cell) even the BIG cap is
    non-binding — the 64-cap branch run with the BIG cap must agree,
    proving the tightened cap cannot change fixture hash rows."""
    auto = graph.graph_label_prop_communities(spark, sf_dir).collect()
    monkeypatch.setattr(graph, "_LP_CELL_CAP", graph._LP_CELL_CAP_BIG)
    c16 = graph.graph_label_prop_communities(spark, sf_dir).collect()
    assert sorted(auto) == sorted(c16)


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver fixtures absent")
def test_label_prop_big_branch_oracle_sf01(spark):
    """Cross-engine check of the BINDING regime: at sf0.1 (100k events,
    ~27 users/cell) both engines' count(*) CASE picks the 16-cap, which
    BINDS — the branch the fixture hash rows never exercise. DuckDB runs
    the registered oracle SQL unmodified."""
    sdf = graph.graph_label_prop_communities(spark, SF01).toPandas()
    con = _duck_on(SF01)
    try:
        odf = con.execute(graph._LP_SQL).df()
    finally:
        con.close()
    assert canon_rows(sdf) == canon_rows(odf)


# ----------------------- embedding_cosine_histogram --------------------------


@pytest.mark.parametrize("n", [1, 500, 501, 2_000, 20_000, 10**6])
def test_cosine_histogram_rate_formula_parity(n):
    """rate = max(64, n^2 // 3906) must agree between Python and the SQL
    GREATEST/// formula (positive operands, so DuckDB's truncating //
    equals floor), and must land exactly on the original constant 64 at
    the 500-vector oracle fixtures."""
    from laposte_data_engineering_jedha_spark.queries import similarity as q_similarity

    py = max(q_similarity._CH_RATE_FLOOR, (n * n) // q_similarity._CH_RATE_DIV)
    sql = duckdb.sql(
        f"SELECT GREATEST({q_similarity._CH_RATE_FLOOR}, "
        f"({n}::BIGINT * {n}::BIGINT) // {q_similarity._CH_RATE_DIV})"
    ).fetchone()[0]
    assert py == sql, (n, py, sql)
    if n == 500:
        assert py == 64  # fixture hash rows unchanged


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver fixtures absent")
def test_cosine_histogram_scaled_rate_oracle_sf01(spark):
    """Cross-engine check of the COUNT-DERIVED rate in its scaling
    regime: at sf0.1 (2,000 vectors) both engines compute rate = 1024
    from count(*), and the sampled pair mass stays ~2k — fixed, not
    ~n^2/64."""
    from laposte_data_engineering_jedha_spark.queries import similarity as q_similarity

    assert max(64, (2_000 * 2_000) // q_similarity._CH_RATE_DIV) == 1024
    sdf = q_similarity.embedding_cosine_histogram(spark, SF01).toPandas()
    assert 1_000 < int(sdf["n_pairs"].sum()) < 4_000
    con = _duck_on(SF01)
    try:
        odf = con.execute(q.ORACLE_SQL["embedding_cosine_histogram"]).df()
    finally:
        con.close()
    assert canon_rows(sdf) == canon_rows(odf)


# ----------------------- ivf_index_append (ADVICE r12) -----------------------


def test_ivf_append_consumed_tag_manifest(spark, sf_dir, tmp_path):
    """Idempotency must survive compaction (ADVICE r12): once a delta is
    folded into the base and its dir deleted, a retried append with the
    same tag must still be a no-op — the compacted index's consumed-tag
    manifest honors it. Also pins the publish-time row-count manifest
    the drift ratio reads instead of re-scanning delta parquet."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.operators import similarity
    from laposte_data_engineering_jedha_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    centers = similarity.pinned_codebook(1, 16, 64)[0]
    idx = str(tmp_path / "idx")
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 4 == 1), idx, centers)
    b1 = emb.where(F.col("vec_id") % 4 == 2)
    b2 = emb.where(F.col("vec_id") % 4 == 3)
    assert similarity.ivf_index_append(
        spark, idx, b1, rebuild_fraction=5.0, delta_tag="d1"
    ) == "delta"
    assert os.path.exists(
        os.path.join(idx, "deltas", "d1", similarity._ROWCOUNT_FILE)
    )
    assert similarity._delta_rowcount(
        spark, os.path.join(idx, "deltas", "d1")
    ) == b1.count()
    # second append tips the drift ratio -> compaction consumes d1
    assert similarity.ivf_index_append(
        spark, idx, b2, rebuild_fraction=0.5, delta_tag="d2"
    ) == "rebuild"
    assert similarity._index_delta_dirs(idx) == []
    assert similarity._consumed_tags(idx) == {"d1", "d2"}
    n_after = similarity._index_postings(spark, idx).count()
    # retries of BOTH folded batches are no-ops: no delta reappears, no
    # vector is duplicated
    assert similarity.ivf_index_append(
        spark, idx, b1, delta_tag="d1"
    ) == "delta"
    assert similarity.ivf_index_append(
        spark, idx, b2, delta_tag="d2"
    ) == "delta"
    assert similarity._index_delta_dirs(idx) == []
    assert similarity._index_postings(spark, idx).count() == n_after


def test_label_prop_cap_binds_at_sf01():
    """The exponent fix is real only if the 16-cap BINDS at sf0.1 —
    assert peak (type, cell) occupancy exceeds it (and exceeded 64
    nowhere, which is why the old cap sat in the transition regime)."""
    if not os.path.isdir(SF01):
        pytest.skip("driver fixtures absent")
    con = _duck_on(SF01)
    try:
        mx = con.execute(
            """
            SELECT max(n) FROM (
              SELECT count(DISTINCT user_id) AS n
              FROM events
              GROUP BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT))
            """
        ).fetchone()[0]
    finally:
        con.close()
    assert mx > graph._LP_CELL_CAP_BIG


# ----------------------- round-13 query additions -----------------------------


def test_prefix_filter_contains_minhash_pairs(spark, sf_dir):
    """Prefix filtering is EXACT: at the same threshold over the same
    shingle sets, its pair set must be a superset of the MinHash-LSH
    family's (whose banding can only lose pairs, never invent them —
    both verify exact Jaccard, so false positives are impossible in
    either)."""
    from laposte_data_engineering_jedha_spark.queries import dedup as q_dedup

    exact = {
        (r["id_a"], r["id_b"])
        for r in q_dedup.dedup_prefix_filter_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in q_dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0


def test_band_occupancy_pair_mass_bounds_candidates(spark, sf_dir):
    """The occupancy report's pair_mass is exactly the LSH candidate
    join's pre-dedup row count — the observability contract: summed
    over bands it must upper-bound the DISTINCT candidate pairs the
    join would emit."""
    from laposte_data_engineering_jedha_spark.operators import dedup as ded
    from laposte_data_engineering_jedha_spark.queries import table as tbl, text

    from pyspark.sql import functions as F

    stats = text.corpus_band_occupancy_stats(spark, sf_dir).collect()
    assert [r["band"] for r in stats] == [0, 1, 2, 3]
    total_mass = sum(r["pair_mass"] for r in stats)
    sigs = ded._minhash_sigs(tbl(spark, sf_dir, "documents"), "text", "doc_id")
    bands = ded._minhash_bands(sigs, "doc_id")
    a = bands.select("band", "key", F.col("doc_id").alias("id_a"))
    b = bands.select(
        F.col("band").alias("b2"), F.col("key").alias("k2"),
        F.col("doc_id").alias("id_b"),
    )
    n_cand = (
        a.join(
            b,
            (F.col("band") == F.col("b2"))
            & (F.col("key") == F.col("k2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert n_cand <= total_mass


def test_langid_auc_bounds(spark, sf_dir):
    """AUC must be a valid probability and P/N must partition the corpus."""
    from laposte_data_engineering_jedha_spark.queries import (
        similarity as q_similarity,
        table as tbl,
    )

    row = q_similarity.eval_langid_auc(spark, sf_dir).collect()[0]
    n_docs = tbl(spark, sf_dir, "documents").count()
    assert row["n_pos"] + row["n_neg"] == n_docs
    assert 0.0 <= row["auc"] <= 1.0


def test_countmin_estimate_upper_bounds_truth(spark, sf_dir):
    """The CM guarantee: estimate >= true count for every key (min over
    rows of counters that each include the key's own mass)."""
    from laposte_data_engineering_jedha_spark.queries import events

    rows = events.events_countmin_estimates(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["overcount"] >= 0 for r in rows)
    assert all(r["cm_estimate"] >= r["true_n"] for r in rows)


def test_importance_sample_deterministic_and_sized(spark, sf_dir):
    """The md5-coin sample must be bit-identical across runs (no RNG
    state) and near its expected size."""
    from laposte_data_engineering_jedha_spark.queries import text

    a = text.corpus_importance_sample(spark, sf_dir).collect()
    b = text.corpus_importance_sample(spark, sf_dir).collect()
    assert a == b
    assert 50 <= len(a) <= 200  # k = 100 expected over 500 docs


def test_kn_probs_are_valid_and_reserve_backoff_mass(spark, sf_dir):
    """Interpolated KN sanity: every probability in (0, 1], and per-w1
    the OBSERVED-bigram mass must not exceed 1 (the remainder is the
    backoff mass reserved for unseen continuations)."""
    import duckdb as ddb

    from laposte_data_engineering_jedha_spark.queries import text

    rows = text.text_bigram_kn_probs(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(0.0 < r["p_kn"] <= 1.0 for r in rows)
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    try:
        full = q.ORACLE_SQL["text_bigram_kn_probs"].rsplit("ORDER BY", 1)[0]
        sums = con.execute(
            f"SELECT w1, sum(p_kn) s FROM ({full}) GROUP BY w1 ORDER BY s DESC LIMIT 5"
        ).df()
    finally:
        con.close()
    # each of the (up to 31) per-continuation probabilities is rounded to
    # 1e-6, so the exact sum of 1 can overshoot by <= 31 * 5e-7
    assert (sums["s"] <= 1.0 + 31 * 5e-7).all()


def test_session_length_hist_totals_match_sessionizer(spark, sf_dir):
    """The histogram must partition exactly the sessionizer's sessions."""
    from laposte_data_engineering_jedha_spark.queries import events

    hist = events.events_session_length_hist(spark, sf_dir).collect()
    n_sessions = events.events_sessionize(spark, sf_dir).count()
    assert sum(r["n_sessions"] for r in hist) == n_sessions


def test_mix_epoch_plan_invariants(spark, sf_dir):
    """planned + deficit == want, epochs respect the cap, and a source
    with enough tokens plans zero deficit."""
    from laposte_data_engineering_jedha_spark.queries import text

    rows = text.corpus_mix_epoch_plan(spark, sf_dir).collect()
    assert {r["source"] for r in rows} == {"src0", "src1", "src2", "src3", "src4"}
    for r in rows:
        assert r["planned_tokens"] + r["deficit_tokens"] == r["want_tokens"]
        assert 0 < r["epochs_bp"] <= text._EP_CAP_BP
        if r["epochs_bp"] < text._EP_CAP_BP:
            # uncapped -> the plan fills the want (floor-division slack only)
            assert r["deficit_tokens"] <= r["have_tokens"] // 10_000 + 1


def test_partition_prune_plan_has_filters(spark, sf_dir):
    """The day-partitioned read-back must prune at PLAN time: the scan
    carries a PartitionFilters entry on the day key, DataFilters stays
    empty (nothing is filtered row-wise), and the pruned slice is a
    strict subset of the corpus."""
    from laposte_data_engineering_jedha_spark.queries import io

    back, day = io._pruned_scan(spark, sf_dir)
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, plan
    assert f"= {day})" in scan[0]
    assert "DataFilters: []" in scan[0]
    n_pruned = back.count()
    n_all = io._events_projected(spark, sf_dir).count()
    assert 0 < n_pruned < n_all


# --------------------------- batch 9: round13i -------------------------------


def test_ams_f2_invariants(spark, sf_dir):
    """Per estimator row: estimate == sketch_sum^2 and signed_error ==
    estimate - truth; the truth column equals an independently-computed
    sum of squared type counts; and the mean estimate across rows sits
    within 3x of F2 (E[S^2] = F2 — a loose sanity band, not a tight
    probabilistic bound, so the test is deterministic)."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.queries import sketch

    rows = sketch.sketch_ams_f2(spark, sf_dir).collect()
    assert [r["j"] for r in rows] == list(range(sketch._AMS_DEPTH))
    truth = (
        q.events_table(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
        .collect()[0]["f2"]
    )
    for r in rows:
        assert r["f2_estimate"] == r["sketch_sum"] ** 2
        assert r["signed_error"] == r["f2_estimate"] - r["f2_true"]
        assert r["f2_true"] == truth
    mean_est = sum(r["f2_estimate"] for r in rows) / len(rows)
    assert truth / 3 <= mean_est <= 3 * truth


def test_pmi_lift_hand_recomputed(spark, sf_dir):
    """Every reported pair's lift re-derives from independently-counted
    unigram/bigram frequencies; counts respect the min-count filter and
    the ordering is (lift desc, w1, w2)."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.functions import texts
    from laposte_data_engineering_jedha_spark.queries import text

    rows = text.text_pmi_lift_pairs(spark, sf_dir).collect()
    assert 0 < len(rows) <= text._PMI_TOP
    toks = q.table(spark, sf_dir, "documents").select(
        texts.tokens("text").alias("t")
    )
    uni = {
        r["tok"]: r["cu"]
        for r in toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .count()
        .withColumnRenamed("count", "cu")
        .collect()
    }
    nn = sum(uni.values())
    keys = [(r["w1"], r["w2"]) for r in rows]
    assert len(set(keys)) == len(keys)
    prev = None
    for r in rows:
        assert r["c"] >= text._PMI_MIN_C
        want = round(r["c"] * nn / (uni[r["w1"]] * uni[r["w2"]]) * 1e6) / 1e6
        assert r["lift"] == pytest.approx(want, abs=2e-6)
        key = (-r["lift"], r["w1"], r["w2"])
        assert prev is None or key >= prev
        prev = key


def test_holt_winters_hand_computed_prefix(spark, sf_dir):
    """First two emitted days of one type recompute by hand from the
    day-grain counts (seed day emits nothing; day 2 forecasts level +
    trend + seasonal with all-zero seasonals = Holt's first forecast),
    and the chart agrees with events_holt_forecast wherever no seasonal
    has been learned yet (the first occurrence of every weekday)."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.queries import events
    from laposte_data_engineering_jedha_spark.streaming import jobs

    hw = events.events_holt_winters_daily(spark, sf_dir).collect()
    holt = {
        (r["event_type"], r["day"]): r
        for r in events.events_holt_forecast(spark, sf_dir).collect()
    }
    by_type: dict = {}
    for r in hw:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rows in by_type.items():
        rows.sort(key=lambda r: r["day"])
        seen_slots = set()
        daily = dict(
            q.events_table(spark, sf_dir)
            .where(F.col("event_type") == et)
            .groupBy(F.col("ts").cast("date").alias("day"))
            .count()
            .collect()
        )
        days = sorted(daily)
        # seed day absent from the chart
        assert rows[0]["day"] == days[1]
        seen_slots.add(days[0].weekday())
        level, trend = jobs._HOLT_SCALE * daily[days[0]], 0
        seas = [0] * jobs._HW_PERIOD
        for r in rows[:2]:
            x = daily[r["day"]]
            slot = r["day"].weekday()
            forecast, level, trend, s_new, alarm = jobs._hw_step(
                level, trend, seas, slot, x
            )
            seas[slot] = s_new
            assert (r["forecast"], r["level"], r["trend"], r["seasonal"],
                    r["alarm"]) == (forecast, level, trend, s_new, alarm)
        # until a weekday repeats, seasonal correction is zero, so the
        # forecast must equal plain Holt's
        for r in rows:
            slot = r["day"].weekday()
            if slot in seen_slots:
                break
            seen_slots.add(slot)
            h = holt[(r["event_type"], r["day"])]
            assert r["forecast"] == h["forecast"]


# --------------------------- batch 10: round13j ------------------------------


def test_gate_distill_learns_and_rows_shape(spark, sf_dir):
    """8 steps, accuracy climbs off the majority-class floor by the
    last step (the fixture is linearly separable enough for that), and
    weights are finite micro-unit-rounded doubles."""
    import math

    from laposte_data_engineering_jedha_spark.queries import stream

    rows = stream.ml_gate_distill_gd(spark, sf_dir).collect()
    assert [r["step"] for r in rows] == list(range(1, stream._GD_STEPS + 1))
    accs = [r["acc_ppm"] for r in rows]
    assert accs[-1] > accs[0]
    for r in rows:
        for c in ("w0", "w1", "w2"):
            assert math.isfinite(r[c])
            assert r[c] == round(r[c] * stream._GD_Q) / stream._GD_Q


def test_ppjoin_pair_mass_is_admissible_bound(spark, sf_dir):
    """The pre-flight pair-mass estimate must upper-bound the exact
    join's output (every emitted pair shares >= 1 prefix token, so it is
    counted in some posting list's C(f,2)), and its fields must be
    internally consistent."""
    from laposte_data_engineering_jedha_spark.operators import dedup
    from laposte_data_engineering_jedha_spark.queries import dedup as q_dedup

    docs = q.table(spark, sf_dir, "documents")
    m = dedup.ppjoin_pair_mass(docs).first()
    assert m["n_prefix_postings"] >= m["n_distinct_prefix_toks"] > 0
    assert m["max_posting_list"] >= 1
    n_pairs = q_dedup.dedup_prefix_filter_jaccard(spark, sf_dir).count()
    assert m["pair_mass"] >= n_pairs


# --------------------------- batch 12: round13k ------------------------------


def test_kcore_fixpoint_matches_bounded_rounds(spark, sf_dir):
    """The fixpoint form (rounds=None, converges when a peel removes
    nothing) must agree with the registered 3-round form's final state
    at fixture scale, the first round must actually prune (the bulk
    filter makes the peel bind), and the flat tail must certify the
    fixpoint (round 2 == round 3)."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.operators import graphs
    from laposte_data_engineering_jedha_spark.queries import graph

    rows = {r["round"]: r for r in graph.graph_kcore_peel(spark, sf_dir).collect()}
    assert (rows[2]["n_nodes"], rows[2]["n_edges"]) == (
        rows[3]["n_nodes"], rows[3]["n_edges"],
    )
    orders = q.table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        q.table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= graph._KC_QMIN)
        .select("l_orderkey", "l_suppkey")
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + graph._KC_OFF).alias("v"),
        )
        .distinct()
    )
    assert rows[1]["n_edges"] < edges.count()  # the peel bound
    fix = graphs.kcore_peel(edges, k=graph._KC_K, rounds=None)
    assert fix[-1][1:] == (rows[3]["n_nodes"], rows[3]["n_edges"])


def test_kcore_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r13 optimization: small edge lists peel on the driver
    (graphs.DRIVER_MAX_EDGES gate); both paths must emit identical
    per-round stats on a graph with a chain (peels away), a clique
    (survives) and a star (collapses) — and forcing the gate off keeps
    the distributed loop covered, for both bounded and fixpoint forms."""
    from laposte_data_engineering_jedha_spark.operators import graphs

    raw = (
        [(i, i + 1) for i in range(100, 110)]            # chain: peels at k=2+
        + [(a, b) for a in range(5) for b in range(5) if a < b]  # K5 clique
        + [(900, t) for t in range(901, 908)]            # star: hub deg 7
    )
    pairs = spark.createDataFrame(raw, "u long, v long")
    fast = {rounds: graphs.kcore_peel(pairs, k=3, rounds=rounds) for rounds in (3, None)}
    # the K5 clique is the 3-core fixpoint: 5 nodes, 10 edges
    assert fast[None][-1][1:] == (5, 10)
    monkeypatch.setattr(graphs, "DRIVER_MAX_EDGES", -1)
    for rounds in (3, None):
        assert graphs.kcore_peel(pairs, k=3, rounds=rounds) == fast[rounds]


def test_label_prop_driver_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    """r13 optimization: under graphs.DRIVER_MAX_EDGES the 2 synchronous LP
    rounds run in plain Python on the driver; both paths must emit the
    identical (user_id, community) labelling on the real fixture, for the
    default cell cap AND a tight cap that actually binds
    (graphs.DRIVER_MAX_EDGES = -1 keeps the distributed loop covered)."""
    from laposte_data_engineering_jedha_spark.operators import graphs

    for cap in (graph._LP_CELL_CAP, 2):
        with monkeypatch.context() as m:
            m.setattr(graph, "_LP_CELL_CAP", cap)
            fast = graph.graph_label_prop_communities(spark, sf_dir).collect()
            m.setattr(graphs, "DRIVER_MAX_EDGES", -1)
            dist = graph.graph_label_prop_communities(spark, sf_dir).collect()
        assert sorted(map(tuple, fast)) == sorted(map(tuple, dist)), cap


def test_triangles_driver_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    """r13 optimization: thresholded edge lists under graphs.DRIVER_MAX_EDGES
    orient/wedge/close on the driver. Both paths must agree on the real
    fixture for the exact AND the capped form (tight caps so the cap
    logic actually binds), and the exact registered query must equal the
    former inline formulation's known fixture behavior (snapshot via the
    distributed branch)."""
    from laposte_data_engineering_jedha_spark.operators import graphs
    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, sf_dir)
    for caps in ((None, None), (4, 2)):
        with monkeypatch.context() as m:
            fast = graphs.co_activity_triangles(
                ev, min_w=2, bucket_cap=caps[0], max_out_deg=caps[1]
            ).collect()
            m.setattr(graphs, "DRIVER_MAX_EDGES", -1)
            dist = graphs.co_activity_triangles(
                ev, min_w=2, bucket_cap=caps[0], max_out_deg=caps[1]
            ).collect()
        assert [tuple(r) for r in fast] == [tuple(r) for r in dist], caps


# --------------------------- batch 13: round13l ------------------------------


def test_auto_graph_twins_use_count_derived_planes(spark, sf_dir):
    """The auto twins must size band width from count(*) (and therefore
    differ from the pinned 6-plane form at fixture scale — they carry
    their own hash rows, not aliases), and the auto survivor set must
    cover every embedding exactly once via its cluster representative."""
    from laposte_data_engineering_jedha_spark.operators import dedup
    from laposte_data_engineering_jedha_spark.queries import (
        _GRAPH_BAND_PLANES,
        dedup as q_dedup,
    )

    n = q.table(spark, sf_dir, "embeddings").count()
    planes = dedup.auto_band_planes(n)
    assert planes != _GRAPH_BAND_PLANES
    rows = q_dedup.dedup_semantic_auto(spark, sf_dir).collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert sum(r["cluster_size"] for r in rows) == n


# --------------------------- batch 14: round13m ------------------------------


def test_bpe_train_merges_invariants(spark, sf_dir):
    """Step 1 must agree with the registered single-step query's winner;
    the four learned merges are distinct; and the winning pair count is
    non-increasing (a merge only creates pairs bounded by its own count
    and leaves others unchanged — the BPE monotonicity)."""
    from laposte_data_engineering_jedha_spark.queries import text

    rows = text.text_bpe_train_merges(spark, sf_dir).collect()
    assert [r["step"] for r in rows] == [1, 2, 3, 4]
    single = text.text_bpe_merge_step(spark, sf_dir).collect()
    assert rows[0]["s1"] + rows[0]["s2"] == single[0]["merged_pair"]
    pairs = [(r["s1"], r["s2"]) for r in rows]
    assert len(set(pairs)) == len(pairs)
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


# --------------------------- batch 15: round13n ------------------------------


def test_dbscan_lite_label_semantics(spark, sf_dir):
    """DBSCAN invariants on the fixture: labels partition the corpus;
    cluster_id is NULL exactly for noise; every core point has >= minPts
    neighbors in the pair relation; every border point is adjacent to a
    core point of its assigned cluster."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.operators import dedup
    from laposte_data_engineering_jedha_spark.queries import similarity as q_similarity

    rows = q_similarity.embedding_dbscan_lite(spark, sf_dir).collect()
    emb_n = q.table(spark, sf_dir, "embeddings").count()
    assert len(rows) == emb_n
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
        assert (r["cluster_id"] is None) == (r["label"] == "noise")
    assert set(by_label) <= {"core", "border", "noise"}
    emb = q.table(spark, sf_dir, "embeddings")
    planes = dedup.auto_band_planes(emb.count())
    pairs = dedup.embedding_dup_pairs_lsh(
        emb, threshold=q_similarity._DB_EPS, bands=8, band_planes=planes
    ).select("id_a", "id_b")
    sym = pairs.unionAll(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = {r["id_a"]: r["n"] for r in sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("n")).collect()}
    adj = {}
    for r in sym.collect():
        adj.setdefault(r["id_a"], set()).add(r["id_b"])
    cluster = {r["vec_id"]: r["cluster_id"] for r in rows}
    label = {r["vec_id"]: r["label"] for r in rows}
    for r in by_label.get("core", []):
        assert deg.get(r["vec_id"], 0) >= q_similarity._DB_MINPTS
    for r in by_label.get("border", []):
        cores = [
            v for v in adj.get(r["vec_id"], ())
            if label[v] == "core" and cluster[v] == r["cluster_id"]
        ]
        assert cores, r
