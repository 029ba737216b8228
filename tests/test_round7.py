"""Round-7 semantics tests — planted-scenario invariants beyond the
oracle hash gate: the graduated ivf_knn's recall vs brute force on the
pinned codebook, LOO-encoding leakage-freeness, AUC truth table, moment-
matrix corr vs a direct two-pass computation, bot-flag thresholds."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.queries import events, olap, similarity

_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _write_events(spark, tmp_path, rows):
    d = str(tmp_path / "mini")
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    return d


def _ts(s: float):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_ivf_knn_pinned_recall_vs_brute_force(spark, sf_dir):
    """The graduated pinned-codebook IVF search must recover most of the
    exact top-5 (n_probe=4 of 16 lists -> high but not perfect recall),
    and every (query, cand, cosine) it returns must agree exactly with
    the brute-force cosine for that pair — IVF prunes candidates, it
    never changes scores."""
    from laposte_data_engineering_jedha_spark.queries import similarity

    ivf = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in similarity.ivf_knn(spark, sf_dir).collect()
    }
    bf = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in similarity.knn_brute_force(spark, sf_dir).collect()
    }
    assert ivf, "ivf returned nothing"
    hits = sum(1 for k in bf if k in ivf)
    assert hits / len(bf) >= 0.5, f"recall {hits}/{len(bf)}"
    for k, cos in ivf.items():
        if k in bf:
            assert cos == bf[k], k


def test_target_encoding_is_leave_one_out(spark, tmp_path):
    """Three clicks valued 1.00/2.00/3.00: each row's encoding is the mean
    of the OTHER two (leakage-free), not the plain category mean 2.00; a
    singleton category encodes NULL."""
    rows = [
        (1, _ts(0), 1, "click", 1.0, "{}"),
        (2, _ts(1), 1, "click", 2.0, "{}"),
        (3, _ts(2), 1, "click", 3.0, "{}"),
        (4, _ts(3), 1, "view", 9.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_id"]: r["te_value"] for r in events.events_target_encoding(spark, d).collect()}
    assert out[1] == 2.5 and out[2] == 2.0 and out[3] == 1.5
    assert out[4] is None


def test_auc_truth_table(spark, tmp_path):
    """Perfectly separated scores -> AUC 1.0; all-tied scores -> 0.5;
    perfectly inverted -> 0.0."""

    def auc_of(values_labels):
        rows = [
            (i, _ts(i), 1, ("purchase" if pos else "view"), v, "{}")
            for i, (v, pos) in enumerate(values_labels)
        ]
        d = _write_events(spark, tmp_path, rows)
        return similarity.eval_value_auc(spark, d).collect()[0]["auc"]

    assert auc_of([(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)]) == 1.0
    assert auc_of([(5.0, 0), (5.0, 0), (5.0, 1), (5.0, 1)]) == 0.5
    assert auc_of([(9.0, 0), (8.0, 0), (1.0, 1), (2.0, 1)]) == 0.0


def test_corr_matrix_matches_two_pass(spark, sf_dir):
    """The one-pass DECIMAL moment matrix must agree (to the 1e-6
    rounding) with Spark's own two-pass corr() for every pair."""
    from laposte_data_engineering_jedha_spark.queries import table

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("quantity"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("extendedprice"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("discount"),
        F.round(F.col("l_tax") * 10000).cast("long").alias("tax"),
    )
    got = {
        (r["col_a"], r["col_b"]): r["pearson_r"]
        for r in olap.olap_numeric_corr_matrix(spark, sf_dir).collect()
    }
    assert len(got) == 6
    for (a, b), r in got.items():
        ref = li.select(F.corr(a, b)).first()[0]
        assert r == pytest.approx(ref, abs=2e-6), (a, b)


def test_part_name_links_distinct_grain_weights(spark, tmp_path):
    """Three 'red bolt' rows and two 'hot bolt' rows produce ONE link row
    (distinct-name grain) weighted 3*2=6; 'red widget' shares no block
    noun with the bolts so it never becomes a candidate."""
    from laposte_data_engineering_jedha_spark.queries import dq

    d = str(tmp_path / "mini")
    rows = [
        (1, "red bolt", "Brand#1", "SMALL", 1, 10.0),
        (2, "red bolt", "Brand#1", "SMALL", 1, 10.0),
        (3, "red bolt", "Brand#1", "SMALL", 1, 10.0),
        (4, "hot bolt", "Brand#2", "SMALL", 1, 10.0),
        (5, "hot bolt", "Brand#2", "SMALL", 1, 10.0),
        (6, "red widget", "Brand#3", "SMALL", 1, 10.0),
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    out = dq.dq_part_name_links(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["name_a"], r["name_b"]) == ("hot bolt", "red bolt")
    assert r["n_pairs"] == 6 and r["lev"] == 3 and r["block"] == "bolt"


def test_uniqueness_report_finds_the_fixture_dup(spark, sf_dir):
    """Single-column PKs in the fixture are unique; the synthetic
    lineitem's (orderkey, linenumber) composite is NOT (the generator
    reuses line numbers within an order) — the report must surface that
    surplus rather than report a clean table, which is exactly the DQ
    signal the query exists for."""
    from laposte_data_engineering_jedha_spark.queries import dq

    out = {r["table_name"]: r for r in dq.dq_uniqueness_report(spark, sf_dir).collect()}
    assert set(out) == {
        "orders", "customer", "part", "supplier", "events", "documents", "lineitem",
    }
    for t, r in out.items():
        if t == "lineitem":
            continue
        assert r["n_dup_rows"] == 0 and r["n_rows"] == r["n_distinct_keys"], t
    li = out["lineitem"]
    assert li["n_dup_rows"] == li["n_rows"] - li["n_distinct_keys"] > 0


def test_dau_wau_window_semantics(spark, tmp_path):
    """User 1 active on day 1 only, user 2 on day 5: day-5 WAU=2 (day 1
    is within the trailing 7), day-1 WAU=1 (windows look BACK only);
    both days have DAU=1."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 1, "view", 0.0, "{}"),
        (2, dt.datetime(2024, 1, 5, 10), 2, "view", 0.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    from laposte_data_engineering_jedha_spark.queries import events

    out = {str(r["day"]): r for r in events.events_dau_wau_ratio(spark, d).collect()}
    assert out["2024-01-01"]["dau"] == 1 and out["2024-01-01"]["wau"] == 1
    assert out["2024-01-05"]["dau"] == 1 and out["2024-01-05"]["wau"] == 2
    assert out["2024-01-05"]["stickiness"] == 0.5


def test_holt_linear_hand_computed(spark, tmp_path):
    """Daily cents 100/200/300: level/trend follow the alpha=beta=1/2
    recursion exactly (hand-computed: l2=150, b2=25, l3=237.5,
    b3=56.25)."""
    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 2), 1, "view", 2.0, "{}"),
        (3, dt.datetime(2024, 1, 3), 1, "view", 3.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    from laposte_data_engineering_jedha_spark.queries import events

    out = {str(r["day"]): r for r in events.events_holt_linear(spark, d).collect()}
    assert out["2024-01-01"]["level"] == 100.0 and out["2024-01-01"]["trend"] == 0.0
    assert out["2024-01-02"]["level"] == 150.0 and out["2024-01-02"]["trend"] == 25.0
    assert out["2024-01-03"]["level"] == 237.5 and out["2024-01-03"]["trend"] == 56.25
    assert out["2024-01-03"]["forecast_next"] == 293.75


def test_weekday_seasonality_mass_conservation(spark, sf_dir):
    """Weekday event counts partition the corpus, and the day-weighted
    mean of the seasonality indexes is 1 by construction."""
    from laposte_data_engineering_jedha_spark.queries import events

    rows = events.events_weekday_seasonality(spark, sf_dir).collect()
    ev_total = sum(r["n_events"] for r in rows)
    n_days = sum(r["n_days_wd"] for r in rows)
    assert ev_total > 0 and 1 <= len(rows) <= 7
    weighted = sum(
        r["seasonality_index"] * r["n_days_wd"] * (ev_total / n_days) for r in rows
    )
    assert weighted == pytest.approx(ev_total, rel=1e-4)


def test_error_burn_alert_integer_exact(spark, tmp_path):
    """Day 1: 1 error of 2 events (rate 0.5); day 2: 0 of 2. Baseline
    rate 0.25 -> day-1 burn 2.0 trips the >=2x alert via the integer
    cross-product; day 2 burns 0."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 1), 1, "error", 0.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 2), 1, "view", 0.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 1), 1, "view", 0.0, "{}"),
        (4, dt.datetime(2024, 1, 2, 2), 1, "view", 0.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    from laposte_data_engineering_jedha_spark.queries import events

    out = {str(r["day"]): r for r in events.events_error_burn_rate(spark, d).collect()}
    assert out["2024-01-01"]["alert"] and out["2024-01-01"]["burn_rate"] == 2.0
    assert not out["2024-01-02"]["alert"] and out["2024-01-02"]["burn_rate"] == 0.0


def _write_docs(spark, tmp_path, texts_):
    d = str(tmp_path / "minidocs")
    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts_)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_bpe_merge_step_greedy_overlap(spark, tmp_path):
    """The self-overlapping case that separates greedy left-to-right BPE
    from anything else: corpus of 'aaa' tokens, winning pair 'aa' —
    each token merges to symbols [aa, a] (NOT [a, aa] and NOT a double
    merge), so the recount sees exactly 'aa+a' pairs."""
    from laposte_data_engineering_jedha_spark.queries import text

    d = _write_docs(spark, tmp_path, ["aaa aaa", "aaa"])
    out = text.text_bpe_merge_step(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["merged_pair"] == "aa" and r["sympair"] == "aa+a" and r["n"] == 3


def test_ngram_coverage_curve_properties(spark, sf_dir):
    """Coverage is monotone nondecreasing in K, bounded by 1, and
    vocab_size never exceeds K."""
    from laposte_data_engineering_jedha_spark.queries import text

    rows = sorted(
        text.corpus_ngram_coverage(spark, sf_dir).collect(), key=lambda r: r["k"]
    )
    assert [r["k"] for r in rows] == [4, 8, 16]
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs) and covs[-1] <= 1.0
    for r in rows:
        assert r["vocab_size"] <= r["k"]
        assert r["covered_tokens"] <= r["total_tokens"]


def test_vocab_first_seen_monotone_and_complete(spark, sf_dir):
    """Vocabulary growth is monotone in the prefix fraction and the 100%
    checkpoint equals the corpus' true distinct-term count."""
    from laposte_data_engineering_jedha_spark.queries import table, text
    from laposte_data_engineering_jedha_spark.functions import texts as tx

    rows = sorted(
        text.corpus_vocab_first_seen(spark, sf_dir).collect(),
        key=lambda r: r["pct"],
    )
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes)
    docs = table(spark, sf_dir, "documents").where(F.trim("text") != "")
    true_vocab = (
        docs.select(F.explode(tx.tokens("text")).alias("t")).distinct().count()
    )
    assert sizes[-1] == true_vocab


def test_bucket_skew_mass_conservation(spark, sf_dir):
    """Every band indexes every non-zero-norm vector exactly once, and
    the hottest bucket is at most the whole band."""
    from laposte_data_engineering_jedha_spark.queries import similarity

    rows = similarity.embedding_bucket_skew(spark, sf_dir).collect()
    assert len(rows) == 8
    totals = {r["n_vectors"] for r in rows}
    assert len(totals) == 1  # same vector mass in every band
    for r in rows:
        assert 1 <= r["max_bucket"] <= r["n_vectors"]
        assert r["n_cand_pairs"] >= r["max_bucket"] * (r["max_bucket"] - 1) // 2


def test_norm_profile_bounds(spark, sf_dir):
    """min <= mean <= max per label, and zero-norm count is consistent
    with the min."""
    from laposte_data_engineering_jedha_spark.queries import similarity

    rows = similarity.embedding_norm_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["min_norm"] <= r["mean_norm"] <= r["max_norm"]
        if r["n_zero_norm"] > 0:
            assert r["min_norm"] == 0.0


def test_open_order_backlog_delta_semantics(spark, tmp_path):
    """Two orders placed day 1; order 1 fully ships day 2 (its later line
    day 2 defines the close), order 2 never ships -> backlog 2 then 1."""
    from laposte_data_engineering_jedha_spark.queries import olap

    d = str(tmp_path / "mini")
    spark.createDataFrame(
        [
            (1, 10, "O", 100.0, dt.datetime(2024, 1, 1), "1-URGENT"),
            (2, 11, "O", 100.0, dt.datetime(2024, 1, 1), "5-LOW"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [
            (1, 1, 1.0, 10.0, dt.datetime(2024, 1, 1, 12)),
            (1, 2, 1.0, 10.0, dt.datetime(2024, 1, 2, 12)),
        ],
        "l_orderkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {str(r["day"]): r["open_orders"] for r in olap.olap_open_order_backlog(spark, d).collect()}
    assert out["2024-01-01"] == 2 and out["2024-01-02"] == 1


def test_transition_timing_planted(spark, tmp_path):
    """view->click gaps of 10s and 30s: p50 interpolates to 20s, count 2."""
    from laposte_data_engineering_jedha_spark.queries import events

    rows = [
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(10), 1, "click", 0.0, "{}"),
        (3, _ts(100), 2, "view", 0.0, "{}"),
        (4, _ts(130), 2, "click", 0.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in events.events_transition_timing(spark, d).collect()
    }
    r = out[("view", "click")]
    assert r["n"] == 2 and r["p50_gap_us"] == 20_000_000.0


def test_asof_nearest_direction_and_ties(spark, tmp_path):
    """Purchase at t=100: errors at t=90 (d=10) and t=105 (d=5) -> forward
    wins; purchase at t=200 with errors at 190/210 (both d=10) -> tie
    goes BACKWARD; purchase at t=500 with no error within 1h -> null."""
    from laposte_data_engineering_jedha_spark.queries import events

    rows = [
        (1, _ts(100), 1, "purchase", 1.0, "{}"),
        (2, _ts(90), 1, "error", 0.0, "{}"),
        (3, _ts(105), 1, "error", 0.0, "{}"),
        (4, _ts(200), 2, "purchase", 1.0, "{}"),
        (5, _ts(190), 2, "error", 0.0, "{}"),
        (6, _ts(210), 2, "error", 0.0, "{}"),
        (7, _ts(50000), 3, "purchase", 1.0, "{}"),
        (8, _ts(10), 3, "error", 0.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_id"]: r["nearest_err_us"] for r in events.events_asof_nearest_error(spark, d).collect()}
    base = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    assert out[1] == base + 105_000_000
    assert out[4] == base + 190_000_000
    assert out[7] is None


def test_threshold_sweep_mass_matches_candidates(spark, sf_dir):
    """The histogram buckets partition the full verified-candidate set:
    sum(n_pairs) equals the threshold-0 pair count, and every bucket is
    within [0, 10]."""
    from laposte_data_engineering_jedha_spark.operators import dedup as dd
    from laposte_data_engineering_jedha_spark.queries import dedup, table

    rows = dedup.dedup_threshold_sweep(spark, sf_dir).collect()
    total = sum(r["n_pairs"] for r in rows)
    docs = table(spark, sf_dir, "documents")
    direct = dd.minhash_lsh_pairs(docs, threshold=0.0).count()
    assert total == direct
    assert all(0 <= r["bucket"] <= 10 for r in rows)


def test_snapshot_rowdiff_class_arithmetic(spark, sf_dir):
    """Diff classes must match the synthetic snapshot rules computed
    directly from the order keys."""
    from laposte_data_engineering_jedha_spark.queries import dq, table

    keys = [r["o_orderkey"] for r in table(spark, sf_dir, "orders").select("o_orderkey").collect()]
    exp_added = sum(1 for k in keys if k % 10 == 0)
    exp_removed = sum(1 for k in keys if k % 10 == 1)
    both = [k for k in keys if k % 10 not in (0, 1)]
    exp_changed = sum(1 for k in both if k % 7 == 0)
    exp_unchanged = len(both) - exp_changed
    out = {r["diff_class"]: r["n_rows"] for r in dq.dq_snapshot_rowdiff(spark, sf_dir).collect()}
    assert out.get("added", 0) == exp_added
    assert out.get("removed", 0) == exp_removed
    assert out.get("changed", 0) == exp_changed
    assert out.get("unchanged", 0) == exp_unchanged


def test_chunk_windows_clamp_and_overlap(spark, tmp_path):
    """A 70 s audio doc (14,000 bytes at 5 ms/byte) plans chunks
    [0,30], [25,55], [50,70] — stride 25 s, last window clamped."""
    from laposte_data_engineering_jedha_spark.queries import io

    d = _write_docs(spark, tmp_path, ["x", "y" * 14000, "z"])
    # doc_id 1 is the audio row (doc_id % 3 == 1)
    out = sorted(
        (r["chunk_idx"], r["start_ms"], r["end_ms"])
        for r in io.multimodal_chunk_windows(spark, d).collect()
    )
    assert out == [(0, 0, 30000), (1, 25000, 55000), (2, 50000, 70000)]


def test_freshness_report_has_zero_lag_leader(spark, sf_dir):
    """Exactly the freshest table reports zero staleness; every other lag
    is positive and consistent with the reported max timestamps."""
    from laposte_data_engineering_jedha_spark.queries import dq

    rows = dq.dq_freshness_report(spark, sf_dir).collect()
    assert len(rows) == 3
    gmax = max(r["max_us"] for r in rows)
    for r in rows:
        assert r["staleness_us"] == gmax - r["max_us"] >= 0
    assert sum(1 for r in rows if r["staleness_us"] == 0) >= 1


def test_nation_share_sums_to_unity(spark, sf_dir):
    """Per month, integer ppm shares sum to 1e6 minus at most the nation
    count (floor division loses < 1 ppm per nation)."""
    from collections import defaultdict

    from laposte_data_engineering_jedha_spark.queries import olap

    rows = olap.olap_nation_share_momentum(spark, sf_dir).collect()
    by_month = defaultdict(list)
    for r in rows:
        by_month[r["month"]].append(r["share_ppm"])
    for month, shares in by_month.items():
        assert 1_000_000 - len(shares) <= sum(shares) <= 1_000_000, month


def test_delay_variance_matches_var_pop(spark, sf_dir):
    """The integer-moments variance equals Spark's own var_pop to the
    1e-6 rounding, for every supplier."""
    from laposte_data_engineering_jedha_spark.queries import olap, table

    got = {
        r["suppkey"]: (r["mean_delay_days"], r["var_delay_days"])
        for r in olap.olap_supplier_delay_variance(spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ref = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_suppkey",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("d"),
        )
        .groupBy("l_suppkey")
        .agg(F.avg("d").alias("m"), F.var_pop("d").alias("v"))
        .collect()
    )
    for r in ref:
        m, v = got[r["l_suppkey"]]
        assert m == pytest.approx(r["m"], abs=2e-6)
        assert v == pytest.approx(r["v"], abs=2e-6)


def test_log2_histogram_mass_and_bounds(spark, sf_dir):
    """Histogram buckets partition the order set and each bucket's bound
    is consistent: 2^(bucket-1) <= some value < 2^bucket."""
    from laposte_data_engineering_jedha_spark.queries import olap, table

    rows = olap.olap_order_value_log2_histogram(spark, sf_dir).collect()
    n_orders = (
        table(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )
    assert sum(r["n_orders"] for r in rows) == n_orders
    for r in rows:
        if r["bucket"] > 0:
            assert r["lo_cents"] == 2 ** (r["bucket"] - 1)


def test_anova_f_truth_table(spark, tmp_path):
    """Identical group means -> F = 0; cleanly separated groups -> large
    F; ms_within matches the hand-computed pooled variance."""
    from laposte_data_engineering_jedha_spark.queries import events

    flat = [
        (1, _ts(0), 1, "view", 1.0, "{}"),
        (2, _ts(1), 1, "view", 3.0, "{}"),
        (3, _ts(2), 1, "click", 1.0, "{}"),
        (4, _ts(3), 1, "click", 3.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, flat)
    r = events.events_value_anova_f(spark, d).collect()[0]
    assert r["ms_between"] == 0.0 and r["f_stat"] == 0.0
    # groups {100,300} both: within SS = 20000+20000, df = 2 -> 20000
    assert r["ms_within"] == 20000.0

    sep = [
        (1, _ts(0), 1, "view", 1.0, "{}"),
        (2, _ts(1), 1, "view", 1.0, "{}"),
        (3, _ts(2), 1, "click", 9.0, "{}"),
        (4, _ts(3), 1, "click", 9.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, sep)
    r = events.events_value_anova_f(spark, d).collect()[0]
    # zero within-group variance: F undefined -> guarded NULL (ANSI-safe)
    assert r["ms_within"] == 0.0 and r["f_stat"] is None


def test_contingency_chi2_independence(spark, tmp_path):
    """A perfectly independent 2x2 grid has zero chi-square everywhere;
    expected counts equal the marginal product rule."""
    from laposte_data_engineering_jedha_spark.queries import text

    d = str(tmp_path / "minidocs2")
    rows = []
    i = 0
    for lang, source, n in [("en", "web", 8), ("en", "book", 4), ("fr", "web", 4), ("fr", "book", 2)]:
        for _ in range(n):
            rows.append((i, "x", lang, source, 1))
            i += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = text.corpus_lang_source_contingency(spark, d).collect()
    assert len(out) == 4
    for r in out:
        assert r["chi2_term"] == 0.0
        assert r["expected"] == r["obs"]


def test_packing_curve_hand_computed(spark, tmp_path):
    """Docs of 3 and 5 tokens at L=4 (plus the standard lengths): doc1
    pads 1, doc2 needs 2 sequences padding 3 -> total_tokens 8,
    padding 4 at seq_len 512? No — at 512 both fit one sequence:
    padding (512-3)+(512-5)=1016. Check the 512 row exactly."""
    from laposte_data_engineering_jedha_spark.queries import text

    d = _write_docs(spark, tmp_path, ["a b c", "a b c d e"])
    out = {r["seq_len"]: r for r in text.corpus_packing_efficiency_curve(spark, d).collect()}
    r = out[512]
    assert r["n_docs"] == 2 and r["total_tokens"] == 8
    assert r["n_sequences"] == 2 and r["padding_tokens"] == 1016
    assert r["waste_fraction"] == round(1016 / 1024 * 1000000) / 1000000


def test_user_lifetime_mass_conservation(spark, sf_dir):
    """Lifetime buckets partition both users and events."""
    from laposte_data_engineering_jedha_spark.queries import events

    rows = events.events_user_lifetime_stats(spark, sf_dir).collect()
    from laposte_data_engineering_jedha_spark.queries import events_table

    e = events_table(spark, sf_dir)
    assert sum(r["n_users"] for r in rows) == e.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == e.count()


def test_ivf_cell_balance_mass(spark, sf_dir):
    """Cell sizes cover the corpus; the advertised max factor matches the
    actual hottest cell."""
    from laposte_data_engineering_jedha_spark.queries import similarity, table

    rows = similarity.embedding_ivf_cell_balance(spark, sf_dir).collect()
    total = table(spark, sf_dir, "embeddings").count()
    assert sum(r["cell_size"] for r in rows) == total
    k = len(rows)
    max_cell = max(r["cell_size"] for r in rows)
    expect = round(max_cell * k / total * 1000000) / 1000000
    assert all(r["max_balance_factor"] == expect for r in rows)


def test_bot_detection_thresholds(spark, tmp_path):
    """User 1 fires 3 events inside an hour -> flagged with burst 3 and
    2 fast gaps; user 2's events are spread past the window -> clean."""
    rows = [
        (1, _ts(0), 1, "click", 0.0, "{}"),
        (2, _ts(10), 1, "click", 0.0, "{}"),
        (3, _ts(20), 1, "click", 0.0, "{}"),
        (4, _ts(0), 2, "view", 0.0, "{}"),
        (5, _ts(4000), 2, "view", 0.0, "{}"),
        (6, _ts(8000), 2, "view", 0.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {r["user_id"]: r for r in events.events_bot_detection(spark, d).collect()}
    assert out[1]["is_bot"] and out[1]["max_burst_1h"] == 3 and out[1]["n_fast_gaps"] == 2
    assert not out[2]["is_bot"] and out[2]["max_burst_1h"] == 1 and out[2]["n_fast_gaps"] == 0
