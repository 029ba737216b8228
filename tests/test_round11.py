"""Round-11 additions: layout oracle surface, strict-prefix global max,
Pareto frontier semantics, blocked fuzzy dedup arithmetic, priority
sampling, Benford audit, integer-unit NDCG.

The cross-engine value checks live in the replica gate
(tests/test_oracle_parity.py — parametrized over the whole registry);
these tests pin the OPERATOR-level contracts: window/offsets equivalence
for global_prefix_max, brute-force dominance agreement for the frontier,
exact pair arithmetic for the multiplicity-grain fuzzy dedup, and the
weighted-inclusion property of priority sampling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import caches, ranking
from laposte_data_engineering_jedha_spark.session import local_table


# ---------------------------- global_prefix_max ------------------------------


@pytest.mark.parametrize("inclusive", [True, False])
def test_global_prefix_max_strategies_agree(spark, inclusive, monkeypatch):
    """The gate's two forms agree: a small input of known size takes the
    window form at the default thresholds, and a size gate below every
    estimate forces the offsets form."""
    rows = [(i, float((i * 37) % 19) if i % 7 else None) for i in range(200)]
    df = local_table(spark, rows, "k long, v double")
    got_w = {
        (r["k"], r["runmax"])
        for r in ranking.global_prefix_max(df, "v", "k", inclusive=inclusive).collect()
    }
    caches.release_all()
    monkeypatch.setattr(caches, "GATE_MAX_EST_BYTES", -1)
    got_o = {
        (r["k"], r["runmax"])
        for r in ranking.global_prefix_max(
            df, "v", "k", inclusive=inclusive, n_partitions=7
        ).collect()
    }
    assert got_w == got_o
    # brute-force twin
    vals = dict(rows)
    want = set()
    for k, _ in rows:
        prefix = [
            vals[j]
            for j in range(0, k + 1 if inclusive else k)
            if vals[j] is not None
        ]
        want.add((k, max(prefix) if prefix else None))
    assert got_w == want


def test_global_prefix_max_all_null_and_empty(spark, monkeypatch):
    monkeypatch.setattr(caches, "GATE_MAX_EST_BYTES", -1)  # the offsets form
    df = spark.createDataFrame([(1, None), (2, None)], "k long, v double")
    out = ranking.global_prefix_max(df, "v", "k").collect()
    assert all(r["runmax"] is None for r in out)
    empty = spark.createDataFrame([], "k long, v double")
    assert ranking.global_prefix_max(empty, "v", "k").count() == 0


# ------------------------------ Pareto frontier ------------------------------


def test_pareto_frontier_matches_bruteforce(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.round11b import (
        olap_pareto_frontier,
    )

    got = {r["p_partkey"] for r in olap_pareto_frontier(spark, sf_dir).collect()}
    pts = [
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    want = set()
    for k, price, size in pts:
        dominated = any(
            (p2 <= price and s2 >= size and (p2 < price or s2 > size))
            for _, p2, s2 in pts
        )
        if not dominated:
            want.add(k)
    assert got == want and got


# --------------------------- blocked fuzzy dedup -----------------------------


def test_fuzzy_blocked_pair_arithmetic(spark, tmp_path):
    """The multiplicity-grain pair counts must equal the naive id-level
    self-join's: cnt_a*cnt_b across close distinct names + C(cnt,2)
    within a name."""
    rows = [
        (1, "cold widget"),
        (2, "cold widget"),
        (3, "bold widget"),
        (4, "small widget"),
        (5, "large bolt"),
        (6, "large bolt"),
        (7, "large bolt"),
    ]
    spark.createDataFrame(rows, "p_partkey long, p_name string").withColumn(
        "p_brand", F.lit("b")
    ).withColumn("p_type", F.lit("t")).withColumn(
        "p_size", F.lit(1)
    ).withColumn("p_retailprice", F.lit(1.0)).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    from laposte_data_engineering_jedha_spark.queries.round11b import (
        dedup_fuzzy_blocked,
    )

    got = {
        r["noun"]: (r["n_parts"], r["n_pairs"], r["n_exact"], r["min_dist"], r["max_dist"])
        for r in dedup_fuzzy_blocked(spark, str(tmp_path)).collect()
    }
    # widget block: names cold(2)/bold(1)/small(1); lev(cold,bold)=1 -> 2*1
    # id-pairs, lev(cold,small)=4 -> 2*1, lev(bold,small)=4 -> 1*1, plus
    # C(2,2)=1 exact pair = 6 pairs total, 1 exact
    assert got["widget"] == (4, 6, 1, 0, 4)
    # bolt block: one name x3 -> C(3,2)=3 exact pairs, dist 0 only
    assert got["bolt"] == (3, 3, 3, 0, 0)


# ----------------------------- priority sampling -----------------------------


def test_priority_sample_is_deterministic_and_weighted(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.round11b import (
        corpus_priority_sample,
    )

    a = corpus_priority_sample(spark, sf_dir).collect()
    b = corpus_priority_sample(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == min(
        100, spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    # weighted inclusion: the sampled mean weight must exceed the corpus
    # mean (priority q = w/u strictly favors heavy documents)
    sample_mean = sum(r["weight"] for r in a) / len(a)
    corpus_mean = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    assert sample_mean > corpus_mean


# ------------------------------- Benford audit -------------------------------


def test_benford_shares_sum_to_one(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.round11b import (
        dq_benford_first_digit,
    )

    rows = dq_benford_first_digit(spark, sf_dir).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["exp_share"] for r in rows) - 1.0) < 1e-4
    assert all(r["chi2_term"] >= 0 for r in rows)


# ----------------------------------- NDCG ------------------------------------


def test_ndcg_bounds_and_consistency(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.round11c import (
        _NDCG_IDCG,
        eval_ndcg_truncated,
    )

    rows = eval_ndcg_truncated(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["ndcg"] <= 1.0
        assert 0 <= r["dcg_units"] <= _NDCG_IDCG
        assert 0 <= r["n_hits"] <= 5
        # zero hits <=> zero gain
        assert (r["n_hits"] == 0) == (r["dcg_units"] == 0)


# ------------------------------ layout identity ------------------------------


def test_layout_queries_are_pure_rewrites(spark, sf_dir):
    """Identity digests equal across original and rewritten data, and the
    compaction emits exactly the contracted file count (the oracle row
    checks the same via DuckDB; this pins it in-process)."""
    from laposte_data_engineering_jedha_spark.queries.round11a import (
        _LC_N_FILES,
        layout_compact_identity,
        layout_zorder_identity,
    )

    c = layout_compact_identity(spark, sf_dir).collect()[0]
    z = layout_zorder_identity(spark, sf_dir).collect()[0]
    assert c["n_files"] == _LC_N_FILES
    assert c["n_rows"] == z["n_rows"] > 0
    assert c["content_digest"] == z["content_digest"]


# --------------------------- CUSUM change-point ------------------------------


def test_cusum_changepoint_detects_planted_shift(spark, tmp_path):
    """A series with a deliberate level shift must report a change day at
    the shift boundary, with the integer numerator matching the
    brute-force deviation sum."""
    import datetime

    rows = []
    eid = 0
    for d in range(20):
        n = 10 if d < 10 else 50  # level shift after day 10
        for i in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 3, 1 + d, 12, 0, 0),
                    1,
                    "click",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from laposte_data_engineering_jedha_spark.queries.round11d import (
        events_cusum_changepoint,
    )

    got = events_cusum_changepoint(spark, str(tmp_path)).collect()[0]
    # max |CUSUM| of a single level shift sits at the last pre-shift day
    assert got["change_day"] == datetime.date(2024, 3, 10)
    # integer numerator == n_days*prefix - k*total computed by hand:
    # prefix(day10) = 100, k = 10, total = 600, n_days = 20
    assert got["cusum_num"] == 20 * 100 - 10 * 600
    assert got["n_days"] == 20


# --------------------------- weighted median ---------------------------------


def test_weighted_median_matches_bruteforce(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries.round11d import (
        olap_weighted_median_price,
    )

    got = {
        r["flag"]: r["weighted_median_price"]
        for r in olap_weighted_median_price(spark, sf_dir).collect()
    }
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    import collections

    groups = collections.defaultdict(list)
    for r in li:
        cents = round(r["l_extendedprice"] * 100)
        groups[r["l_returnflag"]].append((cents, int(r["l_quantity"])))
    for flag, items in groups.items():
        items.sort()
        total = sum(w for _, w in items)
        acc = 0
        for cents, w in items:
            acc += w
            if 2 * acc >= total:
                assert got[flag] == cents / 100, flag
                break


# ----------------------- embedding LSH verify-plan gate ----------------------


def test_embedding_lsh_carry_gate_plans_agree(spark, sf_dir, monkeypatch):
    """The occupancy-gated verify plans (carried-vector banded join vs
    narrow-candidates + verify joins) must be result-identical; the gate
    is a pure plan choice (second-decade ladder + sf1 sweep, round 11).
    CARRY_MAX_OCCUPANCY is the gate's only switch: a bound above every
    estimate forces the carried plan, -1 the narrow one."""
    from laposte_data_engineering_jedha_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {}
    for carry, bound in ((True, 1 << 62), (False, -1)):
        monkeypatch.setattr(dedup, "CARRY_MAX_OCCUPANCY", bound)
        pairs = dedup.embedding_dup_pairs_lsh(emb, threshold=0.4)
        joins = pairs._jdf.queryExecution().optimizedPlan().toString().count("Join")
        assert joins == (1 if carry else 3), joins
        got[carry] = {
            (r["id_a"], r["id_b"], r["cosine"]) for r in pairs.collect()
        }
    assert got[True] == got[False]


def test_embedding_lsh_gate_reads_stats_only(spark, sf_dir):
    """The carry gate must decide from Catalyst's estimate without
    running a job: a low-occupancy corpus picks carried (no verify
    joins => exactly one Join in the plan), a high-occupancy parameter
    set picks narrow (three Joins)."""
    from laposte_data_engineering_jedha_spark.operators import caches, dedup

    # hermetic stats: a persisted relation leaked by an earlier test whose
    # plan matches this operator's src/banded projection would substitute
    # an InMemoryRelation whose MATERIALIZED size (deserialized rows, far
    # above the 4*dim+48 wire estimate) flips the occupancy gate — this
    # test asserts the estimate-driven decision, so it must see cold plans
    caches.release_all()
    spark.catalog.clearCache()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # fixture corpus, wide planes -> low occupancy -> carried: 1 join
    carried = dedup.embedding_dup_pairs_lsh(emb, threshold=0.4, band_planes=12)
    p1 = carried._jdf.queryExecution().optimizedPlan().toString()
    assert p1.count("Join") == 1, p1
    # planes=0 -> single bucket per band -> occupancy = n > cap -> narrow
    narrow = dedup.embedding_dup_pairs_lsh(emb, threshold=0.4, band_planes=0)
    p2 = narrow._jdf.queryExecution().optimizedPlan().toString()
    assert p2.count("Join") == 3, p2
