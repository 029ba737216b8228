"""Round-6 additions: semantics tests beyond the oracle hash gate —
planted/brute-force invariants the hash comparison cannot express."""

from __future__ import annotations

import pyspark.sql.functions as F

from laposte_data_engineering_jedha_spark.functions import texts
from laposte_data_engineering_jedha_spark.queries import round6, table


def test_passage_scrub_untouched_docs_reconstruct_exactly(spark, sf_dir):
    """A doc with zero removed passages must reconstruct to EXACTLY the
    space-joined token stream (md5-pinned) — proving the rebuild preserves
    order and content, not just counts."""
    out = round6.corpus_passage_scrub(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.array_join(texts.tokens("text"), " ")).alias("tok_md5")
    )
    clean = out.where(F.col("n_removed") == 0).join(docs, "doc_id")
    n_clean = clean.count()
    assert n_clean > 0
    assert clean.where(F.col("clean_md5") != F.col("tok_md5")).count() == 0
    # removals never exceed totals, and at least one doc in the fixture
    # shares a boilerplate passage (the fixture plants near-dup families)
    bad = out.where(
        (F.col("n_removed") < 0) | (F.col("n_removed") > F.col("n_passages"))
    ).count()
    assert bad == 0


def test_passage_scrub_planted_shared_passage(spark):
    """Two docs sharing one exact 8-token passage: the shared passage (and
    only it) is scrubbed from both; the unique doc is untouched."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " one two three four five six seven eight"),
        (2, shared + " uno dos tres cuatro cinco seis siete ocho"),
        (3, "solo duo trio quad penta hexa hepta octa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # same plan as the registered query, driven over the planted fixture
    toks = df.select("doc_id", texts.tokens("text").alias("t"))
    pl = toks.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, cast(ceil(size(t) / 8) as int) - 1), "
            "i -> array_join(slice(t, i * 8 + 1, 8), ' '))"
        ).alias("ps"),
    )
    p = pl.select("doc_id", F.posexplode("ps").alias("pos", "passage"))
    dup = (
        p.groupBy(F.md5("passage").alias("k"))
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
    )
    kept = p.withColumn("k", F.md5("passage")).join(dup.select("k"), "k", "left_anti")
    got = {
        (r["doc_id"], r["pos"]): r["passage"] for r in kept.collect()
    }
    # docs 1/2 lose exactly the shared first passage; doc 3 keeps its one
    assert (1, 0) not in got and (2, 0) not in got
    assert got[(1, 1)].startswith("one")
    assert got[(2, 1)].startswith("uno")
    assert got[(3, 0)].startswith("solo")


def test_rfm_bands_are_quartiles(spark, sf_dir):
    out = round6.events_rfm_segments(spark, sf_dir).collect()
    assert len(out) > 0
    for c in ("r_q", "f_q", "m_q"):
        vals = [r[c] for r in out]
        assert set(vals) <= {1, 2, 3, 4}
    # the strictly-largest metric value must land in the top band, the
    # strictly-smallest in the bottom band (holds whenever the extreme is
    # unique, which the fixture's monetary column guarantees)
    mons = sorted((r["mon"], r["m_q"]) for r in out)
    if mons[-1][0] > mons[-2][0]:
        assert mons[-1][1] == 4
    if mons[0][0] < mons[1][0]:
        assert mons[0][1] == 1


def test_interval_overlap_matches_bruteforce(spark, sf_dir):
    """The grid-bucketed overlap join must equal the quadratic definition
    computed driver-side over the collected session list."""
    out = round6.events_interval_overlap(spark, sf_dir)
    rows = out.collect()
    sessions = [(r["user_id"], r["session_start"], r["session_end"]) for r in rows]
    got = {
        (r["user_id"], r["session_start"]): r["n_concurrent"] for r in rows
    }
    for u, s0, s1 in sessions:
        expect = sum(
            1
            for (v, t0, t1) in sessions
            if v != u and s0 <= t1 and t0 <= s1
        )
        assert got[(u, s0)] == expect, (u, s0)


def test_time_to_convert_percentiles_ordered(spark, sf_dir):
    r = round6.events_time_to_convert(spark, sf_dir).first()
    assert r["n_converted"] > 0
    assert 0 <= r["p25_us"] <= r["p50_us"] <= r["p75_us"]


def test_drift_monitor_bounds_and_counts(spark, sf_dir):
    out = round6.embedding_drift_monitor(spark, sf_dir).collect()
    assert len(out) > 0
    emb = table(spark, sf_dir, "embeddings")
    totals = {r["label"]: r["n"] for r in emb.groupBy("label").count().withColumnRenamed("count", "n").collect()}
    for r in out:
        # NOTE: on the random fixture centroids are near zero, so the
        # half-vs-half cosine is noise anywhere in [-1, 1] — the bound
        # and the partition property are the testable invariants (a
        # planted-drift fixture would need structured vectors)
        assert -1.0 <= r["drift_cos"] <= 1.0
        # halves partition the label's vectors
        assert r["n_a"] + r["n_b"] == totals[r["label"]]


def test_dq_documents_clean_fixture(spark, sf_dir):
    r = round6.dq_documents_checks(spark, sf_dir).first()
    assert r["n_rows"] > 0
    assert r["n_empty_text"] == 0
    assert r["n_bad_lang"] == 0
    assert r["n_len_mismatch"] == 0
    assert r["n_dup_ids"] == 0


def test_label_prop_capped_variant_labels_every_user(spark, sf_dir, monkeypatch):
    """The hot-cell cap (star-to-representatives) must still label every
    user — no bucket member may vanish from the output, whatever its
    md5 rank (the same connectivity property pinned for
    hamming_band_pairs' cap)."""
    n_users = round6.graph_label_prop_communities(spark, sf_dir).count()
    monkeypatch.setattr(round6, "_LP_CELL_CAP", 4)
    capped = round6.graph_label_prop_communities(spark, sf_dir)
    assert capped.count() == n_users
    assert capped.where(F.col("community").isNull()).count() == 0
