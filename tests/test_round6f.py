"""Round-6 batch-6 semantics: checksum order/partitioning invariance and
corruption sensitivity; audience-overlap bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.functions import texts
from laposte_data_engineering_jedha_spark.queries import dq, events, table


def test_checksums_partitioning_invariant_and_corruption_sensitive(spark, sf_dir):
    """The (n_rows, key_checksum) pair must be identical under any
    repartitioning/order (commutative sum) and MUST move if one key is
    dropped or duplicated — the properties that make it an anti-entropy
    diff primitive."""
    ev = table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("k")
    )
    base = ev.agg(F.sum(texts.md5int32("k")).alias("c"), F.count("k").alias("n")).first()
    shuffled = (
        ev.repartition(17, "k")
        .agg(F.sum(texts.md5int32("k")).alias("c"), F.count("k").alias("n"))
        .first()
    )
    assert (base["c"], base["n"]) == (shuffled["c"], shuffled["n"])
    dropped = (
        ev.limit(ev.count() - 1)
        .agg(F.sum(texts.md5int32("k")).alias("c"))
        .first()["c"]
    )
    assert dropped != base["c"]


def test_checksums_cover_all_tables(spark, sf_dir):
    out = {r["tbl"]: r for r in dq.dq_table_checksums(spark, sf_dir).collect()}
    assert set(out) == set(dq._CHECKSUM_KEYS)
    for t, r in out.items():
        assert r["n_rows"] > 0, t
        assert r["key_checksum"] > 0, t


def test_audience_overlap_bounds(spark, sf_dir):
    out = events.events_audience_overlap(spark, sf_dir).collect()
    # 5 event types -> 10 unordered pairs
    assert len(out) == 10
    for r in out:
        assert 0 <= r["n_inter"] <= min(r["n_a"], r["n_b"])
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["type_a"] < r["type_b"]
