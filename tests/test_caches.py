"""Lifecycle registry (operators/caches.py): bounded tracking + release.

ADVICE r7: _TRACKED held strong references and grew without bound in any
long-lived session that never calls release_all (the external-driver
path). track() now evicts the oldest entries past MAX_TRACKED.

ADVICE r9: the ranking operators bake driver-collected offsets into lazy
plans over a sampled repartitionByRange persist — evicting that persist
before the consumer materializes silently corrupts ranks. track(pin=True)
exempts such relations from MAX_TRACKED eviction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import caches


def test_track_evicts_oldest_beyond_cap(spark):
    caches.release_all()
    dfs = [
        spark.range(5).select((F.col("id") + i).alias("v")).persist()
        for i in range(caches.MAX_TRACKED + 3)
    ]
    for df in dfs:
        caches.track(df)
    # registry bounded, newest retained, oldest evicted + unpersisted
    tracked = [d for d, _ in caches._TRACKED]
    assert len(tracked) == caches.MAX_TRACKED
    assert tracked[-1] is dfs[-1]
    assert all(d not in tracked for d in dfs[:3])
    assert all(d.storageLevel.useMemory is False for d in dfs[:3])
    # the retained tail is still persisted until release_all
    assert dfs[-1].storageLevel.useMemory is True
    assert caches.release_all() == caches.MAX_TRACKED
    assert caches._TRACKED == []
    assert dfs[-1].storageLevel.useMemory is False


def test_release_all_idempotent(spark):
    caches.release_all()
    df = caches.track(spark.range(3).persist())
    assert caches.release_all() == 1
    assert caches.release_all() == 0
    assert df.storageLevel.useMemory is False


def test_pinned_entries_survive_eviction_pressure(spark):
    """A pinned relation must never be LRU-evicted no matter how many
    unpinned relations are tracked after it (ADVICE r9: eviction of a
    ranking persist between offset collection and consumer
    materialization is a correctness hazard, not a recompute)."""
    caches.release_all()
    pinned = caches.track(
        spark.range(7).select(F.col("id").alias("p")).persist(), pin=True
    )
    dfs = [
        spark.range(5).select((F.col("id") + i).alias("v")).persist()
        for i in range(caches.MAX_TRACKED + 5)
    ]
    for df in dfs:
        caches.track(df)
    # the pinned entry is still registered and still persisted; the cap
    # holds by evicting unpinned entries only
    assert len(caches._TRACKED) == caches.MAX_TRACKED
    assert any(d is pinned and p for d, p in caches._TRACKED)
    assert pinned.storageLevel.useMemory is True
    assert all(d.storageLevel.useMemory is False for d in dfs[:5])
    # release_all releases pinned entries too
    assert caches.release_all() == caches.MAX_TRACKED
    assert pinned.storageLevel.useMemory is False


def test_pinned_cap_raises_by_default(spark):
    """ADVICE r11: evicting an unmaterialized pin with only a
    RuntimeWarning could still silently corrupt ranks (warnings rarely
    surface in batch logs). Exceeding MAX_PINNED under the default
    PIN_EVICTION_POLICY='raise' is now a hard error, nothing is evicted,
    and every already-registered pin stays persisted."""
    import pytest as _pytest

    caches.release_all()
    assert caches.PIN_EVICTION_POLICY == "raise"  # the shipped default
    dfs = [
        spark.range(3).select((F.col("id") + i).alias("v")).persist()
        for i in range(caches.MAX_PINNED + 1)
    ]
    for df in dfs[: caches.MAX_PINNED]:
        caches.track(df, pin=True)
    with _pytest.raises(RuntimeError, match="MAX_PINNED"):
        caches.track(dfs[-1], pin=True)
    # nothing was evicted: all MAX_PINNED registered pins still persisted
    pinned_alive = [d for d, p in caches._TRACKED if p]
    assert len(pinned_alive) == caches.MAX_PINNED
    assert all(d.storageLevel.useMemory is True for d in pinned_alive)
    assert caches.release_all() == caches.MAX_PINNED
    dfs[-1].unpersist()


def test_pinned_cap_evicts_oldest_pin_with_warning(spark):
    """ADVICE r10: fully exempt pins reintroduced the unbounded-handle
    leak for never-releasing sessions. Pins carry their own MAX_PINNED
    cap; under the opt-in PIN_EVICTION_POLICY='warn' the oldest pin is
    evicted (and unpersisted) with a loud RuntimeWarning once more than
    MAX_PINNED are alive, keeping a run-forever offsets-ranking session
    bounded on both sides."""
    import warnings as _w

    caches.release_all()
    caches.PIN_EVICTION_POLICY = "warn"
    try:
        dfs = [
            spark.range(3).select((F.col("id") + i).alias("v")).persist()
            for i in range(caches.MAX_PINNED + 3)
        ]
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            for df in dfs:
                caches.track(df, pin=True)
        pinned_alive = [d for d, p in caches._TRACKED if p]
        assert len(pinned_alive) == caches.MAX_PINNED
        # oldest pins evicted and unpersisted; newest retained and persisted
        assert all(d not in pinned_alive for d in dfs[:3])
        assert all(d.storageLevel.useMemory is False for d in dfs[:3])
        assert pinned_alive[-1] is dfs[-1]
        assert dfs[-1].storageLevel.useMemory is True
        assert sum("MAX_PINNED" in str(w.message) for w in caught) == 3
        assert caches.release_all() == caches.MAX_PINNED
    finally:
        caches.PIN_EVICTION_POLICY = "raise"


def test_pinned_cap_not_triggered_by_unpinned_pressure(spark):
    """Unpinned churn must never count against the pinned cap: a session
    inside the contract (a few pins, lots of unpinned internals) sees no
    warning and no pin eviction."""
    import warnings as _w

    caches.release_all()
    pins = [
        spark.range(2).select((F.col("id") + i).alias("p")).persist()
        for i in range(caches.MAX_PINNED)
    ]
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        for df in pins:
            caches.track(df, pin=True)
        # offset keeps these plans canonically DISTINCT from the pins:
        # the cache manager matches on canonicalized plans (aliases
        # ignored), so an identical-plan twin would share — and its
        # eviction would drop — the pin's cache entry
        for i in range(caches.MAX_TRACKED + 5):
            caches.track(
                spark.range(2)
                .select((F.col("id") + (1000 + i)).alias("v"))
                .persist()
            )
    assert not any("MAX_PINNED" in str(w.message) for w in caught)
    assert all(d.storageLevel.useMemory is True for d in pins)
    caches.release_all()


def test_persist_if_small_gates_on_threshold(spark, monkeypatch):
    """The one size gate: a relation at or under GATE_MAX_EST_BYTES is
    persisted and tracked, one over it comes back unchanged and untracked;
    with several probes the smallest estimate decides."""
    caches.release_all()
    small = spark.range(10).select((F.col("id") + 7).alias("v"))
    assert caches.persist_if_small(small) is small
    assert small.storageLevel.useMemory is True
    assert caches.release_all() == 1

    big = spark.range(1 << 20).select((F.col("id") + 8).alias("v"))
    monkeypatch.setattr(caches, "GATE_MAX_EST_BYTES", 1 << 10)
    assert caches.persist_if_small(big) is big
    assert big.storageLevel.useMemory is False
    assert caches.release_all() == 0

    # big relation, one small probe: min over probes passes the gate
    assert caches.is_small(big, small)
    assert not caches.is_small(big)
    caches.persist_if_small(big, big, small)
    assert caches.release_all() == 1
