"""Persist-or-recompute gate and lifecycle registry for operator-internal
persisted relations.

This module is the one home of the size gate. `is_small` reads Catalyst's
size estimate (no action) and compares it with `GATE_MAX_EST_BYTES`;
`persist_if_small` persists and tracks a relation only when the gate
passes. At bench scale a persist collapses repeated Arrow-kernel and
scan pipelines; at 100 TB persisting an O(corpus) relation would spill
the corpus to local disk, so estimated-big inputs keep the recompute
plan. Callers probe the INPUT scan rather than the persisted relation
when join-selectivity guesses inflate the latter's estimate (measured
~1000x for post-join relations).

Several operators persist a narrow internal projection because it is
referenced multiple times in one plan and PythonUDF subtrees never
canonicalize equal (SCALE.md finding 11): minhash_lsh_pairs' signature
relation, knn_graph's banded projection, embedding_dup_pairs_lsh's
normalized source. A registered query is LAZY — the persist pays off only
when the caller materializes the result — so the operator itself can never
unpersist, and per-caller monkey-patched DataFrame-attribute handles
silently disappear as soon as the result is transformed (ADVICE r6; the
last one, knn_graph's `_knn_graph_src`, was removed in round 8). This
module is the explicit alternative:

- operators call `track(df)` on every internal persist;
- batch runners (bench.py, the oracle-parity replica gate, long-lived
  registry sessions) call `release_all()` AFTER materializing each query,
  which unpersists every tracked relation and clears the registry.

A runner that never calls `release_all()` (e.g. the external driver, which
runs ~50 queries once each) degrades to the previous behavior — bounded by
Spark's LRU block eviction — rather than failing. Handles are held
strongly: a weakref would let Python GC drop the handle while the JVM
still holds the cached blocks, making them unreleasable. To keep that
never-releasing path bounded on the PYTHON side too (ADVICE r7: the JVM
blocks are LRU-bounded but an unbounded handle list leaks), `track`
unpersists and drops the OLDEST entries once the registry exceeds
`MAX_TRACKED`.

CORRECTNESS CAVEAT (ADVICE r9): eviction costs at most a recompute for
relations whose derived results were already materialized — but the
partition-offset ranking operators (operators/ranking.py) bake
DRIVER-SIDE constants (per-partition offsets) computed from one
materialization of a `repartitionByRange` relation into a lazy plan. If
that persist is dropped before the consumer materializes, the range
boundaries are RESAMPLED on recompute and the baked offsets silently
corrupt ranks. Such relations are registered with `track(df, pin=True)`:
pinned entries are exempt from MAX_TRACKED eviction and released by
`release_all()` — which batch runners call strictly AFTER materializing
each query's result, so the constructed-plan window is never evicted.
To keep a never-releasing session bounded on the pinned side too
(ADVICE r10), pins carry their own `MAX_PINNED` cap. ADVICE r11 closed
the remaining hole: evicting an unmaterialized pin with only a
RuntimeWarning could still silently corrupt ranks (warnings rarely
surface in batch logs), so exceeding MAX_PINNED now RAISES by default
(`PIN_EVICTION_POLICY = "raise"`) — the hazard is loud and
unmissable, and the fix on the caller side is always one of: call
`release_all()` between queries (the documented contract), raise
`MAX_PINNED` for a genuinely wider composed plan, or opt back into
evict-with-warning (`PIN_EVICTION_POLICY = "warn"`) for sessions that
knowingly stockpile already-consumed pins.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

# (df, pinned) pairs; pinned entries are never LRU-evicted by track()
_TRACKED: list[tuple[DataFrame, bool]] = []

# Generous vs. real usage (no single query tracks more than a handful of
# relations) while keeping a run-forever session's handle list — and the
# JVM cache footprint it pins — bounded.
MAX_TRACKED = 32

# Separate, smaller cap for PINNED entries (ADVICE r10: exempting pins
# from eviction entirely reintroduced the unbounded-handle leak for a
# never-releasing session that keeps building ranking plans). A pin's
# consumer is the query result built around it; every sane runner
# (external driver, bench.py, the replica gate) materializes each query
# before constructing the next, so MAX_PINNED live pins without a
# release_all() call means the session is outside the documented
# contract. ADVICE r11: because evicting a not-yet-consumed pin silently
# corrupts ranks and a RuntimeWarning rarely surfaces in batch logs,
# exceeding the cap now raises by default instead of evicting.
MAX_PINNED = 8

# "raise" (default): track(pin=True) raises RuntimeError when it would
# push the live-pin count past MAX_PINNED — nothing is evicted, the
# hazard can never be silent. "warn": restore the round-11 behavior
# (evict the oldest pin with a RuntimeWarning) for sessions that
# knowingly hold >MAX_PINNED already-consumed pins.
PIN_EVICTION_POLICY = "raise"

# Plan-stats gate: a relation whose Catalyst size estimate is at most this
# many bytes is persisted (and, in ranking, counted) rather than recomputed
# — deciding never touches the data, the only acceptable behavior at
# 100 TB. Deliberately generous: a wrong "small" costs a cache fill, a
# wrong "big" costs a recompute.
GATE_MAX_EST_BYTES = 256 << 20


def _plan_stats(df: DataFrame):
    return df._jdf.queryExecution().optimizedPlan().stats()


def _estimated_bytes(df: DataFrame) -> int:
    try:
        return int(_plan_stats(df).sizeInBytes())
    except Exception:  # pragma: no cover - py4j/stats unavailable
        return 1 << 62  # unknown: assume big, choose the scale-safe form


def estimated_rows(df: DataFrame, row_bytes: int) -> int | None:
    """Catalyst row estimate: exact rowCount when the optimizer has one,
    else sizeInBytes / row_bytes. None = unknown."""
    try:
        stats = _plan_stats(df)
        rc = stats.rowCount()
        if rc.isDefined():
            return int(rc.get().toString())
        size = int(stats.sizeInBytes())
        if size >= (1 << 60):  # Catalyst's "unknown" sentinel magnitude
            return None
        return max(1, size // row_bytes)
    except Exception:  # pragma: no cover - py4j/stats unavailable
        return None


def is_small(*probes: DataFrame) -> bool:
    """True when the smallest size estimate over `probes` is within
    `GATE_MAX_EST_BYTES`."""
    return min(_estimated_bytes(p) for p in probes) <= GATE_MAX_EST_BYTES


def persist_if_small(df: DataFrame, *probes: DataFrame) -> DataFrame:
    """`track(df.persist())` when `is_small(*probes)` (probes default to
    `df` itself), else `df` unchanged. Tracked unpinned — eviction only
    recomputes."""
    if is_small(*(probes or (df,))):
        return track(df.persist())
    return df


def track(df: DataFrame, pin: bool = False) -> DataFrame:
    """Register a persisted relation for batch-runner cleanup; returns it.
    Evicts (unpersists + drops) the oldest UNPINNED relations beyond
    `MAX_TRACKED`, so sessions that never call release_all stay bounded.
    Pass `pin=True` for relations whose eviction before materialization
    would be a correctness hazard (see module docstring): they are exempt
    from the LRU cap, released by `release_all()`, and bounded only by
    the separate `MAX_PINNED` cap — exceeding it raises (default) or
    evicts the oldest pin with a warning (`PIN_EVICTION_POLICY`)."""
    if pin and sum(1 for _, pinned in _TRACKED if pinned) >= MAX_PINNED:
        if PIN_EVICTION_POLICY == "raise":
            raise RuntimeError(
                "caches.track: more than MAX_PINNED "
                f"(={MAX_PINNED}) pinned relations alive in a session that "
                "has not called release_all(). Evicting a pin whose "
                "consuming plan was never materialized would silently "
                "corrupt its baked partition offsets (see module "
                "docstring), so this is an error. Fix: call "
                "caches.release_all() after materializing each query, "
                "raise caches.MAX_PINNED for a wider composed plan, or "
                "set caches.PIN_EVICTION_POLICY = 'warn' if every live "
                "pin's consumer is known to be materialized already."
            )
        while sum(1 for _, pinned in _TRACKED if pinned) >= MAX_PINNED:
            evict_idx = next(i for i, (_, pinned) in enumerate(_TRACKED) if pinned)
            old, _ = _TRACKED.pop(evict_idx)
            warnings.warn(
                "caches.track: more than MAX_PINNED pinned relations alive in "
                "a session that has not called release_all(); evicting the "
                "oldest pin. If its consuming plan was never materialized its "
                "baked partition offsets are now stale (see module docstring).",
                RuntimeWarning,
                stacklevel=2,
            )
            try:
                old.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass
    _TRACKED.append((df, pin))
    while len(_TRACKED) > MAX_TRACKED:
        evict_idx = next(
            (i for i, (_, pinned) in enumerate(_TRACKED) if not pinned), None
        )
        if evict_idx is None:  # all pinned: bounded by MAX_PINNED above
            break
        old, _ = _TRACKED.pop(evict_idx)
        try:
            old.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    return df


def release_all() -> int:
    """Unpersist every tracked relation (blocking=False), pinned included,
    and clear the registry. Returns the number of relations released.
    Safe to call any time AFTER materializing the current query's result —
    unpersisting a relation that was never materialized, or one whose
    blocks were already LRU-evicted, is a no-op JVM-side (but see the
    module docstring for the ranking-plan caveat)."""
    n = 0
    while _TRACKED:
        df, _ = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n
