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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

# Generous vs. real usage (no single query tracks more than a handful of
# relations) while keeping a run-forever session's handle list — and the
# JVM cache footprint it pins — bounded.
MAX_TRACKED = 32

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
    `df` itself), else `df` unchanged."""
    if is_small(*(probes or (df,))):
        return track(df.persist())
    return df


def track(df: DataFrame) -> DataFrame:
    """Register a persisted relation for batch-runner cleanup; returns it.
    Evicts (unpersists + drops) the oldest relations beyond `MAX_TRACKED`,
    so sessions that never call release_all stay bounded."""
    _TRACKED.append(df)
    while len(_TRACKED) > MAX_TRACKED:
        old = _TRACKED.pop(0)
        try:
            old.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    return df


def release_all() -> int:
    """Unpersist every tracked relation (blocking=False) and clear the
    registry. Returns the number of relations released. Safe to call any
    time AFTER materializing the current query's result — unpersisting a
    relation that was never materialized, or one whose blocks were
    already LRU-evicted, is a no-op JVM-side."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n
