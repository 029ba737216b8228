"""Lifecycle registry (operators/caches.py): bounded tracking + release.

ADVICE r7: _TRACKED held strong references and grew without bound in any
long-lived session that never calls release_all (the external-driver
path). track() now evicts the oldest entries past MAX_TRACKED.
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
    tracked = list(caches._TRACKED)
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


def test_every_persist_is_tracked_or_unpersisted():
    """Every `.persist()` / `.cache()` in the package is either the
    argument of `caches.track` / `persist_if_small` (so `release_all`
    frees it) or sits in a function that calls `.unpersist()` on the
    same name. An untracked, never-unpersisted cache outlives its query
    and `release_all` cannot reach it."""
    import ast
    import os

    import laposte_data_engineering_jedha_spark as pkg

    def callee(call):
        f = call.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    root = os.path.dirname(pkg.__file__)
    leaks = []
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                ):
                    continue
                up = parent.get(node)
                if (
                    isinstance(up, ast.Call)
                    and callee(up) in ("track", "persist_if_small")
                    and node in up.args
                ):
                    continue
                names = set()
                if isinstance(node.func.value, ast.Name):
                    names.add(node.func.value.id)
                if isinstance(up, ast.Assign):
                    names |= {t.id for t in up.targets if isinstance(t, ast.Name)}
                fn = up
                while fn is not None and not isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    fn = parent.get(fn)
                released = fn is not None and any(
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "unpersist"
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id in names
                    for n in ast.walk(fn)
                )
                if not released:
                    leaks.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert leaks == []
