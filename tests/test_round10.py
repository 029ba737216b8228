"""Round-10 hardening: IVF index lifecycle (built once per session under
the session scratch root, re-keyed by the corpus fingerprint; r9 verdict
item 4 / ADVICE r9) and related operator defaults."""

from __future__ import annotations

import os
import shutil

import pytest

from laposte_data_engineering_jedha_spark.queries import similarity


def _copy_corpus(tmp_path, sf_dir):
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), sf / "embeddings.parquet")
    return str(sf)


def _markers_ok(path: str) -> bool:
    return all(
        os.path.exists(os.path.join(path, part, "_SUCCESS"))
        for part in ("centroids.parquet", "postings.parquet")
    )


def test_ivf_index_build_once_then_reuse(spark, sf_dir, tmp_path):
    """Same session, same corpus -> same key -> the second ensure reuses
    the stored index without rebuilding (the _SUCCESS marker is
    untouched); the index lies under the session's SparkFiles root, which
    Spark deletes when the session stops."""
    from pyspark import SparkFiles

    sf = _copy_corpus(tmp_path, sf_dir)
    p1 = similarity._ensure_index(spark, sf)
    assert _markers_ok(p1)
    assert p1.startswith(SparkFiles.getRootDirectory() + os.sep)
    marker = os.path.join(p1, "postings.parquet", "_SUCCESS")
    m1 = os.stat(marker).st_mtime_ns
    assert similarity._ensure_index(spark, sf) == p1
    assert os.stat(marker).st_mtime_ns == m1


def test_ivf_index_rekeys_and_rebuilds_on_corpus_mutation(spark, sf_dir, tmp_path):
    """Mutate ONE vector in the embeddings table: the fingerprint must
    re-key the index path and the next ensure must build a fresh index
    there — a mutated corpus can never be served from the stale index
    (ADVICE r9: the old key was (sf_dir, contract) only)."""
    import pyarrow.parquet as pq

    sf = _copy_corpus(tmp_path, sf_dir)
    p1 = similarity._ensure_index(spark, sf)
    assert _markers_ok(p1)

    src = os.path.join(sf, "embeddings.parquet")
    tbl = pq.read_table(src)
    df = tbl.to_pandas()
    vec = list(df.loc[0, "embedding"])
    vec[0] = float(vec[0]) + 1.0
    df.at[0, "embedding"] = vec
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(df, schema=tbl.schema), src)

    p2 = similarity._ensure_index(spark, sf)
    assert p2 != p1, "mutated corpus must re-key the index"
    assert _markers_ok(p2)


def test_ivf_fingerprint_missing_corpus(tmp_path):
    """A missing embeddings table fingerprints as a sentinel rather than
    raising — _ensure_index will then fail in the build with Spark's own
    missing-path error, not a confusing os.stat one."""
    assert similarity._corpus_fingerprint(str(tmp_path)) == "missing"


def test_triangles_default_entry_point_is_capped(spark, sf_dir, monkeypatch):
    """r9 verdict item 2: omitting the cap args must apply the bounded
    production caps; the exact unbounded form requires explicit None for
    both. Each cap binds once tightened — checked through the results,
    on the driver and the distributed path alike — and on the fixture
    graph the default caps exceed the true maxima, so the default-capped
    count equals the exact count: bounded by default, exact where the
    caps don't bind."""
    import inspect

    from laposte_data_engineering_jedha_spark.operators import graphs
    from laposte_data_engineering_jedha_spark.queries import events_table

    params = inspect.signature(graphs.co_activity_triangles).parameters
    assert params["bucket_cap"].default == graphs.DEFAULT_BUCKET_CAP
    assert params["max_out_deg"].default == graphs.DEFAULT_MAX_OUT_DEG
    ev = events_table(spark, sf_dir)

    def run(**caps):
        return tuple(graphs.co_activity_triangles(ev, min_w=2, **caps).first())

    for driver_max_edges in (graphs.DRIVER_MAX_EDGES, -1):
        monkeypatch.setattr(graphs, "DRIVER_MAX_EDGES", driver_max_edges)
        n_edges, n_nodes, n_tri = run(bucket_cap=None, max_out_deg=None)
        assert n_tri > 0
        assert run() == (n_edges, n_nodes, n_tri)
        assert run(bucket_cap=2, max_out_deg=None)[0] < n_edges
        assert run(bucket_cap=None, max_out_deg=2)[2] < n_tri


_REC_SCHEMA = "k long, name string, grp long, val double"


def _base_rows(n=400):
    return [(i, f"u{i % 37}", i * 3 % 101, float(i % 13)) for i in range(n)]


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_merkle_reconcile_random_mutation_sets(spark, seed):
    """Property test (r9 verdict item 5): for a random mutation set
    (updates + deletes + inserts), merkle_reconcile must return EXACTLY
    the mutated keys with the right change kinds, and the dirty-bucket
    ladder must stay bounded by the mutation count (each mutation dirties
    at most one fine bucket)."""
    import random

    from laposte_data_engineering_jedha_spark.operators import reconcile

    rng = random.Random(seed)
    n = 400
    rows = _base_rows(n)
    updates = set(rng.sample(range(n), rng.randint(1, 12)))
    deletes = set(rng.sample([i for i in range(n) if i not in updates],
                             rng.randint(1, 8)))
    inserts = {n + j for j in range(rng.randint(1, 6))}
    right_rows = [
        (k, name, grp, val + 1.0 if k in updates else val)
        for (k, name, grp, val) in rows
        if k not in deletes
    ] + [(k, "new", 0, 0.0) for k in sorted(inserts)]
    left = spark.createDataFrame(rows, _REC_SCHEMA)
    right = spark.createDataFrame(right_rows, _REC_SCHEMA)

    got = {
        (r["k"], r["change"])
        for r in reconcile.merkle_reconcile(left, right, ["k"]).collect()
    }
    want = (
        {(k, "changed") for k in updates}
        | {(k, "missing_in_right") for k in deletes}
        | {(k, "missing_in_left") for k in inserts}
    )
    assert got == want
    n_dirty = reconcile.merkle_bucket_diff(left, right, ["k"]).count()
    assert 0 < n_dirty <= len(updates) + len(deletes) + len(inserts)


def test_merkle_identical_snapshots_are_clean(spark):
    from laposte_data_engineering_jedha_spark.operators import reconcile

    left = spark.createDataFrame(_base_rows(), _REC_SCHEMA)
    right = spark.createDataFrame(_base_rows(), _REC_SCHEMA)
    assert reconcile.merkle_bucket_diff(left, right, ["k"]).count() == 0
    assert reconcile.merkle_reconcile(left, right, ["k"]).count() == 0


def test_merkle_null_value_is_not_empty_string(spark):
    """The digest payload uses a distinct non-hex token for NULLs — a
    NULL value and an empty string must be detected as a difference, and
    NULL==NULL must be clean (concat_ws alone would collapse both)."""
    from laposte_data_engineering_jedha_spark.operators import reconcile

    schema = "k long, v string"
    left = spark.createDataFrame([(1, None), (2, "x"), (3, None)], schema)
    right = spark.createDataFrame([(1, ""), (2, "x"), (3, None)], schema)
    got = {
        (r["k"], r["change"])
        for r in reconcile.merkle_reconcile(left, right, ["k"]).collect()
    }
    assert got == {(1, "changed")}


def test_merkle_separator_in_value_is_not_a_collision(spark):
    """ADVICE r10 (medium): with a '|'-joined digest payload, values
    ('a|', 'b') and ('a', '|b') encode identically and a genuinely
    different row pair is silently reported clean — a deterministic
    false negative in a data-quality operator. The injective per-column
    md5-token encoding must flag the row as changed, across every
    boundary-shifting variant."""
    from laposte_data_engineering_jedha_spark.operators import reconcile

    schema = "k long, v1 string, v2 string"
    left = spark.createDataFrame(
        [(1, "a|", "b"), (2, "x|", "|y"), (3, "", "|"), (4, "same", "same")],
        schema,
    )
    right = spark.createDataFrame(
        [(1, "a", "|b"), (2, "x||", "y"), (3, "|", ""), (4, "same", "same")],
        schema,
    )
    got = {
        (r["k"], r["change"])
        for r in reconcile.merkle_reconcile(left, right, ["k"]).collect()
    }
    assert got == {(1, "changed"), (2, "changed"), (3, "changed")}
    assert reconcile.merkle_bucket_diff(left, right, ["k"]).count() >= 1


def test_merkle_schema_mismatch_raises(spark):
    from laposte_data_engineering_jedha_spark.operators import reconcile

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        reconcile.merkle_bucket_diff(left, right, ["k"])


def test_sessionize_stream_survives_null_event_times(spark, tmp_path):
    """Found by the sf1 streaming smoke: a NULL ts (NaT after the Arrow
    hop) folded into the pending buffer as int64-min garbage and crashed
    session emission with OutOfBoundsDatetime. Null-ts rows carry no
    event time and must be DROPPED by the fold; the non-null rows still
    sessionize normally."""
    import datetime as dt
    import time

    from laposte_data_engineering_jedha_spark.streaming import jobs

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    stream_dir = str(tmp_path / "stream")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batches = [
        [
            (1, t0, 1, "view", 1.0, "{}"),
            (2, None, 1, "view", 1.0, "{}"),  # the poison row
            (3, t0 + dt.timedelta(minutes=5), 1, "view", 1.0, "{}"),
        ],
        # sentinel far enough out to close user 1's session
        [(4, t0 + dt.timedelta(hours=2), 99, "noise", 0.0, "{}")],
    ]
    for batch in batches:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        time.sleep(0.05)
    got = {
        (r["user_id"], r["n_events"])
        for r in jobs.run_sessionize_available_now(
            spark, stream_dir, query_name="sessions_null_ts"
        ).collect()
    }
    assert (1, 2) in got  # the two timestamped events, poison row dropped


def test_triangles_tight_caps_undercount_never_overcount(spark, sf_dir):
    """Binding caps must only ever drop triangles (monotone undercount —
    the documented error contract)."""
    from laposte_data_engineering_jedha_spark.operators import graphs
    from laposte_data_engineering_jedha_spark.queries import events_table

    ev = events_table(spark, sf_dir)
    exact = graphs.co_activity_triangles(
        ev, min_w=2, bucket_cap=None, max_out_deg=None
    ).collect()[0]
    tight = graphs.co_activity_triangles(
        ev, min_w=2, bucket_cap=8, max_out_deg=3
    ).collect()[0]
    assert tight["n_triangles"] < exact["n_triangles"]
    assert tight["n_edges"] <= exact["n_edges"]
