"""Incrementally-maintained materialized view via foreachBatch — the
EIGHTH stateful streaming surface, and the one canonical pattern the
applyInPandasWithState family doesn't cover: state lives in a TABLE the
job owns (a parquet view any reader can query mid-stream), not in the
engine's state store, and exactly-once comes from idempotent merges
keyed by foreachBatch's batch_id.

The job maintains `counts(event_type, day) -> n` under appends:

- each micro-batch aggregates its OWN rows to (type, day) deltas (a
  partial aggregate over one file's worth of events — tiny);
- foreachBatch merges the deltas into the published view with a FULL
  OUTER on the key, summing counts (a |view| + |delta| merge, never a
  re-scan of history);
- the merge publishes by scratch-then-atomic-rename (the repo's
  single-writer protocol: readers see the old view or the new one,
  never a torn write) together with a manifest recording the LAST
  APPLIED batch_id — a replayed batch (Structured Streaming re-runs the
  in-flight batch after a crash-restart) compares ids and becomes a
  no-op instead of double-counting. That manifest IS the exactly-once:
  the sink's idempotency, not the engine's, is what survives a restart
  (the checkpoint only guarantees at-least-once delivery to
  foreachBatch).

At 100 TB the view would be a keyed Delta/Iceberg MERGE target with the
same batch_id guard; the parquet + rename + manifest form here is the
dependency-free equivalent with identical semantics.

Cite: reference repo has no streaming surface (supercourier_etl is a
batch ETL); extension layer.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_table
from . import jobs

_MANIFEST = "manifest.json"
_VIEW = "view.parquet"

VIEW_SCHEMA = "event_type string, day date, n long"


def _view_paths(root: str) -> tuple[str, str]:
    return os.path.join(root, _VIEW), os.path.join(root, _MANIFEST)


def read_view(spark: SparkSession, root: str) -> DataFrame:
    """The current materialized counts view (empty-schema relation if no
    batch has ever committed)."""
    view, _ = _view_paths(root)
    if os.path.exists(os.path.join(view, "_SUCCESS")):
        return spark.read.parquet(view)
    return local_table(spark, [], VIEW_SCHEMA)


def last_applied_batch(root: str) -> int:
    _, manifest = _view_paths(root)
    if not os.path.exists(manifest):
        return -1
    with open(manifest) as fh:
        return int(json.load(fh)["batch_id"])


def apply_batch(spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int) -> bool:
    """Merge one micro-batch's (type, day) count deltas into the view.

    Returns False (no-op) for an already-applied batch_id — the replay
    guard. The publish is scratch-then-rename: view parquet and manifest
    move into place under a new root directory swap, so a reader never
    observes a view without its manifest or vice versa."""
    if batch_id <= last_applied_batch(root):
        return False
    delta = batch_df.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("dn"))
    merged = (
        read_view(spark, root)
        .join(delta, ["event_type", "day"], "full_outer")
        .select(
            "event_type",
            "day",
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .cast("long")
            .alias("n"),
        )
    )
    scratch = f"{root}.apply-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(os.path.join(scratch, _VIEW))
    with open(os.path.join(scratch, _MANIFEST), "w") as fh:
        json.dump({"batch_id": batch_id}, fh)
    old = f"{root}.old-{uuid.uuid4().hex[:8]}"
    had_prev = os.path.isdir(root)
    if had_prev:
        os.rename(root, old)
    os.rename(scratch, root)
    if had_prev:
        shutil.rmtree(old, ignore_errors=True)
    return True


def run_ivm_counts_available_now(
    spark: SparkSession,
    events_dir: str,
    root: str,
    checkpoint: str,
) -> DataFrame:
    """Drive the IVM job over the directory stream with availableNow and
    return the final published view. Restart-safe: re-running with the
    same checkpoint resumes from the recorded source offsets, and a
    replayed in-flight batch no-ops on the manifest's batch_id."""
    q = (
        jobs.read_events_stream(spark, events_dir)
        .writeStream.foreachBatch(
            lambda df, bid: apply_batch(spark, root, df, bid) and None
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_view(spark, root)


def batch_counts(events: DataFrame) -> DataFrame:
    """The view's batch twin: one aggregate over the full input — what
    the incrementally-maintained table must equal after any prefix of
    appends covering the same rows."""
    return events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
