"""MERGE INTO / CDC-apply for plain-parquet lakes — the upsert primitive
every table format (Delta/Iceberg/Hudi) builds in, expressed as pure
DataFrame algebra so it runs anywhere Spark runs:

    new_snapshot = (snapshot ANTI-JOIN change_keys)  -- untouched + deleted removed
                   UNION ALL
                   (latest change per key WHERE op != 'D')  -- upserts

Semantics match SQL MERGE with WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
WHEN NOT MATCHED INSERT, with last-writer-wins inside the change batch
(ties broken deterministically by a sequence column).

Scale notes: both legs are key-partitioned — the anti join shuffles on the
key (or rides a bucketed snapshot layout with ZERO exchange, see
operators/layout.py), the change-batch dedup is a per-key window over the
(usually much smaller) change set, and the union is free. Rewriting only
affected files (copy-on-write pruning) is a table-format concern; this
operator produces the correct next snapshot for any storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

OP_COL = "op"
SEQ_COL = "seq"

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"


def latest_changes(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse a change batch to one row per key: highest `seq` wins,
    ties broken by op descending ('U' > 'I' > 'D' lexicographically is NOT
    meaningful, so ties on seq are broken by op then arbitrary-free —
    callers must make seq unique per key; a guard test pins this)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(SEQ_COL).desc(), F.col(OP_COL))
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changes(
    snapshot: DataFrame, changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Next snapshot after applying a CDC batch (op: I/U/D + payload
    columns matching the snapshot schema + a seq column).

    - keys present in the batch leave the old snapshot (anti join);
    - the latest non-delete change per key contributes its payload;
    - deletes contribute nothing (the anti join already removed them).

    Upserts whose key wasn't in the snapshot behave as inserts and
    updates-as-inserts (standard MERGE leniency); a strict mode would
    split U/I and assert matched-ness — deliberately not done here, the
    lake's CDC feeds are not reliably strict."""
    last = latest_changes(changes, key_cols)
    payload_cols = list(snapshot.columns)
    # No broadcast hint on the change-key side: CDC batches range from tiny
    # (stats-broadcast kicks in) to snapshot-sized backfills (must shuffle).
    untouched = snapshot.join(last.select(*key_cols), key_cols, "left_anti")
    upserts = last.where(F.col(OP_COL) != OP_DELETE).select(*payload_cols)
    return untouched.unionByName(upserts)


def scd2_history(
    versions: DataFrame,
    key_cols: list[str],
    effective_col: str = "valid_from",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from a version stream: given one
    row per (key, effective date) attribute version, emit the full
    validity history — `valid_to` = the NEXT version's effective date
    (half-open [valid_from, valid_to) intervals, the warehouse-standard
    convention), `is_current` on the open interval.

    SCD2 is the other half of CDC ingestion next to `apply_changes`
    (which produces the LATEST snapshot and discards history); dimension
    joins against facts then use [valid_from, valid_to) containment —
    see queries/events.py events_range_join for that join shape.

    One per-key window, partitioned by the dimension key — at any scale
    each key's version list is tiny (bounded by change frequency), so the
    sort inside each partition group is bounded and the single Exchange
    on the key is the whole cost."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(effective_col))
    lead = F.lead(effective_col).over(w)
    return versions.select(
        "*",
        lead.alias("valid_to"),
        lead.isNull().alias("is_current"),
    )


def incremental_agg_update(
    base_agg: DataFrame,
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Incremental view maintenance for a materialized
    `groupBy(group_col).agg(count, SUM(value))` under a CDC batch:
    instead of recomputing the aggregate from the next snapshot, combine
    the STORED aggregate with a delta built from (a) the old rows of the
    touched keys (negative contribution — semi join on the change keys,
    so only changed keys are re-read) and (b) the surviving new rows
    (positive contribution). DBSP/Materialize-style maintenance reduced
    to the algebraic case Spark handles exactly: counts are integers and
    the value sums aggregate as DECIMAL(18,4), so delta-apply is
    bit-identical to recompute (pinned by the olap_ivm_agg oracle).

    `base_agg` must have columns (group_col, n_rows, total_dec) with
    total_dec still DECIMAL — keep the stored aggregate in decimal and
    cast to double only at read time, or repeated maintenance rounds
    would accumulate float drift.

    Scale shape: the delta side touches |changed keys| rows (key-
    partitioned semi join against the snapshot — zero-Exchange on a
    bucketed layout), the stored aggregate is |groups| rows, and the
    combine is a tiny full-outer join; the snapshot is never re-scanned
    in full. Groups whose maintained count reaches 0 drop out, exactly
    as a recompute would drop them."""
    last = latest_changes(changes, key_cols)
    old = snapshot.join(last.select(*key_cols), key_cols, "left_semi")
    neg = old.select(
        F.col(group_col).alias("_g"),
        F.lit(-1).alias("_w"),
        (-F.col(value_col)).cast("decimal(18,4)").alias("_v"),
    )
    pos = last.where(F.col(OP_COL) != OP_DELETE).select(
        F.col(group_col).alias("_g"),
        F.lit(1).alias("_w"),
        F.col(value_col).cast("decimal(18,4)").alias("_v"),
    )
    delta = (
        neg.unionByName(pos)
        .groupBy("_g")
        .agg(F.sum("_w").alias("_dn"), F.sum("_v").alias("_dv"))
    )
    zero_dec = F.lit(0).cast("decimal(18,4)")
    return (
        base_agg.join(delta, base_agg[group_col] == delta["_g"], "full_outer")
        .select(
            F.coalesce(F.col(group_col), F.col("_g")).alias(group_col),
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("_dn", F.lit(0))).alias(
                "n_rows"
            ),
            (F.coalesce("total_dec", zero_dec) + F.coalesce("_dv", zero_dec)).alias(
                "total_dec"
            ),
        )
        .where(F.col("n_rows") > 0)
    )
