"""Round-10 session batch 1 — the Merkle ladder graduates to a row-level
reconcile API (r9 verdict item 5):

- dq_merkle_row_pulls: the INCREMENTAL-RECONCILE surface over the
  general operator (operators/reconcile.py) — two event-table snapshots
  diverging by one update + one delete + one insert, answered as the
  exact row-pull list a repair job would execute. The ORACLE computes
  the same answer by brute force (full outer join on the key, compare
  every column): the Merkle path must agree with the ground-truth diff
  bit-for-bit, which is precisely the operator's contract. The
  registered dq_merkle_bucket_diff row (round9g.py) keeps its original
  fixed shape as independent digest-level evidence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import reconcile
from ..session import local_table
from . import events_table, query

_RP_UPD_ID = 17  # value bumped one cent in the replica
_RP_DEL_ID = 23  # missing from the replica
_RP_INS_ID = -1  # synthetic row present only in the replica

_ROW_PULLS_SQL = f"""
WITH a AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
b AS (
  SELECT event_id, ts_us, user_id, event_type,
         CASE WHEN event_id = {_RP_UPD_ID} THEN cents + 1 ELSE cents END AS cents
  FROM a WHERE event_id <> {_RP_DEL_ID}
  UNION ALL
  SELECT CAST({_RP_INS_ID} AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         'synthetic', CAST(0 AS BIGINT))
SELECT COALESCE(a.event_id, b.event_id) AS event_id,
       CASE WHEN b.event_id IS NULL THEN 'missing_in_right'
            WHEN a.event_id IS NULL THEN 'missing_in_left'
            ELSE 'changed' END AS change
FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
WHERE a.event_id IS NULL OR b.event_id IS NULL
   OR a.ts_us <> b.ts_us OR a.user_id <> b.user_id
   OR a.event_type <> b.event_type OR a.cents <> b.cents
"""


@query("dq_merkle_row_pulls", _ROW_PULLS_SQL)
def dq_merkle_row_pulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level anti-entropy repair list between two replicas of the
    events table (one updated cent, one deleted row, one inserted row),
    computed via the Merkle ladder: coarse digests -> dirty fine
    buckets -> key-join ONLY inside the divergent slice
    (operators/reconcile.merkle_reconcile). The oracle brute-forces the
    same diff with a full outer join over every column — at 100 TB the
    oracle's plan ships both tables through a key shuffle while the
    operator ships a few KB of digests plus the dirty buckets, which is
    the point of the ladder; at oracle scale both are exact and must
    agree bit-for-bit."""
    # NOT spread (guide §2.5 measured twice and reverted twice, r13): the
    # digest-build win never outweighs the extra exchange here — even
    # after the cached-plan AQE conf coalesced the downstream ladder
    # stages, the spread measured 5.5 s vs 3.5 s without (isolated A/B in
    # OPTIMIZATION_r13.md).
    ev = events_table(spark, sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ins = local_table(
        spark,
        [(_RP_INS_ID, 0, 0, "synthetic", 0)],
        "event_id long, ts_us long, user_id long, event_type string, cents long",
    )
    rep = (
        ev.where(F.col("event_id") != _RP_DEL_ID)
        .withColumn(
            "cents",
            F.when(
                F.col("event_id") == _RP_UPD_ID, F.col("cents") + 1
            ).otherwise(F.col("cents")),
        )
        .unionByName(ins)
    )
    return reconcile.merkle_reconcile(ev, rep, ["event_id"])
