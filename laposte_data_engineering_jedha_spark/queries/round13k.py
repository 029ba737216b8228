"""Round-13 session batch 12 — k-core decomposition by bounded peeling:

- graph_kcore_peel: three peel rounds of the {3}-core over the
  customer-supplier trade graph (edge = customer bought from supplier,
  via orders x lineitem; supplier node ids offset into their own
  namespace). Each round drops every node with degree < 3 and the
  edges touching one — the classic "dense trading core" extraction
  (fraud rings, key-account clusters, community seeds). Edges keep only
  BULK purchases (quantity >= 48) so the peel binds on the fixture: the
  first round prunes thin customers, the flat later rounds CERTIFY the
  fixpoint — the audit trail that proves "this is the 3-core", which a
  single-round report cannot. The registered
  form runs a FIXED 3 rounds so the oracle is expressible as unrolled
  CTE stages (degree -> keep -> semi-join, three times); the operator
  (operators/graphs.kcore_peel) also runs to fixpoint with a
  per-round localCheckpoint and one bounded scalar read per round —
  the same driver-loop contract as connected components. All counts
  integer; per-round (n_nodes, n_edges) is the audit trail a peeling
  job logs.

Reference parity note: the reference has no graph surface; extension
layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graphs
from ..session import local_table
from . import query, table

_KC_K = 3
_KC_ROUNDS = 3
_KC_OFF = 1_000_000_000  # supplier node-id namespace offset
_KC_QMIN = 48  # bulk-purchase edge filter: thins the graph so the peel binds


def _kcore_oracle_sql() -> str:
    stages = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u, l_suppkey + {_KC_OFF} AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_quantity >= {_KC_QMIN})"""
    ]
    selects = []
    for r in range(1, _KC_ROUNDS + 1):
        p = f"e{r - 1}"
        stages.append(f"""d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM {p} UNION ALL SELECT v AS node FROM {p})
  GROUP BY node),
k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KC_K}),
e{r} AS MATERIALIZED (
  SELECT u, v FROM {p}
  WHERE u IN (SELECT node FROM k{r}) AND v IN (SELECT node FROM k{r}))""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round, "
            f"CAST((SELECT count(*) FROM (SELECT u AS n FROM e{r} "
            f"UNION SELECT v FROM e{r})) AS BIGINT) AS n_nodes, "
            f"CAST((SELECT count(*) FROM e{r}) AS BIGINT) AS n_edges"
        )
    return (
        "WITH " + ",\n".join(stages) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY round"
    )


@query("graph_kcore_peel", _kcore_oracle_sql())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KC_ROUNDS} peel rounds toward the {_KC_K}-core of the
    customer-supplier trade graph, reporting (n_nodes, n_edges) after
    each round. Scale shape: the edge list is one distinct over the
    orders-lineitem equi-join (both big sides hash-partitioned on
    orderkey); each round is a degree aggregate + two LEFT SEMI joins
    keyed on node — no shuffles beyond the key hashes, edges
    localCheckpoint per round so the plan stays linear in rounds. The
    oracle unrolls the identical three rounds as CTE stages."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= _KC_QMIN)
        .select("l_orderkey", "l_suppkey")
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + _KC_OFF).alias("v"),
        )
        .distinct()
    )
    stats = graphs.kcore_peel(edges, k=_KC_K, rounds=_KC_ROUNDS)
    # 3-row audit emission, sorted on the driver: a local relation's scan
    # slices its rows into partitions in order, so collect keeps the sort,
    # where a global orderBy would run a range-sampling job over 3 rows
    return local_table(spark, sorted(stats), "round long, n_nodes long, n_edges long")
