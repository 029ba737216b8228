"""Round-14 optimization tests.

Spread-branch hardening (VERDICT r13 item 7): the scale-adaptive
spread_scan/spread_table sites carry per-site `min_bytes` floors that the
correctness SFs (0.001/0.01) sit UNDER, so the driver's oracle gate never
executes the repartitioned branch — its correctness rested on the
builder's sf0.1 opt_verify runs plus the order-free-algebra argument.
These tests force the spread branch at the smoke SF
(queries._SPREAD_MIN_BYTES_OVERRIDE = 0) for one representative per
spread family and hash-compare the spread output against the unspread
run — any site whose downstream algebra stopped being order-free exact
diverges here.

Recompute-branch hardening: every fixture estimate passes the size gate
(operators/caches.py), so the oracle gate only ever runs the PERSIST
branch. The same test forces the RECOMPUTE branch
(caches.GATE_MAX_EST_BYTES = -1) for one representative per module that
calls caches.persist_if_small / caches.is_small, and hash-compares it
against the default (persisted) run.

Offsets-branch hardening: every fixture grain sits under
ranking.WINDOW_MAX_ROWS, so the oracle gate only runs the WINDOW form of
the ranking operators. The same test forces the OFFSETS form
(ranking.WINDOW_MAX_ROWS = 0) for at least one registry caller per operator.

Every other size gate gets the same treatment, because a gate's
threshold is the only thing that picks its branch and the fixtures sit
on one side of each:
- graphs.DRIVER_MAX_EDGES = -1 forces the distributed loops of
  connected_components, co_activity_triangles, kcore_peel and
  graph_label_prop_communities (one registry caller each);
- events._TRI_EXACT_MAX_EVENTS = -1 forces events_user_triangles onto
  its capped plan;
- graph._LP_EXACT_MAX_EVENTS = -1 forces graph_label_prop_communities
  onto the _LP_CELL_CAP_BIG cap (non-binding at fixture occupancy);
- dedup.CARRY_MAX_OCCUPANCY = -1 forces embedding_dup_pairs_lsh onto its
  narrow-candidates plan (dedup_embedding_cosine estimates 33 vectors
  per bucket at sf0.001, so it carries vectors by default).

`_FORCE` is the list of every gate and the value that forces it. The one
size threshold missing from it is dedup._EMB_PINNED_MAX_N: its branch
changes the banding and so the result by design, and
tests/test_round13.py checks that branch against its DuckDB twin at
sf0.1 instead.
"""

from __future__ import annotations

import pytest

import laposte_data_engineering_jedha_spark.queries as q
from laposte_data_engineering_jedha_spark.operators import caches, dedup, graphs, ranking
from laposte_data_engineering_jedha_spark.queries import events, graph

from test_oracle_parity import canon_rows

# one representative per spread family (OPTIMIZATION_r13.md):
# - orders spread w/ key (olap_bootstrap_mean_ci)
# - lineitem spread w/ key (olap_pricing_summary)
# - documents spread w/ key + low floor (corpus_importance_sample)
# - bare spread_scan over a substituted-table path (text_perplexity_proxy)
# - all-tables loop spread (dq_table_checksums)
# - documents spread ahead of token counting (text_bigram_kn_probs) and
#   ahead of the PPJoin shingle kernel (dedup_prefix_filter_jaccard)
_SPREAD_REPS = [
    "olap_bootstrap_mean_ci",
    "olap_pricing_summary",
    "corpus_importance_sample",
    "text_perplexity_proxy",
    "dq_table_checksums",
    "text_bigram_kn_probs",
    "dedup_prefix_filter_jaccard",
]

# one representative per module with a size-gate site
_RECOMPUTE_REPS = [
    "corpus_bloom_contains",  # operators/corpus.py
    "dedup_prefix_filter_jaccard",  # operators/dedup.py
    "dq_merkle_row_pulls",  # operators/reconcile.py
    "ivf_index_search",  # operators/similarity.py
    "corpus_fixed_n_hash_sample",  # operators/ranking.py (_auto_pick)
    "corpus_clean_pipeline",  # queries/text.py
    "text_perplexity_proxy",  # queries/text.py
    "corpus_clean_pipeline_sem",  # queries/text.py
    "corpus_passage_scrub",  # queries/text.py
    "embedding_kmedoid_step",  # queries/similarity.py
    "olap_basket_affinity",  # queries/olap.py
    "corpus_cross_source_dupes",  # queries/text.py
    "eval_cluster_silhouette",  # queries/similarity.py
    "eval_ivf_recall_at_k",  # queries/similarity.py
    "corpus_importance_sample",  # queries/text.py
    "olap_market_basket_lift",  # queries/olap.py
]

# registry callers of each ranking operator
_OFFSETS_REPS = [
    "corpus_ngram_coverage",  # global_ranks, DESC key
    "corpus_vocab_first_seen",  # global_ranks, thresholds collected at build
    "olap_customer_quartiles",  # exact_ntile
    "events_peak_concurrency",  # global_prefix_sum, three keys
    "olap_pareto_frontier",  # global_prefix_max
]

# registry callers of each graph operator's driver fast path
_DISTRIBUTED_REPS = [
    "dedup_clusters",  # dedup.connected_components
    "events_user_triangles_capped",  # graphs.co_activity_triangles
    "graph_kcore_peel",  # graphs.kcore_peel
    "graph_label_prop_communities",  # its own label-propagation rounds
]

# forced branch -> (module, attribute, value) that forces it, and the
# representatives that run under it
_FORCE = {
    "spread": (q, "_SPREAD_MIN_BYTES_OVERRIDE", 0),
    "recompute": (caches, "GATE_MAX_EST_BYTES", -1),
    "offsets": (ranking, "WINDOW_MAX_ROWS", 0),
    "distributed": (graphs, "DRIVER_MAX_EDGES", -1),
    "capped": (events, "_TRI_EXACT_MAX_EVENTS", -1),
    "bigcap": (graph, "_LP_EXACT_MAX_EVENTS", -1),
    "narrow": (dedup, "CARRY_MAX_OCCUPANCY", -1),
}
_REPS = {
    "spread": _SPREAD_REPS,
    "recompute": _RECOMPUTE_REPS,
    "offsets": _OFFSETS_REPS,
    "distributed": _DISTRIBUTED_REPS,
    "capped": ["events_user_triangles"],
    "bigcap": ["graph_label_prop_communities"],
    "narrow": ["dedup_embedding_cosine"],
}


@pytest.mark.parametrize(
    "name, branch",
    [
        pytest.param(n, branch, id=n if branch == "spread" else f"{branch}-{n}")
        for branch, names in _REPS.items()
        for n in names
    ],
)
def test_forced_spread_branch_matches_unspread(
    name, branch, spark, sf_dir, monkeypatch
):
    fn = q.queries()[name]
    base = fn(spark, sf_dir).toPandas()
    caches.release_all()
    monkeypatch.setattr(*_FORCE[branch])
    forced = fn(spark, sf_dir).toPandas()
    caches.release_all()
    assert sorted(base.columns) == sorted(forced.columns)
    assert canon_rows(base) == canon_rows(forced)


def test_spread_override_fires_at_smoke_sf(spark, sf_dir, monkeypatch):
    """The forced branch really is the REPARTITIONED plan at the smoke SF
    (guard against the override silently not reaching the gate)."""
    monkeypatch.setattr(q, "_SPREAD_MIN_BYTES_OVERRIDE", 0)
    df = q.spread_table(spark, sf_dir, "lineitem", key="l_orderkey")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan or "Repartition" in plan
