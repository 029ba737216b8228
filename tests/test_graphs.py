"""operators/graphs.co_activity_triangles — cap semantics: exact when
caps are loose, monotone undercount when they bind (never phantom
triangles)."""

from __future__ import annotations

from laposte_data_engineering_jedha_spark.operators import graphs
from laposte_data_engineering_jedha_spark.queries import events_table
from laposte_data_engineering_jedha_spark.queries.events import events_user_triangles

def _row(df):
    r = df.collect()[0]
    return (r["n_edges"], r["n_nodes"], r["n_triangles"])


def test_uncapped_operator_matches_exact_registered_query(spark, sf_dir):
    ev = events_table(spark, sf_dir)
    got = _row(graphs.co_activity_triangles(ev, min_w=5))
    want = _row(events_user_triangles(spark, sf_dir))
    assert got == want


def test_loose_caps_are_exact_and_binding_caps_undercount(spark, sf_dir):
    ev = events_table(spark, sf_dir)
    exact = _row(graphs.co_activity_triangles(ev, min_w=2))
    loose = _row(
        graphs.co_activity_triangles(ev, min_w=2, bucket_cap=10**6, max_out_deg=10**6)
    )
    assert loose == exact
    e_edges, e_nodes, e_tri = exact
    assert e_tri > 0  # fixture sanity: the min_w=2 graph has triangles
    c_edges, c_nodes, c_tri = _row(
        graphs.co_activity_triangles(ev, min_w=2, bucket_cap=8, max_out_deg=3)
    )
    assert c_edges <= e_edges
    assert c_nodes <= e_nodes
    assert 0 < c_tri <= e_tri
