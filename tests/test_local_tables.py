"""session.local_table — driver-side rows enter Spark as a JVM
LocalRelation, never as a LogicalRDD over a PythonRDD (whose every scan
forks Spark's Python daemon and a worker per partition). Covers the
primitive, the ETL's transform plan, the registry queries that build a
driver-side table, and a source guard against the Python-RDD path."""

from __future__ import annotations

import ast
import datetime
import os

import pytest
from pyspark.sql import types as T

from laposte_data_engineering_jedha_spark import queries as q
from laposte_data_engineering_jedha_spark.session import local_table

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "laposte_data_engineering_jedha_spark",
)

#: registry queries whose returned plan scans a driver-side table at
#: sf0.001 (ivf_index_write's centroid table is written, not returned)
DRIVER_TABLE_QUERIES = [
    "corpus_dedup_cluster_size_histogram",
    "corpus_ngram_coverage",
    "corpus_packing_efficiency_curve",
    "corpus_vocab_first_seen",
    "dedup_clusters",
    "dedup_semantic",
    "dedup_semantic_auto",
    "dedup_survivors",
    "embedding_dbscan_lite",
    "dq_merkle_row_pulls",
    "events_nullsafe_match",
    "events_user_triangles",
    "events_user_triangles_capped",
    "graph_kcore_peel",
    "graph_label_prop_communities",
    "src_weather_flatten",
]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(plan) -> list:
    """Every node of a JVM logical plan, subquery plans included."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def _python_rdd_scans(nodes) -> list[str]:
    return [
        n.toString()
        for n in nodes
        if n.getClass().getSimpleName() == "LogicalRDD"
        and "PythonRDD" in n.rdd().toDebugString()
    ]


def _names(nodes) -> set[str]:
    return {n.getClass().getSimpleName() for n in nodes}


def test_local_table_is_local_relation_with_requested_schema(spark):
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("d", T.DateType()),
            T.StructField("s", T.StringType()),
        ]
    )
    rows = [
        (1, None, [1.0, 2.5], datetime.date(2025, 1, 2), "a"),
        (None, 2**40, None, None, None),
        (-3, -1, [], datetime.date(1999, 12, 31), ""),
    ]
    df = local_table(spark, rows, schema)
    assert df.schema == schema
    assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == (
        "LocalRelation"
    )
    assert [tuple(r) for r in df.collect()] == rows


def test_local_table_zero_rows_and_ddl_schema(spark):
    df = local_table(spark, [], "event_type string, day date, n long")
    assert df.schema == T.StructType.fromDDL("event_type string, day date, n long")
    assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == (
        "LocalRelation"
    )
    assert df.collect() == []


def test_etl_transform_plan_scans_no_python_rdd(spark, tmp_path):
    from laposte_data_engineering_jedha_spark.plans.pipeline import Pipeline
    from laposte_data_engineering_jedha_spark.sources.weather import FakeWeatherClient

    config = {
        "source": {"type": "generate", "rows": 50, "seed": 5},
        "output": {"path": str(tmp_path / "out"), "format": "parquet"},
    }
    pipe = Pipeline(config, spark, weather_client=FakeWeatherClient(), progress=None)
    out = pipe.transform(pipe.extract())
    nodes = _plan_nodes(out._jdf.queryExecution().optimizedPlan())
    assert "LocalRelation" in _names(nodes)  # the weather table is in the plan
    assert _python_rdd_scans(nodes) == []


@pytest.mark.parametrize("name", DRIVER_TABLE_QUERIES)
def test_driver_table_queries_scan_no_python_rdd(name, spark, sf_dir):
    from laposte_data_engineering_jedha_spark.operators import caches

    df = q.queries()[name](spark, sf_dir)
    try:
        # the analyzed plan: where the query persists the driver-side table,
        # the optimized plan shows only the InMemoryRelation that replaces it
        nodes = _plan_nodes(df._jdf.queryExecution().analyzed())
        assert "LocalRelation" in _names(nodes)
        assert _python_rdd_scans(nodes) == []
    finally:
        caches.release_all()


#: the only places allowed to call createDataFrame: the primitive, and the
#: two pandas readers (a non-empty pandas frame already takes the Arrow path)
_CREATE_DATAFRAME_ALLOWED = {
    ("session.py", "local_table"),
    ("sources/readers.py", "SqliteReader.read"),
    ("sources/readers.py", "XlsxReader.read"),
}


def _python_rdd_calls(path: str, rel: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    found: list[str] = []

    def visit(node, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, f"{scope}.{child.name}" if scope else child.name)
                continue
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                attr = child.func.attr
                if attr == "parallelize" or (
                    attr == "createDataFrame"
                    and (rel, scope) not in _CREATE_DATAFRAME_ALLOWED
                ):
                    found.append(f"{rel}:{child.lineno} {scope or '<module>'} {attr}")
            visit(child, scope)

    visit(tree, "")
    return found


def test_no_python_rdd_construction_in_package():
    found = []
    for root, _, files in os.walk(PACKAGE):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                found += _python_rdd_calls(path, os.path.relpath(path, PACKAGE))
    assert found == [], "build driver-side rows with session.local_table:\n" + "\n".join(
        found
    )
