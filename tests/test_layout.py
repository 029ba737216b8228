"""Physical-layout operators: bucketed joins must plan with zero Exchange,
range-clustered writes must produce disjoint per-file statistics, and
compaction must hit the requested file count — the storage-side shuffle
and scan guarantees that hold at any scale because they are properties of
the plan/footers, not of the data volume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import layout


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    layout.write_bucketed(
        orders, "orders_b", ["o_orderkey"], 8, str(base / "orders_b")
    )
    layout.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
        8,
        str(base / "lineitem_b"),
        sort_cols=["o_orderkey"],
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    """With broadcast out of the picture (at real scale neither side fits),
    the same-spec bucket layout must carry the join: SortMergeJoin directly
    over the two bucketed scans, zero Exchange of any kind."""
    left, right = bucketed_pair
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = layout.bucketed_equi_join(spark, left, right, ["o_orderkey"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_pair):
    left, right = bucketed_pair
    got = layout.bucketed_equi_join(spark, left, right, ["o_orderkey"]).count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).count()
    assert got == want


def test_bucketed_agg_has_no_exchange(spark, bucketed_pair):
    """The bucket layout also serves aggregation on the key: one-phase
    HashAggregate, no shuffle."""
    left, _ = bucketed_pair
    df = spark.table(left).groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_range_clustered_files_are_disjoint(spark, sf_dir, tmp_path):
    out = str(tmp_path / "clustered")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    layout.write_range_clustered(orders, out, ["o_custkey"], n_files=8)
    ranges = layout.parquet_file_ranges(out, "o_custkey")
    assert len(ranges) >= 2
    spans = sorted((lo, hi) for _, lo, hi in ranges)
    for (_, prev_hi), (next_lo, _) in zip(spans, spans[1:]):
        assert next_lo >= prev_hi  # disjoint up to the single boundary value
    # and the rewrite lost nothing
    assert spark.read.parquet(out).count() == orders.count()


def test_compaction_hits_file_count(spark, sf_dir, tmp_path):
    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(64).write.parquet(src)  # the small-files mess
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    layout.compact_to_files(spark.read.parquet(src), out, n_files=4)
    assert len(glob.glob(f"{out}/*.parquet")) == 4
    assert spark.read.parquet(out).count() == orders.count()


def test_zorder_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order files must be local in BOTH clustered columns: the summed
    per-file span of each dimension stays well under files x global-span,
    while 1-D range clustering on the first column leaves the second
    spanning ~the full range in every file."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    layout.write_zorder_clustered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=16)
    layout.write_range_clustered(orders, rpath, ["o_custkey"], n_files=16)
    assert spark.read.parquet(zpath).count() == orders.count()

    def span_ratio(path, column):
        ranges = layout.parquet_file_ranges(path, column)
        glo = min(lo for _, lo, _ in ranges)
        ghi = max(hi for _, _, hi in ranges)
        total = sum(hi - lo for _, lo, hi in ranges)
        return total / (len(ranges) * (ghi - glo))

    # Z-order: both dimensions localized (each file covers a small cell).
    assert span_ratio(zpath, "o_custkey") < 0.55
    assert span_ratio(zpath, "o_totalprice") < 0.55
    # 1-D clustering: first dim tight, second dim ~full-range per file.
    assert span_ratio(rpath, "o_custkey") < 0.2
    assert span_ratio(rpath, "o_totalprice") > 0.8


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime-filter data skipping: with a selective dim-side predicate
    and a shuffle join, Spark injects a bloom_filter_agg on the dim side
    and a might_contain probe into the FACT side's scan filter — at
    100 TB this is what turns a selective dim join into a fact-scan
    prune instead of a full shuffle of non-matching rows. (Thresholds
    are production-scale by default; the application-side floor is
    lowered here so the fixture-sized fact qualifies.)"""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt and "might_contain" in opt
        # and the result is unaffected by the injected filter
        row = j.collect()
        assert len(row) == 1 and row[0]["count"] > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_importing_queries_creates_no_files(tmp_path):
    """Importing the query registry touches no files: a fresh interpreter
    with a private TMPDIR leaves it empty."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", "import laposte_data_engineering_jedha_spark.queries"],
        cwd=root,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        check=True,
    )
    assert os.listdir(tmp_path) == []
