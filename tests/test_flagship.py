from __future__ import annotations

import os

from laposte_data_engineering_jedha_spark import queries as q
from laposte_data_engineering_jedha_spark.schemas import ENRICHED_COLUMNS


def test_flagship_shape_and_domains(spark, sf_dir):
    df = q.pipeline_delay_status(spark, sf_dir)
    assert df.columns == ENRICHED_COLUMNS
    rows = df.collect()
    orders_count = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert len(rows) == orders_count  # left joins never fan out or drop
    statuses = {r.Status for r in rows}
    assert statuses <= {"Delayed", "On-time"} and statuses
    assert {r.Package_Type for r in rows} <= {
        "Small",
        "Medium",
        "Large",
        "Extra Large",
        "Special",
    }
    # the dropped (k % 11) weather rows exercise the null path
    assert any(r.Weather_Condition is None for r in rows)
    assert all(0 <= r.Hour <= 23 for r in rows)


def test_entry_smoke(spark):
    import importlib.util

    entry = os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", entry)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() > 0
    assert set(mod.queries()) == set(mod.oracle_sql())
