"""End-to-end pipeline tests — the reference's integration pattern
(tests/test_pipeline.py:7-64): file round-trip, output shape (N, 13),
manifest fields; plus multi-format fan-out and the CLI front-end."""

from __future__ import annotations

import datetime
import glob
import json
import os
import sqlite3
from collections import Counter
from pathlib import Path

import pytest

from laposte_data_engineering_jedha_spark.plans.load import formats_to_write
from laposte_data_engineering_jedha_spark.plans.pipeline import Pipeline
from laposte_data_engineering_jedha_spark.schemas import ENRICHED_COLUMNS
from laposte_data_engineering_jedha_spark.sources.weather import FakeWeatherClient


def test_e2e_csv_roundtrip(spark, tmp_path):
    src = tmp_path / "one.csv"
    src.write_text(
        "Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone\n"
        "SC1000,2025-09-05T10:00:00,2025-09-05T11:30:00,Large,10.0,Urban\n"
    )
    out = tmp_path / "out"
    config = {
        "source": {"type": "file", "path": str(src)},
        "output": {"path": str(out), "format": "csv"},
    }
    duration = Pipeline(config, spark, weather_client=FakeWeatherClient(fail=True)).run()
    assert duration > 0

    assert (out / "deliveries.csv").is_file()
    manifest = json.loads((out / "results_manifest.json").read_text())
    assert manifest["shape"] == {"rows": 1, "cols": 13}
    assert manifest["columns"] == ENRICHED_COLUMNS
    assert manifest["engine"] == "pyspark"

    header = (out / "deliveries.csv").read_text().splitlines()[0]
    assert header.split(",") == ENRICHED_COLUMNS


def test_e2e_multiformat_fanout(spark, tmp_path):
    out = tmp_path / "fan"
    config = {
        "source": {"type": "generate", "rows": 100, "seed": 5},
        "output": {"path": str(out), "format": "all"},
    }
    Pipeline(config, spark, weather_client=FakeWeatherClient()).run()
    for name in [
        "deliveries.csv",
        "deliveries.json",
        "deliveries.parquet",
        "deliveries.db",
        "deliveries.xlsx",
    ]:
        assert (out / name).is_file(), name
    with sqlite3.connect(out / "deliveries.db") as conn:
        n = conn.execute("SELECT count(*) FROM deliveries").fetchone()[0]
    assert n == 100
    back = spark.read.parquet(str(out / "deliveries.parquet"))
    assert back.count() == 100 and back.columns == ENRICHED_COLUMNS
    from laposte_data_engineering_jedha_spark.sources.xlsx_codec import read_xlsx_pandas

    sheet = read_xlsx_pandas(str(out / "deliveries.xlsx"))
    assert list(sheet.columns) == ENRICHED_COLUMNS
    rows = sheet.astype(object).where(sheet.notna(), None).itertuples(index=False)
    # sqlite and xlsx hold the parquet output's rows, compared as multisets
    # of canonical cells (both sinks write timestamps as ISO text)
    def canon(row):
        return tuple(v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v for v in row)

    expected = Counter(canon(r) for r in back.collect())
    assert Counter(canon(r) for r in rows) == expected
    with sqlite3.connect(out / "deliveries.db") as conn:
        assert Counter(canon(r) for r in conn.execute("SELECT * FROM deliveries")) == expected


def test_all_formats_start_no_python_worker(spark, tmp_path, monkeypatch):
    """The `all` fan-out writes every sink, sqlite and xlsx included,
    without a Python kernel (mapInPandas) on the executors."""

    def refuse(*args, **kwargs):
        raise AssertionError("mapInPandas called during the ETL run")

    monkeypatch.setattr(type(spark.range(0)), "mapInPandas", refuse)
    out = tmp_path / "no_python"
    config = {
        "source": {"type": "generate", "rows": 50, "seed": 6},
        "output": {"path": str(out), "format": "all"},
    }
    Pipeline(config, spark, weather_client=FakeWeatherClient()).run()
    manifest = json.loads((out / "results_manifest.json").read_text())
    assert manifest["shape"]["rows"] == 50


def test_load_tolerates_void_columns_and_stages_inside_out_path(spark, tmp_path):
    """ADVICE r7: the parquet staging write must not crash on a NullType
    column (csv/json-only outputs tolerated one pre-staging), and the
    stage dir must live inside out_path so the parquet promotion is a
    same-filesystem rename, never a silent cross-device copy."""
    import os

    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.plans.load import load_data

    df = spark.range(5).select(
        F.col("id").alias("k"), F.lit(None).alias("void_col")
    )
    out = tmp_path / "voidout"
    manifest = load_data(df, {"output": {"path": str(out), "format": "all_but_xlsx"}})
    assert manifest["shape"] == {"rows": 5, "cols": 2}
    # csv: NULL writes the empty cell, exactly as the void column would
    lines = (out / "deliveries.csv").read_text().splitlines()
    assert lines[0] == "k,void_col" and all(l.endswith(",") for l in lines[1:])
    # json: NDJSON omits null fields — same bytes as a void column
    assert '"void_col"' not in (out / "deliveries.json").read_text()
    back = spark.read.parquet(str(out / "deliveries.parquet"))
    assert back.count() == 5 and [f.name for f in back.schema.fields] == ["k", "void_col"]
    # no stage residue left behind
    assert not [p for p in os.listdir(out) if p.startswith(".laposte_stage_")]


def test_formats_resolution():
    expected_all = ["csv", "json", "parquet", "sqlite", "xlsx"]
    assert formats_to_write("all") == expected_all
    assert formats_to_write("all_but_xlsx") == ["csv", "json", "parquet", "sqlite"]
    assert formats_to_write("parquet") == ["parquet"]
    with pytest.raises(ValueError):
        formats_to_write("carrier-pigeon")


def test_cli_builds_config_and_runs(spark, tmp_path, monkeypatch):
    from laposte_data_engineering_jedha_spark.plans import cli

    monkeypatch.setattr(cli, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(
        "laposte_data_engineering_jedha_spark.plans.pipeline.WeatherAPIClient",
        lambda key: FakeWeatherClient(fail=True),
    )
    out = tmp_path / "cli_out"
    cli.main(
        [
            "--generate-rows",
            "25",
            "--output-path",
            str(out),
            "--output-format",
            "json",
        ]
    )
    assert (out / "deliveries.json").is_file()
    lines = (out / "deliveries.json").read_text().strip().splitlines()
    assert len(lines) == 25  # NDJSON contract (writers.py docstring)


def test_cli_mutually_exclusive_sources():
    from laposte_data_engineering_jedha_spark.plans import cli

    with pytest.raises(SystemExit):
        cli.build_config(
            cli.argparse.Namespace(
                generate_rows=10, source_file="x.csv", output_path="o", output_format="csv", seed=1
            )
        )


def test_pipeline_progress_callback(spark, tmp_path):
    """Per-stage progress hook (reference pipeline.py:21-63 rich bars):
    start/done events fire in stage order and stage timings are recorded."""
    from laposte_data_engineering_jedha_spark.plans.pipeline import STAGES, Pipeline

    events = []
    out = tmp_path / "prog"
    config = {
        "source": {"type": "generate", "rows": 20, "seed": 2},
        "output": {"path": str(out), "format": "parquet"},
    }
    p = Pipeline(
        config,
        spark,
        weather_client=FakeWeatherClient(),
        progress=lambda stage, state, s: events.append((stage, state)),
    )
    p.run()
    # start/done transitions in stage order; in-flight "progress" ticks
    # (the StatusTracker poller) may interleave anywhere between them
    transitions = [e for e in events if e[1] in ("start", "done")]
    assert transitions == [(s, st) for s in STAGES for st in ("start", "done")]
    assert all(st in ("start", "done", "progress") for _, st in events)
    assert set(p.stage_seconds) == set(STAGES)
    assert all(v >= 0 for v in p.stage_seconds.values())


def test_task_progress_ticks_during_load(spark, tmp_path):
    """The StatusTracker poller must surface in-flight task fractions for
    the load stage (the reference's per-chunk progress-bar twin): at
    least one "progress" tick in [0, 1], nondecreasing, between load's
    start and done transitions."""
    events: list[tuple[str, str, float]] = []

    def record(stage, state, value):
        events.append((stage, state, value))

    out = tmp_path / "prog"
    config = {
        "source": {"type": "generate", "rows": 2_000_000, "seed": 9},
        "output": {"path": str(out), "format": "parquet"},
    }
    Pipeline(config, spark, weather_client=FakeWeatherClient(), progress=record).run()
    # start/done per stage still fire in order
    transitions = [(s, st) for s, st, _ in events if st in ("start", "done")]
    assert transitions[0] == ("extract", "start")
    assert transitions[-1] == ("load", "done")
    ticks = [v for s, st, v in events if s == "load" and st == "progress"]
    assert ticks, "no in-flight task progress observed during load"
    # fractions are per-snapshot (done/total across the group's jobs so
    # far); a new job joining the group grows the denominator, so the
    # series need not be monotone — but every sample is a valid fraction
    assert all(0.0 <= t <= 1.0 for t in ticks)


def test_fanout_stages_through_parquet_above_threshold(spark, tmp_path, monkeypatch):
    """Above SINGLE_FILE_MAX_ROWS the multi-format fan-out must NOT cache
    the frame (the 100M-row OOM found in the round-6 scale run): it
    writes the parquet sink first and re-reads it for the other sinks.
    Exercised cheaply by lowering the threshold: all four all_but_xlsx
    outputs exist, parquet is a multi-part directory, and every output
    reads back through `read_file` with the full row count."""
    from laposte_data_engineering_jedha_spark.plans import load as load_mod
    from laposte_data_engineering_jedha_spark.sources.readers import read_file

    monkeypatch.setattr(load_mod, "SINGLE_FILE_MAX_ROWS", 1000)
    out = tmp_path / "staged"
    config = {
        "source": {"type": "generate", "rows": 5000, "seed": 11},
        "output": {"path": str(out), "format": "all_but_xlsx"},
    }
    Pipeline(config, spark, weather_client=FakeWeatherClient()).run()
    assert (out / "deliveries.parquet").is_dir()  # multi-part staging target
    assert (out / "deliveries.csv").is_dir()
    assert (out / "deliveries.json").is_dir()
    for name in ["deliveries.csv", "deliveries.json", "deliveries.parquet", "deliveries.db"]:
        back = read_file(spark, str(out / name))
        assert sorted(back.columns) == sorted(ENRICHED_COLUMNS), name
        assert back.count() == 5000, name
    manifest = json.loads((out / "results_manifest.json").read_text())
    assert manifest["shape"]["rows"] == 5000


def test_staged_reads_carry_the_loaded_frames_schema(spark, tmp_path, monkeypatch):
    """load_data reads its staged parquet, and the moved multi-part parquet
    output, with the loaded frame's own schema (no inference job): every
    sink gets the frame's column names and types, in order."""
    from laposte_data_engineering_jedha_spark.plans import load as load_mod

    seen = {}

    def capturing(fmt):
        real = load_mod.WRITER_MAP[fmt]

        class Capture(real):
            def write(self, df, files=None):
                seen[fmt] = df, files
                super().write(df, files)

        return Capture

    for fmt in ("csv", "sqlite"):  # before and after the parquet move
        monkeypatch.setitem(load_mod.WRITER_MAP, fmt, capturing(fmt))
    monkeypatch.setattr(load_mod, "SINGLE_FILE_MAX_ROWS", 10)  # multi-part parquet
    config = {
        "source": {"type": "generate", "rows": 50, "seed": 7},
        "output": {"path": str(tmp_path / "out"), "format": "all_but_xlsx"},
    }
    pipe = Pipeline(config, spark, weather_client=FakeWeatherClient(), progress=None)
    df = pipe.transform(pipe.extract())
    load_mod.load_data(df, config)
    want = [(f.name, f.dataType) for f in df.schema.fields]
    assert set(seen) == {"csv", "sqlite"}
    for fmt, (staged, _) in seen.items():
        assert [(f.name, f.dataType) for f in staged.schema.fields] == want, fmt
    # the sinks get the part files their frame reads: the stage's before
    # the move, the parquet output's after it
    stage_files, moved_files = seen["csv"][1], seen["sqlite"][1]
    assert all(os.sep + ".laposte_stage_" in f for f in stage_files)
    parquet_out = str(tmp_path / "out" / "deliveries.parquet")
    assert moved_files == sorted(glob.glob(os.path.join(parquet_out, "part-*")))
    assert seen["sqlite"][0].inputFiles()[0].startswith(Path(parquet_out).as_uri())


def test_load_data_writes_orc(spark, tmp_path):
    """`output.format: orc` writes `deliveries.orc`, and read_file reads it
    back with every row."""
    from laposte_data_engineering_jedha_spark.plans.load import load_data
    from laposte_data_engineering_jedha_spark.sources.readers import read_file

    df = spark.createDataFrame([(i, f"d{i}") for i in range(3)], "id long, name string")
    out = tmp_path / "out"
    load_data(df, {"output": {"path": str(out), "format": "orc"}})
    assert (out / "deliveries.orc").exists()
    assert read_file(spark, str(out / "deliveries.orc")).count() == 3


def test_every_writer_format_has_a_readable_extension():
    """Each WRITER_MAP format has an output extension that READER_MAP
    reads, so load_data can name and read back every format it accepts."""
    from laposte_data_engineering_jedha_spark.plans.load import EXTENSIONS
    from laposte_data_engineering_jedha_spark.sources.readers import READER_MAP
    from laposte_data_engineering_jedha_spark.sources.writers import WRITER_MAP

    for fmt in WRITER_MAP:
        assert EXTENSIONS.get(fmt) in READER_MAP, fmt


def test_second_run_replaces_the_first_runs_outputs(spark, tmp_path, monkeypatch):
    """A second Pipeline run into the same dir replaces the first run's
    outputs: a single-file write over an earlier multi-part directory
    does not land inside it, and sqlite does not append to the earlier
    table. Every output reads back with the manifest's row count."""
    from laposte_data_engineering_jedha_spark.plans import load as load_mod
    from laposte_data_engineering_jedha_spark.sources.readers import read_file

    out = tmp_path / "out"
    config = {
        "source": {"type": "generate", "rows": 50, "seed": 3},
        "output": {"path": str(out), "format": "all_but_xlsx"},
    }
    with monkeypatch.context() as m:
        m.setattr(load_mod, "SINGLE_FILE_MAX_ROWS", 10)  # multi-part dirs
        Pipeline(config, spark, weather_client=FakeWeatherClient()).run()
    assert (out / "deliveries.csv").is_dir()
    Pipeline(config, spark, weather_client=FakeWeatherClient()).run()
    assert (out / "deliveries.csv").is_file()
    manifest = json.loads((out / "results_manifest.json").read_text())
    assert manifest["shape"]["rows"] == 50
    for name in ["deliveries.csv", "deliveries.json", "deliveries.parquet", "deliveries.db"]:
        assert read_file(spark, str(out / name)).count() == 50, name
