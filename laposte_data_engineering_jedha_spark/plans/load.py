"""Load stage — format fan-out + run manifest (reference core/load.py).

The reference re-consumes an eagerly materialized frame per sink for free;
Spark would recompute the lineage per format, so `load_data` runs the
lineage once into a staged parquet copy that every sink reads (SURVEY.md
§4.1).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import tempfile

import pyspark
from pyspark.sql import DataFrame

from ..sources.writers import WRITER_MAP, parquet_dataset, part_files

ALL_FORMATS = ["csv", "json", "parquet", "sqlite", "xlsx"]
EXTENSIONS = {
    "csv": ".csv",
    "json": ".json",
    "parquet": ".parquet",
    "orc": ".orc",
    "sqlite": ".db",
    "xlsx": ".xlsx",
}

# Above this row count, csv/json/parquet are written as parallel multi-part
# directories: a coalesce(1) write serializes the whole output through one
# task, which is exact-parity-correct but is the one thing that cannot
# scale. The reference contract (one file per format) is kept for
# human-scale outputs; big runs get `deliveries.csv/` part directories.
SINGLE_FILE_MAX_ROWS = 1_000_000


def formats_to_write(fmt: str) -> list[str]:
    """'all' -> five writers, 'all_but_xlsx' -> four, else the single
    format (reference core/load.py:79-94). xlsx writes through the
    pure-stdlib codec (sources/xlsx_codec.py), so 'all' is always the
    full five formats."""
    if fmt == "all":
        return list(ALL_FORMATS)
    if fmt == "all_but_xlsx":
        return [f for f in ALL_FORMATS if f != "xlsx"]
    if fmt in WRITER_MAP:
        return [fmt]
    raise ValueError(f"Unknown output format: {fmt}")


def generate_manifest(df: DataFrame, output_conf: dict, n_rows: int | None = None) -> dict:
    """Run manifest (reference core/load.py:96-119): engine version, UTC
    timestamp, output config, shape, column names."""
    return {
        "engine": "pyspark",
        "pyspark_version": pyspark.__version__,
        "generated_at_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "output": dict(output_conf),
        "shape": {
            "rows": n_rows if n_rows is not None else df.count(),
            "cols": len(df.columns),
        },
        "columns": list(df.columns),
    }


def load_data(df: DataFrame, config: dict) -> dict:
    """Resolve formats, fan out writers over one staged copy, then
    write the manifest (reference core/load.py:33-77). 'preview' prints
    df.show(5) instead of writing (load.py:50-52). Returns the manifest."""
    output_conf = config.get("output", {})
    out_path = output_conf.get("path", "output")
    fmt = output_conf.get("format", "preview")

    if fmt == "preview":
        df.show(5)
        return generate_manifest(df, output_conf)

    formats = formats_to_write(fmt)
    os.makedirs(out_path, exist_ok=True)
    # Staging policy: the lineage executes EXACTLY ONCE, as a multi-part
    # parquet stage write. Everything downstream reads the staged files:
    # the row count (manifest, single-file switch) comes from their
    # parquet footers, the Spark-format sinks read them as one frame, and
    # the driver sinks (sqlite, xlsx) stream Arrow batches out of the part
    # files handed to them, so neither count nor driver sinks start a
    # Spark job. Caching the frame instead OOMs the JVM at 100M rows (the
    # cache unroll competes with the writer tasks' buffers), and a
    # count() before the write runs the lineage twice. When a multi-part
    # parquet OUTPUT is requested, the stage is MOVED into place instead
    # of re-written, and the later sinks read it there.
    #
    # The stage dir lives INSIDE out_path (dot-prefixed), like the
    # writers' own temp dirs, so every move into place is a same-
    # filesystem rename, never a silent cross-filesystem copy. NullType
    # columns (e.g. a `lit(None)` projection that csv/json-only outputs
    # tolerate) are cast to string before the stage write — parquet
    # cannot encode VOID, and a string-typed all-NULL column round-trips
    # to the identical csv (empty cell) / json (omitted field) bytes.
    spark = df.sparkSession
    void_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "void"]
    if void_cols:
        from pyspark.sql import functions as F

        df = df.select(
            *[
                F.col(c).cast("string").alias(c) if c in void_cols else F.col(c)
                for c in df.columns
            ]
        )
    # a hard-killed prior run can leak its stage dir and the writers' temp
    # dirs (the finally-rmtrees only cover in-process failures): sweep them
    # before creating a new stage so crashed runs don't accumulate garbage
    # next to outputs
    for stale in glob.glob(os.path.join(out_path, ".laposte_*")):
        shutil.rmtree(stale, ignore_errors=True)
    staged = tempfile.mkdtemp(prefix=".laposte_stage_", dir=out_path)
    try:
        stage_target = os.path.join(staged, "deliveries.parquet")
        WRITER_MAP["parquet"](stage_target, single_file=False).write(df)
        files = part_files(stage_target)
        n_rows = parquet_dataset(files).count_rows()
        single = n_rows <= SINGLE_FILE_MAX_ROWS
        # the stage's schema is df's: reading with it skips the footer-merge
        # job that schema inference would run over the staged files
        staged_df = spark.read.schema(df.schema).parquet(stage_target)
        for f in formats:
            target = os.path.join(out_path, f"deliveries{EXTENSIONS[f]}")
            if f == "parquet" and not single:
                # requested output == the staged layout: move, don't rewrite
                if os.path.isdir(target):
                    shutil.rmtree(target)
                elif os.path.exists(target):
                    os.remove(target)
                shutil.move(stage_target, target)
                staged_df = spark.read.schema(df.schema).parquet(target)
                files = part_files(target)
                continue
            WRITER_MAP[f](target, single_file=single).write(staged_df, files)
        manifest = generate_manifest(staged_df, output_conf, n_rows=n_rows)
        manifest_path = os.path.join(out_path, "results_manifest.json")
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=2, default=str)
        return manifest
    finally:
        shutil.rmtree(staged, ignore_errors=True)
