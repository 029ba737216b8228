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

from ..sources.writers import WRITER_MAP, parquet_dataset

ALL_FORMATS = ["csv", "json", "parquet", "sqlite", "xlsx"]
EXTENSIONS = {"csv": ".csv", "json": ".json", "parquet": ".parquet", "sqlite": ".db", "xlsx": ".xlsx"}

# Above this row count, "auto" single-file mode switches csv/json/parquet to
# parallel multi-part directories: a coalesce(1) write serializes the whole
# output through one task, which is exact-parity-correct but is the one thing
# that cannot scale. The reference contract (one file per format) is kept for
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
    """Resolve formats, fan out writers over one cached DataFrame, then
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
    # Staging policy (round-6 OOM fix + round-6 ADVICE double-pass fix):
    # the lineage executes EXACTLY ONCE — a multi-part parquet staging
    # write. Everything downstream (row count for the manifest and the
    # single-file auto decision, every requested sink) reads the staged
    # columnar copy. Why not cache+count (pre-round-6) or count-then-write
    # (round 6)? The in-memory cache unroll OOMs the JVM at 100M rows
    # (cache unroll competes with 32 concurrent writer tasks' buffers, 10x
    # e2e run), and a separate uncached count() action executes the whole
    # lineage a second time. The row count comes from the staged files'
    # parquet footers, and the driver-side sinks (sqlite, xlsx) stream
    # Arrow batches out of the same files (writers.parquet_dataset), so
    # neither starts a Spark job. When a multi-part parquet OUTPUT is
    # requested, the staged directory is MOVED into place instead of
    # re-written, and the later sinks read it there.
    #
    # ADVICE r7 hardening: the stage dir lives INSIDE out_path (dot-
    # prefixed), so the parquet->output promotion is always a same-
    # filesystem rename — tempfile.mkdtemp() defaulted to /tmp, where
    # shutil.move silently degrades to a full copy when /tmp and the
    # output are different filesystems. NullType columns (e.g. a
    # `lit(None)` projection that csv/json-only outputs tolerate) are
    # cast to string before the stage write — parquet cannot encode VOID,
    # and a string-typed all-NULL column round-trips to the identical
    # csv (empty cell) / json (omitted field) bytes.
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
    # a hard-killed prior run can leak its stage dir (the finally-rmtree
    # only covers in-process failures): sweep stale stages before creating
    # a new one so crashed runs don't accumulate garbage next to outputs
    for stale in glob.glob(os.path.join(out_path, ".laposte_stage_*")):
        shutil.rmtree(stale, ignore_errors=True)
    staged = tempfile.mkdtemp(prefix=".laposte_stage_", dir=out_path)
    try:
        stage_target = os.path.join(staged, "deliveries.parquet")
        WRITER_MAP["parquet"](stage_target, single_file=False).write(df)
        # the stage's schema is df's: reading with it skips the footer-merge
        # job that schema inference would run over the staged files
        staged_df = spark.read.schema(df.schema).parquet(stage_target)
        with parquet_dataset(staged_df) as dataset:
            n_rows = dataset.count_rows()
        single = output_conf.get("single_file", "auto")
        if single == "auto":
            single = n_rows <= SINGLE_FILE_MAX_ROWS
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
                continue
            WRITER_MAP[f](target, single_file=single).write(staged_df)
        manifest = generate_manifest(staged_df, output_conf, n_rows=n_rows)
        manifest_path = os.path.join(out_path, "results_manifest.json")
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=2, default=str)
        return manifest
    finally:
        shutil.rmtree(staged, ignore_errors=True)
