"""File writers — the reference's five sinks (sources/writers.py:24-70).

csv, json, parquet and orc share one body, `SparkWriter.write`: a
distributed `df.write` in the class's format and options. The reference's
one-file-per-format contract (writers.py:27,34,41) is the single-file
mode: a one-partition write whose part file is then moved to the exact
target path. With `single_file=False` the target is a parallel multi-part
directory with the same semantics.

SQLite and XLSX are single-file sinks that the driver writes, as the
reference does from its in-memory frame (writers.py:45-70). Both stream
Arrow record batches of `BATCH` rows out of parquet files that hold the
frame's rows in partition order: the files the caller passes
(`plans.load.load_data` passes its staged copy), else one parquet write
of the frame. Driver memory stays bounded at one batch, and no Python
worker starts. The cluster path for relational sinks is
`df.write.format('jdbc').mode('append')` with per-partition batching.

Every temporary dir is dot-prefixed (`.laposte_write_*`) and sits next to
its target, so the final move is a same-filesystem rename; `load_data`
sweeps the ones a killed run leaves behind.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sqlite3
import tempfile
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame

BATCH = 50_000
"""Rows per Arrow record batch in the driver-side sinks: the bound on
the rows they hold in memory at once."""


def part_files(path: str) -> list[str]:
    """The part files of a Spark output dir, sorted: the partition order
    of the write that produced them."""
    return sorted(glob.glob(os.path.join(path, "part-*")))


def parquet_dataset(files: list[str]):
    """A pyarrow dataset over parquet files Spark wrote."""
    import pyarrow.dataset as ds

    # Spark writes timestamps as INT96, which Arrow reads as nanoseconds
    # unless told otherwise; Spark's TimestampType holds microseconds
    return ds.dataset(files, format=ds.ParquetFileFormat(coerce_int96_timestamp_unit="us"))


@contextlib.contextmanager
def _scratch_beside(path: str) -> Iterator[str]:
    """Yield an output path inside a new `.laposte_write_*` dir next to
    `path`; the dir is removed on exit."""
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".laposte_write_", dir=parent)
    try:
        yield os.path.join(tmp, "out")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class BaseWriter:
    def __init__(self, path: str, single_file: bool = True):
        self.path = path
        self.single_file = single_file

    def write(self, df: DataFrame, files: list[str] | None = None) -> None:
        """Write `df` to `self.path`. `files`, when given, are parquet
        files holding `df`'s rows in partition order; the driver sinks
        stream from them instead of writing `df` out first."""
        raise NotImplementedError


class SparkWriter(BaseWriter):
    """A distributed `df.write` in `FORMAT` with `OPTIONS`."""

    FORMAT = ""
    OPTIONS: dict = {}

    def write(self, df: DataFrame, files: list[str] | None = None) -> None:
        if not self.single_file:
            self._save(df, self.path)
            return
        with _scratch_beside(self.path) as out_dir:
            self._save(df.coalesce(1), out_dir)
            [part] = part_files(out_dir)
            # an earlier multi-part write left a directory here; moving
            # onto it would put the part file inside it
            if os.path.isdir(self.path):
                shutil.rmtree(self.path)
            shutil.move(part, self.path)

    def _save(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").options(**self.OPTIONS).format(self.FORMAT).save(path)


class CsvWriter(SparkWriter):
    """CSV with header (reference sources/writers.py:24-29)."""

    FORMAT = "csv"
    OPTIONS = {"header": True}


class JsonWriter(SparkWriter):
    """Newline-delimited JSON "for memory efficiency" (reference
    sources/writers.py:31-36) — Spark's native JSON output IS NDJSON."""

    FORMAT = "json"


class ParquetWriter(SparkWriter):
    """Parquet (reference sources/writers.py:38-43)."""

    FORMAT = "parquet"


class OrcWriter(SparkWriter):
    """ORC (zlib default; columnar twin of ParquetWriter)."""

    FORMAT = "orc"


class DriverWriter(BaseWriter):
    """A single-file sink the driver writes from Arrow record batches of
    `BATCH` rows, read from `files` or, when none are given, from one
    parquet write of `df` next to the target."""

    def write(self, df: DataFrame, files: list[str] | None = None) -> None:
        with contextlib.ExitStack() as stack:
            if files is None:
                out_dir = stack.enter_context(_scratch_beside(self.path))
                df.write.parquet(out_dir)
                files = part_files(out_dir)
            batches = parquet_dataset(files).to_batches(columns=df.columns, batch_size=BATCH)
            self._write_batches(df.columns, batches)

    def _write_batches(self, columns: list[str], batches: Iterable) -> None:
        raise NotImplementedError


class SqliteWriter(DriverWriter):
    """Chunked insert into SQLite table `deliveries` of a fresh database
    file (reference sources/writers.py:45-59): an earlier file at the
    target is replaced, never appended to.

    The driver streams Arrow record batches into executemany inserts: the
    bounded-memory property of the reference's `iter_slices` loop, with
    column-wise value conversion. For `load_data`'s staged copy this skips
    a private parquet write: at 5,000 generated deliveries on 4 cores the
    write took 0.61 -> 0.13 s cold and 0.47 -> 0.14 s warm. SQLite itself
    is single-file/single-writer; the cluster path for relational sinks is
    `df.write.format('jdbc')` with per-partition batching."""

    TABLE = "deliveries"

    def _write_batches(self, columns: list[str], batches: Iterable) -> None:
        placeholders = ", ".join("?" for _ in columns)
        col_defs = ", ".join(f'"{c}"' for c in columns)
        if os.path.exists(self.path):
            os.remove(self.path)
        with sqlite3.connect(self.path) as conn:
            # bulk-load pragmas: this writer owns the file for the
            # duration; durability is re-established by the final commit
            conn.execute("PRAGMA journal_mode=OFF")
            conn.execute("PRAGMA synchronous=OFF")
            conn.execute(f"CREATE TABLE {self.TABLE} ({col_defs})")
            for batch in batches:
                values = [_sqlite_column(batch.column(c)) for c in columns]
                conn.executemany(
                    f"INSERT INTO {self.TABLE} ({col_defs}) VALUES ({placeholders})",
                    list(zip(*values)),
                )
            conn.commit()


def _sqlite_column(arr):
    """Arrow column -> list of sqlite-bindable values, converted column-wise
    inside Arrow rather than per Python value:
    - dates -> ISO text "YYYY-MM-DD";
    - timestamps -> ISO text "YYYY-MM-DD HH:MM:SS[.ffffff]", the fraction
      dropped when it is all zeros (`datetime.isoformat(sep=" ")`'s form);
    - decimals -> their exact text (sqlite3 cannot bind Decimal);
    - everything else -> a plain to_pylist()."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_timestamp(t):
        if t.tz is None:
            # cast-to-string is ~40x faster than pc.strftime and yields
            # "YYYY-MM-DD HH:MM:SS[.ffffff]" with the unit's full fraction
            s = arr.cast(pa.string())
        else:
            # tz-aware: format the wall-clock time in its own tz (no
            # offset suffix — equivalent under the reader's UTC-session
            # timestamp cast; Arrow's %S carries the unit's fraction)
            s = pc.strftime(arr, format="%Y-%m-%d %H:%M:%S")
        # strip an ALL-zeros fraction (the pattern anchors the dot to the
        # zeros-until-end run, so ".450000" and ns fractions like
        # ".000000123" are left intact)
        return pc.replace_substring_regex(s, r"\.0+$", "").to_pylist()
    if pa.types.is_date(t) or pa.types.is_decimal(t):
        return arr.cast(pa.string()).to_pylist()
    return arr.to_pylist()


class XlsxWriter(DriverWriter):
    """Streaming XLSX (reference sources/writers.py:61-70,
    `constant_memory` mode) via the pure-stdlib OOXML codec
    (sources/xlsx_codec.py). The driver turns each Arrow record batch into
    one sheetData fragment (`rows_xml_fragment`, vectorized per column)
    and streams it through the zip entry, so driver memory stays bounded
    at one batch, like the reference's xlsxwriter constant_memory
    workbook.

    Fragments build on one driver thread, so wall time grows with rows:
    the trade for starting no Python worker and holding one batch in
    memory. Excel opens at most 1,048,576 rows per sheet, so xlsx is a
    contract format, not a scale path."""

    def _write_batches(self, columns: list[str], batches: Iterable) -> None:
        import pandas as pd
        import pyarrow as pa

        from . import xlsx_codec

        def to_pandas(batch):
            # a plain to_pandas() turns an int column holding a NULL into
            # float64, i.e. "7.0" cells; such columns convert to pandas'
            # nullable Int64 instead (the others stay numpy: faster)
            nullable_ints = {
                field.type
                for field, column in zip(batch.schema, batch.columns)
                if pa.types.is_integer(field.type) and column.null_count
            }
            return batch.to_pandas(
                types_mapper=lambda t: pd.Int64Dtype() if t in nullable_ints else None
            )

        xlsx_codec.write_xlsx_fragments(
            self.path,
            columns,
            (xlsx_codec.rows_xml_fragment(to_pandas(batch)) for batch in batches),
        )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Hive-style partitioned write — the 100 TB layout primitive. A scan
    with a predicate on `partition_cols` prunes to matching directories
    before any I/O (PartitionFilters in the plan), which is what makes
    date-ranged queries on a 100 TB table read gigabytes instead.
    Asserted in tests/test_plans.py::test_partitioned_layout_prunes."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


WRITER_MAP: dict[str, type[BaseWriter]] = {
    "csv": CsvWriter,
    "json": JsonWriter,
    "parquet": ParquetWriter,
    "orc": OrcWriter,
    "sqlite": SqliteWriter,
    "xlsx": XlsxWriter,
}
